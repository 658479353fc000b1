package graft.lang

import graft.kernel.UdException
import Ast._
import scala.collection.mutable

/** Runtime value model + tree-walking evaluator for the kernel tier.
  *
  * Mirrors the reference's Value enum and operator semantics
  * (ir.rs:276-295, 469-696) without porting the stack machine: the
  * evaluator IS the compiled kernel body, closed over by a Dataset.flatMap.
  * Strict same-type arithmetic (manual.md:118-121), truncating int
  * division, deep Eq, Str-lexicographic compares, truthiness coercion for
  * conditions (ir.rs:510-529).
  */
object Values {

  sealed trait Value extends Serializable
  case object VNone extends Value
  final case class VBool(b: Boolean) extends Value
  final case class VInt(i: Long) extends Value
  final case class VFloat(d: Double) extends Value
  final case class VStr(s: String) extends Value
  /** pair-of-floats placeholder value (Value::Point, ir.rs:359-362) */
  final case class VPoint(x: Double, y: Double) extends Value
  final case class VList(xs: Vector[Value]) extends Value
  /** fixed-length heterogeneous tuple (Value::Tuple, ir.rs:287) */
  final case class VTuple(xs: Vector[Value]) extends Value
  /** insertion-ordered string-keyed map (AList, ir.rs:268-269).
    * `absentOk` (second list: not part of equality/patterns) names the
    * DECLARED absent-optional fields of the record this map was decoded
    * from — the only keys Dot may read as none when missing; any other
    * missing key is a hard error, so a field-name typo that slips past
    * the static check (gradual TAny under `import lib.*`) still fails
    * loud instead of silently evaluating to none. */
  final case class VMap(entries: Vector[(String, Value)])(
      val absentOk: Set[String] = Set.empty) extends Value {
    lazy val index: Map[String, Value] = entries.toMap
  }
  /** params carry declared types: the front-end inserts a widening Coerce
    * at call boundaries (Int->Float per declared param; ir.rs:205), which
    * is how the reference examples pass Int inputs to Float functions. */
  final case class VLambda(params: Seq[(String, Ast.UdType)], body: Expr,
                           env: Env) extends Value

  /** Lexical scope chain (env.rs). Mutable frame map so recursive and
    * forward-referencing decls resolve (define-then-capture). Frames are
    * small java.util.HashMaps and the hot lookup is allocation-free —
    * this chain is entered per call per record inside the kernel flatMap. */
  final class Env(val vars: java.util.HashMap[String, Value],
                  val parent: Option[Env]) extends Serializable {
    @annotation.tailrec
    def lookupOrNull(n: String): Value = {
      val v = vars.get(n)
      if (v != null) v
      else parent match {
        case Some(p) => p.lookupOrNull(n)
        case None    => null
      }
    }
    def lookup(n: String): Option[Value] = Option(lookupOrNull(n))
    def define(n: String, v: Value): Unit = vars.put(n, v)
    def child(): Env = new Env(new java.util.HashMap(4), Some(this))
  }
  object Env {
    def root(): Env = new Env(new java.util.HashMap(8), None)
  }

  def err(m: String): Nothing = throw UdException(m)

  /** Does a value match a type exactly? The test of a `match` type
    * pattern, and the first choice of a union slot on egress
    * (`UdScript.unionSlot`): a sized int holds the value in its range, and
    * F32 takes only a float32-exact Float. */
  def matchesType(v: Value, t: UdType): Boolean = (v, t) match {
    case (VInt(_), TInt) | (VFloat(_), TFloat) | (VStr(_), TStr) |
        (VBool(_), TBool) | (VNone, TNone) |
        (VPoint(_, _), TPoint) => true
    case (VInt(i), n: TIntN)                => n.contains(i) // range test
    // precision test, the float twin of the TIntN range test
    case (VFloat(d), TFloat32)              => d.toFloat.toDouble == d
    case (VStr(s), TValue(lit))             => s == lit
    case (VList(_), TList(_))               => true
    case (VTuple(xs), TTuple(ts))           =>
      xs.size == ts.size &&
        xs.zip(ts).forall { case (x, t2) => matchesType(x, t2) }
    case (_, TAny)                          => true
    case (_, TUnion(ts))                    => ts.exists(matchesType(v, _))
    case _                                  => false
  }

  def truthy(v: Value): Boolean = v match {
    case VBool(b)  => b
    case VInt(i)   => i != 0
    case VFloat(d) => d != 0.0
    case VStr(s)   => s.nonEmpty
    case VList(xs) => xs.nonEmpty
    case VMap(es)  => es.nonEmpty
    case VNone     => false
    case _         => err("not a condition value")
  }

  /** Op-first dispatch: matching on a (op, l, r) tuple literal allocated
    * a Tuple3 per operation — this runs per AST node per record in the
    * kernel flatMap, so the dispatch is restructured allocation-free. */
  def binop(op: BinOp, l: Value, r: Value): Value = op match {
    case Add => (l, r) match {
      case (VInt(a), VInt(b))     => VInt(a + b)
      case (VFloat(a), VFloat(b)) => VFloat(a + b)
      case (VStr(a), VStr(b))     => VStr(a + b) // doc-intended concat
      case (VList(a), VList(b))   => VList(a ++ b)
      case _ => fail(op, l, r)
    }
    case Sub => (l, r) match {
      case (VInt(a), VInt(b))     => VInt(a - b)
      case (VFloat(a), VFloat(b)) => VFloat(a - b)
      case _ => fail(op, l, r)
    }
    case Mul => (l, r) match {
      case (VInt(a), VInt(b))     => VInt(a * b)
      case (VFloat(a), VFloat(b)) => VFloat(a * b)
      case _ => fail(op, l, r)
    }
    case Div => (l, r) match {
      case (VInt(a), VInt(b))     =>
        if (b == 0) err("div by zero") else VInt(a / b) // truncates (Rust /)
      case (VFloat(a), VFloat(b)) => VFloat(a / b)
      case _ => fail(op, l, r)
    }
    case Mod => (l, r) match {
      case (VInt(a), VInt(b))     =>
        if (b == 0) err("mod by zero") else VInt(a % b)
      case (VFloat(a), VFloat(b)) => VFloat(a % b)
      case _ => fail(op, l, r)
    }
    case Pow => (l, r) match {
      case (VInt(a), VInt(b))     =>
        VInt(math.pow(a.toDouble, b.toDouble).toLong) // exp as u32, ir.rs:592
      case (VFloat(a), VFloat(b)) => VFloat(math.pow(a, b))
      case _ => fail(op, l, r)
    }
    case Min => (l, r) match {
      case (VInt(a), VInt(b))     => VInt(math.min(a, b))
      case (VFloat(a), VFloat(b)) => VFloat(math.min(a, b))
      case _ => fail(op, l, r)
    }
    case Max => (l, r) match {
      case (VInt(a), VInt(b))     => VInt(math.max(a, b))
      case (VFloat(a), VFloat(b)) => VFloat(math.max(a, b))
      case _ => fail(op, l, r)
    }
    case And => (l, r) match {
      case (VBool(a), VBool(b)) => VBool(a && b)
      case (VInt(a), VInt(b))   => VInt(a & b)
      case _ => fail(op, l, r)
    }
    case Or => (l, r) match {
      case (VBool(a), VBool(b)) => VBool(a || b)
      case (VInt(a), VInt(b))   => VInt(a | b)
      case _ => fail(op, l, r)
    }
    case Xor => (l, r) match {
      case (VBool(a), VBool(b)) => VBool(a ^ b)
      case (VInt(a), VInt(b))   => VInt(a ^ b)
      case _ => fail(op, l, r)
    }
    case Shl => (l, r) match {
      case (VInt(a), VInt(b)) => VInt(a << b)
      case _ => fail(op, l, r)
    }
    case Shr => (l, r) match {
      case (VInt(a), VInt(b)) => VInt(a >> b)
      case _ => fail(op, l, r)
    }
    case Lt  => VBool(compare(l, r) < 0)
    case Gt  => VBool(compare(l, r) > 0)
    case Lte => VBool(compare(l, r) <= 0)
    case Gte => VBool(compare(l, r) >= 0)
    case Eq  => VBool(deepEq(l, r))
    case Neq => VBool(!deepEq(l, r))
    case _   => fail(op, l, r)
  }

  private def fail(op: BinOp, l: Value, r: Value): Nothing =
    err(s"type error: $op on ${l.getClass.getSimpleName}/${r.getClass.getSimpleName}")

  private def compare(l: Value, r: Value): Int = (l, r) match {
    case (VInt(a), VInt(b))     => java.lang.Long.compare(a, b)
    case (VFloat(a), VFloat(b)) => java.lang.Double.compare(a, b)
    case (VStr(a), VStr(b))     => a.compareTo(b)
    case _                      => err("type error: ordering")
  }

  /** deep structural equality; cross-type compares false (ir.rs:679-695) */
  def deepEq(l: Value, r: Value): Boolean = (l, r) match {
    case (VList(a), VList(b)) =>
      a.size == b.size && a.zip(b).forall { case (x, y) => deepEq(x, y) }
    case (VTuple(a), VTuple(b)) =>
      a.size == b.size && a.zip(b).forall { case (x, y) => deepEq(x, y) }
    case (VMap(a), VMap(b)) =>
      a.size == b.size && a.zip(b).forall {
        case ((k1, v1), (k2, v2)) => k1 == k2 && deepEq(v1, v2)
      }
    case _ => l == r
  }

  def unop(op: UnOp, v: Value): Value = (op, v) match {
    case (Not, VBool(b))  => VBool(!b)
    case (Not, VInt(i))   => VInt(~i)
    case (Neg, VInt(i))   => VInt(-i)
    case (Neg, VFloat(d)) => VFloat(-d)
    case (Abs, VInt(i))   => VInt(math.abs(i))
    case (Abs, VFloat(d)) => VFloat(math.abs(d))
    case _                => err(s"type error: $op")
  }

  def render(v: Value): String = v match {
    case VNone     => "none"
    case VBool(b)  => b.toString
    case VInt(i)   => i.toString
    case VFloat(d) => d.toString
    case VStr(s)   => s
    case VList(xs) => xs.map(render).mkString("[", ", ", "]")
    case VTuple(xs) => xs.map(render).mkString("(", ", ", ")")
    case VMap(es)  => es.map { case (k, x) => s"$k: ${render(x)}" }
      .mkString("{", ", ", "}")
    case VPoint(x, y) => s"($x, $y)"
    case _: VLambda => "<lambda>"
  }
}

/** The evaluator. One instance per script; `exec` runs the per-record body.
  * Emission goes through a capture-aware sink mirroring vm.rs:583-638. */
final class Interp(script: Ast.Script,
                   libraries: Map[String, Values.Value] = Map.empty)
    extends Serializable {
  import Values._
  import Ast._

  /** emit sink with suppose-capture stack; spliceSrc is the captured
    * output of the nearest enclosing suppose branch (for `...;`). */
  private final class Ctx(val emit: Value => Unit, val spliceSrc: Vector[Value])

  /** Instance methods of record types declared with `method` members,
    * keyed by method name (populated when TypeDecls execute). */
  private val methodRegistry = mutable.Map.empty[String, VLambda]

  /** Run init decls once → base env (driver side; result broadcast with the
    * closure). */
  lazy val initEnv: Env = {
    val env = Env.root()
    script.decls.foreach(d => execStmt(d, env,
      new Ctx(_ => err("out not allowed in init block"), Vector.empty)))
    env
  }

  def run(in: Value, sink: Value => Unit): Unit = {
    val env = initEnv.child()
    env.define("in", in)
    val ctx = new Ctx(sink, Vector.empty)
    script.body.foreach(s => execStmt(s, env, ctx))
  }

  private def execBlock(ss: Seq[Stmt], env: Env, ctx: Ctx): Unit = {
    val scope = env.child()
    ss.foreach(s => execStmt(s, scope, ctx))
  }

  private def execStmt(s: Stmt, env: Env, ctx: Ctx): Unit = s match {
    case OutStmt(e) =>
      eval(e, env, ctx) match {
        case VNone => () // `out proc(...)` quirk (examples/count.us)
        case v     => ctx.emit(v)
      }
    case LetStmt(n, e)  => env.define(n, eval(e, env, ctx))
    case FuncStmt(n, ps, _, body, _) =>
      env.define(n, VLambda(ps, body, env))
    case ForStmt(v, coll, body) =>
      eval(coll, env, ctx) match {
        case VList(xs) => xs.foreach { x =>
          val scope = env.child(); scope.define(v, x)
          body.foreach(st => execStmt(st, scope, ctx))
        }
        case other => err(s"for over non-list: ${render(other)}")
      }
    case ForKvStmt(k, v, coll, body) =>
      eval(coll, env, ctx) match {
        case VMap(es) => es.foreach { case (key, value) =>
          val scope = env.child()
          scope.define(k, VStr(key)); scope.define(v, value)
          body.foreach(st => execStmt(st, scope, ctx))
        }
        case other => err(s"for (k,v) over non-map: ${render(other)}")
      }
    case IfStmt(cases, otherwise) =>
      cases.find { case (c, _) => truthy(eval(c, env, ctx)) } match {
        case Some((_, blk)) => execBlock(blk, env, ctx)
        case None           => execBlock(otherwise, env, ctx)
      }
    case SupposeStmt(delegate, branch, leaf) =>
      // capture the delegate's emissions (vm.rs:602-638)
      val buf = Vector.newBuilder[Value]
      eval(delegate, env, new Ctx(buf += _, ctx.spliceSrc))
      val captured = buf.result()
      if (captured.nonEmpty)
        execBlock(branch, env, new Ctx(ctx.emit, captured))
      else execBlock(leaf, env, ctx)
    case SpliceStmt => ctx.spliceSrc.foreach(ctx.emit)
    case ThrowStmt(e) => throw UdException(render(eval(e, env, ctx)))
    case DebugStmt(e) =>
      System.err.println(s"[ud-debug] ${render(eval(e, env, ctx))}")
    case ExprStmt(e) => eval(e, env, ctx); ()
    case TypeDecl(name, TRecord(_, members), _) if members.nonEmpty =>
      // vtable realization (ir.rs:339-345): statics/consts hang off the
      // TYPE name as a namespace value; instance methods register for
      // receiver dispatch with `self` as the implicit first binding.
      val ns = members.collect {
        case RecMember(n, MConst, _, _, body) =>
          n -> eval(body, env, ctx)
        case RecMember(n, MStatic, ps, _, body) =>
          n -> VLambda(ps, body, env)
      }
      env.define(name, VMap(ns.toVector)())
      members.foreach {
        case RecMember(n, MMethod, ps, _, body) =>
          methodRegistry(n) = VLambda(("self", TAny) +: ps, body, env)
        case _ => ()
      }
    case TypeDecl(_, _, _) => ()
    case ImportStmt(lib, sel) =>
      val module = libraries.getOrElse(lib,
        err(s"unknown library: $lib (not in registry)"))
      def bind(m: Value, s: ImportSel): Unit = (m, s) match {
        case (_, SelItself) => env.define(lib, m)
        case (mm: VMap, SelAll) =>
          mm.entries.foreach { case (k, v) => env.define(k, v) }
        case (mm: VMap, SelItem(n, alias)) =>
          env.define(alias.getOrElse(n),
            mm.index.getOrElse(n, err(s"library $lib has no member $n")))
        case (mm: VMap, SelNested(item, inner)) =>
          mm.index.get(item) match {
            case Some(sub: VMap) => bindIn(sub, inner)
            case Some(_) => err(s"$item is not a module")
            case None    => err(s"library $lib has no member $item")
          }
        case (mm: VMap, SelGroup(ss)) => ss.foreach(bind(mm, _))
        case _ => err(s"cannot select from non-module library $lib")
      }
      def bindIn(m: VMap, s: ImportSel): Unit = s match {
        case SelItem(n, alias) => env.define(alias.getOrElse(n),
          m.index.getOrElse(n, err(s"no member $n")))
        case SelAll => m.entries.foreach { case (k, v) => env.define(k, v) }
        case SelGroup(ss) => ss.foreach(bindIn(m, _))
        case SelNested(item, inner) => m.index.get(item) match {
          case Some(sub: VMap) => bindIn(sub, inner)
          case _               => err(s"no nested module $item")
        }
        case SelItself => err("`_` only applies at the top of the path")
      }
      sel match {
        case None    => env.define(lib, module)
        case Some(s) => bind(module, s)
      }
  }

  private def eval(e: Expr, env: Env, ctx: Ctx): Value = e match {
    case ThrowE(p)    => throw UdException(render(eval(p, env, ctx)))
    case LitInt(v)    => VInt(v)
    case LitFloat(v)  => VFloat(v)
    case LitStr(v)    => VStr(v)
    case LitBool(v)   => VBool(v)
    case LitNone      => VNone
    case In =>
      val v = env.lookupOrNull("in")
      if (v == null) err("no input bound") else v
    case Id(n) =>
      val v = env.lookupOrNull(n)
      if (v == null) err(s"unbound: $n") else v
    case Bin(op, l, r) =>
      op match {
        case And => // short-circuit on bools
          val lv = eval(l, env, ctx)
          lv match {
            case VBool(false) => VBool(false)
            case VBool(true)  => eval(r, env, ctx)
            case _            => binop(And, lv, eval(r, env, ctx))
          }
        case Or =>
          val lv = eval(l, env, ctx)
          lv match {
            case VBool(true)  => VBool(true)
            case VBool(false) => eval(r, env, ctx)
            case _            => binop(Or, lv, eval(r, env, ctx))
          }
        case _ => binop(op, eval(l, env, ctx), eval(r, env, ctx))
      }
    case Un(op, x) => unop(op, eval(x, env, ctx))
    case Cond(cases, otherwise) =>
      cases.find { case (c, _) => truthy(eval(c, env, ctx)) } match {
        case Some((_, t)) => eval(t, env, ctx)
        case None         => eval(otherwise, env, ctx)
      }
    case BlockExpr(ss, result) =>
      val scope = env.child()
      ss.foreach(s => execStmt(s, scope, ctx))
      eval(result, scope, ctx)
    case Lambda(ps, _, body) => VLambda(ps, body, env)
    case Call(Dot(x, "join"), args) => // list.join(sep) (README.md:352)
      (eval(x, env, ctx), args.map(a => eval(a, env, ctx))) match {
        case (VList(xs), Seq(VStr(sep))) =>
          VStr(xs.map(render).mkString(sep))
        case (rcv, argv) => err(
          s"join expects a list receiver and a Str separator, got " +
            s"${render(rcv)} / ${argv.map(render).mkString(",")}")
      }
    case Call(Id(fname), args) if builtins.contains(fname) &&
        env.lookup(fname).isEmpty =>
      builtins(fname)(evalArgs(args, env, ctx))
    case Call(Dot(x, m), args) if isMethodSugar(x, m, env) =>
      // method-call sugar (README.md:407-414): x.f(a) = f(x, a)
      val recv = eval(x, env, ctx)
      val argv = recv +: evalArgs(args, env, ctx)
      callValue(env.lookup(m).get, argv, e, env, ctx)
    case Call(Dot(x, m), args) if methodRegistry.contains(m) &&
        env.lookup(m).isEmpty =>
      // record `method` member: dispatch on the receiver, bind as `self`
      eval(x, env, ctx) match {
        case recv: VMap if !recv.index.contains(m) =>
          callValue(methodRegistry(m),
            recv +: evalArgs(args, env, ctx), e, env, ctx)
        case recv: VMap => // a same-named field wins over the method
          callValue(recv.index(m), evalArgs(args, env, ctx), e, env, ctx)
        case other => err(s"method call on ${render(other)}")
      }
    case Call(f, args) =>
      val argv = evalArgs(args, env, ctx)
      callValue(eval(f, env, ctx), argv, e, env, ctx)
    case Spread(_) => err("spread outside call arguments")
    case Dot(x, field) =>
      eval(x, env, ctx) match {
        // absent optional fields read as none (README.md:220-228); any
        // OTHER missing key is an error — the typechecker rejects
        // statically-unknown field names, and this keeps the dynamic
        // escape hatches (TMap dots, glob-import TAny) equally honest
        case m: VMap => m.index.getOrElse(field,
          if (m.absentOk(field)) VNone else err(s"no field $field"))
        case VPoint(x, _) if field == "x" => VFloat(x)
        case VPoint(_, y) if field == "y" => VFloat(y)
        case VStr(s) if field == "length" => VInt(s.length.toLong)
        case VList(xs) if field == "length" => VInt(xs.size.toLong)
        case other => err(s"dot on ${render(other)}")
      }
    case Has(x, field) =>
      eval(x, env, ctx) match {
        case m: VMap => VBool(m.index.contains(field))
        case _       => VBool(false)
      }
    case Index(x, i) =>
      (eval(x, env, ctx), eval(i, env, ctx)) match {
        case (VList(xs), VInt(n)) => // 0-based (manual.md:104)
          if (n >= 0 && n < xs.size) xs(n.toInt) else err(s"index $n out of bounds")
        case (VTuple(xs), VInt(n)) =>
          if (n >= 0 && n < xs.size) xs(n.toInt) else err(s"tuple index $n out of bounds")
        case (m: VMap, VStr(k)) => m.index.getOrElse(k, err(s"no key $k"))
        case _ => err("bad index")
      }
    case ListExpr(es) => VList(es.map(x => eval(x, env, ctx)).toVector)
    case TupleExpr(es) => VTuple(es.map(x => eval(x, env, ctx)).toVector)
    case MapExpr(entries) =>
      VMap(entries.map { case (k, v) => (k, eval(v, env, ctx)) }.toVector)()
    case Comprehension(coll, fn) =>
      (eval(coll, env, ctx), eval(fn, env, ctx)) match {
        case (VList(xs), f) =>
          VList(xs.map(x => callValue(f, Seq(x), e, env, ctx)))
        case (other, _) => err(s"comprehension over ${render(other)}")
      }
    case Cast(x, t) => coerceCast(eval(x, env, ctx), t)
    case Placeholder => err("unexpected $")
    case Match(scrut, cases, default) =>
      val sv = eval(scrut, env, ctx)
      cases.collectFirst {
        case (PLitStr(p), body) if deepEq(sv, VStr(p)) => (None, body)
        case (PLitInt(p), body) if deepEq(sv, VInt(p)) => (None, body)
        case (PType(binder, t), body) if matchesType(sv, t) =>
          (Some(binder -> sv), body)
        case (PSome(binder), body) if sv != VNone =>
          (Some(binder -> sv), body)
        case (PNone, body) if sv == VNone => (None, body)
      } match {
        case Some((bind, body)) =>
          val scope = env.child()
          bind.foreach { case (n, v) => scope.define(n, v) }
          eval(body, scope, ctx)
        case None => default match {
          case Some(d) => eval(d, env, ctx)
          case None    => err(s"match failed on ${render(sv)}")
        }
      }
  }

  /** evaluate call args, splicing `...list` spreads (F7). The common
    * spread-free call avoids the flatMap/Seq-wrapping allocations. */
  private def evalArgs(args: Seq[Expr], env: Env, ctx: Ctx): Seq[Value] =
    if (args.exists(_.isInstanceOf[Spread]))
      args.flatMap {
        case Spread(x) => eval(x, env, ctx) match {
          case VList(xs) => xs
          case other     => err(s"cannot spread ${render(other)}")
        }
        case a => Seq(eval(a, env, ctx))
      }
    else args.map(eval(_, env, ctx))

  /** x.f(...) is method sugar iff f is a function in scope and the
    * receiver is not a module/map that owns an f member. */
  private def isMethodSugar(x: Expr, m: String, env: Env): Boolean =
    m != "join" && env.lookup(m).exists(_.isInstanceOf[VLambda])

  private def callValue(f: Value, argv: Seq[Value], site: Expr, env: Env,
                        ctx: Ctx): Value = f match {
    case VLambda(params, body, closure) =>
      val isRest = params.nonEmpty && params.last._1.startsWith("...")
      val frame = closure.child()
      if (isRest) {
        val fixed = params.init
        if (argv.size < fixed.size)
          err(s"arity: expected at least ${fixed.size}, got ${argv.size}")
        fixed.zip(argv).foreach { case ((p, declared), v) =>
          frame.define(p, coerceDeclared(v, declared))
        }
        frame.define(params.last._1.stripPrefix("..."),
          VList(argv.drop(fixed.size).toVector))
      } else {
        if (params.size != argv.size)
          err(s"arity: expected ${params.size}, got ${argv.size}")
        val pit = params.iterator
        val ait = argv.iterator
        while (pit.hasNext) {
          val (p, declared) = pit.next()
          frame.define(p, coerceDeclared(ait.next(), declared))
        }
      }
      eval(body, frame, ctx)
    case other => err(s"not callable: ${render(other)}")
  }

  /** explicit `as` cast (Coerce semantics, ir.rs:510-529) */
  private def coerceCast(v: Value, t: UdType): Value = (v, t) match {
    case (VInt(i), n: TIntN) => // range-checked narrowing (manual.md:85-97)
      if (n.contains(i)) VInt(i)
      else err(s"range: $i not a ${if (n.signed) "I" else "U"}${n.bits}")
    case (VInt(i), TFloat)  => VFloat(i.toDouble)
    // F32 narrowing is real: round through float32 (manual.md:121)
    case (VFloat(d), TFloat32) => VFloat(d.toFloat.toDouble)
    case (VInt(i), TFloat32)   => VFloat(i.toFloat.toDouble)
    case (VFloat(d), TInt)  => VInt(d.toLong) // trunc toward zero
    case (VBool(b), TInt)   => VInt(if (b) 1L else 0L)
    case (VInt(i), TBool)   => VBool(i != 0)
    case (VFloat(_), TBool) | (VStr(_), TBool) | (VList(_), TBool) =>
      VBool(truthy(v))
    case (x, TStr)          => VStr(render(x))
    case (x, _)             => x // identity / same-type
  }

  /** widening coercion at declared boundaries (Coerce, ir.rs:205/510-529);
    * sized-int params enforce their declared range */
  private def coerceDeclared(v: Value, t: UdType): Value = (v, t) match {
    case (VInt(i), TFloat) => VFloat(i.toDouble)
    case (VFloat(d), TFloat32) => VFloat(d.toFloat.toDouble)
    case (VInt(i), TFloat32)   => VFloat(i.toFloat.toDouble)
    case (VInt(i), n: TIntN) =>
      if (n.contains(i)) v
      else err(s"range: $i not a ${if (n.signed) "I" else "U"}${n.bits}")
    case _                 => v
  }

  private val builtins: Map[String, Seq[Value] => Value] = {
    def f1(g: Double => Double): Seq[Value] => Value = {
      case Seq(VFloat(d)) => VFloat(g(d))
      case Seq(VInt(i))   => VFloat(g(i.toDouble))
      case _              => err("expected one numeric arg")
    }
    def num(v: Value): Double = v match {
      case VFloat(d) => d; case VInt(i) => i.toDouble
      case other => err(s"expected a number, got ${render(other)}")
    }
    Map("sqrt" -> f1(math.sqrt), "cos" -> f1(math.cos),
      "sin" -> f1(math.sin), "floor" -> f1(math.floor),
      "ceil" -> f1(math.ceil),
      // Point constructor (ast.rs:431 point builder; no literal syntax
      // in the reference grammar)
      "point" -> { case Seq(a, b) => VPoint(num(a), num(b))
                   case _ => err("point expects (Float, Float)") },
      // map introspection (html-library attr iteration)
      "keys" -> { case Seq(m: VMap) => VList(m.entries.map(e => VStr(e._1)))
                  case _ => err("keys expects a map") },
      // str lib: literal substring replacement
      "replace" -> { case Seq(VStr(s), VStr(from), VStr(to)) =>
                       VStr(s.replace(from, to))
                     case _ => err("replace expects (Str, Str, Str)") })
  }
}
