package graft.lang

import Ast._
import scala.jdk.CollectionConverters._

/** Static typechecker — full, in-pipeline (the reference wrote one but
  * never wired it in: typechecker.rs is invoked only by its own tests).
  * Structural subtyping, union narrowing on match, strict arithmetic (no
  * implicit Int/Float mix, manual.md:118-121), out-type checking against
  * the declared output (NotImplemented in the reference,
  * typechecker.rs:349-351). Collects all errors rather than failing fast.
  */
object Typechecker {

  final case class TypeError(msg: String)

  /** The type `infer` computed for each expression node, keyed by node
    * identity: equal nodes in different scopes can have different types
    * (`x + y` over Str params in one function, Int params in another). */
  final class Types private[Typechecker] (
      m: java.util.IdentityHashMap[Expr, UdType]) {
    /** TAny for a node the checker never reached. */
    def apply(e: Expr): UdType = { val t = m.get(e); if (t == null) TAny else t }
    def nodes: Iterator[Expr] = m.keySet.iterator.asScala
  }

  final case class Checked(errors: Seq[TypeError], types: Types)

  /** Literal string types decay to Str, sized ints to Int, for operator
    * purposes (ranges are runtime boundaries, not operator types). */
  def decay(t: UdType): UdType = t match {
    case TValue(_)   => TStr
    case TIntN(_, _) => TInt
    case other       => other
  }

  private final class TEnv(var vars: Map[String, UdType],
                           val parent: Option[TEnv]) {
    def lookup(n: String): Option[UdType] =
      vars.get(n).orElse(parent.flatMap(_.lookup(n)))
    /** The innermost frame in which n is bound — lets the effect lookup
      * resolve against the SAME binding as the name itself, so a local
      * let/param shadowing a throwing function name never picks up the
      * outer function's declared effect. */
    def frameOf(n: String): Option[TEnv] =
      if (vars.contains(n)) Some(this) else parent.flatMap(_.frameOf(n))
    def define(n: String, t: UdType): Unit = vars += (n -> t)
    def child(): TEnv = new TEnv(Map.empty, Some(this))
  }

  def check(script: Script): Seq[TypeError] = infer(script).errors

  /** Check a script, keeping the type of every expression it checked. */
  def infer(script: Script): Checked = {
    val errs = Seq.newBuilder[TypeError]
    val types = new java.util.IdentityHashMap[Expr, UdType]()
    def error(m: String): UdType = { errs += TypeError(m); TAny }

    // name -> (type params, body); non-generic decls have no params
    var typeDefs: Map[String, (Seq[String], UdType)] = Map.empty

    def substitute(t: UdType, env: Map[String, UdType]): UdType = t match {
      case TRef(n) if env.contains(n) => env(n)
      case TList(x)   => TList(substitute(x, env))
      case TMap(x)    => TMap(substitute(x, env))
      case TOption(x) => TOption(substitute(x, env))
      case TTuple(xs) => TTuple(xs.map(substitute(_, env)))
      case TUnion(xs) => TUnion(xs.map(substitute(_, env)))
      case TRecord(fs, ms) =>
        TRecord(fs.map(f => f.copy(t = substitute(f.t, env))), ms)
      case TLambda(as, r) =>
        TLambda(as.map(substitute(_, env)), substitute(r, env))
      case TApply(n, as) => TApply(n, as.map(substitute(_, env)))
      case other => other
    }

    // depth guard: a self-referential generic (`type Loop<T>: Loop<T>`)
    // would otherwise recurse forever through the TApply substitution
    var resolveDepth = 0
    def resolve(t: UdType): UdType = {
      if (resolveDepth > 64) {
        errs += TypeError(s"recursive type: $t"); return TAny
      }
      resolveDepth += 1
      try resolve0(t) finally resolveDepth -= 1
    }
    def resolve0(t: UdType): UdType = t match {
      case TRef(n) => typeDefs.get(n) match {
        case Some((Nil, body)) => body
        case Some((ps, _)) =>
          errs += TypeError(s"type $n expects ${ps.size} parameter(s)"); TAny
        case None => errs += TypeError(s"unknown type: $n"); TAny
      }
      case TApply(n, args) => typeDefs.get(n) match {
        case Some((ps, body)) if ps.size == args.size =>
          resolve(substitute(body, ps.zip(args).toMap))
        case Some((ps, _)) =>
          errs += TypeError(
            s"type $n expects ${ps.size} parameter(s), got ${args.size}")
          TAny
        case None => errs += TypeError(s"unknown type: $n"); TAny
      }
      case TList(x)   => TList(resolve(x))
      case TMap(x)    => TMap(resolve(x))
      case TOption(x) => TOption(resolve(x))
      case TTuple(xs) => TTuple(xs.map(resolve))
      case TUnion(xs) => TUnion(xs.map(resolve))
      case TRecord(fs, ms) =>
        TRecord(fs.map(f => f.copy(t = resolve(f.t))), ms)
      case TLambda(as, r) => TLambda(as.map(resolve), resolve(r))
      // statically F32 ≡ Float (reference collapses the tower,
      // ast.rs:174-175); the float32 rounding is a RUNTIME boundary
      // behavior (coerceCast/coerceDeclared), like TIntN range checks
      case TFloat32 => TFloat
      case other => other
    }

    /** structural subtype (manual.md:110-115) */
    def subtype(a: UdType, b: UdType): Boolean = (a, b) match {
      case (x, y) if x == y       => true
      case (_, TAny)              => true
      case (TAny, _)              => true // gradual: $-lambdas defer to runtime
      case (TValue(_), TStr)      => true
      // sized ints interchange with Int statically; the range is enforced
      // at the runtime boundary (coerceDeclared / anyToValue)
      case (TIntN(_, _), TInt)    => true
      case (TInt, TIntN(_, _))    => true
      case (TIntN(_, _), TIntN(_, _)) => true
      case (TNone, TOption(_))    => true
      // NO TOption(x) <: x — an un-narrowed Option must go through match
      // (README.md:235-239); Option is covariant only. The two-sided
      // case must match FIRST or (x?, y?) degrades to (x?, y) = false.
      case (TOption(x), TOption(y)) => subtype(x, y)
      case (x, TOption(y))        => subtype(x, y)
      case (TList(x), TList(y))   => subtype(x, y)
      case (TMap(x), TMap(y))     => subtype(x, y)
      case (TTuple(xs), TTuple(ys)) =>
        xs.size == ys.size && xs.zip(ys).forall { case (x, y) => subtype(x, y) }
      // union source first: each branch must fit the target, which may
      // itself be a union (`Float | Str` <: `Float | Str` branch-wise)
      case (TUnion(xs), y)        => xs.forall(subtype(_, y))
      case (x, TUnion(ys))        => ys.exists(subtype(x, _))
      case (TRecord(xs, _), TRecord(ys, _)) => // width+depth structural
        // an absent-optional target field may be OMITTED from the source
        // literal — that is what absence means on the way out
        ys.forall(yf => xs.exists(xf =>
          xf.name == yf.name && subtype(xf.t, yf.t)) || yf.absentOptional)
      case (TRecord(xs, _), TMap(v)) => // record literal where a map is
        xs.forall(xf => subtype(xf.t, v)) // declared (MapExpr context-conv)
      case (TLambda(xa, xr), TLambda(ya, yr)) =>
        xa.size == ya.size &&
          ya.zip(xa).forall { case (y, x) => subtype(y, x) } &&
          subtype(xr, yr)
      case _ => false
    }

    def lub(a: UdType, b: UdType): UdType =
      if (subtype(a, b)) b
      else if (subtype(b, a)) a
      else (a, b) match {
        case (TUnion(xs), TUnion(ys)) => TUnion((xs ++ ys).distinct)
        case (TUnion(xs), y)          => TUnion((xs :+ y).distinct)
        case (x, TUnion(ys))          => TUnion((x +: ys).distinct)
        case _                        => TUnion(Seq(a, b))
      }

    val numeric = Set[UdType](TInt, TFloat)

    /** `-> R ! E` conformance: inside an effect-annotated function every
      * throw payload must fit the declared E. TAny (no annotation, or a
      * shadowing nested scope) disables the check. */
    def checkLambda(ps: Seq[(String, UdType)], ret: UdType, body: Expr,
                    env: TEnv, inheritEffect: Boolean): UdType = {
      val scope = env.child()
      if (!inheritEffect) scope.define("__effect__", TAny)
      ps.foreach { case (n, t) => scope.define(n, resolve(t)) }
      val bt = checkExpr(body, scope)
      val rt = resolve(ret)
      if (rt != TNone && rt != TAny && !subtype(bt, rt))
        error(s"lambda body $bt not <: declared $rt")
      TLambda(ps.map(p => resolve(p._2)), if (rt == TNone) bt else rt)
    }

    def checkThrowPayload(t: UdType, env: TEnv): Unit =
      env.lookup("__effect__").foreach { eff =>
        if (eff != TAny && t != TAny && !subtype(t, eff))
          error(s"throw payload $t not <: declared effect $eff")
      }

    def checkExpr(e: Expr, env: TEnv): UdType = {
      val t = checkExpr0(e, env)
      types.put(e, t)
      t
    }

    def checkExpr0(e: Expr, env: TEnv): UdType = e match {
      case LitInt(_)   => TInt
      case LitFloat(_) => TFloat
      case LitStr(s)   => TValue(s) // literal carries its value type
      case LitBool(_)  => TBool
      case LitNone     => TNone
      case In          => env.lookup("in").getOrElse(error("no input type"))
      case Id(n) => env.lookup(n).getOrElse(
        // a glob import in scope makes unknown names gradually typed
        if (env.lookup("__glob_import__").isDefined) TAny
        else error(s"unbound identifier: $n"))
      case Bin(op, l, r) =>
        val lt = decay(checkExpr(l, env)); val rt = decay(checkExpr(r, env))
        if (lt == TAny || rt == TAny) op match {
          case Lt | Gt | Lte | Gte | Eq | Neq => TBool
          case _ => TAny // dynamic operand: checked at runtime
        } else op match {
          case Add | Sub | Mul | Div | Mod | Pow | Min | Max =>
            if (lt == TInt && rt == TInt) TInt
            else if (lt == TFloat && rt == TFloat) TFloat
            else if (op == Add && lt == TStr && rt == TStr) TStr
            else if (op == Add && (lt, rt).productIterator.forall(_.isInstanceOf[TList]))
              lub(lt, rt)
            else if (numeric(lt) && numeric(rt))
              error(s"no implicit Int/Float mix in $op (explicit cast required)")
            else error(s"type error: $op on ${lt} and ${rt}")
          case And | Or | Xor =>
            if (lt == TBool && rt == TBool) TBool
            else if (lt == TInt && rt == TInt) TInt
            else error(s"type error: $op needs Bool,Bool or Int,Int")
          case Shl | Shr =>
            if (lt == TInt && rt == TInt) TInt
            else error(s"type error: $op needs Int,Int")
          case Lt | Gt | Lte | Gte =>
            if ((lt == rt && (numeric(lt) || lt == TStr))) TBool
            else error(s"type error: ordering on $lt vs $rt")
          case Eq | Neq => TBool
        }
      case Un(op, x) =>
        val t = checkExpr(x, env)
        op match {
          case Not => if (t == TBool || t == TInt) t
            else error("not: Bool or Int")
          case Neg | Abs => if (numeric(t)) t else error(s"$op: numeric")
        }
      case ThrowE(p) =>
        checkThrowPayload(checkExpr(p, env), env)
        TAny // diverges: the surrounding branches pick the type
      case Cond(cases, otherwise) =>
        cases.foreach { case (c, _) =>
          val ct = checkExpr(c, env)
          if (!Seq[UdType](TBool, TInt, TFloat, TStr).contains(ct) &&
            !ct.isInstanceOf[TValue])
            error(s"condition not coercible to Bool: $ct")
        }
        val arms = cases.map(c => checkExpr(c._2, env)) :+
          checkExpr(otherwise, env)
        arms.reduce(lub)
      case BlockExpr(ss, result) =>
        val scope = env.child()
        ss.foreach(s => checkStmt(s, scope))
        checkExpr(result, scope)
      case Lambda(ps, ret, body) =>
        // a standalone lambda may escape the enclosing annotated
        // function's dynamic extent — its throws are NOT checked against
        // the outer effect; strictly-inline positions (comprehensions)
        // call checkLambda with inheritEffect = true instead
        checkLambda(ps, ret, body, env, inheritEffect = false)
      case Call(Dot(x, "join"), args) => // list.join(sep) method sugar
        val xt = checkExpr(x, env)
        args.foreach(a => checkExpr(a, env))
        xt match {
          case TList(_) | TAny => TStr
          case other           => error(s"join on $other")
        }
      case Call(Dot(x, m), args) if env.lookup(m)
          .exists(_.isInstanceOf[TLambda]) =>
        // method-call sugar (README.md:407-414): x.f(a) checks as f(x, a)
        checkExpr(Call(Id(m), x +: args), env)
      case Call(f, args) if args.exists(_.isInstanceOf[Spread]) =>
        // spread call (F7): arity unknowable statically; check pieces only
        args.foreach {
          case Spread(x) => checkExpr(x, env) match {
            case TList(_) | TAny => ()
            case other           => error(s"cannot spread $other")
          }
          case a => checkExpr(a, env)
        }
        checkExpr(f, env) match {
          case TLambda(_, ret) => ret
          case _               => TAny
        }
      case Call(f, args) =>
        // effect propagation: calling `g() -> R ! Eg` can throw Eg, so
        // inside a function declared `! Ef` we require Eg <: Ef (outside
        // any annotation the throw stays unchecked — DLQ at runtime)
        // the effect entry lives in the FuncDecl's own frame; consult it
        // only when the Id resolves to that frame (a shadowing let/param
        // binds in a nearer frame and carries no effect). Aliasing
        // (`let g = f; g()`) under-approximates to unchecked — the DLQ
        // catches it at runtime, same as calls outside any annotation.
        f match {
          case Id(n) => env.frameOf(n)
            .flatMap(fr => fr.vars.get(s"__throws__$n"))
            .foreach(eg => checkThrowPayload(eg, env))
          case _ => ()
        }
        val ft = checkExpr(f, env)
        val ats = args.map(a => checkExpr(a, env))
        ft match {
          case TLambda(params, ret) =>
            if (params.size != ats.size)
              error(s"arity: expected ${params.size}, got ${ats.size}")
            else {
              params.zip(ats).zipWithIndex.foreach { case ((p, a), i) =>
                if (!subtype(a, p)) error(s"arg ${i + 1}: $a not <: $p")
              }
              ret
            }
          case TAny => TAny
          case other => error(s"not callable: $other")
        }
      case Dot(x, field) =>
        checkExpr(x, env) match {
          case TRecord(fs, _) => fs.find(_.name == field)
            .map(f => if (f.absentOptional) TOption(f.t) else f.t)
            .getOrElse {
              // a `method` member of some declared record type: dispatch
              // is runtime (vtable), so the access is gradually typed
              if (typeDefs.values.exists {
                case (_, TRecord(_, ms)) =>
                  ms.exists(m => m.name == field && m.kind == MMethod)
                case _ => false
              }) TAny
              else error(s"no field $field")
            }
          case TMap(v)            => v
          case TPoint if field == "x" || field == "y" => TFloat
          case TStr | TList(_) if field == "length" => TInt
          case TValue(_) if field == "length"       => TInt
          case TAny               => TAny
          case other              => error(s"dot on $other")
        }
      case Has(x, _) => checkExpr(x, env); TBool
      case Index(x, i) =>
        val xt = checkExpr(x, env); val it = checkExpr(i, env)
        xt match {
          case TList(t)  =>
            if (it != TInt) error("list index must be Int") else t
          case TMap(v)   => v
          case TRecord(fs, _) if fs.nonEmpty => // map literal indexed by key
            fs.map(_.t).reduce(lub)
          case TTuple(ts) => i match {
            case LitInt(n) if n >= 0 && n < ts.size => ts(n.toInt)
            case _ => error("tuple index must be a literal in range")
          }
          case TAny => TAny
          case other => error(s"index on $other")
        }
      case ListExpr(es) =>
        if (es.isEmpty) TList(TAny)
        else TList(es.map(x => checkExpr(x, env)).reduce(lub))
      case TupleExpr(es) =>
        // literal string element types decay to Str in a tuple context
        TTuple(es.map(x => checkExpr(x, env) match {
          case TValue(_) => TStr
          case t         => t
        }))
      case MapExpr(entries) =>
        // MapExpr context-converts to record (ast.rs:192-194)
        TRecord(entries.map { case (k, v) =>
          TField(k, checkExpr(v, env), absentOptional = false)
        })
      case Comprehension(coll, fn) =>
        val ct = checkExpr(coll, env)
        // the mapping lambda runs strictly inside the enclosing dynamic
        // extent, so its throws DO check against a declared `! E`
        val ft = fn match {
          case Lambda(ps, ret, body) =>
            checkLambda(ps, ret, body, env, inheritEffect = true)
          case other => checkExpr(other, env)
        }
        (ct, ft) match {
          case (TList(et), TLambda(Seq(at), rt)) =>
            if (!subtype(et, at) && at != TAny)
              error(s"comprehension element $et not <: $at")
            TList(rt)
          case (TList(_), TAny) => TList(TAny)
          case (other, _) => error(s"comprehension over non-list: $other")
        }
      case Cast(e2, t) =>
        checkExpr(e2, env); resolve(t) // Coerce: checked at runtime
      case Placeholder => error("unexpected $ outside partial application")
      case Spread(_)   => error("spread outside call arguments")
      case Match(scrut, cases, default) =>
        val st = checkExpr(scrut, env)
        val arms = cases.map { case (p, body) =>
          val scope = env.child()
          p match {
            case PType(binder, t) => scope.define(binder, resolve(t)) // narrow
            case PSome(binder) => // narrow Option(t) -> t
              scope.define(binder, st match {
                case TOption(t) => t
                case other      => other
              })
            case _ => ()
          }
          checkExpr(body, scope)
        } ++ default.map(d => checkExpr(d, env)).toSeq
        if (cases.isEmpty && default.isEmpty) error("empty match")
        else arms.reduce(lub)
    }

    def checkStmt(s: Stmt, env: TEnv): Unit = s match {
      case OutStmt(e) =>
        val t = checkExpr(e, env)
        val out = env.lookup("__output__").getOrElse(TAny)
        // `out proc()` quirk: None-valued out emits nothing
        if (t != TNone && t != TAny && !subtype(t, out))
          error(s"out value $t not <: declared output $out")
      case LetStmt(n, e)  => env.define(n, checkExpr(e, env))
      case FuncStmt(n, ps, ret, body, eff) =>
        // variadic (rest-param) functions are gradually typed: the static
        // arity check cannot apply, so the name binds as TAny
        val declared =
          if (ps.exists(_._1.startsWith("..."))) TAny
          else TLambda(ps.map(p => resolve(p._2)), resolve(ret))
        env.define(n, declared) // pre-bind for recursion
        // record the declared effect so CALLS to n inside another
        // annotated function propagate (callee E must fit caller E)
        eff.foreach(e => env.define(s"__throws__$n", resolve(e)))
        val scope = env.child()
        // `-> R ! E` (README.md:337-342): the declared exception type is
        // in scope for the body — every `throw` payload checks against it.
        // An UNannotated nested func shadows any outer effect: its throws
        // surface at ITS call sites, not the annotated caller's body.
        scope.define("__effect__", eff.map(resolve).getOrElse(TAny))
        ps.foreach { case (pn, pt) =>
          if (pn.startsWith("..."))
            scope.define(pn.stripPrefix("..."), TList(resolve(pt)))
          else scope.define(pn, resolve(pt))
        }
        val bt = checkExpr(body, scope)
        val rt = resolve(ret)
        if (rt != TNone && rt != TAny && !subtype(bt, rt))
          error(s"func $n body $bt not <: declared $rt")
      case ForStmt(v, coll, body) =>
        checkExpr(coll, env) match {
          case TList(t) =>
            val scope = env.child(); scope.define(v, t)
            body.foreach(st => checkStmt(st, scope))
          case TAny => body.foreach(st => checkStmt(st, env.child()))
          case other => error(s"for over non-list: $other")
        }
      case ForKvStmt(k, v, coll, body) =>
        checkExpr(coll, env) match {
          case TMap(t) =>
            val scope = env.child()
            scope.define(k, TStr); scope.define(v, t)
            body.foreach(st => checkStmt(st, scope))
          case TRecord(_, _) | TAny =>
            val scope = env.child()
            scope.define(k, TStr); scope.define(v, TAny)
            body.foreach(st => checkStmt(st, scope))
          case other => error(s"for (k,v) over non-map: $other")
        }
      case IfStmt(cases, otherwise) =>
        cases.foreach { case (c, blk) =>
          checkExpr(c, env)
          blk.foreach(st => checkStmt(st, env.child()))
        }
        otherwise.foreach(st => checkStmt(st, env.child()))
      case SupposeStmt(delegate, branch, leaf) =>
        checkExpr(delegate, env)
        branch.foreach(st => checkStmt(st, env.child()))
        leaf.foreach(st => checkStmt(st, env.child()))
      case SpliceStmt    => ()
      case ThrowStmt(e) =>
        checkThrowPayload(checkExpr(e, env), env)
      case DebugStmt(e)  => checkExpr(e, env); ()
      case ExprStmt(e)   => checkExpr(e, env); ()
      case TypeDecl(n, t, ps) =>
        if (ps.isEmpty) {
          val rt = resolve(t)
          typeDefs += (n -> (Nil, rt))
          rt match { // member-carrying record types are also a namespace value
            case TRecord(_, ms) if ms.nonEmpty => env.define(n, TAny)
            case _                             => ()
          }
        } else
          // parametric: body resolves at application (params stay free)
          typeDefs += (n -> (ps, t))
      case ImportStmt(lib, sel) => // module members: gradually typed
        def bindSel(s: ImportSel): Unit = s match {
          case SelItself       => env.define(lib, TAny)
          case SelAll          => env.define("__glob_import__", TAny)
          case SelItem(n, a)   => env.define(a.getOrElse(n), TAny)
          case SelNested(_, i) => bindSel(i)
          case SelGroup(ss)    => ss.foreach(bindSel)
        }
        sel match {
          case None    => env.define(lib, TAny)
          case Some(s) => bindSel(s)
        }
    }

    val root = new TEnv(Map.empty, None)
    // stdlib (README.md:325-328; parser.rs:871-890)
    Seq("sqrt", "cos", "sin", "floor", "ceil").foreach(f =>
      root.define(f, TLambda(Seq(TFloat), TFloat)))
    root.define("point", TLambda(Seq(TFloat, TFloat), TPoint))
    root.define("keys", TLambda(Seq(TAny), TList(TStr)))
    root.define("replace", TLambda(Seq(TStr, TStr, TStr), TStr))
    root.define("in", resolve(script.input))
    root.define("__output__", resolve(script.output))
    script.decls.foreach(s => checkStmt(s, root))
    script.body.foreach(s => checkStmt(s, root))
    Checked(errs.result(), new Types(types))
  }
}
