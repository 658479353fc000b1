package graft.lang

import graft.kernel.UdException
import Ast._
import Values._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compile + run uDLang scripts on Spark — the engine's front door.
  *
  * Pipeline (SURVEY.md §7.1): parse → typecheck → lower. Lowering has
  * three tiers:
  *
  *  - COLUMN tier: bodies consisting of conditional/unconditional `out` of
  *    pure expressions lower to native select/filter/when plans — function
  *    calls are inlined (the reference's planned partial-evaluation pass,
  *    stackfolder.py, realized as Catalyst expressions: constant folding,
  *    CSE and pushdown then come free). Each operator lowers to the
  *    `UdFunctions` member for the operand types the typechecker computed
  *    (Str `+` concatenates, Int `/` truncates, Int `and` is bitwise); an
  *    operator with no member for its operand types, and recursion, keep
  *    the script on the kernel tier. Conditions lower through the
  *    interpreter's truthiness for their checked type.
  *  - COUNTED-LOOP tier: a tail-recursive `out`-then-step proc (the
  *    count.us shape) lowers to `explode(sequence(...))` (`LoopPlan`).
  *  - KERNEL tier: everything else (recursion, for-loops with multi-emit,
  *    suppose/capture, closures) runs the Interp evaluator inside a typed
  *    flatMap — still distributed, pipelined, shuffle-free.
  *
  * The declared input/output types become the DataFrame schemas: records
  * map to StructType columns; scalar input reads the single column of the
  * input frame; scalar output is a single `out` column. Kernel-tier
  * outputs are encoded from the declared output type (`valueToRow`).
  */
object UdScript {

  final case class CompileError(msg: String) extends RuntimeException(msg)

  sealed trait Tier
  case object ColumnTier extends Tier
  case object KernelTier extends Tier

  /** A detected tail-recursive counted emit loop (the count.us shape):
    * proc P(..., v: Int, ...) { out E; if (v > c) { P(..., v - 1, ...); } }
    * called once from the body. Lowers to explode(sequence(v0, stop, ±1))
    * instead of the kernel interpreter — the emitted values are exactly
    * v0, v0∓1, …, down/up to the first value at/past the bound, in
    * emission order. */
  final case class LoopPlan(params: Seq[(String, UdType)], vi: Int,
                            bound: Long, step: Long, outE: Expr,
                            initArgs: Seq[Expr])
  final case class LoopTier(plan: LoopPlan) extends Tier

  /** `types` are the checker's expression types the column and loop tiers
    * lower with; driver-only, so never serialized. */
  final case class Compiled(script: Script, tier: Tier,
                            typeErrors: Seq[Typechecker.TypeError],
                            @transient types: Typechecker.Types,
                            libs: Map[String, Values.Value] = Map.empty) {
    // lazy: the in-process CLI pipe runs on values and never needs them
    lazy val inputSchema: StructType = schemaOf(script.input)
    lazy val outputSchema: StructType = schemaOf(script.output)

    /** Run over a DataFrame whose columns match the declared input. */
    def run(df: DataFrame): DataFrame = tier match {
      case ColumnTier   => Lowering.runColumn(script, types, df)
      case LoopTier(lp) => Lowering.runCountedLoop(script, types, lp, df)
      case KernelTier   => Lowering.runKernel(script, df, libs)
    }

    /** Run with the reference's dead-letter posture (README udmonad): a
      * record whose evaluation throws routes its INPUT row + exception
      * message to the second leg; clean records emit their outputs to
      * the first. The column and loop tiers have no throw, but an Int `/`
      * or `%` stops a record on a zero divisor: such a script runs on the
      * kernel here, which routes that record instead of failing the job. */
    def runEither(df: DataFrame): (DataFrame, DataFrame) =
      if (tier == KernelTier || Lowering.mayRaise(types))
        Lowering.runKernelEither(script, df, libs)
      else (run(df), df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[Row],
        df.schema.add("_error", StringType)))
  }

  /** Compile a script. strict=false downgrades type errors to warnings
    * (the reference ships examples its own unwired checker would reject —
    * e.g. Int passed to Float params). Imports resolve from the explicit
    * `libraries` registry first, then from `libraryDirs` on the file
    * system (`<name>.ud` / `<name>.us`), recursively — a library's own
    * imports resolve the same way; cycles are a compile error. */
  /** Successful compiles are memoized by their full inputs — a script is
    * compiled once and then run over any number of batches/micro-batches,
    * the same once-per-program posture as the reference's compiler.
    * Filesystem-resolved compiles (libraryDirs) are NOT cached: the
    * library files may change between calls. */
  private val compileCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Boolean, Map[String, String]), Compiled]()

  def compile(src: String, strict: Boolean = true,
              libraries: Map[String, String] = Map.empty,
              libraryDirs: Seq[String] = Seq.empty): Compiled = {
    if (libraryDirs.isEmpty) {
      val key = (src, strict, libraries)
      val hit = compileCache.get(key)
      if (hit != null) hit
      else {
        val c = compileUncached(src, strict, libraries, libraryDirs)
        if (compileCache.size < 512) compileCache.put(key, c)
        c
      }
    } else compileUncached(src, strict, libraries, libraryDirs)
  }

  private def compileUncached(src: String, strict: Boolean,
                              libraries: Map[String, String],
                              libraryDirs: Seq[String]): Compiled = {
    val script0 = UdParser.parse(src) match {
      case Right(s) => s
      case Left(m)  => throw CompileError(m)
    }
    // resolve named/generic types in the IO declarations so schemas derive
    // (the checker re-resolves internally for body checking)
    val script = resolveIoTypes(script0)
    val Typechecker.Checked(errs, types) = Typechecker.infer(script)
    if (strict && errs.nonEmpty)
      throw CompileError(errs.map(_.msg).mkString("; "))
    val resolver = new LibResolver(libraries, libraryDirs)
    val libs = importsOf(script.decls)
      .map(name => name -> resolver.resolve(name)).toMap
    val tier = Lowering.detectCountedLoop(script, types).map(LoopTier.apply)
      .getOrElse(
        if (Lowering.columnExpressible(script, types)) ColumnTier else KernelTier)
    Compiled(script, tier, errs, types, libs)
  }

  private def importsOf(stmts: Seq[Stmt]): Seq[String] =
    stmts.collect { case ImportStmt(l, _) => l }.distinct

  /** Substitute TypeDecl-defined names (incl. generic applications,
    * TypeCons/TypeFunc ast.rs:203-205) in the input/output declarations. */
  private def resolveIoTypes(script: Script): Script = {
    val defs: Map[String, (Seq[String], UdType)] = script.decls.collect {
      case TypeDecl(n, t, ps) => n -> (ps, t)
    }.toMap
    def sub(t: UdType, env: Map[String, UdType]): UdType = t match {
      case TRef(n) if env.contains(n) => env(n)
      case TList(x)   => TList(sub(x, env))
      case TMap(x)    => TMap(sub(x, env))
      case TOption(x) => TOption(sub(x, env))
      case TTuple(xs) => TTuple(xs.map(sub(_, env)))
      case TUnion(xs) => TUnion(xs.map(sub(_, env)))
      case TRecord(fs, ms) =>
        TRecord(fs.map(f => f.copy(t = sub(f.t, env))), ms)
      case TLambda(as, r) => TLambda(as.map(sub(_, env)), sub(r, env))
      case TApply(n, as)  => TApply(n, as.map(sub(_, env)))
      case other => other
    }
    def res(t: UdType, depth: Int): UdType = {
      if (depth > 32) throw CompileError(s"recursive type: $t")
      t match {
        case TRef(n) => defs.get(n) match {
          case Some((Nil, body)) => res(body, depth + 1)
          case Some((ps, _)) =>
            throw CompileError(s"type $n expects ${ps.size} parameter(s)")
          case None => t // unknown here; the checker reports it
        }
        case TApply(n, args) => defs.get(n) match {
          case Some((ps, body)) if ps.size == args.size =>
            res(sub(body, ps.zip(args.map(res(_, depth + 1))).toMap),
              depth + 1)
          case Some((ps, _)) => throw CompileError(
            s"type $n expects ${ps.size} parameter(s), got ${args.size}")
          case None => throw CompileError(s"unknown type: $n")
        }
        case TList(x)   => TList(res(x, depth + 1))
        case TMap(x)    => TMap(res(x, depth + 1))
        case TOption(x) => TOption(res(x, depth + 1))
        case TTuple(xs) => TTuple(xs.map(res(_, depth + 1)))
        case TUnion(xs) => TUnion(xs.map(res(_, depth + 1)))
        case TRecord(fs, ms) =>
          TRecord(fs.map(f => f.copy(t = res(f.t, depth + 1))), ms)
        case other => other
      }
    }
    script.copy(input = res(script.input, 0), output = res(script.output, 0))
  }

  /** Driver-side module loader: registry sources win, then the search
    * dirs; each module compiles once (memoized) and cyclic imports fail
    * with the chain named. */
  private final class LibResolver(registry: Map[String, String],
                                  dirs: Seq[String]) {
    private val done = scala.collection.mutable.Map.empty[String, Values.Value]
    private var inFlight = List.empty[String]

    def resolve(name: String): Values.Value = done.getOrElseUpdate(name, {
      if (inFlight.contains(name))
        throw CompileError(
          s"cyclic import: ${(name :: inFlight).reverse.mkString(" -> ")}")
      val src = registry.get(name).orElse(fromDisk(name)).getOrElse(
        throw CompileError(s"unknown library: $name (not in registry, " +
          s"not found under ${if (dirs.isEmpty) "<no dirs>" else dirs.mkString(":")})"))
      inFlight = name :: inFlight
      try compileLibrary(src, this)
      finally inFlight = inFlight.tail
    })

    private def fromDisk(name: String): Option[String] =
      dirs.iterator.flatMap { d =>
        Seq("ud", "us").iterator.map(ext => new java.io.File(d, s"$name.$ext"))
      }.find(_.isFile).map { f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      }
  }

  /** Compile a library (decl-only source) to a module value: its top-level
    * decls evaluated once, exposed as an insertion-ordered record (F11;
    * the reference parses imports but never compiles them, ir.rs:802-803).
    */
  def compileLibrary(src: String): Values.Value =
    compileLibrary(src, new LibResolver(Map.empty, Seq.empty))

  private def compileLibrary(src: String, resolver: LibResolver)
      : Values.Value = {
    val stmts = UdParser.parseDecls(src) match {
      case Right(ss) => ss
      case Left(m)   => throw CompileError(s"library: $m")
    }
    val nested = importsOf(stmts)
      .map(name => name -> resolver.resolve(name)).toMap
    val pseudo = Script("library", TAny, TAny, stmts, Seq.empty)
    val interp = new Interp(pseudo, nested)
    val env = interp.initEnv
    Values.VMap(scala.jdk.CollectionConverters.MapHasAsScala(env.vars)
      .asScala.toVector.sortBy(_._1))()
  }

  // ---- declared type → Spark schema ----
  def sparkType(t: UdType): DataType = t match {
    case TBool     => BooleanType
    case TInt      => LongType
    case TIntN(_, _) => LongType // sized ints ride as Long; range checked
    case TFloat    => DoubleType
    case TFloat32  => DoubleType // rides as Double; float32-rounded at casts
    case TStr      => StringType
    case TNone     => NullType
    case TAny      => StringType // Any rides as JSON-ish string
    case TValue(_) => StringType
    case TOption(x) => sparkType(x)
    case TList(x)  => ArrayType(sparkType(x))
    case TMap(v)   => MapType(StringType, sparkType(v))
    case TTuple(ts) => StructType(ts.zipWithIndex.map { case (x, i) =>
      StructField(s"_${i + 1}", sparkType(x))
    })
    // NESTED records carry their absent-optional presence flags INSIDE
    // the struct (top-level records keep them as external sibling
    // columns, appended by the sources/decodedSchema) — `rec.addr.zip?`
    // then reads a real column in both tiers instead of conflating
    // absent with null. Nested fields are all nullable: from_json yields
    // nullable struct fields, and a cast of such a struct to one with a
    // NOT NULL field (a script passing `in.addr` through) fails analysis.
    case TRecord(fs, _) => StructType(fs.map(f =>
      StructField(f.name, sparkType(f.t), nullable = true)) ++
      fs.filter(_.absentOptional).map(f =>
        StructField(s"${f.name}__present", BooleanType)))
    // pair-of-floats placeholder (ir.rs:359-362)
    case TPoint => StructType(Seq(
      StructField("x", DoubleType), StructField("y", DoubleType)))
    // string-literal enums ride as plain strings (ValueType, README.md:218)
    case TUnion(ts) if ts.forall(_.isInstanceOf[TValue]) => StringType
    // general unions are tagged structs: {_tag, v0, v1, ...} — one nullable
    // slot per branch, discriminated by _tag (SURVEY §1.3); column-tier
    // `match` narrows with CASE over _tag
    // _tag is nullable like the slots: ingest builds it from a nullable
    // column, and a cast to a NOT NULL field fails analysis
    case TUnion(ts) => StructType(
      StructField("_tag", StringType, nullable = true) +:
        ts.zipWithIndex.map { case (t, i) =>
          StructField(s"v$i", sparkType(t), nullable = true)
        })
    case TLambda(_, _) => throw CompileError("function type has no schema")
    case other => throw CompileError(s"no schema for $other")
  }

  /** `sparkType(t)` spelled as a UdType, built without any Spark type:
    * two types ride as the same Spark type exactly when their carriers
    * are equal. None where `sparkType` has no schema. */
  def carrierOf(t: UdType): Option[UdType] = t match {
    case TBool | TNone               => Some(t)
    case TInt | TIntN(_, _)          => Some(TInt)
    case TFloat | TFloat32           => Some(TFloat)
    case TStr | TAny | TValue(_)     => Some(TStr)
    case TUnion(ts) if ts.forall(_.isInstanceOf[TValue]) => Some(TStr)
    case TOption(x)                  => carrierOf(x)
    case TList(x)                    => carrierOf(x).map(TList)
    case TMap(v)                     => carrierOf(v).map(TMap)
    case TTuple(ts) => struct(ts.zipWithIndex.map { case (x, i) => s"_${i + 1}" -> x })
    case TRecord(fs, _) => struct(fs.map(f => f.name -> f.t) ++
      fs.filter(_.absentOptional).map(f => s"${f.name}__present" -> TBool))
    case TPoint     => struct(Seq("x" -> TFloat, "y" -> TFloat))
    case TUnion(ts) => struct(("_tag" -> TStr) +:
      ts.zipWithIndex.map { case (x, i) => s"v$i" -> x })
    case _ => None
  }
  private def struct(fs: Seq[(String, UdType)]): Option[UdType] = {
    val cs = fs.map { case (n, x) => carrierOf(x).map(TField(n, _, absentOptional = false)) }
    Option.when(cs.forall(_.isDefined))(TRecord(cs.flatten))
  }

  /** The _tag discriminator for a union branch type — one name per type,
    * used by ingest, egress and the column tier's `match` alike. Sized
    * ints are spelled as the parser reads them (`U8`, `I16`, `U64`). */
  def tagOf(t: UdType): String = t match {
    case TInt    => "Int"
    case n: TIntN => s"${if (n.signed) "I" else "U"}${n.bits}"
    case TFloat  => "Float"
    case TFloat32 => "F32"
    case TPoint  => "Point"
    case TStr    => "Str"
    case TBool   => "Bool"
    case TNone   => "None"
    case TAny    => "Any"
    case TValue(s)   => s"val:$s"
    case TList(_)    => "list"
    case TMap(_)     => "map"
    case TRecord(_, _) => "record"
    case TTuple(_)   => "tuple"
    case TOption(x)  => tagOf(x)
    case TUnion(_)   => "union"
    case other => throw CompileError(s"no union branch type: $other")
  }

  def schemaOf(t: UdType): StructType = t match {
    case TRecord(fs, _) => StructType(fs.map(f =>
      StructField(f.name, sparkType(f.t),
        nullable = f.absentOptional || f.t.isInstanceOf[TOption])))
    // top-level tuple output: positional _1.._n as top-level columns
    case tt: TTuple => sparkType(tt).asInstanceOf[StructType]
    case scalar => StructType(Seq(StructField("out", sparkType(scalar))))
  }

  /** The frame a source keeps of a declared input record: its fields, all
    * nullable (an invalid record's row holds none of them, and a non-null
    * field would fail the row encoder before the reason could route it),
    * then one `<f>__present` flag per absent-optional field. */
  def inputFrame(declared: TRecord): StructType = {
    val base = schemaOf(declared)
    StructType(base.fields.toSeq.map(_.copy(nullable = true)) ++
      declared.fields.filter(_.absentOptional).map(f =>
        StructField(s"${f.name}__present", BooleanType, nullable = false)))
  }

  // ---- Row <-> Value ----
  /** Absent-vs-null: when the input frame carries a `<f>__present` flag
    * (JsonRecords / Msgpack) and it is false, the field is OMITTED from
    * the record value — so `rec.?.f` (Has) means key presence, while a
    * present-but-null field reads as none. */
  // per-declared-type decode metadata, computed once (rowToValue runs per
  // ROW in the kernel flatMap — rebuilding this Set per record was pure
  // allocation overhead)
  private val absentOkCache =
    new java.util.concurrent.ConcurrentHashMap[TRecord, Set[String]]()
  private[graft] def absentOkOf(t: TRecord): Set[String] = {
    var v = absentOkCache.get(t)
    if (v == null) {
      v = t.fields.filter(_.absentOptional).map(_.name).toSet
      absentOkCache.put(t, v)
    }
    v
  }

  def rowToValue(row: Row, t: UdType): Value = t match {
    case rec @ TRecord(fs, _) =>
      VMap(fs.flatMap { f =>
        val absent = f.absentOptional && {
          try {
            val pi = row.fieldIndex(s"${f.name}__present")
            !row.isNullAt(pi) && !row.getBoolean(pi)
          } catch { case _: IllegalArgumentException => false }
        }
        if (absent) None
        else {
          val i = row.fieldIndex(f.name)
          Some(f.name -> (if (row.isNullAt(i)) VNone
          else anyToValue(row.get(i), f.t)))
        }
      }.toVector)(absentOk = absentOkOf(rec))
    case scalar => if (row.isNullAt(0)) VNone else anyToValue(row.get(0), scalar)
  }

  def anyToValue(a: Any, t: UdType): Value = (a, t) match {
    case (null, _)          => VNone
    case (x, TOption(inner)) => anyToValue(x, inner)
    case (x: Long, n: TIntN) =>
      if (n.contains(x)) VInt(x) else Values.err(s"range: $x not a ${tagOf(n)}")
    case (x: Long, _)       => VInt(x)
    case (x: Int, n: TIntN)  => anyToValue(x.toLong, n)
    case (x: Int, _)        => VInt(x.toLong)
    case (x: Short, _)      => VInt(x.toLong)
    case (x: Double, TFloat32) => VFloat(x.toFloat.toDouble) // precision-honest
    case (x: Double, _)     => VFloat(x)
    case (x: Float, _)      => VFloat(x.toDouble)
    case (x: Boolean, _)    => VBool(x)
    case (x: String, _)     => VStr(x)
    case (x: scala.collection.Seq[_], TList(et)) => // Rows use mutable.ArraySeq
      VList(x.map(anyToValue(_, et)).toVector)
    // a coordinate `from_json` could not read leaves no point
    case (x: Row, TPoint)   =>
      if (x.isNullAt(0) || x.isNullAt(1)) VNone
      else VPoint(x.getDouble(0), x.getDouble(1))
    case (x: Row, TTuple(ts)) =>
      VTuple(ts.zipWithIndex.map { case (t2, i) =>
        if (x.isNullAt(i)) VNone else anyToValue(x.get(i), t2)
      }.toVector)
    case (x: Row, TUnion(ts)) if !ts.forall(_.isInstanceOf[TValue]) =>
      // tagged-struct union {_tag, v0, v1, ...}: decode the active slot
      val i = ts.indexWhere(t => tagOf(t) == x.getString(0))
      if (i < 0 || x.isNullAt(i + 1)) VNone else anyToValue(x.get(i + 1), ts(i))
    case (x: Row, rt: TRecord)  => rowToValue(x, rt)
    case (x: Map[_, _], TMap(vt)) =>
      VMap(x.toVector.map { case (k, v) =>
        k.toString -> anyToValue(v, vt)
      }.sortBy(_._1))()
    case (x, _) => VStr(String.valueOf(x))
  }

  /** The kernel tier's per-record function, for `runKernel`,
    * `runKernelEither` and the CLI's msgpack pipe: decode, `Interp`,
    * `valueToRow`. A `throw` surfaces as UdException. */
  def kernel(script: Script, libs: Map[String, Value]): Row => Vector[Row] = {
    val interp = new Interp(script, libs)
    interp.initEnv
    val (inType, outType) = (script.input, script.output)
    val outSchema = schemaOf(outType)
    row => {
      val buf = Vector.newBuilder[Row]
      interp.run(rowToValue(row, inType), v => buf += valueToRow(v, outType, outSchema))
      buf.result()
    }
  }

  /** Encode one interpreter output under the declared output type: the
    * twin of `anyToValue`, walking the `UdType` and its Spark `DataType`
    * together. A general-union value takes the first branch it belongs to
    * and that branch's `tagOf`; a declared F32 slot rounds through
    * float32; nested presence flags follow `TField.absentOptional`; an
    * Int widens into a Float slot and a Float narrows into an Int slot. A
    * value that fits no slot stops its record, as a `throw` does. Columns
    * of `schema` after those a record fills (a source's
    * `_invalid_reason`) stay null. */
  def valueToRow(v: Value, t: UdType, schema: StructType): Row = t match {
    case TRecord(_, _) | TTuple(_) => encode(v, t, schema).asInstanceOf[Row]
    case _ => new GenericRowWithSchema(
      Array(encode(v, t, schema.fields(0).dataType)), schema)
  }

  private def encode(v: Value, t: UdType, dt: DataType): Any = (v, dt) match {
    // leaves first: they are most of the calls
    case (VNone, _)              => null
    case (_, LongType)           => intSlot(v, t)
    case (VStr(s), StringType)   => s
    case (VBool(b), BooleanType) => b
    case (_, DoubleType)         => floatSlot(v, t)
    case (_, StringType)         => render(v)
    case _ =>
      def st = dt.asInstanceOf[StructType]
      (v, t) match {
        case (_, TOption(inner)) => encode(v, inner, dt)
        case (_, TUnion(ts)) =>
          val i = unionSlot(v, ts)
          new GenericRowWithSchema((tagOf(ts(i)) +: ts.indices.map(j =>
            if (j == i) encode(v, ts(i), st.fields(i + 1).dataType) else null)).toArray, st)
        case (m: VMap, TRecord(fs, _)) =>
          // filled in place: this runs once per output record
          val cells = new Array[Any](st.length)
          var i = 0
          fs.foreach { f =>
            cells(i) = m.index.get(f.name).map(encode(_, f.t, st.fields(i).dataType)).orNull
            i += 1
          }
          // a nested struct ends with one flag per absent-optional field
          if (i < cells.length) fs.filter(_.absentOptional).foreach { f =>
            cells(i) = m.index.contains(f.name); i += 1
          }
          new GenericRowWithSchema(cells, st)
        case (VTuple(xs), TTuple(ts)) =>
          new GenericRowWithSchema(xs.zip(ts).zip(st.fields).map {
            case ((x, t2), f) => encode(x, t2, f.dataType)
          }.toArray, st)
        case (VPoint(x, y), TPoint) => new GenericRowWithSchema(Array(x, y), st)
        case (VList(xs), TList(et)) =>
          xs.map(encode(_, et, dt.asInstanceOf[ArrayType].elementType))
        case (m: VMap, TMap(vt)) => m.entries.map { case (k, x) =>
          k -> encode(x, vt, dt.asInstanceOf[MapType].valueType)
        }.toMap
        case _ => cannotEncode(v, t)
      }
  }

  /** The cells of `valueToRow(m, rec, inputFrame(rec))` as a collected
    * row prints them (`Row.mkString`), built with no Spark type: the CLI
    * pipe prints a thrown record's DLQ line without loading Spark's type
    * system. */
  private[graft] def rowCells(m: VMap, rec: TRecord): Seq[String] =
    rec.fields.map(f => m.index.get(f.name).fold("null")(cellText(_, f.t))) ++
      rec.fields.filter(_.absentOptional).map(f => m.index.contains(f.name).toString)

  private def cellText(v: Value, t: UdType): String = (v, t) match {
    case (VNone, _) => "null"
    case (_, TOption(inner)) => cellText(v, inner)
    case (_, TInt | TIntN(_, _)) => intSlot(v, t).toString
    case (_, TFloat | TFloat32) => floatSlot(v, t).toString
    case (VBool(b), TBool) => b.toString
    case (_, TStr | TAny | TValue(_)) => render(v)
    case (_, TUnion(ts)) if ts.forall(_.isInstanceOf[TValue]) => render(v)
    case (_, TUnion(ts)) =>
      val i = unionSlot(v, ts)
      (tagOf(ts(i)) +: ts.indices.map(j =>
        if (j == i) cellText(v, ts(i)) else "null")).mkString("[", ",", "]")
    case (m: VMap, rec: TRecord) => rowCells(m, rec).mkString("[", ",", "]")
    case (VTuple(xs), TTuple(ts)) =>
      xs.zip(ts).map { case (x, t2) => cellText(x, t2) }.mkString("[", ",", "]")
    case (VPoint(x, y), TPoint) => s"[$x,$y]"
    case (VList(xs), TList(et)) => xs.map(cellText(_, et)).mkString("ArraySeq(", ", ", ")")
    case (m: VMap, TMap(vt)) => // in the order of the Scala map `encode` builds
      m.entries.toMap.iterator.map { case (k, x) => s"$k -> ${cellText(x, vt)}" }
        .mkString("Map(", ", ", ")")
    case _ => cannotEncode(v, t)
  }

  // The leaf and union rules of output encoding, shared by `valueToRow`,
  // `rowCells` and the CLI pipe's JSON writer (`JsonRecords.JsonLines`).

  /** A number in an Int slot: a Float truncates. */
  private[graft] def intSlot(v: Value, t: UdType): Long = v match {
    case VInt(i)   => i
    case VFloat(d) => d.toLong
    case _         => cannotEncode(v, t)
  }

  /** A number in a Float slot: an Int widens, and a declared F32 rounds
    * through float32. */
  private[graft] def floatSlot(v: Value, t: UdType): Double = v match {
    case VFloat(d) => if (typeHasF32(t)) d.toFloat.toDouble else d
    case VInt(i)   => if (typeHasF32(t)) i.toFloat.toDouble else i.toDouble
    case _         => cannotEncode(v, t)
  }

  /** The general-union branch an output value takes: the first it matches
    * exactly (`Values.matchesType`, the test of `match`), else the first
    * it belongs to. A decoded input so keeps its ingest branch: a Float
    * takes an F32 branch only when it is float32-exact. A value that fits
    * none stops its record, as a `throw` does. */
  private[graft] def unionSlot(v: Value, ts: Seq[UdType]): Int = {
    val exact = ts.indexWhere(Values.matchesType(v, _))
    val i = if (exact >= 0) exact else ts.indexWhere(belongs(v, _))
    if (i < 0) Values.err(s"no union slot for ${render(v)}")
    i
  }

  private[graft] def cannotEncode(v: Value, t: UdType): Nothing =
    Values.err(s"cannot encode ${render(v)} as $t")

  /** Does an interpreter value belong to a union branch, once rounded? An
    * Int belongs to `Int` and to a sized int whose range holds it, a Float
    * to `Float` and `F32` (rounded at the leaf), a string to an equal
    * literal and to `Str`, a map to a record or map branch. */
  private def belongs(v: Value, t: UdType): Boolean = (v, t) match {
    case (_, TOption(inner))      => belongs(v, inner)
    case (_, TUnion(ts))          => ts.exists(belongs(v, _))
    case (VInt(i), n: TIntN)      => n.contains(i)
    case (VStr(s), TValue(lit))   => s == lit
    case (VTuple(xs), TTuple(ts)) => xs.size == ts.size
    case (VInt(_), TInt) | (VFloat(_), TFloat | TFloat32) | (VStr(_), TStr) |
        (VBool(_), TBool) | (VPoint(_, _), TPoint) | (VList(_), TList(_)) |
        (_: VMap, TRecord(_, _) | TMap(_)) | (_, TAny) => true
    case _ => false
  }

  /** Does the declared type contain an F32 slot at ANY depth? */
  private[lang] def typeHasF32(t: UdType): Boolean = t match {
    case TFloat32        => true
    case TOption(inner)  => typeHasF32(inner)
    case TList(et)       => typeHasF32(et)
    case TMap(vt)        => typeHasF32(vt)
    case TRecord(fs, _)  => fs.exists(f => typeHasF32(f.t))
    case TTuple(ts)      => ts.exists(typeHasF32)
    case _               => false
  }
}

/** The column, counted-loop and kernel lowerings. */
private[lang] object Lowering {
  import UdScript._
  import graft.functions.{UdFunctions => F}

  private type Op1 = Column => Column
  private type Op2 = (Column, Column) => Column

  /** The column tier's operator table: the `UdFunctions` member for a
    * binary operator over the checker's operand types, decayed as the
    * checker decays them. None (an operand typed Any, a mixed pair, a
    * shift by anything but an Int literal) keeps the script on the kernel
    * tier. */
  def binaryOp(op: BinOp, l: UdType, r: UdType, rhs: Expr): Option[Op2] = {
    val same = Some(Typechecker.decay(l)).filter(_ == Typechecker.decay(r))
    def num(int: Op2, float: Op2) =
      same.collect[Op2] { case TInt => int; case TFloat => float }
    def logic(bool: Op2, int: Op2) =
      same.collect[Op2] { case TBool => bool; case TInt => int }
    def ordered(f: Op2) =
      same.collect[Op2] { case TInt | TFloat | TStr => f }
    op match {
      case Add => same.collect[Op2] {
        case TInt | TFloat => F.add; case TStr => F.addStr }
      case Sub => num(F.sub, F.sub)
      case Mul => num(F.mul, F.mul)
      case Div => num(F.divInt, F.divFloat)
      case Mod => num(F.modInt, F.modFloat)
      case Pow => num(F.powInt, F.powFloat)
      case Min => num(F.min2, F.min2)
      case Max => num(F.max2, F.max2)
      case And => logic(F.andBool, F.andInt)
      case Or  => logic(F.orBool, F.orInt)
      case Xor => logic(F.xorBool, F.xorInt)
      case Shl | Shr => (same, rhs) match {
        case (Some(TInt), LitInt(n)) if n.isValidInt =>
          Some((a, _) => if (op == Shl) F.shl(a, n.toInt) else F.shr(a, n.toInt))
        case _ => None
      }
      case Lt  => ordered(F.lt)
      case Gt  => ordered(F.gt)
      case Lte => ordered(F.lte)
      case Gte => ordered(F.gte)
      // deep equality is false across types, which Spark would cast
      // together: the two sides must ride as the same Spark type
      case Eq | Neq =>
        def carrier(t: UdType) = if (t == TAny) None else carrierOf(t)
        Option.when[Op2](l == TNone || r == TNone ||
            carrier(l).exists(carrier(r).contains))(
          if (op == Eq) F.eq else F.neq)
    }
  }

  /** The unary half of the operator table. */
  def unaryOp(op: UnOp, t: UdType): Option[Op1] =
    (op, Typechecker.decay(t)) match {
      case (Not, TBool)         => Some(F.notBool)
      case (Not, TInt)          => Some(F.notInt)
      case (Neg, TInt | TFloat) => Some(F.neg)
      case (Abs, TInt | TFloat) => Some(F.abs1)
      case _                    => None
    }

  /** Can a record stop this script's column lowering? Int `/` and `%`
    * raise on a zero divisor, as the interpreter does. */
  def mayRaise(types: Typechecker.Types): Boolean = types.nodes.exists {
    case Bin(Div | Mod, l, r) => Typechecker.decay(types(l)) == TInt &&
      (r match { case LitInt(n) => n == 0; case _ => true })
    case _ => false
  }

  /** A condition as a Bool column, with `Interp.truthy`'s reading of its
    * checked type: Bool as is, numbers ≠ 0, strings and lists non-empty.
    * None keeps the script on the kernel tier. */
  def condition(t: UdType): Option[Op1] = Typechecker.decay(t) match {
    case TOption(inner)        => condition(inner)
    case TBool                 => Some(identity)
    case TInt | TFloat | TFloat32 => Some(F.truthyNum)
    case TStr                  => Some(F.truthyStr)
    case TUnion(ts) if ts.forall(_.isInstanceOf[TValue]) => Some(F.truthyStr)
    case TList(_)              => Some(F.truthyArr)
    case _                     => None
  }

  /** Purity/inlinability of one expression against a script's decls —
    * shared by columnExpressible and detectCountedLoop. */
  def exprOkIn(script: Script, types: Typechecker.Types)(e0: Expr,
      stack0: Set[String], bound0: Set[String]): Boolean = {
    val funcs: Map[String, FuncStmt] = script.decls.collect {
      case f: FuncStmt => f.name -> f
    }.toMap
    val lets: Map[String, Expr] = script.decls.collect {
      case LetStmt(n, e) => n -> e
    }.toMap

    def exprOk(e: Expr, stack: Set[String], bound: Set[String]): Boolean =
      e match {
        case _: LitInt | _: LitFloat | _: LitStr | _: LitBool | LitNone | In =>
          true
        case Id(n) =>
          bound.contains(n) || lets.get(n).exists(exprOk(_, stack, bound))
        case Bin(op, l, r) =>
          binaryOp(op, types(l), types(r), r).isDefined &&
            exprOk(l, stack, bound) && exprOk(r, stack, bound)
        case Un(op, x) =>
          unaryOp(op, types(x)).isDefined && exprOk(x, stack, bound)
        case Cond(cs, o) =>
          cs.forall { case (c, t) =>
            condition(types(c)).isDefined && exprOk(c, stack, bound) &&
              exprOk(t, stack, bound)
          } && exprOk(o, stack, bound)
        case Dot(x, _)  => exprOk(x, stack, bound)
        case Has(x, _)  => exprOk(x, stack, bound)
        // colOf only lowers literal indexes — anything else is kernel tier
        case Index(x, LitInt(_)) => exprOk(x, stack, bound)
        case Index(_, _)         => false
        case Call(Id(n), args)
            if Seq("sqrt", "cos", "sin", "floor", "ceil", "point")
              .contains(n) && !funcs.contains(n) =>
          args.forall(exprOk(_, stack, bound))
        case Call(Id(n), args) =>
          funcs.get(n) match {
            // recursion or variadic (rest-param) ⇒ kernel tier
            case Some(f) if !stack.contains(n) &&
                !f.params.exists(_._1.startsWith("...")) =>
              args.forall(exprOk(_, stack, bound)) &&
                exprOk(f.body, stack + n, bound ++ f.params.map(_._1))
            case _ => false
          }
        case Match(s, cs, d) =>
          // literal patterns always lower; type patterns only when the
          // scrutinee is a declared (input-rooted) tagged union and the
          // slots they match share one Spark type — anything else
          // (Some/none, type tests on untyped values) is kernel tier
          val union = (s match {
            case In => Some(script.input)
            case Dot(In, f) => script.input match {
              case TRecord(fs, _) => fs.find(_.name == f).map(_.t)
              case _              => None
            }
            case _ => None
          }).collect {
            case TUnion(ts) if !ts.forall(_.isInstanceOf[TValue]) => ts
          }
          exprOk(s, stack, bound) &&
            cs.forall {
              case ((_: PLitStr | _: PLitInt), b) => exprOk(b, stack, bound)
              case (PType(binder, t), b) if union.isDefined =>
                patternSlots(union.get, t).isDefined &&
                  exprOk(b, stack, bound + binder)
              case _ => false
            } &&
            d.forall(exprOk(_, stack, bound))
        case MapExpr(entries) =>
          entries.forall { case (_, v) => exprOk(v, stack, bound) }
        case Cast(x, _) => exprOk(x, stack, bound)
        case Comprehension(c, Lambda(ps, _, b)) =>
          exprOk(c, stack, bound) &&
            exprOk(b, stack, bound ++ ps.map(_._1))
        case BlockExpr(Seq(), result) => exprOk(result, stack, bound)
        case _ => false
      }

    exprOk(e0, stack0, bound0)
  }

  /** The slots of a tagged union `{_tag, v0, …}` that a type pattern
    * matches, in branch order, each with the test its value must also
    * pass: every branch whose values `Values.matchesType` may accept for
    * t. An `Int` pattern takes the sized-int branches too; a sized-int,
    * F32 or string-literal pattern tests the slot's range, precision or
    * text. None when the matched slots ride as different Spark types,
    * which one binder cannot hold: that `match` stays on the kernel tier. */
  def patternSlots(ts: Seq[UdType], t: UdType): Option[Seq[(Int, Option[Op1])]] = {
    // None: the branch never matches; Some(None): always; Some(Some(f)):
    // when f holds of the slot
    def test(b: UdType, t: UdType): Option[Option[Op1]] = (b, t) match {
      case (_, TAny) => Some(None)
      case (_, TUnion(ps)) =>
        val tests = ps.flatMap(test(b, _))
        if (tests.isEmpty) None
        else if (tests.contains(None)) Some(None)
        else Some(Some(c => tests.flatten.map(_(c)).reduce(_ || _)))
      case (TInt | TIntN(_, _), TInt) | (TFloat | TFloat32, TFloat) |
          (TFloat32, TFloat32) | (TStr | TValue(_), TStr) | (TBool, TBool) |
          (TPoint, TPoint) | (TNone, TNone) | (TList(_), TList(_)) => Some(None)
      case (TInt | TIntN(_, _), n: TIntN) => Some(Some(c => c >= n.lo && c <= n.hi))
      case (TFloat, TFloat32) =>
        Some(Some(c => c.cast(FloatType).cast(DoubleType) === c))
      case (TStr, TValue(s)) => Some(Some(_ === lit(s)))
      case (TValue(a), TValue(s)) => Option.when(a == s)(None)
      case (TTuple(_), TTuple(_)) => Option.when(b == t)(None)
      case _ => None
    }
    def carrier(b: UdType): UdType = b match {
      case TIntN(_, _)        => TInt
      case TFloat32           => TFloat
      case TValue(_)          => TStr
      case other              => other
    }
    val slots = ts.indices.flatMap(i => test(ts(i), t).map(i -> _))
    Option.when(slots.map(s => carrier(ts(s._1))).distinct.size <= 1)(slots)
  }

  /** Column-tier eligibility: body is a sequence of OutStmt / IfStmt
    * (whose blocks contain only OutStmt/IfStmt), and every expression is
    * pure + inlinable (no recursion, no lambdas-as-values, no suppose). */
  def columnExpressible(script: Script, types: Typechecker.Types): Boolean = {
    val ok = exprOkIn(script, types) _

    def stmtOk(s: Stmt): Boolean = s match {
      case OutStmt(e)     => ok(e, Set.empty, Set.empty)
      case IfStmt(cs, o)  =>
        cs.forall { case (c, blk) =>
          condition(types(c)).isDefined && ok(c, Set.empty, Set.empty) &&
            blk.forall(stmtOk)
        } && o.forall(stmtOk)
      case _ => false
    }

    script.body.nonEmpty && script.body.forall(stmtOk) &&
      countOuts(script.body) >= 1
  }

  /** Recognize the tail-recursive counted emit loop (count.us shape):
    * the whole body is one call of a proc whose body is `out E;` followed
    * by a guarded self-call with the loop variable stepped by ±1 and every
    * other argument passed through unchanged. Such a kernel is
    * `explode(sequence(...))` — 300k interpreter activations become one
    * codegen'd generator (VERDICT r1 item 7). */
  def detectCountedLoop(script: Script, types: Typechecker.Types)
      : Option[UdScript.LoopPlan] = {
    val procs: Map[String, FuncStmt] = script.decls.collect {
      case f: FuncStmt => f.name -> f
    }.toMap
    def callOf(s: Stmt): Option[(String, Seq[Expr])] = s match {
      case ExprStmt(Call(Id(n), as)) => Some((n, as))
      // `out p(...)` where p is a proc: out of none is skipped, so it is
      // the same call-for-effect shape
      case OutStmt(Call(Id(n), as))
          if procs.get(n).exists(_.ret == TNone) => Some((n, as))
      case _ => None
    }
    script.body match {
      case Seq(only) =>
        for {
          (pname, initArgs) <- callOf(only)
          p <- procs.get(pname)
          if p.params.length == initArgs.length
          plan <- p.body match {
            case BlockExpr(Seq(OutStmt(outE),
                IfStmt(Seq((cond, Seq(recStmt))), Seq())), LitNone) =>
              for {
                (rn, recArgs) <- callOf(recStmt)
                if rn == pname && recArgs.length == p.params.length
                // any comparison guard against a literal bound
                (v, c, descending, inclusive) <- cond match {
                  case Bin(Gt, Id(v), LitInt(c))  => Some((v, c, true, false))
                  case Bin(Gte, Id(v), LitInt(c)) => Some((v, c, true, true))
                  case Bin(Lt, Id(v), LitInt(c))  => Some((v, c, false, false))
                  case Bin(Lte, Id(v), LitInt(c)) => Some((v, c, false, true))
                  case _                          => None
                }
                vi = p.params.indexWhere(_._1 == v)
                if vi >= 0 && (p.params(vi)._2 == TInt ||
                  p.params(vi)._2.isInstanceOf[TIntN])
                // any constant step k, direction matching the guard
                step <- recArgs(vi) match {
                  case Bin(Sub, Id(`v`), LitInt(k))
                      if k > 0 && descending => Some(-k)
                  case Bin(Add, Id(`v`), LitInt(k))
                      if k > 0 && !descending => Some(k)
                  case _ => None
                }
                if recArgs.zipWithIndex.forall { case (a, i) =>
                  i == vi || a == Id(p.params(i)._1)
                }
                pnames = p.params.map(_._1).toSet
                // outE must be pure, non-recursive, closed over the params
                if exprOkIn(script, types)(outE, Set(pname), pnames)
                if initArgs.forall(exprOkIn(script, types)(_, Set(pname), Set.empty))
                // the last EMITTED value x satisfies x - step (the caller)
                // still passing the guard; solve per guard shape for the
                // sequence() stop bound (emission happens before the
                // guard, so the first value always emits — runCountedLoop
                // clamps with least/greatest against the init value)
                stop = (descending, inclusive) match {
                  case (true, false)  => c + 1 + step // v >  c, step<0
                  case (false, false) => c - 1 + step // v <  c, step>0
                  case (_, true)      => c + step     // v >= c / v <= c
                }
              } yield UdScript.LoopPlan(p.params, vi, stop, step, outE,
                initArgs)
            case _ => None
          }
        } yield plan
      case _ => None
    }
  }

  private def countOuts(ss: Seq[Stmt]): Int = ss.map {
    case _: OutStmt    => 1
    case IfStmt(cs, o) => cs.map(c => countOuts(c._2)).sum + countOuts(o)
    case _             => 0
  }.sum

  /** Compiles uDLang expressions to Columns over one DataFrame — shared by
    * the column tier and the counted-loop tier. */
  private[lang] final class ColumnCompiler(script: Script,
      types: Typechecker.Types, df: DataFrame) {
    private val funcs: Map[String, FuncStmt] = script.decls.collect {
      case f: FuncStmt => f.name -> f
    }.toMap
    private val lets: Map[String, Expr] = script.decls.collect {
      case LetStmt(n, e) => n -> e
    }.toMap

    /** Declared-type-directed lowering: a record literal targeted at a
      * declared record type builds the struct in DECLARED field order,
      * nulls omitted fields, and materializes the in-struct __present
      * flags from the statically-known literal keys (an omitted
      * absent-optional field IS absence on the way out). Non-literal
      * sources (whole-record passthroughs) already carry their flags. */
    def colOfTyped(e: Expr, t: UdType, binds: Map[String, Column]): Column =
      (e, t) match {
        case (MapExpr(entries), TRecord(fs, _)) =>
          val m = entries.toMap
          val data = fs.map { f =>
            m.get(f.name).map(x => colOfTyped(x, f.t, binds))
              .getOrElse(lit(null).cast(sparkType(f.t))).as(f.name)
          }
          val flags = fs.filter(_.absentOptional).map(f =>
            lit(m.contains(f.name)).as(s"${f.name}__present"))
          struct(data ++ flags: _*)
        case (_, TOption(inner)) => colOfTyped(e, inner, binds)
        case _ => colOf(e, binds)
      }

    def colOf(e: Expr, binds: Map[String, Column]): Column = e match {
      case LitInt(v)   => lit(v)
      case LitFloat(v) => lit(v)
      case LitStr(v)   => lit(v)
      case LitBool(v)  => lit(v)
      case LitNone     => lit(null)
      case In => script.input match {
        case TRecord(_, _) => struct(df.columns.map(df(_)).toSeq: _*)
        case n: TIntN => // scalar sized-int input: same range guard
          val c = df(df.columns.head)
          when(c.isNull || (c >= n.lo && c <= n.hi), c)
            .otherwise(raise_error(concat(
              lit("range: "), c.cast("string"),
              lit(s" not a ${if (n.signed) "I" else "U"}${n.bits}"))))
        case t if typeHasF32(t) =>
          // declared F32 slots round on read (kernel twin: anyToValue)
          // so both tiers see the same float32 values at any depth
          roundF32Col(df(df.columns.head), t)
        case _          => df(df.columns.head)
      }
      case Dot(In, field) =>
        val c = df(field)
        declTypeOf(Dot(In, field)) match {
          // sized ints enforce their declared range in this tier too
          // (kernel twin: anyToValue) — same codegen'd guard shape as
          // UdFunctions.typeCheck
          case Some(n: TIntN) =>
            when(c.isNull || (c >= n.lo && c <= n.hi), c)
              .otherwise(raise_error(concat(
                lit(s"range: "), c.cast("string"),
                lit(s" not a ${if (n.signed) "I" else "U"}${n.bits}"))))
          // declared F32 slots (at any depth: scalars, lists, nested
          // records) round through float32 at the input boundary on BOTH
          // tiers (kernel twin: anyToValue TFloat32)
          case Some(t) if typeHasF32(t) => roundF32Col(c, t)
          case _ => c
        }
      case Dot(x, field)  => colOf(x, binds).getField(field)
      // Has means key PRESENCE when the frame carries a presence flag
      // (JsonRecords/Msgpack absent-vs-null); isNotNull is the fallback
      // for frames without one
      case Has(In, field) if df.columns.contains(s"${field}__present") =>
        df(s"${field}__present")
      // nested absent-optional: the presence flag lives INSIDE the struct
      case Has(x, field) if absentOptionalField(x, field) =>
        coalesce(colOf(x, binds).getField(s"${field}__present"), lit(false))
      case Has(x, field)  => colOf(x, binds).getField(field).isNotNull
      case Id(n) =>
        binds.getOrElse(n,
          lets.get(n).map(colOf(_, binds)).getOrElse(
            throw CompileError(s"unbound in column tier: $n")))
      // columnExpressible admitted the script only if both tables have
      // a member for every operator
      case Bin(op, l, r) =>
        binaryOp(op, types(l), types(r), r).get(colOf(l, binds), colOf(r, binds))
      case Un(op, x) => unaryOp(op, types(x)).get(colOf(x, binds))
      case Cond(cases, otherwise) =>
        val w = cases.foldLeft[Option[Column]](None) {
          case (None, (c, t)) =>
            Some(when(condOf(c, binds), colOf(t, binds)))
          case (Some(acc), (c, t)) =>
            Some(acc.when(condOf(c, binds), colOf(t, binds)))
        }
        w.get.otherwise(colOf(otherwise, binds))
      case Index(x, LitInt(i)) => element_at(colOf(x, binds), i.toInt + 1)
      case MapExpr(entries) => // record literal → struct
        struct(entries.map { case (k, v) => colOf(v, binds).as(k) }: _*)
      // `as F32` is numerically real: round through float32 and come
      // back to the Double carrier (bit-exact with DuckDB CAST(x AS REAL))
      case Cast(x, TFloat32) =>
        colOf(x, binds).cast(FloatType).cast(DoubleType)
      case Cast(x, t) => colOf(x, binds).cast(sparkType(t))
      case Comprehension(c, Lambda(Seq((p, _)), _, body)) =>
        transform(colOf(c, binds), x => colOf(body, binds + (p -> x)))
      case Call(Id("point"), Seq(a, b)) => struct(
        colOf(a, binds).cast(DoubleType).as("x"),
        colOf(b, binds).cast(DoubleType).as("y"))
      case Call(Id("sqrt"), Seq(a)) => sqrt(colOf(a, binds).cast(DoubleType))
      case Call(Id("cos"), Seq(a))  => cos(colOf(a, binds).cast(DoubleType))
      case Call(Id("sin"), Seq(a))  => sin(colOf(a, binds).cast(DoubleType))
      case Call(Id("floor"), Seq(a)) =>
        floor(colOf(a, binds).cast(DoubleType)).cast(DoubleType)
      case Call(Id("ceil"), Seq(a)) =>
        ceil(colOf(a, binds).cast(DoubleType)).cast(DoubleType)
      case Call(Id(n), args) =>
        val f = funcs.getOrElse(n,
          throw CompileError(s"unknown func in column tier: $n"))
        val argCols = f.params.zip(args).map { case ((pn, pt), a) =>
          val c = colOf(a, binds)
          // declared-boundary widening (Int arg to Float param);
          // F32 params round through float32 (precision-honest)
          pn -> (if (pt == TFloat) c.cast(DoubleType)
                 else if (pt == TFloat32) c.cast(FloatType).cast(DoubleType)
                 else c)
        }.toMap
        colOf(f.body, binds ++ argCols)
      case Match(scrut, cases, default) =>
        val sc = colOf(scrut, binds)
        // type patterns narrow a tagged-struct union: CASE over _tag with
        // the binder bound to the branch slot
        val unionBranches: Option[Seq[UdType]] = declTypeOf(scrut) match {
          case Some(TUnion(ts)) if !ts.forall(_.isInstanceOf[TValue]) =>
            Some(ts)
          case _ => None
        }
        val w = cases.foldLeft[Option[Column]](None) {
          case (acc, (p, body)) =>
            val (cond, caseBinds) = p match {
              case PLitStr(v) => (sc === lit(v), binds)
              case PLitInt(v) => (sc === lit(v), binds)
              case PType(binder, t) if unionBranches.isDefined =>
                val ts = unionBranches.get
                val slots = patternSlots(ts, t).getOrElse(
                  throw CompileError(s"pattern $t binds slots of different types"))
                val tag = sc.getField("_tag")
                def isTag(i: Int) = tag === lit(tagOf(ts(i)))
                def slot(i: Int) = sc.getField(s"v$i")
                val cond = slots.map { case (i, test) =>
                  test.fold(isTag(i))(f => isTag(i) && f(slot(i)))
                }.reduceOption(_ || _).getOrElse(lit(false))
                // the binder is the slot of whichever matched branch is set
                val bound = slots match {
                  case Seq((i, _)) => slot(i)
                  case _ => slots.map(_._1).foldLeft(lit(null)) {
                    case (acc, i) => when(isTag(i), slot(i)).otherwise(acc)
                  }
                }
                (cond, binds + (binder -> bound))
              case other =>
                throw CompileError(s"pattern $other needs kernel tier")
            }
            val bv = colOf(body, caseBinds)
            Some(acc.fold(when(cond, bv))(_.when(cond, bv)))
        }
        default match {
          case Some(d) => w.get.otherwise(colOf(d, binds))
          case None    => w.get
        }
      case BlockExpr(Seq(), result) => colOf(result, binds)
      case other =>
        throw CompileError(s"not column-expressible: $other")
    }

    /** A condition as a Bool column (`exprOkIn` admitted its type). */
    def condOf(c: Expr, binds: Map[String, Column]): Column =
      condition(types(c)).get(colOf(c, binds))

    /** Declared type of input-rooted expressions (enough for union
      * narrowing and nested presence; anything else is untyped at this
      * layer). Walks arbitrary Dot chains off `in`. */
    private def declTypeOf(e: Expr): Option[UdType] = e match {
      case In => Some(script.input)
      case Dot(x, f) => declTypeOf(x).map {
        case TOption(inner) => inner
        case t              => t
      }.flatMap {
        case TRecord(fs, _) => fs.find(_.name == f).map(_.t)
        case _              => None
      }
      case _ => None
    }

    /** Is `field` declared absent-optional on the record-typed expr x? */
    private[lang] def absentOptionalField(x: Expr, field: String): Boolean =
      declTypeOf(x).map {
        case TOption(inner) => inner
        case t              => t
      }.exists {
        case TRecord(fs, _) =>
          fs.find(_.name == field).exists(_.absentOptional)
        case _ => false
      }
  }

  /** Column-tier twin of the F32 leaves of `anyToValue` and
    * `valueToRow`: rebuild a column of declared type t
    * with every F32 slot rounded through float32 — recursing through
    * options, lists, maps, tuples, and nested records (whose in-struct
    * presence flags pass through untouched). No-op when t has no F32. */
  private def roundF32Col(c: Column, t: UdType): Column =
    if (!typeHasF32(t)) c
    else t match {
      case TFloat32       => c.cast(FloatType).cast(DoubleType)
      case TOption(inner) => roundF32Col(c, inner)
      case TList(et)      => transform(c, x => roundF32Col(x, et))
      case TMap(vt)       => transform_values(c, (_, x) => roundF32Col(x, vt))
      case TTuple(ts)     =>
        val slots = ts.zipWithIndex.map { case (x, i) =>
          roundF32Col(c.getField(s"_${i + 1}"), x).as(s"_${i + 1}")
        }
        when(c.isNull, lit(null).cast(sparkType(t)))
          .otherwise(struct(slots: _*))
      case rec @ TRecord(fs, _) =>
        val dataCols = fs.map(f =>
          roundF32Col(c.getField(f.name), f.t).as(f.name))
        val flagCols = fs.filter(_.absentOptional).map(f =>
          c.getField(s"${f.name}__present").as(s"${f.name}__present"))
        when(c.isNull, lit(null).cast(sparkType(rec)))
          .otherwise(struct(dataCols ++ flagCols: _*))
      case _ => c
    }

  /** Project the declared output record/scalar from a compiled out-expr. */
  private def projectOut(script: Script, cc: ColumnCompiler, base: DataFrame,
                         outE: Expr, binds: Map[String, Column]): DataFrame = {
    val outSchema = schemaOf(script.output)
    // declared F32 OUTPUT slots (at any depth) round through float32 on
    // emit, matching the kernel tier's declared-boundary coercion
    def outCast(c: Column, t: UdType, dt: DataType): Column =
      if (typeHasF32(t)) roundF32Col(c, t).cast(dt) else c.cast(dt)
    script.output match {
      case TRecord(fs, _) =>
        val v = cc.colOfTyped(outE, script.output, binds)
        base.select(fs.map(f => outCast(v.getField(f.name), f.t,
          outSchema(f.name).dataType).as(f.name)): _*)
      case t =>
        base.select(outCast(cc.colOf(outE, binds), t,
          outSchema.fields(0).dataType).as("out"))
    }
  }

  /** Lower to a native plan: each control path contributes a (guard,
    * value) pair; single-path → filter+project, multi-path → union.
    *
    * Known tier divergence (documented, not observable for declared
    * non-None outputs): the kernel skips `out` of a none VALUE at
    * runtime, while a column-tier out whose expression evaluates to null
    * emits a null row — a column-tier body can only produce none from
    * nullable data, which the eligibility check doesn't admit today. */
  def runColumn(script: Script, types: Typechecker.Types,
                df: DataFrame): DataFrame = {
    val cc = new ColumnCompiler(script, types, df)

    // collect control paths: (guard, outExpr)
    def paths(ss: Seq[Stmt], guard: Option[Column]): Seq[(Option[Column], Expr)] =
      ss.flatMap {
        case OutStmt(e) => Seq((guard, e))
        case IfStmt(cases, otherwise) =>
          var notPrev: Option[Column] = None
          val branchPaths = cases.flatMap { case (c, blk) =>
            val cond = cc.condOf(c, Map.empty)
            val g = Seq(guard, notPrev, Some(cond)).flatten.reduce(_ && _)
            // a null condition is false (Interp.truthy), so a later
            // branch's guard reads it as false too
            val notC = !coalesce(cond, lit(false))
            notPrev = Some(notPrev.fold(notC)(_ && notC))
            paths(blk, Some(g))
          }
          val elsePaths =
            if (otherwise.isEmpty) Seq.empty
            else {
              val g = Seq(guard, notPrev).flatten
                .reduceOption(_ && _)
              paths(otherwise, g.orElse(Some(lit(true))))
            }
          branchPaths ++ elsePaths
        case _ => Seq.empty
      }

    val allPaths = paths(script.body, None)
    def project(p: (Option[Column], Expr)): DataFrame =
      projectOut(script, cc, p._1.map(df.filter).getOrElse(df), p._2,
        Map.empty)
    allPaths.map(project).reduce(_ unionAll _)
  }

  /** Counted-loop tier: the loop variable becomes an exploded
    * sequence(v0, stop, ±1) column — same values, same per-record emission
    * order as the recursive kernel, but fully codegen'd and pipelined (the
    * Generate sits in the same WholeStageCodegen span as the projection).
    * stop clamps at the guard bound: the kernel always emits the first
    * value, then steps while the guard holds, so the emitted range is
    * v0 .. least/greatest(v0, bound). */
  def runCountedLoop(script: Script, types: Typechecker.Types,
                     lp: UdScript.LoopPlan, df: DataFrame): DataFrame = {
    val loopCol = "__ud_loop"
    val cc = new ColumnCompiler(script, types, df)
    val initV = cc.colOf(lp.initArgs(lp.vi), Map.empty).cast(LongType)
    val stop =
      if (lp.step < 0) least(initV, lit(lp.bound))
      else greatest(initV, lit(lp.bound))
    val df2 = df.withColumn(loopCol,
      explode(sequence(initV, stop, lit(lp.step))))
    val cc2 = new ColumnCompiler(script, types, df2)
    val binds = lp.params.zipWithIndex.map { case ((pn, _), i) =>
      pn -> (if (i == lp.vi) df2(loopCol)
             else cc2.colOf(lp.initArgs(i), Map.empty))
    }.toMap
    projectOut(script, cc2, df2, lp.outE, binds)
  }

  /** Kernel tier: `kernel` inside a typed flatMap over Rows. */
  def runKernel(script: Script, df: DataFrame,
                libs: Map[String, Values.Value] = Map.empty): DataFrame =
    df.flatMap(kernel(script, libs))(Encoders.row(schemaOf(script.output)))

  /** Kernel tier with dead-letter routing: each input row maps to ONE
    * tagged row {_out: [outputs], _error, _in}; the two legs are cheap
    * filters over it. A `throw` (UdException) anywhere in the record's
    * evaluation — effect-annotated funcs included — drops that record's
    * outputs and carries the message; any other exception still aborts
    * the job (a bug is not data). The tagged rows are materialized once
    * (an eager local checkpoint), so consuming both legs evaluates each
    * record once and a `!` trace prints once per record. A streaming frame
    * cannot be checkpointed: there each leg evaluates the record itself. */
  def runKernelEither(script: Script, df: DataFrame,
                      libs: Map[String, Values.Value] = Map.empty)
      : (DataFrame, DataFrame) = {
    val k = kernel(script, libs)
    val tagSchema = StructType(Seq(
      StructField("_out", ArrayType(schemaOf(script.output))),
      StructField("_error", StringType),
      StructField("_in", df.schema)))
    val routed = df.map { row =>
      try Row(k(row), null, row)
      catch { case e: UdException => Row(null, e.message, row) }
    }(Encoders.row(tagSchema))
    val tagged =
      if (df.isStreaming) routed else routed.localCheckpoint(eager = true)
    val good = tagged.filter(col("_error").isNull)
      .select(explode(col("_out")).as("_o")).select(col("_o.*"))
    val dlq = tagged.filter(col("_error").isNotNull)
      .select(col("_in.*"), col("_error"))
    (good, dlq)
  }
}
