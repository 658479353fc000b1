package graft.sources

import scala.collection.immutable.ArraySeq
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import graft.lang.Ast._
import graft.lang.UdScript
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON record ingest/egress — the reference's wire-format story (§1.4):
  * msgpack framing is delegated to lift/lower companions; JSON is the MVP
  * format (roadmap.md:25-26). Here: JSON-lines ⇄ DataFrame with the
  * DECLARED uDLang input type as the schema (no inference, ever), the
  * validation modes of ValidatedIngest, and absent-vs-null preservation.
  *
  * Absent vs null (README.md:220-228, SURVEY §7.4 hard part #2):
  * `blocker?: U32` (absent-optional) and `blocker: U32?` (nullable) both
  * surface as nullable columns after from_json — so for every
  * absent-optional field we add a presence column `<name>__present` =
  * whether the key exists in the payload. `rec.?.field` (Has) then means
  * presence, not non-null, exactly as the reference distinguishes them.
  */
object JsonRecords {

  /** True union INGEST (manual.md:112-115): a declared `Int | Str` field
    * arrives as its RAW JSON value, and the tag is inferred at validation
    * time from the value's JSON type — the payload is parsed ONCE into a
    * VARIANT and each branch tests schema_of_variant (exact: a quoted
    * "42" is STRING, never Int; an array never matches a Str branch).
    * The FIRST matching branch in declared order wins. Extraction is a
    * type-aligned variant cast, so no branch re-parses the payload —
    * from_json probes were one Jackson parse PER BRANCH per row.
    * Split into two halves so each can be pinned once per row (see
    * read): `unionTag` infers the branch from the extracted variant
    * value `vg`, and `unionStruct` builds the tagged struct from the
    * MATERIALIZED (vg, tag) pair — so the schema probes are not
    * re-inlined into every struct slot and validation check.
    * A JSON-null or missing key yields a null union. */
  def unionTag(vg: Column, ts: Seq[UdType]): Column = {
    val sv = schema_of_variant(vg)
    def typeMatches(bt: UdType): Column = bt match {
      case TInt | TIntN(_, _) => sv === "BIGINT"
      case TFloat => sv === "DOUBLE" || sv.startsWith("DECIMAL")
      case TStr   => sv === "STRING"
      case TBool  => sv === "BOOLEAN"
      case TValue(s) => sv === "STRING" &&
        try_variant_get(vg, "$", "string") === s
      case TList(_)  => sv.startsWith("ARRAY")
      case TRecord(_, _) | TPoint | TMap(_) => sv.startsWith("OBJECT")
      case _ => lit(false)
    }
    coalesce(ts.map(bt =>
      when(typeMatches(bt), lit(UdScript.tagOf(bt)))): _*)
  }

  def unionStruct(vg: Column, tag: Column, ts: Seq[UdType]): Column = {
    val slots = ts.zipWithIndex.map { case (bt, i) =>
      val dt = UdScript.sparkType(bt)
      when(tag === lit(UdScript.tagOf(bt)),
        try_variant_get(vg, "$", dt.catalogString))
        .otherwise(lit(null).cast(dt)).as(s"v$i")
    }
    when(tag.isNotNull, struct(tag.as("_tag") +: slots: _*))
  }

  /** Does t contain a NESTED record with absent-optional fields (whose
    * presence flags live inside the struct)? Lists are out of scope —
    * per-element presence has no column to live in. */
  private def hasNestedPresence(t: UdType): Boolean = t match {
    case TRecord(fs, _) =>
      fs.exists(_.absentOptional) || fs.exists(f => hasNestedPresence(f.t))
    case TOption(x) => hasNestedPresence(x)
    case _ => false
  }

  /** Rebuild a nested record column with its in-struct __present flags
    * populated from the variant (key present ⟺ variant_get non-null,
    * even for a JSON-null value). Recurses through nested records. */
  private def withNestedPresence(pv: Column, base: Column, path: String,
                                 t: UdType): Column = t match {
    case TOption(x) => withNestedPresence(pv, base, path, x)
    case TRecord(fs, _) =>
      val parts = fs.map { f =>
        withNestedPresence(pv, base.getField(f.name), s"$path.${f.name}",
          f.t).as(f.name)
      } ++ fs.filter(_.absentOptional).map { f =>
        variant_get(pv, s"$path.${f.name}", "variant").isNotNull
          .as(s"${f.name}__present")
      }
      when(base.isNotNull, struct(parts: _*))
    case _ => base
  }

  /** General (non-enum) union branches of a declared field, if any. */
  private def unionBranches(t: UdType): Option[Seq[UdType]] = t match {
    case TUnion(ts) if !ts.forall(_.isInstanceOf[TValue]) => Some(ts)
    case TOption(inner) => unionBranches(inner)
    case _ => None
  }

  /** Can every field of the declared record be extracted STRICTLY from
    * the variant parse alone? Scalars, enums and unions qualify; nested
    * records / lists / maps keep the from_json path (their leaf-level
    * strictness is Jackson's, and per-element presence lives there). */
  private def flatExtractable(t: UdType): Boolean = t match {
    case TInt | TIntN(_, _) | TFloat | TFloat32 | TStr | TBool => true
    case TOption(x) => flatExtractable(x)
    case TUnion(ts) if ts.forall(_.isInstanceOf[TValue]) => true // enum
    case TUnion(_) => true // general unions use the variant machinery
    case _ => false
  }

  /** Strict scalar extraction from a variant value: the JSON type must
    * MATCH the declared type (same posture as the msgpack decoder's
    * typed coerce — a quoted "42" never populates an Int field, an int
    * never populates a Str field; a Float accepts any JSON number). A
    * type mismatch extracts null, which the type:<f> check then routes
    * by mode. Every TOP-LEVEL scalar/enum field goes through this
    * extraction — whether or not the record also has nested fields — so
    * a field's validation semantics never depend on its siblings.
    * (Inside nested records the leaf strictness is Jackson's, as
    * flatExtractable documents.) */
  private def strictExtract(vg: Column, t: UdType): Column = t match {
    case TOption(x) => strictExtract(vg, x)
    case TInt | TIntN(_, _) =>
      when(schema_of_variant(vg) === "BIGINT",
        try_variant_get(vg, "$", "bigint"))
    case TFloat =>
      val sv = schema_of_variant(vg)
      when(sv === "BIGINT" || sv === "DOUBLE" || sv.startsWith("DECIMAL"),
        try_variant_get(vg, "$", "double"))
    case TFloat32 => // float32-rounded at the ingest boundary
      strictExtract(vg, TFloat).cast("float").cast("double")
    case TBool =>
      when(schema_of_variant(vg) === "BOOLEAN",
        try_variant_get(vg, "$", "boolean"))
    case _ => // TStr and string-literal enums ride as strings
      when(schema_of_variant(vg) === "STRING",
        try_variant_get(vg, "$", "string"))
  }

  /** The literals of a string-literal enum field, if it is one. */
  private def enumLits(t: UdType): Option[Seq[String]] = t match {
    case TUnion(ts) if ts.nonEmpty && ts.forall(_.isInstanceOf[TValue]) =>
      Some(ts.collect { case TValue(s) => s })
    case TOption(x) => enumLits(x)
    case _ => None
  }

  /** The declared range of a sized-int field, if it is one. */
  private def sizedInt(t: UdType): Option[TIntN] = t match {
    case n: TIntN   => Some(n)
    case TOption(x) => sizedInt(x)
    case _          => None
  }

  /** Parse a JSON-lines Dataset under a declared uDLang record type.
    * Output columns = declared fields (+ `__present` flags for
    * absent-optional ones). Malformed payloads follow `mode`.
    *
    * The payload is parsed exactly TWICE per row — once into a VARIANT
    * (`_pv`: presence / union-tag / missing-vs-null probes) and once
    * under the declared schema (`_rec`: the typed data) — in a
    * projection of their own, with every downstream probe referencing
    * the shared columns. Subexpression elimination alone is not enough:
    * it skips conditionally-evaluated branches (when/coalesce arms), so
    * rooting the probes at a materialized alias is what guarantees one
    * parse per row; CollapseProject keeps the stage split because the
    * parses are non-cheap and multiply-referenced. */
  def read(s: SparkSession, lines: Dataset[String], declared: TRecord,
           mode: ValidatedIngest.Mode): ValidatedIngest.Validated = {
    val schema: StructType = UdScript.schemaOf(declared)
    val raw = lines.toDF("_payload")
    val payload = col("_payload")
    val once = graft.plans.Materialized.once _
    // FLAT schemas (scalars / enums / unions only) need no from_json at
    // all — every field extracts strictly from the one variant parse,
    // halving the per-row Jackson work. Nested shapes keep from_json for
    // their nested fields, but TOP-LEVEL scalars still extract strictly
    // from the variant so field semantics don't depend on siblings.
    val flat = declared.fields.forall(f => flatExtractable(f.t))
    val parsed0 =
      if (flat) raw.select(payload, once(try_parse_json(payload)).as("_pv"))
      else raw.select(payload,
        once(try_parse_json(payload)).as("_pv"),
        once(from_json(payload, schema)).as("_rec"))
    val pv = col("_pv")
    val rec = col("_rec")
    val unionFields = declared.fields.flatMap(f =>
      unionBranches(f.t).map(f.name -> _))
    val unionNames = unionFields.map(_._1).toSet
    def strictField(f: TField): Boolean =
      !unionNames.contains(f.name) && flatExtractable(f.t)
    // Pin every strict scalar extraction (and, per union field, the
    // extracted variant value and inferred tag) ONCE per row — the
    // variant probes would otherwise be re-instantiated in the data
    // column AND each validation check that mentions the field, and
    // subexpression elimination skips conditionally-evaluated arms.
    val pinned = parsed0.columns.map(col).toSeq ++
      unionFields.flatMap { case (n, ts) =>
        val vg = variant_get(pv, s"$$.$n", "variant")
        Seq(once(vg).as(s"_vg_$n"),
          once(unionTag(vg, ts)).as(s"_tag_$n"))
      } ++
      declared.fields.filter(strictField).map(f =>
        once(strictExtract(
          variant_get(pv, s"$$.${f.name}", "variant"), f.t))
          .as(s"_fx_${f.name}"))
    val parsed =
      if (pinned.size == parsed0.columns.size) parsed0
      else parsed0.select(pinned: _*)
    // Declared-type field access: pinned strict variant extraction for
    // top-level scalars/enums, from_json struct access for nested shapes.
    def fieldCol(f: TField): Column =
      if (strictField(f)) col(s"_fx_${f.name}")
      else rec.getField(f.name)
    val unions: Map[String, (Column, Column, Column)] = unionFields.map {
      case (n, ts) =>
        val vg = col(s"_vg_$n")
        val tag = col(s"_tag_$n")
        val presentNonNull = vg.isNotNull &&
          !coalesce(is_variant_null(vg), lit(false))
        n -> (unionStruct(vg, tag, ts), tag, presentNonNull)
    }.toMap
    val dataCols =
      declared.fields.map { f =>
        unions.get(f.name) match {
          case Some((structCol, _, _)) => structCol.as(f.name)
          case None if hasNestedPresence(f.t) =>
            withNestedPresence(pv, rec.getField(f.name), s"$$.${f.name}",
              f.t).as(f.name)
          case None => fieldCol(f).as(f.name)
        }
      } ++
        declared.fields.filter(_.absentOptional).map(f =>
          variant_get(pv, s"$$.${f.name}", "variant").isNotNull
            .as(s"${f.name}__present"))
    // type-safe by default: a PRESENT, non-null value that fails its
    // declared field type (from_json is strict, so the parsed field is
    // null exactly then) is an invalid record, not a silent null — the
    // same posture as the msgpack decoder's coerce errors
    val typeChecks = declared.fields
      .filterNot(f => unions.contains(f.name)).map { f =>
        val vg = variant_get(pv, s"$$.${f.name}", "variant")
        val presentNonNull = vg.isNotNull &&
          !coalesce(is_variant_null(vg), lit(false))
        when(presentNonNull && fieldCol(f).isNull,
          lit(s"type:${f.name}"))
      }
    // string-literal enums (ValueType unions) are a CHECK constraint at
    // ingest (README.md:218): a value outside the declared literals is
    // an invalid record
    val enumChecks = declared.fields.flatMap(f => enumLits(f.t).map { lits =>
      val c = fieldCol(f)
      when(c.isNotNull && !c.isin(lits: _*), lit(s"bad_enum:${f.name}"))
    })
    // sized-int declared ranges are boundary checks too (same posture as
    // the msgpack decoder): out-of-range values route by mode
    val rangeChecks = declared.fields.flatMap(f => sizedInt(f.t).map { n =>
      val c = fieldCol(f)
      when(c.isNotNull && (c < n.lo || c > n.hi), lit(s"range:${f.name}"))
    })
    // a REQUIRED field (neither absent-optional nor T?) must be present
    // and non-null — the msgpack decoder's missing:<f> posture, extended
    // with null:<f> for an explicit JSON null
    val requiredChecks = declared.fields
      .filterNot(f => f.absentOptional || f.t.isInstanceOf[TOption]).map { f =>
        val vg = variant_get(pv, s"$$.${f.name}", "variant")
        when(vg.isNull, lit(s"missing:${f.name}"))
          .when(coalesce(is_variant_null(vg), lit(false)),
            lit(s"null:${f.name}"))
      }
    val reason = coalesce(
      (when(pv.isNull, lit("malformed_json:_payload")) +:
        unionFields.map { case (n, _) =>
          val (_, tag, presentNonNull) = unions(n)
          when(presentNonNull && tag.isNull, lit(s"union_no_branch:$n"))
        }) ++ typeChecks ++ enumChecks ++ rangeChecks ++ requiredChecks: _*)
    val tagged = parsed.select(
      (payload +: dataCols) :+ reason.as("_invalid_reason"): _*)
    val routed = ValidatedIngest.routeTagged(tagged, mode)
    ValidatedIngest.Validated(routed.good.drop("_payload"),
      if (routed.bad.columns.isEmpty) routed.bad
      else routed.bad.select(col("_payload"), col("_invalid_reason")))
  }

  // ---- per-record decode without a session (the CLI's stdin leg) ----
  //
  // A parsed payload is a small tree of plain values: JsonNull, Boolean,
  // Long (an integer that fits, what `schema_of_variant` calls BIGINT),
  // BigInteger (a wider integer), Double, String, Vector (array) and
  // LinkedHashMap (object, in key order). jackson-core's streaming parser
  // builds it; databind's ObjectMapper would load ~400 classes at start-up.

  private[graft] case object JsonNull

  private object Malformed extends RuntimeException(null, null, false, false)

  private val jsonFactory = new JsonFactory()

  /** The payload's first JSON value, or null when it is malformed (as
    * for `try_parse_json`: empty, invalid, or — when `strict` — holding a
    * duplicate key; `from_json` keeps the last of duplicates instead).
    * Text after the first value is ignored, as by both. */
  private[graft] def parseOrNull(text: String, strict: Boolean): Any = {
    import com.fasterxml.jackson.core.JsonToken._
    val p = jsonFactory.createParser(text)
    def value(t: JsonToken): Any = t match {
      case START_OBJECT =>
        val m = new java.util.LinkedHashMap[String, Any]()
        while (p.nextToken() == FIELD_NAME) {
          val k = p.currentName
          if (m.put(k, value(p.nextToken())) != null && strict) throw Malformed
        }
        m
      case START_ARRAY =>
        val b = Vector.newBuilder[Any]
        var e = p.nextToken()
        while (e != END_ARRAY) { b += value(e); e = p.nextToken() }
        b.result()
      case VALUE_STRING => p.getText
      case VALUE_NUMBER_INT =>
        if (p.getNumberType == JsonParser.NumberType.BIG_INTEGER)
          p.getBigIntegerValue
        else p.getLongValue
      case VALUE_NUMBER_FLOAT => p.getDoubleValue
      case VALUE_TRUE  => true
      case VALUE_FALSE => false
      case VALUE_NULL  => JsonNull
      case _ => throw Malformed
    }
    try {
      val t = p.nextToken()
      if (t == null) null else value(t)
    } catch {
      case _: java.io.IOException | Malformed => null
    } finally p.close()
  }

  private def field(obj: Any, name: String): Any = obj match {
    case m: java.util.LinkedHashMap[_, _] => m.get(name)
    case _ => null
  }

  private def isNull(n: Any): Boolean = n == null || n == JsonNull

  private def asDouble(n: Any): Any = n match {
    case x: Long   => x.toDouble
    case x: Double => x
    case x: java.math.BigInteger => x.doubleValue
    case _ => null
  }

  private def row(values: Seq[Any], st: StructType): Row =
    new GenericRowWithSchema(values.toArray, st)

  /** `strictExtract` over a parsed value: null unless the JSON type is
    * the declared one. */
  private def strictValue(n: Any, t: UdType): Any = (n, t) match {
    case (_, TOption(x)) => strictValue(n, x)
    case (x: Long, TInt | TIntN(_, _)) => x
    case (_, TFloat) => asDouble(n)
    case (_, TFloat32) =>
      asDouble(n) match { case d: Double => d.toFloat.toDouble; case _ => null }
    case (b: Boolean, TBool) => b
    case (s: String, TStr | TUnion(_) | TValue(_)) => s
    case _ => null
  }

  /** The branch test of `unionTag`, on a parsed value. */
  private def branchMatches(n: Any, bt: UdType): Boolean = (n, bt) match {
    case (_: Long, TInt | TIntN(_, _)) => true
    case (_: Double | _: java.math.BigInteger, TFloat) => true
    case (_: String, TStr)  => true
    case (_: Boolean, TBool) => true
    case (x: String, TValue(s)) => x == s
    case (_: Vector[_], TList(_)) => true
    case (_: java.util.LinkedHashMap[_, _], TRecord(_, _) | TPoint | TMap(_)) => true
    case _ => false
  }

  /** `try_variant_get` of a union slot: leaves that do not cast are null,
    * fractional numbers truncate into a Long slot, a String slot takes
    * any value as its JSON text. */
  private def variantCast(n: Any, dt: DataType): Any =
    if (isNull(n)) null
    else (n, dt) match {
      case (x: Long, LongType)   => x
      case (x: Double, LongType) => if (x.abs < 9.2e18) x.toLong else null
      case (_, DoubleType)       => asDouble(n)
      case (b: Boolean, BooleanType) => b
      case (s: String, StringType)   => s
      case (_, StringType)           => render(n, null)
      case (xs: Vector[_], ArrayType(et, _)) =>
        ArraySeq.from(xs.map(variantCast(_, et)))
      case (m: java.util.LinkedHashMap[_, _], st: StructType) =>
        row(st.fields.toSeq.map(f => variantCast(m.get(f.name), f.dataType)), st)
      case (m: java.util.LinkedHashMap[_, _], MapType(_, vt, _)) =>
        m.asScala.map { case (k, x) => String.valueOf(k) -> variantCast(x, vt) }.toMap
      case _ => null
    }

  private object Unconvertible extends RuntimeException(null, null, false, false)

  /** `from_json` (PERMISSIVE, partial results) of one value: a token the
    * type cannot take throws; a struct keeps its other fields, an array
    * or map fails whole. A string takes any JSON value as its compact
    * text. */
  private def fromJson(n: Any, dt: DataType): Any =
    if (isNull(n)) null
    else (n, dt) match {
      case (x: Long, LongType) => x
      case (_: Long | _: Double | _: java.math.BigInteger, DoubleType) =>
        asDouble(n)
      case (s: String, DoubleType) => s match {
        case "NaN" => Double.NaN
        case "+INF" | "+Infinity" | "Infinity" => Double.PositiveInfinity
        case "-INF" | "-Infinity" => Double.NegativeInfinity
        case _ => throw Unconvertible
      }
      case (b: Boolean, BooleanType) => b
      case (s: String, StringType)   => s
      case (_, StringType)           => render(n, null)
      case (xs: Vector[_], ArrayType(et, _)) =>
        ArraySeq.from(xs.map(fromJson(_, et)))
      case (m: java.util.LinkedHashMap[_, _], MapType(_, vt, _)) =>
        m.asScala.map { case (k, x) => String.valueOf(k) -> fromJson(x, vt) }.toMap
      case (m: java.util.LinkedHashMap[_, _], st: StructType) =>
        row(st.fields.toSeq.map { f =>
          try fromJson(m.get(f.name), f.dataType)
          catch { case Unconvertible => null }
        }, st)
      case (_, NullType) => null
      case _ => throw Unconvertible
    }

  /** `withNestedPresence` over a parsed value: in-struct `__present`
    * flags say whether the key exists, even with a null value. */
  private def nestedPresence(n: Any, base: Any, t: UdType,
                             dt: DataType): Any = (t, base, n) match {
    case (TOption(x), _, _) => nestedPresence(n, base, x, dt)
    case (TRecord(fs, _), r: Row, m: java.util.LinkedHashMap[_, _]) =>
      val st = dt.asInstanceOf[StructType]
      row(fs.map { f =>
        nestedPresence(m.get(f.name), r.get(st.fieldIndex(f.name)), f.t,
          st(f.name).dataType)
      } ++ fs.filter(_.absentOptional).map(f => m.containsKey(f.name)), st)
    case _ => base
  }

  /** A per-line decoder for a declared record, with no session: each
    * line becomes the row `read` tags before routing (declared fields,
    * `__present` flags, `_invalid_reason`), with the same reasons in the
    * same precedence. Malformedness and top-level scalars follow the
    * variant parse, nested shapes follow `from_json`. */
  def lineDecoder(declared: TRecord): String => Row = {
    val schema = Msgpack.decodedSchema(declared)
    val fs = declared.fields
    val dts = fs.map(f => UdScript.sparkType(f.t))
    val unions = fs.map(f => unionBranches(f.t))
    val strict = fs.zip(unions).map { case (f, u) =>
      u.isEmpty && flatExtractable(f.t) }
    val absentOpt = fs.filter(_.absentOptional).map(_.name)
    val nulls = Array.fill[Any](schema.length - 1)(null)
    absentOpt.indices.foreach(i => nulls(fs.length + i) = false)
    line => {
      val pv = parseOrNull(line, strict = true)
      if (pv == null) row(nulls.toSeq :+ "malformed_json:_payload", schema)
      else {
        val nodes = fs.map(f => field(pv, f.name))
        // what `read` tests: the strict extraction or the from_json field
        // (a payload with no duplicate key parses the same for both)
        val fieldVals = fs.indices.map { i =>
          if (unions(i).nonEmpty) null
          else if (strict(i)) strictValue(nodes(i), fs(i).t)
          else try fromJson(nodes(i), dts(i))
          catch { case Unconvertible => null }
        }
        val presentNonNull = nodes.map(n => !isNull(n))
        val tags = fs.indices.map(i => unions(i).flatMap { ts =>
          if (!presentNonNull(i)) None
          else ts.find(branchMatches(nodes(i), _)).map(UdScript.tagOf)
        })
        val data = fs.indices.map { i =>
          unions(i) match {
            case Some(ts) => tags(i).map { tag =>
              val st = dts(i).asInstanceOf[StructType]
              row(tag +: ts.indices.map(j =>
                if (UdScript.tagOf(ts(j)) == tag)
                  variantCast(nodes(i), st(j + 1).dataType)
                else null), st)
            }.orNull
            case None if hasNestedPresence(fs(i).t) =>
              nestedPresence(nodes(i), fieldVals(i), fs(i).t, dts(i))
            case None => fieldVals(i)
          }
        }
        def first(checks: Iterator[Option[String]]): String =
          checks.collectFirst { case Some(r) => r }.orNull
        val reason = first(
          fs.indices.iterator.map(i =>
            if (unions(i).nonEmpty && presentNonNull(i) && tags(i).isEmpty)
              Some(s"union_no_branch:${fs(i).name}") else None) ++
          fs.indices.iterator.map(i =>
            if (unions(i).isEmpty && presentNonNull(i) && fieldVals(i) == null)
              Some(s"type:${fs(i).name}") else None) ++
          fs.indices.iterator.map(i => enumLits(fs(i).t).flatMap { lits =>
            val v = fieldVals(i)
            if (v != null && !lits.contains(v)) Some(s"bad_enum:${fs(i).name}")
            else None
          }) ++
          fs.indices.iterator.map(i => sizedInt(fs(i).t).flatMap { n =>
            fieldVals(i) match {
              case v: Long if !n.contains(v) => Some(s"range:${fs(i).name}")
              case _ => None
            }
          }) ++
          fs.indices.iterator.map { i =>
            val f = fs(i)
            if (f.absentOptional || f.t.isInstanceOf[TOption]) None
            else if (nodes(i) == null) Some(s"missing:${f.name}")
            else if (nodes(i) == JsonNull) Some(s"null:${f.name}")
            else None
          })
        row((data ++ absentOpt.map(n => field(pv, n) != null)) :+ reason,
          schema)
      }
    }
  }

  /** The tagged frame of a scalar-input script: `value` and the reason
    * it is invalid (null when valid). */
  def scalarSchema(t: UdType): StructType = StructType(Seq(
    StructField("value", UdScript.sparkType(t)),
    StructField("_invalid_reason", StringType)))

  /** A per-line decoder for a scalar-input script, with no session: the
    * row `readScalar` tags, with the same reasons. */
  def scalarDecoder(t: UdType): String => Row = {
    val schema = scalarSchema(t)
    val dt = schema("value").dataType
    line => {
      val (v, reason) =
        parseOrNull("{\"value\":" + line + "}", strict = true) match {
          case m: java.util.LinkedHashMap[_, _] => m.get("value") match {
            case null => (null, "missing:value")
            case JsonNull =>
              (null, if (t.isInstanceOf[TOption]) null else "null:value")
            case n =>
              val x = try fromJson(n, dt) catch { case Unconvertible => null }
              (x, if (x == null) "type:value" else null)
          }
          case _ => (null, "malformed_json:_payload")
        }
      row(Seq(v, reason), schema)
    }
  }

  /** Parse one JSON value per line under a declared scalar type: the
    * value is `from_json` of `{"value":<line>}`. A line is invalid, and
    * follows `mode`, when that text is malformed (`malformed_json`),
    * holds a null for a non-optional type (`null:value`), or a value of
    * another type (`type:value`). */
  def readScalar(s: SparkSession, lines: Dataset[String], t: UdType,
                 mode: ValidatedIngest.Mode): ValidatedIngest.Validated = {
    val schema = scalarSchema(t)
    val wrapped = concat(lit("{\"value\":"), col("_payload"), lit("}"))
    val parsed = lines.toDF("_payload").select(col("_payload"),
      graft.plans.Materialized.once(try_parse_json(wrapped)).as("_pv"),
      from_json(wrapped, StructType(schema.fields.take(1)))
        .getField("value").as("value"))
    val vg = variant_get(col("_pv"), "$.value", "variant")
    val isNullValue = coalesce(is_variant_null(vg), lit(false))
    val reason = coalesce(
      when(col("_pv").isNull, lit("malformed_json:_payload")),
      when(vg.isNull, lit("missing:value")),
      when(isNullValue && !lit(t.isInstanceOf[TOption]), lit("null:value")),
      when(!isNullValue && col("value").isNull, lit("type:value")))
    val routed = ValidatedIngest.routeTagged(parsed.select(col("_payload"),
      col("value"), reason.as("_invalid_reason")), mode)
    ValidatedIngest.Validated(routed.good.drop("_payload"),
      if (routed.bad.columns.isEmpty) routed.bad
      else routed.bad.select(col("_payload"), col("_invalid_reason")))
  }

  // ---- egress rendering without a session ----

  /** Render a value as `to_json` writes it: null struct fields omitted,
    * array elements and map values kept as null, numbers as Jackson
    * writes them (`Double.toString`, in any locale). A struct value is
    * one object, any other value is the bare JSON value. With `dt` null
    * the shape comes from the value itself (decoded msgpack: an entry
    * vector is a map whose null values are kept). */
  def render(v: Any, dt: DataType): String = {
    val w = new java.io.StringWriter()
    val g = jsonFactory.createGenerator(w)
    try write(g, v, dt) finally g.close()
    w.toString
  }

  private def write(g: JsonGenerator, v: Any, dt: DataType): Unit =
    (v, dt) match {
      case (null | JsonNull, _) => g.writeNull()
      case (b: Boolean, _)    => g.writeBoolean(b)
      case (i: Long, _)       => g.writeNumber(i)
      case (i: Int, _)        => g.writeNumber(i)
      case (d: Double, _)     => g.writeNumber(d)
      case (i: java.math.BigInteger, _) => g.writeNumber(i)
      case (s: String, _)     => g.writeString(s)
      case (b: Array[Byte], _) =>
        g.writeString(java.util.Base64.getEncoder.encodeToString(b))
      case (r: Row, st: StructType) =>
        g.writeStartObject()
        st.fields.indices.foreach { i =>
          if (!r.isNullAt(i)) {
            g.writeFieldName(st.fields(i).name)
            write(g, r.get(i), st.fields(i).dataType)
          }
        }
        g.writeEndObject()
      case (m: java.util.LinkedHashMap[_, _], _) => write(g, m.asScala, dt)
      case (m: scala.collection.Map[_, _], _) =>
        val vt = dt match { case MapType(_, x, _) => x; case _ => null }
        g.writeStartObject()
        m.foreach { case (k, x) =>
          g.writeFieldName(String.valueOf(k)); write(g, x, vt)
        }
        g.writeEndObject()
      case (xs: Vector[_], null)
          if xs.nonEmpty && xs.forall(_.isInstanceOf[(_, _)]) =>
        g.writeStartObject()
        xs.foreach { case (k, x) => g.writeFieldName(String.valueOf(k)); write(g, x, null) }
        g.writeEndObject()
      case (xs: scala.collection.Seq[_], _) =>
        val et = dt match { case ArrayType(x, _) => x; case _ => null }
        g.writeStartArray()
        xs.foreach(write(g, _, et))
        g.writeEndArray()
      case (other, _) => g.writeString(String.valueOf(other))
    }

  /** Write a DataFrame as JSON-lines strings (egress lowering). */
  def toJsonLines(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.select(to_json(struct(df.columns.map(col).toSeq: _*))).as[String]
  }
}
