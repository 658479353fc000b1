package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonGenerator, JsonParser, JsonToken, StreamReadFeature}
import com.fasterxml.jackson.core.JsonToken._
import graft.kernel.UdException
import graft.lang.Ast._
import graft.lang.{UdScript, Values}
import graft.lang.Values._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON record ingest/egress — the reference's wire-format story (§1.4):
  * msgpack framing is delegated to lift/lower companions; JSON is the MVP
  * format (roadmap.md:25-26). Here: JSON lines under the DECLARED uDLang
  * input type (no inference, ever), the validation modes of
  * ValidatedIngest, and absent-vs-null preservation.
  *
  * One decoder reads every JSON record: `lineDecoder` (a declared record)
  * or `scalarDecoder` (one JSON value per line) turns a line into the
  * interpreter's input value or the reason it is invalid. The CLI's stdin
  * pipe runs it line by line with no session; `read`/`readScalar` run it
  * in one `mapPartitions` over a text Dataset and encode each value with
  * `UdScript.valueToRow` into the source's frame, so a Spark row holds
  * exactly the decoded value.
  *
  * Absent vs null (README.md:220-228, SURVEY §7.4 hard part #2):
  * `blocker?: U32` (absent-optional) and `blocker: U32?` (nullable) both
  * surface as nullable columns, so every absent-optional field has a
  * presence column `<name>__present` = whether the key exists in the
  * payload (inside the struct for a nested record). `rec.?.field` (Has)
  * then means presence, not non-null, exactly as the reference
  * distinguishes them.
  */
object JsonRecords {

  /** General (non-enum) union branches of a declared field, if any. */
  private def unionBranches(t: UdType): Option[Seq[UdType]] = t match {
    case TUnion(ts) if !ts.forall(_.isInstanceOf[TValue]) => Some(ts)
    case TOption(inner) => unionBranches(inner)
    case _ => None
  }

  /** Is a top-level field of this type read strictly from its one token?
    * Scalars and enums are; a union picks a branch, and a nested record,
    * list or map reads as `from_json` reads it. */
  private def readsStrictly(t: UdType): Boolean = t match {
    case TInt | TIntN(_, _) | TFloat | TFloat32 | TStr | TBool => true
    case TOption(x) => readsStrictly(x)
    case TUnion(ts) => ts.forall(_.isInstanceOf[TValue]) // an enum
    case _ => false
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

  // ---- the decoder ----
  //
  // Its rules are those of Spark's JSON functions: a top-level field reads
  // as a cast of the `try_parse_json` variant reads it, strictly; a nested
  // value as `from_json` reads it; a union branch's leaves cast as
  // `try_variant_get` casts them. `src/test/resources/ingest/` holds what a
  // Catalyst plan of those functions gave for each test payload.
  //
  // A parsed JSON value is a small tree of plain values: JsonNull, Boolean,
  // Long (an integer that fits, what `schema_of_variant` calls BIGINT),
  // String, Vector (array), a java.util.Map (object), and a wider number as
  // the parse it stands for stores it. `from_json`'s tree keeps a
  // BigInteger or a Double, and objects in key order (LinkedHashMap). The
  // variant parse's tree keeps a plain decimal of up to 38 digits as a
  // BigDecimal with no trailing zeros, any other as a Double, and objects
  // sorted by key (TreeMap). jackson-core's streaming parser builds it;
  // databind's ObjectMapper would load ~400 classes at start-up.

  private[graft] case object JsonNull

  private object Malformed extends RuntimeException(null, null, false, false)

  private val jsonFactory = new JsonFactory()

  /** Rejects a duplicate key at any depth, as `try_parse_json` does
    * (`from_json` keeps the last of duplicates instead). */
  private val strictJson = new JsonFactoryBuilder()
    .enable(StreamReadFeature.STRICT_DUPLICATE_DETECTION).build()

  /** The payload's first JSON value as a tree, or null when it is
    * malformed (empty or invalid). A duplicate key keeps its last value.
    * Text after the first value is ignored. */
  private[graft] def parseOrNull(text: String): Any = {
    val p = jsonFactory.createParser(text)
    try {
      val t = p.nextToken()
      if (t == null) null else tree(p, t, variant = false)
    } catch {
      case _: java.io.IOException | Malformed => null
    } finally p.close()
  }

  /** The JSON value at token t as a tree, as `from_json` or, with
    * `variant`, the variant parse reads it. */
  private def tree(p: JsonParser, t: JsonToken, variant: Boolean): Any = t match {
    case START_OBJECT =>
      val m: java.util.Map[String, Any] =
        if (variant) new java.util.TreeMap() else new java.util.LinkedHashMap()
      while (p.nextToken() == FIELD_NAME) {
        val k = p.currentName
        m.put(k, tree(p, p.nextToken(), variant))
      }
      m
    case START_ARRAY =>
      val b = Vector.newBuilder[Any]
      var e = p.nextToken()
      while (e != END_ARRAY) { b += tree(p, e, variant); e = p.nextToken() }
      b.result()
    case VALUE_STRING => p.getText
    case VALUE_NUMBER_INT =>
      if (p.getNumberType != JsonParser.NumberType.BIG_INTEGER) p.getLongValue
      else if (variant) variantNumber(p) else p.getBigIntegerValue
    case VALUE_NUMBER_FLOAT => if (variant) variantNumber(p) else p.getDoubleValue
    case VALUE_TRUE  => true
    case VALUE_FALSE => false
    case VALUE_NULL  => JsonNull
    case _ => throw Malformed
  }

  /** A wide or fractional JSON number as the variant parse stores it: a
    * plain decimal of up to 38 digits as a decimal, which has no trailing
    * zeros and no sign of zero, any other as a double. */
  private def variantNumber(p: JsonParser): Any = {
    val text = p.getText
    val d =
      if (text.forall(c => c == '-' || c == '.' || c.isDigit)) new java.math.BigDecimal(text)
      else null
    if (d != null && d.scale <= 38 && d.precision <= 38) d.stripTrailingZeros
    else p.getDoubleValue
  }

  /** A JSON number as `try_variant_get(…, "double")` reads it. */
  private def variantDouble(p: JsonParser): Double = {
    val d = p.getDoubleValue
    // only a zero can differ: a decimal has no sign of zero
    if (d != 0.0 || 1 / d > 0) d
    else variantNumber(p) match {
      case x: java.math.BigDecimal => x.doubleValue
      case _ => d
    }
  }

  private def isNull(n: Any): Boolean = n == null || n == JsonNull

  private def isNone(t: UdType): Boolean = t match {
    case TOption(x) => isNone(x)
    case _ => t == TNone
  }

  /** Does a variant tree fit a union branch? True union ingest
    * (manual.md:112-115) infers the tag from the JSON value's own type: a
    * quoted "42" is a Str, never an Int. A sized int takes an integer in
    * its range and F32 a float32-exact number, as `Msgpack.branchMatches`
    * decides; the first branch in declared order that fits wins. */
  private def branchMatches(n: Any, bt: UdType): Boolean = (n, bt) match {
    case (_: Long, TInt) => true
    case (x: Long, t: TIntN) => t.contains(x)
    case (_: Double | _: java.math.BigDecimal, TFloat) => true
    case (x: Double, TFloat32) => x.toFloat.toDouble == x
    case (x: java.math.BigDecimal, TFloat32) => branchMatches(x.doubleValue, bt)
    case (_: String, TStr)  => true
    case (_: Boolean, TBool) => true
    case (x: String, TValue(s)) => x == s
    case (_: Vector[_], TList(_)) => true
    case (_: java.util.Map[_, _], TRecord(_, _) | TPoint | TMap(_)) => true
    case _ => false
  }

  private object Unconvertible extends RuntimeException(null, null, false, false)

  /** A value its type cannot take: `from_json` fails it (Unconvertible),
    * a variant cast reads it as null. */
  private def fail(variant: Boolean): Unit = if (!variant) throw Unconvertible

  /** Is t read as one leaf: an Int, Float, Bool or Str (Any, a string
    * literal and a string-literal enum are Strs)? */
  private def isLeaf(t: UdType): Boolean = t match {
    case TInt | TIntN(_, _) | TFloat | TFloat32 | TBool | TStr | TAny | TValue(_) => true
    case TUnion(ts) => ts.forall(_.isInstanceOf[TValue])
    case _ => false
  }

  /** A parsed leaf under a leaf type: a Long, Double, Boolean or String,
    * or null. A Str takes any JSON value as its
    * compact text. Otherwise `from_json` (not `variant`) takes a value of
    * the type only, a Float any number or the name of NaN or an infinity,
    * and fails the rest; a variant cast casts across the types as
    * `try_variant_get` does and reads what does not cast as null. */
  private def leaf(n: Any, t: UdType, variant: Boolean): Any = (t, n) match {
    case (TInt | TIntN(_, _), x: Long) => x
    case (TFloat | TFloat32, x: Long) => x.toDouble
    case (TFloat | TFloat32, x: Double) => x
    case (TBool, x: Boolean) => x
    case (TInt | TIntN(_, _) | TFloat | TFloat32 | TBool, _) =>
      if (variant) cast(n, t)
      else (t, n) match {
        case (TFloat | TFloat32, x: java.math.BigInteger) => x.doubleValue
        case (TFloat | TFloat32, "NaN") => Double.NaN
        case (TFloat | TFloat32, "+INF" | "+Infinity" | "Infinity") => Double.PositiveInfinity
        case (TFloat | TFloat32, "-INF" | "-Infinity") => Double.NegativeInfinity
        case _ => throw Unconvertible
      }
    case (_, s: String) => s
    case _ => render(n, null)
  }

  /** `try_variant_get`'s cast of a variant leaf to an Int, Float or Bool
    * of another type, or null. */
  private def cast(n: Any, t: UdType): Any = t match {
    case TBool => n match {
      case x: Long => x != 0
      case x: Double => x != 0
      case x: java.math.BigDecimal => x.signum != 0
      case s: String => s.trim.toLowerCase match {
        case "t" | "true" | "y" | "yes" | "1" => true
        case "f" | "false" | "n" | "no" | "0" => false
        case _ => null
      }
      case _ => null
    }
    case TFloat | TFloat32 => n match {
      case x: java.math.BigDecimal => x.doubleValue
      case b: Boolean => if (b) 1.0 else 0.0
      case s: String =>
        try s.toDouble catch {
          case _: NumberFormatException => s.trim.toLowerCase match {
            case "inf" | "+inf" | "infinity" | "+infinity" => Double.PositiveInfinity
            case "-inf" | "-infinity" => Double.NegativeInfinity
            case "nan" => Double.NaN
            case _ => null
          }
        }
      case _ => null
    }
    case _ => n match { // an Int or a sized int
      case x: Double =>
        if (math.floor(x) <= Long.MaxValue && math.ceil(x) >= Long.MinValue) x.toLong
        else null
      case x: java.math.BigDecimal =>
        val i = x.toBigInteger // toward zero
        if (i.bitLength < 64) i.longValue else null
      case b: Boolean => if (b) 1L else 0L
      case s: String if s.trim.matches("[+-]?[0-9]+") =>
        try s.trim.toLong catch { case _: NumberFormatException => null }
      case _ => null
    }
  }

  /** The decoder of one declared input: each line becomes the
    * interpreter's input value (Right) or the reason it is invalid
    * (Left). A sized int below the top level may lie outside its range:
    * the value keeps it and `outOfRange` names it, and the record stops
    * there, as `UdScript.rowToValue` stops it on the row. A decoder reads
    * one line at a time. */
  sealed abstract class LineDecoder(val frameType: TRecord)
      extends (String => Either[String, Value]) {

    /** A good line's value as a record of `frameType`: the declared
      * record, or a scalar's one `value` field. */
    protected def wrap(v: Value): VMap

    /** A good line's value as the source's row under `schema`: the
      * columns of `UdScript.inputFrame(frameType)`, then any that stay
      * null. */
    def row(v: Value, schema: StructType): Row =
      UdScript.valueToRow(wrap(v), frameType, schema)

    /** The same row's cells as a DLQ line prints them (`Row.mkString`),
      * built with no Spark type. */
    def cells(v: Value): String = UdScript.rowCells(wrap(v), frameType).mkString("\t")

    /** After a Right: the line's first out-of-range message, or null. */
    def outOfRange: String = stopped
    protected var stopped: String = null

    /** The first out-of-range message of the field being read. */
    protected var range: String = null

    private def int(x: Long, t: UdType): Value = {
      t match {
        case n: TIntN if !n.contains(x) && range == null =>
          range = s"range: $x not a ${UdScript.tagOf(n)}"
        case _ =>
      }
      VInt(x)
    }

    /** A parsed value under t. `variant`: a `try_variant_get` cast (a
      * union slot: leaves cast as `leaf` says, what does not cast is
      * none); else `from_json`'s reading (a value the type cannot take
      * throws Unconvertible: a record keeps its other fields, a list or
      * map fails whole). With `presence` (the records under a top-level
      * field) a missing absent-optional key is an omitted field;
      * elsewhere it reads as none. */
    protected def convert(n: Any, t: UdType, presence: Boolean, variant: Boolean): Value = {
      // a struct field keeps partial results: what its type cannot take is none
      def field(x: Any, ft: UdType, p: Boolean): Value = {
        val saved = range
        try convert(x, ft, p, variant) catch { case Unconvertible => range = saved; VNone }
      }
      if (isNull(n)) VNone
      else (t, n) match {
        case (TOption(x), _) => convert(n, x, presence, variant)
        case _ if isLeaf(t) => leaf(n, t, variant) match {
          case null => VNone
          case x: Long => int(x, t)
          case d: Double => VFloat(if (t == TFloat32) d.toFloat.toDouble else d)
          case b: Boolean => VBool(b)
          case x => VStr(x.toString)
        }
        case (TNone, _) => VNone
        case (TList(et), xs: Vector[_]) => VList(xs.map(convert(_, et, false, variant)))
        case (TMap(vt), m: java.util.Map[_, _]) =>
          VMap(m.asScala.toVector.map { case (k, x) =>
            String.valueOf(k) -> convert(x, vt, false, variant) }.sortBy(_._1))()
        case (rec @ TRecord(fs, _), m: java.util.Map[_, _]) =>
          VMap(fs.iterator.filterNot(f =>
            presence && f.absentOptional && !m.containsKey(f.name)
          ).map(f => f.name -> field(m.get(f.name), f.t, presence))
            .toVector)(UdScript.absentOkOf(rec))
        case (TPoint, m: java.util.Map[_, _]) =>
          (field(m.get("x"), TFloat, false), field(m.get("y"), TFloat, false)) match {
            case (VFloat(x), VFloat(y)) => VPoint(x, y)
            case _ => VNone
          }
        case (TTuple(ts), m: java.util.Map[_, _]) =>
          VTuple(ts.indices.map(i => field(m.get(s"_${i + 1}"), ts(i), false)).toVector)
        case (TUnion(ts), m: java.util.Map[_, _]) =>
          val tag = field(m.get("_tag"), TStr, false)
          val i = ts.indexWhere(b => tag == VStr(UdScript.tagOf(b)))
          if (i < 0) VNone else field(m.get(s"v$i"), ts(i), false)
        case _ => fail(variant); VNone
      }
    }
  }

  /** The decoder of a declared record, planned once: a field index and a
    * reader per field. Each line is then one token pass over its
    * top-level fields. A scalar or enum field reads its one token,
    * strictly; a union field picks its branch by the JSON type; any other
    * field is `from_json` of its own subtree. An absent optional field is
    * an omitted key. A line's reason is the first failing check, in the
    * order malformed, `union_no_branch`, `type`, `bad_enum`, `range`,
    * then `missing`/`null`, and within a check the first declared field. */
  def lineDecoder(declared: TRecord): LineDecoder = new LineDecoder(declared) {
    private val fs = declared.fields.toArray
    private val n = fs.length
    private val index = new java.util.HashMap[String, Integer]()
    fs.indices.foreach(i => index.put(fs(i).name, i))
    private val unions = fs.map(f => unionBranches(f.t).orNull)
    private val strict = fs.map(f => readsStrictly(f.t))
    private val enums = fs.map(f => enumLits(f.t).map(_.toSet).orNull)
    private val sized = fs.map(f => sizedInt(f.t).orNull)
    private val required = fs.map(f => !f.absentOptional && !f.t.isInstanceOf[TOption])
    private val absentOk = UdScript.absentOkOf(declared)

    // the checks in their precedence; missing and null share one
    private final val NoBranch = 1
    private final val Type = 2
    private final val Enum = 3
    private final val Range = 4
    private final val Missing = 5
    private final val Null = 6
    private val reasons = Array("union_no_branch", "type", "bad_enum",
      "range", "missing", "null").map(r => fs.map(f => s"$r:${f.name}"))

    // the line being decoded
    private val seen = new Array[Boolean](n)
    private val nulls = new Array[Boolean](n)
    private val vals = new Array[Value](n)
    private val fails = new Array[Int](n)
    private val ranges = new Array[String](n)

    /** One token pass over the line's top-level object: `field` reads the
      * value token of each declared field. False when the line is
      * malformed; a line that is not an object visits no field. */
    private def scan(line: String)(field: (JsonParser, Int, JsonToken) => Unit): Boolean = {
      java.util.Arrays.fill(seen, false)
      val p = strictJson.createParser(line)
      try {
        val t = p.nextToken()
        if (t == START_OBJECT) {
          var next = 0 // fields mostly arrive in declared order
          while (p.nextToken() == FIELD_NAME) {
            val name = p.currentName
            val i =
              if (next < n && fs(next).name == name) next
              else { val j = index.get(name); if (j == null) -1 else j.intValue }
            val vt = p.nextToken()
            if (i < 0) p.skipChildren()
            else { seen(i) = true; field(p, i, vt); next = i + 1 }
          }
        } else if (t != null) p.skipChildren()
        t != null
      } catch {
        case _: java.io.IOException | Malformed => false
      } finally p.close()
    }

    private def strictValue(p: JsonParser, t: JsonToken, ft: UdType): Value =
      (t, ft) match {
        case (_, TOption(x)) => strictValue(p, t, x)
        case (VALUE_NUMBER_INT, TInt | TIntN(_, _)) =>
          if (p.getNumberType == JsonParser.NumberType.BIG_INTEGER) null
          else VInt(p.getLongValue)
        case (VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT, TFloat | TFloat32) =>
          val d = if (t == VALUE_NUMBER_FLOAT) variantDouble(p) else p.getDoubleValue
          VFloat(if (ft == TFloat32) d.toFloat.toDouble else d)
        case (VALUE_TRUE, TBool)  => VBool(true)
        case (VALUE_FALSE, TBool) => VBool(false)
        case (VALUE_STRING, TStr | TUnion(_) | TValue(_)) => VStr(p.getText)
        case _ => p.skipChildren(); null
      }

    private val read: (JsonParser, Int, JsonToken) => Unit = (p, i, t) => {
      range = null
      if (t == VALUE_NULL) nulls(i) = true
      else if (strict(i)) strictValue(p, t, fs(i).t) match {
        case null => fails(i) = Type
        case VStr(s) if enums(i) != null && !enums(i)(s) => fails(i) = Enum
        case VInt(x) if sized(i) != null && !sized(i).contains(x) => fails(i) = Range
        case v => vals(i) = v
      }
      else if (unions(i) != null) {
        val node = tree(p, t, variant = true)
        unions(i).find(branchMatches(node, _)) match {
          case Some(bt) => vals(i) = convert(node, bt, presence = false, variant = true)
          case None => fails(i) = NoBranch
        }
      } else {
        try vals(i) = convert(tree(p, t, variant = false), fs(i).t,
          presence = true, variant = false)
        catch { case Unconvertible => range = null; fails(i) = Type }
        // `from_json` reads no value of type None
        if (isNone(fs(i).t)) fails(i) = Type
      }
      ranges(i) = range
    }

    protected def wrap(v: Value): VMap = v.asInstanceOf[VMap]

    def apply(line: String): Either[String, Value] = {
      stopped = null
      java.util.Arrays.fill(nulls, false)
      java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(fails, 0)
      java.util.Arrays.fill(ranges.asInstanceOf[Array[AnyRef]], null)
      if (!scan(line)(read)) Left("malformed_json:_payload")
      else {
        var reason: String = null
        var rank = Int.MaxValue
        var i = 0
        while (i < n) {
          val fail =
            if (fails(i) != 0) fails(i)
            else if (!required(i)) 0
            else if (!seen(i)) Missing
            else if (nulls(i)) Null
            else 0
          if (fail != 0 && math.min(fail, Missing) * n + i < rank) {
            rank = math.min(fail, Missing) * n + i
            reason = reasons(fail - 1)(i)
          }
          i += 1
        }
        if (reason != null) Left(reason)
        else {
          stopped = ranges.find(_ != null).orNull
          val b = Vector.newBuilder[(String, Value)]
          i = 0
          while (i < n) {
            if (seen(i) || !fs(i).absentOptional)
              b += fs(i).name -> (if (vals(i) == null) VNone else vals(i))
            i += 1
          }
          Right(VMap(b.result())(absentOk))
        }
      }
    }
  }

  /** The decoder of a scalar-input script: each line is `from_json` of
    * `{"value":<line>}`. A line is invalid when it is malformed
    * (`malformed_json`), holds a null for a non-optional type
    * (`null:value`), or a value of another type (`type:value`). */
  def scalarDecoder(t: UdType): LineDecoder =
      new LineDecoder(TRecord(Seq(TField("value", t, absentOptional = false)))) {
    /** The line's value as a tree, or null when the line is malformed. */
    private def parse(line: String): Any = {
      val p = strictJson.createParser("{\"value\":" + line + "}")
      try {
        p.nextToken(); p.nextToken() // the wrapper's `{"value":`
        val n = tree(p, p.nextToken(), variant = false)
        while (p.nextToken() == FIELD_NAME) { p.nextToken(); p.skipChildren() }
        n
      } catch {
        case _: java.io.IOException | Malformed => null
      } finally p.close()
    }

    protected def wrap(v: Value): VMap = VMap(Vector("value" -> v))()

    def apply(line: String): Either[String, Value] = {
      range = null
      stopped = null
      parse(line) match {
        case null => Left("malformed_json:_payload")
        case JsonNull =>
          if (t.isInstanceOf[TOption]) Right(VNone) else Left("null:value")
        case node =>
          val v = try convert(node, t, presence = false, variant = false)
          catch { case Unconvertible => null }
          if (v == null || isNone(t)) Left("type:value")
          else { stopped = range; Right(v) }
      }
    }
  }

  // ---- the Spark source ----

  /** Parse a JSON-lines Dataset under a declared uDLang record type.
    * Output columns = declared fields (+ `__present` flags for
    * absent-optional ones); invalid lines follow `mode`, the bad side
    * keeping `(_payload, _invalid_reason)`. */
  def read(s: SparkSession, lines: Dataset[String], declared: TRecord,
           mode: ValidatedIngest.Mode): ValidatedIngest.Validated =
    ingest(lines, () => lineDecoder(declared), mode)

  /** Parse one JSON value per line under a declared scalar type, into one
    * `value` column, with `scalarDecoder`'s reasons. */
  def readScalar(s: SparkSession, lines: Dataset[String], t: UdType,
                 mode: ValidatedIngest.Mode): ValidatedIngest.Validated =
    ingest(lines, () => scalarDecoder(t), mode)

  /** One decode per line, in one `mapPartitions`: a good line becomes its
    * value's row in the decoder's frame, a bad one its payload and
    * reason. `ValidatedIngest.routeTagged` then routes them by mode. */
  private def ingest(lines: Dataset[String], decoder: () => LineDecoder,
                     mode: ValidatedIngest.Mode): ValidatedIngest.Validated = {
    val frame = UdScript.inputFrame(decoder().frameType)
    val tagged = StructType(frame.fields ++ Seq(StructField("_payload", StringType),
      StructField("_invalid_reason", StringType)))
    // a bad line keeps no field, and its presence flags read false
    val none = frame.fields.map[Any](f => if (f.nullable) null else false)
    val rows = lines.mapPartitions { it =>
      val decode = decoder()
      it.map { line =>
        (if (line == null) Left("malformed_json:_payload") else decode(line)) match {
          case Right(v) => decode.row(v, tagged)
          case Left(reason) => new GenericRowWithSchema(none :+ line :+ reason, tagged)
        }
      }
    }(Encoders.row(tagged))
    val routed = ValidatedIngest.routeTagged(rows.toDF(), mode)
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
      case (d: java.math.BigDecimal, _) => g.writeNumber(d.toPlainString)
      case (m: java.util.Map[_, _], _) => write(g, m.asScala, dt)
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

  /** Writes without a separator between root values: the lines end in
    * `\n`. */
  private val linesFactory = new JsonFactoryBuilder().rootValueSeparator(null: String).build()

  /** Interpreter outputs as JSON lines under the declared output type, in
    * the bytes `render(valueToRow(v, t, schema), schema)` gives: null
    * fields left out, a nested record's `__present` flags, a general
    * union as `{"_tag":…,"v<i>":…}`. One generator writes the whole run
    * into `text`. */
  final class JsonLines(text: LineBuffer, t: UdType) {
    private var g = linesFactory.createGenerator(text.writer)

    /** One record's outputs, all or none: a value that fits no slot stops
      * the record (UdException) and leaves nothing of it written. */
    def write(vs: Iterable[Value]): Unit = {
      val mark = text.mark
      try {
        vs.foreach { v =>
          (v, t) match {
            case (m: VMap, rec: TRecord) => record(m, rec, flags = false)
            case _ => value(v, t)
          }
          g.writeRaw('\n')
        }
        g.flush()
      } catch {
        case e: UdException =>
          g = linesFactory.createGenerator(text.writer)
          text.rollback(mark)
          throw e
      }
      text.drainFull()
    }

    def flush(): Unit = { g.flush(); text.flush() }

    /** A top-level record has no flag columns; nested ones do. */
    private def record(m: VMap, rec: TRecord, flags: Boolean): Unit = {
      g.writeStartObject()
      rec.fields.foreach { f =>
        m.index.get(f.name) match {
          case Some(x) if x != VNone => g.writeFieldName(f.name); value(x, f.t)
          case _ =>
        }
      }
      if (flags) rec.fields.foreach { f =>
        if (f.absentOptional)
          g.writeBooleanField(s"${f.name}__present", m.index.contains(f.name))
      }
      g.writeEndObject()
    }

    private def value(v: Value, t: UdType): Unit = (v, t) match {
      case (VNone, _) => g.writeNull()
      case (_, TOption(x)) => value(v, x)
      case (_, TInt | TIntN(_, _)) => g.writeNumber(UdScript.intSlot(v, t))
      case (_, TFloat | TFloat32) => g.writeNumber(UdScript.floatSlot(v, t))
      case (VBool(b), TBool) => g.writeBoolean(b)
      case (_, TStr | TAny | TValue(_)) => g.writeString(Values.render(v))
      case (_, TUnion(ts)) if ts.forall(_.isInstanceOf[TValue]) =>
        g.writeString(Values.render(v))
      case (_, TUnion(ts)) =>
        val i = UdScript.unionSlot(v, ts)
        g.writeStartObject()
        g.writeStringField("_tag", UdScript.tagOf(ts(i)))
        g.writeFieldName(s"v$i")
        value(v, ts(i))
        g.writeEndObject()
      case (m: VMap, rec: TRecord) => record(m, rec, flags = true)
      case (VTuple(xs), TTuple(ts)) =>
        g.writeStartObject()
        xs.zip(ts).zipWithIndex.foreach { case ((x, t2), i) =>
          if (x != VNone) { g.writeFieldName(s"_${i + 1}"); value(x, t2) }
        }
        g.writeEndObject()
      case (VPoint(x, y), TPoint) =>
        g.writeStartObject()
        g.writeNumberField("x", x)
        g.writeNumberField("y", y)
        g.writeEndObject()
      case (VList(xs), TList(et)) =>
        g.writeStartArray()
        xs.foreach(value(_, et))
        g.writeEndArray()
      case (m: VMap, TMap(vt)) =>
        // in the order of the Scala map `valueToRow` builds
        g.writeStartObject()
        m.entries.toMap.foreach { case (k, x) => g.writeFieldName(k); value(x, vt) }
        g.writeEndObject()
      case _ => UdScript.cannotEncode(v, t)
    }
  }

  /** Write a DataFrame as JSON-lines strings (egress lowering). */
  def toJsonLines(df: DataFrame): Dataset[String] = {
    import df.sparkSession.implicits._
    df.select(to_json(struct(df.columns.map(col).toSeq: _*))).as[String]
  }
}
