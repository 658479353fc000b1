package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.kernel.UdException
import graft.lang.Ast._
import graft.lang.UdScript
import graft.lang.Values._
import org.apache.spark.sql.{Dataset, Encoders, Row}

/** One JSON decoder on both legs, against goldens of the Catalyst plan
  * (`try_parse_json`, `from_json`, `try_variant_get`) that
  * `JsonRecords.read`/`readScalar` ran before they ran the decoder.
  * `src/test/resources/ingest/<case>.jsonl` holds one line per payload:
  * that plan's invalid `reason`, or the interpreter `value` it gave
  * (`UdScript.rowToValue` of the kept row, printed by `show`) or the
  * boundary `error` that stopped it, and the kept `row` as
  * `mkString("\t")`. The plan is gone, so the goldens cannot be
  * regenerated: a new payload gets its expectation by hand.
  *
  * Every payload must give, on the stdin leg (`lineDecoder` /
  * `scalarDecoder`), the golden reason, or the golden value with the
  * golden error as `outOfRange`; on the Spark leg (`read` / `readScalar`),
  * the golden reason, or a kept row whose value or error is the golden one
  * and whose text is the golden row, except where `changed` says
  * otherwise; and the stdin leg's DLQ cells (`cells` of its value) must
  * be the kept row's text. */
class JsonLineDecoderSpec extends SparkSpec {

  private def f(n: String, t: UdType, absent: Boolean = false) =
    TField(n, t, absentOptional = absent)

  /** A value printed exactly: a Float keeps the sign of zero and NaN, a
    * record lists its absent-optional names. */
  private def show(v: Value): String = v match {
    case VNone => "none"
    case VBool(b) => b.toString
    case VInt(i) => i.toString
    case VFloat(d) => "f" + java.lang.Double.toString(d)
    case VStr(s) => quote(s)
    case VPoint(x, y) => s"point(${show(VFloat(x))}, ${show(VFloat(y))})"
    case VList(xs) => xs.map(show).mkString("[", ", ", "]")
    case VTuple(xs) => xs.map(show).mkString("(", ", ", ")")
    case m: VMap =>
      m.entries.map { case (k, x) => quote(k) + ": " + show(x) }.mkString("{", ", ", "}") +
        (if (m.absentOk.isEmpty) "" else m.absentOk.toSeq.sorted.mkString(" absentOk(", ", ", ")"))
    case other => other.toString
  }
  private def quote(s: String): String = JsonRecords.render(s, null)

  private case class Golden(payload: String, reason: String, value: String,
                          error: String, row: String)

  private def golden(name: String): Seq[Golden] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val file = new File(s"src/test/resources/ingest/$name.jsonl")
    java.nio.file.Files.readAllLines(file.toPath).asScala.toSeq.map { line =>
      val n = mapper.readTree(line)
      def get(k: String) = Option(n.get(k)).map(_.asText).orNull
      Golden(get("payload"), get("reason"), get("value"), get("error"), get("row"))
    }
  }

  /** Kept rows that differ from the plan's on purpose, by case and
    * payload. The row now holds the decoded value, so an F32 below the top
    * level is rounded (as the interpreter reads it), a map's keys are in
    * the value's sorted order, and a point with an unreadable coordinate,
    * which the interpreter reads as none, is null. */
  private val changed: Map[(String, String), String] = Map(
    ("shapes", """{"id": 9, "r": {"a": 1, "l": [1], "extra": {"deep": [1]}}, "p": {"x": "1", "y": 2}}""") ->
      "9\tnull\t[1,null,ArraySeq(1.0),false]\tnull\tnull\tnull\tnull\tnull",
    ("shapes", """{"id": 12, "h": {"g": 0.1, "gs": [0.1, 2], "gm": {"z": 0.1, "a": 1}}, "m": {"b": 1, "a": 2}}""") ->
      ("12\tnull\tnull\tMap(a -> 2, b -> 1)\tnull\tnull\t[0.10000000149011612," +
        "ArraySeq(0.10000000149011612, 2.0),Map(a -> 1.0, z -> 0.10000000149011612)]\tnull"),
    ("shapes", """{"id": 14, "p": {"y": 1}, "v": {"x": "1", "y": 2}}""") ->
      "14\tnull\tnull\tnull\tnull\tnull\tnull\t[Point,[1.0,2.0],null]",
    ("union_casts", """{"id": 3, "u": {"f": true, "b": 0, "s": 1e2, "i": 7.9, "m": {}, "g": "0.1"}}""") ->
      "3\t[record,null,[1.0,false,100.0,7,Map(),0.10000000149011612,null]]",
    ("union_casts", """{"id": 6, "u": {"f": "-Infinity", "b": "1", "s": null, "i": "0x10", "g": 0.1}}""") ->
      "6\t[record,null,[-Infinity,true,null,null,null,0.10000000149011612,null]]",
    ("scalar_f32_list", "[0.1, 2]") -> "ArraySeq(0.10000000149011612, 2.0)",
    ("scalar_f32_map", """{"b": 0.1, "a": 2}""") -> "Map(a -> 2.0, b -> 0.10000000149011612)")

  /** Spark's (reason, kept row) per payload, in payload order. */
  private def sparkRows(payloads: Seq[String], read: Dataset[String] => ValidatedIngest.Validated)
      : Seq[(String, Option[Row])] = {
    val v = read(spark.createDataset(payloads)(Encoders.STRING))
    val bad = v.bad.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val good = v.good.collect().iterator
    payloads.map(p => bad.get(p) match {
      case Some(reason) => (reason, None)
      case None => (null, Some(good.next()))
    })
  }

  /** Check both legs of every payload of golden `name`; returns the
    * reasons in payload order. */
  private def agree(name: String, decode: JsonRecords.LineDecoder,
                    read: Dataset[String] => ValidatedIngest.Validated,
                    value: Row => Value): Seq[String] = {
    val gs = golden(name)
    val rowDiffs = gs.zip(sparkRows(gs.map(_.payload), read)).flatMap { case (g, (reason, kept)) =>
      val p = g.payload
      val local = decode(p)
      assert(local.left.toOption.orNull == g.reason, s"$name: stdin reason of $p")
      assert(reason == g.reason, s"$name: Spark reason of $p")
      (local.toOption, kept) match {
        case (Some(v), Some(r)) =>
          assert(show(v) == g.value, s"$name: stdin value of $p")
          assert(decode.outOfRange == g.error, s"$name: stdin boundary error of $p")
          val (sparkValue, sparkError) =
            try (show(value(r)), null) catch { case e: UdException => (null, e.message) }
          assert(sparkError == g.error, s"$name: Spark boundary error of $p")
          if (g.error == null) assert(sparkValue == g.value, s"$name: Spark value of $p")
          val text = r.mkString("\t")
          assert(decode.cells(v) == text, s"$name: DLQ cells of $p")
          val want = changed.getOrElse((name, p), g.row)
          if (text == want) None else Some(s"$name: row of $p\n  got  ${text}\n  want $want")
        case _ => None
      }
    }
    assert(rowDiffs.isEmpty, rowDiffs.mkString("\n", "\n", ""))
    gs.map(_.reason)
  }

  private def record(name: String, t: TRecord): Seq[String] =
    agree(name, JsonRecords.lineDecoder(t), JsonRecords.read(spark, _, t, ValidatedIngest.Dlq),
      UdScript.rowToValue(_, t))

  private val scalars = TRecord(Seq(
    f("i", TInt), f("x", TFloat), f("s", TStr), f("b", TBool),
    f("e", TUnion(Seq(TValue("a"), TValue("b")))), f("n", TIntN(8, false)),
    f("o", TInt, absent = true), f("t", TOption(TStr)), f("g", TFloat32)))

  test("top-level scalars, enums, sized ints and optionals match read") {
    val reasons = record("scalars", scalars)
    assert(reasons.count(_ == null) == 6, reasons)
    assert(Set("type:i", "bad_enum:e", "range:n", "null:i", "missing:i",
      "malformed_json:_payload").subsetOf(reasons.toSet), reasons)
    // the records of JsonRecordsSpec
    record("records_enum", TRecord(Seq(f("id", TInt),
      f("status", TUnion(Seq(TValue("complete"), TValue("incomplete"), TValue("blocked")))),
      f("blocker", TOption(TInt), absent = true))))
    record("records_flat", TRecord(Seq(f("a", TStr))))
    record("records_nested", TRecord(Seq(f("a", TStr),
      f("b", TOption(TRecord(Seq(f("c", TInt)))), absent = true))))
    record("records_sized", TRecord(Seq(f("id", TInt), f("age", TIntN(8, false)))))
  }

  test("unions, nested records with presence, maps, lists and points match read") {
    val shapes = TRecord(Seq(
      f("id", TInt),
      f("u", TOption(TUnion(Seq(TInt, TStr, TFloat, TList(TInt),
        TRecord(Seq(f("a", TInt))))))),
      f("r", TOption(TRecord(Seq(f("a", TInt), f("b", TStr, absent = true),
        f("l", TList(TFloat)))))),
      f("m", TOption(TMap(TInt))), f("l", TOption(TList(TStr))),
      f("p", TOption(TPoint)),
      f("h", TOption(TRecord(Seq(f("g", TFloat32), f("gs", TList(TFloat32)),
        f("gm", TMap(TFloat32)))))),
      f("v", TOption(TUnion(Seq(TPoint, TStr))))))
    val reasons = record("shapes", shapes)
    assert(reasons.contains("union_no_branch:u") && reasons.contains(null), reasons)
    // the records of NestedPresenceSpec and UnionSpec
    record("nested_presence", TRecord(Seq(f("id", TInt),
      f("addr", TOption(TRecord(Seq(f("city", TStr), f("zip", TInt, absent = true))))))))
    record("union_ingest", TRecord(Seq(f("id", TInt), f("v", TUnion(Seq(TInt, TStr))))))
  }

  test("leaves inside a union branch cast as try_variant_get casts them") {
    val t = TRecord(Seq(f("id", TInt),
      f("u", TOption(TUnion(Seq(TList(TInt), TRecord(Seq(f("f", TFloat),
        f("b", TBool), f("s", TStr), f("i", TInt), f("m", TOption(TMap(TStr))),
        f("g", TOption(TFloat32)), f("t", TOption(TTuple(Seq(TBool, TStr))))))))))))
    assert(record("union_casts", t).forall(_ == null))
  }

  test("scalar-input lines match readScalar") {
    for ((name, t) <- Seq("str" -> TStr, "int" -> TInt, "float" -> TFloat,
        "int_opt" -> TOption(TInt), "float_list" -> TList(TFloat),
        "record" -> TRecord(Seq(f("a", TInt))), "f32_list" -> TList(TFloat32),
        "f32_map" -> TMap(TFloat32)))
      agree(s"scalar_$name", JsonRecords.scalarDecoder(t),
        JsonRecords.readScalar(spark, _, t, ValidatedIngest.Dlq),
        r => if (r.isNullAt(0)) VNone else UdScript.anyToValue(r.get(0), t))
  }

  test("a union branch takes a sized int in range, F32 only when exact") {
    val t = TRecord(Seq(f("id", TInt),
      f("v", TUnion(Seq(TIntN(8, false), TValue("none"), TStr))),
      f("w", TOption(TUnion(Seq(TInt, TFloat)))),
      f("z", TOption(TUnion(Seq(TFloat32, TFloat))))))
    // 300 and -1 fit no branch at ingest, as msgpack decides
    assert(record("union_branches", t) == Seq("union_no_branch:v", null, null, null,
      "union_no_branch:v", null, null, "union_no_branch:v"))
    val payloads = golden("union_branches").map(_.payload)
    val tags = JsonRecords.read(spark, spark.createDataset(payloads)(Encoders.STRING),
        t, ValidatedIngest.Dlq).good
      .where("z is not null").select("id", "z._tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags == Map(6L -> "F32", 7L -> "Float"))
  }
}
