package graft.sources

import graft.SparkSpec
import graft.lang.Ast._
import org.apache.spark.sql.{Encoders, Row}

/** The session-free decoders reproduce the Spark sources row for row:
  * `lineDecoder` against `JsonRecords.read`, `scalarDecoder` against
  * `readScalar` — the same invalid reason for every payload and the same
  * values for every valid one, over edge payloads of each field kind. */
class JsonLineDecoderSpec extends SparkSpec {

  private def f(n: String, t: UdType, absent: Boolean = false) =
    TField(n, t, absentOptional = absent)

  /** Spark's (reason, good row) per payload, in payload order. */
  private def sparkRows(payloads: Seq[String],
                        read: org.apache.spark.sql.Dataset[String] => ValidatedIngest.Validated)
      : Seq[(String, Option[Row])] = {
    val v = read(spark.createDataset(payloads)(Encoders.STRING))
    val bad = v.bad.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val good = v.good.collect().iterator
    payloads.map(p => bad.get(p) match {
      case Some(reason) => (reason, None)
      case None => (null, Some(good.next()))
    })
  }

  private def agree(payloads: Seq[String], decode: String => Row,
                    read: org.apache.spark.sql.Dataset[String] => ValidatedIngest.Validated)
      : Seq[String] = {
    assert(payloads.distinct == payloads)
    payloads.zip(sparkRows(payloads, read)).map { case (p, (reason, good)) =>
      val r = decode(p)
      val local = r.getString(r.length - 1)
      assert(local == reason, s"reason of $p")
      good.foreach(g => assert(Row.fromSeq(r.toSeq.init) == g, s"row of $p"))
      local
    }
  }

  private val scalars = TRecord(Seq(
    f("i", TInt), f("x", TFloat), f("s", TStr), f("b", TBool),
    f("e", TUnion(Seq(TValue("a"), TValue("b")))), f("n", TIntN(8, false)),
    f("o", TInt, absent = true), f("t", TOption(TStr)), f("g", TFloat32)))

  private val base = """"i": 1, "x": 2.5, "s": "s", "b": true, "e": "a", "n": 7, "t": "t", "g": 0.1"""

  test("top-level scalars, enums, sized ints and optionals match read") {
    val payloads = Seq(
      s"{$base}", s"{$base, " + "\"o\": 3}", s"{$base, " + "\"o\": null}",
      """{"i": 12345678901234567890, "x": 1, "s": "", "b": false, "e": "b", "n": 0, "t": null, "g": 3}""",
      """{"i": 1.0, "x": 1e400, "s": "s", "b": true, "e": "a", "n": 1, "g": 1}""",
      """{"i": "1", "x": "2.5", "s": 3, "b": "true", "e": "c", "n": 256, "g": "x"}""",
      """{"i": 1, "x": 12345678901234567890, "s": "s", "b": true, "e": "z", "n": -1, "g": 1}""",
      """{"i": 1, "x": 1, "s": "s", "b": true, "e": "a", "n": 300, "g": 1}""",
      """{"i": null, "x": 1, "s": "s", "b": true, "e": "a", "n": 1, "g": 1}""",
      """{"x": 1, "s": "s", "b": true, "e": "a", "n": 1, "g": 1}""",
      """{"i": 1, "i": 2, "x": 1, "s": "s", "b": true, "e": "a", "n": 1, "g": 1}""",
      s"{$base} trailing text", s"  {$base}  ",
      """[1, 2]""", "\"just a string\"", "42", "null", "", "   ", "{", "{\"i\": 1,}",
      "not json", "{\"i\": NaN}")
    val reasons = agree(payloads, JsonRecords.lineDecoder(scalars),
      JsonRecords.read(spark, _, scalars, ValidatedIngest.Dlq))
    assert(reasons.count(_ == null) == 5, reasons)
    assert(Set("type:i", "bad_enum:e", "range:n", "null:i", "missing:i",
      "malformed_json:_payload").subsetOf(reasons.toSet), reasons)
  }

  private val shapes = TRecord(Seq(
    f("id", TInt),
    f("u", TOption(TUnion(Seq(TInt, TStr, TFloat, TList(TInt),
      TRecord(Seq(f("a", TInt))))))),
    f("r", TOption(TRecord(Seq(f("a", TInt), f("b", TStr, absent = true),
      f("l", TList(TFloat)))))),
    f("m", TOption(TMap(TInt))), f("l", TOption(TList(TStr))),
    f("p", TOption(TPoint))))

  test("unions, nested records with presence, maps, lists and points match read") {
    val payloads = Seq(
      """{"id": 1, "u": 5, "r": {"a": 1, "b": "x", "l": [1, 2.5]}, "m": {"k": 1}, "l": ["a"], "p": {"x": 1, "y": 2.5}}""",
      """{"id": 2, "u": "hi", "r": {"a": 1, "l": []}, "m": {}, "l": []}""",
      """{"id": 3, "u": 2.5, "r": {"a": "bad", "b": null, "l": [1]}}""",
      """{"id": 4, "u": [1, "x", 3], "r": {"a": 1, "l": [1, "x"]}}""",
      """{"id": 5, "u": {"a": 1}, "r": null, "m": {"k": "x"}, "l": [1, {"a": 2}, null]}""",
      """{"id": 6, "u": true}""",
      """{"id": 7, "u": null, "r": [1], "m": [1], "l": "x"}""",
      """{"id": 8, "u": 12345678901234567890, "r": {"l": [2e3], "a": 9}}""",
      """{"id": 9, "r": {"a": 1, "l": [1], "extra": {"deep": [1]}}, "p": {"x": "1", "y": 2}}""",
      """{"id": 10, "m": {"a": 1, "b": null}, "l": ["ä", "tab\there"]}""")
    val reasons = agree(payloads, JsonRecords.lineDecoder(shapes),
      JsonRecords.read(spark, _, shapes, ValidatedIngest.Dlq))
    assert(reasons.contains("union_no_branch:u") && reasons.contains(null), reasons)
  }

  test("scalar-input lines match readScalar") {
    for (t <- Seq(TStr, TInt, TFloat, TOption(TInt), TList(TFloat),
                  TRecord(Seq(f("a", TInt))))) {
      val payloads = Seq("\"s\"", "42", "2.5", "1e2", "\"NaN\"", "true", "null",
        "[1, 2.5]", "[1, \"x\"]", """{"a": 1}""", """{"a": "x"}""", "not json",
        "", "1, \"value\": 2", "1} {\"x\": 2")
      agree(payloads, JsonRecords.scalarDecoder(t),
        JsonRecords.readScalar(spark, _, t, ValidatedIngest.Dlq))
    }
  }
}
