package graft.sources

import graft.SparkSpec
import graft.kernel.UdException
import graft.lang.Ast._
import graft.lang.UdScript
import graft.lang.Values._
import org.apache.spark.sql.{Encoders, Row}

/** The session-free decoders agree with the Spark sources record for
  * record: `lineDecoder` with `JsonRecords.read`, `scalarDecoder` with
  * `readScalar`. Every payload gets the same invalid reason; a valid one
  * decodes to the value the interpreter gets from the kept row
  * (`UdScript.rowToValue`), or stops with the same boundary error, and
  * prints the same DLQ text as that row, over edge payloads of each
  * field kind. Values compare exactly: NaN equals NaN and -0.0 is not
  * 0.0 (`Row.equals` calls them equal). */
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

  /** Exact value equality, with a record's absent-optional names. */
  private def same(a: Value, b: Value): Boolean = (a, b) match {
    case (VFloat(x), VFloat(y)) => java.lang.Double.compare(x, y) == 0
    case (VPoint(x1, y1), VPoint(x2, y2)) =>
      same(VFloat(x1), VFloat(x2)) && same(VFloat(y1), VFloat(y2))
    case (VList(xs), VList(ys)) =>
      xs.size == ys.size && xs.zip(ys).forall { case (x, y) => same(x, y) }
    case (VTuple(xs), VTuple(ys)) =>
      xs.size == ys.size && xs.zip(ys).forall { case (x, y) => same(x, y) }
    case (m: VMap, n: VMap) =>
      m.absentOk == n.absentOk && m.entries.size == n.entries.size &&
        m.entries.zip(n.entries).forall { case ((k1, x), (k2, y)) =>
          k1 == k2 && same(x, y) }
    case _ => a == b
  }

  /** Each payload's reason, after checking it and, for a valid payload,
    * the value (`value` reads the kept row as the interpreter's input)
    * and the DLQ text. */
  private def agree(payloads: Seq[String], decode: JsonRecords.LineDecoder,
                    read: org.apache.spark.sql.Dataset[String] => ValidatedIngest.Validated,
                    value: Row => Value): Seq[String] = {
    assert(payloads.distinct == payloads)
    payloads.zip(sparkRows(payloads, read)).map { case (p, (reason, good)) =>
      val (local, v, stop) = try decode(p) match {
        case Left(r)  => (r, null, null)
        case Right(x) => (null, x, null)
      } catch { case JsonRecords.OutOfRange(m) => (null, null, m) }
      assert(local == reason, s"reason of $p")
      good.foreach { g =>
        val (want, wantStop) =
          try (value(g), null) catch { case e: UdException => (null, e.message) }
        assert(stop == wantStop, s"boundary error of $p")
        if (stop == null) assert(same(v, want), s"value of $p: $v vs $want")
        assert(decode.rowText(p) == g.mkString("\t"), s"DLQ text of $p")
      }
      local
    }
  }

  private def record(t: TRecord): Row => Value = UdScript.rowToValue(_, t)

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
      "not json", "{\"i\": NaN}",
      """{"i": 2, "x": -0.0, "s": "s", "b": true, "e": "a", "n": 1, "g": -0.0}""")
    val reasons = agree(payloads, JsonRecords.lineDecoder(scalars),
      JsonRecords.read(spark, _, scalars, ValidatedIngest.Dlq), record(scalars))
    assert(reasons.count(_ == null) == 6, reasons)
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
    f("p", TOption(TPoint)),
    f("h", TOption(TRecord(Seq(f("g", TFloat32), f("gs", TList(TFloat32)),
      f("gm", TMap(TFloat32)))))),
    f("v", TOption(TUnion(Seq(TPoint, TStr))))))

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
      """{"id": 10, "m": {"a": 1, "b": null}, "l": ["ä", "tab\there"]}""",
      """{"id": 11, "u": -0.0, "r": {"a": 1, "l": [-0.0, -0e0]}}""",
      // the row keeps an F32 unrounded and a map in JSON key order
      """{"id": 12, "h": {"g": 0.1, "gs": [0.1, 2], "gm": {"z": 0.1, "a": 1}}, "m": {"b": 1, "a": 2}}""",
      """{"id": 13, "p": {"x": 1, "y": "NaN"}, "v": {"x": 1, "y": 2.5}}""",
      """{"id": 14, "p": {"y": 1}, "v": {"x": "1", "y": 2}}""",
      """{"id": 15, "v": {"x": 1.5, "y": 2, "z": 3}}""")
    val reasons = agree(payloads, JsonRecords.lineDecoder(shapes),
      JsonRecords.read(spark, _, shapes, ValidatedIngest.Dlq), record(shapes))
    assert(reasons.contains("union_no_branch:u") && reasons.contains(null), reasons)
  }

  test("leaves inside a union branch cast as try_variant_get casts them") {
    val t = TRecord(Seq(f("id", TInt),
      f("u", TOption(TUnion(Seq(TList(TInt), TRecord(Seq(f("f", TFloat),
        f("b", TBool), f("s", TStr), f("i", TInt), f("m", TOption(TMap(TStr))),
        f("g", TOption(TFloat32)), f("t", TOption(TTuple(Seq(TBool, TStr))))))))))))
    val payloads = Seq(
      """{"id": 1, "u": ["1", 2.5, true, " 3 ", "1.5", "x", null, 1e20, 9223372036854775808, [1], -0.0]}""",
      """{"id": 2, "u": {"f": "1e2", "b": "yes", "s": 2.50, "i": "+5", "m": {"b": 1.0, "a": {"z": -0.0, "c": [1.50]}}}}""",
      """{"id": 3, "u": {"f": true, "b": 0, "s": 1e2, "i": 7.9, "m": {}, "g": "0.1"}}""",
      """{"id": 4, "u": {"f": " NaN ", "b": "  f ", "s": 12345678901234567890, "i": -2.5, "m": {"k": [1, 2.50]}}}""",
      """{"id": 5, "u": {"f": "inf", "b": 2.5, "s": true, "i": false, "m": {"k": "v"}, "t": {"_1": "t", "_2": 1}}}""",
      """{"id": 6, "u": {"f": "-Infinity", "b": "1", "s": null, "i": "0x10", "g": 0.1}}""",
      """{"id": 7, "u": {"f": 123456789012345678901234567890.5, "b": 1e-7, "s": 0.1234567890123456789012345678901234567890, "i": 123456789012345678901234567890.5}}""",
      """{"id": 8, "u": {"f": "1d", "b": "no", "s": [1.0, {"b": 1, "a": 0.10}], "i": " 9223372036854775807 ", "t": [1]}}""")
    val reasons = agree(payloads, JsonRecords.lineDecoder(t),
      JsonRecords.read(spark, _, t, ValidatedIngest.Dlq), record(t))
    assert(reasons.forall(_ == null), reasons)
  }

  test("scalar-input lines match readScalar") {
    for (t <- Seq(TStr, TInt, TFloat, TOption(TInt), TList(TFloat),
                  TRecord(Seq(f("a", TInt))), TList(TFloat32), TMap(TFloat32))) {
      val payloads = Seq("\"s\"", "42", "2.5", "-0.0", "1e2", "\"NaN\"", "true", "null",
        "[1, 2.5]", "[1, \"x\"]", """{"a": 1}""", """{"a": "x"}""", "not json",
        "[0.1, 2]", """{"b": 0.1, "a": 2}""",
        "", "1, \"value\": 2", "1} {\"x\": 2")
      agree(payloads, JsonRecords.scalarDecoder(t),
        JsonRecords.readScalar(spark, _, t, ValidatedIngest.Dlq),
        r => if (r.isNullAt(0)) VNone else UdScript.anyToValue(r.get(0), t))
    }
  }

  test("a union branch takes a sized int in range, F32 only when exact") {
    val t = TRecord(Seq(f("id", TInt),
      f("v", TUnion(Seq(TIntN(8, false), TValue("none"), TStr))),
      f("w", TOption(TUnion(Seq(TInt, TFloat)))),
      f("z", TOption(TUnion(Seq(TFloat32, TFloat))))))
    val payloads = Seq("""{"id": 1, "v": 300}""", """{"id": 2, "v": 5, "w": -0.0}""",
      """{"id": 3, "v": "none", "w": -0.0e0}""", """{"id": 4, "v": "x", "w": -0}""",
      """{"id": 5, "v": 2.5}""", """{"id": 6, "v": 255, "z": 0.5}""",
      """{"id": 7, "v": 0, "z": 0.1}""", """{"id": 8, "v": -1}""")
    val reasons = agree(payloads, JsonRecords.lineDecoder(t),
      JsonRecords.read(spark, _, t, ValidatedIngest.Dlq), record(t))
    // 300 and -1 fit no branch at ingest, as msgpack decides
    assert(reasons == Seq("union_no_branch:v", null, null, null,
      "union_no_branch:v", null, null, "union_no_branch:v"))
    val tags = JsonRecords.read(spark, spark.createDataset(payloads)(Encoders.STRING),
        t, ValidatedIngest.Dlq).good
      .where("z is not null").select("id", "z._tag").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags == Map(6L -> "F32", 7L -> "Float"))
  }
}
