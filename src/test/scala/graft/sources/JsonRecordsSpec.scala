package graft.sources

import graft.SparkSpec
import graft.lang.Ast._
import org.apache.spark.sql.functions._

class JsonRecordsSpec extends SparkSpec {
  import spark.implicits._

  private val declared = TRecord(Seq(
    TField("id", TInt, absentOptional = false),
    TField("status", TUnion(Seq(TValue("complete"), TValue("incomplete"),
      TValue("blocked"))), absentOptional = false),
    TField("blocker", TOption(TInt), absentOptional = true))) // blocker?: U32

  test("declared-schema JSON read preserves absent vs null") {
    val lines = Seq(
      """{"id": 1, "status": "blocked", "blocker": 7}""",
      """{"id": 2, "status": "blocked", "blocker": null}""", // present, null
      """{"id": 3, "status": "complete"}"""                  // absent
    ).toDS()
    val v = JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq)
    val rows = v.good.orderBy("id").collect()
    assert(v.good.columns.toSeq ==
      Seq("id", "status", "blocker", "blocker__present"))
    assert(rows(0).getLong(2) == 7L && rows(0).getBoolean(3))
    assert(rows(1).isNullAt(2) && rows(1).getBoolean(3))  // null but present
    assert(rows(2).isNullAt(2) && !rows(2).getBoolean(3)) // absent
  }

  test("field-type mismatches are invalid records, not silent nulls") {
    val lines = Seq(
      """{"id": 1, "status": "complete"}""",
      """{"id": "oops", "status": "complete"}""", // Str where Int declared
      """{"id": 3, "status": "complete", "blocker": "x"}""", // bad optional
      """{"id": null, "status": "complete"}""", // REQUIRED field null
      """{"status": "complete"}""").toDS()     // REQUIRED field missing
    val v = JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq)
    assert(v.good.count() == 1)
    val reasons = v.bad.collect()
      .map(r => r.getString(r.fieldIndex("_invalid_reason"))).sorted
    assert(reasons.toSeq ==
      Seq("missing:id", "null:id", "type:blocker", "type:id"))
  }

  test("a field's validation semantics do not depend on its siblings") {
    // declared Str receiving a JSON number must be type:a-invalid both in
    // a flat record AND next to a nested sibling (which switches the data
    // path to from_json, whose Jackson leniency would otherwise coerce
    // 42 -> "42" silently)
    val flatDecl = TRecord(Seq(
      TField("a", TStr, absentOptional = false)))
    val nestedDecl = TRecord(Seq(
      TField("a", TStr, absentOptional = false),
      TField("b", TOption(TRecord(Seq(
        TField("c", TInt, absentOptional = false)))),
        absentOptional = true)))
    val lines = Seq("""{"a": 42}""", """{"a": "ok"}""").toDS()
    for (decl <- Seq(flatDecl, nestedDecl)) {
      val v = JsonRecords.read(spark, lines, decl, ValidatedIngest.Dlq)
      assert(v.good.count() == 1, s"decl $decl")
      val bad = v.bad.collect()
      assert(bad.length == 1 &&
        bad(0).getString(bad(0).fieldIndex("_invalid_reason")) == "type:a",
        s"decl $decl -> ${bad.toSeq}")
    }
  }

  test("string-literal enums are CHECK constraints at ingest (both codecs)") {
    val lines = Seq(
      """{"id": 1, "status": "complete"}""",
      """{"id": 2, "status": "bogus"}""").toDS()
    val v = JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq)
    assert(v.good.count() == 1)
    val bad = v.bad.collect()
    assert(bad.length == 1 &&
      bad(0).getString(bad(0).fieldIndex("_invalid_reason")) == "bad_enum:status")
    // msgpack: same posture through the typed decoder
    val o = new java.io.ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L, "status" -> "blocked"))
    Msgpack.writeMap(o, Seq("id" -> 2L, "status" -> "bogus"))
    val recs = new Msgpack.Decoder(declared).records(o.toByteArray).toSeq
    assert(recs(0).isRight)
    assert(recs(1).swap.exists(_._1.startsWith("bad_enum:status")))
  }

  test("sized-int ranges route by mode at ingest in both codecs") {
    val sized = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("age", TIntN(8, signed = false), absentOptional = false)))
    val lines = Seq(
      """{"id": 1, "age": 200}""",
      """{"id": 2, "age": 300}""").toDS() // > U8 range
    val v = JsonRecords.read(spark, lines, sized, ValidatedIngest.Dlq)
    assert(v.good.count() == 1)
    val bad = v.bad.collect()
    assert(bad.length == 1 &&
      bad(0).getString(bad(0).fieldIndex("_invalid_reason")) == "range:age")
    val o = new java.io.ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L, "age" -> 200L))
    Msgpack.writeMap(o, Seq("id" -> 2L, "age" -> 300L))
    val recs = new Msgpack.Decoder(sized).records(o.toByteArray).toSeq
    assert(recs(0).isRight)
    assert(recs(1).swap.exists(_._1.startsWith("range:age")))
  }

  test("malformed payloads route to the DLQ; egress round-trips") {
    val lines = Seq(
      """{"id": 1, "status": "complete"}""",
      """not json at all""").toDS()
    val v = JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq)
    assert(v.good.count() == 1)
    assert(v.bad.count() == 1)
    val back = JsonRecords.toJsonLines(v.good.select("id", "status"))
      .collect()
    assert(back.toSeq == Seq("""{"id":1,"status":"complete"}"""))
  }
}
