package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import graft.SparkSpec
import graft.lang.Ast._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class MsgpackSpec extends SparkSpec {

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  private def enc(v: Any): Array[Byte] = {
    val o = new ByteArrayOutputStream(); Msgpack.writeValue(o, v); o.toByteArray
  }

  test("encoder produces spec-exact bytes (golden vectors)") {
    assert(hex(enc(null)) == "c0")
    assert(hex(enc(true)) == "c3")
    assert(hex(enc(false)) == "c2")
    assert(hex(enc(7L)) == "07")                  // positive fixint
    assert(hex(enc(127L)) == "7f")
    assert(hex(enc(-1L)) == "ff")                 // negative fixint
    assert(hex(enc(-32L)) == "e0")
    assert(hex(enc(-33L)) == "d0df")              // int8
    assert(hex(enc(128L)) == "d10080")            // int16 (128 > fixint)
    assert(hex(enc(65536L)) == "d200010000")      // int32
    assert(hex(enc(4294967296L)) == "d30000000100000000") // int64
    assert(hex(enc(1.5)) == "cb3ff8000000000000") // float64
    assert(hex(enc("hi")) == "a26869")            // fixstr
    assert(hex(enc(Array[Byte](1, 2))) == "c4020102") // bin8
    assert(hex(enc(Vector(1L, 2L, 3L))) == "93010203") // fixarray
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("a" -> 1L, "b" -> null))
    assert(hex(o.toByteArray) == "82a16101a162c0") // fixmap
  }

  test("decoder inverts the encoder across all families") {
    val values: Seq[Any] = Seq(null, true, false, 0L, 127L, 128L, -32L,
      -33L, 65535L, -65536L, Long.MaxValue, Long.MinValue, 3.25, -0.5,
      "", "hello", "x" * 40, "y" * 300, Vector(1L, "two", null),
      Vector.empty[Any])
    values.foreach { v =>
      assert(Msgpack.readValue(ByteBuffer.wrap(enc(v))) == v, s"for $v")
    }
    // maps decode to ordered entry vectors
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("k1" -> 9L, "k2" -> "v"))
    assert(Msgpack.readValue(ByteBuffer.wrap(o.toByteArray)) ==
      Vector("k1" -> 9L, "k2" -> "v"))
    // str8/16 length boundaries
    assert(hex(enc("x" * 32)).startsWith("d920"))
    assert(hex(enc("y" * 300)).startsWith("da012c"))
  }

  test("absent vs null survives a write/read round trip") {
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("opt", TInt, absentOptional = true)))
    val dir = "/tmp/graft_msgpack_spec/absent"
    // row 1: opt present with value; row 2: opt present but null;
    // row 3: opt ABSENT (presence flag false → key omitted)
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 10L, true), Row(2L, null, true), Row(3L, null, false)),
      graft.lang.UdScript.inputFrame(declared))
    Msgpack.write(df, dir)
    val back = Msgpack.read(spark, dir, declared, ValidatedIngest.Skip)
      .good.orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), Option(r.get(1)), r.getBoolean(2)))
      .toSeq == Seq((1L, Some(10L), true), (2L, None, true),
        (3L, None, false)))
  }

  test("corrupt stream routes to DLQ with reason; Skip drops it") {
    val declared = TRecord(Seq(TField("id", TInt, absentOptional = false)))
    val dir = new java.io.File("/tmp/graft_msgpack_spec/corrupt")
    dir.mkdirs()
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L))
    o.write(0xc1) // the one permanently-invalid msgpack tag
    val f = new java.io.FileOutputStream(
      new java.io.File(dir, "part-00000.msgpack"))
    try f.write(o.toByteArray) finally f.close()
    val v = Msgpack.read(spark, dir.getPath, declared, ValidatedIngest.Dlq)
    assert(v.good.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val bad = v.bad.select("_invalid_reason").collect().map(_.getString(0))
    assert(bad.length == 1 && bad(0).startsWith("malformed@"))
    val skipped =
      Msgpack.read(spark, dir.getPath, declared, ValidatedIngest.Skip).good
    assert(skipped.count() == 1)
  }

  test("type mismatch against the declaration carries a field reason") {
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("name", TStr, absentOptional = false)))
    val dir = new java.io.File("/tmp/graft_msgpack_spec/badtype")
    dir.mkdirs()
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L, "name" -> "ok"))
    Msgpack.writeMap(o, Seq("id" -> "oops", "name" -> "bad"))
    Msgpack.writeMap(o, Seq("name" -> "no id"))
    val f = new java.io.FileOutputStream(
      new java.io.File(dir, "part-00000.msgpack"))
    try f.write(o.toByteArray) finally f.close()
    val v = Msgpack.read(spark, dir.getPath, declared, ValidatedIngest.Dlq)
    assert(v.good.count() == 1)
    val reasons = v.bad.select("_invalid_reason").collect()
      .map(_.getString(0)).sorted
    assert(reasons.toSeq == Seq("missing:id", "type:id expected bigint got String"))
  }

  test("nested records, lists and maps round trip through the codec") {
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("tags", TList(TStr), absentOptional = false),
      TField("meta", TRecord(Seq(
        TField("k", TStr, absentOptional = false),
        TField("n", TInt, absentOptional = false))), absentOptional = false),
      TField("scores", TMap(TFloat), absentOptional = false)))
    val dir = new java.io.File("/tmp/graft_msgpack_spec/nested")
    dir.mkdirs()
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq(
      "id" -> 1L,
      "tags" -> Vector("a", "b"),
      "meta" -> Map("k" -> "x", "n" -> 9L),
      "scores" -> Map("s1" -> 0.5, "s2" -> 2L))) // int where float declared
    val f = new java.io.FileOutputStream(
      new java.io.File(dir, "part-00000.msgpack"))
    try f.write(o.toByteArray) finally f.close()
    val rows = Msgpack.read(spark, dir.getPath, declared,
      ValidatedIngest.Abort).good.collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getLong(0) == 1L)
    assert(r.getSeq[String](1).toSeq == Seq("a", "b"))
    assert(r.getStruct(2) == Row("x", 9L))
    assert(r.getMap[String, Double](3) == Map("s1" -> 0.5, "s2" -> 2.0))
  }

  test("fail-loud posture: uint64 overflow and unsupported write types") {
    // uint64 with the sign bit set cannot be an i64 — must raise, not wrap
    val big = Array[Byte](0xcf.toByte, 0xff.toByte, 0, 0, 0, 0, 0, 0, 1)
    intercept[Msgpack.MsgpackError] {
      Msgpack.readValue(ByteBuffer.wrap(big))
    }
    // in-range uint64 still decodes
    val ok = Array[Byte](0xcf.toByte, 0, 0, 0, 0, 0, 0, 0, 9)
    assert(Msgpack.readValue(ByteBuffer.wrap(ok)) == 9L)
    // a runtime type the wire format can't carry fails at write time
    intercept[Msgpack.MsgpackError] {
      enc(java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    }
  }

  test("events round trip through msgpack equals the parquet source") {
    val src = graft.Tables.events(spark, sf).select(col("event_id"),
      col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"))
    val got = graft.queries.Dataflow.msgpackRoundtrip(spark, sf)
    assert(got.schema.fieldNames.toSeq ==
      Seq("event_id", "user_id", "event_type", "value", "ts_us"))
    val a = src.orderBy("event_id").collect()
    val b = got.collect()
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => x == y })
  }
}
