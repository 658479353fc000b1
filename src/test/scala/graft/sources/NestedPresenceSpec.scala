package graft.sources

import java.io.ByteArrayOutputStream

import graft.SparkSpec
import graft.lang.Ast._
import graft.lang.UdScript

/** Absent-vs-null for NESTED records: presence flags live inside the
  * struct (top-level flags stay external sibling columns), so
  * `in.addr.?.zip` reads a real signal in both tiers. */
class NestedPresenceSpec extends SparkSpec {

  // addr is NULLABLE (T?): a required field may not be null at ingest
  private val declared = TRecord(Seq(
    TField("id", TInt, absentOptional = false),
    TField("addr", TOption(TRecord(Seq(
      TField("city", TStr, absentOptional = false),
      TField("zip", TInt, absentOptional = true)))),
      absentOptional = false)))

  private val colScript = """script "nested has";
    |input  {id: Int, addr: {city: Str, zip?: Int}?};
    |output {id: Int, hz: Bool};
    |out {id: in.id, hz: in.addr.?.zip};""".stripMargin

  private val kernelScript = """script "nested has kernel";
    |input  {id: Int, addr: {city: Str, zip?: Int}?};
    |output {id: Int, hz: Bool};
    |for x in [1] {
    |  out {id: in.id, hz: in.addr.?.zip};
    |}""".stripMargin

  private val payloads = Seq(
    """{"id": 1, "addr": {"city": "a", "zip": 5}}""",   // present
    """{"id": 2, "addr": {"city": "b", "zip": null}}""", // present, null
    """{"id": 3, "addr": {"city": "c"}}""",              // ABSENT
    """{"id": 4, "addr": null}""")                       // no record at all

  private val expected = Seq((1L, true), (2L, true), (3L, false), (4L, false))

  test("JSON nested presence: column tier and kernel tier agree") {
    val lines = spark.createDataset(payloads)(
      org.apache.spark.sql.Encoders.STRING)
    val good = JsonRecords.read(spark, lines, declared,
      ValidatedIngest.Abort).good
    for (src <- Seq(colScript, kernelScript)) {
      val c = UdScript.compile(src)
      val out = c.run(good).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
      assert(out == expected, s"tier=${c.tier}")
    }
    val col = UdScript.compile(colScript)
    assert(col.tier == UdScript.ColumnTier)
    assert(UdScript.compile(kernelScript).tier == UdScript.KernelTier)
  }

  test("EMITTING a nested record preserves presence in both tiers") {
    import spark.implicits._
    val emitCol = """script "emit nested";
      |input  {id: Int, flag: Bool};
      |output {id: Int, addr: {city: Str, zip?: Int}};
      |if (in.flag) { out {id: in.id, addr: {city: "x", zip: 9}}; }
      |else { out {id: in.id, addr: {city: "y"}}; }""".stripMargin
    val emitKernel = """script "emit nested kernel";
      |input  {id: Int, flag: Bool};
      |output {id: Int, addr: {city: Str, zip?: Int}};
      |for i in [1] {
      |  if (in.flag) { out {id: in.id, addr: {city: "x", zip: 9}}; }
      |  else { out {id: in.id, addr: {city: "y"}}; }
      |}""".stripMargin
    val df = Seq((1L, true), (2L, false)).toDF("id", "flag")
    for (src <- Seq(emitCol, emitKernel)) {
      val c = UdScript.compile(src)
      val out = c.run(df).orderBy("id").collect()
      val a1 = out(0).getStruct(1)
      val a2 = out(1).getStruct(1)
      assert(a1.getBoolean(a1.fieldIndex("zip__present")), s"tier=${c.tier}")
      assert(!a2.getBoolean(a2.fieldIndex("zip__present")), s"tier=${c.tier}")
      assert(a1.getLong(a1.fieldIndex("zip")) == 9L)
      assert(a2.isNullAt(a2.fieldIndex("zip")))
    }
    assert(UdScript.compile(emitCol).tier == UdScript.ColumnTier)
    assert(UdScript.compile(emitKernel).tier == UdScript.KernelTier)
  }

  test("msgpack nested presence round-trips the same signal") {
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L,
      "addr" -> scala.collection.immutable.ListMap("city" -> "a", "zip" -> 5L)))
    Msgpack.writeMap(o, Seq("id" -> 2L,
      "addr" -> scala.collection.immutable.ListMap("city" -> "b", "zip" -> null)))
    Msgpack.writeMap(o, Seq("id" -> 3L,
      "addr" -> scala.collection.immutable.ListMap("city" -> "c")))
    val recs = new Msgpack.Decoder(declared).records(o.toByteArray).toSeq
    assert(recs.size == 3 && recs.forall(_.isRight)) // all valid
    val dir = java.nio.file.Files.createTempDirectory("graft_nested").toFile
    val f = new java.io.FileOutputStream(new java.io.File(dir, "part-00000.msgpack"))
    try f.write(o.toByteArray) finally f.close()
    val good = Msgpack.read(spark, dir.getPath, declared,
      ValidatedIngest.Abort).good
    val c = UdScript.compile(colScript)
    val out = c.run(good).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(out == Seq((1L, true), (2L, true), (3L, false)))
  }
}
