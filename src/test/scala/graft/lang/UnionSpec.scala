package graft.lang

import graft.SparkSpec
import graft.lang.Ast._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Tagged-struct union encoding ({_tag, v0, v1}) across both tiers. */
class UnionSpec extends SparkSpec {
  import spark.implicits._

  private def unionDf = Seq((1L, "Int", Some(5L), None: Option[String]),
    (2L, "Str", None: Option[Long], Some("hi")))
    .toDF("id", "t", "i", "s")
    .select(col("id"),
      struct(col("t").as("_tag"), col("i").as("v0"), col("s").as("v1"))
        .as("v"))

  test("column tier narrows a union with CASE over _tag") {
    val src = """script "col union";
      |input  {id: Int, v: Int | Str};
      |output {id: Int, r: Str};
      |out {id: in.id, r: match (in.v) {
      |  case i: Int => "n";
      |  case s: Str => s;
      |}};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.ColumnTier)
    val out = c.run(unionDf).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "n"), (2L, "hi")))
  }

  test("kernel tier decodes and re-encodes union values") {
    val src = """script "kernel union";
      |input  {id: Int, v: Int | Str};
      |output {id: Int, w: Int | Str};
      |for x in [in.v] {
      |  out {id: in.id, w: x};
      |}""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.KernelTier)
    val out = c.run(unionDf).orderBy("id").collect()
    assert(out(0).getStruct(1) == Row("Int", 5L, null))
    assert(out(1).getStruct(1) == Row("Str", null, "hi"))
  }

  test("sized integers enforce their declared range at kernel boundaries") {
    // U8 input: 200 passes, 300 aborts the record (ingest range check)
    val src = """script "sized";
      |input  U8;
      |output Int;
      |for x in [in] { out x * 2; }""".stripMargin
    val c = UdScript.compile(src)
    val ok = c.run(Seq(200L).toDF("value")).collect().map(_.getLong(0))
    assert(ok.toSeq == Seq(400L))
    val ex = intercept[Exception] {
      c.run(Seq(300L).toDF("value")).collect()
    }
    assert(ex.getMessage.contains("range") ||
      ex.getCause != null)
    // `as I8` cast range-checks; match on a sized type is a range test
    val cast = """script "cast";
      |input  Int;
      |output Str;
      |out match (in) {
      |  case b: U8 => "byte";
      |  else => "big";
      |};""".stripMargin
    val c2 = UdScript.compile(cast)
    val out = c2.run(Seq(12L, 300L).toDF("value")).collect()
      .map(_.getString(0)).sorted
    assert(out.toSeq == Seq("big", "byte"))
  }

  test("column tier also enforces sized-int field ranges") {
    val src = """script "sized col";
      |input  {id: Int, v: U16};
      |output {id: Int, w: Int};
      |out {id: in.id, w: in.v + 1};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.ColumnTier)
    val ok = c.run(Seq((1L, 65535L)).toDF("id", "v")).collect()
    assert(ok(0).getLong(1) == 65536L)
    val ex = intercept[Exception] {
      c.run(Seq((1L, 70000L)).toDF("id", "v")).collect()
    }
    assert(ex.getMessage != null)
  }

  test("U64 is range-honest: negative Longs rejected at both tiers") {
    // column tier: a U64 field guards against the unrepresentable range
    val colSrc = """script "u64 col";
      |input  {id: Int, v: U64};
      |output {id: Int, w: Int};
      |out {id: in.id, w: in.v + 1};""".stripMargin
    val c = UdScript.compile(colSrc)
    assert(c.tier == UdScript.ColumnTier)
    val ok = c.run(Seq((1L, Long.MaxValue - 1)).toDF("id", "v")).collect()
    assert(ok(0).getLong(1) == Long.MaxValue)
    // a negative Long is what a wrapped uint64 > i64 range looks like
    val ex = intercept[Exception] {
      c.run(Seq((1L, -5L)).toDF("id", "v")).collect()
    }
    assert(ex.getMessage != null)
    // kernel tier: same guard at ingest
    val kSrc = """script "u64 kernel";
      |input  U64;
      |output Int;
      |for x in [in] { out x; }""".stripMargin
    val k = UdScript.compile(kSrc)
    assert(k.run(Seq(7L).toDF("value")).collect()(0).getLong(0) == 7L)
    val ex2 = intercept[Exception] {
      k.run(Seq(-1L).toDF("value")).collect()
    }
    assert(ex2.getMessage != null)
  }

  test("true union ingest: msgpack raw values get tags at validation time") {
    import graft.sources.{Msgpack, ValidatedIngest}
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("v", TUnion(Seq(TInt, TStr)), absentOptional = false)))
    val o = new java.io.ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L, "v" -> 42L))      // raw int
    Msgpack.writeMap(o, Seq("id" -> 2L, "v" -> "hello"))  // raw str
    Msgpack.writeMap(o, Seq("id" -> 3L, "v" -> true))     // no branch!
    val routed = Msgpack.ingest(spark.createDataset(Seq(o.toByteArray))(
      org.apache.spark.sql.Encoders.BINARY), declared, ValidatedIngest.Dlq)
    val rows = routed.good.orderBy("id").collect().toSeq
    assert(rows.length == 2)
    val r1 = rows(0); val r2 = rows(1); val r3 = routed.bad.collect().head
    assert(r1.getStruct(1).getString(0) == "Int" &&
      r1.getStruct(1).getLong(1) == 42L)
    assert(r2.getStruct(1).getString(0) == "Str" &&
      r2.getStruct(1).getString(2) == "hello")
    // bool fits neither branch: field null + reason, routed by mode
    assert(r3.getLong(0) == 3L && r3.isNullAt(1) &&
      r3.getString(2).startsWith("union_no_branch:v"))
  }

  test("true union ingest: JSON declared-order inference + no-branch DLQ") {
    import graft.sources.{JsonRecords, ValidatedIngest}
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("v", TUnion(Seq(TInt, TStr)), absentOptional = false)))
    val lines = spark.createDataset(Seq(
      """{"id": 1, "v": 42}""",
      """{"id": 2, "v": "hello"}""",
      """{"id": 3, "v": "42"}""",      // QUOTED digits: Str, not Int
      """{"id": 4, "v": [1,2]}"""))(   // matches no branch -> DLQ
      org.apache.spark.sql.Encoders.STRING)
    val v = JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq)
    val good = v.good.orderBy("id").collect()
    assert(good.length == 3)
    assert(good(0).getStruct(1).getString(0) == "Int" &&
      good(0).getStruct(1).getLong(1) == 42L)
    assert(good(1).getStruct(1).getString(0) == "Str")
    assert(good(2).getStruct(1).getString(0) == "Str" &&
      good(2).getStruct(1).getString(2) == "42")
    val bad = v.bad.collect()
    assert(bad.length == 1 &&
      bad(0).getString(bad(0).fieldIndex("_invalid_reason"))
        .startsWith("union_no_branch:v"))
  }

  test("match with Some/none patterns stays kernel tier (no misclassify)") {
    val src = """script "opt match";
      |input  Int?;
      |output Str;
      |out match (in) {
      |  case Some(x) => "got";
      |  case none => "nope";
      |};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.KernelTier)
    val out = c.run(Seq[Option[Long]](Some(1L), None).toDF("value"))
      .collect().map(_.getString(0))
    assert(out.sorted.toSeq == Seq("got", "nope"))
  }
}
