package graft.lang

import graft.SparkSpec
import graft.lang.Ast._
import graft.lang.UdScript.{ColumnTier, KernelTier}

/** `as F32` is numerically real (manual.md:121, README.md:174-176): the
  * value rounds through IEEE-754 float32 on BOTH lowering tiers and at
  * the msgpack ingest boundary — the float twin of sized-int range
  * honesty. */
class F32Spec extends SparkSpec {
  import spark.implicits._

  private val inputs = Seq((1L, 0.1), (2L, 1.0 / 3.0), (3L, 0.5))
  private val expected =
    inputs.map { case (id, v) => (id, v.toFloat.toDouble) }

  test("as F32 rounds through float32 on the column tier") {
    val src = """script "f32 column";
      |input  {id: Int, v: Float};
      |output {id: Int, w: Float};
      |out {id: in.id, w: in.v as F32};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == ColumnTier)
    val out = c.run(inputs.toDF("id", "v")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == expected)
    assert(out(0)._2 != 0.1) // the rounding is observable
  }

  test("as F32 rounds through float32 on the kernel tier") {
    val src = """script "f32 kernel";
      |input  {id: Int, v: Float};
      |output {id: Int, w: Float};
      |proc emit(k: Int, x: Float) { out {id: k, w: x as F32}; }
      |emit(in.id, in.v);""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == KernelTier)
    val out = c.run(inputs.toDF("id", "v")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out == expected)
  }

  test("declared F32 input/output fields round identically on BOTH tiers") {
    // same logic, forced to different tiers by the proc — the declared
    // boundary (not just `as F32`) must round on each, so a script gives
    // one answer regardless of which tier compiles it
    val columnSrc = """script "f32 bound col";
      |input  {id: Int, v: F32};
      |output {id: Int, w: F32};
      |out {id: in.id, w: in.v};""".stripMargin
    val kernelSrc = """script "f32 bound kern";
      |input  {id: Int, v: F32};
      |output {id: Int, w: F32};
      |proc emit(k: Int, x: Float) { out {id: k, w: x}; }
      |emit(in.id, in.v);""".stripMargin
    val cc = UdScript.compile(columnSrc)
    val ck = UdScript.compile(kernelSrc)
    assert(cc.tier == ColumnTier && ck.tier == KernelTier)
    def res(c: UdScript.Compiled) =
      c.run(inputs.toDF("id", "v")).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (outC, outK) = (res(cc), res(ck))
    assert(outC == expected, s"column tier: $outC")
    assert(outK == expected, s"kernel tier: $outK")
    assert(outC(0)._2 != 0.1) // the boundary rounding is observable
  }

  test("[F32] list fields round elementwise on BOTH tiers") {
    val data = Seq((1L, Seq(0.1, 1.0 / 3.0)), (2L, Seq(0.5, 0.2)))
    val want = data.map { case (id, xs) =>
      (id, xs.map(_.toFloat.toDouble)) }
    val columnSrc = """script "f32 list col";
      |input  {id: Int, xs: [F32]};
      |output {id: Int, ys: [F32]};
      |out {id: in.id, ys: in.xs};""".stripMargin
    val kernelSrc = """script "f32 list kern";
      |input  {id: Int, xs: [F32]};
      |output {id: Int, ys: [F32]};
      |proc emit(k: Int, v: [Float]) { out {id: k, ys: v}; }
      |emit(in.id, in.xs);""".stripMargin
    val cc = UdScript.compile(columnSrc)
    val ck = UdScript.compile(kernelSrc)
    assert(cc.tier == ColumnTier && ck.tier == KernelTier)
    def res(c: UdScript.Compiled) =
      c.run(data.toDF("id", "xs")).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(res(cc) == want, s"column: ${res(cc)}")
    assert(res(ck) == want, s"kernel: ${res(ck)}")
  }

  test("F32 inside a NESTED output record rounds on both tiers") {
    val columnSrc = """script "f32 nested col";
      |input  {id: Int, v: Float};
      |output {id: Int, m: {w: F32, tag: Str}};
      |out {id: in.id, m: {w: in.v, tag: "x"}};""".stripMargin
    val kernelSrc = """script "f32 nested kern";
      |input  {id: Int, v: Float};
      |output {id: Int, m: {w: F32, tag: Str}};
      |proc emit(k: Int, x: Float) { out {id: k, m: {w: x, tag: "x"}}; }
      |emit(in.id, in.v);""".stripMargin
    val cc = UdScript.compile(columnSrc)
    val ck = UdScript.compile(kernelSrc)
    assert(cc.tier == ColumnTier && ck.tier == KernelTier)
    def res(c: UdScript.Compiled) =
      c.run(inputs.toDF("id", "v")).orderBy("id").collect()
        .map { r =>
          val m = r.getStruct(1)
          (r.getLong(0), m.getDouble(m.fieldIndex("w")),
            m.getString(m.fieldIndex("tag")))
        }.toSeq
    val want = expected.map { case (id, w) => (id, w, "x") }
    assert(res(cc) == want, s"column: ${res(cc)}")
    assert(res(ck) == want, s"kernel: ${res(ck)}")
  }

  test("declared F32 fields round at the msgpack boundary") {
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("x", TFloat32, absentOptional = false)))
    val o = new java.io.ByteArrayOutputStream()
    graft.sources.Msgpack.writeMap(o, Seq("id" -> 1L, "x" -> 0.1))
    val recs = new graft.sources.Msgpack.Decoder(declared).records(o.toByteArray).toSeq
    assert(recs.head.exists(_.index("x") == graft.lang.Values.VFloat(0.1.toFloat.toDouble)))
  }
}
