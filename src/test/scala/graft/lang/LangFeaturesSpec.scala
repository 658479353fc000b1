package graft.lang

import graft.SparkSpec
import graft.lang.Ast._
import graft.lang.UdScript.{ColumnTier, KernelTier}

/** DOC/COMP-status language features (SURVEY §2): comprehensions, `as`
  * casts, partial application `$`, stdlib (sqrt/join/length). */
class LangFeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("comprehension [coll | lambda] lowers to transform on column tier") {
    val src = """script "normalize";
      |input  {doc_id: Int, vals: [Float]};
      |output {doc_id: Int, doubled: [Float]};
      |out {doc_id: in.doc_id, doubled: [in.vals | (x: Float) -> Float = x * 2.0]};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == ColumnTier)
    val df = Seq((1L, Seq(1.0, 2.5))).toDF("doc_id", "vals")
    val out = c.run(df).collect()(0).getSeq[Double](1)
    assert(out == Seq(2.0, 5.0))
  }

  test("Point type: construction, field access, deep-Eq, both tiers") {
    // column tier: point() lowers to struct, .x/.y to getField
    val colSrc = """script "points col";
      |input  {id: Int, x: Float, y: Float};
      |output {id: Int, p: Point, px: Float};
      |out {id: in.id, p: point(in.x, in.y), px: point(in.x, in.y).x};""".stripMargin
    val c = UdScript.compile(colSrc)
    assert(c.tier == ColumnTier)
    val out = c.run(Seq((1L, 1.5, 2.5)).toDF("id", "x", "y")).collect()(0)
    assert(out.getStruct(1) == org.apache.spark.sql.Row(1.5, 2.5))
    assert(out.getDouble(2) == 1.5)
    // kernel tier: VPoint round-trips, match on p:Point, deep-Eq
    val kSrc = """script "points kernel";
      |input  {id: Int, x: Float, y: Float};
      |output {id: Int, eq: Bool, shape: Str};
      |proc go(p: Point) {
      |  out {id: in.id, eq: p == point(in.x, in.y),
      |       shape: match (p) {
      |         case q: Point => "point";
      |         else => "other";
      |       }};
      |}
      |go(point(in.x, in.y));""".stripMargin
    val k = UdScript.compile(kSrc)
    assert(k.tier == KernelTier)
    val kOut = k.run(Seq((1L, 1.5, 2.5)).toDF("id", "x", "y")).collect()(0)
    assert(kOut.getBoolean(1) && kOut.getString(2) == "point")
  }

  test("Point ingests from a msgpack {x,y} wire record") {
    import graft.sources.Msgpack
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("p", TPoint, absentOptional = false)))
    val o = new java.io.ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("id" -> 1L,
      "p" -> scala.collection.immutable.ListMap("x" -> 0.5, "y" -> 9.0)))
    import graft.lang.Values._
    val recs = new Msgpack.Decoder(declared).records(o.toByteArray).toSeq
    assert(recs == Seq(Right(VMap(Vector("id" -> VInt(1), "p" -> VPoint(0.5, 9.0)))())))
  }

  test("kernel-tier Dot on a map fails loud for missing keys") {
    def script(key: String) = s"""script "map dot strict";
      |input  {k: Int, m: Map<Int>};
      |output {v: Int};
      |proc get(n: Int) {
      |  if (n > 100) { get(n - 1); } else { out {v: n}; }
      |}
      |get(in.m.$key);""".stripMargin
    val df = Seq((1L, Map("a" -> 5L))).toDF("k", "m")
    val ok = UdScript.compile(script("a"))
    assert(ok.tier == KernelTier)
    assert(ok.run(df).collect().map(_.getLong(0)).toSeq == Seq(5L))
    // a key the record does not carry (and is not declared absent-
    // optional) must error at runtime, not silently read as none
    val bad = UdScript.compile(script("zz"))
    val e = intercept[org.apache.spark.SparkException] {
      bad.run(df).collect()
    }
    assert(e.getMessage.contains("no field zz") ||
      Option(e.getCause).exists(_.getMessage.contains("no field zz")))
  }

  test("comprehension with $ placeholder ([coll | $.y] style)") {
    val src = """script "pluck";
      |input  {vals: [Float]};
      |output {sq: [Float]};
      |out {sq: [in.vals | $ * $]};""".stripMargin
    // $ * $ has two placeholders -> binary; use single-$ form instead
    val src1 = """script "pluck";
      |input  {vals: [Float]};
      |output {halved: [Float]};
      |out {halved: [in.vals | $ / 2.0]};""".stripMargin
    val c = UdScript.compile(src1)
    val df = Seq(Tuple1(Seq(4.0, 9.0))).toDF("vals")
    val out = c.run(df).collect()(0).getSeq[Double](0)
    assert(out == Seq(2.0, 4.5))
  }

  test("explicit cast `as` follows Coerce semantics in both tiers") {
    val src = """script "casts";
      |input  {i: Int, f: Float};
      |output {widened: Float, truncated: Int, rendered: Str};
      |out {widened: in.i as Float + in.f,
      |     truncated: in.f as Int,
      |     rendered: in.i as Str};""".stripMargin
    val c = UdScript.compile(src)
    val df = Seq((3L, 2.7)).toDF("i", "f")
    val r = c.run(df).collect()(0)
    assert(r.getDouble(0) == 5.7)
    assert(r.getLong(1) == 2L)        // trunc toward zero
    assert(r.getString(2) == "3")
  }

  test("partial application: foo(1, $) builds a unary lambda") {
    val src = """script "partial";
      |input  Int;
      |output Int;
      |func add(a: Int, b: Int) -> Int { a + b }
      |let add10 = add(10, $);
      |out add10(in);""".stripMargin
    val c = UdScript.compile(src)
    val out = c.run(Seq(5L).toDF("value")).collect().map(_.getLong(0))
    assert(out.toSeq == Seq(15L))
  }

  test("stdlib: sqrt in both tiers, list join + length in kernel tier") {
    val colSrc = """script "mathcol";
      |input  Float;
      |output Float;
      |out sqrt(in);""".stripMargin
    val cc = UdScript.compile(colSrc)
    assert(cc.tier == ColumnTier)
    assert(cc.run(Seq(9.0).toDF("value")).collect()(0).getDouble(0) == 3.0)

    val kSrc = """script "joins";
      |input  {words: [Str]};
      |output {joined: Str, n: Int};
      |let sep = "-";
      |for w in [in.words] {
      |  out {joined: w.join(sep), n: w.length};
      |}""".stripMargin
    val ck = UdScript.compile(kSrc)
    assert(ck.tier == KernelTier)
    val df = Seq(Tuple1(Seq("a", "b", "c"))).toDF("words")
    val r = ck.run(df).collect()(0)
    assert(r.getString(0) == "a-b-c")
    assert(r.getLong(1) == 3L)
  }
}
