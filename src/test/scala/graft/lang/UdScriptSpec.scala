package graft.lang

import graft.SparkSpec
import graft.lang.UdScript.{ColumnTier, KernelTier}

/** End-to-end: the reference's example corpus (verbatim sources from
  * FIXTURES.md §A behavior table) compiled by OUR front-end and executed
  * on Spark DataFrames — golden outputs per script. */
class UdScriptSpec extends SparkSpec {
  import spark.implicits._

  private def runScalar[T](src: String, inputs: Seq[T], strict: Boolean = true)
      (implicit enc: org.apache.spark.sql.Encoder[T]): (UdScript.Tier, Seq[Any]) = {
    val c = UdScript.compile(src, strict)
    val out = c.run(inputs.toDF("value")).collect().map(_.get(0)).toSeq
    (c.tier, out)
  }

  test("hello.us: column tier, string concat") {
    val src = """#! udlang
      |version 0.1;
      |script "Hello world, in uDLang";
      |input  Str;
      |output Str;
      |out "Hello, " + in;""".stripMargin
    val (tier, out) = runScalar(src, Seq("world", "graft"))
    assert(tier == ColumnTier)
    assert(out.toSet == Set("Hello, world", "Hello, graft"))
  }

  test("fact.us: kernel tier, recursion") {
    val src = """script "Factorial Example";
      |input  Int;
      |output Int;
      |func fact(n: Int) -> Int {
      |  if (n > 1) { n * fact(n - 1) } else { n }
      |}
      |out fact(in);""".stripMargin
    val (tier, out) = runScalar(src, Seq(5L, 1L, 7L))
    assert(tier == KernelTier)
    assert(out.toSet == Set(120L, 1L, 5040L))
  }

  test("count.us: recursive multi-emit") {
    val src = """script "Count Example";
      |input  Int;
      |output Int;
      |proc count(n: Int) {
      |  out n;
      |  if (n > 0) { count(n - 1); }
      |}
      |out count(in);""".stripMargin
    val (tier, out) = runScalar(src, Seq(3L))
    // recognized counted loop: lowers to explode(sequence), not the kernel
    assert(tier.isInstanceOf[UdScript.LoopTier])
    assert(out == Seq(3L, 2L, 1L, 0L))
  }

  test("step-k and >=-guard loops lower to LoopTier; variable bounds stay kernel") {
    // step-2 countdown against a literal bound: counted loop
    val step2 = """script "count by two";
      |input  Int;
      |output Int;
      |proc count(n: Int) {
      |  out n;
      |  if (n > 0) { count(n - 2); }
      |}
      |out count(in);""".stripMargin
    val (t2, out2even) = runScalar(step2, Seq(4L))
    assert(t2.isInstanceOf[UdScript.LoopTier])
    assert(out2even == Seq(4L, 2L, 0L))
    val (_, out2odd) = runScalar(step2, Seq(5L))
    assert(out2odd == Seq(5L, 3L, 1L, -1L)) // emit happens BEFORE the guard
    // inclusive >= guard
    val gte = """script "count gte";
      |input  Int;
      |output Int;
      |proc count(n: Int) {
      |  out n;
      |  if (n >= 0) { count(n - 1); }
      |}
      |out count(in);""".stripMargin
    val (tg, outg) = runScalar(gte, Seq(2L))
    assert(tg.isInstanceOf[UdScript.LoopTier])
    assert(outg == Seq(2L, 1L, 0L, -1L))
    // ascending step-3 with < guard
    val up = """script "count up";
      |input  Int;
      |output Int;
      |proc count(n: Int) {
      |  out n;
      |  if (n < 10) { count(n + 3); }
      |}
      |out count(in);""".stripMargin
    val (tu, outu) = runScalar(up, Seq(1L))
    assert(tu.isInstanceOf[UdScript.LoopTier])
    assert(outu == Seq(1L, 4L, 7L, 10L))
    // a VARIABLE bound is true recursion: stays on the kernel tier
    val varBound = """script "count var";
      |input  Int;
      |output Int;
      |proc count(n: Int, lim: Int) {
      |  out n;
      |  if (n > lim) { count(n - 2, lim); }
      |}
      |out count(in, 0);""".stripMargin
    val (tv, outv) = runScalar(varBound, Seq(4L))
    assert(tv == UdScript.KernelTier)
    assert(outv == Seq(4L, 2L, 0L))
  }

  test("simple.us / function.us: inlined calls with declared-boundary widen") {
    val src = """script "Function calls";
      |input  Int;
      |output Int;
      |func bar(c: Float) -> Float { c - 1.0 }
      |func foo(c: Float) -> Float { 2.0 * bar(c) }
      |out foo(in);""".stripMargin
    // reference quirk: Int input into Float fn; Float result out as Int
    val (tier, out) = runScalar(src, Seq(3L), strict = false)
    assert(tier == ColumnTier)
    assert(out == Seq(4L)) // 2.0*(3.0-1.0) = 4.0, declared output Int
  }

  test("lists.us: init-block list, for + out per element") {
    val src = """script "List Example";
      |let foo = [1, 2, 3, 4, 5];
      |input  Int;
      |output Int;
      |func square(x: Int) -> Int {x * x}
      |for x in foo {
      |   out square(x) + in;
      |}""".stripMargin
    val (tier, out) = runScalar(src, Seq(10L))
    assert(tier == KernelTier)
    assert(out == Seq(11L, 14L, 19L, 26L, 35L))
  }

  test("scopes.us: lexical scoping + closures") {
    val src = """script "Scope Example";
      |input  Int;
      |output Int;
      |let x = 2;
      |proc test(z: Int) {
      |  let y = 3;
      |  out x * y + z;
      |}
      |test(1);
      |func addn(n: Int) -> ((m: Int) -> Int) {
      |  (m: Int) -> Int {m + n}
      |}
      |let add1 = addn(1);
      |out add1(10);""".stripMargin
    val (tier, out) = runScalar(src, Seq(0L))
    assert(tier == KernelTier)
    assert(out == Seq(7L, 11L))
  }

  test("subjunctive.us: suppose captures, splices three times") {
    val src = """script "Subjunctive Example";
      |input  Bool;
      |output Str;
      |proc she_loves_you(love_is_real: Bool) {
      |   if (love_is_real) { out "Yeah! "; }
      |}
      |suppose(she_loves_you(in)) {
      |  out "She loves you, ";
      |  ...;
      |  ...;
      |  ...;
      |} else {
      |  out "Yesterdayyyyyyyy";
      |}""".stripMargin
    val (tier, outT) = runScalar(src, Seq(true))
    assert(tier == KernelTier)
    assert(outT == Seq("She loves you, ", "Yeah! ", "Yeah! ", "Yeah! "))
    val (_, outF) = runScalar(src, Seq(false))
    assert(outF == Seq("Yesterdayyyyyyyy"))
  }

  test("record in/out, match dispatch, column tier") {
    val src = """script "records";
      |input  {event_id: Int, event_type: Str, value: Float};
      |output {event_id: Int, cat: Str, boosted: Float};
      |if (in.value > 50.0) {
      |  out {event_id: in.event_id,
      |       cat: match (in.event_type) {
      |         case "click" => "ui";
      |         case "view" => "ui";
      |         else => "other";
      |       },
      |       boosted: in.value * 2.0};
      |}""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == ColumnTier)
    val df = Seq((1L, "click", 80.0), (2L, "view", 10.0), (3L, "error", 99.0))
      .toDF("event_id", "event_type", "value")
    val rows = c.run(df).collect().map(r => (r.getLong(0), r.getString(1),
      r.getDouble(2))).toSet
    assert(rows == Set((1L, "ui", 160.0), (3L, "other", 198.0)))
  }

  test("typechecker rejects Int/Float mix and bad out type") {
    val mix = """script "bad";
      |input Int; output Int;
      |out in + 1.0;""".stripMargin
    val e = intercept[UdScript.CompileError] { UdScript.compile(mix) }
    assert(e.msg.contains("mix") || e.msg.contains("type error"))
    val badOut = """script "bad2";
      |input Int; output Str;
      |out in + 1;""".stripMargin
    val e2 = intercept[UdScript.CompileError] { UdScript.compile(badOut) }
    assert(e2.msg.contains("output"))
  }

  test("a union-typed body conforms to a declared union branch by branch") {
    def func(ret: String) = s"""script "u";
      |input Int; output Float | Str;
      |func g(n: Int) -> $ret { if (n > 0) { 1.5 } else { "neg" } }
      |out g(in);""".stripMargin
    assert(UdScript.compile(func("Float | Str")).typeErrors.isEmpty)
    assert(UdScript.compile(func("Str | Float")).typeErrors.isEmpty)
    val e = intercept[UdScript.CompileError] { UdScript.compile(func("Float | Bool")) }
    assert(e.msg.contains("func g body"))
  }

  test("throw aborts a record (uDLang exception surface)") {
    val src = """script "thrower";
      |input Int; output Int;
      |if (in < 0) { throw "negative input"; }
      |out in * 2;""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == KernelTier) // throw forces kernel tier
    val ok = c.run(Seq(2L, 3L).toDF("value")).collect().map(_.getLong(0))
    assert(ok.toSet == Set(4L, 6L))
    intercept[Exception] { c.run(Seq(-1L).toDF("value")).collect() }
  }

  test("loop.us: init-block list, for + float func, declared-Int narrow") {
    val src = """#! udlang
      |version 0.1-pre_mvp;
      |script "Function Example";
      |let data = [1.0, 2.0, 3.0];
      |input  Int;
      |output Int;
      |func celcius_to_farenheit(c: Float) -> Float {
      |     9.0 * c / 5.0 + 32.0
      |}
      |for datum in data {
      |   out celcius_to_farenheit(datum);
      |}""".stripMargin
    // reference quirk: Float out under declared Int output (strict=false)
    val (tier, out) = runScalar(src, Seq(0L), strict = false)
    assert(tier == KernelTier)
    assert(out == Seq(33L, 35L, 37L)) // 33.8, 35.6, 37.4 narrowed
  }

  test("tuples: construct, 0-based index, deep equality (kernel tier)") {
    val src = """script "tuples";
      |input  Int;
      |output Int;
      |let pair = (2, 3);
      |for x in [pair[0] * pair[1] * in] {
      |  out x;
      |}
      |if ((1, "a") == (1, "a")) { out 1; } else { out 0; }""".stripMargin
    val (tier, out) = runScalar(src, Seq(10L))
    assert(tier == KernelTier)
    assert(out == Seq(60L, 1L))
  }

  test("tuple output maps to a positional struct schema") {
    val src = """script "tuple out";
      |input  Int;
      |output (Int, Str);
      |for x in [in] { out (x * 2, "v" + (x as Str)); }""".stripMargin
    val c = UdScript.compile(src)
    import spark.implicits._
    assert(c.outputSchema.fieldNames.toSeq == Seq("_1", "_2"))
    val rows = c.run(Seq(21L).toDF("value")).collect()
    assert(rows(0) == org.apache.spark.sql.Row(42L, "v21"))
  }

  test("carrierOf: two types share a carrier exactly when sparkType agrees") {
    import graft.lang.Ast._
    val leaves = Seq(TBool, TInt, TIntN(8, signed = false), TFloat, TFloat32,
      TStr, TAny, TValue("a"), TNone, TPoint, TUnion(Seq(TValue("a"), TValue("b"))),
      TUnion(Seq(TInt, TStr)), TRef("T"))
    val types = leaves ++ leaves.flatMap(t => Seq(TOption(t), TList(t), TMap(t))) ++ Seq(
      TTuple(Seq(TInt, TStr)), TTuple(Seq(TIntN(16, signed = true), TValue("x"))),
      TRecord(Seq(TField("x", TFloat, false), TField("y", TFloat, false))),
      TRecord(Seq(TField("x", TFloat32, false), TField("y", TInt, false))),
      TRecord(Seq(TField("_1", TInt, false), TField("_2", TAny, false))),
      TRecord(Seq(TField("a", TInt, true))),
      TRecord(Seq(TField("a", TInt, false), TField("a__present", TBool, false))),
      TRecord(Seq(TField("_tag", TStr, false), TField("v0", TInt, false),
        TField("v1", TStr, false))),
      TLambda(Seq(TInt), TInt))
    def spark(t: UdType) = scala.util.Try(UdScript.sparkType(t)).toOption
    for (a <- types; b <- types) {
      assert(UdScript.carrierOf(a).isDefined == spark(a).isDefined, a)
      if (spark(a).isDefined && spark(b).isDefined)
        assert((UdScript.carrierOf(a) == UdScript.carrierOf(b)) == (spark(a) == spark(b)), (a, b))
    }
  }
}
