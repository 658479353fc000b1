package graft.lang

import graft.SparkSpec
import graft.lang.UdScript.KernelTier

/** `-> T ! E` exception effect annotations (reference README.md:337-342):
  * the declared exception type parses in return-type position, the
  * checker verifies every `throw` payload in the body against it, and a
  * throwing record routes to the dead-letter leg at run time. */
class EffectSpec extends SparkSpec {
  import spark.implicits._

  private val throwingSrc = """script "effects";
    |input  {id: Int, tag: Str};
    |output {id: Int, info: Str};
    |func categorize(t: Str) -> Str ! Str {
    |  if (t == "bad") { throw "boom:" + t } else { t }
    |}
    |out {id: in.id, info: categorize(in.tag)};""".stripMargin

  test("README-faithful effect annotation parses, typechecks and runs") {
    val c = UdScript.compile(throwingSrc)
    assert(c.typeErrors.isEmpty)
    assert(c.tier == KernelTier)
    val df = Seq((1L, "x"), (2L, "bad"), (3L, "y")).toDF("id", "tag")
    val (good, dlq) = c.runEither(df)
    assert(good.orderBy("id").collect().map(r => (r.getLong(0),
      r.getString(1))).toSeq == Seq((1L, "x"), (3L, "y")))
    val bad = dlq.collect()
    assert(bad.length == 1 && bad(0).getLong(0) == 2L &&
      bad(0).getString(bad(0).fieldIndex("_error")) == "boom:bad")
  }

  test("runEither evaluates each record once when both legs are consumed") {
    // the CLI's --mode dlq and u_effect_dlq read both legs; a `!` trace
    // shows every evaluation of a record, so a re-run would print twice
    val c = UdScript.compile(throwingSrc.replace("out {", "! in.id;\nout {"))
    val df = Seq((1L, "x"), (2L, "bad"), (3L, "y")).toDF("id", "tag")
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try {
      val (good, dlq) = c.runEither(df)
      assert(good.collect().length == 2 && dlq.collect().length == 1)
    } finally System.setErr(stderr)
    val traces = captured.toString.linesIterator
      .filter(_.startsWith("[ud-debug]")).toSeq.sorted
    assert(traces == Seq("[ud-debug] 1", "[ud-debug] 2", "[ud-debug] 3"))
  }

  test("throw payload must fit the declared effect type") {
    val src = """script "bad effects";
      |input  {id: Int};
      |output {id: Int};
      |func f(x: Int) -> Int ! Str {
      |  if (x > 0) { throw 42 } else { x }
      |}
      |out {id: f(in.id)};""".stripMargin
    val err = intercept[UdScript.CompileError](UdScript.compile(src))
    assert(err.getMessage.contains("not <: declared effect"))
  }

  test("record-typed effects check structurally") {
    val src = """script "record effects";
      |input  {id: Int};
      |output {id: Int};
      |func f(x: Int) -> Int ! {code: Int, msg: Str} {
      |  if (x > 1000000) { throw {code: 7, msg: "too big"} } else { x }
      |}
      |out {id: f(in.id)};""".stripMargin
    assert(UdScript.compile(src).typeErrors.isEmpty)
  }

  test("a lambda escaping an annotated func is not effect-checked") {
    // the lambda's throw surfaces at ITS call sites, which may be outside
    // the annotated function's dynamic extent — Int payload vs `! Str`
    // must not reject the definition
    val src = """script "escaping lambda";
      |input  {id: Int};
      |output {id: Int};
      |func make() -> Any ! Str {
      |  (y: Int) -> Int { if (y < 0) { throw {code: 1} } else { y } }
      |}
      |out {id: in.id};""".stripMargin
    assert(UdScript.compile(src).typeErrors.isEmpty)
  }

  test("comprehension lambdas run inline and ARE effect-checked") {
    // the mapping lambda executes strictly within the annotated function's
    // dynamic extent — a non-conforming throw payload must be rejected
    val src = """script "compr effect";
      |input  {id: Int};
      |output {n: Int};
      |func f(xs: [Int]) -> [Int] ! Str {
      |  [xs | (x: Int) -> Int { if (x < 0) { throw {code: 1} } else { x } }]
      |}
      |out {n: in.id};""".stripMargin
    val err = intercept[UdScript.CompileError](UdScript.compile(src))
    assert(err.getMessage.contains("not <: declared effect"))
  }

  test("a nested unannotated func shadows the outer effect") {
    val src = """script "nested func";
      |input  {id: Int};
      |output {id: Int};
      |func outer(x: Int) -> Int ! Str {
      |  func inner(y: Int) -> Int {
      |    if (y < 0) { throw {code: 1} } else { y }
      |  }
      |  inner(x)
      |}
      |out {id: outer(in.id)};""".stripMargin
    assert(UdScript.compile(src).typeErrors.isEmpty)
  }

  test("effects propagate: callee's declared E must fit the caller's") {
    val bad = """script "fx prop bad";
      |input  {id: Int};
      |output {id: Int};
      |func g(x: Int) -> Int ! {code: Int} {
      |  if (x < 0) { throw {code: 1} } else { x }
      |}
      |func f(x: Int) -> Int ! Str { g(x) }
      |out {id: f(in.id)};""".stripMargin
    val err = intercept[UdScript.CompileError](UdScript.compile(bad))
    assert(err.getMessage.contains("not <: declared effect"))
    val good = bad.replace("-> Int ! Str", "-> Int ! {code: Int}")
    assert(UdScript.compile(good).typeErrors.isEmpty)
    // and calling a throwing func OUTSIDE any annotation stays unchecked
    val unannotated = """script "fx prop free";
      |input  {id: Int};
      |output {id: Int};
      |func g(x: Int) -> Int ! Str {
      |  if (x < 0) { throw "neg" } else { x }
      |}
      |out {id: g(in.id)};""".stripMargin
    assert(UdScript.compile(unannotated).typeErrors.isEmpty)
  }

  test("a param shadowing a throwing func name carries no effect") {
    // g throws {code: Int}; inside f the PARAMETER g (a plain lambda with
    // no declared effect) shadows it — calling the param must not pick up
    // the outer g's effect entry and spuriously reject against `! Str`
    val src = """script "fx shadow";
      |input  {id: Int};
      |output {id: Int};
      |func g(x: Int) -> Int ! {code: Int} {
      |  if (x < 0) { throw {code: 1} } else { x }
      |}
      |func f(g: (Int) -> Int, x: Int) -> Int ! Str { g(x) }
      |out {id: f((y: Int) -> Int { y }, in.id)};""".stripMargin
    assert(UdScript.compile(src).typeErrors.isEmpty)
  }

  test("throw outside an annotated func stays unchecked (script-body DLQ)") {
    val src = """script "unannotated";
      |input  {id: Int};
      |output {id: Int};
      |func f(x: Int) -> Int {
      |  if (x < 0) { throw "negative" } else { x }
      |}
      |out {id: f(in.id)};""".stripMargin
    assert(UdScript.compile(src).typeErrors.isEmpty)
  }
}
