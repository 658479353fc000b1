package graft.kernel

import graft.lang.UdScript
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** The reference VM's per-record model (vm.rs:373-405, 583-638) — `out`
  * order, `suppose` capture, `throw` — as graft runs it: each case is a
  * uDLang script compiled by `UdScript` and run record by record through
  * `UdScript.kernel` (decode, `Interp`, encode), the function the kernel
  * tier's flatMap and the CLI's msgpack pipe call, whatever tier the script
  * would otherwise lower to. No session. Includes golden ports of the
  * reference's example corpus (FIXTURES.md §A). */
class KernelSpec extends AnyFunSuite {

  /** Each record's outputs in emission order, records in input order. */
  private def run(src: String, ins: Any*): Seq[Any] = {
    val c = UdScript.compile(src)
    val k = UdScript.kernel(c.script, c.libs)
    ins.flatMap(in => k(Row(in)).map(_.get(0)))
  }

  test("out emits in order; zero/one/many per record (flatMap shape)") {
    val src = """script "upto";
      |input Int; output Int;
      |proc upto(i: Int, n: Int) {
      |  if (i <= n) { out i; upto(i + 1, n); }
      |}
      |upto(1, in);""".stripMargin
    assert(run(src, 0L, 1L, 3L) == Seq(1L, 1L, 2L, 3L))
  }

  test("suppose: branch runs with captured outputs when delegate emits") {
    val src = """script "subjunctive";
      |input Bool; output Str;
      |proc yeah(b: Bool) { if (b) { out "Yeah! "; out "Yeah! "; } }
      |suppose(yeah(in)) {
      |  out "She loves you, ";
      |  ...;
      |} else {
      |  out "Yesterdayyyyyyyy";
      |}""".stripMargin
    assert(run(src, true) == Seq("She loves you, ", "Yeah! ", "Yeah! "))
    assert(run(src, false) == Seq("Yesterdayyyyyyyy"))
  }

  test("suppose: emissions inside delegate go to innermost capture only") {
    val src = """script "nested";
      |input Bool; output Str;
      |proc silent() { if (false) { out "never"; } }
      |proc inner() {
      |  out "inner";
      |  suppose(silent()) { ...; } else { out "leaf-of-nested"; }
      |}
      |out "before";
      |suppose(inner()) { out "captured"; ...; } else { out "never"; }
      |out "after";""".stripMargin
    // "inner" and the nested leaf land in the OUTER capture, so they print
    // after the branch's own line, where its splice puts them
    assert(run(src, true) ==
      Seq("before", "captured", "inner", "leaf-of-nested", "after"))
  }

  test("UdException aborts the record; runEither routes it") {
    val src = """script "thrower";
      |input Int; output Str;
      |out "pre-" + (in as Str);
      |if (in < 0) { throw "negative"; }
      |out "post-" + (in as Str);""".stripMargin
    assert(run(src, 1L) == Seq("pre-1", "post-1"))
    // the record stops with the thrown message and yields no outputs: its
    // emission before the throw is discarded with it (what runEither routes)
    val c = UdScript.compile(src)
    val k = UdScript.kernel(c.script, c.libs)
    assert(intercept[UdException](k(Row(-1L))).message == "negative")
  }

  // ---- golden ports of the reference example corpus (FIXTURES.md §A) ----

  test("hello.us: out 'Hello, ' + in") {
    assert(run("""script "hello"; input Str; output Str;
      |out "Hello, " + in;""".stripMargin, "world") == Seq("Hello, world"))
  }

  test("simple.us / function.us: nested pure functions") {
    val simple = """script "simple"; input Float; output Float;
      |func bar(x: Float) -> Float { x - 1.0 }
      |func baz(x: Float) -> Float { 2.0 * x }
      |out baz(bar(in));""".stripMargin
    assert(run(simple, 3.0) == Seq(4.0))
    val function = """script "function"; input Float; output Float;
      |func c2f(c: Float) -> Float { 9.0 * c / 5.0 + 32.0 }
      |out c2f(in);""".stripMargin
    assert(run(function, 100.0) == Seq(212.0))
  }

  test("fact.us: recursive factorial") {
    val src = """script "fact"; input Int; output Int;
      |func fact(n: Int) -> Int { if (n <= 1) { 1 } else { n * fact(n - 1) } }
      |out fact(in);""".stripMargin
    assert(run(src, 5L) == Seq(120L))
  }

  test("count.us: recursive countdown emits n..0") {
    val src = """script "count"; input Int; output Int;
      |proc count(n: Int) { out n; if (n > 0) { count(n - 1); } }
      |count(in);""".stripMargin
    assert(run(src, 3L) == Seq(3L, 2L, 1L, 0L))
  }

  test("lists.us: init-block list + per-record comprehension emit") {
    val src = """script "lists";
      |let foo = [1, 2, 3, 4, 5];
      |input Int; output Int;
      |func square(x: Int) -> Int { x * x }
      |for x in foo { out square(x) + in; }""".stripMargin
    assert(run(src, 10L) == Seq(11L, 14L, 19L, 26L, 35L))
  }

  test("scopes.us: lexical scoping + closures (addn)") {
    val src = """script "scopes";
      |let x = 5;
      |input Int; output Int;
      |func addn(n: Int) -> ((m: Int) -> Int) { (m: Int) -> Int { m + n } }
      |let add1 = addn(1);
      |out add1(6);
      |out add1(x * 2);""".stripMargin
    assert(run(src, 0L) == Seq(7L, 11L)) // "should output 7", "Should output 11"
  }
}
