package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, File, PrintStream}
import java.nio.ByteBuffer
import java.nio.file.Files

import graft.sources.{JsonRecords, Msgpack}

/** The CLI's two ways to run a script must agree: stdin → stdout runs in
  * the driver thread through `Interp` with no session, `--in FILE` plans
  * the script on Spark in whatever tier it lowers to. Every script runs in
  * abort, skip and dlq modes on both, and must give the same exit code,
  * the same stderr lines (DLQ lines, or the one runtime error) and — when
  * it exits 0 — the same stdout multiset. An aborted in-process run has
  * already streamed the outputs of the records before the failing one,
  * while Spark's single-partition job prints none, so stdout is not
  * compared on a nonzero exit. */
class CliDifferentialSpec extends SparkSpec {

  private final case class Run(code: Int, out: Seq[String], err: Seq[String],
                               bytes: Array[Byte])

  private def exec(args: List[String], stdin: Array[Byte]): Run = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val code = Main.exitCode(args, new ByteArrayInputStream(stdin),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"),
      Some(spark))
    Run(code, out.toString("UTF-8").linesIterator.toSeq.sorted,
      err.toString("UTF-8").linesIterator.toSeq.sorted, out.toByteArray)
  }

  private def tmp(suffix: String, bytes: Array[Byte]): String = {
    val f = File.createTempFile("graft_diff", suffix)
    f.deleteOnExit()
    Files.write(f.toPath, bytes)
    f.getPath
  }

  private def script(src: String): String = tmp(".us", src.getBytes("UTF-8"))

  private val modes = Seq("abort", "skip", "dlq")

  /** Run `scriptPath` over `input` on both paths in every mode; returns
    * the in-process runs by mode for extra assertions. */
  private def agree(scriptPath: String, input: Array[Byte],
                    extra: List[String] = Nil): Map[String, Run] = {
    val inFile = tmp(".in", input)
    modes.map { mode =>
      val args = List("--mode", mode) ++ extra :+ scriptPath
      val local = exec(args, input)
      val spark = exec(List("--in", inFile) ++ args, Array.emptyByteArray)
      val what = s"$scriptPath --mode $mode ${extra.mkString(" ")}"
      assert(local.code == spark.code,
        s"$what: exit ${local.code} vs ${spark.code}; stderr ${local.err} vs ${spark.err}")
      assert(local.err == spark.err, s"$what: stderr")
      if (local.code == 0) {
        if (extra.contains("msgpack"))
          assert(decodeAll(local.bytes).map(render).sorted ==
            decodeAll(spark.bytes).map(render).sorted, s"$what: stdout")
        else assert(local.out == spark.out, s"$what: stdout")
      }
      mode -> local
    }.toMap
  }

  private def lines(ls: String*): Array[Byte] =
    ls.map(_ + "\n").mkString.getBytes("UTF-8")

  private def decodeAll(bytes: Array[Byte]): Seq[Any] = {
    val b = ByteBuffer.wrap(bytes)
    Iterator.continually(if (b.hasRemaining) Some(Msgpack.readValue(b))
      else None).takeWhile(_.isDefined).flatten.toSeq
  }

  private def render(v: Any): String = JsonRecords.render(v, null)

  // invalid inputs every record script sees: a malformed line, a missing
  // field, an explicit null, a type mismatch
  private val events = lines(
    """{"event_id": 1, "event_type": "click", "value": 80.5}""",
    """{"event_id": 2, "event_type": "view", "value": 10.0}""",
    """{"event_id": 3, "event_type": "purchase", "value": 60}""",
    """{"event_id": 4, "event_type": "signup", "value": 1e20}""",
    """{"event_id": 5, "event_type": "share", "value": -99.5, "extra": [1]}""",
    """this is not json""",
    """{"event_id": 6, "value": 70.0}""",
    """{"event_id": 7, "event_type": null, "value": 70.0}""",
    """{"event_id": "8", "event_type": "view", "value": 70.0}""",
    """{"event_id": 9, "event_type": "view", "value": "70"}""",
    """{"event_id": 10, "event_type": "view", "value": 70.0, "event_id": 11}""",
    """""")

  test("examples/filter_events.us (column tier) agrees on both paths") {
    val runs = agree("examples/filter_events.us", events)
    assert(runs("dlq").out.size == 3 && runs("dlq").err.size == 7,
      runs("dlq").toString)
    assert(runs("abort").code == 1)
  }

  test("examples/checked_effects.us (kernel tier, throw) agrees on both paths") {
    val runs = agree("examples/checked_effects.us", lines(
      """{"event_id": 1, "value": 4.5}""",
      """{"event_id": 2, "value": -1.0}""",
      """{"event_id": 3, "value": 2}""",
      """{"event_id": 4, "value": null}""",
      """{"event_id": 5}""",
      """{"event_id": 6, "value": true}""",
      """[1, 2]"""))
    assert(runs("dlq").err.exists(_.endsWith("\tnegative value")))
    assert(runs("dlq").out.size == 2)
  }

  test("examples/hello.us (scalar in, scalar out) agrees on both paths") {
    val runs = agree("examples/hello.us", lines("\"world\"",
      "\"gr\\u00e4ft\"", "\"tab\\there\"", "42", """{"a": [1, 2.50]}""",
      "null", "not json", ""))
    assert(runs("dlq").out.contains("\"Hello, gr\u00e4ft\""))
    assert(runs("dlq").out.contains("\"Hello, {\\\"a\\\":[1,2.5]}\""))
    assert(runs("dlq").err == Seq("\tmalformed_json:_payload",
      "not json\tmalformed_json:_payload", "null\tnull:value"))
  }

  test("examples with imported modules agree on both paths") {
    val docs = lines("""{"doc_id": 1, "text": "a <b> & \"c\""}""",
      """{"doc_id": 2, "text": null}""", """{"doc_id": 3}""")
    agree("examples/use_greet.us", docs, List("--libdir", "examples/lib"))
    agree("examples/render_doc.us", docs, List("--libdir", "examples/lib"))
  }

  test("LoopTier (the count.us shape) agrees with the interpreter") {
    val src = script("""script "count";
      |input  Int;
      |output Int;
      |proc count(n: Int) {
      |  out n;
      |  if (n > 0) { count(n - 1); }
      |}
      |out count(in);""".stripMargin)
    assert(exec(List("--compile", src), Array.emptyByteArray).out
      .exists(_.startsWith("tier: LoopTier")))
    val runs = agree(src, lines("3", "0", "-2", "1", "\"x\"", "null"))
    assert(runs("dlq").out == Seq("-2", "0", "0", "0", "1", "1", "2", "3"))
    assert(runs("dlq").err == Seq("\"x\"\ttype:value", "null\tnull:value"))
  }

  test("absent-optional and T? fields agree on both paths") {
    val src = script("""script "optionals";
      |input  {id: Int, note?: Str, score: Float?};
      |output {id: Int, has_note: Bool, score: Float?};
      |out {id: in.id, has_note: in.?.note, score: in.score};""".stripMargin)
    agree(src, lines(
      """{"id": 1, "note": "x", "score": 2.5}""",
      """{"id": 2, "note": null, "score": null}""",
      """{"id": 3}""",
      """{"id": 4, "note": 5}""",
      """{"id": null}"""))
  }

  test("nested records with presence flags agree on both paths") {
    val src = script("""script "nested";
      |input  {id: Int, addr: {city: Str, zip?: Int}?};
      |output {id: Int, hz: Bool, addr: {city: Str, zip?: Int}?};
      |out {id: in.id, hz: in.addr.?.zip, addr: in.addr};""".stripMargin)
    agree(src, lines(
      """{"id": 1, "addr": {"city": "a", "zip": 5}}""",
      """{"id": 2, "addr": {"city": "b", "zip": null}}""",
      """{"id": 3, "addr": {"city": "c"}}""",
      """{"id": 4, "addr": null}""",
      """{"id": 5, "addr": {"city": "d", "zip": "x"}}""",
      """{"id": 6, "addr": [1]}"""))
  }

  test("string enums and sized ints agree on both paths") {
    val src = script("""script "checks";
      |input  {id: Int, kind: "a" | "b", v: U8};
      |output {id: Int, k: Str, w: Int};
      |out {id: in.id, k: in.kind, w: in.v + 1};""".stripMargin)
    val runs = agree(src, lines(
      """{"id": 1, "kind": "a", "v": 200}""",
      """{"id": 2, "kind": "c", "v": 1}""",
      """{"id": 3, "kind": "b", "v": 300}""",
      """{"id": 4, "kind": "b", "v": -1}""",
      """{"id": 5, "kind": 7, "v": 1.5}"""))
    assert(runs("dlq").err.map(_.split("\t").last) ==
      Seq("bad_enum:kind", "range:v", "range:v", "type:kind"))
  }

  test("general unions agree on both paths, in and out") {
    val src = script("""script "union";
      |input  {id: Int, v: Int | Str};
      |output {id: Int, r: Str, w: Int | Str};
      |for x in [in.v] {
      |  out {id: in.id, r: match (x) { case i: Int => "n"; case s: Str => s; },
      |       w: x};
      |}""".stripMargin)
    val runs = agree(src, lines(
      """{"id": 1, "v": 5}""",
      """{"id": 2, "v": "hi"}""",
      """{"id": 3, "v": 1.5}""",
      """{"id": 4, "v": [1]}""",
      """{"id": 5, "v": null}""",
      """{"id": 6}"""))
    assert(runs("dlq").err.map(_.split("\t").last).sorted ==
      Seq("missing:v", "null:v", "union_no_branch:v", "union_no_branch:v"))
  }

  test("a kernel-tier throw drops the record's outputs on both paths") {
    val src = script("""script "throws";
      |input  {id: Int, n: Int};
      |output {id: Int, r: Int};
      |for x in [1, 2] {
      |  out {id: in.id, r: x};
      |  if (in.n < 0) { throw "negative n"; }
      |}""".stripMargin)
    val runs = agree(src, lines("""{"id": 1, "n": 1}""", """{"id": 2, "n": -1}"""))
    assert(runs("dlq").out == Seq("""{"id":1,"r":1}""", """{"id":1,"r":2}"""))
    assert(runs("dlq").err == Seq("2\t-1\tnegative n"))
    assert(runs("abort").err == Seq("runtime error: negative n"))
    assert(runs("skip").code == 1)
  }

  test("a thrown record's DLQ line prints its input row's cells on both paths") {
    // the row holds the decoded value: a nested F32 rounded, a point with
    // an unreadable coordinate none, a map's keys sorted
    val runs = agree(script("""script "cells";
      |input  {id: Int, r: {g: F32, gs: [F32]}, p: Point?, m: Map[Int]?};
      |output {id: Int};
      |if (in.id < 0) { throw "negative id"; }
      |out {id: in.id};""".stripMargin), lines(
      """{"id": 1, "r": {"g": 0.1, "gs": [0.1]}}""",
      """{"id": -1, "r": {"g": 0.1, "gs": [0.1, 2]}, "p": {"x": "1", "y": 2}, "m": {"b": 1, "a": 2}}"""))
    assert(runs("dlq").out == Seq("""{"id":1}"""))
    assert(runs("dlq").err ==
      Seq("-1\t[0.10000000149011612,ArraySeq(0.10000000149011612, 2.0)]\tnull\t" +
        "Map(a -> 2, b -> 1)\tnegative id"))
  }

  /** `src` compiles to `tier` and agrees on both paths over `input`. */
  private def agreeIn(tier: String, src: String, input: String*): Map[String, Run] = {
    val path = script(src)
    val compiled = exec(List("--compile", path), Array.emptyByteArray)
    assert(compiled.out.contains(s"tier: $tier"), compiled.out.take(3))
    agree(path, lines(input: _*))
  }

  // Operators lower from the typechecker's operand types through
  // UdFunctions; the scripts below are the ones whose types the column
  // tier could not see from syntax alone.

  test("Str + Str of function parameters concatenates on both paths") {
    val runs = agreeIn("ColumnTier", """script "cat";
      |input  {a: Str, b: Str};
      |output {s: Str};
      |func cat(x: Str, y: Str) -> Str { x + y }
      |out {s: cat(in.a, in.b)};""".stripMargin,
      """{"a": "foo", "b": "bar"}""", """{"a": "", "b": "x"}""",
      """{"a": 1, "b": "x"}""")
    assert(runs("dlq").out == Seq("""{"s":"foobar"}""", """{"s":"x"}"""))
  }

  test("Str + a let-bound Str concatenates on both paths") {
    val runs = agreeIn("ColumnTier", """script "shout";
      |input  {a: Str};
      |output {s: Str};
      |let suffix = "!";
      |func shout(x: Str) -> Str { x + suffix }
      |out {s: shout(in.a)};""".stripMargin,
      """{"a": "hey"}""", """{"a": null}""")
    assert(runs("dlq").out == Seq("""{"s":"hey!"}"""))
  }

  test("Int / Int of a function parameter truncates on both paths") {
    val runs = agreeIn("ColumnTier", """script "div";
      |input  {a: Int};
      |output {y: Int};
      |func f(n: Int) -> Int { n / 2 * 2 }
      |out {y: f(in.a)};""".stripMargin,
      """{"a": 7}""", """{"a": -7}""", """{"a": 1.5}""")
    assert(runs("dlq").out == Seq("""{"y":-6}""", """{"y":6}"""))
  }

  test("and / xor on Int are bitwise on both paths") {
    val runs = agreeIn("ColumnTier", """script "bits";
      |input  {a: Int, b: Int};
      |output {x: Int, y: Int};
      |out {x: in.a xor in.b, y: in.a and in.b};""".stripMargin,
      """{"a": 6, "b": 3}""", """{"a": -1, "b": 12}""", "not json")
    assert(runs("dlq").out == Seq("""{"x":-13,"y":12}""", """{"x":5,"y":2}"""))
  }

  test("or on Int is bitwise, on Bool logical, on both paths") {
    val runs = agreeIn("ColumnTier", """script "or";
      |input  {a: Int, b: Int, p: Bool};
      |output {x: Int, q: Bool};
      |out {x: in.a or in.b, q: in.p or in.a > 5};""".stripMargin,
      """{"a": 6, "b": 3, "p": false}""", """{"a": 1, "b": 8, "p": true}""",
      """{"a": 1, "b": 8}""")
    assert(runs("dlq").out == Seq("""{"x":7,"q":true}""", """{"x":9,"q":true}"""))
  }

  test("shifts by an Int literal lower to the column tier") {
    val runs = agreeIn("ColumnTier", """script "shifts";
      |input  {a: Int};
      |output {l: Int, r: Int};
      |out {l: in.a << 1, r: in.a >> 1};""".stripMargin,
      """{"a": 6}""", """{"a": -7}""", """{"a": "6"}""")
    assert(runs("dlq").out == Seq("""{"l":-14,"r":-4}""", """{"l":12,"r":3}"""))
  }

  test("equal expressions in two scopes keep their own types") {
    val runs = agreeIn("ColumnTier", """script "scopes";
      |input  {a: Int, b: Int, s: Str, t: Str};
      |output {n: Int, j: Str};
      |func f(x: Int, y: Int) -> Int { x + y }
      |func g(x: Str, y: Str) -> Str { x + y }
      |out {n: f(in.a, in.b), j: g(in.s, in.t)};""".stripMargin,
      """{"a": 1, "b": 2, "s": "p", "t": "q"}""")
    assert(runs("dlq").out == Seq("""{"n":3,"j":"pq"}"""))
  }

  test("operators with no column member keep the script on the kernel tier") {
    // a shift by a column, an operand typed Any (a `$` lambda's
    // parameter), and == across Int and Float, which deep equality calls
    // false and Spark would widen to true
    agreeIn("KernelTier", """script "shift";
      |input  {a: Int, b: Int};
      |output {s: Int};
      |out {s: in.a << in.b};""".stripMargin,
      """{"a": 3, "b": 2}""", """{"a": 3}""")
    agreeIn("KernelTier", """script "any";
      |input  {xs: [Int]};
      |output {ys: [Int]};
      |out {ys: [in.xs | $ * 2]};""".stripMargin,
      """{"xs": [1, 2]}""", """{"xs": null}""")
    val runs = agreeIn("KernelTier", """script "eq";
      |input  {a: Int, f: Float};
      |output {e: Bool};
      |out {e: in.a == in.f};""".stripMargin,
      """{"a": 1, "f": 1.0}""")
    assert(runs("dlq").out == Seq("""{"e":false}"""))
  }

  test("a general union passes through on both paths") {
    val runs = agreeIn("ColumnTier", """script "union";
      |input  {x: Int | Str};
      |output {x: Int | Str};
      |out {x: in.x};""".stripMargin,
      """{"x": 5}""", """{"x": "hi"}""", """{"x": 1.5}""")
    assert(runs("dlq").out ==
      Seq("""{"x":{"_tag":"Int","v0":5}}""", """{"x":{"_tag":"Str","v1":"hi"}}"""))
    // a sized-int branch and a string-literal branch keep the tag ingest
    // gave them, on JSON and on msgpack
    val sized = agreeBoth("ColumnTier", """script "u8";
      |input  {x: U8 | Str};
      |output {x: U8 | Str};
      |out {x: in.x};""".stripMargin,
      """{"x": 5}""", """{"x": "hi"}""", """{"x": true}""")
    assert(sized("dlq").out ==
      Seq("""{"x":{"_tag":"Str","v1":"hi"}}""", """{"x":{"_tag":"U8","v0":5}}"""))
    val literal = agreeBoth("ColumnTier", """script "lit";
      |input  {x: "a" | Int};
      |output {x: "a" | Int};
      |out {x: in.x};""".stripMargin,
      """{"x": "a"}""", """{"x": 7}""", """{"x": "b"}""")
    assert(literal("dlq").out ==
      Seq("""{"x":{"_tag":"Int","v1":7}}""", """{"x":{"_tag":"val:a","v0":"a"}}"""))
  }

  /** JSON lines as lifted msgpack records. */
  private def lifted(json: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    assert(Main.execute(List("lift", "--json"), new ByteArrayInputStream(json),
      new PrintStream(out), new PrintStream(new ByteArrayOutputStream()),
      Some(spark)) == 0)
    out.toByteArray
  }

  /** `agreeIn` on the JSON lines, then the same records as msgpack. */
  private def agreeBoth(tier: String, src: String, input: String*): Map[String, Run] = {
    val runs = agreeIn(tier, src, input: _*)
    agree(script(src), lifted(lines(input: _*)), List("--format", "msgpack"))
    runs
  }

  test("kernel-tier outputs encode from the declared output type") {
    // a union field (sized-int and literal branches), F32 in a list, in a
    // nested record and in a union, and an absent-optional nested field
    val runs = agreeBoth("KernelTier", """script "shapes";
      |input  {id: Int, v: U8 | "none" | Str, w: Float};
      |output {id: Int, v: U8 | "none" | Str, xs: [F32],
      |        p: {w: F32, tag?: Str}, u: Int | F32};
      |for x in [1, 2] {
      |  if (x == 1) {
      |    out {id: in.id, v: in.v, xs: [in.w, 0.1], p: {w: in.w}, u: x};
      |  } else {
      |    out {id: in.id, v: in.v, xs: [], p: {w: 0.1, tag: "t"}, u: in.w};
      |  }
      |}""".stripMargin,
      """{"id": 1, "v": 5, "w": 0.1}""", """{"id": 2, "v": "none", "w": 2}""",
      """{"id": 3, "v": "hi", "w": 1.5}""", """{"id": 4, "v": 1.5, "w": 1.0}""")
    val f = "0.10000000149011612"
    assert(runs("dlq").out == Seq(
      s"""{"id":1,"v":{"_tag":"U8","v0":5},"xs":[$f,$f],"p":{"w":$f,"tag__present":false},"u":{"_tag":"Int","v0":1}}""",
      s"""{"id":1,"v":{"_tag":"U8","v0":5},"xs":[],"p":{"w":$f,"tag":"t","tag__present":true},"u":{"_tag":"F32","v1":$f}}""",
      s"""{"id":2,"v":{"_tag":"val:none","v1":"none"},"xs":[2.0,$f],"p":{"w":2.0,"tag__present":false},"u":{"_tag":"Int","v0":1}}""",
      s"""{"id":2,"v":{"_tag":"val:none","v1":"none"},"xs":[],"p":{"w":$f,"tag":"t","tag__present":true},"u":{"_tag":"F32","v1":2.0}}""",
      s"""{"id":3,"v":{"_tag":"Str","v2":"hi"},"xs":[1.5,$f],"p":{"w":1.5,"tag__present":false},"u":{"_tag":"Int","v0":1}}""",
      s"""{"id":3,"v":{"_tag":"Str","v2":"hi"},"xs":[],"p":{"w":$f,"tag":"t","tag__present":true},"u":{"_tag":"F32","v1":1.5}}"""))
    assert(runs("dlq").err.map(_.split("\t").last) == Seq("union_no_branch:v"))
  }

  test("tuple and scalar kernel-tier outputs encode from the declared type") {
    val tuple = agreeBoth("KernelTier", """script "pair";
      |input  {a: Int, f: Float};
      |output (Int, F32);
      |for x in [in.a] { out (x, in.f); }""".stripMargin,
      """{"a": 1, "f": 0.1}""", """{"a": 2, "f": 3}""")
    assert(tuple("dlq").out ==
      Seq("""{"_1":1,"_2":0.10000000149011612}""", """{"_1":2,"_2":3.0}"""))
    // 300 fits no branch: the record stops, as a throw does
    val scalar = agreeBoth("KernelTier", """script "scalar";
      |input  {a: Int};
      |output U8 | Str;
      |for x in [in.a] { out x; }""".stripMargin,
      """{"a": 5}""", """{"a": 300}""")
    assert(scalar("dlq").out == Seq("""{"_tag":"U8","v0":5}"""))
    assert(scalar("dlq").err == Seq("300\tno union slot for 300"))
    assert(scalar("abort").err == Seq("runtime error: no union slot for 300"))
  }

  test("conditions read truthiness as the interpreter does, on both paths") {
    val runs = agreeIn("ColumnTier", """script "truthy";
      |input  {n: Int, f: Float, s: Str, xs: [Int]};
      |output {n: Int, k: Str};
      |if (in.n) { out {n: in.n, k: "int"}; }
      |if (in.f) { out {n: in.n, k: "float"}; }
      |if (in.s) { out {n: in.n, k: "str"}; }
      |if (in.xs) { out {n: in.n, k: "list"}; }
      |out {n: in.n, k: if (in.s) { in.s } else { "-" }};""".stripMargin,
      """{"n": 0, "f": 0.0, "s": "", "xs": []}""",
      """{"n": 3, "f": 0.5, "s": "a", "xs": [1]}""")
    assert(runs("dlq").out == Seq("""{"n":0,"k":"-"}""", """{"n":3,"k":"a"}""",
      """{"n":3,"k":"float"}""", """{"n":3,"k":"int"}""",
      """{"n":3,"k":"list"}""", """{"n":3,"k":"str"}"""))
  }

  test("a null condition takes the else branch on both paths") {
    val runs = agreeIn("ColumnTier", """script "nullelse";
      |input  {id: Int, b: Bool?};
      |output {id: Int, r: Str};
      |if (in.b) { out {id: in.id, r: "then"}; }
      |else { out {id: in.id, r: "else"}; }""".stripMargin,
      """{"id": 1, "b": true}""", """{"id": 2, "b": false}""",
      """{"id": 3, "b": null}""")
    assert(runs("dlq").out == Seq("""{"id":1,"r":"then"}""",
      """{"id":2,"r":"else"}""", """{"id":3,"r":"else"}"""))
  }

  test("Int / and % by zero stop the record on both paths") {
    val div = agreeIn("ColumnTier", """script "div";
      |input  {a: Int, b: Int};
      |output {q: Int};
      |out {q: in.a / in.b};""".stripMargin,
      """{"a": 7, "b": 2}""", """{"a": 7, "b": 0}""", """{"a": -7, "b": 2}""")
    assert(div("dlq").out == Seq("""{"q":-3}""", """{"q":3}"""))
    assert(div("dlq").err == Seq("7\t0\tdiv by zero"))
    assert(div("abort").err == Seq("runtime error: div by zero"))
    val mod = agreeIn("ColumnTier", """script "mod";
      |input  {a: Int, b: Int};
      |output {r: Int};
      |out {r: in.a % in.b};""".stripMargin,
      """{"a": -7, "b": 2}""", """{"a": 7, "b": 0}""")
    assert(mod("dlq").out == Seq("""{"r":-1}"""))
    assert(mod("dlq").err == Seq("7\t0\tmod by zero"))
  }

  test("Float / and % by zero are IEEE on both paths") {
    val runs = agreeIn("ColumnTier", """script "fdiv";
      |input  {a: Float, b: Float};
      |output {q: Float, r: Float};
      |out {q: in.a / in.b, r: in.a % in.b};""".stripMargin,
      """{"a": 7.0, "b": 0.0}""", """{"a": -7.0, "b": 0.0}""",
      """{"a": 0.0, "b": 0.0}""", """{"a": 7.5, "b": 2.0}""")
    assert(runs("dlq").out == Seq("""{"q":"-Infinity","r":"NaN"}""",
      """{"q":"Infinity","r":"NaN"}""", """{"q":"NaN","r":"NaN"}""",
      """{"q":3.75,"r":1.5}"""))
  }

  test("a JSON -0.0 reads as the Spark source reads it, on both paths") {
    // top-level fields extract from the variant parse, which keeps a plain
    // decimal with no sign of zero; nested ones keep from_json's -0.0
    val runs = agreeIn("ColumnTier", """script "negzero";
      |input  {a: Float, b: Float, xs: [Float]};
      |output {q: Float, b: Float, xs: [Float]};
      |out {q: in.a / in.b, b: in.b, xs: in.xs};""".stripMargin,
      """{"a": 7.0, "b": -0.0, "xs": [-0.0]}""", """{"a": 7.0, "b": -0e0, "xs": []}""")
    assert(runs("dlq").out == Seq("""{"q":"-Infinity","b":-0.0,"xs":[]}""",
      """{"q":"Infinity","b":0.0,"xs":[-0.0]}"""))
  }

  test("a column-tier match on a base type takes its sized-int branches") {
    val runs = agreeIn("ColumnTier", """script "basetype";
      |input  {x: U8 | Str};
      |output {r: Str};
      |out {r: match (in.x) { case i: Int => "n"; case s: Str => s; }};""".stripMargin,
      """{"x": 5}""", """{"x": "hi"}""", """{"x": true}""")
    assert(runs("dlq").out == Seq("""{"r":"hi"}""", """{"r":"n"}"""))
    assert(runs("abort").code == 1)
    // an Int pattern over two int branches binds whichever slot is set
    val two = agreeIn("ColumnTier", """script "twoints";
      |input  {x: I16 | U8 | Str};
      |output {n: Int, s: Str};
      |out {n: match (in.x) { case i: Int => i * 2; else => -1; },
      |     s: match (in.x) { case s: Str => s; case v: U8 => "u8"; else => "-"; }};""".stripMargin,
      """{"x": 5}""", """{"x": -3}""", """{"x": "hi"}""")
    assert(two("dlq").out ==
      Seq("""{"n":-1,"s":"hi"}""", """{"n":-6,"s":"-"}""", """{"n":10,"s":"u8"}"""))
  }

  test("msgpack stdin/stdout round-trips like the JSON run, on both paths") {
    val json = lines(
      """{"id": 1, "note": "x", "score": 2.5}""",
      """{"id": 2, "score": null}""",
      """{"id": "bad"}""")
    val src = script("""script "optionals";
      |input  {id: Int, note?: Str, score: Float?};
      |output {id: Int, has_note: Bool, score: Float?};
      |out {id: in.id, has_note: in.?.note, score: in.score};""".stripMargin)
    val lifted = new ByteArrayOutputStream()
    assert(Main.execute(List("lift", "--json"), new ByteArrayInputStream(json),
      new PrintStream(lifted), new PrintStream(new ByteArrayOutputStream()),
      Some(spark)) == 0)
    val runs = agree(src, lifted.toByteArray, List("--format", "msgpack"))
    // msgpack writes null fields as nil where to_json omits them
    val viaMsgpack = decodeAll(runs("skip").bytes).map {
      case es: Vector[_] => render(es.filter {
        case (_, v) => v != null; case _ => true })
      case v => render(v)
    }.sorted
    assert(viaMsgpack == exec(List("--mode", "skip", src), json).out)
    assert(viaMsgpack.size == 2)
    assert(runs("dlq").err.size == 1 && runs("dlq").err.head.contains("type:id"))
  }

  test("msgpack DLQ lines print the decoded fields and the reason, on both paths") {
    val src = script("""script "msgpack dlq";
      |input  {id: Int, r: {a: Int, b?: Str}, xs: [Int], m: Map<Int>};
      |output {id: Int, a: Int};
      |if (in.id < 0) { throw "negative id"; }
      |out {id: in.id, a: in.r.a};""".stripMargin)
    val o = new ByteArrayOutputStream()
    def rec(id: Long, r: Any, xs: Any, m: Any): Unit =
      Msgpack.writeMap(o, Seq("id" -> id, "r" -> r, "xs" -> xs, "m" -> m))
    def map(kvs: (String, Any)*) = scala.collection.immutable.ListMap(kvs: _*)
    rec(1, map("a" -> 1L, "b" -> "x"), Seq(1L, 2L), map("k" -> 1L))
    rec(2, map("a" -> 2L), Seq.empty, map("k" -> 2L))
    rec(3, map("a" -> 3L), "no list", map("k" -> 3L))        // type mismatch
    Msgpack.writeMap(o, Seq("id" -> 4L, "r" -> map("a" -> 4L),
      "xs" -> Seq(4L)))                                      // missing m
    rec(5, null, Seq(5L), map("k" -> 5L))                    // explicit nil
    val notRecord = o.size
    Msgpack.writeValue(o, "oops")                             // not a map
    rec(-1, map("a" -> 6L, "b" -> "y"), Seq(6L), map("k" -> 6L)) // throws
    val tail = o.size
    val whole = new ByteArrayOutputStream()
    Msgpack.writeMap(whole, Seq("id" -> 7L, "xs" -> Seq(7L)))
    o.write(whole.toByteArray, 0, whole.size - 2)            // truncated
    val runs = agree(src, o.toByteArray, List("--format", "msgpack"))
    assert(decodeAll(runs("dlq").bytes).map(render).sorted ==
      Seq("""{"id":1,"a":1}""", """{"id":2,"a":2}"""))
    assert(runs("dlq").err == Seq(
      "-1\t[6,y,true]\tArraySeq(6)\tMap(k -> 6)\tnegative id",
      "3\t[3,null,false]\tnull\tMap(k -> 3)\ttype:xs expected array<bigint> got String",
      "4\t[4,null,false]\tArraySeq(4)\tnull\tmissing:m",
      "5\tnull\tArraySeq(5)\tMap(k -> 5)\tnull:r",
      s"null\tnull\tnull\tnull\tmalformed@$tail:null",
      s"null\tnull\tnull\tnull\tnot_a_record@$notRecord").sorted)
    assert(runs("skip").err == Seq("runtime error: negative id"))
    assert(runs("abort").err ==
      Seq("runtime error: type:xs expected array<bigint> got String"))
  }

  test("a union picks its sized-int and F32 branches as msgpack does, on both paths") {
    // 300 is no U8: an ingest reason on JSON as on msgpack; 0.5 is
    // float32-exact and takes F32, 0.1 is not and takes Float. The thrown
    // records' DLQ lines print the branch ingest picked.
    val src = """script "branches";
      |input  {id: Int, v: U8 | "none" | Str, z: F32 | Float};
      |output {id: Int};
      |if (in.id > 1) { throw "seen"; }
      |out {id: in.id};""".stripMargin
    val input = Seq("""{"id": 1, "v": 300, "z": 0.5}""",
      """{"id": 2, "v": 5, "z": 0.5}""", """{"id": 3, "v": "none", "z": 0.1}""")
    val json = agreeIn("KernelTier", src, input: _*)
    val msgpack = agree(script(src), lifted(lines(input: _*)), List("--format", "msgpack"))
    for (runs <- Seq(json, msgpack)) {
      assert(runs("dlq").err.map(_.split("\t").last).sorted ==
        Seq("seen", "seen", "union_no_branch:v"))
      assert(runs("abort").code == 1 &&
        runs("abort").err == Seq("runtime error: union_no_branch:v"))
    }
    assert(json("dlq").err.take(2) == Seq("2\t[U8,5,null,null]\t[F32,0.5,null]\tseen",
      "3\t[val:none,null,none,null]\t[Float,null,0.1]\tseen"))
  }

  test("an F32 | Float field passes through with the branch ingest gave it") {
    // 0.5 is float32-exact and takes F32; 0.1 is not and stays a Float,
    // on the column tier (the ingest struct) as on the kernel tier
    // (re-encoded from the value)
    val input = Seq("""{"id": 1, "z": 0.1}""", """{"id": 2, "z": 0.5}""")
    val column = agreeIn("ColumnTier", """script "passthrough";
      |input  {id: Int, z: F32 | Float};
      |output {id: Int, z: F32 | Float};
      |out {id: in.id, z: in.z};""".stripMargin, input: _*)
    val kernel = agreeIn("KernelTier", """script "passthrough kernel";
      |input  {id: Int, z: F32 | Float};
      |output {id: Int, z: F32 | Float};
      |for x in [in.z] { out {id: in.id, z: x}; }""".stripMargin, input: _*)
    for (runs <- Seq(column, kernel); mode <- modes)
      assert(runs(mode).out == Seq("""{"id":1,"z":{"_tag":"Float","v1":0.1}}""",
        """{"id":2,"z":{"_tag":"F32","v0":0.5}}"""), mode)
  }

  test("u_union_ingest's script agrees on both paths over Int | Str records") {
    import graft.queries.UdLang
    // even ids carry an Int, odd ids a Str, as u_union_ingest builds them
    val runs = agree(script(UdLang.unionScriptSrc), lines(
      """{"event_id": 2, "v": 23}""", """{"event_id": 3, "v": "click"}""",
      """{"event_id": 4, "v": -7}""", """{"event_id": 5, "v": "42"}""",
      """{"event_id": 6, "v": true}""", """{"event_id": 7}"""))
    assert(runs("dlq").out == Seq(
      """{"event_id":2,"shown":"int","doubled":46}""",
      """{"event_id":3,"shown":"click","doubled":0}""",
      """{"event_id":4,"shown":"int","doubled":-14}""",
      """{"event_id":5,"shown":"42","doubled":0}"""))
    assert(runs("dlq").err.map(_.split("\t").last) == Seq("union_no_branch:v", "missing:v"))
  }

  test("a nested U8 out of range stops a kernel-tier record on both paths") {
    // ingest keeps 300 in the row; the kernel tier's decode stops the record
    val runs = agreeIn("KernelTier", """script "nested range";
      |input  {id: Int, r: {a: U8}};
      |output {id: Int, a: Int};
      |for x in [in.r.a] { out {id: in.id, a: x}; }""".stripMargin,
      """{"id": 1, "r": {"a": 5}}""", """{"id": 2, "r": {"a": 300}}""")
    assert(runs("dlq").out == Seq("""{"id":1,"a":5}"""))
    assert(runs("dlq").err == Seq("2\t[300]\trange: 300 not a U8"))
    assert(runs("abort").err == Seq("runtime error: range: 300 not a U8"))
  }

  test("a nested sized int keeps a pass-through script off the column tier") {
    // JSON ingest range-checks top-level fields only; the kernel tier's
    // decode stops a record whose nested U8 is out of range, on both legs
    val record = agreeBoth("KernelTier", """script "nested range pass";
      |input  {id: Int, r: {a: U8}};
      |output {id: Int, a: Int};
      |out {id: in.id, a: in.r.a};""".stripMargin,
      """{"id": 1, "r": {"a": 5}}""", """{"id": 2, "r": {"a": 300}}""")
    assert(record("dlq").out == Seq("""{"id":1,"a":5}"""))
    assert(record("dlq").err == Seq("2\t[300]\trange: 300 not a U8"))
    assert(record("abort").err == Seq("runtime error: range: 300 not a U8"))
    val list = agreeBoth("KernelTier", """script "nested range list";
      |input  {id: Int, xs: [U8]};
      |output {id: Int, xs: [Int]};
      |out {id: in.id, xs: in.xs};""".stripMargin,
      """{"id": 1, "xs": [5]}""", """{"id": 2, "xs": [300]}""")
    assert(list("dlq").out == Seq("""{"id":1,"xs":[5]}"""))
    assert(list("dlq").err == Seq("2\tArraySeq(300)\trange: 300 not a U8"))
  }

  test("the oracle entries' uDLang scripts agree on both paths") {
    import graft.queries.{Dataflow, UdLang}
    val events = lines(
      """{"event_id": 1, "user_id": 23, "event_type": "click", "value": 80.5}""",
      """{"event_id": 2, "user_id": 7, "event_type": "purchase", "value": 12.0}""",
      """{"event_id": 3, "user_id": 40, "event_type": "error", "value": 0.5}""",
      """{"event_id": 4, "user_id": 5, "event_type": "view", "value": 3}""",
      """{"event_id": 5, "event_type": "click"}""")
    val items = lines("""{"l_orderkey": 1, "l_linenumber": 3}""",
      """{"l_orderkey": 2, "l_linenumber": 1}""", """{"l_orderkey": 3, "l_linenumber": 0}""",
      """{"l_orderkey": 4}""")
    val onEvents = Seq(Dataflow.d1KernelFlatmapSrc, Dataflow.d7ForMapSrc,
      Dataflow.d9SupposeSrc, Dataflow.d11ThrowDlqSrc, UdLang.uSupposeSrc,
      UdLang.uEffectDlqSrc).map(src => agree(script(src), events))
    val onItems = Seq(Dataflow.d3MultiEmitCountSrc, Dataflow.dFactKernelSrc,
      UdLang.uCountSrc, UdLang.uFactSrc).map(src => agree(script(src), items))
    // d11: the error event routes with the thrown message, the rest emit
    assert(onEvents(3)("dlq").err == Seq("3\terror\tboom:error"))
    assert(onEvents(3)("dlq").out.size == 4 && onEvents(3)("abort").code == 1)
    // d3: 3..0, 1..0 and 0 per line item; the record with no line number is invalid
    assert(onItems(0)("dlq").out.size == 7 && onItems(0)("dlq").err.size == 1)
  }
}
