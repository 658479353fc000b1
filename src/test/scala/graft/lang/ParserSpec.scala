package graft.lang

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Main
import graft.lang.Ast._

/** The hand-written parser against golden ASTs, plus the grammar's edge
  * cases. `src/test/resources/parser/` holds every script the examples,
  * the lang/CLI/source specs and the `u_*`/`s_*` entries parse (`.us`
  * scripts, `.lib` libraries, `.expr` REPL lines), each with the
  * `Main.pretty` rendering of the AST that the earlier parser-combinator
  * grammar built for it (`.ast`), or `ERR` and its error for a rejected
  * source. */
class ParserSpec extends AnyFunSuite {

  private val corpus = new File("src/test/resources/parser")

  private def read(f: File) = new String(Files.readAllBytes(f.toPath), "UTF-8")

  private def render(kind: String, src: String): String = (kind match {
    case "us"   => UdParser.parse(src).map(Main.pretty(_))
    case "lib"  => UdParser.parseDecls(src).map(Main.pretty(_))
    case "expr" => UdParser.parseExprStr(src).map(Main.pretty(_))
  }).fold("ERR " + _, identity)

  /** "parse error at line L, col C" without the message. */
  private def position(rendered: String) = rendered.takeWhile(_ != ':')

  test("every corpus source parses to its golden AST") {
    val sources = corpus.listFiles().filterNot(_.getName.endsWith(".ast"))
      .sortBy(_.getName)
    assert(sources.length >= 140, "corpus missing")
    val wrong = sources.flatMap { f =>
      val want = read(new File(corpus, f.getName + ".ast"))
      val got = render(f.getName.split('.').last, read(f))
      // a rejected source must fail at the same place; the wording differs
      val same =
        if (want.startsWith("ERR ")) got.startsWith("ERR ") && position(got) == position(want)
        else got == want
      if (same) None else Some(s"${f.getName}:\n$got\n--- want ---\n$want")
    }
    assert(wrong.isEmpty, wrong.take(3).mkString("\n\n"))
  }

  private def script(body: String): Script =
    UdParser.parse("script \"t\";\n" + body).fold(m => fail(m), identity)
  private def body(src: String): Seq[Stmt] = script(src).body
  private def expr(src: String): Expr =
    UdParser.parseExprStr(src).fold(m => fail(m), identity)
  private def error(src: String): String =
    UdParser.parse(src).fold(identity, s => fail(s"accepted: $s"))

  test("unary minus stays an operator; a `-` touching digits after it is a sign") {
    assert(expr("-1") == Un(Neg, LitInt(1)))
    assert(expr("- 1.5") == Un(Neg, LitFloat(1.5)))
    assert(expr("--1") == Un(Neg, LitInt(-1)))
    assert(expr("a -1") == Bin(Sub, Id("a"), LitInt(1)))
    assert(expr("a * -b") == Bin(Mul, Id("a"), Un(Neg, Id("b"))))
    assert(expr("1.5e3") == LitFloat(1500.0))
    assert(expr("match (x) { case -2 => 1; case \"a\" => 2; case none => 3; " +
      "case Some(v) => v; case n: Int => n; else => 0; }") ==
      Match(Id("x"), Seq(PLitInt(-2) -> LitInt(1), PLitStr("a") -> LitInt(2),
        PNone -> LitInt(3), PSome("v") -> Id("v"), PType("n", TInt) -> Id("n")),
        Some(LitInt(0))))
  }

  test("precedence: or < and < comparison < shift < additive < multiplicative") {
    assert(expr("a or b and c == d << 1 + 2 * 3") ==
      Bin(Or, Id("a"), Bin(And, Id("b"), Bin(Eq, Id("c"),
        Bin(Shl, Id("d"), Bin(Add, LitInt(1), Bin(Mul, LitInt(2), LitInt(3))))))))
    assert(expr("a - b - c") == Bin(Sub, Bin(Sub, Id("a"), Id("b")), Id("c")))
    assert(expr("not a xor b") == Bin(Xor, Un(Not, Id("a")), Id("b")))
    assert(expr("!x.y as Int") == Cast(Dot(Id("x"), "y"), TInt))
    assert(UdParser.parseExprStr("a < b < c").isLeft) // comparison is non-associative
  }

  test("keywords are whole words: `outer` is an identifier, not `out`") {
    assert(body("outer(1);\nout outer;") ==
      Seq(ExprStmt(Call(Id("outer"), Seq(LitInt(1)))), OutStmt(Id("outer"))))
    assert(expr("in_x or inx") == Bin(Or, Id("in_x"), Id("inx")))
    assert(expr("in.x") == Dot(In, "x"))
  }

  test("`[c | f]` is a comprehension and `[a, b]` a list") {
    assert(expr("[xs | $ + 1]") == Comprehension(Id("xs"),
      Lambda(Seq(("$p", TAny)), TAny, Bin(Add, Id("$p"), LitInt(1)))))
    assert(expr("[a, b]") == ListExpr(Seq(Id("a"), Id("b"))))
    assert(expr("[]") == ListExpr(Nil))
    // a union type in a cast stops before a `|` that no type follows
    assert(expr("[x as Int | $]") == Comprehension(Cast(Id("x"), TInt),
      Lambda(Seq(("$p", TAny)), TAny, Id("$p"))))
    assert(expr("[x as Int | Str]") == ListExpr(Seq(Cast(Id("x"), TUnion(Seq(TInt, TStr))))))
  }

  test("a template call `foo(x) { … }` passes its block as a closure") {
    assert(body("foo(1) { out 2; }") == Seq(ExprStmt(Call(Id("foo"),
      Seq(LitInt(1), Lambda(Nil, TNone, BlockExpr(Seq(OutStmt(LitInt(2))), LitNone)))))))
    assert(body("foo(1).bar;") == Seq(ExprStmt(Dot(Call(Id("foo"), Seq(LitInt(1))), "bar"))))
    assert(body("foo(1) - 2;") == Seq(ExprStmt(Bin(Sub, Call(Id("foo"), Seq(LitInt(1))), LitInt(2)))))
  }

  test("shebang lines, `//` and `/* */` comments are whitespace") {
    val s = UdParser.parse("#!/usr/bin/env udlang\n// lead\nscript /* a\n*/ \"t\";" +
      "\nout 1 /* two\nlines */ + // trailing\n 2; #! anywhere\n// last")
    assert(s.map(_.body) == Right(Seq(OutStmt(Bin(Add, LitInt(1), LitInt(2))))))
  }

  test("`.?.` tests presence, `.` reads a field") {
    assert(expr("r.?.a.b") == Dot(Has(Id("r"), "a"), "b"))
    assert(expr("r.a[0](1)") == Call(Index(Dot(Id("r"), "a"), LitInt(0)), Seq(LitInt(1))))
  }

  test("`$` and `$...` make partial applications; `...xs` spreads") {
    assert(expr("f(1, $, $)") == Lambda(Seq(("$p0", TAny), ("$p1", TAny)), TAny,
      Call(Id("f"), Seq(LitInt(1), Id("$p0"), Id("$p1")))))
    assert(expr("f($, $...)") == Lambda(Seq(("$p0", TAny), ("...$rest", TAny)), TAny,
      Call(Id("f"), Seq(Id("$p0"), Spread(Id("$rest"))))))
    assert(expr("f(...xs)") == Call(Id("f"), Seq(Spread(Id("xs")))))
    assert(expr("f($.a)") == Call(Id("f"), Seq(Dot(Placeholder, "a"))))
  }

  test("`func f<T: Int>` erases each type parameter to its bound") {
    val Seq(FuncStmt(n, ps, r, _, eff)) = script(
      "func f<T: Int, U>(x: T, ys: [U], ...rest: [T]) -> T? ! T = x;").decls
    assert(n == "f" && r == TOption(TInt) && eff == Some(TInt))
    assert(ps == Seq(("x", TInt), ("ys", TList(TAny)), ("...rest", TList(TInt))))
  }

  test("input-free decls go to the init block, the rest to the body") {
    val s = script("input {a: Int};\noutput Int;\nlet k = 2;\nlet y = in.a;\n" +
      "func g(x: Int) -> Int = x * k;\ntype T: Int;\nimport lib.{a, b as c};\n" +
      "out g(y);")
    assert(s.input == TRecord(Seq(TField("a", TInt, absentOptional = false))))
    assert(s.output == TInt)
    assert(s.decls.map(_.getClass.getSimpleName) ==
      Seq("LetStmt", "FuncStmt", "TypeDecl", "ImportStmt"))
    assert(s.body == Seq(LetStmt("y", Dot(In, "a")),
      OutStmt(Call(Id("g"), Seq(Id("y"))))))
    assert(s.decls(3) == ImportStmt("lib",
      Some(SelGroup(Seq(SelItem("a", None), SelItem("b", Some("c")))))))
  }

  test("`if` is a statement when its blocks hold statements, else an expression") {
    assert(body("if (a) { out 1; } elif (b) { out 2; } else { }") == Seq(
      IfStmt(Seq(Id("a") -> Seq(OutStmt(LitInt(1))), Id("b") -> Seq(OutStmt(LitInt(2)))), Nil)))
    assert(body("if (a) { 1 } else { 2 } + 3;") == Seq(ExprStmt(Bin(Add,
      Cond(Seq(Id("a") -> LitInt(1)), LitInt(2)), LitInt(3)))))
    // a block's tail expression, and a braced map in value position
    assert(script("func f() -> Int { let a = 1; if (a) {k: 1} else {} }").decls ==
      Seq(FuncStmt("f", Nil, TInt, BlockExpr(Seq(LetStmt("a", LitInt(1))),
        Cond(Seq(Id("a") -> MapExpr(Seq("k" -> LitInt(1)))), BlockExpr(Nil, LitNone))))))
    // a statement `if` takes no `;`, and its later blocks need statements too
    assert(UdParser.parse("script \"t\";\nif (a) { out 1; };").isLeft)
    assert(UdParser.parse("script \"t\";\nif (a) { out 1; } else { 2 }").isLeft)
  }

  test("lambdas, tuples and function types") {
    assert(expr("(x: Int) -> Int = x") == Lambda(Seq(("x", TInt)), TInt, Id("x")))
    assert(expr("() { out 1; }") == Lambda(Nil, TNone, BlockExpr(Seq(OutStmt(LitInt(1))), LitNone)))
    assert(expr("(a, b)") == TupleExpr(Seq(Id("a"), Id("b"))))
    assert(expr("(a)") == Id("a"))
    assert(script("input (Int, f: Str) -> Bool;").input == TLambda(Seq(TInt, TStr), TBool))
    assert(script("input (Int, Str)?;").input == TOption(TTuple(Seq(TInt, TStr))))
    assert(script("input Pair<Map<Int>, {[Str]: U8}>;").input ==
      TApply("Pair", Seq(TMap(TInt), TMap(TIntN(8, signed = false)))))
    assert(script("input Map<Int, Str>;").input == TApply("Map", Seq(TInt, TStr)))
  }

  test("record types: fields, `?` fields and members") {
    val TRecord(fs, ms) = script(
      "input {field a: Int, b?: Str; method m() -> Int { 1 }, const k: Int = 2};").input
    assert(fs == Seq(TField("a", TInt, absentOptional = false), TField("b", TStr, absentOptional = true)))
    assert(ms == Seq(RecMember("m", MMethod, Nil, TInt, LitInt(1)),
      RecMember("k", MConst, Nil, TInt, LitInt(2))))
    // `field`, `method` and `const` are names too, and a name starting
    // with `field` is not the `field` marker
    assert(script("input {field: Int, fields: [Str], method: Bool};").input ==
      TRecord(Seq(TField("field", TInt, false), TField("fields", TList(TStr), false),
        TField("method", TBool, false))))
  }

  test("a built-in type name is one whatever follows it") {
    assert(expr("x as Int and y") == Bin(And, Cast(Id("x"), TInt), Id("y")))
    assert(body("importer;") == Seq(ExprStmt(Id("importer"))))
  }

  test("a rejected source reports the line and column where it stops") {
    // the positions the parser-combinator grammar reported for the same
    // sources; an integer literal past Long threw NumberFormatException
    val scripts = Seq(
      "script \"t\";\nout 1" -> "line 2, col 6",
      "script \"t\";\nlet = 3;" -> "line 2, col 5",
      "script \"t\";\ninput {a: Int;\nout 1;" -> "line 3, col 1",
      "script \"t\";\n\n  out {a: 1 + };" -> "line 3, col 15",
      "out 1;" -> "line 1, col 1",
      "script \"t\";\nout \"open;\n" -> "line 2, col 5",
      "script \"t\";\nout 1; /* unterminated" -> "line 2, col 8",
      "script \"t\";\nif (a) { out 1; };" -> "line 2, col 18",
      "script \"t\";\nif (a) { out 1; } else { 2 }" -> "line 2, col 28",
      "script \"t\";\nout 99999999999999999999;" -> "line 2, col 5")
    for ((src, at) <- scripts)
      assert(position(error(src)) == s"parse error at $at", src)
    assert(error("script \"t\";\nout 1") ==
      "parse error at line 2, col 6: ';' expected but end of source found")
    assert(UdParser.parseDecls("lib \"l\";\nfunc f( -> Int = 1;").left.map(position) ==
      Left("parse error at line 2"))
    assert(UdParser.parseExprStr("1 +").left.map(position) == Left("parse error at col 4"))
    assert(UdParser.parseExprStr("a < b < c").left.map(position) == Left("parse error at col 7"))
  }
}
