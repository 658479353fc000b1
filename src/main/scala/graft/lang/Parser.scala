package graft.lang

import scala.collection.mutable.ListBuffer
import Ast._

/** uDLang surface-syntax parser (clean-room from the grammar the reference
  * documents: grammar.lalrpop, README.md, manual.md, examples dir). Covers
  * script/version/input/output decls, let/func/proc/type, lambdas (incl.
  * function types with named params), control flow (if/elif/else expr+stmt,
  * for, suppose with `...;` splice), out/throw/`!` debug, match, and the
  * expression grammar with the reference's precedence
  * (grammar.lalrpop:398-507).
  *
  * A hand-written `Lexer` and a recursive-descent `Grammar` that reads
  * each construct once: where two forms share a prefix (a statement `if`
  * and an `if` expression, a block and a map literal, a lambda and a
  * parenthesized expression, a template call and a call), it parses the
  * prefix and looks at what follows. A failure reports the furthest
  * position any construct reached.
  */
object UdParser {

  def parse(src: String): Either[String, Script] = {
    val g = new Grammar(src)
    try Right(g.program())
    catch {
      case _: ParseError =>
        Left(s"parse error at line ${g.line}, col ${g.col}: ${g.message}")
    }
  }

  /** Parse a decl-only library source (F11): optional `version`/`lib`
    * headers, then exports. `export` markers are accepted and recorded as
    * "everything is exported" (selector filtering happens at import). */
  def parseDecls(src: String): Either[String, Seq[Stmt]] = {
    val g = new Grammar(src)
    try Right(g.library())
    catch { case _: ParseError => Left(s"parse error at line ${g.line}: ${g.message}") }
  }

  /** Parse one bare expression (the CLI's `--dump-expr` REPL). */
  def parseExprStr(src: String): Either[String, Expr] = {
    val g = new Grammar(src)
    try Right(g.exprOnly())
    catch { case _: ParseError => Left(s"parse error at col ${g.col}: ${g.message}") }
  }

  // keywords must not lex as identifiers
  private[lang] val keywords = Set("if", "elif", "else", "for", "in", "out",
    "let", "func", "proc", "type", "suppose", "match", "case", "throw", "not",
    "and", "or", "xor", "true", "false", "none", "input", "output",
    "script", "version", "as", "import", "export")

  /** Built-in type names (manual.md:85-121). */
  private[lang] def builtinType(name: String): UdType = name match {
    case "Bool"            => TBool
    case "Int" | "I64"     => TInt
    case "Float" | "F64"   => TFloat
    case "Point"           => TPoint
    case "String" | "Str"  => TStr
    case "None"            => TNone
    case "Any"             => TAny
    case "U8"              => TIntN(8, signed = false)
    case "U16"             => TIntN(16, signed = false)
    case "U32"             => TIntN(32, signed = false)
    case "I8"              => TIntN(8, signed = true)
    case "I16"             => TIntN(16, signed = true)
    case "I32"             => TIntN(32, signed = true)
    // U64 is range-HONEST: it rides as Long like Nat, so wire values
    // above Long.MaxValue are rejected at the boundary (msgpack's
    // uint64 decode raises likewise) instead of silently wrapping
    case "Nat" | "U64"     => TIntN(64, signed = false)
    // Number = Int | Float (manual.md:91 tower alias)
    case "Number"          => TUnion(Seq(TInt, TFloat))
    case "F32"             => TFloat32 // precision-honest float32 (manual.md:121)
    case _                 => null
  }

  /** `$.y`-style expressions become unary lambdas (README.md:261). */
  private[lang] def desugarPlaceholder(e: Expr): Expr = {
    def contains(x: Expr): Boolean = x match {
      case Placeholder => true
      case Bin(_, a, b) => contains(a) || contains(b)
      case Un(_, a)     => contains(a)
      case Dot(a, _)    => contains(a)
      case Has(a, _)    => contains(a)
      case Index(a, b)  => contains(a) || contains(b)
      case Call(f, as)  => contains(f) || as.exists(contains)
      case Cast(a, _)   => contains(a)
      case Match(s, cs, d) =>
        contains(s) || cs.exists(c => contains(c._2)) || d.exists(contains)
      case _            => false
    }
    def replace(x: Expr): Expr = x match {
      case Placeholder  => Id("$p")
      case Bin(o, a, b) => Bin(o, replace(a), replace(b))
      case Un(o, a)     => Un(o, replace(a))
      case Dot(a, f)    => Dot(replace(a), f)
      case Has(a, f)    => Has(replace(a), f)
      case Index(a, b)  => Index(replace(a), replace(b))
      case Call(f, as)  => Call(replace(f), as.map(replace))
      case Cast(a, t)   => Cast(replace(a), t)
      case Match(s, cs, d) =>
        Match(replace(s), cs.map { case (p, b) => (p, replace(b)) },
          d.map(replace))
      case other        => other
    }
    if (contains(e)) Lambda(Seq(("$p", TAny)), TAny, replace(e)) else e
  }

  /** A call, or with `$`/`$...` arguments a partial application:
    * foo(1, $) => (p0) -> foo(1, p0); a trailing $... becomes a rest
    * param spread through to the callee. */
  private[lang] def call(f: Expr, args: List[Expr]): Expr =
    if (!args.contains(Placeholder) && !args.contains(PlaceholderRest))
      Call(f, args)
    else {
      var i = -1
      val filled = args.map {
        case Placeholder     => i += 1; Id(s"$$p$i")
        case PlaceholderRest => Spread(Id("$rest"))
        case a               => a
      }
      val ps = (0 to i).map(k => (s"$$p$k", TAny)) ++
        (if (args.contains(PlaceholderRest)) Seq(("...$rest", TAny))
         else Seq.empty)
      Lambda(ps, TAny, Call(f, filled))
    }

  /** `func add<T: Int>(x: T, y: T) -> T` (manual.md:118): function type
    * params erase to their BOUND (TAny when unbounded) in the signature —
    * the reference MVP's own checker is unwired, and bounded erasure gives
    * the documented example its semantics. */
  private[lang] def erase(bounds: Map[String, UdType], t: UdType): UdType = {
    def sub(t: UdType): UdType = t match {
      case TRef(x) if bounds.contains(x) => bounds(x)
      case TList(x)   => TList(sub(x))
      case TMap(x)    => TMap(sub(x))
      case TOption(x) => TOption(sub(x))
      case TTuple(xs) => TTuple(xs.map(sub))
      case TUnion(xs) => TUnion(xs.map(sub))
      case TRecord(fs, ms) =>
        TRecord(fs.map(f => f.copy(t = sub(f.t))), ms)
      case TLambda(as, rr) => TLambda(as.map(sub), sub(rr))
      case other => other
    }
    if (bounds.isEmpty) t else sub(t)
  }

  /** Does an expression (or statement) reference the current input? */
  private def refsIn(e: Expr): Boolean = e match {
    case In => true
    case Bin(_, a, b)  => refsIn(a) || refsIn(b)
    case Un(_, a)      => refsIn(a)
    case Cond(cs, o)   => cs.exists(c => refsIn(c._1) || refsIn(c._2)) || refsIn(o)
    case BlockExpr(ss, r) => ss.exists(stmtRefsIn) || refsIn(r)
    case Lambda(_, _, b)  => refsIn(b)
    case Call(f, as)   => refsIn(f) || as.exists(refsIn)
    case Dot(a, _)     => refsIn(a)
    case Has(a, _)     => refsIn(a)
    case Index(a, b)   => refsIn(a) || refsIn(b)
    case ListExpr(es)  => es.exists(refsIn)
    case TupleExpr(es) => es.exists(refsIn)
    case MapExpr(es)   => es.exists(e2 => refsIn(e2._2))
    case Match(s, cs, d) =>
      refsIn(s) || cs.exists(c => refsIn(c._2)) || d.exists(refsIn)
    case Comprehension(c, f) => refsIn(c) || refsIn(f)
    case Cast(a, _)    => refsIn(a)
    case Spread(a)     => refsIn(a)
    case ThrowE(a)     => refsIn(a)
    case _             => false
  }
  private def stmtRefsIn(s: Stmt): Boolean = s match {
    case OutStmt(e)        => refsIn(e)
    case LetStmt(_, e)     => refsIn(e)
    case FuncStmt(_, _, _, b, _) => refsIn(b)
    case ForStmt(_, c, b)  => refsIn(c) || b.exists(stmtRefsIn)
    case ForKvStmt(_, _, c, b) => refsIn(c) || b.exists(stmtRefsIn)
    case IfStmt(cs, o) =>
      cs.exists(c => refsIn(c._1) || c._2.exists(stmtRefsIn)) ||
        o.exists(stmtRefsIn)
    case SupposeStmt(d, br, lf) =>
      refsIn(d) || br.exists(stmtRefsIn) || lf.exists(stmtRefsIn)
    case ExprStmt(e)   => refsIn(e)
    case DebugStmt(e)  => refsIn(e)
    case ThrowStmt(e)  => refsIn(e)
    case _             => false
  }

  /** The block split (ir.rs:746-773, grammar.lalrpop:41-47): decl-kind
    * statements are init-block ONLY when they don't reference `in` — an
    * input-free let/func/type/import evaluates to the same value every
    * record, so hoisting it to init is semantics-preserving (the
    * reference's examples freely mix decl order around the IO decls). A
    * body-level `let y = in;` (parser.rs:804) stays per-record. */
  private[lang] def isInitDecl(s: Stmt): Boolean = s match {
    case _: LetStmt | _: FuncStmt | _: TypeDecl | _: ImportStmt => !stmtRefsIn(s)
    case _ => false
  }
}

/** A parse failure; the message and position are the `Lexer`'s furthest. */
private[lang] final class ParseError
  extends RuntimeException(null, null, false, false)

/** The scanner under `Grammar`: whitespace and comments, words, numbers,
  * strings and punctuation, read on demand at `pos`. Every read skips the
  * trivia before it: whitespace, `//` and `#!` line comments (a shebang
  * is one) and `/* */` block comments. Punctuation is matched as written,
  * so `>>` closes two generic type lists. */
private[lang] class Lexer(src: String) {
  var pos = 0
  private var failPos = -1
  private var failMsg = ""

  /** The furthest failure's message, line and column. */
  def message: String = failMsg
  def line: Int = { var l = 1; var i = 0
    while (i < failPos) { if (lineBreak(i)) l += 1; i += 1 }; l }
  def col: Int = { var i = failPos
    while (i > 0 && !lineBreak(i - 1)) i -= 1; failPos - i + 1 }
  private def lineBreak(i: Int) = src.charAt(i) == '\n' ||
    (src.charAt(i) == '\r' && (i + 1 == src.length || src.charAt(i + 1) != '\n'))

  def fail(msg: String): Nothing = {
    val at = skipFrom(pos)
    if (at >= failPos) { failPos = at; failMsg = msg }
    throw new ParseError
  }
  def expected(what: String): Nothing = fail(s"$what expected but $found found")
  private def found: String = {
    val at = skipFrom(pos)
    if (at >= src.length) "end of source" else s"'${src.charAt(at)}'"
  }

  /** Run `p`; on a failure put `pos` back and return null. */
  def attempt[T >: Null](p: => T): T = {
    val start = pos
    try p catch { case _: ParseError => pos = start; null }
  }

  // ---- trivia ----
  private def lineEnd(c: Char) =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'
  /** The position after the whitespace and comments at `p`. */
  def skipFrom(p: Int): Int = {
    var i = p
    var more = true
    while (more && i < src.length) {
      val c = src.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == '\u000b')
        i += 1
      else if ((c == '/' || c == '#') && i + 1 < src.length &&
          src.charAt(i + 1) == (if (c == '/') '/' else '!')) {
        while (i < src.length && !lineEnd(src.charAt(i))) i += 1
      } else if (src.startsWith("/*", i) && src.indexOf("*/", i + 2) >= 0)
        i = src.indexOf("*/", i + 2) + 2
      else more = false
    }
    i
  }
  def atEnd: Boolean = skipFrom(pos) == src.length
  def char: Char = { val i = skipFrom(pos); if (i < src.length) src.charAt(i) else '\u0000' }

  // ---- punctuation ----
  def at(s: String): Boolean = src.startsWith(s, skipFrom(pos))
  def accept(s: String): Boolean =
    if (at(s)) { pos = skipFrom(pos) + s.length; true } else false
  def expect(s: String): Unit = if (!accept(s)) expected(s"'$s'")

  // ---- words ----
  private def wordStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
  private def wordPart(c: Char) = wordStart(c) || (c >= '0' && c <= '9')
  private def wordEnd(p: Int): Int = {
    var i = p
    if (i < src.length && wordStart(src.charAt(i))) {
      i += 1
      while (i < src.length && wordPart(src.charAt(i))) i += 1
    }
    i
  }
  /** The word at `pos` (keyword or identifier), or null. */
  def word: String = {
    val i = skipFrom(pos); val j = wordEnd(i)
    if (j > i) src.substring(i, j) else null
  }
  def isWord(w: String): Boolean = {
    val i = skipFrom(pos)
    src.startsWith(w, i) && wordEnd(i) == i + w.length
  }
  def acceptWord(w: String): Boolean =
    if (isWord(w)) { pos = skipFrom(pos) + w.length; true } else false
  def expectWord(w: String): Unit = if (!acceptWord(w)) expected(s"'$w'")
  def atName: Boolean = { val w = word; w != null && !UdParser.keywords(w) }
  def name(): String = {
    val w = word
    if (w == null || UdParser.keywords(w)) fail("identifier expected")
    pos = skipFrom(pos) + w.length
    w
  }
  /** Does `s` follow the word at `pos`? */
  def afterWord(s: String): Boolean =
    src.startsWith(s, skipFrom(wordEnd(skipFrom(pos))))
  /** Is the word at `pos` a name followed by `s`? */
  def atNameThen(s: String): Boolean = atName && afterWord(s)
  /** Does a name follow the word at `pos`? */
  def nameAfterWord: Boolean = nameAt(wordEnd(skipFrom(pos)))
  /** Does a name follow `s` at `pos`? */
  def atThenName(s: String): Boolean = at(s) && nameAt(skipFrom(pos) + s.length)
  private def nameAt(p: Int): Boolean = {
    val i = skipFrom(p); val j = wordEnd(i)
    j > i && !UdParser.keywords(src.substring(i, j))
  }

  // ---- literals ----
  private def digit(i: Int) = i < src.length && src.charAt(i) >= '0' && src.charAt(i) <= '9'
  private def digitsFrom(p: Int): Int = { var i = p; while (digit(i)) i += 1; i }
  /** A number at `pos`, with a `-` sign only when it touches the digits. */
  def atNumber: Boolean = {
    val i = skipFrom(pos)
    digit(i) || (i < src.length && src.charAt(i) == '-' && digit(i + 1))
  }
  /** `-?\d+\.\d+([eE][+-]?\d+)?` as a Double, or `-?\d+` not followed by
    * a digit, `.`, `e` or `E` as a Long. */
  def number(): Either[Long, Double] = {
    val start = skipFrom(pos)
    var i = digitsFrom(if (src.charAt(start) == '-') start + 1 else start)
    if (i < src.length && src.charAt(i) == '.' && digit(i + 1)) {
      i = digitsFrom(i + 1)
      if (i < src.length && (src.charAt(i) == 'e' || src.charAt(i) == 'E')) {
        val sign = if (i + 1 < src.length && (src.charAt(i + 1) == '+' ||
          src.charAt(i + 1) == '-')) i + 2 else i + 1
        if (digit(sign)) i = digitsFrom(sign)
      }
      pos = i
      Right(src.substring(start, i).toDouble)
    } else if (i < src.length && ".eE".indexOf(src.charAt(i)) >= 0)
      fail("number expected")
    else src.substring(start, i).toLongOption match {
      case Some(v) => pos = i; Left(v)
      case None    => fail("integer literal out of range")
    }
  }
  def atString: Boolean = char == '"'
  /** A `"…"` literal, unescaped in one left-to-right scan: each escape is
    * consumed exactly once, so "a\\nb" (backslash then n) stays
    * backslash-n instead of newline. An escape may not be a line end. */
  def string(): String = {
    if (!atString) expected("string")
    var i = skipFrom(pos) + 1
    val sb = new java.lang.StringBuilder
    while (i < src.length && src.charAt(i) != '"') {
      val c = src.charAt(i)
      if (c == '\\') {
        if (i + 1 >= src.length || lineEnd(src.charAt(i + 1))) fail("unterminated string")
        src.charAt(i + 1) match {
          case 'n'   => sb.append('\n')
          case 't'   => sb.append('\t')
          case '"'   => sb.append('"')
          case '\\'  => sb.append('\\')
          case other => sb.append('\\').append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    if (i >= src.length) fail("unterminated string")
    pos = i + 1
    sb.toString
  }
  /** The raw text up to the next `;` (a `version` value), at least one
    * character. */
  def rawToSemicolon(): Unit = {
    val i = skipFrom(pos); val j = src.indexOf(';', i)
    if (j <= i) expected("version")
    pos = j
  }
}

/** The recursive-descent grammar, one method per construct. The
  * expression levels climb the reference's precedence, loosest first:
  * or/xor, and, comparison (non-associative), shift, additive,
  * multiplicative, unary, postfix. */
private[lang] final class Grammar(src: String) extends Lexer(src) {
  import UdParser._

  // ---- program ----

  def program(): Script = {
    version()
    expectWord("script"); val desc = string(); expect(";")
    var in: UdType = null
    var out: UdType = null
    val stmts = ListBuffer.empty[Stmt]
    while (!atEnd) {
      if (acceptWord("input")) {
        val t = ty(); expect(";"); if (in == null) in = t
      } else if (acceptWord("output")) {
        val t = ty(); expect(";"); if (out == null) out = t
      } else stmts += statement(tail = false).asInstanceOf[Stmt]
    }
    val (decls, body) = stmts.toList.partition(isInitDecl)
    Script(desc, if (in == null) TAny else in, if (out == null) TAny else out,
      decls, body)
  }

  private def version(): Unit =
    if (acceptWord("version")) { rawToSemicolon(); expect(";") }

  /** Library decl: everything a script decl can be, plus the bare
    * `export name = expr;` form of the README html library. */
  def library(): List[Stmt] = {
    version()
    if (isWord("lib") && afterWord("\"")) { acceptWord("lib"); string(); expect(";") }
    val stmts = ListBuffer.empty[Stmt]
    while (!atEnd) {
      acceptWord("export")
      stmts += (if (atNameThen("=") && !afterWord("==")) {
        val n = name(); expect("="); val e = expr(); expect(";"); LetStmt(n, e)
      } else statement(tail = false).asInstanceOf[Stmt])
    }
    stmts.toList
  }

  def exprOnly(): Expr = {
    val e = expr()
    if (!atEnd) expected("end of input")
    e
  }

  // ---- statements ----

  /** One statement, or (with `tail`) the value expression that ends a
    * braced block: an expression not followed by `;`. */
  private def statement(tail: Boolean): AnyRef = word match {
    case "out" =>
      acceptWord("out"); val e = expr(); expect(";"); OutStmt(e)
    case "let" =>
      acceptWord("let"); val n = name(); expect("="); val e = expr(); expect(";")
      LetStmt(n, e)
    case "type" => typeDecl()
    case "func" => funcDecl()
    case "proc" =>
      acceptWord("proc"); val n = name(); expect("(")
      val ps = params(); FuncStmt(n, ps, TNone, braced())
    case "for" => forStmt()
    case "suppose" =>
      acceptWord("suppose"); expect("("); val d = expr(); expect(")")
      val branch = stmtBlock(); expectWord("else")
      SupposeStmt(d, branch, stmtBlock())
    case "import" =>
      acceptWord("import"); val lib = name()
      val sel = if (accept(".")) Some(importSel()) else None
      expect(";"); ImportStmt(lib, sel)
    case "throw" =>
      acceptWord("throw"); val e = expr()
      if (accept(";")) ThrowStmt(e) else exprStatement(ThrowE(e), postfix = false, tail)
    case "if" => ifStatement(tail)
    case _ =>
      if (accept("...")) { expect(";"); SpliceStmt }
      else if (accept("!")) {
        val e = expr()
        if (accept(";")) DebugStmt(e)
        else if (tail && at("}")) e
        else expected("';'")
      } else if (atNameThen("(")) {
        // D12 template call: foo(args) { block } — the trailing block
        // becomes the final (zero-arg) closure argument
        // (grammar.lalrpop:219-229); without a block, a call
        val f = Id(name()); expect("(")
        val args = callArgs()
        if (at("{")) {
          val blk = stmtBlock()
          ExprStmt(Call(f, args :+ Lambda(Seq.empty, TNone, BlockExpr(blk, LitNone))))
        } else exprStatement(call(f, args), postfix = true, tail)
      } else exprStatement(null, postfix = true, tail)
  }

  /** An expression statement, or the block's tail: `first` (when given)
    * is its leftmost operand, already read — an atom that postfix
    * operators may still extend, or a unary expression. */
  private def exprStatement(first: Expr, postfix: Boolean, tail: Boolean): AnyRef = {
    pending = first; pendingPostfix = postfix
    val e = expr()
    if (accept(";")) ExprStmt(e)
    else if (tail) e
    else expected("';'")
  }

  /** `if` at the start of a statement: a statement `if` when its first
    * block holds only statements (so must every later block), else an
    * `if` expression, read as an expression statement or block tail. */
  private def ifStatement(tail: Boolean): AnyRef = {
    acceptWord("if"); expect("("); val c = expr(); expect(")")
    if (at("{") && !mapAhead) {
      val (ss, last) = block()
      if (last == null) {
        val arms = ListBuffer((c, ss))
        while (acceptWord("elif")) {
          expect("("); val cc = expr(); expect(")"); arms += ((cc, stmtBlock()))
        }
        val otherwise = if (acceptWord("else")) stmtBlock() else Nil
        return IfStmt(arms.toList, otherwise)
      }
      exprStatement(ifRest(c, blockValue(ss, last)), postfix = true, tail)
    } else exprStatement(ifRest(c, blockValue()), postfix = true, tail)
  }

  private def typeDecl(): Stmt = {
    // `type N: type = T;` (manual), `type N: T;` (README html lib), and
    // parametric `type N<T, U>: T;` (TypeFunc, ast.rs:205)
    acceptWord("type"); val n = name()
    val ps = ListBuffer.empty[String]
    if (accept("<")) { ps += name(); while (accept(",")) ps += name(); expect(">") }
    expect(":")
    if (isWord("type") && afterWord("=")) { acceptWord("type"); expect("=") }
    val t = ty(); expect(";")
    TypeDecl(n, t, ps.toList)
  }

  private def funcDecl(): Stmt = {
    acceptWord("func"); val n = name()
    var bounds = Map.empty[String, UdType]
    if (accept("<")) {
      var more = true
      while (more) {
        val tn = name()
        bounds += tn -> (if (accept(":")) ty() else TAny)
        more = accept(",")
      }
      expect(">")
    }
    expect("("); val ps = params()
    expect("->"); val r = ty()
    val eff = if (accept("!")) Some(ty()) else None // `-> T ! E` (README.md:337-342)
    val body = if (accept("=")) { val e = expr(); expect(";"); e } else braced()
    FuncStmt(n, ps.map { case (pn, pt) => (pn, erase(bounds, pt)) },
      erase(bounds, r), body, eff.map(erase(bounds, _)))
  }

  private def forStmt(): Stmt = {
    acceptWord("for")
    if (accept("(")) {
      val k = name(); expect(","); val v = name(); expect(")")
      expectWord("in"); val c = expr()
      ForKvStmt(k, v, c, stmtBlock())
    } else {
      val v = name(); expectWord("in"); val c = expr()
      ForStmt(v, c, stmtBlock())
    }
  }

  /** Import selectors (grammar.lalrpop:182-195): `_` the module itself,
    * `*` all exports, `item`, `item as alias`, `item.nested`, `{a, b}`. */
  private def importSel(): ImportSel =
    if (isWord("_")) { acceptWord("_"); SelItself }
    else if (accept("*")) SelAll
    else if (accept("{")) {
      val sels = ListBuffer(importSel())
      while (accept(",")) sels += importSel()
      expect("}"); SelGroup(sels.toList)
    } else {
      val n = name()
      if (accept(".")) SelNested(n, importSel())
      else SelItem(n, if (acceptWord("as")) Some(name()) else None)
    }

  /** `{ stmt* }` */
  private def stmtBlock(): List[Stmt] = {
    expect("{")
    val ss = ListBuffer.empty[Stmt]
    while (!accept("}")) ss += statement(tail = false).asInstanceOf[Stmt]
    ss.toList
  }

  /** `{ stmt* expr? }`: the statements and the tail expression (null when
    * the block ends in a statement). */
  private def block(): (List[Stmt], Expr) = {
    expect("{")
    val ss = ListBuffer.empty[Stmt]
    var last: Expr = null
    while (last == null && !at("}")) statement(tail = true) match {
      case s: Stmt => ss += s
      case e: Expr => last = e
    }
    expect("}")
    (ss.toList, last)
  }

  /** A braced block with a value result; statements-only blocks result
    * in none (proc bodies). */
  private def braced(): Expr = { val (ss, last) = block(); blockValue(ss, last) }
  private def blockValue(ss: List[Stmt], last: Expr): Expr =
    if (last == null) BlockExpr(ss, LitNone)
    else if (ss.isEmpty) last
    else BlockExpr(ss, last)

  /** A braced block, or any expression (a `{` opening a map literal
    * included). */
  private def blockValue(): Expr =
    if (at("{") && !mapAhead) braced() else expr()

  /** Does the `{` at `pos` open a map literal rather than a block: `{,`
    * or `{ key :`? */
  private def mapAhead: Boolean = {
    val start = pos
    accept("{")
    val isMap = at(",") ||
      (if (atString) attempt(string()) != null && at(":") else atNameThen(":"))
    pos = start
    isMap
  }

  // ---- expressions ----

  /** An operand already read by a statement, taken by the leftmost
    * descent of the next `expr`. */
  private var pending: Expr = null
  private var pendingPostfix = false

  /** The binary operators by precedence, loosest first. A symbol comes
    * before any other it is a prefix of. */
  private val levels: Array[Seq[(String, BinOp)]] = Array(
    Seq("or" -> Or, "xor" -> Xor),
    Seq("and" -> And),
    Seq("<=" -> Lte, ">=" -> Gte, "==" -> Eq, "!=" -> Neq, "<" -> Lt, ">" -> Gt),
    Seq("<<" -> Shl, ">>" -> Shr),
    Seq("+" -> Add, "-" -> Sub),
    Seq("*" -> Mul, "/" -> Div, "%" -> Mod))
  private val comparison = 2 // does not associate: `a < b < c` is an error

  def expr(): Expr = binary(0)

  /** The operators of `level` and tighter, left-associative. */
  private def binary(level: Int): Expr =
    if (level == levels.length) unaryExpr()
    else {
      var l = binary(level + 1)
      var op = operator(level)
      while (op != null) {
        l = Bin(op, l, binary(level + 1))
        op = if (level == comparison) null else operator(level)
      }
      l
    }

  private def operator(level: Int): BinOp =
    levels(level).collectFirst {
      case (s, op) if (if (s.head.isLetter) acceptWord(s) else accept(s)) => op
    }.orNull

  private def unaryExpr(): Expr =
    if (pending != null) {
      val p = pending; pending = null
      if (pendingPostfix) postfix(p) else p
    } else if (acceptWord("not")) Un(Not, unaryExpr())
    else if (accept("-")) Un(Neg, postfix(atom()))
    else if (accept("!")) unaryExpr() // `!` debug is a passthrough in exprs
    else if (acceptWord("throw")) ThrowE(expr()) // throw in value position (README)
    else postfix(atom())

  /** Calls, `.?.field`, `.field` and `[index]` after an atom, then at most
    * one `as T`. */
  private def postfix(atom: Expr): Expr = {
    var e = atom
    var more = true
    while (more) {
      if (accept("(")) e = call(e, callArgs())
      else if (accept(".?.")) e = Has(e, name())
      else if (atThenName(".")) { accept("."); e = Dot(e, name()) }
      else if (accept("[")) { val i = expr(); expect("]"); e = Index(e, i) }
      else more = false
    }
    if (acceptWord("as")) Cast(e, ty()) else e
  }

  /** Call arguments up to and including `)`. */
  private def callArgs(): List[Expr] = {
    val args = ListBuffer.empty[Expr]
    if (!at(")")) {
      args += callArg()
      while (accept(",")) args += callArg()
    }
    expect(")")
    args.toList
  }

  private def callArg(): Expr = {
    val start = pos
    if (accept("$")) {
      if (accept("...")) return PlaceholderRest
      pos = start
    }
    if (accept("...")) Spread(expr()) else expr()
  }

  private def atom(): Expr = {
    if (atNumber) return number() match {
      case Left(v)  => LitInt(v)
      case Right(v) => LitFloat(v)
    }
    char match {
      case '"' => LitStr(string())
      case '(' => if (lambdaAhead) lambda() else {
        accept("(")
        val es = ListBuffer(expr())
        while (accept(",")) es += expr()
        expect(")")
        if (es.size == 1) es.head // parenthesized expression
        else TupleExpr(es.toList)
      }
      case '[' =>
        accept("[")
        if (accept("]")) ListExpr(Nil)
        else {
          val first = expr()
          if (accept("|")) {
            val f = expr(); expect("]")
            Comprehension(first, desugarPlaceholder(f))
          } else {
            val es = ListBuffer(first)
            while (accept(",")) es += expr()
            expect("]")
            ListExpr(es.toList)
          }
        }
      case '$' => accept("$"); Placeholder
      case '{' => mapLiteral()
      case _ => word match {
        case "true"  => acceptWord("true"); LitBool(true)
        case "false" => acceptWord("false"); LitBool(false)
        case "none"  => acceptWord("none"); LitNone
        case "in"    => acceptWord("in"); In
        case "if"    =>
          acceptWord("if"); expect("("); val c = expr(); expect(")")
          ifRest(c, blockValue())
        case "match" => matchExpr()
        case _       => Id(name())
      }
    }
  }

  /** The rest of an `if` expression after its first arm:
    * `(elif (c) v)* else v`. */
  private def ifRest(c: Expr, v: Expr): Expr = {
    val arms = ListBuffer((c, v))
    while (acceptWord("elif")) {
      expect("("); val cc = expr(); expect(")"); arms += ((cc, blockValue()))
    }
    expectWord("else")
    Cond(arms.toList, blockValue())
  }

  private def mapLiteral(): Expr = {
    expect("{")
    val es = ListBuffer.empty[(String, Expr)]
    def entry(): Unit = {
      val k = if (atString) string() else name()
      expect(":"); es += ((k, expr()))
    }
    def atKey = atString || atName
    if (atKey) {
      entry()
      while (accept(",") && atKey) entry()
    } else accept(",")
    expect("}")
    MapExpr(es.toList)
  }

  private def matchExpr(): Expr = {
    acceptWord("match"); expect("("); val s = expr(); expect(")"); expect("{")
    val cases = ListBuffer.empty[(Pattern, Expr)]
    while (acceptWord("case")) {
      val p = pattern(); expect("=>"); val e = expr(); expect(";")
      cases += ((p, e))
    }
    val dflt =
      if (acceptWord("else")) { expect("=>"); val e = expr(); expect(";"); Some(e) }
      else None
    expect("}")
    Match(s, cases.toList, dflt)
  }

  private def pattern(): Pattern =
    if (atString) PLitStr(string())
    else if (atNumber) number() match {
      case Left(v)  => PLitInt(v)
      case Right(_) => fail("integer pattern expected")
    }
    else if (isWord("Some") && afterWord("(")) {
      acceptWord("Some"); expect("("); val n = name(); expect(")"); PSome(n)
    } else if (acceptWord("none")) PNone
    else { val n = name(); expect(":"); PType(n, ty()) }

  /** Does the `(` at `pos` open a lambda: `()`, `(...` or `(name:`? */
  private def lambdaAhead: Boolean = {
    val start = pos
    accept("(")
    val isLambda = at(")") || at("...") || atNameThen(":")
    pos = start
    isLambda
  }

  /** lambda literal: (x: T) -> R = e | (x: T) -> R {block} | (x: T) {block}
    * (grammar.lalrpop:365-384). */
  private def lambda(): Expr = {
    expect("("); val ps = params()
    if (accept("->")) {
      val r = ty()
      Lambda(ps, r, if (accept("=")) expr() else braced())
    } else Lambda(ps, TNone, braced())
  }

  /** Parameters up to and including `)`. A rest parameter `...children: T`
    * (README.md:335-336) is encoded as a "..."-prefixed name; only
    * meaningful in last position — the callee binds it to the list of
    * remaining arguments. */
  private def params(): List[(String, UdType)] = {
    val ps = ListBuffer.empty[(String, UdType)]
    def param(): Unit =
      if (accept("...")) {
        val n = name(); expect(":"); ps += (("..." + n, ty())); accept(",")
      } else { val n = name(); expect(":"); ps += ((n, ty())) }
    if (at("...") || atName) {
      param()
      while (accept(",")) param()
    }
    expect(")")
    ps.toList
  }

  // ---- types ----

  def ty(): UdType = {
    val ts = ListBuffer(tyPostfix())
    var more = true
    while (more) {
      // a `|` that no type follows is not this type's (a comprehension's)
      val start = pos
      val t = if (accept("|")) attempt(tyPostfix()) else null
      if (t == null) { pos = start; more = false } else ts += t
    }
    if (ts.size == 1) ts.head else TUnion(ts.toList)
  }

  private def tyPostfix(): UdType = {
    var t = tyAtom()
    while (accept("?")) t = TOption(t)
    t
  }

  private def tyAtom(): UdType = char match {
    case '"' => TValue(string())
    case '[' => accept("["); val t = ty(); expect("]"); TList(t)
    case '{' =>
      accept("{")
      if (accept("[")) {
        // `{[Str]: T}` map-type sugar (README.md html example)
        ty(); expect("]"); expect(":"); val t = ty(); accept(","); expect("}")
        TMap(t)
      } else recordType()
    case '(' =>
      // a function type `(T, name: U) -> R`, else a tuple or a
      // parenthesized type
      accept("(")
      val ts = ListBuffer.empty[UdType]
      var named = false
      def element(): Unit = {
        if (atNameThen(":")) { name(); accept(":"); named = true }
        ts += ty()
      }
      if (!at(")")) { element(); while (accept(",")) element() }
      expect(")")
      if (accept("->")) TLambda(ts.toList, ty())
      else if (named || ts.isEmpty) expected("'->'")
      else if (ts.size == 1) ts.head
      else TTuple(ts.toList)
    case _ =>
      val w = word
      val builtin = if (w == null) null else builtinType(w)
      if (builtin != null) { acceptWord(w); builtin }
      else if (w == "Map" && afterWord("[")) {
        acceptWord(w); accept("["); val t = ty(); expect("]"); TMap(t)
      } else {
        val n = name()
        // generic application (TypeCons); `Map<T>` is a map
        val args = if (!at("<")) null else attempt {
          accept("<")
          val as = ListBuffer(ty())
          while (accept(",")) as += ty()
          expect(">")
          as.toList
        }
        if (args == null) TRef(n)
        else if (n == "Map" && args.size == 1) TMap(args.head)
        else TApply(n, args)
      }
  }

  /** `{ member ((,|;) member)* (,|;)? }` after its `{`: fields, and
    * method, static and const members (grammar.lalrpop:156-167). */
  private def recordType(): UdType = {
    val fields = ListBuffer.empty[TField]
    val members = ListBuffer.empty[RecMember]
    def member(): Unit = word match {
      case kind @ ("method" | "static") if nameAfterWord =>
        acceptWord(kind); val n = name(); expect("(")
        val ps = params(); expect("->"); val r = ty()
        members += RecMember(n, if (kind == "method") MMethod else MStatic, ps, r, braced())
      case "const" if nameAfterWord =>
        acceptWord("const"); val n = name(); expect(":"); val t = ty(); expect("=")
        members += RecMember(n, MConst, Nil, t, expr())
      case w =>
        if (w == "field" && nameAfterWord) acceptWord("field")
        val n = name()
        val optional = accept("?")
        expect(":")
        fields += TField(n, ty(), optional)
    }
    def sep() = accept(",") || accept(";")
    if (at("}") || at(",") || at(";")) sep()
    else {
      member()
      while (sep() && !at("}")) member()
    }
    expect("}")
    TRecord(fields.toList, members.toList)
  }
}
