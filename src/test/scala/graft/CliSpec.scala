package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, PrintStream}
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import graft.sources.Msgpack

/** End-to-end CLI driver (reference main.rs:51-62 UX): scripts from the
  * examples/ corpus, records in on stdin, records out on stdout. */
class CliSpec extends SparkSpec {

  private def cli(args: List[String], stdin: Array[Byte] = Array.empty)
      : (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val code = Main.execute(args, new ByteArrayInputStream(stdin),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"),
      Some(spark))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  /** `main`'s whole exit mapping: code, stdout, stderr. */
  private def exit(args: List[String], stdin: String = "")
      : (Int, String, String) = {
    val out = new ByteArrayOutputStream()
    val err = new ByteArrayOutputStream()
    val code = Main.exitCode(args, new ByteArrayInputStream(stdin.getBytes("UTF-8")),
      new PrintStream(out, true, "UTF-8"), new PrintStream(err, true, "UTF-8"),
      Some(spark))
    (code, out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def tmpFile(suffix: String, text: String): String = {
    val f = java.io.File.createTempFile("graft_cli", suffix)
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
    f.getPath
  }

  test("Float outputs render as to_json does, in any locale, on both paths") {
    val stdin = "1e20\n12345678.0\n2.5\n"
    val scalar = tmpFile(".us",
      "script \"f\";\ninput Float;\noutput Float;\nout in;\n")
    val record = tmpFile(".us",
      "script \"f\";\ninput Float;\noutput {x: Float};\nout {x: in};\n")
    val want = Seq("1.0E20", "1.2345678E7", "2.5")
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      for (leg <- Seq(Nil, List("--in", tmpFile(".in", stdin)))) {
        val (c1, o1, e1) = exit(leg :+ scalar, stdin)
        assert(c1 == 0, e1)
        assert(o1.linesIterator.toSeq.sorted == want.sorted, s"$leg")
        val (c2, o2, e2) = exit(leg :+ record, stdin)
        assert(c2 == 0, e2)
        assert(o2.linesIterator.toSeq.sorted ==
          want.map(w => s"""{"x":$w}""").sorted, s"$leg")
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("stdout is UTF-8 whatever the stream's own charset") {
    val out = new ByteArrayOutputStream()
    assert(Main.exitCode(List("examples/hello.us"),
      new ByteArrayInputStream("\"gr\u00e4ft\"\n".getBytes("UTF-8")),
      new PrintStream(out, true, "US-ASCII"),
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    assert(out.toString("UTF-8").trim == "\"Hello, gr\u00e4ft\"")
  }

  test("abort mode: an invalid record or a throw is one runtime error line, exit 1") {
    val bad = """{"event_id": 1, "event_type": "click", "value": 80.5}
                |this is not json
                |""".stripMargin
    val neg = """{"event_id": 2, "value": -1.0}
                |""".stripMargin
    for (leg <- Seq((s: String) => Nil, (s: String) => List("--in", tmpFile(".in", s)))) {
      val (c1, _, e1) = exit(leg(bad) :+ "examples/filter_events.us", bad)
      assert(c1 == 1 && e1.linesIterator.toSeq ==
        Seq("runtime error: malformed_json:_payload"), e1)
      val (c2, _, e2) = exit(leg(neg) :+ "examples/checked_effects.us", neg)
      assert(c2 == 1 && e2.linesIterator.toSeq ==
        Seq("runtime error: negative value"), e2)
    }
    // usage and compile errors keep their own codes
    val (c3, _, e3) = exit(List("--mode", "bogus", "examples/hello.us"))
    assert(c3 == 2 && e3.trim == "error: bad --mode bogus")
    val (c4, _, e4) = exit(List(tmpFile(".us", "this is not uDLang")))
    assert(c4 == 3 && e4.startsWith("compile error:"), e4)
  }

  test("--out with records on stdin decodes them like the in-process run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_out").toFile
    val outDir = new java.io.File(dir, "out")
    val stdin =
      """{"event_id": 1, "event_type": "click", "value": 80.5}
        |{"event_id": "x", "event_type": "view", "value": 70.0}
        |""".stripMargin
    val (code, _, err) = exit(List("--mode", "dlq", "--out", outDir.getPath,
      "examples/filter_events.us"), stdin)
    assert(code == 0, err)
    assert(err.trim.endsWith("\ttype:event_id"))
    val produced = spark.read.text(outDir.getPath).collect().map(_.getString(0))
    assert(produced.toSeq == Seq("""{"event_id":1,"cat":"ui","boosted":161.0}"""))
  }

  test("run examples/hello.us: scalar JSON values stdin -> stdout") {
    val (code, out, _) = cli(List("examples/hello.us"),
      "\"world\"\n\"graft\"\n".getBytes("UTF-8"))
    assert(code == 0)
    // scalar outputs emit BARE values on the pipe (reference model)
    assert(out.linesIterator.toSeq.sorted ==
      Seq("\"Hello, graft\"", "\"Hello, world\""))
  }

  test("run examples/filter_events.us: JSON records, filter + match") {
    val stdin =
      """{"event_id": 1, "event_type": "click", "value": 80.5}
        |{"event_id": 2, "event_type": "view", "value": 10.0}
        |{"event_id": 3, "event_type": "purchase", "value": 60.0}
        |""".stripMargin.getBytes("UTF-8")
    val (code, out, _) = cli(List("examples/filter_events.us"), stdin)
    assert(code == 0)
    val lines = out.linesIterator.toSeq.sorted
    assert(lines == Seq(
      """{"event_id":1,"cat":"ui","boosted":161.0}""",
      """{"event_id":3,"cat":"commerce","boosted":120.0}""").sorted)
  }

  test("run with msgpack framing round-trips records through stdin/stdout") {
    val o = new ByteArrayOutputStream()
    Msgpack.writeMap(o, Seq("event_id" -> 7L, "event_type" -> "click",
      "value" -> 99.0))
    Msgpack.writeMap(o, Seq("event_id" -> 8L, "event_type" -> "view",
      "value" -> 1.0))
    val (code, _, _) = cli(
      List("--format", "msgpack", "examples/filter_events.us"), o.toByteArray)
    assert(code == 0)
    // re-run capturing raw bytes: decode stdout as msgpack records
    val out = new ByteArrayOutputStream()
    val ps = new PrintStream(out, true, "UTF-8")
    assert(Main.execute(List("--format", "msgpack", "examples/filter_events.us"),
      new ByteArrayInputStream(o.toByteArray), ps,
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    val decoded = Msgpack.readValue(ByteBuffer.wrap(out.toByteArray))
    assert(decoded == Vector("event_id" -> 7L, "cat" -> "ui",
      "boosted" -> 198.0))
  }

  test("--mode dlq routes invalid records to stderr, good ones to stdout") {
    val stdin =
      """{"event_id": 1, "event_type": "click", "value": 80.5}
        |this is not json
        |""".stripMargin.getBytes("UTF-8")
    val (code, out, err) = cli(
      List("--mode", "dlq", "examples/filter_events.us"), stdin)
    assert(code == 0)
    assert(out.linesIterator.size == 1)
    assert(err.contains("this is not json"))
  }

  test("run examples/checked_effects.us: effect-annotated script + DLQ") {
    val stdin =
      """{"event_id": 1, "value": 4.5}
        |{"event_id": 2, "value": -1.0}
        |{"event_id": 3, "value": 2.0}
        |""".stripMargin.getBytes("UTF-8")
    val (code, out, err) = cli(
      List("--mode", "dlq", "examples/checked_effects.us"), stdin)
    assert(code == 0)
    val lines = out.linesIterator.toSeq.sorted
    assert(lines == Seq(
      """{"event_id":1,"score":45.0}""",
      """{"event_id":3,"score":20.0}""").sorted, s"stdout: $lines")
    assert(err.contains("negative value"), s"stderr: $err")
  }

  test("--dump-ast and --compile print the front-end view") {
    val (c1, ast, _) = cli(List("--dump-ast", "examples/hello.us"))
    assert(c1 == 0)
    assert(ast.contains("Script") && ast.contains("Hello world, in uDLang"))
    val (c2, comp, _) = cli(List("--compile", "examples/filter_events.us"))
    assert(c2 == 0)
    assert(comp.contains("tier: ColumnTier"))
    assert(comp.contains("input schema:"))
  }

  test("--dump-expr parses one expression per line") {
    val (code, out, _) = cli(List("--dump-expr"),
      "1 + 2\nnot an ) expr\n".getBytes("UTF-8"))
    assert(code == 0)
    val lines = out.linesIterator.toSeq
    assert(lines.head.contains("BinOp") || lines.mkString.contains("Add"))
    assert(out.contains("error:"))
  }

  test("lift and lower convert between JSON and msgpack framings") {
    // lift: JSON lines -> msgpack records
    val json = """{"id": 1, "name": "a", "score": 1.5}
                 |{"id": 2, "name": "b", "score": null}
                 |""".stripMargin
    val liftOut = new ByteArrayOutputStream()
    assert(Main.execute(List("lift", "--json"),
      new ByteArrayInputStream(json.getBytes("UTF-8")),
      new PrintStream(liftOut, true, "UTF-8"),
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    val decoded = {
      val b = ByteBuffer.wrap(liftOut.toByteArray)
      Iterator.continually(if (b.hasRemaining) Some(Msgpack.readValue(b))
        else None).takeWhile(_.isDefined).flatten.toSeq
    }
    assert(decoded == Seq(
      Vector("id" -> 1L, "name" -> "a", "score" -> 1.5),
      Vector("id" -> 2L, "name" -> "b", "score" -> null)))
    // lower: msgpack records -> JSON lines (round trip)
    val (code, lowered, _) = cli(List("lower", "--json"), liftOut.toByteArray)
    assert(code == 0)
    assert(lowered.linesIterator.toSeq == Seq(
      """{"id":1,"name":"a","score":1.5}""",
      """{"id":2,"name":"b","score":null}"""))
    // lower --text: one raw line per msgpack string
    val o = new ByteArrayOutputStream()
    Msgpack.writeValue(o, "hello")
    Msgpack.writeValue(o, "world")
    val (c2, text, _) = cli(List("lower", "--text"), o.toByteArray)
    assert(c2 == 0 && text.linesIterator.toSeq == Seq("hello", "world"))
    // --oneshot: whole stdin is ONE record
    val one = new ByteArrayOutputStream()
    assert(Main.execute(List("lift", "--json", "--oneshot"),
      new ByteArrayInputStream("""{"items": [1, 2, 3]}""".getBytes("UTF-8")),
      new PrintStream(one, true, "UTF-8"),
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    assert(Msgpack.readValue(ByteBuffer.wrap(one.toByteArray)) ==
      Vector("items" -> Vector(1L, 2L, 3L)))
  }

  test("lift routes a malformed line or an integer outside i64 by its mode") {
    def lift(mode: List[String], stdin: String): (Int, Array[Byte], String) = {
      val out = new ByteArrayOutputStream()
      val err = new ByteArrayOutputStream()
      val code = Main.exitCode(List("lift", "--json") ++ mode,
        new ByteArrayInputStream(stdin.getBytes("UTF-8")), new PrintStream(out),
        new PrintStream(err, true, "UTF-8"), Some(spark))
      (code, out.toByteArray, err.toString("UTF-8"))
    }
    val (c1, o1, e1) = lift(Nil, """{"x": 18446744073709551616}""")
    assert(c1 == 2 && o1.isEmpty)
    assert(e1.trim == "error: invalid input: range:_payload")
    val (c2, o2, e2) = lift(List("--warn"), Seq("""{"x": 1}""", "not json",
      """{"x": -18446744073709551616}""", """{"x": [2, 9223372036854775807]}""")
      .mkString("\n"))
    assert(c2 == 0, e2)
    assert(e2.linesIterator.toSeq == Seq(
      "warning: dropped record: malformed_json:_payload",
      "warning: dropped record: range:_payload"))
    val b = ByteBuffer.wrap(o2)
    assert(Msgpack.readValue(b) == Vector("x" -> 1L))
    assert(Msgpack.readValue(b) == Vector("x" -> Vector(2L, Long.MaxValue)))
    assert(!b.hasRemaining)
  }

  /** `graft.Main` in a fresh JVM on this classpath, with this JVM's
    * `--add-opens` flags: exit code, stdout, stderr. */
  private def fresh(jvmFlags: Seq[String], args: Seq[String],
                    stdin: String = ""): (Int, String, String) = {
    val jvm = new java.io.File(System.getProperty("java.home"), "bin/java")
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.zip(inherited.drop(1) :+ "").flatMap {
      case ("--add-opens", v) => Seq("--add-opens", v)
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val (in, out, err) = (tmpFile(".in", stdin), tmpFile(".out", ""), tmpFile(".err", ""))
    val p = new ProcessBuilder((Seq(jvm.getPath, "-Xmx1g") ++ opens ++ jvmFlags ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Main") ++ args): _*)
      .redirectInput(new java.io.File(in)).redirectOutput(new java.io.File(out))
      .redirectError(new java.io.File(err)).start()
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f)), "UTF-8")
    (p.waitFor(), read(out), read(err))
  }

  test("front-end output is UTF-8 whatever the platform charset") {
    val src = tmpFile(".us",
      "script \"a\";\ninput Str;\noutput Str;\nout \"ä\" + in;\n")
    val (code, out, err) = fresh(Seq("-Dfile.encoding=US-ASCII"), Seq("--dump-ast", src))
    assert(code == 0, err)
    assert(out.contains("\"ä\""), out)
  }

  test("an abort on the Spark leg prints only its runtime error line") {
    val in = tmpFile(".jsonl", """{"event_id": 2, "value": -1.0}""" + "\n")
    val (code, out, err) = fresh(Nil, Seq("--in", in, "examples/checked_effects.us"))
    assert(code == 1 && out.isEmpty)
    assert(err == "runtime error: negative value\n", err)
    // a log4j configuration file given to the JVM is kept
    val conf = tmpFile(".properties", Seq("rootLogger.level = error",
      "rootLogger.appenderRef.stderr.ref = stderr",
      "appender.console.type = Console", "appender.console.name = stderr",
      "appender.console.target = SYSTEM_ERR", "appender.console.layout.type = PatternLayout",
      "appender.console.layout.pattern = USERLOG %p %c{1}: %m%n").mkString("\n"))
    val (code2, _, err2) = fresh(Seq(s"-Dlog4j2.configurationFile=$conf"),
      Seq("--in", in, "examples/checked_effects.us"))
    assert(code2 == 1 && err2.contains("USERLOG ERROR Executor: Exception in task"), err2)
    assert(err2.endsWith("runtime error: negative value\n"), err2)
  }

  /** The classes `graft.Main` loads in a fresh JVM (`-Xlog:class+load`):
    * the class name and where it came from, per class. */
  private def classLoads(args: Seq[String], stdin: String, want: String)
      : Seq[(String, String)] = {
    val log = tmpFile(".log", "")
    val (code, out, err) = fresh(Seq(s"-Xlog:class+load:file=$log"), args, stdin)
    assert(code == 0 && out == want, s"$args: $err")
    val loads = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(log)), "UTF-8").linesIterator.collect {
      case ClassLoad(name, source) => (name, source)
    }.toSeq
    assert(loads.exists(_._1 == "graft.lang.Interp"), s"$args: no class-load log")
    loads
  }
  private val ClassLoad = """.*\] (\S+) source: (.*)""".r

  /** The jars the stdin pipe loads classes from, which build.sbt lists
    * first on the classpath. */
  private val PipeJar = """(scala-library|jackson-core|spark-common-utils|spark-sql-api)(_2\.13)?-\d.*\.jar""".r

  private val classpath = System.getProperty("java.class.path")
    .split(java.io.File.pathSeparator).toSeq.map(new java.io.File(_))

  private val pipeRuns = Seq(
    (Seq("examples/hello.us"), "\"world\"\n", "\"Hello, world\"\n"),
    (Seq("examples/filter_events.us"),
      """{"event_id": 1, "event_type": "click", "value": 80.5}""" + "\n",
      """{"event_id":1,"cat":"ui","boosted":161.0}""" + "\n"),
    (Seq("--mode", "dlq", "examples/checked_effects.us"),
      """{"event_id": 1, "value": 2.5}""" + "\n" + """{"event_id": 2, "value": -1.0}""" + "\n",
      """{"event_id":1,"score":25.0}""" + "\n"))

  test("the stdin pipe builds no Spark schema: no collation classes load") {
    // StringType's collation tables start ICU; a Spark schema needs them,
    // and so did choosing the tier of a Str `==`
    val eq = tmpFile(".us", "script \"eq\";\ninput {s: Str};\noutput {b: Bool};\n" +
      "out {b: in.s == \"x\"};\n")
    for ((args, stdin, want) <- pipeRuns.take(2) :+
        ((Seq(eq), """{"s": "x"}""" + "\n", """{"b":true}""" + "\n"))) {
      val loaded = classLoads(args, stdin, want).map(_._1)
      assert(!loaded.exists(n => n.startsWith("com.ibm.icu.") || n.contains("CollationFactory")),
        s"$args loaded collation classes")
    }
  }

  test("the stdin pipe loads classes only from graft, the JDK and the pipe's jars") {
    val classDirs = classpath.filter(_.isDirectory).map(_.toURI.toString).toSet
    for ((args, stdin, want) <- pipeRuns) {
      val loads = classLoads(args, stdin, want)
      val sources = loads.map(_._2).filter(_.startsWith("file:")).distinct
      val elsewhere = sources.filterNot { s =>
        classDirs(s) || PipeJar.matches(s.substring(s.lastIndexOf('/') + 1))
      }
      assert(elsewhere.isEmpty, s"$args")
      val unwanted = loads.map(_._1).filter(n =>
        n.startsWith("scala.util.parsing.") || n.startsWith("org.apache.logging."))
      assert(unwanted.isEmpty, s"$args")
    }
  }

  test("java.class.path lists the pipe's jars first, hiding nothing of a later jar") {
    val jars = classpath.filter(_.getName.endsWith(".jar"))
    def artifact(jar: java.io.File) = jar.getName.replaceAll("""(_2\.13)?-\d.*""", "")
    val heads = jars.takeWhile(j => PipeJar.matches(j.getName))
    assert(heads.map(artifact) ==
      Seq("scala-library", "jackson-core", "spark-common-utils", "spark-sql-api"))
    // the rest of their directory follows by name
    val dir = heads.head.getParentFile
    val rest = jars.drop(heads.size).filter(_.getParentFile == dir).map(_.getName)
    assert(rest.nonEmpty && rest == rest.sorted)
    // a head jar wins every class, service file and log4j plugin file it
    // holds: a later jar may hold the same class only byte for byte (the
    // managed scala-library copy, Spark's empty UnusedStubClass). Both
    // copies of a service file are read: Jackson's YAML module also
    // registers a JsonFactory, which nothing in the engine looks up.
    def entries(jar: java.io.File): Map[String, Long] = {
      val z = new java.util.zip.ZipFile(jar)
      try z.entries().asScala.filter { e =>
        val n = e.getName
        (n.endsWith(".class") && !n.endsWith("module-info.class")) ||
          (n.startsWith("META-INF/services/") && !e.isDirectory) ||
          n.endsWith("Log4j2Plugins.dat")
      }.map(e => e.getName -> e.getCrc).toMap finally z.close()
    }
    val headEntries = heads.map(entries)
    val clashes = for {
      later <- jars.drop(heads.size)
      laterEntries = entries(later)
      (head, held) <- heads.zip(headEntries)
      (name, crc) <- held if laterEntries.get(name).exists { c =>
        !(name.endsWith(".class") && c == crc)
      }
    } yield (artifact(head), artifact(later), name)
    assert(clashes == Seq(("jackson-core", "jackson-dataformat-yaml",
      "META-INF/services/com.fasterxml.jackson.core.JsonFactory")))
  }

  test("modules resolve from --libdir (and the script's own directory)") {
    val stdin = """{"doc_id": 1, "text": "cli"}""".getBytes("UTF-8")
    // explicit --libdir
    val (c1, out1, _) = cli(List("--libdir", "examples/lib",
      "examples/use_greet.us"), stdin)
    assert(c1 == 0)
    assert(out1.trim == """{"doc_id":1,"msg":"Hello, cli! :: "}""")
    // script-directory resolution alone does NOT find examples/lib —
    // the module must be looked up where the user said it lives
    val thrown = intercept[Exception] {
      cli(List("examples/use_greet.us"), stdin)
    }
    assert(thrown.getMessage.contains("greet"))
  }

  test("the README pipe shape: lift --oneshot | render script | lower --text") {
    val json = """{"doc_id": 7, "text": "a <b> & c"}""".getBytes("UTF-8")
    val lifted = new ByteArrayOutputStream()
    assert(Main.execute(List("lift", "--json", "--oneshot"),
      new ByteArrayInputStream(json), new PrintStream(lifted, true, "UTF-8"),
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    val ran = new ByteArrayOutputStream()
    assert(Main.execute(List("--format", "msgpack", "--libdir", "examples/lib",
      "examples/render_doc.us"),
      new ByteArrayInputStream(lifted.toByteArray),
      new PrintStream(ran, true, "UTF-8"),
      new PrintStream(new ByteArrayOutputStream()), Some(spark)) == 0)
    val (code, text, _) = cli(List("lower", "--text"), ran.toByteArray)
    assert(code == 0)
    assert(text.trim == """<div id="doc-7">a &lt;b&gt; &amp; c</div>""")
  }

  test("lift --schema validates against a script's declared input") {
    val stdin =
      """{"event_id": 1, "event_type": "click", "value": 80.5}
        |{"event_id": "oops", "event_type": "view", "value": 1.0}
        |""".stripMargin.getBytes("UTF-8")
    def liftRaw(extra: List[String]): (Int, Array[Byte], String) = {
      val out = new ByteArrayOutputStream()
      val err = new ByteArrayOutputStream()
      val code =
        try Main.execute(List("lift", "--json", "--schema",
          "examples/filter_events.us") ++ extra,
          new ByteArrayInputStream(stdin),
          new PrintStream(out, true, "UTF-8"),
          new PrintStream(err, true, "UTF-8"), Some(spark))
        catch { case e: Main.CliError => 2 }
      (code, out.toByteArray, err.toString("UTF-8"))
    }
    // --warn: bad record dropped noisily, the good one lifts
    val (c1, out1, err1) = liftRaw(List("--warn"))
    assert(c1 == 0)
    assert(err1.contains("warning") && err1.contains("event_id"))
    val b = ByteBuffer.wrap(out1)
    assert(Msgpack.readValue(b) == Vector("event_id" -> 1L,
      "event_type" -> "click", "value" -> 80.5))
    assert(!b.hasRemaining) // exactly one record survived
    // --reject (the default): abort on the invalid record
    val (c2, _, _) = liftRaw(Nil)
    assert(c2 != 0)
    // --ignore: silent drop
    val (c3, _, err3) = liftRaw(List("--ignore"))
    assert(c3 == 0 && err3.isEmpty)
  }

  test("--in/--out paths keep the parallel file legs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli").toFile
    val inFile = new java.io.File(dir, "events.jsonl")
    val w = new java.io.PrintWriter(inFile, "UTF-8")
    try {
      w.println("""{"event_id": 1, "event_type": "click", "value": 80.5}""")
      w.println("""{"event_id": 2, "event_type": "view", "value": 10.0}""")
    } finally w.close()
    val outDir = new java.io.File(dir, "out")
    val (code, _, _) = cli(List("--in", inFile.getPath,
      "--out", outDir.getPath, "examples/filter_events.us"))
    assert(code == 0)
    val produced = spark.read.text(outDir.getPath).collect().map(_.getString(0))
    assert(produced.toSeq == Seq("""{"event_id":1,"cat":"ui","boosted":161.0}"""))
  }
}
