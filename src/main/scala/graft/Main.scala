package graft

import java.io.{ByteArrayOutputStream, InputStream, PrintStream}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import graft.kernel.UdException
import graft.lang.Ast._
import graft.lang.{Interp, UdParser, UdScript}
import graft.lang.Values.Value
import graft.sources.{JsonRecords, LineBuffer, Msgpack, ValidatedIngest}
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.{Encoders, Row, SparkSession}

/** The command-line driver — the reference's front door
  * (reference src/main.rs:51-62: `--dump-expr`, `--dump-ast path`,
  * `--compile path`, bare `path` = run with records on stdin).
  *
  * `run` is the unix-filter deployment shape (HACKING.md:136-140): records
  * in on stdin, records out on stdout, JSON-lines or msgpack framing. A
  * pipe is one stream, so with neither `--in` nor `--out` the script runs
  * in this thread with no SparkSession, through `Interp` whatever its
  * lowering tier. JSON lines run on interpreter values: each line decodes
  * straight into the input value (the values and invalid reasons of the
  * Spark sources), and the outputs are written under the declared output
  * type in the bytes `to_json` gives, with no Spark row or schema built.
  * They stream in constant memory. msgpack stdin is read whole, then
  * decoded one record at a time into the same input values, and runs the
  * same loop; its outputs are written in the msgpack sink's bytes.
  * `--in`/`--out` paths are the parallel file legs a cluster job uses:
  * they plan the script on Spark, and `--cores` applies to them only.
  *
  * Usage:
  *   graft.Main --dump-expr                     REPL: parse one expression per line
  *   graft.Main --dump-ast  <script.us>         print the parsed AST
  *   graft.Main --compile   <script.us>         print tier + IO schemas + decls
  *   graft.Main [opts] <script.us>              run records stdin -> stdout
  * Run options:
  *   --format json|msgpack   wire framing (default json)
  *   --in PATH               read records from a file/dir instead of stdin
  *   --out PATH              write records to a dir instead of stdout
  *   --mode abort|skip|dlq   invalid-record handling (default abort;
  *                           dlq routes bad records to stderr)
  *   --libdir DIR            module resolution directory (repeatable)
  *   --cores N               local parallelism of --in/--out runs (default 4)
  *
  * Exit codes: 0 ok, 1 runtime error (an invalid record in abort mode or
  * a script's `throw` outside dlq mode), 2 usage error, 3 compile error.
  */
object Main {

  final case class CliError(msg: String) extends RuntimeException(msg)

  /** A record stopped the run: its invalid reason in abort mode, or the
    * message of the script's `throw`. */
  final case class RunError(reason: String) extends RuntimeException(reason)

  def main(args: Array[String]): Unit = {
    // every line the CLI prints is UTF-8, whatever the platform charset
    def utf8(s: PrintStream) = new PrintStream(s, true, StandardCharsets.UTF_8)
    val code = exitCode(args.toList, System.in, utf8(System.out),
      utf8(System.err), None)
    if (code != 0) sys.exit(code)
  }

  /** `execute` with every failure mapped to its one stderr line and exit
    * code — what `main` runs. */
  def exitCode(args: List[String], in: InputStream, out: PrintStream,
               err: PrintStream, session: Option[SparkSession]): Int =
    try execute(args, in, out, err, session)
    catch {
      case e: CliError => err.println(s"error: ${e.msg}"); 2
      case e: UdScript.CompileError =>
        err.println(s"compile error: ${e.getMessage}"); 3
      case e: RunError => err.println(s"runtime error: ${e.reason}"); 1
      case e: SparkException => err.println(s"runtime error: ${e.getMessage}"); 1
    }

  /** Testable core: explicit streams, optional externally-owned session
    * (used by `--compile` and the `--in`/`--out` legs only). When
    * `session` is None and one is needed, a local session is created (and
    * NOT stopped: the JVM exits right after, and getOrCreate may have
    * returned a shared session we don't own). */
  def execute(args: List[String], in: InputStream, out: PrintStream,
              err: PrintStream, session: Option[SparkSession]): Int =
    args match {
      case "--dump-expr" :: Nil => dumpExpr(in, out); 0
      case "lift" :: rest  => lift(rest, in, out, err); 0
      case "lower" :: rest => lower(rest, in, out); 0
      case "--dump-ast" :: path :: Nil =>
        UdParser.parse(readFile(path)) match {
          case Right(s) => out.println(pretty(s)); 0
          case Left(m)  => err.println(s"parse error: $m"); 3
        }
      case "--compile" :: path :: Nil =>
        val c = compileFile(path, Nil)
        out.println(s"tier: ${c.tier}")
        out.println(s"input schema:  ${c.inputSchema.simpleString}")
        out.println(s"output schema: ${c.outputSchema.simpleString}")
        // the engine's IR is the lowered Spark plan: compile the script
        // against an empty frame of the declared input and dump it
        session.orElse(Some(SparkLeg.session(2))).foreach { s =>
          val empty = s.createDataFrame(
            new java.util.ArrayList[Row](), c.inputSchema)
          // analyzed (not optimized): an empty input constant-folds to
          // nothing, and the point is to show the lowering structure
          out.println(c.run(empty).queryExecution.analyzed.toString)
        }
        out.println(pretty(c.script))
        0
      case rest =>
        val (opts, pos) = parseOpts(rest)
        pos match {
          case script :: Nil =>
            val c = compileFile(script, opts.libDirs)
            if (opts.inPath.isEmpty && opts.outPath.isEmpty)
              runLocal(c, opts, in, out, err)
            else runSpark(c, opts, in, out, err, session)
            0
          case _ => err.println(usage); 2
        }
    }

  private val usage: String =
    "usage: graft.Main [--dump-expr | --dump-ast F | --compile F | " +
      "lift --json [--oneshot] [--schema F [--reject|--ignore|--warn]] | " +
      "lower --json|--text | " +
      "[--format json|msgpack] [--in PATH] [--out PATH] " +
      "[--mode abort|skip|dlq] [--libdir DIR]... [--cores N] F]"

  final case class Opts(format: String = "json", inPath: Option[String] = None,
                        outPath: Option[String] = None, mode: String = "abort",
                        libDirs: Seq[String] = Nil, cores: Int = 4)

  private def parseOpts(args: List[String]): (Opts, List[String]) = {
    def loop(rest: List[String], o: Opts, pos: List[String]): (Opts, List[String]) =
      rest match {
        case "--format" :: v :: t =>
          if (v != "json" && v != "msgpack") throw CliError(s"bad --format $v")
          loop(t, o.copy(format = v), pos)
        case "--in" :: v :: t     => loop(t, o.copy(inPath = Some(v)), pos)
        case "--out" :: v :: t    => loop(t, o.copy(outPath = Some(v)), pos)
        case "--mode" :: v :: t =>
          // manual.md:48-49 names ignore/warn; ignore = silently skip,
          // warn = dlq (bad records surface on stderr)
          val norm = v match {
            case "ignore" => "skip"
            case "warn"   => "dlq"
            case other    => other
          }
          if (!Set("abort", "skip", "dlq")(norm))
            throw CliError(s"bad --mode $v")
          loop(t, o.copy(mode = norm), pos)
        case "--libdir" :: v :: t => loop(t, o.copy(libDirs = o.libDirs :+ v), pos)
        case "--cores" :: v :: t  => loop(t, o.copy(cores = v.toInt), pos)
        case f :: t if f.startsWith("--") => throw CliError(s"unknown flag $f")
        case f :: t               => loop(t, o, pos :+ f)
        case Nil                  => (o, pos)
      }
    loop(args, Opts(), Nil)
  }

  // ---- lift / lower: the reference's wire-format converters ----
  // (README.md:269-273: `udlift --json --oneshot | udlang todo.md |
  // udlower --text`). Pure stream filters — no Spark session: JSON in,
  // msgpack records out (lift); msgpack in, JSON lines or raw text out
  // (lower). `--oneshot` treats the whole stdin as ONE record.

  private def lift(opts: List[String], in: InputStream, out: PrintStream,
                   err: PrintStream): Unit = {
    if (!opts.contains("--json"))
      throw CliError("lift supports --json [--oneshot] " +
        "[--schema F [--reject|--ignore|--warn]]")
    // --schema F: validate each record against F's declared input record
    // (README.md:298-302): --reject aborts, --ignore drops silently,
    // --warn drops noisily on stderr. Default without --schema: lift
    // whatever arrives (shape deduced from the JSON itself).
    val declared: Option[TRecord] =
      opts.sliding(2).collectFirst { case List("--schema", f) => f }
        .map { f =>
          compileFile(f, Nil).script.input match {
            case r: TRecord => r
            case other => throw CliError(s"--schema input is not a record: $other")
          }
        }
    val mode =
      if (opts.contains("--reject")) "reject"
      else if (opts.contains("--ignore")) "ignore"
      else if (opts.contains("--warn")) "warn"
      else "reject" // type-safe by default (README.md:295-296)
    def drop(reason: String): Unit = mode match {
      case "reject" => throw CliError(s"invalid input: $reason")
      case "ignore" => ()
      case "warn"   => err.println(s"warning: dropped record: $reason")
    }
    val decoder = declared.map(new Msgpack.Decoder(_))
    val o = new java.io.BufferedOutputStream(out, 1 << 16)
    // the run path's parser: a malformed payload or an integer outside
    // i64 is an invalid record, routed like a --schema mismatch
    def encode(text: String): Unit =
      JsonRecords.parseOrNull(text) match {
        case null => drop("malformed_json:_payload")
        case tree => wireValue(tree) match {
          case None => drop("range:_payload")
          case Some(v) =>
            val buf = new ByteArrayOutputStream()
            Msgpack.writeValue(buf, v)
            val bytes = buf.toByteArray
            // --schema: decode-validate through the SAME decoder the
            // engine's msgpack source uses
            val reason = decoder.flatMap(_.records(bytes).next().left.toOption.map(_._1))
            reason.fold(o.write(bytes))(drop)
        }
      }
    if (opts.contains("--oneshot"))
      encode(new String(in.readAllBytes(), StandardCharsets.UTF_8))
    else {
      val sc = new java.util.Scanner(in, "UTF-8")
      while (sc.hasNextLine) {
        val line = sc.nextLine()
        if (line.trim.nonEmpty) encode(line)
      }
    }
    o.flush()
  }

  /** A parsed JSON tree as msgpack values; None when it holds an integer
    * outside i64, which the msgpack run path cannot read back. */
  private def wireValue(n: Any): Option[Any] = n match {
    case JsonRecords.JsonNull    => Some(null)
    case _: java.math.BigInteger => None
    case xs: Vector[_] =>
      val vs = xs.map(wireValue)
      Option.when(vs.forall(_.isDefined))(vs.map(_.get))
    case m: java.util.LinkedHashMap[_, _] =>
      val vs = m.asScala.toVector.map { case (k, x) => wireValue(x).map(k.toString -> _) }
      Option.when(vs.forall(_.isDefined))(VectorMap.from(vs.map(_.get)))
    case x => Some(x)
  }

  private def lower(opts: List[String], in: InputStream,
                    out: PrintStream): Unit = {
    val asText = opts.contains("--text")
    if (!asText && !opts.contains("--json"))
      throw CliError("lower supports --json | --text")
    val buf = java.nio.ByteBuffer.wrap(in.readAllBytes())
    val text = new LineBuffer(out)
    while (buf.hasRemaining) {
      text += (Msgpack.readValue(buf) match {
        case s: String if asText => s
        case v => JsonRecords.render(v, null)
      })
    }
    text.flush()
  }

  // ---- subcommands ----

  private def dumpExpr(in: InputStream, out: PrintStream): Unit = {
    val sc = new java.util.Scanner(in, "UTF-8")
    while (sc.hasNextLine) {
      val line = sc.nextLine()
      if (line.trim.nonEmpty)
        out.println(UdParser.parseExprStr(line)
          .fold(m => s"error: $m", e => pretty(e)))
    }
  }

  /** Does the script emit bare wire values rather than records? */
  private def scalarOut(c: UdScript.Compiled): Boolean =
    !c.script.output.isInstanceOf[TRecord] && !c.script.output.isInstanceOf[TTuple]

  /** stdin → stdout in this thread, with no session. In dlq mode a
    * `throw` sends the input row's cells and its message to stderr, as
    * `runEither` does. */
  private def runLocal(c: UdScript.Compiled, opts: Opts, in: InputStream,
                       out: PrintStream, err: PrintStream): Unit = {
    val dlq = new LineBuffer(err)
    try {
      if (opts.format == "msgpack") msgpackPipe(c, opts, in, out, dlq)
      else jsonPipe(c, opts, in, out, dlq)
    } finally dlq.flush()
  }

  /** JSON lines, decoded one line at a time; the outputs are written
    * under the declared output type, with no Spark row or schema. */
  private def jsonPipe(c: UdScript.Compiled, opts: Opts, in: InputStream,
                       out: PrintStream, dlq: LineBuffer): Unit = {
    val decode = c.script.input match {
      case rec: TRecord => JsonRecords.lineDecoder(rec)
      case scalar       => JsonRecords.scalarDecoder(scalar)
    }
    val lines = new JsonRecords.JsonLines(new LineBuffer(out), c.script.output)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
    val records = Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .map(line => decode(line) match {
        case Left(reason) => Left((reason, line + "\t" + reason))
        case Right(v) => Right(v)
      })
    try pipe(c, opts, dlq, records, decode.cells, () => decode.outOfRange, lines.write)
    finally lines.flush()
  }

  /** msgpack records, decoded one at a time from the whole of stdin; each
    * output is written as the msgpack sink writes its row. */
  private def msgpackPipe(c: UdScript.Compiled, opts: Opts, in: InputStream,
                          out: PrintStream, dlq: LineBuffer): Unit = {
    val decoder = c.script.input match {
      case rec: TRecord => new Msgpack.Decoder(rec)
      case _ =>
        throw CliError("scalar input requires --format json (one JSON value per line)")
    }
    val records = decoder.records(in.readAllBytes()).map(_.left.map {
      case (reason, v) => (reason, decoder.cells(v) + "\t" + reason)
    })
    val bytes = new java.io.BufferedOutputStream(out, 1 << 16)
    // a record's outputs are encoded whole before any is written
    val write: Iterable[Value] => Unit = vs => writeMsgpack(c, bytes,
      vs.map(UdScript.valueToRow(_, c.script.output, c.outputSchema)).toList.iterator)
    try pipe(c, opts, dlq, records, decoder.cells, () => null, write)
    finally bytes.flush()
  }

  /** Output rows as the msgpack sink writes them: a record as a map, a
    * scalar output as its bare value. */
  private def writeMsgpack(c: UdScript.Compiled, o: java.io.OutputStream,
                           rows: Iterator[Row]): Unit =
    if (scalarOut(c)) rows.foreach(r => Msgpack.writeValue(o, r.get(0)))
    else Msgpack.writeRows(o, c.outputSchema.fieldNames.toSeq, rows)

  /** The pipe's loop over decoded records: a record is its input value, or
    * its invalid reason and DLQ line, which abort stops the run on, skip
    * drops and dlq prints. `cells` are a thrown record's DLQ cells;
    * `stopped`, after a value, is why the record stops before it runs (a
    * nested sized int out of range), or null. */
  private def pipe(c: UdScript.Compiled, opts: Opts, dlq: LineBuffer,
                   records: Iterator[Either[(String, String), Value]],
                   cells: Value => String, stopped: () => String,
                   write: Iterable[Value] => Unit): Unit = {
    val interp = new Interp(c.script, c.libs)
    interp.initEnv
    val outputs = scala.collection.mutable.ArrayBuffer.empty[Value]
    def thrown(v: Value, message: String): Unit =
      if (opts.mode == "dlq") dlq += cells(v) + "\t" + message
      else throw RunError(message)
    records.foreach {
      case Left((reason, _)) if opts.mode == "abort" => throw RunError(reason)
      case Left((_, line)) => if (opts.mode == "dlq") dlq += line
      case Right(v) if stopped() != null => thrown(v, stopped())
      case Right(v) =>
        outputs.clear()
        try { interp.run(v, outputs += _); write(outputs) }
        catch { case e: UdException => thrown(v, e.message) }
    }
  }

  /** The message a Spark run failed on: a `raise_error` of an invalid
    * record in abort mode, or a script's `throw`, wherever it sits in the
    * cause chain. */
  private def recordFailure(e: Throwable): Option[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case u: UdException => u.message
      case t: SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" =>
        t.getMessageParameters.get("errorMessage")
    }

  /** The `--in`/`--out` legs: the script planned on Spark. With `--out`
    * alone, stdin is read as an `--in FILE` is, through the Spark
    * sources. */
  private def runSpark(c: UdScript.Compiled, opts: Opts, in: InputStream,
                       out: PrintStream, err: PrintStream,
                       session: Option[SparkSession]): Unit = {
    val s = session.getOrElse(SparkLeg.session(opts.cores))
    val mode = opts.mode match {
      case "abort" => ValidatedIngest.Abort
      case "skip"  => ValidatedIngest.Skip
      case "dlq"   => ValidatedIngest.Dlq
    }
    try {
      val validated = (c.script.input, opts.format) match {
        case (rec: TRecord, "msgpack") => opts.inPath match {
          case Some(p) => Msgpack.read(s, p, rec, mode)
          case None => Msgpack.ingest(
            s.createDataset(Seq(in.readAllBytes()))(Encoders.BINARY), rec, mode)
        }
        case (_, "msgpack") =>
          throw CliError("scalar input requires --format json (one JSON value per line)")
        case (input, _) =>
          val lines = opts.inPath.fold {
            val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(
              in, StandardCharsets.UTF_8)).lines().iterator().asScala.toList
            s.createDataset(stdin)(Encoders.STRING)
          }(p => s.read.textFile(p))
          input match {
            case rec: TRecord => JsonRecords.read(s, lines, rec, mode)
            case scalar       => JsonRecords.readScalar(s, lines, scalar, mode)
          }
      }
      val dlq = new LineBuffer(err)
      val text = new LineBuffer(out)
      if (opts.mode == "dlq")
        validated.bad.toLocalIterator().asScala.foreach(r => dlq += r.mkString("\t"))
      // --mode dlq also routes RUNTIME throws (the udmonad dead-letter
      // posture): a record whose kernel evaluation throws lands on stderr
      // with its input row + message, clean records keep flowing. In
      // abort/skip modes a throw keeps its fail-the-run semantics.
      val result =
        if (opts.mode == "dlq") {
          val (good, dead) = c.runEither(validated.good)
          dead.toLocalIterator().asScala.foreach(r => dlq += r.mkString("\t"))
          good
        } else c.run(validated.good)
      dlq.flush()
      val rows = () => result.toLocalIterator().asScala
      opts.outPath match {
        case Some(p) if opts.format == "msgpack" => Msgpack.write(result, p)
        case Some(p) => // same replace semantics as the msgpack sink
          JsonRecords.toJsonLines(result).write.mode("overwrite").text(p)
        case None if opts.format == "msgpack" =>
          val buffered = new java.io.BufferedOutputStream(out, 1 << 16)
          writeMsgpack(c, buffered, rows())
          buffered.flush()
        case None if scalarOut(c) =>
          val dt = c.outputSchema.fields(0).dataType
          rows().foreach(r => text += JsonRecords.render(r.get(0), dt))
        case None =>
          JsonRecords.toJsonLines(result).toLocalIterator().asScala.foreach(text += _)
      }
      text.flush()
    } catch {
      case e: Exception if recordFailure(e).isDefined =>
        throw RunError(recordFailure(e).get)
    }
  }

  // ---- helpers ----

  private def readFile(path: String): String = {
    val f = new java.io.File(path)
    if (!f.exists()) throw CliError(s"no such file: $path")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  private def compileFile(path: String, libDirs: Seq[String]): UdScript.Compiled = {
    // modules resolve relative to the script's own directory first,
    // matching the reference's file-relative import story
    val parentDir = Option(new java.io.File(path).getAbsoluteFile.getParent)
    UdScript.compile(readFile(path),
      libraryDirs = libDirs ++ parentDir.toSeq)
  }

  /** Indented one-node-per-line AST rendering (case-class product walk) —
    * the moral equivalent of the reference's {:#?} debug formatting. */
  def pretty(x: Any, indent: Int = 0): String = {
    val pad = "  " * indent
    x match {
      case s: String => pad + "\"" + s + "\""
      case xs: Seq[_] if xs.isEmpty => pad + "[]"
      case xs: Seq[_] =>
        pad + "[\n" + xs.map(pretty(_, indent + 1)).mkString(",\n") + s"\n$pad]"
      case p: Product if p.productArity == 0 => pad + p.productPrefix
      case p: Product =>
        val kids = p.productIterator.map(pretty(_, indent + 1)).mkString(",\n")
        pad + p.productPrefix + "(\n" + kids + s"\n$pad)"
      case other => pad + String.valueOf(other)
    }
  }
}

/** The `--compile`, `--in` and `--out` legs' session, apart from `Main`:
  * log4j's classes load only when a run needs a session, not when `Main`
  * is loaded for the stdin pipe. */
private object SparkLeg {
  /** The session a `--compile`, `--in` or `--out` run starts for itself.
    * Unless a log4j configuration file is given (the system property
    * `log4j2.configurationFile` or `log4j.configurationFile`, or
    * `LOG4J_CONFIGURATION_FILE`), its log shows errors only, and none
    * from the executor or the task scheduler: a run that fails reports it
    * as its one `runtime error:` line with the failure's message, so the
    * stack trace of any executor error, a script's `throw` or not, is not
    * printed. A session passed in keeps its own logging. */
  def session(cores: Int): SparkSession = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.Configurator
    import org.apache.logging.log4j.core.config.builder.api.ConfigurationBuilderFactory
    def quiet() = {
      val b = ConfigurationBuilderFactory.newConfigurationBuilder()
      b.add(b.newAppender("stderr", "Console").addAttribute("target", "SYSTEM_ERR")
        .add(b.newLayout("PatternLayout")
          .addAttribute("pattern", "%d{yy/MM/dd HH:mm:ss} %p %c{1}: %m%n%ex")))
      b.add(b.newRootLogger(Level.ERROR).add(b.newAppenderRef("stderr")))
      Seq("org.apache.spark.executor.Executor",
        "org.apache.spark.scheduler.TaskSetManager").foreach { name =>
        b.add(b.newLogger(name, Level.OFF))
      }
      b.build()
    }
    val configured = sys.env.contains("LOG4J_CONFIGURATION_FILE") ||
      Seq("log4j2.configurationFile", "log4j.configurationFile").exists(sys.props.contains)
    // Spark loads its own INFO profile unless both the class loader's
    // context and the current one are configured
    if (!configured) {
      Configurator.reconfigure(quiet())
      LogManager.getContext().asInstanceOf[LoggerContext].reconfigure(quiet())
    }
    GraftSession.local(cores)
  }
}
