package perfbench

import java.io.{File, FileInputStream, FileOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Main, SparkEntry}
import graft.kernel.UdException
import graft.lang.{Interp, Typechecker, UdParser, UdScript, Values}
import graft.lang.Ast.TRecord
import graft.sources.{JsonRecords, ValidatedIngest}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One fresh JVM of the benchmark. `run.py` starts it with private
  * artifact, scratch, checkpoint and working directories, and reads back
  * the JSON file it writes. Every layer is timed from outside, around
  * calls into graft's public functions.
  *
  *   mode=entries    time SparkEntry queries (one cold call each, in the
  *                   order given) and write each output as parquet for the
  *                   oracle check
  *   mode=cli-probe  time the CLI's layers one by one: front end,
  *                   interpreter, session start, JSON decode, Main.execute
  *   mode=oracle-sql list SparkEntry.oracleSql for the given entries
  *
  * Arguments are key=value pairs. */
object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val result = kv("mode") match {
      case "entries"   => entries(kv)
      case "cli-probe" => cliProbe(kv)
      case "oracle-sql" =>
        val oracle = SparkEntry.oracleSql
        kv("entries").split(",").flatMap(n => oracle.get(n).map(n -> _)).toMap
    }
    Files.writeString(Paths.get(kv("out")), Json(result))
    sys.exit(0)
  }

  private def session(cores: Int): SparkSession = {
    // spark.local.dir, warehouse and checkpoint roots arrive as -Dspark.*
    val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def secs(us: Long): Double = us / 1e6

  /** Total length covered by a set of [start, end) intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) covered += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) covered += curE - curS
    covered
  }

  /** Warm-up that runs no timed entry: a shuffle, a parquet read, the
    * cache path, a parquet write, then the given sibling entries over the
    * smallest tables, which load the classes and generate the code that
    * the timed entries share with them. */
  private def warmUp(spark: SparkSession, sf: String, run: String,
                     entries: Seq[String], entrySf: String): Unit = {
    spark.range(200000).selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()
    spark.read.parquet(s"$sf/events.parquet").count()
    val tiny = spark.range(1000).toDF("i").persist()
    tiny.count(); tiny.unpersist(true)
    spark.range(1000).write.mode("overwrite").parquet(s"$run/warm/write")
    entries.foreach { name =>
      SparkEntry.queries(name)(spark, entrySf).write.mode("overwrite")
        .parquet(s"$run/warm/$name")
      spark.catalog.clearCache()
    }
    System.gc()
  }

  private def batchRows(streams: StreamListener): Seq[Map[String, Any]] =
    streams.batches.toSeq.map(b => Map("query" -> b.query, "batch" -> b.batchId,
      "end_ms" -> b.endMs, "rows" -> b.rows, "durations_ms" -> b.durations,
      "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes))

  /** Scan the private artifact root: top-level keys, files, megabytes. */
  private def storeScan(root: String): Map[String, Double] = {
    val dir = new File(root)
    val keys = Option(dir.listFiles()).map(_.count(!_.getName.startsWith("."))).getOrElse(0)
    var files, bytes = 0L
    if (dir.exists()) Files.walk(dir.toPath).iterator().asScala
      .filter(p => Files.isRegularFile(p)).foreach { p => files += 1; bytes += Files.size(p) }
    Map("store.keys" -> keys.toDouble, "store.files" -> files.toDouble,
      "store.mb" -> bytes / 1048576.0)
  }

  private def entries(kv: Map[String, String]): Map[String, Any] = {
    val trace = kv("trace") == "1"
    val run = kv("run")
    val sf = kv("sf")
    val names = kv("entries").split(",").toSeq.filter(_.nonEmpty)
    val spans = new Spans(kv("run_id"))
    val root = spans.reserve()
    val s0 = Clock.us()
    val spark = session(kv("cores").toInt)
    val sessionUs = Clock.us() - s0
    val exec = if (trace) Some(new ExecListener) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    warmUp(spark, sf, run, kv("warm_entries").split(",").toSeq.filter(_.nonEmpty),
      kv("warm_sf"))
    PerfbenchBridge.drainListeners(spark.sparkContext)
    // registered after the warm-up, so its micro-batches are not counted
    val streams = new StreamListener
    spark.streams.addListener(streams)
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val artifactRoot = graft.sinks.ArtifactStore.root
    val execBefore = exec.map(_.counters).getOrElse(Map.empty)
    // the uDLang scripts the entries compile (listed by the untraced pass),
    // through the front end cold, outside the timed region; strict = false
    // keys the compile cache apart, so neither this compile nor the
    // entry's own is a cache hit
    val front = if (trace) kv.get("ud_sources").toSeq.flatMap(readSources).map { src =>
      frontEnd(spans, "entry script", src)(UdScript.compile(src, strict = false))
    } else Nil

    val firstCallUs = Clock.us()
    val rows = names.map { name =>
      val entry = spans.reserve()
      val phase = mutable.LinkedHashMap.empty[String, Double]
      val phaseSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
      def timed[T](p: String, layer: String)(body: => T): T = {
        val t0 = Clock.us()
        val r = body
        val t1 = Clock.us()
        phase(p) = secs(t1 - t0)
        if (trace) phaseSpans += ((spans.add(p, layer, entry, t0, t1), t0, t1))
        r
      }
      var error: String = null
      val (gc0, jit0, cpu0) = (Jvm.gcMs, Jvm.jitMs, Jvm.cpuNs)
      val t0 = Clock.us()
      val tracker = mutable.Map.empty[String, Double]
      try {
        val fn = registry.getOrElse(name, throw new NoSuchElementException(s"no entry $name"))
        val df = timed("build", "entry")(fn(spark, sf))
        if (trace) {
          val qe = df.queryExecution
          timed("analyze", "catalyst")(qe.analyzed)
          timed("optimize", "catalyst")(qe.optimizedPlan)
          // executedPlan, not toRdd: with AQE, toRdd already runs the
          // query stages
          timed("plan", "catalyst")(qe.executedPlan)
          qe.tracker.phases.foreach { case (k, v) => tracker(k) = v.durationMs.toDouble }
        }
        timed("execute", "exec")(df.write.mode("overwrite").parquet(s"$run/out/$name"))
      } catch {
        case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      val t1 = Clock.us()
      val (gc1, jit1, cpu1) = (Jvm.gcMs, Jvm.jitMs, Jvm.cpuNs)
      val row = mutable.LinkedHashMap[String, Any]("name" -> name, "wall_s" -> secs(t1 - t0),
        "cpu_s" -> (cpu1 - cpu0) / 1e9, "gc_s" -> (gc1 - gc0) / 1e3,
        "jit_s" -> (jit1 - jit0) / 1e3, "ok" -> (error == null), "error" -> error) ++
        phase.map { case (k, v) => s"${k}_s" -> v }
      if (trace) {
        PerfbenchBridge.drainListeners(spark.sparkContext)
        val jobs = exec.get.jobsBetween(t0 / 1000, t1 / 1000)
        // a job's parent is the phase (build, plan, execute) it started in
        jobs.foreach { j =>
          val parent = phaseSpans.find { case (_, s, e) => j.startMs * 1000 >= s / 1000 * 1000 &&
            j.startMs * 1000 <= e }.map(_._1).getOrElse(entry)
          spans.add(s"job ${j.id}", "job", parent, j.startMs * 1000, j.endMs * 1000)
        }
        val busy = union(jobs.map(j => (j.startMs * 1000, j.endMs * 1000)))
        row ++= Seq("jobs" -> jobs.size, "busy_s" -> secs(busy),
          "gap_s" -> secs(math.max(0L, (t1 - t0) - busy)),
          "tracker_ms" -> tracker.toMap) ++ storeScan(artifactRoot)
        spans.record(entry, name, "entry", root, t0, t1)
      }
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      System.gc()
      row.toMap
    }
    val endUs = Clock.us()
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val batches = streams.batches.toSeq
    val result = mutable.LinkedHashMap[String, Any](
      "first_call_us" -> firstCallUs,
      "session_s" -> secs(sessionUs), "rows" -> rows,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "batches" -> batchRows(streams))
    if (trace) {
      spans.record(root, kv("workload"), "workload", 0, firstCallUs, endUs)
      batches.foreach { b =>
        val dur = b.durations.getOrElse("triggerExecution", 0L)
        spans.add(s"batch ${b.query}#${b.batchId}", "microbatch", root,
          (b.endMs - dur) * 1000, b.endMs * 1000, Map("rows" -> b.rows))
      }
      val after = exec.get.counters
      result ++= Seq(
        "exec" -> after.map { case (k, v) => k -> (v - execBefore.getOrElse(k, 0.0)) },
        "store" -> storeScan(artifactRoot),
        "jvm" -> Map("jvm.code_heap_mb" -> Jvm.codeHeapMb),
        "front" -> front.map(_._1))
      // the kernel-tier scripts over their table's records, after the
      // entries so that it does not warm the code they time
      val kernels = front.map(_._2).filter(_.tier == UdScript.KernelTier)
      val records = kernels.flatMap { c =>
        tableRecords(spark, sf, c, kv("interp_records").toInt).map(c -> _)
      }
      result ++= interpOver(spans, records) + ("spans" -> spans.all.toSeq)
    }
    // every script the entries compiled, for the traced pass's front end
    result("ud_sources") = compiledSources
    spark.stop()
    result.toMap
  }

  /** Time parse, typecheck and `compile` of one script; its tier. */
  private def frontEnd(spans: Spans, label: String, src: String)(
      compile: => UdScript.Compiled): (Map[String, Any], UdScript.Compiled) = {
    val (ast, parseSpan) = spans.time(s"parse $label", "lang", 0) {
      UdParser.parse(src).fold(m => throw new IllegalStateException(m), identity)
    }
    val (_, checkSpan) = spans.time(s"typecheck $label", "lang", 0)(Typechecker.check(ast))
    val (c, compileSpan) = spans.time(s"compile $label", "lang", 0)(compile)
    val tier = c.tier match {
      case UdScript.ColumnTier  => "column"
      case UdScript.KernelTier  => "kernel"
      case _: UdScript.LoopTier => "loop"
    }
    Map("script" -> label, "tier" -> tier,
      "parse_ms" -> spans.ms(parseSpan), "typecheck_ms" -> spans.ms(checkSpan),
      "compile_ms" -> spans.ms(compileSpan)) -> c
  }

  /** Run each script's interpreter over its records on this one thread. */
  private def interpOver(spans: Spans,
                         work: Seq[(UdScript.Compiled, Seq[Values.Value])]): Map[String, Any] = {
    var emitted, thrown = 0L
    var us = 0L
    work.foreach { case (c, values) =>
      val interp = new Interp(c.script, c.libs)
      interp.initEnv
      val (_, span) = spans.time("interp", "lang.interp", 0) {
        values.foreach { v =>
          try interp.run(v, _ => emitted += 1) catch { case _: UdException => thrown += 1 }
        }
      }
      us += (spans.ms(span) * 1e3).toLong
    }
    Map("interp_records" -> work.map(_._2.size).sum, "interp_emitted" -> emitted,
      "interp_thrown" -> thrown, "interp_ms" -> us / 1e3)
  }

  /** Up to `n` records for a script: the first benchmark table that has
    * every input column, cast to the script's declared input types. */
  private def tableRecords(spark: SparkSession, sf: String, c: UdScript.Compiled,
                           n: Int): Option[Seq[Values.Value]] = {
    val fields = c.inputSchema.fields
    new File(sf).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .iterator.map(f => spark.read.parquet(f.getPath))
      .find(df => fields.forall(x => df.columns.contains(x.name)))
      .map { df =>
        df.select(fields.map(x => df(x.name).cast(x.dataType).as(x.name)).toSeq: _*)
          .limit(n).collect().toSeq.map(r => UdScript.rowToValue(r, c.script.input))
      }
  }

  /** Sources of every script `UdScript.compile` has cached in this JVM. */
  private def compiledSources: Seq[String] = {
    val field = UdScript.getClass.getDeclaredFields.find(_.getName.endsWith("compileCache"))
      .getOrElse(throw new IllegalStateException("UdScript has no compile cache"))
    field.setAccessible(true)
    field.get(UdScript).asInstanceOf[java.util.Map[Any, Any]].keySet.asScala.toSeq
      .collect { case (src: String, _, libs: Map[_, _]) if libs.isEmpty => src }.distinct.sorted
  }

  private def readSources(path: String): Seq[String] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    node.elements().asScala.map(_.asText()).toSeq
  }

  private def cliProbe(kv: Map[String, String]): Map[String, Any] = {
    val spans = new Spans(kv("run_id"))
    val scripts = kv("scripts").split(",").toSeq
    val front = scripts.map { path =>
      val src = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      val dir = new File(path).getAbsoluteFile.getParent
      frontEnd(spans, path, src)(UdScript.compile(src, libraryDirs = Seq(dir)))
    }
    val compiled = front.map(_._2)

    // the kernel-tier script over its records, on this one thread
    val kernel = compiled(kv("interp_script").toInt)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val values = Files.readAllLines(Paths.get(kv("interp_records"))).asScala.toSeq.map { l =>
      val n = mapper.readTree(l)
      val row = new GenericRowWithSchema(kernel.inputSchema.fieldNames.map { f =>
        val v = n.get(f)
        if (v.isIntegralNumber && kernel.inputSchema(f).dataType.typeName == "long") v.longValue()
        else if (v.isNumber) v.doubleValue() else v.asText(): Any
      }, kernel.inputSchema)
      UdScript.rowToValue(row, kernel.script.input)
    }
    val interp = interpOver(spans, Seq(kernel -> values))

    val (spark, sessionSpan) = spans.time("session", "session", 0)(session(kv("cores").toInt))
    val exec = new ExecListener
    spark.sparkContext.addSparkListener(exec)
    val streams = new StreamListener
    spark.streams.addListener(streams)
    val decoded = compiled(kv("decode_script").toInt)
    val declared = decoded.script.input.asInstanceOf[TRecord]
    val (good, decodeSpan) = spans.time("decode", "sources", 0) {
      val lines = spark.read.textFile(kv("decode_records"))
      JsonRecords.read(spark, lines, declared, ValidatedIngest.Dlq).good.count()
    }
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val execBefore = exec.counters
    // Catalyst phases of the queries Main.execute runs, from their trackers
    val phases = mutable.Map.empty[String, Double]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases.synchronized {
        qe.tracker.phases.foreach { case (k, v) =>
          phases(k) = phases.getOrElse(k, 0.0) + v.durationMs }
      }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val outFile = new PrintStream(new FileOutputStream(s"${kv("run")}/execute.out"))
    val errFile = new PrintStream(new FileOutputStream(s"${kv("run")}/execute.err"))
    val in = new FileInputStream(kv("decode_records"))
    val t0 = Clock.us()
    val (code, executeSpan) = try spans.time("execute", "cli", 0)(
      Main.execute(List(scripts(kv("decode_script").toInt)), in, outFile, errFile, Some(spark)))
    finally { in.close(); outFile.close(); errFile.close() }
    val t1 = Clock.us()
    PerfbenchBridge.drainListeners(spark.sparkContext)
    val jobs = exec.jobsBetween(t0 / 1000, t1 / 1000)
    jobs.foreach(j => spans.add(s"job ${j.id}", "job", executeSpan, j.startMs * 1000, j.endMs * 1000))
    val busy = union(jobs.map(j => (j.startMs * 1000, j.endMs * 1000)))
    val result = Map(
      "front" -> front.map(_._1),
      "session_s" -> spans.ms(sessionSpan) / 1e3, "decode_ms" -> spans.ms(decodeSpan),
      "decode_good" -> good, "execute_ms" -> spans.ms(executeSpan), "execute_code" -> code,
      "busy_s" -> secs(busy), "gap_s" -> secs(math.max(0L, (t1 - t0) - busy)),
      "tracker_ms" -> phases.synchronized(phases.toMap),
      "batches" -> batchRows(streams),
      "exec" -> exec.counters.map { case (k, v) => k -> (v - execBefore.getOrElse(k, 0.0)) },
      "jvm" -> Map("jvm.gc_s" -> Jvm.gcMs / 1e3, "jvm.jit_s" -> Jvm.jitMs / 1e3,
        "jvm.code_heap_mb" -> Jvm.codeHeapMb),
      "spans" -> spans.all.toSeq) ++ interp
    spark.stop()
    result
  }
}
