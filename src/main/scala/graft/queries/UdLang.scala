package graft.queries

import graft.Tables
import graft.lang.UdScript
import graft.lang.Ast.{TField, TFloat, TInt, TRecord, TStr}
import graft.sources.{Msgpack, ValidatedIngest}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries driven by actual uDLang SOURCE — parse →
  * typecheck → two-tier lower → DataFrame, over the driver tables. This is
  * the "a reference user could switch" proof: their scripts, our engine. */
object UdLang extends Serializable {

  /** Column-tier: pure projection kernel lowers to select (no flatMap). */
  def uHello(s: SparkSession, d: String): DataFrame = {
    val src = """script "hello over documents";
      |input  {doc_id: Int, text: Str};
      |output {doc_id: Int, greeting: Str};
      |out {doc_id: in.doc_id, greeting: "Hello, " + in.text};""".stripMargin
    UdScript.compile(src)
      .run(Tables.documents(s, d).select("doc_id", "text"))
  }

  val uHelloSql: String =
    """SELECT doc_id, 'Hello, ' || text AS greeting
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Column-tier: conditional emit (filter) + match dispatch + arithmetic.
    */
  def uFilterMatch(s: SparkSession, d: String): DataFrame = {
    val src = """script "filter + match over events";
      |input  {event_id: Int, event_type: Str, value: Float};
      |output {event_id: Int, cat: Str, boosted: Float};
      |if (in.value > 50.0) {
      |  out {event_id: in.event_id,
      |       cat: match (in.event_type) {
      |         case "click" => "ui";
      |         case "view" => "ui";
      |         case "purchase" => "commerce";
      |         else => "other";
      |       },
      |       boosted: in.value * 2.0};
      |}""".stripMargin
    UdScript.compile(src)
      .run(Tables.events(s, d).select("event_id", "event_type", "value"))
  }

  val uFilterMatchSql: String =
    """SELECT event_id,
      |  CASE event_type WHEN 'click' THEN 'ui' WHEN 'view' THEN 'ui'
      |       WHEN 'purchase' THEN 'commerce' ELSE 'other' END AS cat,
      |  value * 2.0 AS boosted
      |FROM events WHERE value > 50.0 ORDER BY event_id""".stripMargin

  /** Kernel-tier: recursion (fact.us shape) over lineitem. */
  val uFactSrc: String =
    """script "factorial over lineitem";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, n: Int, fact: Int};
      |func fact(n: Int) -> Int {
      |  if (n > 1) { n * fact(n - 1) } else { n }
      |}
      |out {l_orderkey: in.l_orderkey, n: in.l_linenumber,
      |     fact: fact(in.l_linenumber)};""".stripMargin

  def uFact(s: SparkSession, d: String): DataFrame =
    UdScript.compile(uFactSrc)
      .run(graft.operators.Spread.forCpu(Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")))

  val uFactSql: String =
    """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS n,
      |       CAST(factorial(l_linenumber) AS BIGINT) AS fact
      |FROM lineitem ORDER BY l_orderkey, n""".stripMargin

  /** Kernel-tier: recursive multi-emit (count.us shape). */
  val uCountSrc: String =
    """script "countdown over lineitem";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, n: Int};
      |proc count(k: Int, n: Int) {
      |  out {l_orderkey: k, n: n};
      |  if (n > 0) { count(k, n - 1); }
      |}
      |count(in.l_orderkey, in.l_linenumber);""".stripMargin

  def uCount(s: SparkSession, d: String): DataFrame =
    UdScript.compile(uCountSrc)
      .run(graft.operators.Spread.forCpu(Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")))

  val uCountSql: String =
    """SELECT l_orderkey,
      |  unnest(generate_series(0, CAST(l_linenumber AS BIGINT))) AS n
      |FROM lineitem ORDER BY l_orderkey, n""".stripMargin

  /** The README html library (adapted) driven from FILES through the
    * module system: per document, render a div with an escaped id attr and
    * escaped text content. Kernel tier (library calls don't inline); the
    * oracle mirrors escape/quote with SQL replace chains. */
  def uHtmlRender(s: SparkSession, d: String): DataFrame = {
    val libDir = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("/tmp/graft_udlibs")).toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(libDir, "textutil.ud"),
      """lib "text escaping";
        |export func escape(text: Str) -> Str {
        |  replace(replace(replace(text, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
        |}
        |export func quote(text: Str) -> Str { "\"" + escape(text) + "\"" }
        |""".stripMargin.getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(libDir, "html.ud"),
      """lib "Simple Html Formatting Library";
        |import textutil.*;
        |export type Element: {
        |  tag: String, attrs: {[String]: String},
        |  children: [Any], requiresClose: Bool
        |};
        |export func element(tag: Str, attrs: Map<Str>, allowChildren: Bool,
        |                    ...children: Any) -> Element ! Str {
        |  {tag: tag, attrs: attrs, children: children,
        |   requiresClose: allowChildren}
        |}
        |export func format(e: Element) -> String ! String {
        |  let attrStr = [keys(e.attrs) |
        |    (k: Str) -> Str { " " + escape(k) + "=" + quote(e.attrs[k]) }];
        |  let openTag = "<" + e.tag + attrStr.join("") + ">";
        |  if (e.requiresClose) {
        |    let content = [e.children | (c: Any) -> Str {
        |      match (c) { case s: Str => escape(s); else => format(c); }
        |    }];
        |    openTag + content.join("") + "</" + e.tag + ">"
        |  } else { openTag }
        |}
        |export div = element("div", $, true, $...);
        |""".stripMargin.getBytes("UTF-8"))
    val src = """script "render docs as html";
      |import html.{div, format};
      |input  {doc_id: Int, text: Str};
      |output {doc_id: Int, markup: Str};
      |out {doc_id: in.doc_id,
      |     markup: format(div({id: "doc-" + (in.doc_id as Str)}, in.text))};
      |""".stripMargin
    UdScript.compile(src, libraryDirs = Seq(libDir))
      .run(Tables.documents(s, d).select("doc_id", "text"))
  }

  val uHtmlRenderSql: String =
    """SELECT doc_id,
      |  '<div id="doc-' || CAST(doc_id AS VARCHAR) || '">' ||
      |  replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
      |  '</div>' AS markup
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Non-string union input ({_tag, v0, v1} tagged struct) narrowed via
    * `match` type patterns that lower to the COLUMN tier as CASE over
    * _tag — the VERDICT r1 union-encoding ask. The union column is built
    * from events (even ids carry Int user_id, odd ids carry Str
    * event_type), the script never sees the encoding. */
  val unionScriptSrc = """script "union narrowing";
    |input  {event_id: Int, v: Int | Str};
    |output {event_id: Int, shown: Str, doubled: Int};
    |out {event_id: in.event_id,
    |     shown: match (in.v) {
    |       case i: Int => "int";
    |       case t: Str => t;
    |     },
    |     doubled: match (in.v) {
    |       case i: Int => i * 2;
    |       case t: Str => 0;
    |     }};""".stripMargin

  def uUnionMatch(s: SparkSession, d: String): DataFrame = {
    val compiled = UdScript.compile(unionScriptSrc)
    require(compiled.tier == UdScript.ColumnTier,
      "union match must lower to the column tier")
    val nullLong = lit(null).cast("long")
    val nullStr = lit(null).cast("string")
    val df = Tables.events(s, d).select(col("event_id"),
      when(col("event_id") % 2 === 0,
        struct(lit("Int").as("_tag"), col("user_id").as("v0"),
          nullStr.as("v1")))
        .otherwise(struct(lit("Str").as("_tag"), nullLong.as("v0"),
          col("event_type").as("v1"))).as("v"))
    compiled.run(df)
  }

  val uUnionMatchSql: String =
    """SELECT event_id,
      |  CASE WHEN event_id % 2 = 0 THEN 'int' ELSE event_type END AS shown,
      |  CASE WHEN event_id % 2 = 0 THEN user_id * 2 ELSE 0 END AS doubled
      |FROM events ORDER BY event_id""".stripMargin

  /** TRUE union ingest (the r2 watch item): the wire records carry the
    * union field as its RAW JSON value — an int for even ids, a string
    * for odd — and `JsonRecords.read` tags it at validation time, its
    * decoder taking the first branch in declared order that the JSON
    * value fits. The script (same compiled source as u_union_match) never
    * sees raw JSON or tags; the encoding is produced by INGEST, not
    * pre-built. */
  def uUnionIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lines = Tables.events(s, d).select(
      concat(lit("{\"event_id\": "), col("event_id"),
        when(col("event_id") % 2 === 0,
          concat(lit(", \"v\": "), col("user_id"), lit("}")))
          .otherwise(concat(lit(", \"v\": \""), col("event_type"),
            lit("\"}")))).as("value")).as[String]
    val declared = TRecord(Seq(
      TField("event_id", TInt, absentOptional = false),
      TField("v", graft.lang.Ast.TUnion(Seq(TInt, TStr)),
        absentOptional = false)))
    val good = graft.sources.JsonRecords
      .read(s, graft.operators.Spread.forCpu(lines), declared,
        graft.sources.ValidatedIngest.Abort).good
    val compiled = UdScript.compile(unionScriptSrc)
    require(compiled.tier == UdScript.ColumnTier)
    compiled.run(good)
  }

  val uUnionIngestSql: String = uUnionMatchSql

  /** Run a streaming DataFrame to completion into a memory sink and hand
    * back the materialized result (the driver-visible Structured Streaming
    * path: readStream file source → script transform → sink). */
  private def runStream(s: SparkSession, out: DataFrame, sink: String,
                        assertOneBatch: Boolean = false): DataFrame = {
    s.catalog.dropTempView(sink)
    // explicit per-run throwaway checkpoint on the fastest local volume
    // (graft.util.TmpDirs): every micro-batch writes offset/commit
    // metadata and per-partition state files under it — fixed per-entry
    // overhead that was previously paid against the disk-backed implicit
    // temp checkpoint. Same lifecycle as before: one run, then deleted.
    val ckpt = graft.util.TmpDirs.ephemeral(s"graft_ckpt_$sink")
    val q = out.writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      if (assertOneBatch) {
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed <= 1, s"entry assumes a single micro-batch, saw $fed " +
          "data-bearing batches — watermark eviction would break its " +
          "batch-oracle parity")
      }
    } finally {
      q.stop()
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(ckpt))
      catch { case _: Throwable => () }
    }
    s.table(sink)
  }

  /** Parquet file schemas for the stream sources, read once per path: a
    * streaming entry must declare its schema up front, but re-deriving it
    * with a fresh batch read on every call is pure overhead. */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]
  private def parquetSchema(s: SparkSession, path: String) =
    schemaCache.getOrElseUpdate(path, s.read.parquet(path).schema)

  /** Stateful streaming state partitions scale with KEY cardinality, not
    * data volume — these entries aggregate a handful of keys, and the
    * shuffle default (32) just cycles 32 near-empty state stores through
    * every micro-batch. The partition count is pinned at first start via
    * the shuffle-partition conf, so set it around the whole run and
    * restore after. On a cluster the same knob is sized to keys. */
  private def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Column-tier script over a FILE STREAM of events — the north-star
    * "Structured Streaming with custom transformations" as a
    * driver-checked entry. The oracle is the batch twin's SQL (a finite
    * file stream in append mode materializes exactly the batch result);
    * UdStreamingSpec asserts batch ≡ stream on the same compiled value. */
  private val streamFilterSrc = """script "stream filter + match";
    |input  {event_id: Int, event_type: Str, value: Float};
    |output {event_id: Int, cat: Str, boosted: Float};
    |if (in.value > 50.0) {
    |  out {event_id: in.event_id,
    |       cat: match (in.event_type) {
    |         case "click" => "ui";
    |         case "view" => "ui";
    |         case "purchase" => "commerce";
    |         else => "other";
    |       },
    |       boosted: in.value * 2.0};
    |}""".stripMargin

  def uStreamFilter(s: SparkSession, d: String): DataFrame = {
    val c = UdScript.compile(streamFilterSrc)
    require(c.tier == UdScript.ColumnTier)
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .select("event_id", "event_type", "value")
    runStream(s, c.run(stream), "u_stream_filter_sink")
  }

  val uStreamFilterSql: String = uFilterMatchSql

  /** Kernel-tier script (true recursion: the bound is a VARIABLE, which
    * the counted-loop detector deliberately does not capture — step-k
    * loops against literal bounds now lower to explode(sequence)) over
    * the same file stream: the interpreter flatMap runs unchanged under
    * micro-batching. */
  def uStreamCount(s: SparkSession, d: String): DataFrame = {
    val src = """script "stream countdown by two";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, n: Int};
      |proc count(k: Int, n: Int, lim: Int) {
      |  out {l_orderkey: k, n: n};
      |  if (n > lim) { count(k, n - 2, lim); }
      |}
      |count(in.l_orderkey, in.l_linenumber, 0);""".stripMargin
    val c = UdScript.compile(src)
    require(c.tier == UdScript.KernelTier)
    val fileSchema = parquetSchema(s, s"$d/lineitem.parquet")
    // 10% orderkey slice: the entry proves the streaming path; an
    // unsliced run spends its time materializing ~2M rows into the
    // driver-side memory sink, which measures the sink, not the engine
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "lineitem.parquet")
      .parquet(d)
      .where(col("l_orderkey") % 10 === 0)
      .select("l_orderkey", "l_linenumber")
    runStream(s, c.run(stream), "u_stream_count_sink")
  }

  val uStreamCountSql: String =
    """SELECT l_orderkey,
      |  unnest(generate_series(CAST(l_linenumber AS BIGINT),
      |    CASE WHEN l_linenumber % 2 = 1 THEN -1 ELSE 0 END, -2)) AS n
      |FROM lineitem WHERE l_orderkey % 10 = 0
      |ORDER BY l_orderkey, n""".stripMargin

  /** D10: the `!` debug trace in a driver-checked query — tracing is a
    * side effect to executor stderr (sampled: only doc 0 here, a real
    * pipeline would gate on a debug flag), and MUST NOT perturb results:
    * the oracle sees pure output. */
  def uDebugTrace(s: SparkSession, d: String): DataFrame = {
    val src = """script "debug trace";
      |input  {doc_id: Int, text: Str};
      |output {doc_id: Int, n_chars: Int};
      |if (in.doc_id == 0) {
      |  ! "doc " + (in.doc_id as Str);
      |}
      |out {doc_id: in.doc_id, n_chars: in.text.length};""".stripMargin
    UdScript.compile(src)
      .run(Tables.documents(s, d).select("doc_id", "text"))
  }

  val uDebugTraceSql: String =
    """SELECT doc_id, length(text) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Watermarked event-time aggregation over a FILE STREAM, append mode —
    * the full stateful-streaming contract as a driver-checked entry. With
    * a 10-minute watermark only windows whose end precedes
    * max(ts) − 10min finalize and emit (Spark's no-data final micro-batch
    * flushes them); the oracle states exactly that cutoff, so the
    * watermark SEMANTICS are part of the checked result, not just the
    * plumbing. Decimal-exact sums per QueryUtil. */
  def uStreamWindow(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(Tables.normTs)
      .select("ts", "event_type", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(QueryUtil.sumd(col("value")).as("sum_value"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("sum_value"), col("n"))
    withStatePartitions(s, 4) {
      runStream(s, stream, "u_stream_window_sink")
    }
  }

  val uStreamWindowSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_us,
       |  event_type, ${QueryUtil.sqlSumd("value")} AS sum_value,
       |  count(*) AS n
       |FROM events
       |WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <=
       |  (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
       |GROUP BY 1, 2
       |ORDER BY win_start_us, event_type""".stripMargin

  /** Watermarked SESSION windows over the file stream: a session emits in
    * append mode once the watermark passes its end (last event + the
    * 5-minute gap), so the oracle is the gaps-and-islands batch twin
    * filtered to sessions whose end + gap precedes max(ts) − 10min. */
  def uStreamSession(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(Tables.normTs)
      .select("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), QueryUtil.sumd(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"), col("sum_value"))
    withStatePartitions(s, 4) {
      runStream(s, stream, "u_stream_session_sink")
    }
  }

  val uStreamSessionSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), y AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x
       |), sess AS (
       |  SELECT user_id, min(ts) AS st, max(ts) AS en,
       |    count(*) AS n, ${QueryUtil.sqlSumd("value")} AS sum_value
       |  FROM y GROUP BY user_id, sid)
       |SELECT user_id, epoch_us(st) AS session_start_us, n, sum_value
       |FROM sess
       |WHERE en + INTERVAL 5 MINUTE <=
       |  (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
       |ORDER BY user_id, session_start_us""".stripMargin

  /** The reference's NATIVE deployment shape — a unix-filter pipe of
    * msgpack frames (HACKING.md:136-140 read/write/flush loop) — as a
    * driver-checked entry: a live localhost socket serves one
    * base64-encoded msgpack record map per line (binary frames need a
    * text-safe channel through Spark's line-based socket source), the
    * stream decodes each frame through `Msgpack.ingest` under the
    * DECLARED record type (skipping an invalid frame), and the same
    * compiled filter script runs over the decoded frames. Socket sources
    * have no end-of-stream marker, so completion is detected by sink row
    * count reaching the batch-computed expectation — the oracle then
    * checks the VALUES, not just arrival.
    *
    * Scale: a socket is one serialized stream by nature; the parallel
    * form of this ingest is the msgpack file source (one task per file).
    * The per-frame decode itself is identical in both. */
  def uStreamPipe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val declared = TRecord(Seq(
      TField("event_id", TInt, absentOptional = false),
      TField("event_type", TStr, absentOptional = false),
      TField("value", TFloat, absentOptional = false)))
    // CONSTANT-bounded slice: the entry proves the live-pipe path, not
    // sink volume. The fixed event_id ceiling caps the driver-side frame
    // materialization at <= 10k rows at ANY corpus size (a %-only filter
    // is a fraction of the corpus — a 100x corpus would collect 100x more
    // rows into the driver before the stream starts); the predicate is
    // replayed verbatim in the oracle SQL.
    val src = Tables.events(s, d)
      .where(col("event_id") % 20 === 0 && col("event_id") < 200000L)
      .select("event_id", "event_type", "value")
    val frames = src.collect().map { r =>
      val o = new java.io.ByteArrayOutputStream()
      Msgpack.writeMap(o, Seq("event_id" -> r.get(0),
        "event_type" -> r.get(1), "value" -> r.get(2)))
      java.util.Base64.getEncoder.encodeToString(o.toByteArray)
    }
    val want = src.where(col("value") > 50.0).count()
    val server = new java.net.ServerSocket(
      0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    @volatile var conn: java.net.Socket = null
    val serve = new Thread(() => {
      try {
        conn = server.accept()
        val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
          conn.getOutputStream, "UTF-8"))
        frames.foreach(w.println)
        w.flush() // keep the connection open until the query is stopped
      } catch { case _: Throwable => () }
    })
    serve.setDaemon(true)
    serve.start()
    val lines = s.readStream.format("socket")
      .option("host", "127.0.0.1")
      .option("port", server.getLocalPort.toString)
      .load()
    val bytes = lines.select(col("value")).as[String]
      .map(line => java.util.Base64.getDecoder.decode(line))(Encoders.BINARY)
    val good = Msgpack.ingest(bytes, declared, ValidatedIngest.Skip).good
    val c = UdScript.compile(streamFilterSrc)
    require(c.tier == UdScript.ColumnTier)
    s.catalog.dropTempView("u_stream_pipe_sink")
    val pipeCkpt = graft.util.TmpDirs.ephemeral("graft_ckpt_pipe")
    val q = c.run(good).writeStream.format("memory")
      .queryName("u_stream_pipe_sink").outputMode("append")
      .option("checkpointLocation", pipeCkpt).start()
    try {
      val deadline = System.currentTimeMillis() + 120000
      while (s.table("u_stream_pipe_sink").count() < want &&
             System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
    } finally {
      q.stop()
      if (conn != null) conn.close()
      server.close()
      try org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(pipeCkpt))
      catch { case _: Throwable => () }
    }
    s.table("u_stream_pipe_sink")
  }

  val uStreamPipeSql: String =
    """SELECT event_id,
      |  CASE event_type WHEN 'click' THEN 'ui' WHEN 'view' THEN 'ui'
      |       WHEN 'purchase' THEN 'commerce' ELSE 'other' END AS cat,
      |  value * 2.0 AS boosted
      |FROM events
      |WHERE value > 50.0 AND event_id % 20 = 0 AND event_id < 200000
      |ORDER BY event_id""".stripMargin

  /** Stream-stream INTERVAL join, append mode: click events join purchase
    * events of the same user within the following hour. Both sides carry
    * watermarks and the join carries the time-range condition — exactly
    * the production shape where Spark bounds each side's state by the
    * watermark + interval instead of holding streams forever. On a finite
    * file replay the inner join emits precisely the batch join, so the
    * batch twin IS the oracle. */
  def uStreamJoin(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    def side(tpe: String, a: String) = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(Tables.normTs)
      .where(col("event_type") === tpe)
      .select(col("user_id").as(s"${a}_user"),
        col("event_id").as(s"${a}_id"), col("ts").as(s"${a}_ts"))
      .withWatermark(s"${a}_ts", "10 minutes")
    val joined = side("click", "c").join(side("purchase", "p"),
      expr("c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + interval 60 minutes"))
      .select(col("c_user").as("user_id"), col("c_id").as("click_id"),
        col("p_id").as("purchase_id"),
        unix_micros(col("c_ts")).as("click_ts_us"),
        unix_micros(col("p_ts")).as("purchase_ts_us"))
    withStatePartitions(s, 4) {
      runStream(s, joined, "u_stream_join_sink")
    }
  }

  val uStreamJoinSql: String =
    """SELECT e1.user_id AS user_id, e1.event_id AS click_id,
      |  e2.event_id AS purchase_id,
      |  epoch_us(e1.ts) AS click_ts_us, epoch_us(e2.ts) AS purchase_ts_us
      |FROM events e1 JOIN events e2 ON e1.user_id = e2.user_id
      | AND e1.event_type = 'click' AND e2.event_type = 'purchase'
      | AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 60 MINUTE
      |ORDER BY user_id, click_id, purchase_id""".stripMargin

  /** Effect-annotated function (`-> Str ! Str`, README.md:337-342) whose
    * declared exception routes throwing records to the dead-letter leg —
    * the effect-annotated twin of d11_throw_dlq's top-level throw. The entry
    * surfaces both legs as one ordered frame so the oracle can check the
    * routing itself. */
  val uEffectDlqSrc: String =
    """script "effect-annotated categorize";
      |input  {event_id: Int, event_type: Str};
      |output {event_id: Int, info: Str};
      |func categorize(t: Str) -> Str ! Str {
      |  if (t == "error") { throw "boom:" + t } else { t }
      |}
      |out {event_id: in.event_id, info: categorize(in.event_type)};""".stripMargin

  def uEffectDlq(s: SparkSession, d: String): DataFrame = {
    val compiled = UdScript.compile(uEffectDlqSrc)
    require(compiled.tier == UdScript.KernelTier,
      "throwing funcs run on the kernel tier")
    val (good, dlq) = compiled.runEither(graft.operators.Spread.forCpu(
      Tables.events(s, d).select("event_id", "event_type")))
    good.select(col("event_id"), lit("ok").as("route"), col("info"))
      .unionAll(dlq.select(col("event_id"), lit("dlq").as("route"),
        col("_error").as("info")))
  }

  val uEffectDlqSql: String =
    """SELECT event_id,
      |  CASE WHEN event_type = 'error' THEN 'dlq' ELSE 'ok' END AS route,
      |  CASE WHEN event_type = 'error' THEN 'boom:error' ELSE event_type END AS info
      |FROM events ORDER BY event_id""".stripMargin

  /** Streaming exact dedup: dropDuplicatesWithinWatermark on the key —
    * the state-store-backed first-occurrence filter of a streaming ingest
    * pipeline. State is partitioned by key across executors and BOUNDED by
    * the watermark (entries older than the delay are evicted), unlike plain
    * dropDuplicates whose state grows forever. Only the key columns are
    * projected so the emitted set is deterministic (which physical row wins
    * within a micro-batch is not). Oracle = batch DISTINCT — which holds
    * ONLY because the finite file source feeds one micro-batch: across
    * batches the watermark evicts keys older than the delay and a
    * recurring key would re-emit. runStream asserts the single-batch
    * assumption so a source change can't silently break oracle parity. */
  /** STREAMING HTML extraction — stage zero in the ingest path: the
    * fixture pages parse + classify as a STATELESS per-row map inside
    * the stream (graft.text.HtmlExtract, the same pass the batch
    * entries run), so the result is batching-invariant and the batch
    * oracle (text_html_extract's chain replay) is exact regardless of
    * how the source slices micro-batches — no watermark, no state
    * store, per-record cost identical to batch. This is how a crawl
    * actually lands: extraction runs as pages ARRIVE, not as a later
    * batch pass. */
  def uStreamHtml(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/documents.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val out = graft.text.HtmlExtract.extractFromDocuments(s, stream).toDF()
    runStream(s, out, "u_stream_html_sink")
  }

  /** Streaming crawl gate — the per-record link-harvest → UrlNorm →
    * RobotsTxt politeness gate (CorpusBuild.allowedLinks, shared with
    * the batch frontier) running STATELESSLY over arriving pages:
    * append mode, no state store, no watermark; per-host fetch ORDERING
    * stays the batch frontier's job (it needs the full reference
    * counts). The entry aggregates the sink's gate decisions, so the
    * oracle is exactly the batch frontier minus scheduling. */
  def uStreamCrawlGate(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/documents.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(d)
    val out = CorpusBuild.allowedLinks(s, stream)
    runStream(s, out, "u_stream_crawl_gate_sink")
      .groupBy("host", "url").agg(count(lit(1)).as("n_refs"))
  }

  val uStreamCrawlGateSql: String =
    s"""SELECT host, url, n_refs FROM (
       |${CorpusBuild.crawlFrontierSql}
       |) ORDER BY host, url""".stripMargin

  def uStreamDedup(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(Tables.normTs)
      .select("ts", "user_id", "event_type")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    withStatePartitions(s, 4) {
      runStream(s, stream, "u_stream_dedup_sink", assertOneBatch = true)
    }
  }

  val uStreamDedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming NEAR-dup gate — the online shape of
    * dedup_minhash_incremental: each arriving crawl document is minhash-
    * signed and banded STATELESSLY (one narrow flatMap), probes the
    * STATIC corpus band index (the stored near-dup index a serving
    * system maintains — localCheckpoint'd here as the index artifact),
    * and band collisions are verified by exact shingle Jaccard via
    * stream-static text joins. No state, no watermark, append mode —
    * per-record cost is bands index probes plus verification of actual
    * collisions only; at scale this is the Kafka-consumer near-dup hop
    * in front of a training-corpus ingest.
    *
    * A pair colliding in several bands emits per-band duplicates inside
    * the stream (stateless operators cannot dedup); the entry returns
    * the DISTINCT verified pairs from the sink — same banding-
    * completeness contract as the batch family (miss ≤ (1−τ^r)^bands ≈
    * 6e-15), so the oracle is the exact stream-vs-corpus Jaccard join. */
  def uStreamNeardup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = graft.Tables.documents(s, d)
    val isStream = col("doc_id") % 10 === 3
    val corpus = docs.where(!isStream)
    // the stored index: banded minhash keys of the serving corpus
    val idx = graft.dedup.Dedup.bandedKeys(
      graft.dedup.Dedup.minhashSignatures(
        corpus.select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)], 3, 64), 32, 2)
      .select(col("doc_id").as("o"), col("band"), col("key"))
      .localCheckpoint(true)
    val fileSchema = parquetSchema(s, s"$d/documents.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .where(isStream)
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
    val probes = graft.dedup.Dedup.bandedKeys(
      graft.dedup.Dedup.minhashSignatures(stream, 3, 64), 32, 2)
    // collision → attach both texts (stream side from the static table:
    // same rows the file stream carries) → exact-Jaccard verify
    val hits = probes.join(idx, Seq("band", "key"))
      .where(col("o") =!= col("doc_id"))
      .join(docs.select(col("doc_id").cast("long").as("doc_id"),
        col("text").as("tn")), Seq("doc_id"))
      .join(docs.select(col("doc_id").cast("long").as("o"),
        col("text").as("to")), Seq("o"))
      .select(col("doc_id"), col("o"), col("tn"), col("to"))
      .as[(Long, Long, String, String)]
      .map { case (n, o, tn, to) =>
        (n, o, graft.dedup.Dedup.shingleJaccard(tn, to, 3))
      }
      .toDF("doc_id", "dup_of", "jac_raw")
      .select(col("doc_id"), col("dup_of"),
        round(col("jac_raw"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.8)
    runStream(s, hits, "u_stream_neardup_sink")
      .distinct()
  }

  /** Exact stream-vs-corpus oracle under the banding-completeness
    * contract. */
  val uStreamNeardupSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
      |             i -> array_to_string(t[i:i+2], ' '))) END AS s
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t
      |        FROM documents)),
      |b AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 = 3),
      |o AS (SELECT doc_id, s FROM sh WHERE doc_id % 10 <> 3)
      |SELECT b.doc_id, o.doc_id AS dup_of,
      |  round(CAST(len(list_intersect(b.s, o.s)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(b.s, o.s))) AS DOUBLE), 6)
      |    AS jaccard
      |FROM b JOIN o ON o.doc_id <> b.doc_id
      |WHERE round(CAST(len(list_intersect(b.s, o.s)) AS DOUBLE) /
      |    CAST(len(list_distinct(list_concat(b.s, o.s))) AS DOUBLE), 6)
      |    >= 0.8
      |ORDER BY b.doc_id, dup_of""".stripMargin

  /** Streaming DECONTAMINATION gate — the online shape of
    * LlmPipeline.textContamination: an incoming crawl stream (train-side
    * documents) is 5-gram exploded, pre-filtered by the STATIC eval-set
    * Bloom (an index artifact, shared with the batch entry through the
    * same LRU cache), and confirmed by a stream-static join against the
    * exact eval gram set. Pure filter + stream-static inner join — no
    * state, no watermark, append mode — so at scale this is the
    * Kafka-consumer decontamination hop: per-record cost is one Bloom
    * probe, and only probable hits reach the join. Emits each
    * contaminated (doc_id, gram) occurrence; the oracle is the batch
    * twin (finite file stream in append mode ≡ batch multiset). */
  def uStreamContamination(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val evalDocs = docs.where(col("doc_id") % 7 === 0)
    // same LRU index artifacts as the batch check (LlmPipeline) — one
    // warm eval-gram table + Bloom serves both entries
    val (evalGrams, _) = LlmPipeline.evalGramsCached(s, evalDocs)
    val bfBytes = LlmPipeline.evalBloom(evalDocs, evalGrams)
    val fileSchema = parquetSchema(s, s"$d/documents.parquet")
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(d)
      .where(col("doc_id") % 7 =!= 0)
    val hits = LlmPipeline.contamGrams(stream)
      .where(graft.plans.Bloom.mightContain(lit(bfBytes),
        xxhash64(col("g"))))
      .join(evalGrams, Seq("g"))
      .select("doc_id", "g")
    runStream(s, hits, "u_stream_contamination_sink")
  }

  /** Streaming INCREMENTAL SHARD APPEND — the online twin of the
    * sample_shards / ShardedWriter batch family: each micro-batch of the
    * document stream is token-sharded BY ITS OWN mass (the same
    * two-level prefix assignment, scoped to the batch) and appended under
    * `batch_id=B/shard=K/` via foreachBatch — the continuous-ingest shape
    * where a training corpus grows by crawl increments and each increment
    * lands as a self-contained, token-balanced shard set. The returned
    * manifest is read back FROM THE COMMITTED FILES (parity with what a
    * training loader will see, not an estimate), per (batch_id, shard).
    *
    * Scale shape: foreachBatch reuses the full batch writer (repartition
    * by shard kills the tasks×shards small-files explosion per batch;
    * partition directories are self-describing for pruned reads). The
    * oracle is the batch twin with batch_id 0 — valid because the finite
    * file source feeds ONE micro-batch, asserted below exactly like
    * u_stream_dedup's single-batch contract. */
  def uStreamShards(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/documents.parquet")
    // per-run throwaway shard output + checkpoint on the fast local
    // volume (both deleted in the finally below)
    val outDir = graft.util.TmpDirs.ephemeral("graft_u_stream_shards")
    val ckptDir = outDir + "_ckpt"
    def rmr(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case _: Throwable => () }
    }
    try {
      val stream = s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(d)
      val q = stream.writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          graft.sinks.ShardedWriter.appendBatch(batch, outDir, bid, 16)
        }
        .start()
      try {
        q.processAllAvailable()
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed <= 1, s"entry assumes a single micro-batch, saw $fed — " +
          "per-batch sharding would diverge from the batch-twin oracle")
      } finally q.stop()
      // Manifest read back from the COMMITTED files, materialized eagerly
      // (one row per (batch, shard) — 16 here) so the scratch corpus copy
      // and streaming checkpoint can be deleted before returning. Lazy
      // return used to leak a full corpus copy under /tmp per invocation
      // for the life of the JVM (and partial output on a failed run).
      val manifest = s.read.parquet(outDir)
        .groupBy("batch_id", "shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))
        .orderBy("batch_id", "shard")
      val rows = manifest.collect().toIndexedSeq
      s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        manifest.schema)
    } finally { rmr(outDir); rmr(ckptDir) }
  }

  /** Batch twin of sample_shards with the single batch's id prepended. */
  val uStreamShardsSql: String =
    """WITH p AS (
      |  SELECT GREATEST(8, (count(*) + 4095) // 4096) AS nb FROM documents),
      |t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
      |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % (SELECT nb FROM p) AS INTEGER) AS bucket,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, bucket, n_tokens,
      |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_in_b
      |  FROM t),
      |bb AS (
      |  SELECT bucket,
      |    CAST(coalesce(sum(btot) OVER (ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS boff
      |  FROM (SELECT bucket, sum(n_tokens) AS btot FROM t GROUP BY bucket)),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
      |a AS (
      |  SELECT c.doc_id, c.n_tokens,
      |    CAST(least(15, ((bb.boff + c.end_in_b - c.n_tokens) * 16)
      |      // (SELECT total FROM tot)) AS INTEGER) AS shard
      |  FROM c JOIN bb USING (bucket))
      |SELECT CAST(0 AS INTEGER) AS batch_id, shard,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
      |FROM a GROUP BY shard ORDER BY batch_id, shard""".stripMargin

  val uStreamContaminationSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(list_slice(t, i, i + 4), ' ') AS g
      |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 4)) AS i
      |        FROM t WHERE len(t) >= 5)),
      |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
      |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0)
      |SELECT tr.doc_id, tr.g
      |FROM tr JOIN ev USING (g)
      |ORDER BY doc_id, g""".stripMargin

  /** Streaming quantile sketch: the batch `sketch_quantiles` log-linear
    * histogram (octave = bit length, 16 linear sub-buckets — pure
    * integer bucket math, see Sketches.quantiles) as a WATERMARKED
    * event-time aggregation. The stream emits one bounded histogram per
    * finalized (1-hour window, event_type) — state per group is ≤ 64×16
    * counters no matter how many events the window saw — and the
    * quantile picks are batch math over those emitted sketch rows (the
    * stored-sketch serve pattern: the stream ships mergeable state,
    * serving derives estimates). Values are integer cents
    * (floor(value·100): one IEEE-exact multiply, floor — both engines
    * identical), watermark semantics as in u_stream_window: only
    * windows whose end precedes max(ts) − 10min finalize. */
  def uStreamQuantiles(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val hist = Sketches.withHistBuckets(
      s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .transform(Tables.normTs)
        .select(col("ts"), col("event_type"),
          expr("CAST(floor(value * 100e0) AS BIGINT)").as("x"))
        .withWatermark("ts", "10 minutes") // BEFORE the x-filter: the
        // watermark must advance on every event, not just bucketed ones
        .where(col("x") >= 1))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"),
        col("e"), col("sub"))
      .agg(count(lit(1)).as("c"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("e"), col("sub"), col("c"))
    val sunk = withStatePartitions(s, 4) {
      runStream(s, hist, "u_stream_quantiles_sink")
    }
    // serve: per-(window, type) p50/p95 from the emitted histograms —
    // the shared pick machinery over bounded sketch rows, never events
    Sketches.histQuantilePick(sunk,
        Seq("win_start_us", "event_type"), Seq(50, 95))
      .drop("e", "sub")
  }

  /** Batch twin: same histogram + pick over the watermark-finalized
    * windows. */
  val uStreamQuantilesSql: String =
    s"""WITH ev AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win, event_type,
      |    CAST(floor(value * 100e0) AS BIGINT) AS x
      |  FROM events
      |  WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <=
      |    (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)),
      |evp AS (SELECT win, event_type, x FROM ev WHERE x >= 1),
      |${Sketches.bucketCtesSql("evp", "win, event_type")},
      |hist AS (
      |  SELECT win, event_type, e, sub, count(*) AS c
      |  FROM b GROUP BY 1, 2, 3, 4),
      |cum AS (
      |  SELECT win, event_type, e, sub, c,
      |    sum(c) OVER (PARTITION BY win, event_type ORDER BY e, sub
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY win, event_type) AS tot
      |  FROM hist),
      |q AS (SELECT CAST(unnest([50, 95]) AS INT) AS q_pct)
      |SELECT epoch_us(win) AS win_start_us, event_type, q_pct,
      |  CAST(16 + sub AS BIGINT) << e AS lo16,
      |  CAST(cum AS BIGINT) AS cum_le, CAST(tot AS BIGINT) AS total
      |FROM cum, q
      |WHERE cum >= (q_pct * tot + 99) // 100
      |QUALIFY row_number() OVER (
      |  PARTITION BY win, event_type, q_pct ORDER BY e, sub) = 1
      |ORDER BY win_start_us, event_type, q_pct""".stripMargin

  /** Streaming HLL: the custom TypedImperativeAggregate
    * (plans.SketchAggs.HllSketchAgg) running INSIDE streaming state —
    * per finalized 1-hour window, the approximate distinct-user count
    * from 1 KB of registers, where an exact streaming count(DISTINCT)
    * is unsupported (Spark rejects it) and the workaround (keying state
    * by user) holds per-user state. Register state per window is FIXED
    * (1 KB) no matter how many events arrive; partial buffers merge in
    * the state store across micro-batches — the mergeable-sketch
    * contract exercised on the streaming engine. Summary/estimate
    * columns compute post-sink from the emitted registers (the
    * stored-sketch serve pattern); watermark semantics as in
    * u_stream_window, so the batch oracle replays registers per
    * finalized window. */
  def uStreamHll(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val regs = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet").parquet(d)
      .transform(Tables.normTs)
      .select(col("ts"), expr(
        "CAST(conv(substr(md5(CAST(user_id AS STRING)), 1, 13), 16, 10)" +
          " AS BIGINT)").as("h"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.plans.Sketch.hll(col("h"), 10).as("regs"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("regs"))
    val sunk = withStatePartitions(s, 4) {
      runStream(s, regs, "u_stream_hll_sink")
    }
    Sketches.hllSummary(sunk)
      .select("win_start_us", "v_zero", "s_scaled", "est_micro")
  }

  /** Batch twin: per-window register replay with the watermark cutoff.
    * Window UNIVERSE derives from ALL finalized-window events; only the
    * register fold skips null user_ids (mirroring the aggregate's
    * per-ROW null skip) — a window whose events are all-null still
    * emits on the Spark side (empty registers, est 0), so it must
    * appear here too. */
  val uStreamHllSql: String =
    """WITH ev AS (
      |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win, user_id
      |  FROM events
      |  WHERE time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR <=
      |    (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)),
      |wins AS (SELECT DISTINCT win FROM ev),
      |hh AS (
      |  SELECT win,
      |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |  FROM ev WHERE user_id IS NOT NULL),
      |reg AS (
      |  SELECT win, h % 1024 AS j,
      |    max(CASE WHEN h // 1024 = 0 THEN 43
      |        ELSE 43 - length(format('{:b}', h // 1024)) END) AS rho
      |  FROM hh GROUP BY 1, 2),
      |summ0 AS (
      |  SELECT win,
      |    1024 - count(*) AS v_zero,
      |    CAST(coalesce(sum(1::BIGINT << (43 - rho)), 0)
      |      + (1024 - count(*)) * (1::BIGINT << 43) AS BIGINT) AS s_scaled
      |  FROM reg GROUP BY 1),
      |summ AS (
      |  SELECT wins.win,
      |    CAST(coalesce(v_zero, 1024) AS BIGINT) AS v_zero,
      |    CAST(coalesce(s_scaled, 1024 * (1::BIGINT << 43)) AS BIGINT)
      |      AS s_scaled
      |  FROM wins LEFT JOIN summ0 USING (win)),
      |est AS (
      |  SELECT win, v_zero, s_scaled,
      |    0.7213e0 / (1e0 + 1.079e0 / 1024e0) * 1024e0 * 1024e0
      |      * 8796093022208e0 / CAST(s_scaled AS DOUBLE) AS raw_est
      |  FROM summ)
      |SELECT epoch_us(win) AS win_start_us, v_zero, s_scaled,
      |  CAST(round(CASE WHEN raw_est <= 2560e0 AND v_zero > 0
      |    THEN 1024e0 * ln(1024e0 / CAST(v_zero AS DOUBLE))
      |    ELSE raw_est END * 1000000e0) AS BIGINT) AS est_micro
      |FROM est
      |ORDER BY win_start_us""".stripMargin

  /** The transformWithState stateful driver as a driver-gate entry: the
    * Spark 4 StatefulProcessor (typed ValueState on the RocksDB store) runs
    * the per-key running (count, sum) over the event file stream; a finite
    * single-batch stream emits exactly one final row per key, so the batch
    * GROUP BY is the oracle. Values are summed as integer cents (exact in
    * any accumulation order) and divided once at the end — state iteration
    * order cannot perturb the double sum. */
  def uStreamState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = s.readStream.schema(fileSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
        .select(col("user_id"), round(col("value") * 100).as("cents"))
        .as[(Long, Double)]
      val out = graft.streaming.StreamKernel.statefulCountTws(src)
        .toDF("user_id", "n", "sum_cents")
        .select(col("user_id"), col("n"),
          (col("sum_cents") / 100.0).as("sum_value"))
      withStatePartitions(s, 4) {
        runStream(s, out, "u_stream_state_sink")
      }
    } finally prev match {
      case Some(p) => s.conf.set(key, p)
      case None    => s.conf.unset(key)
    }
  }

  val uStreamStateSql: String =
    """SELECT user_id, count(*) AS n,
      |  sum(round(value * 100)) / 100.0 AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stream-static enrichment: the streaming fact joins a STATIC
    * dimension — Spark broadcasts the dimension into every micro-batch,
    * no stream-side state at all (unlike stream-stream joins). The
    * production shape for attaching slowly-changing reference data to an
    * event stream; aggregated per nation so the emitted rows are compact
    * and deterministic. */
  def uStreamEnrich(s: SparkSession, d: String): DataFrame = {
    val fileSchema = parquetSchema(s, s"$d/events.parquet")
    val dim = Tables.customer(s, d).select(
      col("c_custkey"), col("c_nationkey"))
    val stream = s.readStream.schema(fileSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(d)
      .transform(Tables.normTs)
      .select(col("ts"), col("user_id"), col("value"))
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "6 hours"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), QueryUtil.sumd(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("c_nationkey"), col("n"), col("sum_value"))
    withStatePartitions(s, 4) {
      runStream(s, stream, "u_stream_enrich_sink")
    }
  }

  val uStreamEnrichSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL 6 HOUR, ts)) AS win_start_us,
       |  c_nationkey, count(*) AS n,
       |  ${QueryUtil.sqlSumd("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |WHERE time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR <=
       |  (SELECT max(ts) - INTERVAL 10 MINUTE FROM events)
       |GROUP BY 1, 2
       |ORDER BY win_start_us, c_nationkey""".stripMargin

  /** `suppose` + comprehension from uDLang SOURCE (d9_suppose without
    * the comprehension): the subjunctive speculatively runs the proc, the taken
    * branch splices the captured emissions with `...;`, and the captured
    * record's msg is built by a comprehension + join — the whole chain
    * through UdScript.compile, driver-gated. */
  val uSupposeSrc: String =
    """script "subjunctive with comprehension";
      |input  {event_id: Int, event_type: Str, value: Float};
      |output {event_id: Int, seq: Int, msg: Str};
      |let exclaims = ["Yeah", "yeah", "YEAH"];
      |proc chorus(t: Str) {
      |  if (t == "click") {
      |    out {event_id: in.event_id, seq: 9,
      |         msg: [exclaims | (w: Str) -> Str { w + "!" }].join(" ")};
      |  }
      |}
      |suppose(chorus(in.event_type)) {
      |  out {event_id: in.event_id, seq: 0, msg: "She loves you"};
      |  ...;
      |} else {
      |  out {event_id: in.event_id, seq: 0, msg: "Yesterday"};
      |}""".stripMargin

  def uSuppose(s: SparkSession, d: String): DataFrame =
    UdScript.compile(uSupposeSrc)
      .run(graft.operators.Spread.forCpu(Tables.events(s, d).select("event_id", "event_type", "value")))

  val uSupposeSql: String =
    """SELECT * FROM (
      |  SELECT event_id, CAST(0 AS BIGINT) AS seq, 'She loves you' AS msg
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, CAST(9 AS BIGINT) AS seq, 'Yeah! yeah! YEAH!' AS msg
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, CAST(0 AS BIGINT) AS seq, 'Yesterday' AS msg
      |  FROM events WHERE event_type <> 'click'
      |) ORDER BY event_id, seq""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("u_suppose", uSuppose, uSupposeSql),
    Entry("u_stream_enrich", uStreamEnrich, uStreamEnrichSql),
    Entry("u_stream_state", uStreamState, uStreamStateSql),
    Entry("u_stream_dedup", uStreamDedup, uStreamDedupSql),
    Entry("u_stream_html", uStreamHtml,
      graft.queries.LlmPipeline.textHtmlExtractSql),
    Entry("u_stream_crawl_gate", uStreamCrawlGate, uStreamCrawlGateSql),
    Entry("u_stream_neardup", uStreamNeardup, uStreamNeardupSql),
    Entry("u_stream_contamination", uStreamContamination,
      uStreamContaminationSql),
    Entry("u_stream_shards", uStreamShards, uStreamShardsSql),
    Entry("u_stream_quantiles", uStreamQuantiles, uStreamQuantilesSql),
    Entry("u_stream_hll", uStreamHll, uStreamHllSql),
    Entry("u_effect_dlq", uEffectDlq, uEffectDlqSql),
    Entry("u_stream_join", uStreamJoin, uStreamJoinSql),
    Entry("u_union_ingest", uUnionIngest, uUnionIngestSql),
    Entry("u_stream_pipe", uStreamPipe, uStreamPipeSql),
    Entry("u_stream_session", uStreamSession, uStreamSessionSql),
    Entry("u_stream_window", uStreamWindow, uStreamWindowSql),
    Entry("u_debug_trace", uDebugTrace, uDebugTraceSql),
    Entry("u_stream_filter", uStreamFilter, uStreamFilterSql),
    Entry("u_stream_count", uStreamCount, uStreamCountSql),
    Entry("u_union_match", uUnionMatch, uUnionMatchSql),
    Entry("u_html_render", uHtmlRender, uHtmlRenderSql),
    Entry("u_hello", uHello, uHelloSql),
    Entry("u_filter_match", uFilterMatch, uFilterMatchSql),
    Entry("u_fact", uFact, uFactSql),
    Entry("u_count", uCount, uCountSql)
  )
}
