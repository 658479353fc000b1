package graft.queries

import graft.Tables
import graft.lang.UdScript
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** uDLang dataflow surface (SURVEY.md §2.1-2.2), Spark-first.
  *
  * Column-expressible shapes are written as native plans (select / filter /
  * explode / HOFs) so Catalyst optimizes them — the Spark realization of the
  * reference's planned partial-evaluation pass (SURVEY.md §4.2c). The
  * per-record kernel shapes (multi-emit, recursion, `for` over a map,
  * `suppose`, `throw`) are uDLang scripts: `UdScript` compiles each and
  * lowers it to whichever tier it fits (column, counted loop or kernel).
  */
object Dataflow extends Serializable {

  // Per-record kernel work is CPU-bound; a compact parquet corpus arrives
  // as ONE split (single row group), which would single-thread the whole
  // pass — spread iff under-split (identity on well-split inputs; the
  // Spread.forCpu contract).
  private def events(s: SparkSession, d: String, cols: String*): DataFrame =
    graft.operators.Spread.forCpu(Tables.events(s, d).select(cols.map(col): _*))

  private def lineitem(s: SparkSession, d: String): DataFrame =
    graft.operators.Spread.forCpu(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber"))

  /** D1/D3: a kernel's 0..n outputs per record (reference:
    * vm.rs:373-405; out: ir.rs:822-826); any other event type emits
    * nothing (the examples/subjunctive.us filter idiom). */
  val d1KernelFlatmapSrc: String =
    """script "tagged values per event";
      |input  {event_id: Int, event_type: Str, value: Float};
      |output {event_id: Int, tag: Str, v: Float};
      |if (in.event_type == "click") {
      |  out {event_id: in.event_id, tag: "click_value", v: in.value};
      |  out {event_id: in.event_id, tag: "click_double", v: in.value * 2.0};
      |} elif (in.event_type == "purchase") {
      |  out {event_id: in.event_id, tag: "purchase_value", v: in.value};
      |}""".stripMargin

  def d1KernelFlatmap(s: SparkSession, d: String): DataFrame =
    UdScript.compile(d1KernelFlatmapSrc)
      .run(events(s, d, "event_id", "event_type", "value"))

  val d1KernelFlatmapSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 'click_value' AS tag, value AS v FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 'click_double' AS tag, value * 2 AS v FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 'purchase_value' AS tag, value AS v FROM events WHERE event_type = 'purchase'
      |) ORDER BY event_id, tag""".stripMargin

  /** D3/F5: recursive countdown kernel (examples/count.us) — emits
    * n, n-1, …, 0 per record. uDLang's Int rides as a Long; the entry
    * keeps its INT columns. */
  val d3MultiEmitCountSrc: String =
    """script "countdown per line item";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, l_linenumber: Int, n: Int};
      |proc count(k: Int, ln: Int, n: Int) {
      |  out {l_orderkey: k, l_linenumber: ln, n: n};
      |  if (n > 0) { count(k, ln, n - 1); }
      |}
      |count(in.l_orderkey, in.l_linenumber, in.l_linenumber);""".stripMargin

  def d3MultiEmitCount(s: SparkSession, d: String): DataFrame =
    UdScript.compile(d3MultiEmitCountSrc).run(lineitem(s, d))
      .withColumns(Map("l_linenumber" -> col("l_linenumber").cast("int"),
        "n" -> col("n").cast("int")))

  val d3MultiEmitCountSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(unnest(generate_series(0, CAST(l_linenumber AS BIGINT))) AS INT) AS n
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, n""".stripMargin

  /** F1-F5: recursive factorial kernel (examples/fact.us). */
  val dFactKernelSrc: String =
    """script "factorial per line item";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, l_linenumber: Int, fact: Int};
      |func fact(n: Int) -> Int {
      |  if (n <= 1) { 1 } else { n * fact(n - 1) }
      |}
      |out {l_orderkey: in.l_orderkey, l_linenumber: in.l_linenumber,
      |     fact: fact(in.l_linenumber)};""".stripMargin

  def dFactKernel(s: SparkSession, d: String): DataFrame =
    UdScript.compile(dFactKernelSrc).run(lineitem(s, d))
      .withColumn("l_linenumber", col("l_linenumber").cast("int"))

  val dFactKernelSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(factorial(l_linenumber) AS BIGINT) AS fact
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** D6: `for x in list` feeding `out` — column tier: explode keeps it in
    * native codegen (grammar.lalrpop:275-277 → explode). */
  def d6ForExplode(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        explode(split(col("p_name"), " ")).as("word"))

  val d6ForExplodeSql: String =
    """SELECT p_partkey, u.word
      |FROM part, unnest(string_split(p_name, ' ')) u(word)
      |ORDER BY p_partkey, word""".stripMargin

  /** D7: `for (k,v) in map` — the script builds a record map and iterates
    * its entries in declaration order (AList semantics, ir.rs:268-269). */
  val d7ForMapSrc: String =
    """script "for over a record's entries";
      |input  {event_id: Int, user_id: Int, event_type: Str};
      |output {event_id: Int, k: Str, v: Str};
      |let m = {"type": in.event_type, bucket: (in.user_id % 10) as Str};
      |for (k, v) in m {
      |  out {event_id: in.event_id, k: k, v: v};
      |}""".stripMargin

  def d7ForMap(s: SparkSession, d: String): DataFrame =
    UdScript.compile(d7ForMapSrc)
      .run(events(s, d, "event_id", "user_id", "event_type"))

  val d7ForMapSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 'type' AS k, event_type AS v FROM events
      |  UNION ALL
      |  SELECT event_id, 'bucket' AS k, CAST(user_id % 10 AS VARCHAR) AS v FROM events
      |) ORDER BY event_id, k""".stripMargin

  /** D8: comprehension `[coll | f]` (README.md:171-177) — column tier:
    * transform/aggregate HOFs, fully codegen-friendly. */
  def d8Comprehension(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        aggregate(transform(split(col("text"), " "), w => length(w)),
          lit(0), (acc, x) => acc + x).as("sum_token_len"))

  val d8ComprehensionSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  CAST(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum') AS INT) AS sum_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** D9: `suppose` subjunctive (examples/subjunctive.us, vm.rs:602-638):
    * speculative delegate; if it emitted, the branch runs and splices the
    * capture (`...;`) after its own line, else the leaf runs. seq numbers
    * the intra-record emission order. */
  val d9SupposeSrc: String =
    """script "suppose per event";
      |input  {event_id: Int, event_type: Str, value: Float};
      |output {event_id: Int, seq: Int, msg: Str, v: Float?};
      |proc chorus() {
      |  if (in.event_type == "click") {
      |    out {event_id: in.event_id, seq: 1, msg: "Yeah!", v: in.value};
      |  }
      |}
      |suppose(chorus()) {
      |  out {event_id: in.event_id, seq: 0, msg: "She loves you", v: none};
      |  ...;
      |} else {
      |  out {event_id: in.event_id, seq: 0, msg: "Yesterday", v: none};
      |}""".stripMargin

  def d9Suppose(s: SparkSession, d: String): DataFrame =
    UdScript.compile(d9SupposeSrc)
      .run(events(s, d, "event_id", "event_type", "value"))
      .withColumn("seq", col("seq").cast("int"))

  val d9SupposeSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 0 AS seq, 'She loves you' AS msg, CAST(NULL AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 1 AS seq, 'Yeah!' AS msg, value AS v
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 0 AS seq, 'Yesterday' AS msg, CAST(NULL AS DOUBLE) AS v
      |  FROM events WHERE event_type <> 'click'
      |) ORDER BY event_id, seq""".stripMargin

  /** D11: `throw` + recoverable routing (README.md:337-342): records whose
    * script throws route to the dead-letter leg; the entry surfaces both
    * legs as one frame so the oracle checks the routing itself. */
  val d11ThrowDlqSrc: String =
    """script "throw per event";
      |input  {event_id: Int, event_type: Str};
      |output {event_id: Int, route: Str, info: Str};
      |if (in.event_type == "error") { throw "boom:" + in.event_type; }
      |out {event_id: in.event_id, route: "ok", info: in.event_type};""".stripMargin

  def d11ThrowDlq(s: SparkSession, d: String): DataFrame = {
    val (good, dlq) = UdScript.compile(d11ThrowDlqSrc)
      .runEither(events(s, d, "event_id", "event_type"))
    good.unionAll(dlq.select(col("event_id"), lit("dlq").as("route"),
      col("_error").as("info")))
  }

  val d11ThrowDlqSql: String =
    """SELECT event_id,
      |  CASE WHEN event_type = 'error' THEN 'dlq' ELSE 'ok' END AS route,
      |  CASE WHEN event_type = 'error' THEN 'boom:error' ELSE event_type END AS info
      |FROM events ORDER BY event_id""".stripMargin

  /** D5: ingest validation (manual.md:48-49) — declared-schema semantic
    * checks with DLQ routing; good rows continue with parsed fields. All
    * driver events are valid (spec exercises the invalid paths). */
  def d5Validation(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ValidatedIngest._
    import org.apache.spark.sql.types._
    val ev = Tables.events(s, d)
    val rules = Seq(
      enumCheck("event_type",
        Seq("click", "view", "purchase", "signup", "error")),
      rangeCheck("value", 0.0, 1000.0),
      jsonParses("props", StructType(Seq(StructField("k", LongType)))))
    val v = validate(ev, rules, Dlq)
    v.good.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
  }

  val d5ValidationSql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE event_type IN ('click','view','purchase','signup','error')
      |  AND value >= 0.0 AND value <= 1000.0
      |  AND json_valid(props)
      |ORDER BY event_id""".stripMargin

  /** P1/P2: Dot field access + Has presence test over the props JSON column
    * (ast.rs:235-236). Note: get_json_object conflates absent and null —
    * the full absent-vs-null story (README.md:220-228) is handled at schema
    * level; here both engines agree on JSON-path semantics. */
  def p1DotHas(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.k").isNotNull.as("has_k"),
        get_json_object(col("props"), "$.missing").isNotNull.as("has_missing"))

  val p1DotHasSql: String =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |  json_extract(props, '$.k') IS NOT NULL AS has_k,
      |  json_extract(props, '$.missing') IS NOT NULL AS has_missing
      |FROM events ORDER BY event_id""".stripMargin

  /** P3: Index — uDLang is 0-based (manual.md:104), element_at is 1-based;
    * udIndex adjusts, OOB yields null in both engines. */
  def p3Index(s: SparkSession, d: String): DataFrame = {
    def udIndex(c: org.apache.spark.sql.Column, i: Int) = element_at(c, i + 1)
    val words = split(col("p_name"), " ")
    Tables.part(s, d)
      .select(col("p_partkey"),
        udIndex(words, 0).as("w0"),
        udIndex(words, 3).as("w3"))
  }

  val p3IndexSql: String =
    """SELECT p_partkey,
      |  list_extract(string_split(p_name, ' '), 1) AS w0,
      |  list_extract(string_split(p_name, ' '), 4) AS w3
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Wire-format round trip: events → msgpack record stream (one file per
    * partition, Hadoop FS API) → declared-schema read-back. The oracle
    * reads the same rows from parquet, so a green row proves the codec
    * preserves every value bit-exactly (int widths, float64, UTF-8). */
  def msgpackRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.lang.Ast._
    import graft.sources.{Msgpack, ValidatedIngest}
    val declared = TRecord(Seq(
      TField("event_id", TInt, absentOptional = false),
      TField("user_id", TInt, absentOptional = false),
      TField("event_type", TStr, absentOptional = false),
      TField("value", TFloat, absentOptional = false),
      TField("ts_us", TInt, absentOptional = false)))
    val src = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("ts_us"))
    val dir = "/tmp/graft_msgpack/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Msgpack.write(src, dir)
    Msgpack.read(s, dir, declared, ValidatedIngest.Abort).good
  }

  val msgpackRoundtripSql: String =
    """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
      |FROM events ORDER BY event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("msgpack_roundtrip", msgpackRoundtrip, msgpackRoundtripSql),
    Entry("d1_kernel_flatmap", d1KernelFlatmap, d1KernelFlatmapSql),
    Entry("d3_multi_emit_count", d3MultiEmitCount, d3MultiEmitCountSql),
    Entry("d_fact_kernel", dFactKernel, dFactKernelSql),
    Entry("d6_for_explode", d6ForExplode, d6ForExplodeSql),
    Entry("d7_for_map", d7ForMap, d7ForMapSql),
    Entry("d8_comprehension", d8Comprehension, d8ComprehensionSql),
    Entry("d9_suppose", d9Suppose, d9SupposeSql),
    Entry("d11_throw_dlq", d11ThrowDlq, d11ThrowDlqSql),
    Entry("d5_validation", d5Validation, d5ValidationSql),
    Entry("p1_dot_has", p1DotHas, p1DotHasSql),
    Entry("p3_index", p3Index, p3IndexSql)
  )
}
