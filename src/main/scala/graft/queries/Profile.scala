package graft.queries

import graft.Tables
import graft.plans.Sketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table profiling — the pass a 100-TB ingest runs BEFORE training to
  * decide whether the data is usable at all (the Deequ/"data quality
  * at scale" shape, single-pass and mergeable):
  *
  *  - `profile_table` / `profile_table_events` — per-column stats over
  *    `documents` / `events` in ONE aggregate pass: null count, min/max
  *    rendered length, exact min/max/sum of the value domain for
  *    numeric columns, and an HLL(p=10) distinct estimate. The whole
  *    profile is one agg whose state is fixed-size per column (1 KB of
  *    registers + seven longs), so the exchange carries kilobytes
  *    regardless of corpus size and partials merge map-side — the same
  *    contract as the sketch entries. An exact per-column distinct
  *    would shuffle every value of every column (the key-universe cost
  *    the HLL exists to avoid).
  *  - `profile_checks` — the constraint audit: named rules with exact
  *    violation counts (primary-key duplicates, nulls in required
  *    columns, `n_chars` disagreeing with `length(text)`, empty text,
  *    unknown language codes). The uniqueness rule shuffles only the
  *    8-byte key column with map-side partial counts; everything else
  *    folds in one scan.
  *
  * Determinism: distinct estimates use the repo's md5-derived 52-bit
  * hash of the value rendered as a string (BIGINT renders identically
  * in Spark and DuckDB), so the oracle replays every register
  * bit-for-bit; estimates are micro-fixed-point like the sketch
  * entries. No reference analog (builder-brief extension).
  */
object Profile {

  /** One profiled column: `name` in the report, an engine-identical
    * STRING rendering (the null/length/distinct domain — BIGINT renders
    * identically in Spark and DuckDB; doubles and timestamps are
    * canonicalized to BIGINT first, see the events profile) and an
    * optional exact BIGINT VALUE domain for min/max/sum. `sumable`
    * opts a numeric column out of sum_val when the sum cannot fit
    * int64 (epoch-microsecond timestamps overflow at ~5400 rows ×
    * 1.7e15 — Spark would wrap silently where DuckDB widens to
    * INT128; min/max stay exact either way). */
  private final case class ProfCol(name: String, sparkStr: String,
      duckStr: String, sparkNum: Option[String] = None,
      duckNum: Option[String] = None, sumable: Boolean = true)

  /** Profiled columns of `documents`. BIGINT/string only, so the
    * cast-to-string rendering is engine-identical; the two BIGINT
    * columns also get the exact value-domain stats. */
  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
    .map { c =>
      val num = if (c == "doc_id" || c == "n_chars")
        (Some(s"CAST($c AS BIGINT)"), Some(s"CAST($c AS BIGINT)"))
      else (None, None)
      // identifier sums are meaningless AND overflow-prone (a dense id
      // column sums ~n²/2 — past int64 at ~4.3B rows, where Spark
      // wraps silently with ANSI off); ids get min/max only. n_chars
      // sums ARE the profile (total corpus chars, bounded by corpus
      // bytes — fits int64 to ~9 EB of text).
      ProfCol(c, s"CAST($c AS STRING)", s"CAST($c AS VARCHAR)",
        num._1, num._2, sumable = c == "n_chars")
    }

  /** Profiled columns of `events` — the warehouse's other fixture
    * table, with the non-BIGINT types canonicalized the way every
    * graft oracle renders them: timestamps as epoch MICROSECONDS
    * (unix_micros ↔ epoch_us — exact integers) and doubles as
    * micro-fixed-point (the CAST(round(v*1e6) AS BIGINT) convention),
    * so hashing, lengths, and the value stats are engine-identical. */
  private val eventCols = Seq(
    // id columns: min/max only (the docCols identifier-sum rationale)
    ProfCol("event_id", "CAST(event_id AS STRING)",
      "CAST(event_id AS VARCHAR)",
      Some("CAST(event_id AS BIGINT)"), Some("CAST(event_id AS BIGINT)"),
      sumable = false),
    ProfCol("event_type", "CAST(event_type AS STRING)",
      "CAST(event_type AS VARCHAR)"),
    ProfCol("props", "CAST(props AS STRING)", "CAST(props AS VARCHAR)"),
    ProfCol("ts_us", "CAST(unix_micros(ts) AS STRING)",
      "CAST(epoch_us(ts) AS VARCHAR)",
      Some("unix_micros(ts)"), Some("epoch_us(ts)"), sumable = false),
    ProfCol("user_id", "CAST(user_id AS STRING)",
      "CAST(user_id AS VARCHAR)",
      Some("CAST(user_id AS BIGINT)"), Some("CAST(user_id AS BIGINT)"),
      sumable = false),
    // micro units sum to ~1e6 × Σ|value| — int64-safe to ~9e12 of
    // absolute value mass, the documented bound of the convention
    ProfCol("value_micro", "CAST(CAST(round(value * 1000000e0) AS BIGINT)" +
      " AS STRING)", "CAST(CAST(round(value * 1000000e0) AS BIGINT)" +
      " AS VARCHAR)",
      Some("CAST(round(value * 1000000e0) AS BIGINT)"),
      Some("CAST(round(value * 1000000e0) AS BIGINT)")))

  /** The one-pass profiler over any table: every per-column stat —
    * nulls, min/max rendered length, exact min/max/sum of the BIGINT
    * value domain where one exists, and the HLL(p=10) distinct
    * registers — folds in ONE wide aggregate whose state is fixed-size
    * per column, so the exchange carries kilobytes at any corpus size
    * and partials merge map-side. */
  private def profileOver(src: DataFrame, pcols: Seq[ProfCol]): DataFrame = {
    val aggs = pcols.flatMap { pc =>
      val sv = expr(pc.sparkStr)
      val nv = pc.sparkNum.map(expr).getOrElse(lit(null).cast("long"))
      val h52 = s"CAST(conv(substr(md5(${pc.sparkStr}), 1, 13), 16, 10)" +
        " AS BIGINT)"
      Seq(
        sum(when(sv.isNull, 1L).otherwise(0L)).as(s"${pc.name}__nulls"),
        min(length(sv)).as(s"${pc.name}__minlen"),
        max(length(sv)).as(s"${pc.name}__maxlen"),
        min(nv).as(s"${pc.name}__minv"),
        max(nv).as(s"${pc.name}__maxv"),
        sum(if (pc.sumable) nv else lit(null).cast("long"))
          .as(s"${pc.name}__sumv"),
        Sketch.hll(expr(h52), 10).as(s"${pc.name}__regs"))
    }
    val one = src.agg(aggs.head, aggs.tail: _*)
    // Long form via stack (still the one agg row — no re-execution of
    // the corpus pass per column), then the shared HLL summary math.
    val stacked = one.select(expr(
      "stack(" + pcols.size + ", " + pcols.map(pc =>
        s"'${pc.name}', ${pc.name}__nulls, ${pc.name}__minlen, " +
          s"${pc.name}__maxlen, ${pc.name}__minv, ${pc.name}__maxv, " +
          s"${pc.name}__sumv, ${pc.name}__regs")
        .mkString(", ") + ") AS (col_name, nulls, min_len, max_len, " +
        "min_val, max_val, sum_val, regs)"))
    // the shared register→estimate math (Sketches.hllSummary) — one
    // copy of the HLL constants, not a third
    Sketches.hllSummary(stacked)
      .withColumnRenamed("est_micro", "distinct_micro")
      .select("col_name", "nulls", "min_len", "max_len",
        "min_val", "max_val", "sum_val",
        "v_zero", "s_scaled", "distinct_micro")
  }

  def profileTable(s: SparkSession, d: String): DataFrame =
    profileOver(Tables.documents(s, d), docCols)

  def profileTableEvents(s: SparkSession, d: String): DataFrame =
    profileOver(Tables.events(s, d), eventCols)

  /** The oracle: ONE unnest-widened scan feeds both the stats
    * aggregate and the register replay (the round-13 form issued three
    * scalar subqueries plus a register scan PER COLUMN — 20 table
    * scans for one entry). A LEFT JOIN + empty-register defaults keep
    * an all-null column well-defined (v_zero=1024 ⇒ estimate 0, the
    * same linear-counting row the Spark side emits). */
  private def profileSqlOver(table: String, pcols: Seq[ProfCol]): String = {
    val structs = pcols.map { pc =>
      val vn = pc.duckNum.getOrElse("CAST(NULL AS BIGINT)")
      val vs = if (pc.sumable) vn else "CAST(NULL AS BIGINT)"
      s"{'col_name': '${pc.name}', 'v': ${pc.duckStr}, 'vn': $vn, " +
        s"'vs': $vs}"
    }.mkString(",\n      ")
    s"""WITH vals AS (
       |  SELECT unnest([
       |      $structs
       |    ], recursive := true)
       |  FROM $table),
       |longstats AS (
       |  SELECT col_name,
       |    CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nulls,
       |    CAST(min(length(v)) AS INT) AS min_len,
       |    CAST(max(length(v)) AS INT) AS max_len,
       |    CAST(min(vn) AS BIGINT) AS min_val,
       |    CAST(max(vn) AS BIGINT) AS max_val,
       |    CAST(sum(vs) AS BIGINT) AS sum_val
       |  FROM vals GROUP BY col_name),
       |reg AS (
       |  SELECT col_name, h % 1024 AS j,
       |    max(CASE WHEN h // 1024 = 0 THEN 43
       |        ELSE 43 - length(format('{:b}', h // 1024)) END) AS rho
       |  FROM (SELECT col_name, ('0x' || substr(md5(v), 1, 13))::BIGINT AS h
       |        FROM vals WHERE v IS NOT NULL) hh
       |  GROUP BY 1, 2),
       |regsum AS (
       |  SELECT col_name, 1024 - count(*) AS v_zero,
       |    CAST(coalesce(sum(1::BIGINT << (43 - rho)), 0)
       |      + (1024 - count(*)) * (1::BIGINT << 43) AS BIGINT) AS s_scaled
       |  FROM reg GROUP BY col_name),
       |est AS (
       |  SELECT col_name, v_zero, s_scaled,
       |    0.7213e0 / (1e0 + 1.079e0 / 1024e0) * 1024e0 * 1024e0
       |      * 8796093022208e0 / CAST(s_scaled AS DOUBLE) AS raw_est
       |  FROM regsum)
       |SELECT l.col_name, l.nulls, l.min_len, l.max_len,
       |  l.min_val, l.max_val, l.sum_val,
       |  coalesce(e.v_zero, 1024) AS v_zero,
       |  coalesce(e.s_scaled, 1024 * (1::BIGINT << 43)) AS s_scaled,
       |  CAST(round(CASE WHEN e.col_name IS NULL THEN 0e0
       |    WHEN e.raw_est <= 2560e0 AND e.v_zero > 0
       |    THEN 1024e0 * ln(1024e0 / CAST(e.v_zero AS DOUBLE))
       |    ELSE e.raw_est END * 1000000e0) AS BIGINT) AS distinct_micro
       |FROM longstats l LEFT JOIN est e USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  val profileTableSql: String = profileSqlOver("documents", docCols)
  val profileTableEventsSql: String = profileSqlOver("events", eventCols)

  /** Known language codes for the whitelist rule (the fixture's
    * universe; a real run loads this from config). */
  private val knownLangs = Seq("en", "de", "es", "fr", "zh")

  def profileChecks(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d)
    // Single-scan rules fold in one aggregate; the uniqueness rule is
    // its own pass because it must shuffle the key column (exact dup
    // count IS the audit) — map-side combine first, 8-byte keys only.
    val scanRules = src.select(
      sum(when(col("doc_id").isNull || col("lang").isNull ||
        col("text").isNull, 1L).otherwise(0L)).as("null_required"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .as("n_chars_mismatch"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("empty_text"),
      sum(when(!col("lang").isin(knownLangs.map(x => x: Any): _*), 1L)
        .otherwise(0L)).as("unknown_lang"))
    val dupKeys = src.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .where(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L)).as("dup_doc_id"))
    scanRules.join(broadcast(dupKeys))
      .select(expr(
        "stack(5, 'dup_doc_id', dup_doc_id, 'empty_text', empty_text," +
          " 'n_chars_mismatch', n_chars_mismatch," +
          " 'null_required', null_required, 'unknown_lang', unknown_lang)" +
          " AS (rule, violations)"))
  }

  val profileChecksSql: String =
    s"""WITH scan AS (
       |  SELECT
       |    CAST(sum(CASE WHEN doc_id IS NULL OR lang IS NULL OR text IS NULL
       |      THEN 1 ELSE 0 END) AS BIGINT) AS null_required,
       |    CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_chars_mismatch,
       |    CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS empty_text,
       |    CAST(sum(CASE WHEN lang NOT IN (${knownLangs.map("'" + _ + "'").mkString(", ")})
       |      THEN 1 ELSE 0 END) AS BIGINT) AS unknown_lang
       |  FROM documents),
       |dup AS (
       |  SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS dup_doc_id
       |  FROM (SELECT doc_id, count(*) AS c FROM documents
       |        GROUP BY 1 HAVING count(*) > 1))
       |SELECT rule, violations FROM (
       |  SELECT 'dup_doc_id' AS rule, dup_doc_id AS violations FROM dup
       |  UNION ALL SELECT 'empty_text', empty_text FROM scan
       |  UNION ALL SELECT 'n_chars_mismatch', n_chars_mismatch FROM scan
       |  UNION ALL SELECT 'null_required', null_required FROM scan
       |  UNION ALL SELECT 'unknown_lang', unknown_lang FROM scan)
       |ORDER BY rule""".stripMargin

  /** Distribution-drift audit between two corpus slices (the
    * training-vs-incoming shift monitor): smoothed per-token KL and
    * total-variation contributions over the reference slice's top-200
    * tokens. Sides = doc_id parity (the kmv convention — any real run
    * substitutes snapshot ids). Scale shape: ONE (side, token) counted
    * aggregate with map-side combine (the text_vocab exchange — counts,
    * never instances), top-200 via TakeOrdered (per-partition heaps),
    * and the scoring join broadcasts those 200 tokens back onto the
    * vocabulary-sized count table.
    *
    * Determinism: counts are exact BIGINTs; probabilities are add-1
    * smoothed rationals evaluated in ONE correctly-rounded double
    * division each; each token's KL/TV contribution is micro-rounded
    * BEFORE any summation (the repo's fixed-point convention), so the
    * output is hash-exact per token. Accepted wobble: kl_micro passes
    * through ln(), which is not correctly rounded in either engine
    * (JVM Math.log vs DuckDB libm) — a 1-ulp disagreement could in
    * principle flip a micro-round at an exact .5 boundary. Same
    * convention as the HLL linear-counting estimate (Sketches): the
    * fixture values sit nowhere near a boundary, and a real deployment
    * comparing engines should allow ±1 micro on ln-derived columns. */
  def profileDrift(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select((col("doc_id") % 2).cast("int").as("side"),
        explode(split(col("text"), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_a"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_b"))
    val totals = counts.agg(sum("c_a").as("tot_a"), sum("c_b").as("tot_b"))
    val top = counts
      .orderBy(col("c_a").desc, col("tok")) // TakeOrdered, not a sort
      .limit(200)
    top.crossJoin(broadcast(totals))
      .withColumn("p_a", expr(
        "CAST(c_a + 1 AS DOUBLE) / CAST(tot_a + 200 AS DOUBLE)"))
      .withColumn("p_b", expr(
        "CAST(c_b + 1 AS DOUBLE) / CAST(tot_b + 200 AS DOUBLE)"))
      .select(col("tok"), col("c_a"), col("c_b"),
        expr("CAST(round(p_a * ln(p_a / p_b) * 1000000e0) AS BIGINT)")
          .as("kl_micro"),
        expr("CAST(round(abs(p_a - p_b) / 2e0 * 1000000e0) AS BIGINT)")
          .as("tv_micro"))
  }

  val profileDriftSql: String =
    """WITH toks AS (
      |  SELECT CAST(doc_id % 2 AS INT) AS side,
      |    unnest(string_split_regex(text, '\s+')) AS tok
      |  FROM documents),
      |counts AS (
      |  SELECT tok,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      |  FROM toks WHERE length(tok) > 0 GROUP BY 1),
      |totals AS (
      |  SELECT CAST(sum(c_a) AS BIGINT) AS tot_a,
      |    CAST(sum(c_b) AS BIGINT) AS tot_b FROM counts),
      |top AS (
      |  SELECT tok, c_a, c_b FROM counts
      |  ORDER BY c_a DESC, tok LIMIT 200),
      |p AS (
      |  SELECT tok, c_a, c_b,
      |    CAST(c_a + 1 AS DOUBLE) / CAST(tot_a + 200 AS DOUBLE) AS p_a,
      |    CAST(c_b + 1 AS DOUBLE) / CAST(tot_b + 200 AS DOUBLE) AS p_b
      |  FROM top, totals)
      |SELECT tok, c_a, c_b,
      |  CAST(round(p_a * ln(p_a / p_b) * 1000000e0) AS BIGINT) AS kl_micro,
      |  CAST(round(abs(p_a - p_b) / 2e0 * 1000000e0) AS BIGINT) AS tv_micro
      |FROM p ORDER BY tok""".stripMargin

  /** Referential-integrity audit across the star schema: orphan ROW
    * counts per foreign key (fact rows whose key has no dimension
    * match). Scale shape: each fact side pre-aggregates to (key, count)
    * with map-side combine BEFORE the anti join — the exchange carries
    * one row per distinct key, never fact instances — and the anti
    * join's dim side ships keys only. A clean warehouse reports zeros;
    * the entry is the gate a 100-TB ingest runs before joining
    * anything. */
  def profileFkOrphans(s: SparkSession, d: String): DataFrame = {
    def orphans(fact: DataFrame, fk: String, dim: DataFrame,
                pk: String): DataFrame =
      fact.groupBy(col(fk).as("k")).agg(count(lit(1)).as("c"))
        .join(dim.select(col(pk).as("k")).distinct(), Seq("k"), "left_anti")
        .agg(coalesce(sum("c"), lit(0L)).as("orphans"))
    val li = Tables.lineitem(s, d)
    Seq(
      ("lineitem.l_orderkey->orders",
        orphans(li, "l_orderkey", Tables.orders(s, d), "o_orderkey")),
      ("lineitem.l_partkey->part",
        orphans(li, "l_partkey", Tables.part(s, d), "p_partkey")),
      ("lineitem.l_suppkey->supplier",
        orphans(li, "l_suppkey", Tables.supplier(s, d), "s_suppkey")),
      ("orders.o_custkey->customer",
        orphans(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey")))
      .map { case (name, df) => df.select(lit(name).as("fk"), col("orphans")) }
      .reduce(_.unionAll(_))
  }

  /** NOT EXISTS, not NOT IN: the Spark side is a left_anti join, whose
    * NULL semantics differ from NOT IN exactly in the dirty-data regime
    * this audit exists for — a NULL fact key IS an orphan under
    * left_anti (matches nothing), and a NULL dimension key must not
    * poison the whole predicate to NULL the way NOT IN does. */
  val profileFkOrphansSql: String =
    """SELECT fk, orphans FROM (
      |  SELECT 'lineitem.l_orderkey->orders' AS fk,
      |    CAST(coalesce(sum(c), 0) AS BIGINT) AS orphans
      |  FROM (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1) g
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = g.k)
      |  UNION ALL
      |  SELECT 'lineitem.l_partkey->part',
      |    CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1) g
      |  WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = g.k)
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1) g
      |  WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = g.k)
      |  UNION ALL
      |  SELECT 'orders.o_custkey->customer',
      |    CAST(coalesce(sum(c), 0) AS BIGINT)
      |  FROM (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1) g
      |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = g.k))
      |ORDER BY fk""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("profile_table", profileTable, profileTableSql),
    Entry("profile_table_events", profileTableEvents, profileTableEventsSql),
    Entry("profile_checks", profileChecks, profileChecksSql),
    Entry("profile_drift", profileDrift, profileDriftSql),
    Entry("profile_fk_orphans", profileFkOrphans, profileFkOrphansSql)
  )
}
