package graft.queries

import graft.Tables
import graft.plans.Sketch
import graft.sinks.ArtifactStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable-sketch entries (round 12) — the approximate
  * cardinality/frequency primitives a 100-TB corpus run leans on when
  * the exact answer would shuffle the key universe:
  *
  *  - `sketch_hll_shingles` — HLL(p=10) distinct-shingle count per
  *    language. One pass, 1 KB of state per group on the exchange; no
  *    exact twin in the entry (accuracy pinned in SketchSpec — the
  *    100×-tier lesson below).
  *  - `sketch_hll_cube_build/serve` — the stored sketch-rollup pair:
  *    per-(lang, source) register cells committed once, rollups served
  *    by register-wise max with no corpus rescan.
  *  - `sketch_cms_topk` — count–min (4×512) token-frequency sketch,
  *    probed at the exact top-15 tokens; pins the overestimate-only
  *    invariant row by row.
  *  - `sketch_kmv_intersect` — bottom-k theta sketch (k=256) per corpus
  *    half, with distinct-count and set-intersection estimates from the
  *    merged theta cut.
  *
  * 100×-tier lesson (round 12): the first cut shipped exact
  * count(DISTINCT) twins inside the HLL/KMV entries — at 50M shingles
  * that twin shuffled 817 MB where the sketch ships kilobytes, i.e. the
  * entry paid exactly the cost the sketch exists to avoid. The twins
  * now live in SketchSpec (small-SF accuracy pins); the entries are
  * pure sketch passes.
  *
  * Determinism: every hash is the repo's md5-derived 52-bit integer
  * (`conv(substr(md5(x),1,13),16,10)`), so the DuckDB oracle recomputes
  * registers/counters/minima EXACTLY; estimates are emitted micro-
  * fixed-point (×1e6, rounded) — the PageRank fixed-point convention —
  * so the only cross-engine float ops are IEEE-exact multiplies/divides
  * plus one `ln` whose 1-ulp wobble cannot move a 1e-6-grain rounding.
  * Sketch internals live in `plans/SketchAggs.scala`
  * (TypedImperativeAggregate — map-side partials, reduce-side register
  * merges). No reference analog (builder-brief extension).
  */
object Sketches {

  private val ws = "\\s+"

  /** 52-bit md5-derived hash of a string column (the dedup_minhash_lsh
    * key convention — DuckDB: ('0x'||substr(md5(x),1,13))::BIGINT). */
  private def h52(c: String): String =
    s"CAST(conv(substr(md5($c), 1, 13), 16, 10) AS BIGINT)"

  /** Word trigrams per doc: (doc_id, lang, source, shingle). */
  private[graft] def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        split(col("text"), ws).as("t"))
      .select(col("doc_id"), col("lang"), col("source"),
        explode(when(size(col("t")) >= 3, expr(
          "transform(sequence(1, size(t) - 2)," +
            " i -> array_join(slice(t, i, 3), ' '))"))
          .otherwise(expr("array()"))).as("s"))

  // ------------------------------------------------------------------
  // sketch_hll_shingles
  // ------------------------------------------------------------------

  /** Summary/estimate columns over a `regs` register-array column —
    * shared by the direct entry and the cube serve (must stay
    * identical: the serve's oracle IS the direct formula).
    * j = low 10 bits, rho = leading-zero run (+1) of the 42-bit rest;
    * raw estimate = alpha·m²·2^43 / Σ 2^(43−rho) (the scaled sum is an
    * exact BIGINT ≤ 2^53), linear counting below 2.5m. The register
    * array itself is the aggregate's output, so the summary is plain
    * column math the oracle replays bit-for-bit. */
  private[queries] def hllSummary(df: DataFrame): DataFrame = df
    .withColumn("v_zero", expr(
      "aggregate(regs, 0L, (a, r) -> a + IF(r = 0, 1L, 0L))"))
    .withColumn("s_scaled", expr(
      "aggregate(regs, 0L, (a, r) -> a + shiftleft(1L, 43 - r))"))
    .withColumn("raw_est", expr(
      "0.7213e0 / (1e0 + 1.079e0 / 1024e0) * 1024e0 * 1024e0" +
        " * 8796093022208e0 / CAST(s_scaled AS DOUBLE)"))
    .withColumn("est_micro", expr(
      "CAST(round(CASE WHEN raw_est <= 2560e0 AND v_zero > 0" +
        " THEN 1024e0 * ln(1024e0 / CAST(v_zero AS DOUBLE))" +
        " ELSE raw_est END * 1000000e0) AS BIGINT)"))

  def hllShingles(s: SparkSession, d: String): DataFrame = {
    // No exact twin IN the entry: a count(DISTINCT) here would shuffle
    // the key universe (measured 817 MB / 338s at the 100× tier vs the
    // pure sketch's 3 MB / 23s — the exact cost the sketch exists to
    // avoid). Accuracy is pinned in SketchSpec against a separately
    // computed exact count; the oracle replays the registers exactly.
    val regs = shingles(s, d)
      .withColumn("h", expr(h52("s")))
      .groupBy("lang")
      .agg(Sketch.hll(col("h"), 10).as("regs"))
    hllSummary(regs)
      .select("lang", "v_zero", "s_scaled", "est_micro")
  }

  val hllShinglesSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split_regex(text, '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |hh AS (
      |  SELECT lang, s, ('0x' || substr(md5(s), 1, 13))::BIGINT AS h FROM sh),
      |reg AS (
      |  SELECT lang, h % 1024 AS j,
      |    max(CASE WHEN h // 1024 = 0 THEN 43
      |        ELSE 43 - length(format('{:b}', h // 1024)) END) AS rho
      |  FROM hh GROUP BY 1, 2),
      |summ AS (
      |  SELECT lang,
      |    1024 - count(*) AS v_zero,
      |    CAST(sum(1::BIGINT << (43 - rho))
      |      + (1024 - count(*)) * (1::BIGINT << 43) AS BIGINT) AS s_scaled
      |  FROM reg GROUP BY 1),
      |est AS (
      |  SELECT lang, v_zero, s_scaled,
      |    0.7213e0 / (1e0 + 1.079e0 / 1024e0) * 1024e0 * 1024e0
      |      * 8796093022208e0 / CAST(s_scaled AS DOUBLE) AS raw_est
      |  FROM summ)
      |SELECT lang, v_zero, s_scaled,
      |  CAST(round(CASE WHEN raw_est <= 2560e0 AND v_zero > 0
      |    THEN 1024e0 * ln(1024e0 / CAST(v_zero AS DOUBLE))
      |    ELSE raw_est END * 1000000e0) AS BIGINT) AS est_micro
      |FROM est
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // sketch_hll_cube_build / sketch_hll_cube_serve
  // ------------------------------------------------------------------

  /** The stored sketch-rollup pattern: per-(lang, source) register
    * shards committed once (ONE corpus pass), after which ANY rollup of
    * those cells — per language, per source, whole corpus — is answered
    * by register-wise max over 1 KB rows, never by rescanning the
    * corpus. Build commits the cell grid through ArtifactStore (the
    * idx_* and tok_* restart convention), reporting per-cell
    * summaries. */
  private[graft] def cubeKey(s: SparkSession, d: String): String =
    LlmPipeline.docKey(s, d, "hll_cube", "p10w3")

  def hllCubeBuild(s: SparkSession, d: String): DataFrame = {
    val key = cubeKey(s, d) // fingerprint pass once, not per artifact op
    val regs = shingles(s, d)
      .withColumn("h", expr(h52("s")))
      .groupBy("lang", "source")
      .agg(Sketch.hll(col("h"), 10).as("regs"))
    ArtifactStore.commit(regs, key)
    // summarize from the COMMITTED artifact, not the live plan — the
    // live frame would re-run the whole corpus aggregation a second
    // time (measured: 532s → ~265s at the 1000× tier), and reading
    // back what was written is also the honest load==build check
    hllSummary(ArtifactStore.load(s, key))
      .select("lang", "source", "v_zero", "s_scaled")
  }

  val hllCubeBuildSql: String =
    """WITH toks AS (
      |  SELECT lang, source, string_split_regex(text, '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT lang, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |hh AS (
      |  SELECT lang, source, s,
      |    ('0x' || substr(md5(s), 1, 13))::BIGINT AS h FROM sh),
      |reg AS (
      |  SELECT lang, source, h % 1024 AS j,
      |    max(CASE WHEN h // 1024 = 0 THEN 43
      |        ELSE 43 - length(format('{:b}', h // 1024)) END) AS rho
      |  FROM hh GROUP BY 1, 2, 3)
      |SELECT lang, source,
      |  1024 - count(*) AS v_zero,
      |  CAST(sum(1::BIGINT << (43 - rho))
      |    + (1024 - count(*)) * (1::BIGINT << 43) AS BIGINT) AS s_scaled
      |FROM reg GROUP BY 1, 2
      |ORDER BY lang, source""".stripMargin

  /** Serve: answer the per-language distinct question FROM the loaded
    * cell artifact by register-wise max across each language's source
    * cells — no corpus access. The oracle is the DIRECT per-language
    * formula (hllShinglesSql minus the exact twin): matching it proves
    * merged-rollup == whole-partition sketch end to end. */
  def hllCubeServe(s: SparkSession, d: String): DataFrame = {
    val art = ArtifactStore.getOrBuild(s, cubeKey(s, d)) {
      shingles(s, d)
        .withColumn("h", expr(h52("s")))
        .groupBy("lang", "source")
        .agg(Sketch.hll(col("h"), 10).as("regs"))
    }
    val merged = art.groupBy("lang")
      .agg(collect_list(col("regs")).as("rl"))
      .withColumn("regs", expr(
        "aggregate(rl, array_repeat(0, 1024)," +
          " (acc, r) -> zip_with(acc, r, (a, b) -> greatest(a, b)))"))
    hllSummary(merged)
      .select("lang", "v_zero", "s_scaled", "est_micro")
  }

  val hllCubeServeSql: String =
    """WITH toks AS (
      |  SELECT lang, string_split_regex(text, '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT lang, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |hh AS (
      |  SELECT lang, s, ('0x' || substr(md5(s), 1, 13))::BIGINT AS h FROM sh),
      |reg AS (
      |  SELECT lang, h % 1024 AS j,
      |    max(CASE WHEN h // 1024 = 0 THEN 43
      |        ELSE 43 - length(format('{:b}', h // 1024)) END) AS rho
      |  FROM hh GROUP BY 1, 2),
      |summ AS (
      |  SELECT lang,
      |    1024 - count(*) AS v_zero,
      |    CAST(sum(1::BIGINT << (43 - rho))
      |      + (1024 - count(*)) * (1::BIGINT << 43) AS BIGINT) AS s_scaled
      |  FROM reg GROUP BY 1),
      |est AS (
      |  SELECT lang, v_zero, s_scaled,
      |    0.7213e0 / (1e0 + 1.079e0 / 1024e0) * 1024e0 * 1024e0
      |      * 8796093022208e0 / CAST(s_scaled AS DOUBLE) AS raw_est
      |  FROM summ)
      |SELECT lang, v_zero, s_scaled,
      |  CAST(round(CASE WHEN raw_est <= 2560e0 AND v_zero > 0
      |    THEN 1024e0 * ln(1024e0 / CAST(v_zero AS DOUBLE))
      |    ELSE raw_est END * 1000000e0) AS BIGINT) AS est_micro
      |FROM est
      |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // sketch_cms_topk
  // ------------------------------------------------------------------

  /** Count–min (d=4, w=512) over token instances; probe at the exact
    * top-15 tokens (count DESC, token ASC — deterministic). The sketch
    * is ONE 16 KB row built in one pass (map-side partials); the probe
    * side is 15 rows, so the join is a broadcast of constants. ge_ok
    * pins the overestimate-only invariant. */
  /** The d row-hashes carved from ONE md5 (8 hex chars each): hashing
    * was the 100×-tier hot spot — four per-seed md5s per token instance
    * allocated 4× the digest strings and spent 163s of the 208s wall in
    * task GC; one digest carved four ways is the same independence
    * (md5's bits are pairwise independent across the digest) at a
    * quarter of the allocation. */
  private def cmsRowHash(r: Int): String =
    s"CAST(conv(substr(md5(tok), ${r * 8 + 1}, 8), 16, 10) AS BIGINT) % 512"

  def cmsTopk(s: SparkSession, d: String): DataFrame = {
    // combine-then-sketch: instances pre-aggregate to (tok, count) rows
    // map-side (vocabulary-sized), so hashing runs once per DISTINCT
    // token and the CMS updates are weighted — the 100×-tier fix
    // (hash-per-instance spent 63s of a 94s wall in allocation GC)
    val counts = Tables.documents(s, d)
      .select(explode(split(col("text"), ws)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val hs = (0 until 4).map(r => expr(cmsRowHash(r))).toArray
    val sketch = counts
      .withColumn("hs", array(hs.toIndexedSeq: _*))
      .agg(Sketch.cms(col("hs"), col("exact_cnt"), 4, 512).as("counters"))
    val top = counts
      .orderBy(col("exact_cnt").desc, col("tok")).limit(15)
    // 15 rows × 1 sketch row: constant-size broadcast cross join
    top.crossJoin(broadcast(sketch))
      .withColumn("est_cnt", expr((0 until 4).map(r =>
        s"element_at(counters, ${r * 512} +" +
          s" CAST(${cmsRowHash(r)} AS INT) + 1)")
        .mkString("least(", ", ", ")")))
      .withColumn("ge_ok", col("est_cnt") >= col("exact_cnt"))
      .select("tok", "exact_cnt", "est_cnt", "ge_ok")
  }

  val cmsTopkSql: String =
    """WITH tk AS (
      |  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
      |hs AS (
      |  SELECT tok, r,
      |    ('0x' || substr(md5(tok), r * 8 + 1, 8))::BIGINT % 512 AS c
      |  FROM (SELECT DISTINCT tok FROM tk) t,
      |    LATERAL (SELECT unnest([0, 1, 2, 3]) AS r) g),
      |cnt AS (
      |  SELECT h.r, h.c, count(*) AS n
      |  FROM tk JOIN hs h ON h.tok = tk.tok GROUP BY 1, 2),
      |ex AS (
      |  SELECT tok, count(*) AS exact_cnt FROM tk GROUP BY 1
      |  ORDER BY exact_cnt DESC, tok LIMIT 15)
      |SELECT e.tok, e.exact_cnt, min(cnt.n) AS est_cnt,
      |  min(cnt.n) >= e.exact_cnt AS ge_ok
      |FROM ex e
      |JOIN hs ON hs.tok = e.tok
      |JOIN cnt ON cnt.r = hs.r AND cnt.c = hs.c
      |GROUP BY 1, 2
      |ORDER BY e.exact_cnt DESC, e.tok""".stripMargin

  // ------------------------------------------------------------------
  // sketch_kmv_intersect
  // ------------------------------------------------------------------

  /** KMV/theta (k=256) over the distinct-shingle hashes of the two
    * corpus halves (doc_id parity). Distinct estimate per side =
    * (k−1)·2^52 / kth-min (exact size when the side holds < k distinct
    * values); intersection from the merged theta cut: U = k smallest of
    * a ∪ b, tau = max(U), est = |U ∩ a ∩ b| · 2^52 / tau (exact when
    * |a ∪ b| < k — theta = 1). Both sketches come out of ONE global
    * aggregate row (conditional inputs), so the whole entry is one
    * pass + constant-size column math. */
  def kmvIntersect(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
      .withColumn("side", col("doc_id") % 2)
      .withColumn("h", expr(h52("s")))
    // No exact twins IN the entry (the 100×-tier lesson: the
    // count(DISTINCT) pair shuffled 354 MB of shingles where the two
    // sketches ship ≤4 KB). Accuracy pinned in SketchSpec.
    val row = sh.agg(
      Sketch.kmv(when(col("side") === 0, col("h")), 256).as("a"),
      Sketch.kmv(when(col("side") === 1, col("h")), 256).as("b"))
    row
      .withColumn("u", expr("slice(array_sort(array_union(a, b)), 1, 256)"))
      .withColumn("ku", expr("size(u)"))
      // empty-corpus guard: element_at(u, 0) is an ANSI error, and an
      // empty union means theta = 1 (the ku < 256 branch) — tau unused
      .withColumn("tau", expr(
        "CASE WHEN size(u) = 0 THEN NULL ELSE element_at(u, size(u)) END"))
      .withColumn("inter_in_u", expr(
        "size(array_intersect(array_intersect(u, a), b))"))
      .withColumn("est_a_micro", expr(
        "CAST(round(CASE WHEN size(a) < 256 THEN CAST(size(a) AS DOUBLE)" +
          " ELSE 255e0 * 4503599627370496e0 / CAST(element_at(a, 256) AS DOUBLE)" +
          " END * 1000000e0) AS BIGINT)"))
      .withColumn("est_b_micro", expr(
        "CAST(round(CASE WHEN size(b) < 256 THEN CAST(size(b) AS DOUBLE)" +
          " ELSE 255e0 * 4503599627370496e0 / CAST(element_at(b, 256) AS DOUBLE)" +
          " END * 1000000e0) AS BIGINT)"))
      .withColumn("inter_est_micro", expr(
        "CAST(round(CASE WHEN ku < 256 THEN CAST(inter_in_u AS DOUBLE)" +
          " ELSE CAST(inter_in_u AS DOUBLE) * 4503599627370496e0" +
          " / CAST(tau AS DOUBLE) END * 1000000e0) AS BIGINT)"))
      .select("est_a_micro", "est_b_micro",
        "ku", "tau", "inter_in_u", "inter_est_micro")
  }

  val kmvIntersectSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id % 2 AS side,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) g
      |  WHERE len(t) >= 3),
      |hh AS (
      |  SELECT DISTINCT side, s, ('0x' || substr(md5(s), 1, 13))::BIGINT AS h
      |  FROM sh),
      |ka AS (SELECT list(h ORDER BY h) AS a FROM (
      |  SELECT DISTINCT h FROM hh WHERE side = 0 ORDER BY h LIMIT 256)),
      |kb AS (SELECT list(h ORDER BY h) AS b FROM (
      |  SELECT DISTINCT h FROM hh WHERE side = 1 ORDER BY h LIMIT 256)),
      |m AS (
      |  SELECT a, b,
      |    list_sort(list_distinct(a || b))[1:256] AS u
      |  FROM ka, kb),
      |c AS (
      |  SELECT a, b, u,
      |    len(u) AS ku,
      |    CASE WHEN len(u) = 0 THEN NULL ELSE u[len(u)] END AS tau,
      |    len(list_filter(u, x -> list_contains(a, x)
      |      AND list_contains(b, x))) AS inter_in_u
      |  FROM m)
      |SELECT
      |  CAST(round(CASE WHEN len(a) < 256 THEN CAST(len(a) AS DOUBLE)
      |    ELSE 255e0 * 4503599627370496e0 / CAST(a[256] AS DOUBLE)
      |    END * 1000000e0) AS BIGINT) AS est_a_micro,
      |  CAST(round(CASE WHEN len(b) < 256 THEN CAST(len(b) AS DOUBLE)
      |    ELSE 255e0 * 4503599627370496e0 / CAST(b[256] AS DOUBLE)
      |    END * 1000000e0) AS BIGINT) AS est_b_micro,
      |  ku, tau, inter_in_u,
      |  CAST(round(CASE WHEN ku < 256 THEN CAST(inter_in_u AS DOUBLE)
      |    ELSE CAST(inter_in_u AS DOUBLE) * 4503599627370496e0
      |    / CAST(tau AS DOUBLE) END * 1000000e0) AS BIGINT) AS inter_est_micro
      |FROM c""".stripMargin

  // ------------------------------------------------------------------
  // sketch_quantiles
  // ------------------------------------------------------------------

  /** Mergeable quantile sketch: per-lang p50/p90/p99 of document length
    * via an HDR-histogram-style log-linear bucketing (octave = bit
    * length, 16 linear sub-buckets per octave => relative error <=
    * 1/16). Unlike DDSketch/t-digest the bucket index is PURE INTEGER
    * math — `e = bitlen(x)-1`, `sub = (x - 2^e) >> (e-4)` — so there
    * is no `ln` boundary wobble to adjudicate cross-engine: the DuckDB
    * oracle replays every bucket count exactly.
    *
    * Scale shape: the only exchange carries the bounded histogram —
    * at most langs × 64 octaves × 16 sub-buckets rows regardless of
    * corpus size (map-side combine folds each task's rows into local
    * bucket counts first). The per-lang cumulative window runs over
    * that same bounded histogram, never the corpus. An exact
    * percentile at 100 TB would instead global-sort the value column;
    * this is the published HdrHistogram/log-linear idiom (Tene,
    * HdrHistogram; DDSketch, Masson et al. VLDB'19) for percentiles
    * that merge across partitions/time windows.
    *
    * Output per (lang, q): the first bucket whose cumulative count
    * reaches ceil(q·total/100), its lower bound in 16ths (`lo16`; the
    * true quantile lies in [lo16/16, lo16/16·(1+1/16))), and the
    * cum/total evidence. All BIGINT — hash-exact. */
  /** Log-linear bucket columns over a BIGINT column `x` (domain
    * 1 ≤ x < 2^59 — above that `lo16 = (16+sub) << e` exceeds signed
    * 64-bit): e = bitlen(x)−1, sub = (x − 2^e)·16 / 2^e computed as a
    * SHIFT in the overflow-safe direction — `(x − 2^e) >> (e−4)` for
    * e ≥ 4 (the naive `·16 then >> e` form overflows at e ≥ 60, where
    * Spark wraps silently and DuckDB raises — divergent failure).
    * Shared by the batch entry, the histogram artifact pair, and the
    * streaming twin — the bucket math must stay ONE definition. */
  private[graft] def withHistBuckets(df: DataFrame): DataFrame = df
    .withColumn("e", expr(
      "CAST(length(conv(CAST(x AS STRING), 10, 2)) AS INT) - 1"))
    .withColumn("sub", expr(
      "CAST(CASE WHEN e >= 4" +
        " THEN shiftright(x - shiftleft(CAST(1 AS BIGINT), e), e - 4)" +
        " ELSE shiftleft(x - shiftleft(CAST(1 AS BIGINT), e), 4 - e)" +
        " END AS INT)"))

  /** The DuckDB twin of withHistBuckets as a `b0, b` CTE pair over a
    * source CTE exposing (keys..., x) — interpolated into every
    * histogram oracle so the bucket math has ONE definition per engine,
    * not one per oracle string. */
  private[graft] def bucketCtesSql(src: String, keys: String): String =
    s"""b0 AS (
       |  SELECT $keys, x,
       |    CAST(length(format('{:b}', x)) - 1 AS INT) AS e
       |  FROM $src),
       |b AS (
       |  SELECT $keys, e,
       |    CAST(CASE WHEN e >= 4
       |      THEN (x - (CAST(1 AS BIGINT) << e)) >> (e - 4)
       |      ELSE (x - (CAST(1 AS BIGINT) << e)) << (4 - e)
       |      END AS INT) AS sub
       |  FROM b0)""".stripMargin

  /** Quantile picks over histogram cells (keys..., e, sub, c): per key
    * group, the first bucket whose cumulative count reaches
    * ceil(q·total/100), for each q in qPcts. The windows run over the
    * BOUNDED histogram, never the data. */
  private[graft] def histQuantilePick(cells: DataFrame, keys: Seq[String],
                                      qPcts: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = cells.sparkSession
    val part = Window.partitionBy(keys.map(col): _*)
    val cum = cells
      .withColumn("cum", sum("c").over(part.orderBy("e", "sub")))
      .withColumn("tot", sum("c").over(part))
    val qs = s.range(1).select(explode(expr(
      s"array(${qPcts.mkString(", ")})")).as("q_pct"))
    cum.join(broadcast(qs))
      .where(col("cum") >= expr("(q_pct * tot + 99) div 100"))
      .groupBy((keys :+ "q_pct").map(col): _*)
      .agg(min(struct(col("e"), col("sub"), col("cum"), col("tot"))).as("b"))
      .select(keys.map(col) ++ Seq(col("q_pct"),
        col("b.e").as("e"), col("b.sub").as("sub"),
        expr("shiftleft(CAST(16 + b.sub AS BIGINT), b.e)").as("lo16"),
        col("b.cum").as("cum_le"), col("b.tot").as("total")): _*)
  }

  def quantiles(s: SparkSession, d: String): DataFrame = {
    val hist = withHistBuckets(
      Tables.documents(s, d)
        .where(col("n_chars") >= 1)
        .select(col("lang"), col("n_chars").as("x")))
      .groupBy("lang", "e", "sub").agg(count(lit(1)).as("c"))
    histQuantilePick(hist, Seq("lang"), Seq(50, 90, 99))
  }

  val quantilesSql: String =
    s"""WITH base AS (
      |  SELECT lang, n_chars AS x FROM documents WHERE n_chars >= 1),
      |${bucketCtesSql("base", "lang")},
      |hist AS (SELECT lang, e, sub, count(*) AS c FROM b GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT lang, e, sub, c,
      |    sum(c) OVER (PARTITION BY lang ORDER BY e, sub
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY lang) AS tot
      |  FROM hist),
      |q AS (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q_pct)
      |SELECT lang, q_pct, e, sub,
      |  CAST(16 + sub AS BIGINT) << e AS lo16,
      |  CAST(cum AS BIGINT) AS cum_le, CAST(tot AS BIGINT) AS total
      |FROM cum, q
      |WHERE cum >= (q_pct * tot + 99) // 100
      |QUALIFY row_number() OVER (PARTITION BY lang, q_pct ORDER BY e, sub) = 1
      |ORDER BY lang, q_pct""".stripMargin

  // ------------------------------------------------------------------
  // sketch_hist_build / sketch_hist_serve
  // ------------------------------------------------------------------

  private[graft] def histKey(s: SparkSession, d: String): String =
    LlmPipeline.docKey(s, d, "hist_cells", "hdr16")

  /** The bounded per-(lang, source) histogram cell grid — ≤ langs ×
    * sources × 64 × 16 rows regardless of corpus size. */
  private def histCells(s: SparkSession, d: String): DataFrame =
    withHistBuckets(
      Tables.documents(s, d)
        .where(col("n_chars") >= 1)
        .select(col("lang"), col("source"), col("n_chars").as("x")))
      .groupBy("lang", "source", "e", "sub").agg(count(lit(1)).as("c"))

  /** The stored-sketch pattern for quantiles (the hll_cube twin): ONE
    * corpus pass commits the per-(lang, source) histogram cells; after
    * that ANY rollup — per language, whole corpus, any source subset —
    * answers from the committed counters (counts ADD under merge, so
    * rollup == direct by construction). Build output = the committed
    * grid itself, exact in the oracle. */
  def histBuild(s: SparkSession, d: String): DataFrame = {
    val key = histKey(s, d) // fingerprint pass once
    ArtifactStore.commit(histCells(s, d), key)
    // read back what was written (the honest load==build check; also
    // never re-runs the corpus pass for the output)
    ArtifactStore.load(s, key)
  }

  val histBuildSql: String =
    s"""WITH base AS (
      |  SELECT lang, source, n_chars AS x FROM documents WHERE n_chars >= 1),
      |${bucketCtesSql("base", "lang, source")}
      |SELECT lang, source, e, sub, count(*) AS c
      |FROM b GROUP BY 1, 2, 3, 4
      |ORDER BY lang, source, e, sub""".stripMargin

  /** Serve: per-language AND corpus-wide ('*') p50/p90/p99 from the
    * LOADED cells — counter sums + the pick machinery over bounded
    * rows, no corpus access. The oracle is the DIRECT formula from
    * documents: matching it proves merged-rollup == direct. */
  def histServe(s: SparkSession, d: String): DataFrame = {
    val art = ArtifactStore.getOrBuild(s, histKey(s, d))(histCells(s, d))
    val perLang = art.groupBy("lang", "e", "sub")
      .agg(sum("c").as("c"))
    val corpus = art.groupBy("e", "sub").agg(sum("c").as("c"))
      .withColumn("lang", lit("*"))
      .select("lang", "e", "sub", "c")
    histQuantilePick(perLang.unionByName(corpus), Seq("lang"),
      Seq(50, 90, 99))
  }

  val histServeSql: String =
    s"""WITH base AS (
      |  SELECT lang, n_chars AS x FROM documents WHERE n_chars >= 1),
      |scoped AS (
      |  SELECT lang, x FROM base
      |  UNION ALL SELECT '*' AS lang, x FROM base),
      |${bucketCtesSql("scoped", "lang")},
      |hist AS (SELECT lang, e, sub, count(*) AS c FROM b GROUP BY 1, 2, 3),
      |cum AS (
      |  SELECT lang, e, sub, c,
      |    sum(c) OVER (PARTITION BY lang ORDER BY e, sub
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(c) OVER (PARTITION BY lang) AS tot
      |  FROM hist),
      |q AS (SELECT CAST(unnest([50, 90, 99]) AS INT) AS q_pct)
      |SELECT lang, q_pct, e, sub,
      |  CAST(16 + sub AS BIGINT) << e AS lo16,
      |  CAST(cum AS BIGINT) AS cum_le, CAST(tot AS BIGINT) AS total
      |FROM cum, q
      |WHERE cum >= (q_pct * tot + 99) // 100
      |QUALIFY row_number() OVER (PARTITION BY lang, q_pct ORDER BY e, sub) = 1
      |ORDER BY lang, q_pct""".stripMargin

  // ------------------------------------------------------------------

  val entries: Seq[Entry] = Seq(
    Entry("sketch_hist_build", histBuild, histBuildSql),
    Entry("sketch_hist_serve", histServe, histServeSql),
    Entry("sketch_quantiles", quantiles, quantilesSql),
    Entry("sketch_hll_shingles", hllShingles, hllShinglesSql),
    Entry("sketch_hll_cube_build", hllCubeBuild, hllCubeBuildSql),
    Entry("sketch_hll_cube_serve", hllCubeServe, hllCubeServeSql),
    Entry("sketch_cms_topk", cmsTopk, cmsTopkSql),
    Entry("sketch_kmv_intersect", kmvIntersect, kmvIntersectSql)
  )
}
