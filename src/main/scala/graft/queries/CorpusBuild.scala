package graft.queries

import graft.Tables
import graft.dedup.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two whole-pipeline compositions (round 12):
  *
  *  - `crawl_frontier` — the crawl-stack stage between link harvest and
  *    fetch: harvested hrefs → canonical URLs (UrlNorm) → robots gate
  *    (RobotsTxt) → per-host politeness queue. Only hrefs ever
  *    shuffle (host/url-keyed), never documents.
  *  - `corpus_build_e2e` — the full C4-style corpus build in ONE
  *    oracle-gated chain: WARC ingest → HTML extraction → normalize →
  *    quality filter → exact dedup → near dedup → pack → shard
  *    manifest. Every stage exists as its own gated entry; this entry
  *    pins the COMPOSITION (where stage-boundary bugs hide), reporting
  *    per-stage survivor counts plus the final shard manifest.
  */
object CorpusBuild {

  private val ws = "\\s+"

  // ------------------------------------------------------------------
  // crawl_frontier
  // ------------------------------------------------------------------

  /** Frontier scheduling: every harvested link resolves to a canonical
    * URL, passes the site's robots gate, and joins a PER-HOST politeness
    * queue ordered popularity-first ((n_refs DESC, url) — deterministic,
    * so the oracle replays the order). Scale shape: the link harvest is
    * the narrow one-pass extraction; the only exchanges are the
    * (host, url) frontier aggregate and the host-keyed window — 16-byte
    * counts and short URL strings, never documents (the 100× row in
    * README pins this). */
  /** The per-record crawl gate (link harvest → UrlNorm → RobotsTxt),
    * shared by the batch frontier and its streaming twin
    * (u_stream_crawl_gate) — STATELESS and narrow, so it runs unchanged
    * on a streaming DataFrame. Returns allowed (host, url) rows,
    * duplicates preserved (the frontier aggregate counts them). */
  private[graft] def allowedLinks(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    import s.implicits._
    // 7 sites' rule sets, parsed once and shipped in the closure —
    // the textHtmlRobots convention
    val rulesByK = (0L until 7L).map(k => k -> graft.text.RobotsTxt.parse(
      graft.text.RobotsTxt.fixtureRobots(k), "graftbot")).toMap
    graft.text.HtmlExtract
      .linksFromDocuments(s, docs)
      .flatMap { r =>
        val k = r.doc_id % 7
        val base = s"HTTP://Site$k.Example.COM:80/pages/index.html"
        graft.text.UrlNorm.resolve(base, r.href).flatMap { url =>
          val slash = url.indexOf('/', "http://".length)
          val (host, path) =
            if (slash < 0) (url.substring("http://".length), "/")
            else (url.substring("http://".length, slash),
              url.substring(slash))
          if (graft.text.RobotsTxt.decide(rulesByK(k), path)._1)
            Some((host, url))
          else None
        }
      }.toDF("host", "url")
  }

  /** Per-host fetch order WITHOUT a per-host window: real frontiers are
    * power-law by host, and `row_number() OVER (PARTITION BY host)`
    * sorts a mega-host's entire queue in ONE task. Instead the rank is
    * the two-level prefix composition (the Layout.rankedBy idiom)
    * restarting per host, bucket-major over (neg_refs, url-prefix cell):
    * cells of one host rank in parallel, and the only single-window
    * step orders the tiny per-(host, cell) totals table. The order is
    * identical to the window form — (n_refs DESC, url) — because a
    * fixed-length prefix respects lexicographic order (u1 < u2 ⇒
    * prefix(u1) <= prefix(u2)), so bucket-major-by-prefix-then-url IS
    * url order within equal n_refs. Oracle unchanged. */
  /** The skew-safe rank itself, over any frontier of UNIQUE (host, url)
    * rows — exposed so CrawlFrontierSkewSpec can pin BOTH halves of the
    * contract on a synthetic power-law host: order identical to the
    * window form, mega-host queue split across many parallel cells.
    *
    * The coarse cells come from Spark's RANGE PARTITIONER over the full
    * ordering key (host, n_refs DESC, url): sampling splits ANY
    * distribution — one host holding 100% of the links, arbitrarily
    * diverse url shapes — into ~4×cores balanced, ORDER-ALIGNED cells
    * (partition p < q ⟹ every row of p sorts before q), which is
    * exactly what twoLevel needs. A static key-derived cell (url
    * prefix, numeric div) cannot promise that: the first cut's 8-char
    * prefix cell degenerated to one cell per url on prefix-diverse
    * queues, pushing the whole frontier into the level-2 totals table
    * (caught by the spec's totals-size assertion). Here the totals
    * table is ≤ #hosts + #cells rows by construction (each host spans
    * contiguous cells). Ranks are boundary-independent — the global
    * order is total because (host, url) is unique — so sampled
    * boundaries can shift between runs without changing a single
    * fetch_order. */
  private[graft] def frontierRank(fr0: DataFrame): DataFrame = {
    val s = fr0.sparkSession
    val nCells = s.sparkContext.defaultParallelism * 4
    val fr = fr0.select(col("host"), col("url"), col("n_refs"),
      (-col("n_refs")).as("neg_refs"))
    val ranged = fr.repartitionByRange(nCells,
      col("host"), col("neg_refs"), col("url"))
    // Pin the cell assignment through ONE RDD: range-partitioner
    // boundaries are sampled with an rdd-id-derived seed, so two plan
    // branches each planning their own range exchange can disagree on
    // cells — twoLevel's in-cell sums would then count a different
    // split than its totals (caught by CrawlFrontierSkewSpec's order
    // contract: ranks drifted between evaluations). A LogicalRDD is
    // referenced, not re-planned, so both branches read the SAME
    // shuffle output — which stays fault-tolerant (shuffle files
    // recompute on executor loss, unlike a localCheckpoint pin).
    val schema = org.apache.spark.sql.types.StructType(
      ranged.schema.fields :+ org.apache.spark.sql.types.StructField(
        "pcell", org.apache.spark.sql.types.LongType, nullable = false))
    val withCell = s.createDataFrame(
      ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
        it.map(r => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pid.toLong))
      }, schema)
    graft.operators.PrefixSum.twoLevel(withCell, Seq("host"), Seq("pcell"),
        lit(1L), Seq(col("neg_refs"), col("url")))
      .withColumn("fetch_order", (col("boff") + col("end_in_b")).cast("int"))
      .select("host", "fetch_order", "url", "n_refs")
  }

  def crawlFrontier(s: SparkSession, d: String): DataFrame = {
    val allowed = allowedLinks(s, Tables.documents(s, d))
    frontierRank(allowed.groupBy("host", "url")
        .agg(count(lit(1)).as("n_refs")))
  }

  /** Closed-form replay: the fixture link set per doc (the
    * textHtmlUrlnorm/textHtmlRobots tables), allowed decisions as
    * literals, then the same frontier aggregate + per-host window. */
  val crawlFrontierSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(2 + doc_id % 2 AS BIGINT) AS nli,
      |    doc_id % 7 AS k, (doc_id * 7 + 1) % 1000 AS n,
      |    'site' || (doc_id % 7) || '.example.com' AS host
      |  FROM documents),
      |al AS (
      |  SELECT host, '/about' AS path FROM d
      |  UNION ALL SELECT host, '/contact' FROM d WHERE nli = 3
      |  UNION ALL SELECT host, '/doc/' || n FROM d
      |    WHERE starts_with(CAST(n AS VARCHAR), CAST(k AS VARCHAR))
      |  UNION ALL SELECT host, '/terms' FROM d
      |  UNION ALL SELECT host, '/legal/terms' FROM d),
      |fr AS (
      |  SELECT host, 'http://' || host || path AS url,
      |    CAST(count(*) AS BIGINT) AS n_refs
      |  FROM al GROUP BY 1, 2)
      |SELECT host,
      |  CAST(row_number() OVER (PARTITION BY host
      |    ORDER BY n_refs DESC, url) AS INT) AS fetch_order,
      |  url, n_refs
      |FROM fr ORDER BY host, fetch_order""".stripMargin

  // ------------------------------------------------------------------
  // corpus_build_e2e
  // ------------------------------------------------------------------

  private val QualityMin = 0.2
  private val Shards = 8
  private val SeqCap = 2048L

  /** One row of the composed report. */
  private def stageRow(df: DataFrame, id: Int, label: String,
                       nTok: Column): DataFrame =
    df.agg(count(lit(1)).as("n_docs"),
        sum(nTok).cast("long").as("n_tokens"))
      .select(lit("stage").as("kind"), lit(id).cast("int").as("id"),
        lit(label).as("label"), col("n_docs"), col("n_tokens"))

  /** The full corpus build, one chain. Stage boundaries are DURABLE
    * ArtifactStore commits (round-13: replaced localCheckpoint, whose
    * executor-pinned blocks truncate lineage — one lost executor on a
    * multi-hour 100-TB run killed the job instead of recomputing): each
    * stage's output is a committed parquet table keyed by the corpus
    * fingerprint + the chain's parameter set, the next stage scans the
    * LOADED table (never the in-memory build result — the tok/idx serve
    * convention), a restarted run resumes from the last committed
    * stage, and `corpus_build_e2e` / `corpus_lineage` share ONE chain
    * execution instead of two. Stage semantics:
    *
    *  - ingest:      docs with a parsed 200 response; raw extracted tokens
    *  - normalize:   lowercase, drop {a, the}, empties, pure-digit tokens
    *                 (digits carry page identity in this fixture corpus —
    *                 the step that lets content dedup see through ids)
    *  - quality:     the textQuality formula over the NORMALIZED content,
    *                 keep quality ≥ 0.2
    *  - dedup_exact: digest of sorted distinct normalized tokens, keep
    *                 the min doc_id per digest (dedup_exact convention)
    *  - dedup_near:  STOP-SHINGLE MinHash-LSH (template shingles with
    *                 df > N/2 excluded — see
    *                 Dedup.minhashNearDupsStopShingles) + exact filtered
    *                 shingle-Jaccard ≥ 0.8, drop any doc with a
    *                 smaller-id verified partner
    *  - pack:        token-count prefix sums → 2048-token sequences
    *                 (n_docs column carries the SEQUENCE count)
    *  - shard rows:  the sample_shards manifest over the survivors
    */
  /** The chain's intermediate frames, shared by the manifest entry
    * (corpusBuildE2e) and the lineage entry (corpusLineage) — must stay
    * one implementation: lineage is DEFINED as "which stage of THIS
    * chain dropped the doc". */
  private[graft] final case class ChainFrames(
      norm: DataFrame, qAll: DataFrame, q: DataFrame,
      exactAll: DataFrame, exact: DataFrame, bad: DataFrame,
      near: DataFrame, asg: DataFrame)

  /** Stage-artifact keys: corpus fingerprint (count + order-independent
    * xxhash64 — the docKey idiom) + the chain's parameter set, so a
    * changed corpus or parameter is a DIFFERENT artifact, never a stale
    * read. One narrow metadata-scale scan computes it once per call. */
  private def chainKey(s: SparkSession, d: String): String = {
    // the shared cached (count, xor-hash) pass — lineage/tokenized no
    // longer re-scan the corpus just to derive their stage keys
    val (n, h) = LlmPipeline.docFingerprint(s, d)
    s"v1_n${n}_h$h"
  }

  private[graft] def chainStageNames(s: SparkSession, d: String)
      : Seq[String] = {
    val ck = chainKey(s, d)
    // exactp (not exact): the committed shape changed to the pair list
    // in round 13 — a new key so a pre-change artifact can never be
    // read under the new schema
    Seq(s"chain_norm_$ck", s"chain_exactp_${ck}_q02",
      s"chain_bad_${ck}_q02_w3k64b32t08",
      s"chain_asg_${ck}_q02_w3k64b32t08_s8")
  }

  /** `rebuild = true` (the e2e BUILD entry): drop and re-commit every
    * stage, so the entry always measures a full chain build — the
    * idxPqBuild/tok_*_build convention (build entries retrain; only
    * serve/read paths skip work). `rebuild = false` (lineage, a
    * restarted production run): `getOrBuild` per stage — resume from
    * the last committed stage. Either way every downstream frame reads
    * the COMMITTED parquet, never the in-memory build result. */
  /** Stages 0-1 (WARC → extract → normalize) over ANY docs frame: ONE
    * narrow per-doc pass, shared by the full chain and the incremental
    * base/delta slices. */
  private[graft] def normFrame(s: SparkSession, docs: DataFrame)
      : DataFrame = {
    import s.implicits._
    val stop = Set("the", "a", "and", "of", "to", "is", "in")
    graft.sources.Warc
      .extractedFromDocuments(s, docs)
      .map { case (id, etext) =>
        val raw = etext.split(ws)
        val kept = raw.iterator.map(_.toLowerCase)
          .filter(t => t.nonEmpty && t != "a" && t != "the" &&
            !t.forall(c => c >= '0' && c <= '9'))
          .toArray
        (id, kept.mkString(" "), raw.length.toLong, kept.length.toLong,
          kept.iterator.map(_.length.toLong).sum,
          kept.count(stop).toLong)
      }.toDF("doc_id", "norm_text", "n_raw", "n_norm", "sum_len",
        "n_stop")
  }

  /** Stage 2 (quality gate, engine-identical double expression) — a
    * narrow projection of the normalize table; recomputed on read
    * rather than committed (no shuffle to protect). */
  private[graft] def withQuality(norm: DataFrame): DataFrame =
    norm.where(col("n_norm") > 0)
      .withColumn("quality", expr(
        "round(least(CAST(sum_len AS DOUBLE) / n_norm, 10.0) / 10.0 " +
          "* 0.2 + CAST(n_stop AS DOUBLE) / n_norm * 0.5 + " +
          "least(CAST(n_norm AS DOUBLE), 100.0) / 100.0 * 0.3, 6)"))

  /** The exact-dedup content digest (sorted distinct normalized
    * tokens). */
  private[graft] def digestCol: Column =
    sha2(concat_ws(" ", array_sort(array_distinct(
      split(col("norm_text"), ws)))), 256)

  private[graft] def chainFrames(s: SparkSession, d: String,
                                 rebuild: Boolean = false): ChainFrames = {
    import graft.sinks.ArtifactStore
    val Seq(normKey, exactKey, badKey, asgKey) = chainStageNames(s, d)
    if (rebuild) Seq(normKey, exactKey, badKey, asgKey)
      .foreach(ArtifactStore.remove(s, _))
    // stages 0-1: WARC → extract → normalize, ONE narrow pass
    val norm = ArtifactStore.getOrBuild(s, normKey) {
      normFrame(s, Tables.documents(s, d))
    }
    val qAll = withQuality(norm)
    val q = qAll.where(col("quality") >= lit(QualityMin))
    // stage 3: exact dedup on the normalized content digest. The window
    // input is slimmed to (doc_id, digest) — 40-byte rows on the digest
    // exchange, never norm_text — and the COMMITTED table is the
    // (doc_id, keep_id) pair list: the first durable cut committed the
    // full q frame + keep_id, i.e. wrote the corpus to disk a SECOND
    // time (norm already carries it) and shipped norm_text through the
    // digest shuffle. Survivor text reattaches by a doc-keyed semi join
    // against the recomputed narrow q projection (survivor-id side is
    // id-only — AQE broadcasts it at small SF; at corpus scale the
    // corpus shuffles its own bytes once, strictly cheaper than the
    // double write).
    val exactAll = ArtifactStore.getOrBuild(s, exactKey) {
      q.select(col("doc_id"), digestCol.as("key"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy("key")))
        .select("doc_id", "keep_id")
    }
    val exact = q.join(
      exactAll.where(col("doc_id") === col("keep_id")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    // |exact| without re-running the semi-join: `exact` keeps exactly
    // the keeper rows (keepers are drawn from q's doc_ids, which are
    // unique), so counting keepers on the COMMITTED pair list is the
    // same number from a two-column artifact scan instead of a
    // norm-scan + join job. Lazy: only the cold builds below pay it.
    lazy val keeperCount =
      exactAll.where(col("doc_id") === col("keep_id")).count()
    // stage 4: near dedup among the exact survivors — the STOP-SHINGLE
    // variant: extracted pages share template shingles, and plain
    // banding would give every unrelated pair a collision probability
    // (candidates ∝ n²; measured 137 MB of candidate attach at sf0.1)
    val bad = ArtifactStore.getOrBuild(s, badKey) {
      Dedup.minhashNearDupsStopShingles(s,
          exact.select(col("doc_id"), col("norm_text").as("text")),
          w = 3, k = 64, bands = 32, threshold = 0.8,
          totalDocs = keeperCount)
        .select(col("b").as("doc_id")).distinct()
    }
    val near = exact.join(bad, Seq("doc_id"), "left_anti")
    // |near| = |exact| − |bad|: every removal id is an exact survivor
    // by construction (pairs are mined among them), so the bucket-count
    // input comes from two committed-artifact scans, not an anti-join
    val asg = ArtifactStore.getOrBuild(s, asgKey)(
      shardAsg(s, near, keeperCount - bad.count()))
    ChainFrames(norm, qAll, q, exactAll, exact, bad, near, asg)
  }

  /** Stages 5-6: pack + shard manifest over the survivors — the
    * sample_shards machinery inlined over (doc_id, n_tokens) ONLY:
    * the manifest needs token counts, so the prefix-sum exchanges
    * ship 16-byte rows, not the normalized text (measured: one full
    * corpus-text exchange saved at the 100× tier vs reusing
    * shardAssignments, which keeps every input column for the writer) */
  /** `nearCount` lets a caller that can derive |near| from committed
    * artifacts skip the count job; the default (-1) keeps the direct
    * count for callers without a cheaper source. By-name: only
    * evaluated when actually used. */
  private[graft] def shardAsg(s: SparkSession, near: DataFrame,
      nearCount: => Long = -1L): DataFrame = {
    val docsT = near.select(col("doc_id"),
      col("n_norm").cast("int").as("n_tokens"))
    val nRows = { val c = nearCount; if (c >= 0L) c else near.count() }
    val nBuckets = graft.operators.PrefixSum.bucketCount(nRows)
    val bucketed = docsT
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("bucket",
        (expr("CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT)") % nBuckets)
          .cast("int"))
    val total = docsT.agg(sum(col("n_tokens")).cast("long").as("total"))
    graft.operators.PrefixSum
      .twoLevel(bucketed, Nil, Seq("bucket"), col("n_tokens"),
        Seq(col("h"), col("doc_id")))
      .withColumn("start_tok",
        col("boff") + col("end_in_b") - col("n_tokens"))
      .crossJoin(broadcast(total))
      .withColumn("shard",
        least(lit(Shards - 1).cast("long"),
          expr(s"(start_tok * $Shards) div total")).cast("int"))
      // lean committed shape: the manifest/lineage/tokenize consumers
      // need ids, counts and placement — not the md5/bucket scaffolding
      .select("doc_id", "n_tokens", "start_tok", "shard")
  }

  /** The composed report (stage rows + pack + shard manifest) from any
    * set of chain frames — shared by the full-rebuild entry and the
    * incremental entry (whose frames are base-committed ∪ delta). */
  private[graft] def chainReport(norm: DataFrame, q: DataFrame, exact: DataFrame,
      near: DataFrame, asg: DataFrame): DataFrame = {
    val packRow = asg
      .agg(sum(col("n_tokens")).cast("long").as("total"))
      .select(lit("stage").as("kind"), lit(5).cast("int").as("id"),
        lit("pack").as("label"),
        expr(s"CAST((total + ${SeqCap - 1}) DIV $SeqCap AS BIGINT)")
          .as("n_docs"),
        col("total").as("n_tokens"))
    // in shard order whatever the plan's partitioning: one partition
    // (a narrow coalesce, no extra stage) of at most `Shards` rows
    val shardRows = asg.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .select(lit("shard").as("kind"), col("shard").cast("int").as("id"),
        lit("shard").as("label"), col("n_docs"), col("n_tokens"))
      .coalesce(1).sortWithinPartitions("id")
    stageRow(norm, 0, "ingest", col("n_raw"))
      .union(stageRow(norm, 1, "normalize", col("n_norm")))
      .union(stageRow(q, 2, "quality", col("n_norm")))
      .union(stageRow(exact, 3, "dedup_exact", col("n_norm")))
      .union(stageRow(near, 4, "dedup_near", col("n_norm")))
      .union(packRow)
      .union(shardRows)
  }

  def corpusBuildE2e(s: SparkSession, d: String): DataFrame = {
    val ChainFrames(norm, _, q, _, exact, _, near, asg) =
      chainFrames(s, d, rebuild = true)
    chainReport(norm, q, exact, near, asg)
  }

  /** Per-document lineage through the SAME chain — the "why did my doc
    * disappear" debugging surface a corpus run needs: every input doc
    * gets its fate (dropped_empty / dropped_quality / dropped_exact_dup
    * with the surviving twin / dropped_near_dup / kept with its shard).
    * Built from chainFrames, so lineage can never drift from what the
    * manifest entry actually did. Scale shape: four doc-keyed joins of
    * (id, small-int) columns onto the normalize pass — no text beyond
    * the chain's own exchanges. */
  def corpusLineage(s: SparkSession, d: String): DataFrame = {
    val f = chainFrames(s, d)
    f.norm.select(col("doc_id"), col("n_norm"))
      .join(f.qAll.select(col("doc_id"), col("quality")),
        Seq("doc_id"), "left")
      .join(f.exactAll.select(col("doc_id"), col("keep_id")),
        Seq("doc_id"), "left")
      .join(f.bad.withColumn("near_dropped", lit(true)),
        Seq("doc_id"), "left")
      .join(f.asg.select(col("doc_id"), col("shard")),
        Seq("doc_id"), "left")
      .withColumn("fate",
        when(col("n_norm") === 0, "dropped_empty")
          .when(col("quality") < lit(QualityMin), "dropped_quality")
          .when(col("keep_id") =!= col("doc_id"), "dropped_exact_dup")
          .when(col("near_dropped"), "dropped_near_dup")
          .otherwise("kept"))
      .withColumn("detail",
        when(col("fate") === "dropped_exact_dup", col("keep_id"))
          .when(col("fate") === "kept", col("shard").cast("long")))
      .select("doc_id", "n_norm", "fate", "detail")
  }

  /** Full DuckDB replay of the chain's CTEs (shared by the manifest,
    * lineage, and incremental oracles): the htmlBlockChain extraction,
    * normalization, the quality formula, digest-group exact dedup,
    * exact all-pairs shingle-Jaccard near dedup (the minhashNearDups
    * equivalence contract), and the sample_shards prefix-sum machinery.
    * `stopScope` restricts the STOP-SHINGLE mining (and only it) — the
    * incremental oracle freezes the stop set to the base slice
    * (`doc_id < cut`), everything else replays over the full appended
    * corpus. */
  private def chainCtes(stopScope: String, extraCtes: String = ""): String =
    s"""${LlmPipeline.htmlBlockChainSqlShared},$extraCtes
       |ex AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(btext, chr(10) ORDER BY ord)
       |      FILTER (WHERE keep), '') AS etext
       |  FROM fin GROUP BY doc_id),
       |n2 AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(etext, '\\s+')) AS BIGINT)
       |      AS n_raw,
       |    list_filter(string_split_regex(lower(etext), '\\s+'),
       |      t -> t NOT IN ('a', 'the') AND t <> ''
       |        AND NOT regexp_matches(t, '^[0-9]+$$')) AS nl
       |  FROM ex),
       |n3 AS (
       |  SELECT doc_id, n_raw, array_to_string(nl, ' ') AS norm_text,
       |    CAST(len(nl) AS BIGINT) AS n_norm,
       |    CAST(coalesce(list_aggregate(list_transform(nl,
       |      t -> length(t)), 'sum'), 0) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(nl, t -> t IN
       |      ('the','a','and','of','to','is','in'))) AS BIGINT) AS n_stop
       |  FROM n2),
       |q_all AS (
       |  SELECT *, round(least(CAST(sum_len AS DOUBLE) / n_norm, 10.0)
       |    / 10.0 * 0.2 + CAST(n_stop AS DOUBLE) / n_norm * 0.5 +
       |    least(CAST(n_norm AS DOUBLE), 100.0) / 100.0 * 0.3, 6)
       |    AS quality
       |  FROM n3 WHERE n_norm > 0),
       |qs AS (SELECT * FROM q_all WHERE quality >= 0.2),
       |exd_all AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY
       |    array_to_string(list_sort(list_distinct(
       |      string_split_regex(norm_text, '\\s+'))), ' ')) AS keep_id
       |  FROM qs),
       |exd AS (SELECT * FROM exd_all WHERE doc_id = keep_id),
       |shn AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
       |             i -> array_to_string(t[i:i+2], ' '))) END AS s0
       |  FROM (SELECT doc_id, string_split_regex(norm_text, '\\s+') AS t
       |        FROM exd)),
       |sdf AS (
       |  SELECT g FROM (SELECT unnest(s0) AS g FROM shn$stopScope)
       |  GROUP BY g
       |  HAVING count(*) > (SELECT count(*) FROM exd$stopScope) // 2),
       |shf AS (
       |  SELECT doc_id, list(g) AS sset
       |  FROM (SELECT doc_id, unnest(s0) AS g FROM shn)
       |  WHERE g NOT IN (SELECT g FROM sdf)
       |  GROUP BY doc_id),
       |bad AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(a.sset, b.sset)))
       |      AS DOUBLE), 6) >= 0.8),
       |nr AS (
       |  SELECT * FROM exd
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |p2 AS (SELECT GREATEST(8, (count(*) + 4095) // 4096) AS nb FROM nr),
       |t2 AS (
       |  SELECT doc_id, CAST(n_norm AS INTEGER) AS n_tokens,
       |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % (SELECT nb FROM p2) AS INTEGER) AS bucket,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM nr),
       |c2 AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_in_b
       |  FROM t2),
       |bb2 AS (
       |  SELECT bucket,
       |    CAST(coalesce(sum(btot) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS boff
       |  FROM (SELECT bucket, sum(n_tokens) AS btot FROM t2
       |        GROUP BY bucket)),
       |tot2 AS (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
       |         AS total FROM t2),
       |a2 AS (
       |  SELECT c2.doc_id, c2.n_tokens,
       |    CAST(least(7, ((bb2.boff + c2.end_in_b - c2.n_tokens) * 8)
       |      // (SELECT total FROM tot2)) AS INTEGER) AS shard
       |  FROM c2 JOIN bb2 USING (bucket))""".stripMargin

  private val corpusChainSql: String = chainCtes("")

  /** The incremental oracle's chain: identical replay over the full
    * appended corpus, with ONLY the stop-shingle mining frozen to the
    * base slice — the semantics corpus_build_incr implements. */
  private val corpusChainIncrSql: String = chainCtes(
    " WHERE doc_id < (SELECT c FROM cutv)",
    "\ncutv AS (SELECT ((max(doc_id) + 1) * 9) // 10 AS c" +
      " FROM documents),")

  /** Two-append oracle: same frozen-stop replay with the stop scope at
    * the 80% cut (the incr2 base). The oracle is SPLIT-INVARIANT — it
    * cannot see where append boundaries fell — so agreement pins that
    * the stacked segments compose to exactly the monolithic result;
    * the spec pins the reuse (that append-2 actually served append-1's
    * committed segment). */
  private val corpusChainIncr2Sql: String = chainCtes(
    " WHERE doc_id < (SELECT c FROM cutv)",
    "\ncutv AS (SELECT ((max(doc_id) + 1) * 8) // 10 AS c" +
      " FROM documents),")

  private def reportSql(ctes: String): String =
    s"""$ctes
       |SELECT kind, id, label, n_docs, n_tokens FROM (
       |  SELECT 'stage' AS kind, CAST(0 AS INT) AS id, 'ingest' AS label,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_raw) AS BIGINT) AS n_tokens FROM n3
       |  UNION ALL
       |  SELECT 'stage', 1, 'normalize', count(*),
       |    CAST(sum(n_norm) AS BIGINT) FROM n3
       |  UNION ALL
       |  SELECT 'stage', 2, 'quality', count(*),
       |    CAST(sum(n_norm) AS BIGINT) FROM qs
       |  UNION ALL
       |  SELECT 'stage', 3, 'dedup_exact', count(*),
       |    CAST(sum(n_norm) AS BIGINT) FROM exd
       |  UNION ALL
       |  SELECT 'stage', 4, 'dedup_near', count(*),
       |    CAST(sum(n_norm) AS BIGINT) FROM nr
       |  UNION ALL
       |  SELECT 'stage', 5, 'pack',
       |    CAST(((SELECT total FROM tot2) + 2047) // 2048 AS BIGINT),
       |    (SELECT total FROM tot2)
       |  UNION ALL
       |  SELECT 'shard', shard, 'shard', count(*),
       |    CAST(sum(n_tokens) AS BIGINT)
       |  FROM a2 GROUP BY shard)
       |ORDER BY kind, id""".stripMargin

  val corpusBuildE2eSql: String = reportSql(corpusChainSql)
  val corpusBuildIncrSql: String = reportSql(corpusChainIncrSql)
  val corpusBuildIncr2Sql: String = reportSql(corpusChainIncr2Sql)

  val corpusLineageSql: String =
    s"""$corpusChainSql
       |SELECT doc_id, n_norm, fate,
       |  CASE WHEN fate = 'dropped_exact_dup' THEN keep_id
       |       WHEN fate = 'kept' THEN CAST(shard AS BIGINT) END AS detail
       |FROM (
       |  SELECT n3.doc_id, n3.n_norm, e.keep_id, a2.shard,
       |    CASE WHEN n3.n_norm = 0 THEN 'dropped_empty'
       |         WHEN q.quality < 0.2 THEN 'dropped_quality'
       |         WHEN e.keep_id <> n3.doc_id THEN 'dropped_exact_dup'
       |         WHEN b.doc_id IS NOT NULL THEN 'dropped_near_dup'
       |         ELSE 'kept' END AS fate
       |  FROM n3
       |  LEFT JOIN q_all q USING (doc_id)
       |  LEFT JOIN exd_all e USING (doc_id)
       |  LEFT JOIN bad b USING (doc_id)
       |  LEFT JOIN a2 USING (doc_id))
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // corpus_build_tokenized — the chain's last mile (round-13 ask #5)
  // ------------------------------------------------------------------

  /** What a real pipeline runs AFTER the shard manifest: load the
    * committed tokenizer, encode the survivor corpus, emit per-shard
    * token totals (the numbers a training job sizes its data loader
    * with). Composition-only entry: the chain comes back from its
    * committed stage artifacts (one execution shared with the manifest
    * and lineage entries), the BPE merge table from ITS committed
    * artifact (tok_bpe's — getOrBuild), and the encode is the
    * tok_bpe_serve shape: the merge list rides a broadcast into a
    * distinct-word segmentation (vocabulary-sized), the corpus-width
    * token stream joins that small side, and the per-doc/per-shard
    * aggregates partial-aggregate map-side — the corpus text itself is
    * never re-shuffled (PerfContractSpec pins the budget). */
  def corpusBuildTokenized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = chainFrames(s, d)
    val merges = LlmPipeline.bpeMergesArtifact(s, d).orderBy("step")
      .collect() // merge-budget-sized (8 rows)
      .map(r => (r.getAs[String]("l"), r.getAs[String]("r"),
        r.getAs[String]("merged"))).toSeq
    val bc = s.sparkContext.broadcast(merges)
    val toks = f.near.select(col("doc_id"),
        explode(split(col("norm_text"), ws)).as("tok"))
      .where(length(col("tok")) > 0)
    val seg = toks.select(col("tok").as("word")).distinct().as[String]
      .map(w => (w, graft.text.Bpe.applyMergeList(w, bc.value).length))
      .toDF("word", "n_pieces")
    val perDoc = toks.join(seg, toks("tok") === seg("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_pieces").cast("long")).as("n_subtokens"))
    f.asg.join(perDoc, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_ws_tokens"),
        sum(col("n_subtokens")).as("n_subtokens"))
  }

  /** Oracle = the chain replay composed with the BPE replay: train the
    * 8 merges over documents (prefixed `bp` CTEs — the exact
    * textBpeSql chain), apply the merge list to every distinct survivor
    * word (the applyMergeList fold), aggregate per shard. */
  val corpusBuildTokenizedSql: String = {
    val bpeToks =
      "SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents"
    s"""$corpusChainSql,
       |${graft.text.Bpe.oracleChainCtes(8, bpeToks, "bp")},
       |dt AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(norm_text, '\\s+'))
       |      AS tok FROM nr)
       |  WHERE length(tok) > 0),
       |${graft.text.Bpe.applyMergesOracleCtes(8,
             "SELECT DISTINCT tok AS word FROM dt", "bp")},
       |enc AS (
       |  SELECT doc_id,
       |    CAST(sum(len(string_split(e.s, chr(31)))) AS BIGINT)
       |      AS n_subtokens
       |  FROM dt JOIN bpe8 e ON dt.tok = e.word
       |  GROUP BY doc_id)
       |SELECT a2.shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(a2.n_tokens) AS BIGINT) AS n_ws_tokens,
       |  CAST(sum(enc.n_subtokens) AS BIGINT) AS n_subtokens
       |FROM a2 JOIN enc USING (doc_id)
       |GROUP BY a2.shard ORDER BY shard""".stripMargin
  }

  // ------------------------------------------------------------------
  // corpus_build_incr — append a corpus slice, recompute only the
  // delta against committed base stages (round-14 ask #4)
  // ------------------------------------------------------------------

  /** The append cut: ids below (max+1)·9/10 are the BASE corpus (the
    * committed build); the top slice is the appended delta. Appended
    * slices carry LARGER ids than every base doc (the append
    * convention), which is what makes keep-min-id dedup monotone: a
    * delta doc can never displace a base survivor, so base stages are
    * immutable under append. */
  private[graft] def incrCut(s: SparkSession, d: String): Long =
    // cached per FILE SIGNATURE (not per (session, dir) — an in-session
    // append moves max(doc_id) and the oracle recomputes the cut fresh,
    // so a session-keyed cache would silently serve the stale split;
    // round-14 ADVICE): the entry and its key derivation share the one
    // max() column scan per corpus epoch
    (LlmPipeline.maxIdCached(s, s"$d/documents.parquet", "doc_id")(
      Tables.documents(s, d)) + 1) * 9 / 10
  /** Base-stage artifact keys at an EXPLICIT cut (the generalized form:
    * corpus_build_incr freezes at the 90% cut, corpus_build_incr2 at
    * the 80% cut, corpus_build_retract at the whole corpus). Keyed by
    * the base slice's content fingerprint (cached per file signature +
    * cut tag — the derived slice is a pure function of the file and the
    * cut, so the key derivation is metadata-scale after the first
    * pass). */
  private[graft] def incrStageNamesAt(s: SparkSession, d: String,
      cut: Long): Seq[String] = {
    val (n, h) = LlmPipeline.fingerprintCached(s,
      s"$d/documents.parquet", Seq("doc_id", "text"),
      tag = s"base_lt$cut")(
      Tables.documents(s, d).where(col("doc_id") < cut))
    val bk = s"v1_n${n}_h${h}_q02_w3k64b32t08"
    Seq(s"chain_incrb_norm_$bk", s"chain_incrb_exactd_$bk",
      s"chain_incrb_stop_$bk", s"chain_incrb_bands_$bk",
      s"chain_incrb_pairs_$bk", s"chain_incrb_survn_$bk")
  }

  private[graft] def incrStageNames(s: SparkSession, d: String)
      : Seq[String] = incrStageNamesAt(s, d, incrCut(s, d))

  /** The committed BASE build the incremental family serves: normalize
    * table, the exact-dedup DIGEST table (doc_id, digest, keep_id — the
    * digest IS the incremental probe key), the near-dup STOP-SHINGLE
    * set (the frozen trained parameter), the banded MinHash key table
    * over base exact survivors, the verified near-dup PAIR table (a, b)
    * — pairs rather than just removal ids, because retraction must
    * re-elect removals when a partner is taken down — and the
    * serve-side survivor summary (doc_id, n_norm). */
  private[graft] final case class IncrBase(
      cut: Long,
      normB: DataFrame,
      qB: DataFrame,
      exactB: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Set[Long]],
      bandsB: DataFrame,
      pairsB: DataFrame,
      survNB: DataFrame) {
    /** Base near-dup removals, derived from the committed pair table
      * (pair-count-sized — tiny next to any stage). */
    def badB: DataFrame =
      pairsB.select(col("b").as("doc_id")).distinct()
  }

  /** The STOP-DEPENDENT stages of a chain family — mine the stop set
    * over the survivor text, band the stop-filtered signatures, verify
    * banded candidates into near-dup pairs — each a durable commit
    * under the given keys. ONE definition shared by the from-scratch
    * family build (`incrBase`) and the retrain promotion
    * (`corpusRetrainAt`): the promotion's "lands exactly where a
    * from-scratch build lands" equality is structural, not two
    * hand-synced copies of the band parameters. `survTxt` must carry
    * (doc_id, norm_text) for exactly the family's survivors; `n` is
    * its row count (by-name — only a cold build pays the job). */
  private def buildStopStages(s: SparkSession, survTxt: DataFrame,
      n: => Long, stopKey: String, bandKey: String, pairsKey: String)
      : (org.apache.spark.broadcast.Broadcast[Set[Long]],
         DataFrame, DataFrame) = {
    import s.implicits._
    import graft.sinks.ArtifactStore
    def typed = survTxt.select(col("doc_id"), col("norm_text"))
      .as[(Long, String)]
    val stopDf = ArtifactStore.getOrBuild(s, stopKey)(
      graft.dedup.Dedup.stopShinglesDf(typed, 3, n))
    // driver-bounded by construction: at df > N/2 there are at most
    // 2 × avg-shingles-per-doc stop shingles
    val bc = s.sparkContext.broadcast(
      stopDf.select("h").as[Long].collect().toSet)
    val bands = ArtifactStore.getOrBuild(s, bandKey)(
      graft.dedup.Dedup.bandedKeys(
        graft.dedup.Dedup.stopFilteredSigs(typed, bc, 3, 64), 32, 2))
    val pairs = ArtifactStore.getOrBuild(s, pairsKey) {
      val l = bands.select(col("doc_id").as("a"), col("band"), col("key"))
      val r = bands.select(col("doc_id").as("b"), col("band"), col("key"))
      val cand = l.join(r, Seq("band", "key"))
        .where(col("a") < col("b")).select("a", "b").distinct()
      graft.dedup.Dedup.verifyStopFiltered(cand,
          survTxt.select(col("doc_id"), col("norm_text").as("text")),
          bc, 3, 0.8)
        .select("a", "b")
    }
    (bc, bands, pairs)
  }

  private[graft] def incrBase(s: SparkSession, d: String, cut: Long)
      : IncrBase = {
    import graft.sinks.ArtifactStore
    val docs = Tables.documents(s, d)
    val Seq(normKey, exactKey, stopKey, bandKey, pairsKey, survKey) =
      incrStageNamesAt(s, d, cut)
    val normB = ArtifactStore.getOrBuild(s, normKey)(
      normFrame(s, docs.where(col("doc_id") < cut)))
    val qB = withQuality(normB).where(col("quality") >= lit(QualityMin))
    val exactB = ArtifactStore.getOrBuild(s, exactKey) {
      qB.select(col("doc_id"), digestCol.as("digest"))
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy("digest")))
        .select("doc_id", "digest", "keep_id")
    }
    // the exact-survivor frame feeds FOUR cold consumers (the survivor
    // summary commit, the stop-set mine, the band signatures, and the
    // verify's text attach) — persist() pays its committed-norm scan +
    // semi-join once instead of per consumer (the corpusRetrainAt
    // precedent: lineage-preserving, spills, never a corpus-sized
    // localCheckpoint pin). The warm serve path never materializes it,
    // so persist/unpersist are no-ops there.
    val exactSurvB = qB.join(
      exactB.where(col("doc_id") === col("keep_id")).select("doc_id"),
      Seq("doc_id"), "left_semi").persist()
    try {
      // the serve-side survivor summary (doc_id, n_norm) commits FIRST:
      // the report/manifest consumers read the committed table instead
      // of re-deriving the semi-join, and its columnless parquet count
      // below replaces what used to be a full semi-join count job
      val survNB = ArtifactStore.getOrBuild(s, survKey)(
        exactSurvB.select("doc_id", "n_norm"))
      val (bc, bandsB, pairsB) = buildStopStages(s, exactSurvB,
        survNB.count(), stopKey, bandKey, pairsKey)
      IncrBase(cut, normB, qB, exactB, bc, bandsB, pairsB, survNB)
    } finally exactSurvB.unpersist()
  }

  /** One appended slice's outputs — everything the report and any LATER
    * append needs, all slice-sized: per-doc counts for the stage rows,
    * the digest list (the next append's exact probe extension), the
    * exact-survivor text table (band source + candidate attach), the
    * banded keys, and the slice's near-dup removals. */
  private[graft] final case class DeltaFrames(
      normSlim: DataFrame, // (doc_id, n_raw, n_norm) — every slice doc
      qSlim: DataFrame, // (doc_id, n_norm) — quality survivors
      dig: DataFrame, // (doc_id, digest) — quality survivors
      survTxt: DataFrame, // (doc_id, norm_text, n_norm) exact survivors
      bands: DataFrame, // banded keys over exact survivors
      bad: DataFrame) // (doc_id) near removals within the slice

  /** The delta pass's EXACT-dedup front half — normalize + quality +
    * digest probe against prior committed digests, ending in the
    * slice's exact-survivor text table. Shared by the full delta pass
    * and the stop-drift monitor (which must see the survivors a serve
    * decision would sign, but runs BEFORE any signing). */
  private def deltaExactSurv(s: SparkSession, slice: DataFrame,
      priorDigests: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) =
    deltaExactSurvNorm(s, normFrame(s, slice).localCheckpoint(true),
      priorDigests)

  private def deltaExactSurvNorm(s: SparkSession, normD: DataFrame,
      priorDigests: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val qD = withQuality(normD).where(col("quality") >= lit(QualityMin))
    // LAZY pins (r17): each checkpoint still truncates lineage and
    // feeds its several consumers from stored blocks, but the
    // materialization merges into the first consumer's job instead of
    // paying a dedicated scheduling round-trip per pin — the delta
    // pass's own survivor count (or the caller's first action)
    // computes the whole front half in ONE job. Spark completes a
    // lazily-marked local checkpoint at that job's end, so every later
    // consumer reads blocks exactly as under the eager form.
    val digD = qD.select(col("doc_id"), digestCol.as("digest"))
      .localCheckpoint(false) // consumers: hit probe, anti join, commit
    val hitDigests = priorDigests
      .join(digD.select("digest").distinct(), Seq("digest"), "left_semi")
      .distinct()
    val exactSurvD = digD
      .join(hitDigests, Seq("digest"), "left_anti")
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy("digest")))
      .where(col("doc_id") === col("keep_id"))
      .select("doc_id")
    val survDTxt = qD
      .join(exactSurvD, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("norm_text"), col("n_norm"))
      .localCheckpoint(false)
    (normD, qD, digD, survDTxt)
  }

  /** The delta pass over one appended slice, probing COMMITTED prior
    * state (base, or base ∪ earlier deltas — the LSM stack). All
    * exchanges are delta- or candidate-sized; prior-state tables only
    * SCAN (streamed against delta-bounded probes). The intermediates
    * are PINNED (localCheckpoint): they feed 5-6 consumers each, and
    * re-deriving them re-runs the delta extraction plus a
    * committed-base scan per consumer — measured 26s → the pinned shape
    * at sf0.1. Unlike the chain's STAGE boundaries (durable commits
    * since r13: a multi-hour build must restart), these are per-run
    * DELTA-sized frames — the slice IS the unit of retry, the
    * layoutZorder-style one-job pin.
    *
    *  - normalize + quality: narrow per-doc pass over the slice
    *    (parquet row-group pruning on the id predicate).
    *  - exact: delta digests probe the prior digest list — the corpus
    *    side STREAMS (scan + semi join against the delta-bounded digest
    *    list, broadcastable by AQE); only then a delta-internal window
    *    picks min-id keepers of NEW digests.
    *  - near: delta survivors sign under the FROZEN stop set and
    *    band-join the prior band tables (corpus side streams against
    *    the delta probe behind a delta-sized Bloom — the q_bloom_join
    *    runtime filter: only colliding rows reach the exchange, and the
    *    exact band join rejects false positives, so the candidate set
    *    is identical by construction); candidate texts attach after a
    *    candidate-id semi-join restriction, so the verify join ships
    *    candidate-sized text, never the corpus. */
  private def deltaPass(s: SparkSession, slice: DataFrame,
      priorDigests: DataFrame, priorBands: DataFrame,
      priorTexts: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Set[Long]])
      : DeltaFrames =
    // lazy pin: the pass's survivor-count job materializes the whole
    // normalize→digest→survivor front half in one go (see the
    // deltaExactSurvNorm pin note)
    deltaPassNorm(s, normFrame(s, slice).localCheckpoint(false),
      priorDigests, priorBands, priorTexts, bc)

  /** The delta pass from a PRE-NORMALIZED slice frame — exposed so the
    * composition specs can drive synthetic norm fixtures through the
    * exact production algebra (CorpusRetractSpec's retract-then-append
    * stale-probe case, CorpusIncrSpec's N-segment fold). */
  private[graft] def deltaPassNorm(s: SparkSession, normD: DataFrame,
      priorDigests: DataFrame, priorBands: DataFrame,
      priorTexts: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Set[Long]])
      : DeltaFrames = {
    import s.implicits._
    val (_, qD, digD, survDTxt) = deltaExactSurvNorm(s, normD,
      priorDigests)
    val bandsD = graft.dedup.Dedup.bandedKeys(
      graft.dedup.Dedup.stopFilteredSigs(
        survDTxt.select(col("doc_id"), col("norm_text"))
          .as[(Long, String)], bc, 3, 64), 32, 2)
      // 3 consumers: the Bloom agg + both join sides; lazy — the Bloom
      // aggregation below is its first (full) materializer
      .localCheckpoint(false)
    // candidates: delta probes (prior ∪ delta) bands; a < b keeps the
    // pair orientation that can only ever remove DELTA docs (appended
    // ids are the largest in the corpus)
    val nBandsD = survDTxt.count() * 32
    // same memory-derived ceiling as q_bloom_join: 2^28 bits = 32 MB
    // per partial-aggregation task buffer
    val bandBits = math.min(1L << 28, math.max(1024L, nBandsD) * 16)
    val bandBf = bandsD.agg(graft.plans.Bloom
      .agg(xxhash64(col("band"), col("key")),
        math.max(1024L, nBandsD), bandBits).as("bf"))
    val bandsPriorHit = priorBands.where(graft.plans.Bloom.mightContain(
      graft.plans.Bloom.scalarOf(bandBf),
      xxhash64(col("band"), col("key"))))
    val cand = bandsPriorHit.unionByName(bandsD)
      .select(col("doc_id").as("a"), col("band"), col("key"))
      .join(bandsD.select(col("doc_id").as("b"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    val candIds = cand
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    // candidate text attach: every prior id in `cand` came out of a
    // committed band table, whose ids `priorTexts` covers by contract,
    // so no survivor semi-join is needed — the corpus text STREAMS
    // against the delta-bounded candidate-id list instead of exchanging
    // through a corpus-wide join
    val txtCand = priorTexts
      .unionByName(survDTxt.select(col("doc_id"),
        col("norm_text").as("text")))
      .join(candIds, Seq("doc_id"), "left_semi")
    val badD = graft.dedup.Dedup
      .verifyStopFiltered(cand, txtCand, bc, 3, 0.8)
      .select(col("b").as("doc_id")).distinct()
      // lazy: the report's first aggregate (or the segment commit)
      // materializes it; later consumers read the pinned blocks
      .localCheckpoint(false)
    DeltaFrames(
      normD.select("doc_id", "n_raw", "n_norm"),
      qD.select("doc_id", "n_norm"),
      digD,
      survDTxt,
      bandsD,
      badD)
  }

  /** The combined report over base-committed ∪ delta frames. Nothing
    * re-reads base TEXT; stage totals aggregate committed base columns
    * + the slices' slim frames, and placement is recomputed over
    * id+count columns only (16-byte rows), the manifest cost any append
    * pays. */
  private def incrReportFrames(s: SparkSession, normSlim0: DataFrame,
      qSlim0: DataFrame, exactN0: DataFrame, nearN0: DataFrame,
      deltas: Seq[DeltaFrames]): DataFrame = {
    val qSlim = (df: DataFrame) => df.select("doc_id", "n_norm")
    val normAll = deltas.map(_.normSlim).foldLeft(normSlim0)(_ unionByName _)
    val qAll = deltas.map(_.qSlim).foldLeft(qSlim0)(_ unionByName _)
    val exactAllN = deltas.map(d => qSlim(d.survTxt))
      .foldLeft(exactN0)(_ unionByName _)
    val nearAllN = deltas
      .map(d => qSlim(d.survTxt.join(d.bad, Seq("doc_id"), "left_anti")))
      .foldLeft(nearN0)(_ unionByName _)
    val asg = shardAsg(s, nearAllN)
    chainReport(normAll, qAll, exactAllN, nearAllN, asg)
  }

  private def incrReport(s: SparkSession, base: IncrBase,
      deltas: Seq[DeltaFrames]): DataFrame =
    incrReportFrames(s,
      base.normB.select("doc_id", "n_raw", "n_norm"),
      base.qB.select("doc_id", "n_norm"),
      base.survNB,
      base.survNB.join(base.badB, Seq("doc_id"), "left_anti"),
      deltas)

  /** The INCREMENTAL corpus build: the appended corpus's full chain
    * report (identical shape to corpus_build_e2e), computed by serving
    * the committed BASE stages and running only DELTA-sized work over
    * the appended slice — the production append path the full-rebuild
    * entry can't model (`dedup_incremental`/`dedup_minhash_incremental`
    * conventions applied to the chain's committed stages).
    *
    * The near stage's stop set is a TRAINED parameter (document
    * frequency over the base corpus), so the incremental chain FREEZES
    * it — the tokenizer convention: appends serve the base-trained
    * artifact rather than retraining per batch (a corpus-dependent
    * stop set would change every base doc's signature on every append,
    * which is exactly the non-incremental cost this entry removes).
    * The oracle replays that semantic: a full rebuild over the
    * appended corpus with the stop set mined from the base slice. */
  def corpusBuildIncr(s: SparkSession, d: String): DataFrame = {
    val cut = incrCut(s, d)
    val base = incrBase(s, d, cut)
    val delta = deltaPass(s,
      Tables.documents(s, d).where(col("doc_id") >= cut),
      base.exactB.select("digest"), base.bandsB,
      base.normB.select(col("doc_id"), col("norm_text").as("text")),
      base.bc)
    incrReport(s, base, Seq(delta))
  }

  // ------------------------------------------------------------------
  // corpus_build_incr2 — ITERATED appends: the chain survives a SECOND
  // append by stacking committed delta segments the LSM way
  // (round-15 ask #1)
  // ------------------------------------------------------------------

  /** The two append cuts: base = ids below 80% of (max+1), the first
    * appended slice is [80%, 90%), the second [90%, ∞). Both appends
    * carry larger ids than everything before them (the append
    * convention), so keep-min-id dedup stays monotone across the whole
    * stack: no later slice can displace an earlier survivor, and every
    * committed segment is immutable. */
  private[graft] def incr2Cuts(s: SparkSession, d: String): (Long, Long) = {
    val m = LlmPipeline.maxIdCached(s, s"$d/documents.parquet", "doc_id")(
      Tables.documents(s, d))
    ((m + 1) * 8 / 10, (m + 1) * 9 / 10)
  }

  /** Append-1's committed SEGMENT keys: keyed by the base fingerprint
    * (the frozen stop set and the committed band table the delta probed
    * are base-derived) plus the slice's own content fingerprint — a
    * different first append is a different segment, never an
    * overwrite. */
  /** The (base, slice-1) family key: base fingerprint + first-append
    * slice fingerprint + chain params — shared by the segment artifacts
    * and their compaction. */
  private[queries] def incr2FamilyKey(s: SparkSession, d: String)
      : String = {
    val (cut1, cut2) = incr2Cuts(s, d)
    val docs = Tables.documents(s, d)
    val (nb, hb) = LlmPipeline.fingerprintCached(s,
      s"$d/documents.parquet", Seq("doc_id", "text"),
      tag = s"base_lt$cut1")(docs.where(col("doc_id") < cut1))
    val (nd, hd) = LlmPipeline.fingerprintCached(s,
      s"$d/documents.parquet", Seq("doc_id", "text"),
      tag = s"slice_${cut1}_$cut2")(
      docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2))
    s"v1_b${nb}x${hb}_d${nd}x${hd}_q02_w3k64b32t08"
  }

  private[graft] def incr2Delta1Keys(s: SparkSession, d: String)
      : Seq[String] = {
    val k = incr2FamilyKey(s, d)
    Seq(s"chain_incr1_normslim_$k", s"chain_incr1_qslim_$k",
      s"chain_incr1_dig_$k", s"chain_incr1_survtxt_$k",
      s"chain_incr1_bands_$k", s"chain_incr1_bad_$k")
  }

  /** The compacted family's artifact names (corpus_build_compact). */
  private[graft] def incr2CompactKeys(s: SparkSession, d: String)
      : Seq[String] = {
    val k = incr2FamilyKey(s, d)
    Seq("normslim", "qslim", "dig", "txt", "bands", "survn", "bad",
      "stop").map(t => s"chain_comp1_${t}_$k")
  }

  /** Append-1 as a COMMITTED event: run the delta pass for the first
    * slice against the base, then commit each output as an immutable
    * segment artifact (built once; later appends and reruns SERVE it —
    * the returned frames always read the committed parquet, the
    * ArtifactStore convention). Exposed so the spec can stage the
    * "after append-1" state and prove append-2 leaves these
    * untouched. */
  private[graft] def incr2Delta1(s: SparkSession, d: String,
      base: IncrBase): DeltaFrames = {
    import graft.sinks.ArtifactStore
    val (cut1, cut2) = incr2Cuts(s, d)
    val keys = incr2Delta1Keys(s, d)
    if (!keys.forall(ArtifactStore.exists(s, _))) {
      val f = deltaPass(s,
        Tables.documents(s, d)
          .where(col("doc_id") >= cut1 && col("doc_id") < cut2),
        base.exactB.select("digest"), base.bandsB,
        base.normB.select(col("doc_id"), col("norm_text").as("text")),
        base.bc)
      // the six segment tables are mutually independent (each a
      // different output of the one delta pass) — commit them
      // concurrently (guide §2.6) instead of serializing six write
      // jobs; the cheap block-backed frames lead so the verify-backed
      // removal list overlaps their write tails
      ArtifactStore.commitAll(
        Seq(f.normSlim, f.qSlim, f.dig, f.survTxt, f.bands, f.bad)
          .zip(keys))
    }
    val Seq(n, q, g, t, b, x) = keys.map(ArtifactStore.load(s, _))
    DeltaFrames(n, q, g, t, b, x)
  }

  /** TWO stacked appends (round-15 ask #1): base builds/serves its
    * committed stages at the 80% cut; append-1 runs one delta pass and
    * COMMITS its outputs as an immutable segment; append-2 runs its
    * delta pass probing base ∪ segment-1 (digest list, band table, and
    * candidate texts each extend by the committed slice — the LSM read
    * path) and stays per-run. A rerun serves base AND segment-1 from
    * their artifacts — the second append never re-pays the first.
    *
    * Oracle: a full rebuild of the twice-appended corpus under the stop
    * set mined from the 80% base — split-invariant, so the committed
    * stack must land exactly where the monolith does. */
  def corpusBuildIncr2(s: SparkSession, d: String): DataFrame = {
    val (cut1, cut2) = incr2Cuts(s, d)
    val base = incrBase(s, d, cut1)
    val d1 = incr2Delta1(s, d, base)
    val d2 = deltaPass(s,
      Tables.documents(s, d).where(col("doc_id") >= cut2),
      base.exactB.select("digest").unionByName(d1.dig.select("digest")),
      base.bandsB.unionByName(d1.bands),
      base.normB.select(col("doc_id"), col("norm_text").as("text"))
        .unionByName(d1.survTxt.select(col("doc_id"),
          col("norm_text").as("text"))),
      base.bc)
    incrReport(s, base, Seq(d1, d2))
  }

  /** CHAIN COMPACTION (`corpus_build_compact`) — the other fold of the
    * LSM story (the re-keyed-base alternative to stacking): base +
    * segment-1 materialize as ONE committed family (slim counts,
    * quality survivors, the DISTINCT digest list, the candidate text
    * table, the band table, the survivor summary, the removal list,
    * and a copy of the FROZEN stop set — compaction re-keys tables,
    * never trained parameters), so the NEXT append probes one family
    * instead of base ∪ N segments: the read-amplification collapse,
    * at the price of one corpus-sized rewrite (what LSM compaction
    * is). The delta-2 pass and report then run EXACTLY the incr2
    * algebra against the compacted frames — result identical to the
    * stacked entry, which is why the oracle is the same
    * split-invariant frozen-stop rebuild. The spec removes the base
    * family and the segment after compaction and the entry still
    * serves: the read path provably collapsed. */
  /** The compaction fold over base + N committed segments — the 8
    * tables of the compacted family, in `incr2CompactKeys` order. Pure
    * unions (plus one digest distinct): compaction re-keys tables,
    * never recomputes, so folding N segments is the same algebra as
    * folding one — CorpusCompactSpec pins a 2-segment fold against the
    * split-invariant rebuild. The LSM read-path contract holds at any
    * N: post-fold, serving probes ONE family. */
  private[graft] def compactFolds(s: SparkSession, base: IncrBase,
      stopDf: DataFrame, deltas: Seq[DeltaFrames]): Seq[DataFrame] = {
    val qSlim = (df: DataFrame) => df.select("doc_id", "n_norm")
    Seq(
      deltas.map(_.normSlim)
        .foldLeft(base.normB.select("doc_id", "n_raw", "n_norm"))(
          _ unionByName _),
      deltas.map(_.qSlim).foldLeft(qSlim(base.qB))(_ unionByName _),
      deltas.map(_.dig.select("digest"))
        .foldLeft(base.exactB.select("digest"))(_ unionByName _)
        .distinct(),
      deltas.map(d => d.survTxt.select(col("doc_id"),
          col("norm_text").as("text")))
        .foldLeft(base.normB.select(col("doc_id"),
          col("norm_text").as("text")))(_ unionByName _),
      deltas.map(_.bands).foldLeft(base.bandsB)(_ unionByName _),
      deltas.map(d => qSlim(d.survTxt)).foldLeft(base.survNB)(
        _ unionByName _),
      deltas.map(_.bad).foldLeft(base.badB)(_ unionByName _),
      stopDf)
  }

  def corpusBuildCompact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sinks.ArtifactStore
    val (cut1, cut2) = incr2Cuts(s, d)
    val keys = incr2CompactKeys(s, d)
    if (!keys.forall(ArtifactStore.exists(s, _))) {
      val base = incrBase(s, d, cut1)
      val d1 = incr2Delta1(s, d, base)
      val folds = compactFolds(s, base,
        ArtifactStore.load(s, incrStageNamesAt(s, d, cut1)(2)), Seq(d1))
      // the eight compacted tables are pure unions of already-committed
      // inputs, mutually independent — commit concurrently (guide §2.6)
      ArtifactStore.commitAll(folds.zip(keys))
    }
    val Seq(normC, qC, digC, txtC, bandsC, survC, badC, stopC) =
      keys.map(ArtifactStore.load(s, _))
    val bc = s.sparkContext.broadcast(
      stopC.select("h").as[Long].collect().toSet)
    val d2 = deltaPass(s,
      Tables.documents(s, d).where(col("doc_id") >= cut2),
      digC, bandsC, txtC, bc)
    incrReportFrames(s, normC, qC, survC,
      survC.join(badC, Seq("doc_id"), "left_anti"), Seq(d2))
  }

  // ------------------------------------------------------------------
  // u_stream_corpus_append — the chain's write path as a STREAM
  // ------------------------------------------------------------------

  /** One streamed micro-batch's segment keys: bid-keyed under the
    * incr2 family fingerprint. The batch id is stable across
    * micro-batch retries (Spark replays an in-flight batch under the
    * SAME id), and the feed's batch→slice mapping is deterministic
    * (one drop file per trigger, mtime-ordered), so bid-keyed commits
    * make the handler idempotent: a replayed batch re-derives the same
    * keys and exists() short-circuits — the store's keyed-immutability
    * version of exactly-once. */
  private[queries] def streamSegKeys(k: String, bid: Long)
      : Seq[String] =
    Seq("normslim", "qslim", "dig", "survtxt", "bands", "bad")
      .map(t => s"chain_stream_b${bid}_${t}_$k")

  /** STREAMING LSM INGEST (`u_stream_corpus_append`) — the chain's
    * write path as a structured stream, the online twin of
    * `corpus_build_incr2`: the appended corpus arrives as crawl DROP
    * FILES (one per increment, the Kafka-to-landing-dir shape), the
    * file source feeds them one per trigger, and each micro-batch's
    * foreachBatch handler runs ONE delta pass probing base ∪ every
    * previously committed segment (the LSM read path, exactly the
    * incr2 algebra) and commits its outputs as an immutable bid-keyed
    * segment. Serving after the stream drains reads base ∪ committed
    * segments — the same frames the batch entry serves, which is why
    * the oracle is the identical split-invariant frozen-stop rebuild.
    *
    * At 100 TB this is the production ingest mode: increments land
    * continuously, each pays delta-sized work against committed
    * state, segments accumulate until compaction folds them
    * (`corpus_build_compact`), and a retry anywhere re-serves instead
    * of re-computing. StreamCorpusSpec pins the exactly-once contract
    * (a second full run leaves every segment's part listing untouched)
    * and stream-equals-batch equality. */
  def uStreamCorpusAppend(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.ArtifactStore
    val (cut1, cut2) = incr2Cuts(s, d)
    val base = incrBase(s, d, cut1)
    val k = incr2FamilyKey(s, d)
    def committed(bid: Long) =
      streamSegKeys(k, bid).forall(ArtifactStore.exists(s, _))
    def loadSeg(bid: Long): DeltaFrames = {
      val Seq(n, q, g, t, b, x) =
        streamSegKeys(k, bid).map(ArtifactStore.load(s, _))
      DeltaFrames(n, q, g, t, b, x)
    }
    // per-run throwaway drop-file staging + checkpoint on the fast local
    // volume (graft.util.TmpDirs; both deleted in the finally below) —
    // the DURABLE side of this entry is the ArtifactStore segment
    // commits, which stay on the store root
    val feedDir = graft.util.TmpDirs.ephemeral("graft_stream_append")
    val ckptDir = feedDir + "_ckpt"
    def rmr(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case _: Throwable => () }
    }
    try {
      // stage the two appended slices as mtime-ordered drop files (the
      // fixture's stand-in for a crawl landing directory)
      val docs = Tables.documents(s, d)
      Seq((cut1, cut2, "drop1"), (cut2, Long.MaxValue, "drop2"))
        .zipWithIndex.foreach { case ((lo, hi, name), i) =>
          val tmp = s"$feedDir/_stage_$name"
          docs.where(col("doc_id") >= lo && col("doc_id") < hi)
            .coalesce(1).write.parquet(tmp)
          val fs = new org.apache.hadoop.fs.Path(tmp)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
            .map(_.getPath).find(_.getName.endsWith(".parquet")).get
          val dst =
            new org.apache.hadoop.fs.Path(s"$feedDir/$name.parquet")
          fs.rename(part, dst)
          fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
          fs.setTimes(dst, 1700000000000L + i * 60000L, -1)
        }
      val stream = s.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "drop*.parquet")
        .parquet(feedDir)
      val q = stream.writeStream
        .option("checkpointLocation", ckptDir)
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val keys = streamSegKeys(k, bid)
          if (!batch.isEmpty && !keys.forall(ArtifactStore.exists(s, _))) {
            val priors = (0L until bid).filter(committed).map(loadSeg)
            val f = deltaPass(s, batch,
              priors.map(_.dig.select("digest"))
                .foldLeft(base.exactB.select("digest"))(_ unionByName _),
              priors.map(_.bands).foldLeft(base.bandsB)(_ unionByName _),
              priors.map(p => p.survTxt.select(col("doc_id"),
                  col("norm_text").as("text")))
                .foldLeft(base.normB.select(col("doc_id"),
                  col("norm_text").as("text")))(_ unionByName _),
              base.bc)
            // same independent-segment-table overlap as incr2Delta1
            ArtifactStore.commitAll(
              Seq(f.normSlim, f.qSlim, f.dig, f.survTxt, f.bands, f.bad)
                .zip(keys))
          }
          ()
        }
        .start()
      try {
        q.processAllAvailable()
        val fed = q.recentProgress.count(_.numInputRows > 0)
        require(fed == 2, "the feed must arrive as two micro-batches " +
          s"(one drop file per trigger), saw $fed")
      } finally q.stop()
    } finally { rmr(feedDir); rmr(ckptDir) }
    incrReport(s, base, (0L to 1L).map(loadSeg))
  }

  // ------------------------------------------------------------------
  // corpus_build_retract — takedown: remove a doc slice (exact KEEPERS
  // included) and re-elect survivors from the committed stages
  // (round-15 ask #3)
  // ------------------------------------------------------------------

  /** The takedown slice: every 13th doc starting at 5 — dense enough
    * that it hits exact keepers (min-ids of their digest groups) and
    * near-dup pair members, so both re-election paths run on the real
    * fixture, not just the synthetic spec. */
  private val RetractPredSql = "doc_id % 13 = 5"
  private def retractPred(c: Column): Column = c % 13 === 5

  /** Everything the post-takedown world exposes to LATER lifecycle
    * events: the report frames (the retract entry's output), plus the
    * probe surfaces a subsequent APPEND needs — the alive digest list
    * (a removed singleton's digest must stop suppressing new content),
    * the alive band table (old survivor bands minus the slice, plus
    * the re-elected keepers' bands — both can remove a delta doc), the
    * text table covering every banded id, and the composed removal
    * list. This is what lets retract-then-append run the UNCHANGED
    * deltaPass algebra against the takedown's survivor state. */
  private[graft] final case class RetractState(
      normA: DataFrame, qA: DataFrame,
      exactAllN: DataFrame, nearAllN: DataFrame,
      aliveDigests: DataFrame, aliveBands: DataFrame,
      aliveTexts: DataFrame, badAll: DataFrame)

  /** Survivor re-election over a committed build after removing the
    * docs matching `rm` — the production takedown path (GDPR/DMCA):
    * the corpus-sized stages only SCAN (predicate filters), and every
    * exchange is R-sized or candidate-sized.
    *
    *  - exact: digest groups whose KEEPER was taken down re-elect the
    *    min remaining member from the committed digest table (the
    *    R-bounded `touched` digest list streams against it); untouched
    *    groups keep their keeper — removal can never displace a
    *    surviving keeper, since keepers are min-ids.
    *  - near: committed verified PAIRS whose smaller side survives
    *    still remove their larger side; pairs whose smaller side was
    *    taken down lapse — a doc whose only partners lapse RESURRECTS.
    *    Newly elected keepers enter the near-dup pool fresh (their
    *    shingle sequences differ from the old keeper's even though the
    *    digest matches — digests ignore order, shingles don't): they
    *    sign under the FROZEN stop set and band-join the alive
    *    committed band table behind an R-sized Bloom, in BOTH
    *    orientations (a new keeper can be removed by a smaller-id
    *    survivor, or remove a larger-id one).
    *
    * Returns (norm', q', exactSurvivors', nearSurvivors') as
    * (doc_id, [n_raw,] n_norm) frames for the report. */
  private[graft] def retractFrames(s: SparkSession, base: IncrBase,
      rm: Column => Column)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val st = retractState(s, base, rm)
    (st.normA, st.qA, st.exactAllN, st.nearAllN)
  }

  private[graft] def retractState(s: SparkSession, base: IncrBase,
      rm: Column => Column): RetractState = {
    import s.implicits._
    val keep = (c: Column) => !rm(c)
    val normA = base.normB.where(keep(col("doc_id")))
      .select("doc_id", "n_raw", "n_norm")
    val qA = base.qB.where(keep(col("doc_id")))
      .select("doc_id", "n_norm")
    val touched = base.exactB
      .where(rm(col("doc_id")) && col("doc_id") === col("keep_id"))
      .select("digest")
    val newKeepers = graft.util.Pins.pinSmall(base.exactB
      .join(touched, Seq("digest"), "left_semi")
      .where(keep(col("doc_id")))
      .withColumn("keep2",
        min(col("doc_id")).over(Window.partitionBy("digest")))
      .where(col("doc_id") === col("keep2"))
      .select("doc_id"),
      "retract newKeepers (R-bounded); consumers: n_norm, sigs, texts")
    val exactAllN = base.survNB.where(keep(col("doc_id")))
      .unionByName(base.qB.select("doc_id", "n_norm")
        .join(newKeepers, Seq("doc_id"), "left_semi"))
    val stillBad = base.pairsB.where(keep(col("a")))
      .select(col("b").as("doc_id"))
    val nkTxt = graft.util.Pins.pinSmall(base.normB
      .select(col("doc_id"), col("norm_text"))
      .join(newKeepers, Seq("doc_id"), "left_semi"),
      "retract new-keeper texts (R-bounded)")
    val bandsN = graft.util.Pins.pinSmall(graft.dedup.Dedup.bandedKeys(
      graft.dedup.Dedup.stopFilteredSigs(
        nkTxt.as[(Long, String)], base.bc, 3, 64), 32, 2),
      "retract new-keeper bands (32·R); Bloom agg + both join sides")
    val nBandsN = newKeepers.count() * 32
    // same memory-derived ceiling as the delta pass (32 MB/task)
    val bandBits = math.min(1L << 28, math.max(1024L, nBandsN) * 16)
    val bandBf = bandsN.agg(graft.plans.Bloom
      .agg(xxhash64(col("band"), col("key")),
        math.max(1024L, nBandsN), bandBits).as("bf"))
    val bandsAliveHit = base.bandsB.where(keep(col("doc_id")))
      .where(graft.plans.Bloom.mightContain(
        graft.plans.Bloom.scalarOf(bandBf),
        xxhash64(col("band"), col("key"))))
    val cand = bandsAliveHit.unionByName(bandsN)
      .select(col("doc_id").as("x"), col("band"), col("key"))
      .join(bandsN.select(col("doc_id").as("y"), col("band"), col("key")),
        Seq("band", "key"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()
    val candIds = cand
      .select(explode(array(col("a"), col("b"))).as("doc_id")).distinct()
    val txtCand = base.normB
      .select(col("doc_id"), col("norm_text").as("text"))
      .join(candIds, Seq("doc_id"), "left_semi")
    val newBad = graft.dedup.Dedup
      .verifyStopFiltered(cand, txtCand, base.bc, 3, 0.8)
      .select(col("b").as("doc_id"))
    // pinned: the removal list is R-bounded (lapse-filtered committed
    // pairs + the new keepers' verified matches), and its producer —
    // the re-election verify chain — is the takedown's expensive
    // branch; nearAllN feeds two report consumers (stage row + shard
    // placement), which would otherwise re-run that verify per use
    val badAll = graft.util.Pins.pinSmall(
      stillBad.unionByName(newBad).distinct(),
      "takedown removal list (R-bounded); report consumers ×2")
    val nearAllN = exactAllN.join(badAll, Seq("doc_id"), "left_anti")
    RetractState(normA, qA, exactAllN, nearAllN,
      aliveDigests = base.exactB.where(keep(col("doc_id")))
        .select("digest"),
      aliveBands = base.bandsB.where(keep(col("doc_id")))
        .unionByName(bandsN),
      aliveTexts = base.normB.where(keep(col("doc_id")))
        .select(col("doc_id"), col("norm_text").as("text")),
      badAll = badAll)
  }

  /** CHAIN RETRACTION (`corpus_build_retract`): the takedown twin of
    * the append entries — the committed FULL-CORPUS build (incrBase at
    * a cut above every id) serves its stages, the retraction slice is
    * removed, and survivors re-elect per `retractFrames`. The stop set
    * stays FROZEN to the committed (pre-takedown) corpus — the
    * trained-parameter convention: a takedown serves the trained
    * params, it does not retrain them. Oracle: a full rebuild over the
    * reduced corpus with the stop set mined over the ORIGINAL corpus
    * (the two-branch replay in `chainCtesRetract`). */
  def corpusBuildRetract(s: SparkSession, d: String): DataFrame = {
    val mx = LlmPipeline.maxIdCached(s, s"$d/documents.parquet",
      "doc_id")(Tables.documents(s, d)) + 1
    val base = incrBase(s, d, mx)
    val (n, q, e, nr) = retractFrames(s, base, retractPred)
    chainReport(n, q, e, nr, shardAsg(s, nr))
  }

  /** Two-branch replay for the retraction oracle: the FULL-corpus chain
    * runs to its exact survivors (`exdf`) to mine the frozen stop set
    * (`sdf`), then the REDUCED chain (documents minus the retraction
    * slice) re-runs exact + near dedup + pack under that stop set. CTE
    * bodies mirror `chainCtes` (same engine-identical expressions);
    * only the branching differs, so `reportSql` composes unchanged.
    * `stopScope` restricts the param-mining branch's exact-survivor
    * window (retract-then-append freezes the stop set to the BASE
    * slice); `extraCtes` supplies the cut. */
  private def chainCtesRetract(rmPred: String, stopScope: String = "",
      extraCtes: String = ""): String =
    s"""${LlmPipeline.htmlBlockChainSqlShared},$extraCtes
       |ex AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(btext, chr(10) ORDER BY ord)
       |      FILTER (WHERE keep), '') AS etext
       |  FROM fin GROUP BY doc_id),
       |n2 AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(etext, '\\s+')) AS BIGINT)
       |      AS n_raw,
       |    list_filter(string_split_regex(lower(etext), '\\s+'),
       |      t -> t NOT IN ('a', 'the') AND t <> ''
       |        AND NOT regexp_matches(t, '^[0-9]+$$')) AS nl
       |  FROM ex),
       |n3f AS (
       |  SELECT doc_id, n_raw, array_to_string(nl, ' ') AS norm_text,
       |    CAST(len(nl) AS BIGINT) AS n_norm,
       |    CAST(coalesce(list_aggregate(list_transform(nl,
       |      t -> length(t)), 'sum'), 0) AS BIGINT) AS sum_len,
       |    CAST(len(list_filter(nl, t -> t IN
       |      ('the','a','and','of','to','is','in'))) AS BIGINT) AS n_stop
       |  FROM n2),
       |q_allf AS (
       |  SELECT *, round(least(CAST(sum_len AS DOUBLE) / n_norm, 10.0)
       |    / 10.0 * 0.2 + CAST(n_stop AS DOUBLE) / n_norm * 0.5 +
       |    least(CAST(n_norm AS DOUBLE), 100.0) / 100.0 * 0.3, 6)
       |    AS quality
       |  FROM n3f WHERE n_norm > 0),
       |qsf AS (SELECT * FROM q_allf WHERE quality >= 0.2),
       |exdf AS (
       |  SELECT * FROM (
       |    SELECT *, min(doc_id) OVER (PARTITION BY
       |      array_to_string(list_sort(list_distinct(
       |        string_split_regex(norm_text, '\\s+'))), ' ')) AS keep_id
       |    FROM qsf$stopScope)
       |  WHERE doc_id = keep_id),
       |shnf AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
       |             i -> array_to_string(t[i:i+2], ' '))) END AS s0
       |  FROM (SELECT doc_id, string_split_regex(norm_text, '\\s+') AS t
       |        FROM exdf)),
       |sdf AS (
       |  SELECT g FROM (SELECT unnest(s0) AS g FROM shnf)
       |  GROUP BY g
       |  HAVING count(*) > (SELECT count(*) FROM exdf) // 2),
       |n3 AS (SELECT * FROM n3f WHERE NOT ($rmPred)),
       |qs AS (SELECT * FROM qsf WHERE NOT ($rmPred)),
       |exd_all AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY
       |    array_to_string(list_sort(list_distinct(
       |      string_split_regex(norm_text, '\\s+'))), ' ')) AS keep_id
       |  FROM qs),
       |exd AS (SELECT * FROM exd_all WHERE doc_id = keep_id),
       |shn AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
       |             i -> array_to_string(t[i:i+2], ' '))) END AS s0
       |  FROM (SELECT doc_id, string_split_regex(norm_text, '\\s+') AS t
       |        FROM exd)),
       |shf AS (
       |  SELECT doc_id, list(g) AS sset
       |  FROM (SELECT doc_id, unnest(s0) AS g FROM shn)
       |  WHERE g NOT IN (SELECT g FROM sdf)
       |  GROUP BY doc_id),
       |bad AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM shf a JOIN shf b ON a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(a.sset, b.sset)))
       |      AS DOUBLE), 6) >= 0.8),
       |nr AS (
       |  SELECT * FROM exd
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
       |p2 AS (SELECT GREATEST(8, (count(*) + 4095) // 4096) AS nb FROM nr),
       |t2 AS (
       |  SELECT doc_id, CAST(n_norm AS INTEGER) AS n_tokens,
       |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % (SELECT nb FROM p2) AS INTEGER) AS bucket,
       |    md5(CAST(doc_id AS VARCHAR)) AS h
       |  FROM nr),
       |c2 AS (
       |  SELECT doc_id, bucket, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_in_b
       |  FROM t2),
       |bb2 AS (
       |  SELECT bucket,
       |    CAST(coalesce(sum(btot) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS boff
       |  FROM (SELECT bucket, sum(n_tokens) AS btot FROM t2
       |        GROUP BY bucket)),
       |tot2 AS (SELECT CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
       |         AS total FROM t2),
       |a2 AS (
       |  SELECT c2.doc_id, c2.n_tokens,
       |    CAST(least(7, ((bb2.boff + c2.end_in_b - c2.n_tokens) * 8)
       |      // (SELECT total FROM tot2)) AS INTEGER) AS shard
       |  FROM c2 JOIN bb2 USING (bucket))""".stripMargin

  val corpusBuildRetractSql: String =
    reportSql(chainCtesRetract(RetractPredSql))

  // ------------------------------------------------------------------
  // corpus_build_retract_incr — COMPOSED lifecycle: takedown, THEN an
  // append against the post-takedown survivor state (round-16 ask #2)
  // ------------------------------------------------------------------

  /** Retract-then-append: the committed BASE build (90% cut) takes a
    * takedown of every 13th doc, survivors re-elect per retractState,
    * and THEN the append slice arrives — its delta pass must probe the
    * POST-TAKEDOWN surfaces, not the stale committed ones:
    *
    *  - digests: a removed SINGLETON keeper's digest must stop
    *    suppressing a delta doc with the same content (probing the
    *    stale committed digest list would wrongly drop it — the spec
    *    pins a synthetic case where exactly that happens);
    *  - bands: removed survivors' bands leave the probe set, and the
    *    RE-ELECTED keepers' bands enter it (a new keeper can remove a
    *    delta near-dup the old keeper never matched);
    *  - removals: the takedown's composed list (lapsed pairs re-elect,
    *    resurrections included) seeds the survivor set the append
    *    extends.
    *
    * Both trained-parameter conventions hold at once: the takedown
    * serves the frozen stop set, and the append signs under the SAME
    * frozen set — one parameter epoch across the composed events.
    * Oracle: two-branch replay — the BASE slice mines the stop set,
    * then the reduced-plus-appended corpus ((base − slice) ∪ delta)
    * rebuilds under it. All append exchanges stay delta-/candidate-
    * sized; the takedown's stay R-sized: composition adds no new
    * corpus-sized exchange. */
  def corpusBuildRetractIncr(s: SparkSession, d: String): DataFrame = {
    val cut = incrCut(s, d)
    val base = incrBase(s, d, cut)
    val st = retractState(s, base, retractPred)
    val delta = deltaPass(s,
      Tables.documents(s, d).where(col("doc_id") >= cut),
      st.aliveDigests, st.aliveBands, st.aliveTexts, base.bc)
    incrReportFrames(s, st.normA, st.qA, st.exactAllN, st.nearAllN,
      Seq(delta))
  }

  val corpusBuildRetractIncrSql: String = reportSql(chainCtesRetract(
    s"$RetractPredSql AND doc_id < (SELECT c FROM cutv)",
    " WHERE doc_id < (SELECT c FROM cutv)",
    "\ncutv AS (SELECT ((max(doc_id) + 1) * 9) // 10 AS c" +
      " FROM documents),"))

  // ------------------------------------------------------------------
  // corpus_retrain — retrain ACTUATION: the event a 'retrain' decision
  // from corpus_stop_drift dispatches (round-16 ask #1). Closes the
  // control loop the monitors opened.
  // ------------------------------------------------------------------

  /** RETRAIN = COMPACTION THAT ALSO REFOLDS THE TRAINED PARAMETER.
    * When the drift monitor says the frozen stop set no longer models
    * the corpus, the retrain event promotes base + appends into the
    * FULL-corpus family (`incrStageNamesAt` at a cut above every id —
    * the same keys `corpus_build_retract`'s base serves, so the whole
    * lifecycle continues from the refreshed family):
    *
    *  - the stop-INDEPENDENT stages are never recomputed: the new
    *    family's normalize table is base ∪ delta-normalize (the
    *    extraction/normalize pass over the base corpus — the chain's
    *    most expensive stage — is SERVED, not re-paid), and its digest
    *    table extends the committed one with the delta's rows, keepers
    *    resolved by a digest-keyed lookup against the committed
    *    keepers (append ids are larger, so committed keepers stand);
    *  - the stop-DEPENDENT stages retrain: the stop set re-mines over
    *    the union survivors (the one thing compaction deliberately
    *    never touched), and every survivor re-signs under it — new
    *    bands, re-verified pairs. This corpus-wide re-sign IS the
    *    retrain cost; there is no incremental shortcut, because a
    *    changed stop set changes every signature (exactly why appends
    *    freeze it and only a triggered retrain pays this).
    *
    * The serve path reads ONLY the refreshed family — once it exists,
    * neither the 90% base family nor any append segment is consulted
    * (the spec removes the stale near-stage artifacts post-retrain and
    * the entry still serves). Oracle: the full monolithic rebuild with
    * the stop set mined over EVERYTHING — the refreshed-parameter
    * semantics, which is corpus_build_e2e's own replay: retrain ends
    * exactly where a from-scratch build of the grown corpus ends,
    * without re-running its extract/normalize/digest stages. */
  def corpusRetrain(s: SparkSession, d: String): DataFrame = {
    val mx = LlmPipeline.maxIdCached(s, s"$d/documents.parquet",
      "doc_id")(Tables.documents(s, d)) + 1
    corpusRetrainAt(s, d, incrCut(s, d), mx)
  }

  /** The promotion event parameterized by its bounds: promote the
    * committed family at `cut` plus the [cut, hi) slice into the family
    * at `hi` — the entry promotes to the full corpus; the spec promotes
    * to the 90% cut and proves the LIFECYCLE CONTINUES from the
    * refreshed family (corpus_build_incr's next append serves it with
    * no re-commit, because the keys coincide with the base family it
    * would have built from scratch). */
  private[queries] def corpusRetrainAt(s: SparkSession, d: String,
      cut: Long, hi: Long): DataFrame = {
    import s.implicits._
    import graft.sinks.ArtifactStore
    val keys = incrStageNamesAt(s, d, hi)
    val Seq(normKey, exactKey, stopKey, bandKey, pairsKey, survKey) = keys
    if (!keys.forall(ArtifactStore.exists(s, _))) {
      val base = incrBase(s, d, cut)
      val (normD, _, digD, survDTxt) = deltaExactSurv(s,
        Tables.documents(s, d)
          .where(col("doc_id") >= cut && col("doc_id") < hi),
        base.exactB.select("digest"))
      val bKeep = base.exactB.select(col("digest"),
        col("keep_id").as("bkeep")).distinct()
      val exactD = digD
        .join(bKeep, Seq("digest"), "left")
        .withColumn("dmin",
          min(col("doc_id")).over(Window.partitionBy("digest")))
        .select(col("doc_id"), col("digest"),
          coalesce(col("bkeep"), col("dmin")).as("keep_id"))
      // stop-independent folds: rows identical to a from-scratch build
      // of the full family (RetrainSpec pins the equality). The two
      // commits are independent of each other (norm reads the eager
      // normD pin's blocks; exact derives from the digest pin), so
      // they overlap (guide §2.6).
      ArtifactStore.commitAll(Seq(
        base.normB.unionByName(normD) -> normKey,
        base.exactB.unionByName(exactD) -> exactKey))
      // the retrained parameter + its dependents, over union survivors.
      // The union is corpus-sized and the stop/band/verify builds each
      // consume it — persist() (lineage-preserving, spills, recomputes
      // on executor loss; NOT a localCheckpoint pin, which the
      // convention reserves for small frames) makes the retrain event
      // pay the base-survivor scan once instead of three times.
      val survTxtFull = base.normB
        .join(base.survNB.select("doc_id"), Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("norm_text"))
        .unionByName(survDTxt.select("doc_id", "norm_text"))
        .persist()
      try {
        buildStopStages(s, survTxtFull,
          base.survNB.count() + survDTxt.count(),
          stopKey, bandKey, pairsKey)
        if (!ArtifactStore.exists(s, survKey))
          ArtifactStore.commit(base.survNB
            .unionByName(survDTxt.select("doc_id", "n_norm")), survKey)
      } finally survTxtFull.unpersist()
    }
    // serve: the refreshed family alone (getOrBuild loads committed)
    incrReport(s, incrBase(s, d, hi), Seq.empty)
  }

  // ------------------------------------------------------------------
  // corpus_stop_drift — retrain-vs-serve trigger for the frozen stop
  // set (round-15 ask #4)
  // ------------------------------------------------------------------

  /** The named retrain threshold: total variation distance between the
    * base and delta stop-shingle document-frequency profiles, in
    * micro-fixed-point. TV > 0.1 → retrain. */
  private[graft] val StopDriftTvMicro = 100000L

  /** Shingle STRINGS of a normalized text column (w = 3, distinct per
    * doc, whole-text fallback under 3 tokens) — the string twin of
    * Dedup.shingles' hashed form, used where the oracle must replay the
    * grams themselves. */
  private def shingleStrings(textCol: String): Column = {
    val toks = s"split($textCol, '\\\\s+')"
    expr(s"""CASE WHEN size($toks) < 3 THEN array($textCol)
         ELSE array_distinct(transform(sequence(0, size($toks) - 3),
           i -> concat_ws(' ', slice($toks, i + 1, 3)))) END""")
  }

  /** The drift computation over two survivor-text frames
    * (doc_id, norm_text[, n_norm]): per-side shingle DOCUMENT
    * FREQUENCIES, restricted to shingles that are stop shingles on
    * EITHER side (df > n/2 — the mining rule itself), each scored with
    * its membership ('both' / 'frozen_only' / 'mined_only') and its
    * micro-rounded TV contribution |df_b/n_b − df_d/n_d| / 2, plus one
    * DECISION row carrying the side sizes, the total, the named
    * threshold, and retrain-vs-serve.
    *
    * TV rather than KL (profile_drift carries both): membership rates
    * here legitimately hit ZERO (a frozen stop shingle absent from the
    * delta is exactly the retrain signal), where KL needs smoothing and
    * its ln() is not correctly rounded in either engine — TV stays
    * micro-exact with no accepted wobble. Terms are micro-rounded
    * BEFORE summation (the repo's fixed-point convention), so the total
    * is hash-exact.
    *
    * Scale shape: one (shingle, count) exchange per side with map-side
    * combine — counts, never docs (the profile_drift shape); the stop
    * restriction bounds the scored set at ~2 × avg-shingles-per-doc
    * rows per side. */
  /** Per-shingle document frequency of a survivor-text frame — the
    * committable profile form (vocabulary-sized: one row per distinct
    * shingle, map-side combined). */
  private def shingleDf(txt: DataFrame, out: String): DataFrame = txt
    .select(explode(shingleStrings("norm_text")).as("g"))
    .groupBy("g").agg(count(lit(1)).as(out))

  private[graft] def stopDriftFrom(s: SparkSession, baseTxt: DataFrame,
      deltaTxt: DataFrame): DataFrame =
    stopDriftFromDf(s, shingleDf(baseTxt, "df_base"), baseTxt.count(),
      deltaTxt)

  /** Drift against a PRE-COMPUTED base profile (the serve path: the
    * base side's DF table is itself a committed trained-parameter
    * summary, so a warm monitor run pays only delta-sized text work
    * plus two vocabulary-sized exchanges — measured 57.4s → the
    * committed-profile shape at the 1000× tier, where re-deriving the
    * base side re-exchanged 2.6 GB of corpus text per run). */
  /** The degenerate-side decision row (round-15 ADVICE): with nD = 0
    * the TV terms divide by zero, where the engines DISAGREE — Spark's
    * Inf/NaN→BIGINT cast yields 0/null while DuckDB errors — so the
    * empty cases short-circuit to one explicit decision row BEFORE any
    * division. An empty delta carries no drift evidence → serve (the
    * trained parameter stays valid by default); an empty base profile
    * means there is no trained parameter behind the monitor → retrain. */
  private def stopDriftDegenerate(s: SparkSession, nB: Long, nD: Long)
      : DataFrame =
    s.range(1).select(lit("decision").as("kind"),
      lit("__total__").as("shingle"), lit(nB).as("df_base"),
      lit(nD).as("df_delta"), lit(0L).as("drift_micro"),
      lit(StopDriftTvMicro).as("threshold_micro"),
      lit(if (nB == 0L && nD > 0L) "retrain" else "serve").as("decision"))

  private[graft] def stopDriftFromDf(s: SparkSession, dfBase: DataFrame,
      nB: Long, deltaTxt: DataFrame): DataFrame = {
    val nD = deltaTxt.count()
    if (nD == 0L || nB == 0L) return stopDriftDegenerate(s, nB, nD)
    val joined = dfBase
      .join(shingleDf(deltaTxt, "df_delta"), Seq("g"), "full_outer")
      .na.fill(0L, Seq("df_base", "df_delta"))
    val scored = graft.util.Pins.pinSmall(joined
      .where(col("df_base") > lit(nB / 2) ||
        col("df_delta") > lit(nD / 2))
      .select(col("g"), col("df_base"), col("df_delta"),
        expr(s"CAST(round(abs(CAST(df_base AS DOUBLE) / ${nB}e0 - " +
          s"CAST(df_delta AS DOUBLE) / ${nD}e0) / 2e0 * 1000000e0) " +
          "AS BIGINT)").as("drift_micro"),
        when(col("df_base") > lit(nB / 2) &&
            col("df_delta") > lit(nD / 2), "both")
          .when(col("df_base") > lit(nB / 2), "frozen_only")
          .otherwise("mined_only").as("membership")),
      "stop-drift scored shingles (stop-restricted); rows + total")
    val shingleRows = scored.select(lit("shingle").as("kind"),
      col("g").as("shingle"), col("df_base"), col("df_delta"),
      col("drift_micro"), lit(null).cast("long").as("threshold_micro"),
      col("membership").as("decision"))
    val decisionRow = scored
      .agg(coalesce(sum("drift_micro"), lit(0L)).as("t"))
      .select(lit("decision").as("kind"), lit("__total__").as("shingle"),
        lit(nB).as("df_base"), lit(nD).as("df_delta"),
        col("t").as("drift_micro"),
        lit(StopDriftTvMicro).as("threshold_micro"),
        when(col("t") > lit(StopDriftTvMicro), "retrain")
          .otherwise("serve").as("decision"))
    shingleRows.unionByName(decisionRow)
  }

  /** STOP-SET DRIFT TRIGGER (`corpus_stop_drift`): the decision entry a
    * production append runs BEFORE serving the frozen stop set — does
    * the incoming delta's shingle document-frequency profile still
    * match the trained parameter, or has the corpus drifted enough that
    * the near-dup signatures would be signed under a stale template
    * model? Base side = the committed build's exact survivors (served
    * from incrBase stages); delta side = the append slice's exact
    * survivors after the same digest probe the append pass runs (the
    * docs a serve decision would actually sign). */
  def corpusStopDrift(s: SparkSession, d: String): DataFrame = {
    import graft.sinks.ArtifactStore
    val cut = incrCut(s, d)
    val base = incrBase(s, d, cut)
    // the base profile is a pure function of the committed build — a
    // trained-parameter summary, committed like the stop set itself
    val dfbKey = incrStageNamesAt(s, d, cut).head
      .replace("chain_incrb_norm_", "chain_incrb_stopdf_")
    val dfB = ArtifactStore.getOrBuild(s, dfbKey)(shingleDf(
      base.normB
        .join(base.survNB.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "norm_text"),
      "df_base"))
    val (_, _, _, survDTxt) = deltaExactSurv(s,
      Tables.documents(s, d).where(col("doc_id") >= cut),
      base.exactB.select("digest"))
    // survivor count reads committed parquet metadata, not data
    stopDriftFromDf(s, dfB, base.survNB.count(),
      survDTxt.select("doc_id", "norm_text"))
  }

  /** Replay: the full chain to `exd`, split at the cut (a base doc's
    * keeper is always a base doc under the append convention, so the
    * full-corpus window restricted to each side IS each side's own
    * survivor set), per-side shingle DF, the same stop restriction,
    * micro TV terms, and the decision row. */
  val corpusStopDriftSql: String =
    s"""$corpusChainSql,
       |cutv AS (SELECT ((max(doc_id) + 1) * 9) // 10 AS c
       |  FROM documents),
       |sb AS (SELECT doc_id, norm_text FROM exd
       |  WHERE doc_id < (SELECT c FROM cutv)),
       |sd AS (SELECT doc_id, norm_text FROM exd
       |  WHERE doc_id >= (SELECT c FROM cutv)),
       |nb AS (SELECT count(*) AS c FROM sb),
       |nd AS (SELECT count(*) AS c FROM sd),
       |shb AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
       |             i -> array_to_string(t[i:i+2], ' '))) END AS s0
       |  FROM (SELECT doc_id, string_split_regex(norm_text, '\\s+') AS t
       |        FROM sb)),
       |shd AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
       |      ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
       |             i -> array_to_string(t[i:i+2], ' '))) END AS s0
       |  FROM (SELECT doc_id, string_split_regex(norm_text, '\\s+') AS t
       |        FROM sd)),
       |dfb AS (SELECT g, CAST(count(*) AS BIGINT) AS df_base
       |  FROM (SELECT unnest(s0) AS g FROM shb) GROUP BY g),
       |dfd AS (SELECT g, CAST(count(*) AS BIGINT) AS df_delta
       |  FROM (SELECT unnest(s0) AS g FROM shd) GROUP BY g),
       |j AS (
       |  SELECT coalesce(dfb.g, dfd.g) AS g,
       |    coalesce(df_base, 0) AS df_base,
       |    coalesce(df_delta, 0) AS df_delta
       |  FROM dfb FULL OUTER JOIN dfd ON dfb.g = dfd.g),
       |sc AS (
       |  SELECT g, df_base, df_delta,
       |    CAST(round(abs(CAST(df_base AS DOUBLE) /
       |        CAST((SELECT c FROM nb) AS DOUBLE) -
       |      CAST(df_delta AS DOUBLE) /
       |        CAST((SELECT c FROM nd) AS DOUBLE)) / 2e0 * 1000000e0)
       |      AS BIGINT) AS drift_micro,
       |    CASE WHEN df_base > (SELECT c FROM nb) // 2
       |           AND df_delta > (SELECT c FROM nd) // 2 THEN 'both'
       |         WHEN df_base > (SELECT c FROM nb) // 2
       |           THEN 'frozen_only'
       |         ELSE 'mined_only' END AS decision
       |  FROM j
       |  -- degenerate-side guard, mirroring stopDriftDegenerate: with
       |  -- an empty side the scored set is empty (no division ever
       |  -- runs) and only the decision row remains
       |  WHERE (SELECT c FROM nb) > 0 AND (SELECT c FROM nd) > 0
       |    AND (df_base > (SELECT c FROM nb) // 2
       |     OR df_delta > (SELECT c FROM nd) // 2))
       |SELECT kind, shingle, df_base, df_delta, drift_micro,
       |  threshold_micro, decision FROM (
       |  SELECT 'shingle' AS kind, g AS shingle, df_base, df_delta,
       |    drift_micro, CAST(NULL AS BIGINT) AS threshold_micro, decision
       |  FROM sc
       |  UNION ALL
       |  SELECT 'decision', '__total__',
       |    (SELECT c FROM nb), (SELECT c FROM nd),
       |    (SELECT CAST(coalesce(sum(drift_micro), 0) AS BIGINT) FROM sc),
       |    ${StopDriftTvMicro},
       |    CASE WHEN (SELECT c FROM nb) = 0 AND (SELECT c FROM nd) > 0
       |        THEN 'retrain'
       |      WHEN (SELECT c FROM nb) = 0 OR (SELECT c FROM nd) = 0
       |        THEN 'serve'
       |      WHEN (SELECT coalesce(sum(drift_micro), 0) FROM sc)
       |        > ${StopDriftTvMicro} THEN 'retrain' ELSE 'serve' END)
       |ORDER BY kind, shingle""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("crawl_frontier", crawlFrontier, crawlFrontierSql),
    Entry("corpus_build_e2e", corpusBuildE2e, corpusBuildE2eSql),
    Entry("corpus_lineage", corpusLineage, corpusLineageSql),
    Entry("corpus_build_tokenized", corpusBuildTokenized,
      corpusBuildTokenizedSql),
    Entry("corpus_build_incr", corpusBuildIncr, corpusBuildIncrSql),
    Entry("corpus_build_incr2", corpusBuildIncr2, corpusBuildIncr2Sql),
    Entry("corpus_build_compact", corpusBuildCompact, corpusBuildIncr2Sql),
    // the stream drains into exactly the incr2 segment stack, so the
    // oracle is the same split-invariant frozen-stop rebuild
    Entry("u_stream_corpus_append", uStreamCorpusAppend, corpusBuildIncr2Sql),
    Entry("corpus_build_retract", corpusBuildRetract, corpusBuildRetractSql),
    Entry("corpus_build_retract_incr", corpusBuildRetractIncr,
      corpusBuildRetractIncrSql),
    // retrain ends exactly where a from-scratch build of the grown
    // corpus ends: the refreshed-parameter replay IS the monolith's
    Entry("corpus_retrain", corpusRetrain, corpusBuildE2eSql),
    Entry("corpus_stop_drift", corpusStopDrift, corpusStopDriftSql)
  )
}
