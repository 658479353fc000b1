package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape:
  *
  *  - exact: group on a cryptographic digest of the (normalized) content —
  *    the shuffle ships 32-byte keys + ids, never the documents.
  *  - MinHash+LSH: per-doc signature (narrow map, kernel tier, no shuffle)
  *    → band keys → the ONLY shuffle is the band-bucket self-join on
  *    (band, key) — candidates are then verified with exact Jaccard.
  *    Pairwise compare never materializes beyond hash-bucket collisions.
  *  - SimHash: 64-bit signature; banding on 4×16-bit chunks finds all pairs
  *    within Hamming distance 3 (pigeonhole: ≤3 differing bits leave ≥1 of
  *    4 chunks intact); verify with bit_count(xor)≤3.
  *  - blocked exact Jaccard: the small-scale oracle baseline (quadratic in
  *    block size — bench-only; MinHash is the scale path).
  *
  * All hashing is deterministic (splitmix64 over a polynomial string hash),
  * no dependency on Spark's internal hash or RNG.
  */
object Dedup extends Serializable {

  // ---- deterministic hashing ----
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def hashString(s: String): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    splitmix64(h)
  }

  /** Word w-shingles of a whitespace-tokenized text. */
  def shingles(text: String, w: Int): Array[Long] = {
    val toks = text.split("\\s+")
    if (toks.length < w) Array(hashString(toks.mkString(" ")))
    else Array.tabulate(toks.length - w + 1) { i =>
      hashString(toks.slice(i, i + w).mkString(" "))
    }
  }

  /** k-permutation MinHash signature over shingle hashes. */
  def minhashSignature(sh: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var j = 0
      while (j < k) {
        val h = splitmix64(sh(i) ^ splitmix64(j + 1L))
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    sig
  }

  final case class DocSig(doc_id: Long, sig: Array[Long])

  /** MinHash signatures for a documents table (kernel tier: narrow map). */
  def minhashSignatures(docs: Dataset[(Long, String)], w: Int, k: Int)
      : Dataset[DocSig] = {
    import docs.sparkSession.implicits._
    docs.map { case (id, text) => DocSig(id, minhashSignature(shingles(text, w), k)) }
  }

  /** Banded signature keys (doc_id, band, key) — the LSH bucket table.
    * In a serving system the corpus side of this table IS the stored
    * near-dup index an increment probes. */
  def bandedKeys(sigs: Dataset[DocSig], bands: Int, rowsPerBand: Int)
      : DataFrame = {
    import sigs.sparkSession.implicits._
    sigs.flatMap { ds =>
      (0 until bands).iterator.map { b =>
        val slice = ds.sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
        val key = slice.foldLeft(17L)((acc, x) => splitmix64(acc ^ x))
        (ds.doc_id, b, key)
      }
    }.toDF("doc_id", "band", "key")
  }

  /** md5-derived 60-bit hash: the first 15 hex chars of md5(s), read
    * straight off the digest bytes — the engine-independent hashing
    * convention (embedProject's planes, the SimHash chunks), so a
    * DuckDB oracle replays it verbatim as
    * `('0x'||substr(md5(s),1,15))::BIGINT`. Always non-negative. */
  def md5Hash60(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val b = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (b(i) & 0xFFL); i += 1 }
    (v << 4) | ((b(7) & 0xF0L) >>> 4)
  }

  /** Banded MinHash keys with ORACLE-EXPRESSIBLE derivation — the
    * stored-index twin of bandedKeys (whose splitmix keys no SQL engine
    * replays): per-shingle 60-bit md5 hash; the k min-hash permutations
    * are xor with md5-derived constants c_j = md5_60("mh_" + j) (xor
    * with a constant permutes the key space, the standard cheap
    * min-wise family — one md5 per shingle, not per (shingle, j));
    * band key = md5_60 of the band's mins joined by '_'. Same narrow
    * one-pass shape as bandedKeys: only (doc_id, band, key) triples
    * leave the stage. */
  def bandedKeysMd5(docs: Dataset[(Long, String)], w: Int, k: Int,
      bands: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val r = k / bands
    docs.mapPartitions { it =>
      val cs = Array.tabulate(k)(j => md5Hash60(s"mh_$j"))
      it.flatMap { case (id, text) =>
        val toks = text.split("\\s+")
        val grams =
          if (toks.length < w) Array(toks.mkString(" "))
          else Array.tabulate(toks.length - w + 1)(i =>
            toks.slice(i, i + w).mkString(" "))
        val hs = grams.map(md5Hash60) // min is duplicate-invariant
        val mh = Array.tabulate(k) { j =>
          val c = cs(j)
          var m = Long.MaxValue
          var i = 0
          while (i < hs.length) {
            val x = hs(i) ^ c
            if (x < m) m = x
            i += 1
          }
          m
        }
        (0 until bands).iterator.map { b =>
          val key =
            md5Hash60((b * r until (b + 1) * r).map(mh).mkString("_"))
          (id, b, key)
        }
      }
    }.toDF("doc_id", "band", "key")
  }

  /** LSH candidate pairs: band the signature (bands × rowsPerBand = k),
    * self-join on (band, bandKey). Returns distinct (a,b), a<b. */
  def lshCandidates(sigs: Dataset[DocSig], bands: Int, rowsPerBand: Int)
      : DataFrame = {
    val banded = bandedKeys(sigs, bands, rowsPerBand)
    val l = banded.select(col("doc_id").as("a"), col("band"), col("key"))
    val r = banded.select(col("doc_id").as("b"), col("band"), col("key"))
    l.join(r, Seq("band", "key")).where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** INCREMENTAL MinHash near-dup — the daily-increment shape for NEAR
    * duplicates (the exact-digest twin is dedupIncremental): an incoming
    * batch (isBatch rows) probes the corpus band index plus its own
    * earlier rows, instead of re-mining the whole corpus. A batch doc is
    * a near-dup when a verified shingle-Jaccard ≥ threshold partner
    * exists among (any corpus doc) ∪ (lower-id batch docs); dup_of is
    * the smallest such partner.
    *
    * Scale shape: corpus band keys are a stored index (here recomputed —
    * one narrow pass); the probe join ships (doc_id, band, key) triples
    * sized by the BATCH, not the corpus; texts join in for verified
    * candidates only. Same banding-completeness contract as
    * minhashNearDups (miss ≤ (1-τ^r)^bands ≈ 6e-15 at the defaults), so
    * the exact all-pairs oracle is deterministic. */
  def minhashNearDupsIncremental(s: SparkSession, docs: DataFrame,
      isBatch: Column, w: Int, k: Int, bands: Int, threshold: Double)
      : DataFrame = {
    import s.implicits._
    val typed = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    val banded = bandedKeys(minhashSignatures(typed, w, k), bands, k / bands)
    val flagged = docs.select(col("doc_id").cast("long").as("doc_id"),
      isBatch.as("is_batch"))
    val bk = banded.join(flagged, Seq("doc_id"))
    val probe = bk.where(col("is_batch"))
      .select(col("doc_id").as("n"), col("band"), col("key"))
    val index = bk.select(col("doc_id").as("o"), col("band"), col("key"),
      col("is_batch").as("o_batch"))
    val cand = probe.join(index, Seq("band", "key"))
      .where(col("o") =!= col("n"))
      .where(!col("o_batch") || col("o") < col("n"))
      .select("n", "o").distinct()
    val txt = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("text"))
    // Shuffle-hash text attach — same rationale as minhashNearDups.
    val verified = cand
      .join(txt.select(col("doc_id").as("n"), col("text").as("tn"))
        .hint("shuffle_hash"), Seq("n"))
      .join(txt.select(col("doc_id").as("o"), col("text").as("to"))
        .hint("shuffle_hash"), Seq("o"))
      .select(col("n"), col("o"), col("tn"), col("to"))
      .as[(Long, Long, String, String)]
      .map { case (n, o, tn, to) =>
        (n, o, Dedup.shingleJaccard(tn, to, w))
      }
      .toDF("n", "o", "jac_raw")
      .select(col("n"), col("o"), round(col("jac_raw"), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy(col("n").as("doc_id"))
      .agg(min(col("o")).as("dup_of"))
    flagged.where(col("is_batch")).select("doc_id")
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"))
  }

  /** Distinct word w-shingles as STRINGS (the verify-stage measure — no
    * hashing, so the DuckDB oracle can mirror it exactly with
    * list_intersect/list_distinct over the same shingle strings). */
  def shingleSet(text: String, w: Int): Set[String] = {
    val toks = text.split("\\s+")
    if (toks.length < w) Set(toks.mkString(" "))
    else (0 to toks.length - w).iterator
      .map(i => toks.slice(i, i + w).mkString(" ")).toSet
  }

  /** Exact shingle Jaccard on the string shingle sets (kernel tier). */
  def shingleJaccard(t1: String, t2: String, w: Int): Double = {
    val s1 = shingleSet(t1, w)
    val s2 = shingleSet(t2, w)
    if (s1.isEmpty && s2.isEmpty) 1.0
    else s1.intersect(s2).size.toDouble / s1.union(s2).size.toDouble
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded bucket join →
    * exact-Jaccard verification join (ships only candidate texts).
    *
    * Oracle-equivalence contract: with `bands` × `rowsPerBand` chosen so the
    * per-true-pair miss probability at `threshold` is negligible (e.g.
    * bands=32, r=2, threshold=0.8 → miss ≤ (1-0.8²)^32 ≈ 6e-15), the output
    * deterministically equals the exact all-pairs shingle-Jaccard ≥ threshold
    * result, which IS DuckDB-expressible — that equality is the driver's
    * CORRECTNESS check and is also asserted in LlmPipelineSpec. */
  def minhashNearDups(s: SparkSession, docs: DataFrame, w: Int, k: Int,
                      bands: Int, threshold: Double): DataFrame = {
    import s.implicits._
    val typed = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    val sigs = minhashSignatures(typed, w, k)
    val cand = lshCandidates(sigs, bands, k / bands)
    // Text attach via shuffle-hash join: after the first attach the pair
    // rows carry a whole document text, and SMJ would externally sort
    // them (the wide-sort waste the round-8 100x tier measured on the
    // LSH attach path). Build side = the corpus texts, n/numPartitions
    // docs per task at any scale.
    val txt = docs.select(col("doc_id"), col("text"))
    val withTexts = cand
      .join(txt.select(col("doc_id").as("a"), col("text").as("ta"))
        .hint("shuffle_hash"), Seq("a"))
      .join(txt.select(col("doc_id").as("b"), col("text").as("tb"))
        .hint("shuffle_hash"), Seq("b"))
      .select(col("a"), col("b"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
    withTexts.map { case (a, b, ta, tb) =>
      (a, b, Dedup.shingleJaccard(ta, tb, w))
    }.toDF("a", "b", "jac_raw")
      .select(col("a"), col("b"), round(col("jac_raw"), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT majority-shingle mining (document frequency > totalDocs/2):
    * one digests-only aggregate — every doc-distinct shingle ships as
    * an 8-byte hash, the dedup-family exchange convention (same volume
    * class as the banded-key exchange: ~shingles-per-doc longs per
    * document, corpus-own-bytes, linear at any scale). The winners are
    * a driver-bounded collect: at df > N/2 there can be at most
    * 2 × avg-shingles-per-doc distinct majority shingles.
    *
    * (A per-partition Misra-Gries candidate pass was measured here and
    * REJECTED: it saved ~7% of the e2e chain's shuffle but doubled its
    * wall at the 100× tier — the decrement scans and their allocation
    * churn cost more than the digest exchange they avoided.) */
  private[graft] def stopShingles(typed: Dataset[(Long, String)], w: Int,
      totalDocs: Long): Set[Long] = {
    import typed.sparkSession.implicits._
    if (totalDocs == 0L) return Set.empty
    stopShinglesDf(typed, w, totalDocs).as[Long].collect().toSet
  }

  /** The stop-shingle mining as a DataFrame of hashes — the committable
    * form (the incremental chain freezes the base corpus's stop set as
    * an artifact, the tokenizer convention for trained parameters). */
  private[graft] def stopShinglesDf(typed: Dataset[(Long, String)],
      w: Int, totalDocs: Long): org.apache.spark.sql.DataFrame = {
    import typed.sparkSession.implicits._
    val dfLimit = totalDocs / 2
    typed.flatMap { case (_, t) => shingles(t, w).distinct }
      .toDF("h").groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > dfLimit)
      .select("h")
  }

  /** Stop-filtered MinHash signatures — the minhashNearDupsStopShingles
    * signature builder, exposed so the incremental chain can sign a
    * delta batch under the base corpus's FROZEN stop set. A doc whose
    * filtered shingle set is empty (pure template) gets a unique
    * sentinel so it collides with nothing. */
  private[graft] def stopFilteredSigs(typed: Dataset[(Long, String)],
      bc: org.apache.spark.broadcast.Broadcast[Set[Long]], w: Int, k: Int)
      : Dataset[DocSig] = {
    import typed.sparkSession.implicits._
    typed.map { case (id, t) =>
      val sh = shingles(t, w).filter(h => !bc.value(h))
      val eff = if (sh.isEmpty) Array(hashString(s"empty:$id")) else sh
      DocSig(id, minhashSignature(eff, k))
    }
  }

  /** Exact stop-filtered shingle-Jaccard verification of candidate
    * pairs: attach texts from `txt` (doc_id, text) via shuffle-hash
    * joins (the wide-sort-free attach, see minhashNearDups), score the
    * FILTERED sets, keep pairs at or above `threshold`. `txt` should be
    * pre-restricted to candidate ids when the candidate set is small
    * next to the corpus (the incremental path). */
  private[graft] def verifyStopFiltered(cand: org.apache.spark.sql.DataFrame,
      txt: org.apache.spark.sql.DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[Set[Long]], w: Int,
      threshold: Double): org.apache.spark.sql.DataFrame = {
    import cand.sparkSession.implicits._
    val withTexts = cand
      .join(txt.select(col("doc_id").as("a"), col("text").as("ta"))
        .hint("shuffle_hash"), Seq("a"))
      .join(txt.select(col("doc_id").as("b"), col("text").as("tb"))
        .hint("shuffle_hash"), Seq("b"))
      .select(col("a"), col("b"), col("ta"), col("tb"))
      .as[(Long, Long, String, String)]
    withTexts.map { case (a, b, ta, tb) =>
      val sa = shingles(ta, w).filter(h => !bc.value(h)).toSet
      val sb = shingles(tb, w).filter(h => !bc.value(h)).toSet
      val jac =
        if (sa.isEmpty || sb.isEmpty) 0.0
        else sa.intersect(sb).size.toDouble / (sa ++ sb).size
      (a, b, jac)
    }.toDF("a", "b", "jac_raw")
      .select(col("a"), col("b"), round(col("jac_raw"), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Boilerplate-aware MinHash near-dup: shingles whose DOCUMENT
    * FREQUENCY exceeds half the corpus are STOP SHINGLES (template
    * text, not content) and are excluded from both the signatures and
    * the verified Jaccard. Without this, a corpus whose documents share
    * template text (every extracted web page does) gives EVERY
    * unrelated pair a nonzero band-collision probability, so LSH
    * candidates grow ∝ n² instead of ∝ true pairs — measured on the
    * e2e chain at sf0.1, stop-shingling collapsed the candidate text
    * attach from ~137 MB of shuffle to the true-pair scale. The stop
    * set is bounded by construction: at df > N/2 there are at most
    * 2 × (total shingle occurrences / N) ≈ 2 × avg-shingles-per-doc
    * distinct stop shingles — broadcastable at any corpus size; mining
    * it ([[stopShingles]]) is one digests-only aggregate (8-byte rows,
    * the dedup-family exchange convention).
    *
    * Same oracle-equivalence contract as [[minhashNearDups]], over the
    * FILTERED sets; a doc whose filtered set is empty (pure template)
    * gets a unique sentinel shingle so it collides with nothing and can
    * never be a near-dup — mirroring the oracle, which drops empty
    * filtered sets from the all-pairs compare. */
  def minhashNearDupsStopShingles(s: SparkSession, docs: DataFrame,
      w: Int, k: Int, bands: Int, threshold: Double, totalDocs: Long)
      : DataFrame = {
    import s.implicits._
    val typed = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
    val common = stopShingles(typed, w, totalDocs)
    val bc = s.sparkContext.broadcast(common)
    val sigs = stopFilteredSigs(typed, bc, w, k)
    val cand = lshCandidates(sigs, bands, k / bands)
    val txt = docs.select(col("doc_id"), col("text"))
    verifyStopFiltered(cand, txt, bc, w, threshold)
  }

  // ---- SimHash (md5-chunk formulation, column tier) ----
  //
  // The 64-bit signature is computed as 4 independent 16-bit chunks, each
  // derived from 4 hex chars of md5(token): chunk_j bit b is set iff the
  // ±1-majority over tokens of bit b of chunk-hash j is positive. md5 is
  // engine-independent, so the DuckDB oracle computes the identical
  // signature; and because banding on the 4 chunks is EXHAUSTIVE for
  // Hamming ≤ 3 (pigeonhole: ≤3 differing bits leave ≥1 chunk intact), the
  // oracle can skip banding and verify the quadratic directly at oracle SF.

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Local mirror of the per-doc simhash chunks, for spec brute-force.
    * One flat counter array, digest bytes read in place — no per-token
    * allocation beyond the UTF-8 bytes the digest needs anyway. */
  def simhashChunksLocal(text: String): Array[Int] = {
    val counts = new Array[Int](64)
    val md = md5Local.get()
    val toks = text.split("\\s+")
    var i = 0
    while (i < toks.length) {
      md.reset()
      val h = md.digest(toks(i).getBytes("UTF-8"))
      var j = 0
      while (j < 4) {
        val chunk = ((h(2 * j) & 0xFF) << 8) | (h(2 * j + 1) & 0xFF)
        var b = 0
        while (b < 16) {
          if (((chunk >> b) & 1) == 1) counts(j * 16 + b) += 1
          else counts(j * 16 + b) -= 1
          b += 1
        }
        j += 1
      }
      i += 1
    }
    Array.tabulate(4) { j =>
      (0 until 16).foldLeft(0)((acc, b) =>
        if (counts(j * 16 + b) > 0) acc | (1 << b) else acc)
    }
  }

  /** Column-tier per-doc ±1-majority counters: ONE aggregate pass over the
    * token array (HOF lambdas are interpreted and don't share
    * subexpressions, so each md5/conv must be materialized by its own
    * transform stage and folded exactly once — 64 separate aggregate()
    * calls would re-run the md5 pipeline per call). */
  def simhashCounters(text: Column): Column = {
    val md5s = transform(split(text, "\\s+"), t => md5(t))
    val chunkArrs = transform(md5s, h =>
      array((0 until 4).map(j =>
        conv(substring(h, j * 4 + 1, 4), 16, 10).cast("int")): _*))
    val bits64 = transform(chunkArrs, ca =>
      array((for (j <- 0 until 4; b <- 0 until 16) yield
        when(element_at(ca, j + 1).bitwiseAND(lit(1 << b)) =!= 0, lit(1))
          .otherwise(lit(-1))): _*))
    aggregate(bits64, array_repeat(lit(0), 64),
      (acc, x) => zip_with(acc, x, _ + _))
  }

  /** The 4 16-bit chunk columns from a materialized counter array. The
    * counters attribute is referenced 64 times, so this must sit in its own
    * projection above the counters select (CollapseProject keeps the
    * boundary for expensive multiply-referenced producers). */
  def simhashChunkColsFrom(counters: Column): Seq[Column] =
    (0 until 4).map { j =>
      (0 until 16).map { b =>
        when(element_at(counters, j * 16 + b + 1) > 0, lit(1 << b))
          .otherwise(lit(0))
      }.reduce(_ + _).as(s"c$j")
    }

  /** Connected components by min-label propagation: every vertex ends up
    * labeled with the smallest doc_id reachable through the pair graph —
    * the canonical-document assignment step after near-dup pair mining.
    *
    * Each iteration is one distributed join + min-aggregate; the driver
    * loop only checks convergence (changed-count = 0). Near-dup clusters
    * have tiny diameters, so this converges in a handful of rounds; for
    * adversarial long-chain graphs at 100 TB the same loop slots into the
    * alternating star contraction scheme (each round still a join+agg).
    *
    * vertices: one column `u`; pairs: (a, b). Returns (u, lbl). */
  def connectedComponents(vertices: DataFrame, pairs: DataFrame,
                          maxIters: Int = 20): DataFrame = {
    // Eager localCheckpoint, NOT cache(): a cached plan is compiled without
    // AQE, which would strip the skew-join handling the pair-mining join
    // depends on; checkpointing materializes under the normal adaptive
    // path and truncates the per-iteration lineage growth.
    // materialize the (possibly expensive) pair mining exactly once; the
    // symmetric union would otherwise recompute it per branch
    val p = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val edges = p.select(col("a").as("u"), col("b").as("v"))
      .union(p.select(col("b").as("u"), col("a").as("v")))
    // Iterate ONLY the pair-graph vertices — at scale the pair graph is
    // orders of magnitude smaller than the corpus; singletons are appended
    // with their own label afterwards, no iteration cost.
    var labels = edges.select(col("u")).distinct()
      .select(col("u"), col("u").as("lbl"))
      .localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // carry the previous label through the aggregate (each u contributes
      // exactly one `old`), so convergence detection is a cheap scan of
      // the freshly checkpointed blocks — one real job per iteration
      val own = labels.select(col("u"), col("lbl"), col("lbl").as("old"))
      val viaNeighbor = edges
        .join(labels.select(col("u").as("v"), col("lbl")), Seq("v"))
        .select(col("u"), col("lbl"), lit(null).cast("long").as("old"))
      val agg = own.union(viaNeighbor)
        .groupBy(col("u"))
        .agg(min(col("lbl")).as("lbl"), max(col("old")).as("old"))
      // pointer jump (label ← label of label): halves remaining chain
      // depth each round, so rounds ≈ log(diameter) instead of diameter
      val next = agg
        .join(agg.select(col("u").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("u"), coalesce(col("lbl2"), col("lbl")).as("lbl"),
          col("old"))
        .localCheckpoint(true)
      val changed = next.where(col("lbl") =!= col("old")).count()
      labels = next.select(col("u"), col("lbl"))
      converged = changed == 0
      it += 1
    }
    val singletons = vertices.join(labels, Seq("u"), "left_anti")
      .select(col("u"), col("u").as("lbl"))
    labels.union(singletons)
  }

  /** SimHash near-dup: md5-chunk signature → 4×16-bit chunk banding →
    * verify Hamming ≤ maxDist. Exhaustive for maxDist ≤ 3 (pigeonhole).
    * Scale: the only shuffle is the (band, chunk) bucket self-join on
    * 4 rows/doc of (id, 4×int) — candidate pairs are hash-bucket
    * collisions, never all-pairs. */
  def simhashNearDups(s: SparkSession, docs: DataFrame, maxDist: Int)
      : DataFrame = {
    require(maxDist <= 3, "4x16 chunk banding is only exhaustive for Hamming <= 3")
    // Signature stage: kernel-tier typed map (one fused JVM loop per doc).
    // A columnar twin exists (simhashCounters/simhashChunkColsFrom, proven
    // equal in LlmPipelineSpec) but interpreted HOF folds over 64-wide
    // arrays are ~10x slower than this loop; both are narrow one-pass
    // stages with no shuffle, so the scale shape is identical.
    import s.implicits._
    // Materialize the signatures ONCE: both sides of the band self-join
    // read this lineage, and without the checkpoint Spark recomputes the
    // per-token md5 map per side — the whole stage is a narrow 5-ints-per-
    // doc frame, so materializing it is far cheaper than hashing twice.
    val sigs = docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) =>
        val c = simhashChunksLocal(t); (id, c(0), c(1), c(2), c(3))
      }
      .toDF("doc_id", "c0", "c1", "c2", "c3")
      .localCheckpoint(true)
    val banded = sigs.select(col("doc_id"), col("c0"), col("c1"), col("c2"),
      col("c3"), posexplode(array(col("c0"), col("c1"), col("c2"), col("c3")))
        .as(Seq("band", "key")))
    val l = banded.select(col("doc_id").as("a"), col("c0").as("a0"),
      col("c1").as("a1"), col("c2").as("a2"), col("c3").as("a3"),
      col("band"), col("key"))
    val r = banded.select(col("doc_id").as("b"), col("c0").as("b0"),
      col("c1").as("b1"), col("c2").as("b2"), col("c3").as("b3"),
      col("band"), col("key"))
    val ham = (0 until 4).map(j =>
      bit_count(col(s"a$j").bitwiseXOR(col(s"b$j")))).reduce(_ + _)
    l.join(r, Seq("band", "key")).where(col("a") < col("b"))
      .select(col("a"), col("b"), ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxDist)
      .distinct()
  }
}
