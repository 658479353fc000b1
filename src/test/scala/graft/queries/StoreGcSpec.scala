package graft.queries

import graft.SparkSpec
import graft.sinks.ArtifactStore
import org.apache.spark.sql.functions._

/** Artifact-store GC (round-16 ask #6): superseded families — old
  * cuts, pre-compaction segments, stale profiles — are the 100-TB
  * storage bill. Roots are REACHABILITY-witnessed: run the serving
  * registry with a fresh touched-key ledger; whatever the current
  * code + corpus epoch derives is live, everything else is dead.
  *
  * The gate is spec-level by design: root keys carry xxhash64 content
  * fingerprints DuckDB cannot replay, so there is no oracle entry —
  * instead this spec proves the production contract directly: after
  * sweeping everything outside the roots, every entry still serves,
  * REBUILD-FREE (root part listings untouched), with identical
  * results. */
class StoreGcSpec extends SparkSpec {

  // artifact-backed entries spanning the three families: the chain's
  // incremental base (6 keys), the IVF index (4 keys), the tokenizer
  // drift profile (1 key)
  private val entries =
    Seq("corpus_build_incr", "idx_ivf_append", "tok_bpe_drift")

  /** An entry's rows as a sorted multiset: corpus_build_incr's
    * chainReport has no ORDER BY (its shard rows come from a groupBy), so
    * a served run may return them in another order. */
  private def run(name: String): Seq[String] =
    graft.SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  test("gc keeps exactly the reachability roots; every entry still " +
    "serves rebuild-free afterwards; dead families and orphan temp " +
    "dirs are swept") {
    import spark.implicits._
    val s = spark
    // a PRIVATE store root: the sweep below removes everything outside
    // this test's roots, which must not eat the shared suite state
    // (other suites' sf0.1 families carry perf-contract warm paths)
    val privRoot = java.nio.file.Files
      .createTempDirectory("graft_gc_spec").toString
    sys.props.put("graft.artifact.dir", privRoot)
    try {
    // stage DEAD artifacts: a superseded family (a fake old-cut key no
    // current code derives) and a crashed committer's temp dir
    val deadKey = "chain_incrb_norm_v1_n999_hdeadbeef_q02_w3k64b32t08"
    ArtifactStore.commit(Seq((1L, "stale")).toDF("doc_id", "t"), deadKey)
    val fsRoot = new org.apache.hadoop.fs.Path(ArtifactStore.root)
    val fs = fsRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
    val orphanTmp = new org.apache.hadoop.fs.Path(fsRoot, ".tmp_crashed_x")
    fs.mkdirs(orphanTmp)
    // reachability snapshot: a fresh ledger, then the serving registry
    ArtifactStore.resetTouched()
    val before = entries.map(n => n -> run(n)).toMap
    val roots = ArtifactStore.touchedKeys
      .filter(ArtifactStore.exists(s, _)) // derivable AND committed
    assert(roots.nonEmpty && !roots.contains(deadKey))
    val rootParts = roots.toSeq.sorted
      .map(k => SparkSpec.partListing(s, k))
    // the sweep
    val removed = ArtifactStore.gc(s, roots)
    assert(removed.contains(deadKey),
      s"gc must sweep the superseded family: $removed")
    assert(!fs.exists(orphanTmp), "gc must sweep orphaned temp dirs")
    assert(roots.forall(ArtifactStore.exists(s, _)),
      "gc removed a root")
    assert(roots.toSeq.sorted.map(k => SparkSpec.partListing(s, k)) ==
      rootParts, "gc touched a root's content")
    // the production contract: post-GC, everything serves rebuild-free
    entries.foreach { n =>
      assert(run(n) == before(n), s"$n changed after gc")
    }
    assert(roots.toSeq.sorted.map(k => SparkSpec.partListing(s, k)) ==
      rootParts,
      "a post-gc serve re-committed a root — the sweep broke serving")
    } finally {
      sys.props.remove("graft.artifact.dir")
      ArtifactStore.resetTouched()
    }
  }

  test("retrain RETIRES the frozen family: in the post-retrain steady " +
    "state (serve entries as roots) the base-trained tokenizer " +
    "artifacts are swept and serving is unaffected") {
    val s = spark
    val privRoot = java.nio.file.Files
      .createTempDirectory("graft_gc_retrain").toString
    sys.props.put("graft.artifact.dir", privRoot)
    try {
      // the lifecycle event: commits the frozen base table, the base
      // word-count profile, and the refreshed full-corpus table
      LlmPipeline.tokBpeRetrain(s, sf).collect()
      val frozenKeys = ArtifactStore.list(s, "bpe_wordcnt_v1_") ++
        ArtifactStore.list(s, "bpe_merges_v1_")
          .filterNot(_ == LlmPipeline.docKey(s, sf, "bpe_merges", "m8"))
      assert(frozenKeys.nonEmpty)
      // steady state: the monthly retrain is done; day-to-day
      // reachability is the SERVE path alone
      ArtifactStore.resetTouched()
      val before = LlmPipeline.tokBpeServe(s, sf).collect().toSeq
      val roots = ArtifactStore.touchedKeys
        .filter(ArtifactStore.exists(s, _))
      assert(frozenKeys.forall(k => !roots.contains(k)),
        "the serve path must not reach the superseded family")
      val removed = ArtifactStore.gc(s, roots)
      frozenKeys.foreach(k => assert(removed.contains(k),
        s"gc must retire the superseded base-trained artifact $k"))
      assert(LlmPipeline.tokBpeServe(s, sf).collect().toSeq == before,
        "serving changed after retiring the frozen family")
    } finally {
      sys.props.remove("graft.artifact.dir")
      ArtifactStore.resetTouched()
    }
  }
}
