package graft.queries

import graft.SparkSpec
import graft.dedup.Dedup
import graft.sinks.ArtifactStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** corpus_build_incr (round-14 ask #4): the incremental chain must
  * equal a FULL REBUILD of the appended corpus under the frozen base
  * stop set, while actually serving its committed base stages.
  *
  *  1. Equivalence against an INDEPENDENT reference: the reference here
  *     mines globally (one exact-dedup window over the whole corpus,
  *     LSH self-join candidates over all survivors) — a different join
  *     structure from the entry's base-probe composition, so agreement
  *     pins the incremental algebra (the DuckDB oracle replays the same
  *     semantics a third way at verify time).
  *  2. Serve semantics: a second run re-commits nothing (artifact
  *     mtimes unchanged) and returns the identical report.
  */
class CorpusIncrSpec extends SparkSpec {

  private def typed(df: DataFrame) = {
    import spark.implicits._
    df.select(col("doc_id"), col("norm_text")).as[(Long, String)]
  }

  /** A report as a sorted multiset: chainReport has no ORDER BY (its
    * shard rows come from a groupBy), and the oracle gate compares
    * multisets too. */
  private def report(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("incremental report equals the frozen-stop full rebuild " +
    "(independent global-mining reference)") {
    import spark.implicits._
    val s = spark
    val cut = CorpusBuild.incrCut(s, sf)
    val norm = CorpusBuild.normFrame(s, graft.Tables.documents(s, sf))
      .localCheckpoint(true) // one extraction for the whole reference
    val q = CorpusBuild.withQuality(norm).where(col("quality") >= 0.2)
    val exactAll = q
      .withColumn("digest", CorpusBuild.digestCol)
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy("digest")))
    val exact = exactAll.where(col("doc_id") === col("keep_id"))
    val baseSurv = exact.where(col("doc_id") < cut)
    val stopSet = Dedup.stopShingles(typed(baseSurv), 3, baseSurv.count())
    val bc = s.sparkContext.broadcast(stopSet)
    val sigs = Dedup.stopFilteredSigs(typed(exact), bc, 3, 64)
    val cand = Dedup.lshCandidates(sigs, 32, 2)
    val bad = Dedup.verifyStopFiltered(cand,
        exact.select(col("doc_id"), col("norm_text").as("text")),
        bc, 3, 0.8)
      .select(col("b").as("doc_id")).distinct()
    val near = exact.join(bad, Seq("doc_id"), "left_anti")
    val asg = CorpusBuild.shardAsg(s, near.select("doc_id", "n_norm"))
    val want = CorpusBuild.chainReport(norm, q, exact, near, asg)
      .collect().toSeq
    val got = CorpusBuild.corpusBuildIncr(s, sf).collect().toSeq
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted,
      s"incremental diverged from the frozen-stop rebuild:\n" +
        s"got  ${got.mkString(", ")}\nwant ${want.mkString(", ")}")
  }

  test("second run serves committed base stages (no re-commit) and " +
    "returns the identical report") {
    val s = spark
    val keys = CorpusBuild.incrStageNames(s, sf)
    keys.foreach(ArtifactStore.remove(s, _)) // force a clean base build
    val first = report(CorpusBuild.corpusBuildIncr(s, sf))
    assert(keys.forall(ArtifactStore.exists(s, _)),
      "first run must commit every base stage")
    // compare the recursive PART-FILE listing, not directory mtimes: a
    // re-commit within the same second passes an mtime check falsely on
    // 1s-granularity filesystems, while part-file names are fresh per
    // Spark job (round-14 ADVICE)
    def parts = keys.map(k => SparkSpec.partListing(s, k))
    val before = parts
    val second = report(CorpusBuild.corpusBuildIncr(s, sf))
    assert(second == first, "served rerun must reproduce the report")
    assert(parts == before,
      "rerun re-committed a base stage — the delta path rebuilt base work")
  }

  test("incr2 report equals the frozen-stop full rebuild at the 80% cut " +
    "(independent global-mining reference)") {
    import spark.implicits._
    val s = spark
    val (cut1, _) = CorpusBuild.incr2Cuts(s, sf)
    val norm = CorpusBuild.normFrame(s, graft.Tables.documents(s, sf))
      .localCheckpoint(true)
    val q = CorpusBuild.withQuality(norm).where(col("quality") >= 0.2)
    val exactAll = q
      .withColumn("digest", CorpusBuild.digestCol)
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy("digest")))
    val exact = exactAll.where(col("doc_id") === col("keep_id"))
    val baseSurv = exact.where(col("doc_id") < cut1)
    val stopSet = Dedup.stopShingles(typed(baseSurv), 3, baseSurv.count())
    val bc = s.sparkContext.broadcast(stopSet)
    val sigs = Dedup.stopFilteredSigs(typed(exact), bc, 3, 64)
    val cand = Dedup.lshCandidates(sigs, 32, 2)
    val bad = Dedup.verifyStopFiltered(cand,
        exact.select(col("doc_id"), col("norm_text").as("text")),
        bc, 3, 0.8)
      .select(col("b").as("doc_id")).distinct()
    val near = exact.join(bad, Seq("doc_id"), "left_anti")
    val asg = CorpusBuild.shardAsg(s, near.select("doc_id", "n_norm"))
    val want = CorpusBuild.chainReport(norm, q, exact, near, asg)
      .collect().toSeq
    val got = CorpusBuild.corpusBuildIncr2(s, sf).collect().toSeq
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted,
      s"two-append stack diverged from the frozen-stop rebuild:\n" +
        s"got  ${got.mkString(", ")}\nwant ${want.mkString(", ")}")
  }

  test("incr2: append-2 serves append-1's committed segment — no base " +
    "rebuild, no segment re-commit") {
    val s = spark
    val (cut1, _) = CorpusBuild.incr2Cuts(s, sf)
    val baseKeys = CorpusBuild.incrStageNamesAt(s, sf, cut1)
    val segKeys = CorpusBuild.incr2Delta1Keys(s, sf)
    (baseKeys ++ segKeys).foreach(ArtifactStore.remove(s, _))
    // stage the world as it stands AFTER append-1: base stages committed,
    // the first slice processed and committed as an immutable segment —
    // and nothing has seen the second slice yet
    val base = CorpusBuild.incrBase(s, sf, cut1)
    CorpusBuild.incr2Delta1(s, sf, base)
    assert((baseKeys ++ segKeys).forall(ArtifactStore.exists(s, _)),
      "append-1 must commit the base stages and its segment")
    def parts = (baseKeys ++ segKeys)
      .map(k => SparkSpec.partListing(s, k))
    val afterAppend1 = parts
    // the append-2 event: the full entry over the twice-appended corpus
    val first = report(CorpusBuild.corpusBuildIncr2(s, sf))
    assert(parts == afterAppend1,
      "append-2 re-committed base or segment-1 work — the stack rebuilt " +
        "instead of serving")
    // and a rerun serves the whole stack
    val second = report(CorpusBuild.corpusBuildIncr2(s, sf))
    assert(second == first, "served rerun must reproduce the report")
    assert(parts == afterAppend1, "rerun re-committed stack work")
  }

  test("compaction folds base + segment-1 into ONE family: result " +
    "identical to the stack, and the read path survives removing the " +
    "pre-compaction artifacts") {
    val s = spark
    val (cut1, _) = CorpusBuild.incr2Cuts(s, sf)
    val preKeys = CorpusBuild.incrStageNamesAt(s, sf, cut1) ++
      CorpusBuild.incr2Delta1Keys(s, sf)
    val compKeys = CorpusBuild.incr2CompactKeys(s, sf)
    compKeys.foreach(ArtifactStore.remove(s, _))
    val stacked = report(CorpusBuild.corpusBuildIncr2(s, sf))
    val first = report(CorpusBuild.corpusBuildCompact(s, sf))
    assert(first == stacked,
      "compacted world must land exactly where the stacked one does")
    assert(compKeys.forall(ArtifactStore.exists(s, _)),
      "compaction must commit the folded family")
    // the LSM collapse: with the compacted family committed, the next
    // append needs NOTHING from before compaction — not the base
    // stages, not the segment, not even the original stop artifact
    // (the frozen set travels with the fold)
    preKeys.foreach(ArtifactStore.remove(s, _))
    val second = report(CorpusBuild.corpusBuildCompact(s, sf))
    assert(second == first, "post-compaction serve must reproduce")
    assert(preKeys.forall(k => !ArtifactStore.exists(s, k)),
      "post-compaction append rebuilt a pre-compaction artifact — the " +
        "read path did not collapse to the folded family")
  }

  test("compaction folds base + TWO segments with the same algebra: " +
    "the N=2 fold's report equals the split-invariant stack " +
    "(round-16 ask #3)") {
    val s = spark
    val (cut1, cut2) = CorpusBuild.incr2Cuts(s, sf)
    val base = CorpusBuild.incrBase(s, sf, cut1)
    val d1 = CorpusBuild.incr2Delta1(s, sf, base)
    // the second slice as a SEGMENT of the stack: its delta pass probes
    // base ∪ segment-1 (the LSM read path), exactly as the incr2 entry
    // runs it per-run
    val d2 = CorpusBuild.deltaPassNorm(s,
      CorpusBuild.normFrame(s, graft.Tables.documents(s, sf)
        .where(col("doc_id") >= cut2)).localCheckpoint(true),
      base.exactB.select("digest").unionByName(d1.dig.select("digest")),
      base.bandsB.unionByName(d1.bands),
      base.normB.select(col("doc_id"), col("norm_text").as("text"))
        .unionByName(d1.survTxt.select(col("doc_id"),
          col("norm_text").as("text"))),
      base.bc)
    val Seq(normC, qC, _, _, _, survC, badC, _) =
      CorpusBuild.compactFolds(s, base,
        ArtifactStore.load(s,
          CorpusBuild.incrStageNamesAt(s, sf, cut1)(2)), Seq(d1, d2))
    val nearC = survC.join(badC, Seq("doc_id"), "left_anti")
    val got = CorpusBuild.chainReport(normC, qC, survC, nearC,
      CorpusBuild.shardAsg(s, nearC)).collect().toSeq
    // split-invariant anchor: the stacked twice-appended report (whose
    // own oracle is the frozen-stop monolith rebuild)
    val want = CorpusBuild.corpusBuildIncr2(s, sf).collect().toSeq
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted,
      s"N=2 fold diverged from the split-invariant stack:\n" +
        s"got  ${got.mkString(", ")}\nwant ${want.mkString(", ")}")
  }
}
