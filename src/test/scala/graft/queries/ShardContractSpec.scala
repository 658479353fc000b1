package graft.queries

import graft.{SparkSpec, Tables}
import graft.sinks.ShardedWriter
import org.apache.spark.sql.functions._

/** The training-loader READ CONTRACT of the shard layout (round-6 verdict
  * ask #4): what a consumer of `ShardedWriter` output may rely on.
  *
  *  - a shard-subset read is PARTITION-PRUNED (PartitionFilters on the
  *    shard column; scan + filter only, no Exchange);
  *  - shards tile the global token axis contiguously ([min start_tok,
  *    max end_tok) intervals are gapless and ordered by shard id), so any
  *    shard subset is a size-predictable contiguous slice of the corpus;
  *  - ordering a shard by `start_tok` (the written global coordinate)
  *    yields exactly the global order restricted to that shard — the
  *    loader never re-derives the write-time bucket count;
  *  - the epoch-shuffle order composes per shard: shuffling WITHIN a
  *    shard (what a loader does after a pruned read) visits the shard's
  *    documents in the same relative order as the global epoch shuffle.
  */
class ShardContractSpec extends SparkSpec {

  private val S = 4

  private lazy val outDir = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shard_contract").toString
    ShardedWriter.writeShards(spark, Tables.documents(spark, sf), dir, S)
    dir
  }

  test("shard-subset read is partition-pruned with no Exchange") {
    val one = spark.read.parquet(outDir).where(col("shard") === 2)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("shard"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(one.count() > 0)
  }

  test("shards tile the token axis contiguously in shard order") {
    val spans = spark.read.parquet(outDir)
      .groupBy("shard")
      .agg(min(col("start_tok")).as("lo"),
        max(col("start_tok") + col("n_tokens")).as("hi"))
      .orderBy("shard").collect()
    assert(spans.length === S)
    assert(spans.head.getLong(1) === 0L)
    spans.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(2) === b.getLong(1),
        s"shard ${a.getInt(0)} must end exactly where ${b.getInt(0)} starts")
    }
  }

  test("within-shard start_tok order = global order restricted to shard") {
    val global = LlmPipeline
      .shardAssignments(Tables.documents(spark, sf), S)
      .orderBy("start_tok")
      .select("doc_id", "shard").collect()
    val expected = global.filter(_.getInt(1) === 1).map(_.getLong(0)).toSeq
    val got = spark.read.parquet(outDir).where(col("shard") === 1)
      .orderBy("start_tok").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got === expected)
  }

  test("incremental appendBatch: two batches land as independent " +
      "token-balanced shard sets with committed-file manifest parity") {
    val docs = Tables.documents(spark, sf)
    val b0 = docs.where(col("doc_id") % 2 === 0)
    val b1 = docs.where(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_incr_shards").toString
    ShardedWriter.appendBatch(b0, dir, 0L, shards = S)
    ShardedWriter.appendBatch(b1, dir, 1L, shards = S)
    val all = spark.read.parquet(dir)
    // append mode: nothing lost, nothing doubled
    assert(all.count() === docs.count())
    assert(all.select("doc_id").distinct().count() === docs.count())
    // each batch is its OWN token-balanced shard set: the committed
    // files' per-(batch, shard) manifest equals the plan manifest
    // computed from that batch alone
    for ((b, bid) <- Seq((b0, 0), (b1, 1))) {
      val plan = LlmPipeline.shardAssignments(b, S)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val committed = all.where(col("batch_id") === bid)
        .groupBy("shard").agg(count(lit(1)).as("n_docs"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(committed === plan, s"batch $bid manifest mismatch")
    }
    // a batch-subset read prunes on BOTH partition columns
    val one = all.where(col("batch_id") === 1 && col("shard") === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(one.count() > 0)
  }

  test("replayed micro-batch is idempotent: row set and manifest " +
      "unchanged, other batches' files byte-identical") {
    val docs = Tables.documents(spark, sf)
    val b0 = docs.where(col("doc_id") % 2 === 0)
    val b1 = docs.where(col("doc_id") % 2 =!= 0)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_replay_shards").toString
    ShardedWriter.appendBatch(b0, dir, 0L, shards = S)
    ShardedWriter.appendBatch(b1, dir, 1L, shards = S)
    def inventory(sub: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(dir, sub)
      val out = Map.newBuilder[String, String]
      java.nio.file.Files.walk(root).forEach { p =>
        if (p.toString.endsWith(".parquet") &&
            java.nio.file.Files.isRegularFile(p)) {
          val d = java.security.MessageDigest.getInstance("MD5")
          out += (root.relativize(p).toString ->
            d.digest(java.nio.file.Files.readAllBytes(p))
              .map(b => f"$b%02x").mkString)
        }
      }
      out.result()
    }
    def manifest(): Seq[(Int, Int, Long, Long)] =
      spark.read.parquet(dir)
        .groupBy("batch_id", "shard")
        .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("t"))
        .orderBy("batch_id", "shard").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq
    def rowSet(): Set[Long] = spark.read.parquet(dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val (m0, r0, inv1) = (manifest(), rowSet(), inventory("batch_id=1"))
    assert(r0.size.toLong === docs.count(), "no duplicates before replay")
    // a failure re-executes the micro-batch under the SAME batch_id
    ShardedWriter.appendBatch(b0, dir, 0L, shards = S)
    assert(manifest() === m0, "replay must not change the manifest")
    assert(rowSet() === r0, "replay must not change the row set")
    assert(spark.read.parquet(dir).count() === docs.count(),
      "replay must not duplicate rows")
    assert(inventory("batch_id=1") === inv1,
      "replay of batch 0 must leave batch 1's files byte-identical")
  }

  test("epoch-shuffle order composes per shard") {
    val shuffled = graft.SparkEntry.queries("sample_shuffle")(spark, sf)
      .where(col("epoch") === 1).orderBy("pos")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val shardDocs = spark.read.parquet(outDir).where(col("shard") === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the loader's view: pruned read of shard 3, then epoch order applied
    // within it — must equal the global epoch order restricted to shard 3
    val withinShard = graft.SparkEntry.queries("sample_shuffle")(spark, sf)
      .where(col("epoch") === 1)
      .join(spark.read.parquet(outDir).where(col("shard") === 3)
        .select("doc_id"), Seq("doc_id"))
      .orderBy("pos").select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(withinShard === shuffled.filter(shardDocs))
  }
}
