package graft.queries

import graft.{SparkSpec, Tables}
import graft.lang.UdScript
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the 100 TB story is in the physical plan, not
  * the row counts — scans must prune, dims must broadcast, scalar packs
  * must stay inside whole-stage codegen, and the uDLang column tier must
  * produce a native plan with no object serialization boundary. */
class PlanSpec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection reach the parquet scan (pushdown + pruning)") {
    val df = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)"),
      s"filter not pushed: $scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned: $scan")
  }

  test("star join broadcasts dimensions, q1 aggregates partially") {
    val p5 = planOf(Relational.q5StarBroadcast(spark, sf))
    assert(p5.contains("BroadcastHashJoin"))
    val p1 = planOf(Relational.q1Agg(spark, sf))
    // partial (map-side) aggregation before the exchange
    assert(p1.contains("HashAggregate") && p1.contains("Exchange"))
  }

  test("scalar pack runs inside WholeStageCodegen") {
    // the projection itself (sans the verify-only orderBy, which wraps the
    // plan in a not-yet-final AdaptiveSparkPlan)
    import graft.functions.UdFunctions._
    val p = planOf(Tables.lineitem(spark, sf).select(
      (col("l_orderkey") + col("l_partkey")).as("i_add"),
      divInt(col("l_orderkey"), lit(7)).as("i_div"),
      shl(col("l_linenumber"), 2).as("b_shl")))
    assert(p.contains("*("), s"no codegen span in: $p")
  }

  test("native dot-product expression stays in the codegen'd plan") {
    val df = Tables.embeddings(spark, sf)
    val withDot = df.select(
      graft.plans.DotProduct.dot(
        org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")),
        org.apache.spark.sql.functions.transform(col("embedding"), _.cast("double")))
        .as("selfdot"))
    assert(planOf(withDot).contains("graft_dot_product"))
    assert(planOf(withDot).contains("*("))
    // correctness vs HOF formulation
    val hof = df.select(
      aggregate(zip_with(transform(col("embedding"), _.cast("double")),
        transform(col("embedding"), _.cast("double")), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x).as("selfdot"))
    val nat = withDot.collect().map(_.getDouble(0))
    val ref = hof.collect().map(_.getDouble(0))
    assert(nat.sameElements(ref), "native dot != HOF dot")
  }

  test("uDLang column tier lowers to a native plan (no object boundary)") {
    val src = """script "proj";
      |input  {doc_id: Int, text: Str};
      |output {doc_id: Int, greeting: Str};
      |out {doc_id: in.doc_id, greeting: "Hello, " + in.text};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.ColumnTier)
    val p = planOf(c.run(Tables.documents(spark, sf).select("doc_id", "text")))
    assert(!p.contains("SerializeFromObject"), s"object boundary in: $p")
    assert(p.contains("*("))
  }

  test("k-means IVF assignment is a pure map-side projection (no shuffle)") {
    // the per-iteration assignment must not cross an Exchange: centroid
    // literals ride in the plan and argmin is array_position(array_min)
    val emb = Tables.embeddings(spark, sf)
    val out = graft.similarity.Similarity
      .kmeansAssignments(spark, emb, k = 4, updates = 0)
    // the only allowed Exchange is the verify-only orderBy's RANGE
    // partitioning — a hash exchange would mean the assignment shuffled
    val p = planOf(out)
    assert(!p.contains("Exchange hashpartitioning"),
      s"assignment shuffles: $p")
  }

  test("JSON ingest decodes each line once per consumed leg, no variant plan") {
    import graft.lang.Ast._
    import graft.sources.{JsonRecords, ValidatedIngest}
    val declared = TRecord(Seq(
      TField("id", TInt, absentOptional = false),
      TField("v", TUnion(Seq(TInt, TStr)), absentOptional = false)))
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_ingest").toFile
    java.nio.file.Files.write(new java.io.File(dir, "part-0.jsonl").toPath,
      "{\"id\": 1, \"v\": 42}\n{\"id\": 2, \"v\": true}\n".getBytes("UTF-8"))
    val lines = spark.read.textFile(dir.getPath)
    val legs = Seq(ValidatedIngest.Abort, ValidatedIngest.Skip, ValidatedIngest.Dlq).flatMap { mode =>
      val v = JsonRecords.read(spark, lines, declared, mode)
      v.good +: (if (mode == ValidatedIngest.Dlq) Seq(v.bad) else Nil)
    }
    for (leg <- legs) {
      val p = planOf(leg)
      assert(Seq("from_json", "parse_json", "variant_get").forall(!p.contains(_)),
        s"Catalyst JSON functions in: $p")
      // one decoder pass over one scan of the text
      assert("MapPartitions".r.findAllIn(p).size == 1, s"decodes per leg: $p")
      assert("FileScan text".r.findAllIn(p).size == 1, s"scans per leg: $p")
    }
    assert(legs.last.collect().map(_.getString(1)).toSeq == Seq("union_no_branch:v"))
  }

  test("sequence chunking is a pure fan-out (no shuffle before the sort)") {
    val p = planOf(LlmPipeline.textChunks(spark, sf))
    // the only Exchange is the verify-only orderBy's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking shuffled: $p")
  }

  test("RANGE-frame window shuffles once, on the partition key only") {
    val p = planOf(Relational.qWindowRange(spark, sf))
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly one hash exchange, got $hashEx:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window must partition by user_id: $p")
  }

  test("contamination check Bloom-prefilters; AQE broadcasts the confirm") {
    // the confirm join carries NO forced hint (a corpus-scale eval set
    // must be allowed to shuffle) — so pin the RUNTIME plan: at this SF
    // the eval set is small and AQE must have picked a broadcast join
    val df = LlmPipeline.textContamination(spark, sf)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"Bloom pre-pass missing from the corpus scan: $p")
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should broadcast the small eval gram set at this SF: $p")
    // the Bloom probe must run BEFORE the join (filter below the build)
    assert(p.indexOf("might_contain") > p.indexOf("BroadcastHashJoin"),
      s"Bloom filter not below the confirm join: $p")
  }

  test("SQ8 corpus pass broadcasts codebook and queries (no corpus shuffle)") {
    val p = planOf(LlmPipeline.annSq8(spark, sf))
    // allowed hash exchanges: the per-dim stats aggregation (64 rows
    // out), the corpus spread repartition (the round-9 fix that
    // un-serializes a single-split scan — the corpus's OWN bytes, once),
    // and the two-phase top-k windows ((q_id, slice) pre-rank + q_id
    // final over ≤ slices·k rows). NEVER a candidate-sized exchange:
    // the codebook/query sides flow broadcast-joined.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 5, s"SQ8 corpus pass shuffled beyond stats+spread+topk: $p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"codebook/query set must broadcast: $p")
  }

  test("r4-regressed entries keep their plan shapes (noise, not plans)") {
    // BENCH_r04 showed 2-3x wall-clock drift on four small entries with
    // no plan change; pin the shapes so a REAL regression can't hide
    // behind ambient-load noise.
    // u_count: the counted loop lowers to explode(sequence(...)), one
    // narrow fan-out, no hash exchange
    val pCount = planOf(UdLang.uCount(spark, sf))
    assert(pCount.contains("explode") && pCount.contains("sequence"),
      s"u_count no longer lowers to explode(sequence): $pCount")
    assert(!pCount.contains("Exchange hashpartitioning"),
      s"u_count shuffled: $pCount")
    // u_debug_trace: the `!` trace pins it to the kernel tier — one
    // narrow MapPartitions, no hash exchange
    val pTrace = planOf(UdLang.uDebugTrace(spark, sf))
    assert(!pTrace.contains("Exchange hashpartitioning"),
      s"u_debug_trace shuffled: $pTrace")
    assert("MapPartitions".r.findAllIn(pTrace).size == 1,
      s"u_debug_trace must be one kernel pass: $pTrace")
    // text_vocab: explode -> ONE partial+final aggregate pair
    val pVocab = planOf(LlmPipeline.textVocab(spark, sf))
    val aggExchanges = "Exchange hashpartitioning".r.findAllIn(pVocab).size
    assert(aggExchanges <= 2, s"text_vocab gained exchanges: $pVocab")
    // q_cube: one Expand pass feeding the aggregate
    val pCube = planOf(Relational.qCube(spark, sf))
    val expands = "Expand".r.findAllIn(pCube).size
    assert(expands == 1, s"q_cube must be one Expand pass, got $expands")
  }

  test("packing window parallelism scales with buckets (no global window)") {
    // the r5 shape capped the corpus prefix sum at 8 fixed buckets; the
    // two-level rework must (a) partition the doc-level window by the
    // count-derived bucket, and (b) keep the only unpartitioned window on
    // the nBuckets-row totals table — never on documents
    val p = planOf(LlmPipeline.textPacking(spark, sf))
    assert(p.contains("hashpartitioning(bucket"),
      s"doc-level packing window must partition by bucket: $p")
  }

  test("chunk dedup hot-set join carries no mandatory broadcast hint") {
    // the >=3-occurrence digest set is corpus-sized on boilerplate-heavy
    // crawls: a forced broadcast() hint would override Spark's size check
    // and OOM at scale. AQE may still broadcast at runtime when it fits —
    // what must NOT appear is the hint in the optimized logical plan.
    val lp = LlmPipeline.textChunkDedup(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!lp.contains("strategy=broadcast"),
      s"hot-set join must not force a broadcast: $lp")
  }

  test("substring dedup shuffles digests, never gram text") {
    val qe = LlmPipeline.textSubstringDedup(spark, sf).queryExecution
    // the hot-set join must not force a broadcast (boilerplate corpora
    // make it corpus-sized), and the span merge partitions by doc_id
    assert(!qe.optimizedPlan.toString.contains("strategy=broadcast"),
      s"hot-set join must not force a broadcast: ${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(p.contains("hashpartitioning(doc_id"),
      s"span merge must partition by doc_id: $p")
    assert(p.contains("xxhash64"),
      s"gram digests missing — join would ship text: $p")
  }

  test("DSIR token-scoring join is salted against the Zipf head") {
    // "the" alone owns percents of a natural-language corpus; the scoring
    // join must shuffle on (tok, salt), not the raw token
    val p = planOf(LlmPipeline.sampleImportance(spark, sf))
    assert(p.contains("_salt0"),
      s"token scoring join lost its salt: $p")
  }

  test("LSH scoring is fused into a single shuffle-hash bucket join") {
    // The round-8 100x tier killed two prior shapes: candidate pairs
    // joined back to embeddings via SMJ externally SORTED tens of
    // millions of ~550B rows (79GB spill, disk-full), and via
    // shuffle-hash attach the a-attached wide intermediate still paid
    // its own 61GB exchange. The survivor ships each vector through the
    // bucket exchange once and scores pairs INSIDE the join's stage —
    // so the plan must show exactly one join, shuffle-hash (the
    // exact-bucket side is the per-partition build; a broadcast could
    // not hold at 1B vectors), and no sort-merge join anywhere.
    for ((name, df) <- Seq(
        "ann_lsh" -> LlmPipeline.annLsh(spark, sf),
        "ann_knn_graph" -> LlmPipeline.annKnnGraph(spark, sf))) {
      val p = df.queryExecution.executedPlan.toString
      val shj = "ShuffledHashJoin".r.findAllIn(p).size
      assert(shj == 1,
        s"$name: expected the single fused bucket join, got $shj:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name: a sort-merge join crept back in:\n$p")
    }
  }

  test("uDLang kernel tier is a single narrow flatMap (no shuffle)") {
    val src = """script "rec";
      |input  {l_orderkey: Int, l_linenumber: Int};
      |output {l_orderkey: Int, fact: Int};
      |func fact(n: Int) -> Int { if (n > 1) { n * fact(n - 1) } else { n } }
      |out {l_orderkey: in.l_orderkey, fact: fact(in.l_linenumber)};""".stripMargin
    val c = UdScript.compile(src)
    assert(c.tier == UdScript.KernelTier)
    val p = planOf(c.run(Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber")))
    assert(p.contains("SerializeFromObject")) // kernel boundary exists
    assert(!p.contains("Exchange"), "kernel must not shuffle")
  }
}
