package graft.queries

import graft.SparkSpec

class RelationalSpec extends SparkSpec {
  test("every relational query runs at sf0.001 and is deterministic") {
    Relational.entries.foreach { e =>
      val a = e.build(spark, sf).collect()
      val b = e.build(spark, sf).collect()
      assert(a.sameElements(b), s"${e.name} not deterministic")
    }
  }

  test("pagerank concentrates rank on the hub of a star graph") {
    import spark.implicits._
    // leaves 1,3,4 all point at 2; 2 points back at 1 only
    val edges = Seq((1L, 2L), (3L, 2L), (4L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val r = graft.graph.PageRank.ranks(spark, edges, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(1L) && r(1L) > r(3L), s"ranks $r")
    assert(r(3L) == r(4L))                    // symmetric leaves agree
    assert(r.values.forall(_ >= 150000L))     // base rank floor holds
  }

  test("q1_agg groups are the 6 returnflag×linestatus combos") {
    val rows = Relational.q1Agg(spark, sf).collect()
    assert(rows.length == 6)
    val counts = rows.map(_.getAs[Long]("count_order")).sum
    assert(counts > 5000) // ~6k lineitems at sf0.001, nearly all pass filter
  }

  test("q_topk returns exactly 100 strictly ordered rows") {
    val rows = Relational.qTopk(spark, sf).collect()
    assert(rows.length == 100)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (x, y) => x >= y })
  }

  test("q_asof_join picks the latest order at-or-before each event") {
    val df = Relational.qAsofJoin(spark, sf)
    assert(df.columns.toSet ==
      Set("event_id", "user_id", "o_orderkey", "o_orderdate_us", "o_totalprice"))
    assert(df.count() > 0)
  }

  test("broadcast star join plan actually broadcasts the dims") {
    val plan = Relational.q5StarBroadcast(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast join for dims")
  }
}
