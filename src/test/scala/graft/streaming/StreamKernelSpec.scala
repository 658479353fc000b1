package graft.streaming

import graft.SparkSpec
import graft.lang.UdScript
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** uDLang scripts running over Structured Streaming: the same compiled
  * script, a streaming source, micro-batch execution — plus watermarked
  * event-time windows and stateful (udmonad-shaped) processing. */
class StreamKernelSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("kernel runs unchanged over a memory stream (multi-emit + filter)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val c = UdScript.compile("""script "evens";
      |input Int; output Int;
      |if (in % 2 == 0) { for x in [in, in * 10] { out x; } }""".stripMargin)
    assert(c.tier == UdScript.KernelTier)
    val q = c.run(input.toDF())
      .writeStream.format("memory").queryName("kout").outputMode("append")
      .start()
    try {
      input.addData(1, 2, 3, 4)
      q.processAllAvailable()
      val got = spark.table("kout").as[Long].collect().sorted
      assert(got.toSeq == Seq(2, 4, 20, 40))
    } finally q.stop()
  }

  test("streaming DLQ: thrown records route, stream survives") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val (good, dlq) = UdScript.compile("""script "neg";
      |input Int; output Str;
      |if (in < 0) { throw "neg:" + (in as Str); }
      |out "ok:" + (in as Str);""".stripMargin).runEither(input.toDF())
    val q = good.union(dlq.select(concat(lit("dlq:"), col("_error"))))
      .writeStream.format("memory").queryName("dlqout").outputMode("append")
      .start()
    try {
      input.addData(1, -2, 3)
      q.processAllAvailable()
      val got = spark.table("dlqout").as[String].collect().toSet
      assert(got == Set("ok:1", "dlq:neg:-2", "ok:3"))
    } finally q.stop()
  }

  test("watermarked tumbling window drops late data beyond the watermark") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val agg = input.toDS().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(sum("value").as("total"), count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("total"), col("n"))
    val q = agg.writeStream.format("memory").queryName("winout")
      .outputMode("append").start()
    try {
      input.addData((ts("2024-01-01 10:05:00"), 1.0),
        (ts("2024-01-01 10:20:00"), 2.0))
      q.processAllAvailable()
      // advance watermark far past the 10:00 window
      input.addData((ts("2024-01-01 12:30:00"), 5.0))
      q.processAllAvailable()
      // this event is older than the watermark → must be dropped
      input.addData((ts("2024-01-01 10:40:00"), 100.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), 7.0))
      q.processAllAvailable()
      val rows = spark.table("winout").collect()
        .map(r => (r.getAs[Timestamp]("start").toString,
          r.getAs[Double]("total"), r.getAs[Long]("n"))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", 3.0, 2L)),
        s"10:00 window should close with only the on-time rows, got $rows")
      assert(!rows.exists(_._2 == 103.0), "late row must not reopen the window")
    } finally q.stop()
  }

  test("transformWithState per-key running aggregate (udmonad shape)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the Spark 4 operator requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Double)]
      val q = StreamKernel.statefulCountTws(input.toDS())
        .toDF("key", "n", "sum")
        .writeStream.format("memory").queryName("twsout")
        .outputMode("append").start()
      try {
        input.addData(("a", 1.0), ("a", 2.0), ("b", 5.0))
        q.processAllAvailable()
        input.addData(("a", 3.0))
        q.processAllAvailable()
        val got = spark.table("twsout").as[(String, Long, Double)]
          .collect().toSet
        // one emission per key and batch; batch 2 carries a's state
        assert(got == Set(("a", 2L, 3.0), ("b", 1L, 5.0), ("a", 3L, 6.0)))
      } finally q.stop()
    } finally
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }
}
