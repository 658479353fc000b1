package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Relational extension surface (SURVEY.md §2.6): scans, joins (broadcast /
  * shuffle / semi / anti / as-of / range), aggregation, windows, top-k, set
  * ops, distinct, rollup. The reference has none of these by design — here
  * they are Spark builtins arranged for scale:
  *
  *  - dimension tables (region/nation/supplier) are broadcast explicitly;
  *  - fact-fact joins shuffle on their keys and rely on AQE for skew;
  *  - aggregates are partial (map-side combine) by construction (groupBy.agg);
  *  - every scan is pruned: filters + column selection reach the parquet
  *    reader (verified via explain: PushedFilters / ReadSchema).
  */
object Relational extends Serializable {
  import QueryUtil._

  private val one = lit(1).cast(DecimalType(18, 2))

  /** TPC-H Q1 (pricing summary) adapted to the driver schema. */
  def q1Agg(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    val discPrice =
      (dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
    val charge =
      (discPrice * (one + dec(col("l_tax")))).cast(DecimalType(18, 6))
    l.filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_base_price"),
        sum(discPrice).cast(DoubleType).as("sum_disc_price"),
        sum(charge).cast(DoubleType).as("sum_charge"),
        avgd(col("l_quantity"), count(lit(1))).as("avg_qty"),
        avgd(col("l_extendedprice"), count(lit(1))).as("avg_price"),
        avgd(col("l_discount"), count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
  }

  val q1AggSql: String = {
    val discPrice =
      "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))"
    val charge =
      s"CAST($discPrice * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))) AS DECIMAL(18,6))"
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumd("l_quantity")} AS sum_qty,
       |  ${sqlSumd("l_extendedprice")} AS sum_base_price,
       |  CAST(sum($discPrice) AS DOUBLE) AS sum_disc_price,
       |  CAST(sum($charge) AS DOUBLE) AS sum_charge,
       |  ${sqlAvgd("l_quantity", "count(*)")} AS avg_qty,
       |  ${sqlAvgd("l_extendedprice", "count(*)")} AS avg_price,
       |  ${sqlAvgd("l_discount", "count(*)")} AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin
  }

  /** TPC-H Q3 shape: 3-way fact join + group + top-k by revenue. */
  def q3JoinTopk(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("2000-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("2000-03-15").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val revenue =
      (dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"))
      .select(
        col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_orderpriority"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3JoinTopkSql: String =
    """SELECT o_orderkey,
      |  epoch_us(o_orderdate) AS o_orderdate_us,
      |  o_orderpriority,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING'
      |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '2000-03-15 00:00:00'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5 shape: star join, dimensions broadcast explicitly. */
  def q5StarBroadcast(s: SparkSession, d: String): DataFrame = {
    val r = broadcast(Tables.region(s, d))
    val n = broadcast(Tables.nation(s, d))
    val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val revenue =
      (dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast(DecimalType(18, 4))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q5StarBroadcastSql: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem, orders, customer, nation, region
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** Left-semi join: customers having at least one big order (EXISTS). */
  def qSemiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      .select("o_custkey")
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  val qSemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no big order (NOT EXISTS). */
  def qAntiJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
      .select("o_custkey")
    c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
      |ORDER BY c_custkey""".stripMargin

  /** Window functions: per-user event ranking, first 3 events per user.
    * Shuffles once on user_id; the window sort is within-partition. */
  def qWindowRank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    e.select(
        col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        row_number().over(w).as("rn"),
        sum(dec(col("value"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_value"))
      .filter(col("rn") <= 3)
  }

  val qWindowRankSql: String =
    """SELECT * FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    row_number() OVER w AS rn,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |) WHERE rn <= 3
      |ORDER BY user_id, rn""".stripMargin

  /** Distribution window functions — ntile quartiles, cume_dist,
    * percent_rank — over a deterministic unique ordering (totalprice,
    * orderkey), completing the ranking-window family. The fractional
    * functions are exact integer ratios evaluated as the same IEEE
    * division in both engines; rounded to 6dp so the last ulp never
    * decides the hash. */
  def qWindowNtile(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).where(col("o_orderkey") % 7 === 0)
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    o.select(col("o_orderstatus"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cd"),
        round(percent_rank().over(w), 6).as("pr"))
  }

  val qWindowNtileSql: String =
    """SELECT o_orderstatus, o_orderkey,
      |  CAST(ntile(4) OVER w AS INT) AS quartile,
      |  round(cume_dist() OVER w, 6) AS cd,
      |  round(percent_rank() OVER w, 6) AS pr
      |FROM orders WHERE o_orderkey % 7 = 0
      |WINDOW w AS (PARTITION BY o_orderstatus
      |             ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** Global top-k: TakeOrderedAndProject, no full sort at scale. */
  def qTopk(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  val qTopkSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Set ops: high-value clickers who never had a high-value error. */
  def qSetExcept(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).filter(col("value") > 90.0)
    val clickers = e.filter(col("event_type") === "click").select("user_id")
    val erroring = e.filter(col("event_type") === "error").select("user_id")
    clickers.distinct().except(erroring.distinct())
  }

  val qSetExceptSql: String =
    """SELECT DISTINCT user_id FROM events WHERE event_type = 'click' AND value > 90.0
      |EXCEPT
      |SELECT DISTINCT user_id FROM events WHERE event_type = 'error' AND value > 90.0
      |ORDER BY user_id""".stripMargin

  def qSetIntersect(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.filter(col("event_type") === "purchase").select("user_id")
      .intersect(e.filter(col("event_type") === "signup").select("user_id"))
  }

  val qSetIntersectSql: String =
    """SELECT user_id FROM events WHERE event_type = 'purchase'
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'signup'
      |ORDER BY user_id""".stripMargin

  def qUnionAll(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val hi = e.filter(col("value") > 90.0)
      .select(col("event_id"), lit("high").as("tag"))
    val err = e.filter(col("event_type") === "error")
      .select(col("event_id"), lit("err").as("tag"))
    hi.unionAll(err)
  }

  val qUnionAllSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 'high' AS tag FROM events WHERE value > 90.0
      |  UNION ALL
      |  SELECT event_id, 'err' AS tag FROM events WHERE event_type = 'error'
      |) ORDER BY event_id, tag""".stripMargin

  /** Distinct / dedup of a projection. */
  def qDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("user_id", "event_type")
      .distinct()

  val qDistinctSql: String =
    "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type"

  /** Rollup with grouping-id — hierarchical aggregates in one pass. */
  def qRollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sumd(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  val qRollupSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumd("l_quantity")} AS sum_qty, count(*) AS n
       |FROM lineitem
       |GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Cube over two low-cardinality dims. */
  def qCube(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .cube(col("event_type"), (col("user_id") % 10).as("user_bucket"))
      .agg(sumd(col("value")).as("sum_value"), count(lit(1)).as("n"))

  val qCubeSql: String =
    s"""SELECT event_type, user_id % 10 AS user_bucket,
       |  ${sqlSumd("value")} AS sum_value, count(*) AS n
       |FROM events
       |GROUP BY CUBE (event_type, user_id % 10)
       |ORDER BY event_type ASC NULLS FIRST, user_bucket ASC NULLS FIRST""".stripMargin

  /** As-of join: latest order (by o_orderdate) at or before each event's ts
    * for that user. Implemented as join + window-pick; DuckDB oracle uses its
    * native ASOF JOIN. At scale the join shuffles both sides on the key and
    * AQE handles skew; per-key order cardinality is bounded (orders/customer).
    */
  def qAsofJoin(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    val joined = e.join(o,
      e("user_id") === o("o_custkey") && o("o_orderdate") <= e("ts"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("o_orderdate_us"),
        col("o_totalprice"))
  }

  val qAsofJoinSql: String =
    """SELECT event_id, user_id, o_orderkey,
      |  epoch_us(o_orderdate) AS o_orderdate_us, o_totalprice
      |FROM events ASOF JOIN (
      |  SELECT o_custkey, o_orderdate,
      |         max(o_orderkey) AS o_orderkey,
      |         max_by(o_totalprice, o_orderkey) AS o_totalprice
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |) o ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Range (interval) self-join: pairs of events from the same user within
    * 5 minutes of each other, as a bucketed band join. Both sides carry a
    * 5-minute time bucket; since b_ts ∈ [a_ts, a_ts+5min] implies
    * bucket(b_ts) ∈ {bucket(a_ts), bucket(a_ts)+1}, the a-side probes those
    * two buckets and the join is equi on (user_id, bucket). Per-task pair
    * expansion is bounded by (events of one user in one 5-min bucket)² —
    * never the per-user quadratic of a bare user_id equi-join, so one hot
    * user cannot kill a task at scale. Each qualifying pair matches exactly
    * once (b's bucket is a single value), so no dedup is needed. */
  def qRangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("ts"), expr("unix_micros(ts) div 300000000").as("bk"))
    val a = ev.select(col("event_id").as("a_id"), col("user_id"),
      col("ts").as("a_ts"),
      explode(array(col("bk"), col("bk") + 1)).as("jbk"))
    val b = ev.select(col("event_id").as("b_id"),
      col("user_id").as("b_user"), col("ts").as("b_ts"),
      col("bk").as("b_bk"))
    a.join(b,
        col("user_id") === col("b_user") &&
          col("jbk") === col("b_bk") &&
          col("a_id") < col("b_id") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 5 MINUTES"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val qRangeJoinSql: String =
    """SELECT a.user_id, count(*) AS n_pairs
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  /** Tumbling event-time window aggregation (batch twin of the streaming
    * path in graft.streaming): 1-hour buckets of event value. */
  def qWindowTumbling(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(sumd(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("sum_value"), col("n"))

  val qWindowTumblingSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start_us,
       |  event_type, ${sqlSumd("value")} AS sum_value, count(*) AS n
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY win_start_us, event_type""".stripMargin

  /** SLIDING event-time windows: 1-hour windows every 15 minutes — each
    * event lands in exactly duration/slide = 4 overlapping windows
    * (Spark's Expand: a bounded 4x fan-out before the aggregation, the
    * scale-safe shape vs. a self-join). Oracle replays the fan-out with
    * a 0..3 cross join on the 15-minute bucket. */
  def qWindowSliding(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(sumd(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("sum_value"), col("n"))

  val qWindowSlidingSql: String =
    s"""SELECT epoch_us(time_bucket(INTERVAL 15 MINUTE, ts)
       |         - k.k * INTERVAL 15 MINUTE) AS win_start_us,
       |  event_type, ${sqlSumd("value")} AS sum_value, count(*) AS n
       |FROM events
       |CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
       |GROUP BY 1, 2
       |ORDER BY win_start_us, event_type""".stripMargin

  /** Session windows (5-minute inactivity gap) per user — the batch twin
    * of streaming session_window; oracle via gaps-and-islands SQL. */
  def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("session_start_us"),
        col("n"), col("sum_value"))

  val qSessionWindowSql: String =
    s"""WITH x AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts - lag(ts) OVER w > INTERVAL 5 MINUTE
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
       |), y AS (
       |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM x)
       |SELECT user_id, epoch_us(min(ts)) AS session_start_us,
       |  count(*) AS n, ${sqlSumd("value")} AS sum_value
       |FROM y GROUP BY user_id, sid
       |ORDER BY user_id, session_start_us""".stripMargin

  /** Grouping sets: per-(flag,status), per-flag, and grand total in one
    * pass. */
  def qGroupingSets(s: SparkSession, d: String): DataFrame = {
    val l = Tables.lineitem(s, d)
    l.createOrReplaceTempView("graft_lineitem_gs")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         |  count(*) AS n
         |FROM graft_lineitem_gs
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         |                        (l_returnflag), ())
         |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
         |""".stripMargin)
  }

  val qGroupingSetsSql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  ${sqlSumd("l_quantity")} AS sum_qty, count(*) AS n
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
       |                        (l_returnflag), ())
       |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** Statistical aggregates from exact decimal sums (order-independent →
    * cross-engine deterministic; builtin stddev is a float fold and is
    * not). variance = (n·Σx² − (Σx)²) / (n·(n−1)). */
  def qStatsAgg(s: SparkSession, d: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val sx = sum(x).cast(DoubleType)
    val sxx = sum((x * x).cast(DecimalType(28, 4))).cast(DoubleType)
    val n = count(lit(1)).cast(DoubleType)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(sx / n, 6).as("mean"),
        round(sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0)))), 6)
          .as("stddev"),
        min(col("l_quantity")).as("min_q"),
        max(col("l_quantity")).as("max_q"))
  }

  val qStatsAggSql: String = {
    val sx = "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
    val sxx = "CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE)"
    s"""SELECT l_returnflag, count(*) AS n,
       |  round($sx / CAST(count(*) AS DOUBLE), 6) AS mean,
       |  round(sqrt((CAST(count(*) AS DOUBLE) * $sxx - $sx * $sx) /
       |        (CAST(count(*) AS DOUBLE) * (CAST(count(*) AS DOUBLE) - 1.0))), 6) AS stddev,
       |  min(l_quantity) AS min_q, max(l_quantity) AS max_q
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  /** Bloom runtime-filter join (round 13): the semi-join reduction a
    * 100-TB fact join leans on, made explicit. A selective dimension
    * predicate (o_totalprice < 20000 keeps ~4% of orders) builds a
    * fixed-size Bloom over the qualifying keys — one aggregate row,
    * driver-held like the text_contamination filter (bounded by numBits,
    * never by row count) — and the FACT side probes it BEFORE the
    * shuffle join, so only the surviving ~4% of lineitem ever exchanges.
    * Bloom filters have no false negatives and the exact join confirms
    * survivors, so the result is IDENTICAL to the plain join (the
    * oracle is that plain join). Spark's AQE InjectRuntimeFilter plays
    * this trick opportunistically; owning it as an operator makes the
    * reduction deterministic and lets a serving system commit the
    * filter as an artifact (the idx_bloom pattern). */
  def qBloomJoin(s: SparkSession, d: String): DataFrame = {
    val sel = Tables.orders(s, d)
      .where(col("o_totalprice") < 20000)
      .select(col("o_orderkey"), col("o_orderdate"))
    // capacity: dimension-count-derived (the evalBloom convention) —
    // a dim-side count is metadata-scale next to the fact scan. Sized
    // from the measured key count (round-13's fixed 2^26 cap let FPR
    // grow with keys); 16 bits/key holds FPR at ~5e-4. The ceiling is
    // MEMORY-derived, not arbitrary: every partial-aggregation task
    // eagerly allocates bits/8 bytes of buffer and ships it through
    // the merge exchange, so 2^28 bits = 32 MB/task (~1 GB across 32
    // concurrent tasks) is the sane single-filter bound — it keeps the
    // design point to ~17M keys (10× the SF100 tier); past that, shard
    // the filter rather than grow it (GraftSession's clamp confs match
    // this ceiling).
    val items = math.max(1024L, sel.count())
    val bits = math.min(1L << 28, items * 16)
    // The filter ships as a SCALAR SUBQUERY (Spark's own runtime-filter
    // vehicle): built once in its own job, delivered to probe tasks in
    // the stage's broadcast task binary — never driver-collected into a
    // lit(bytes) plan literal that every plan copy/render would carry.
    val bfDf = sel.agg(graft.plans.Bloom
      .agg(xxhash64(col("o_orderkey")), items, bits).as("bf"))
    val pre = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .where(graft.plans.Bloom.mightContain(graft.plans.Bloom.scalarOf(bfDf),
        xxhash64(col("l_orderkey"))))
    pre.join(sel, pre("l_orderkey") === sel("o_orderkey"))
      .groupBy(expr("substr(CAST(o_orderdate AS STRING), 1, 7)").as("month"))
      .agg(count(lit(1)).as("n"),
        sumd(col("l_extendedprice")).as("revenue"))
  }

  val qBloomJoinSql: String =
    s"""SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
       |  count(*) AS n, ${sqlSumd("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_totalprice < 20000
       |GROUP BY 1 ORDER BY month""".stripMargin

  /** SHARDED Bloom runtime filter — the path past q_bloom_join's
    * single-filter memory ceiling (2^28 bits = 32 MB per build task):
    * keys hash-partition into S independent filters, each sized
    * items/S, so per-task build buffers stay at ceiling/S while total
    * capacity scales S× — the FPR design point holds at S× the key
    * count of the single filter. The probe is an OR over
    * (shard-select AND might_contain(shard's subquery)): exactly one
    * term's shard predicate is true per row, so exactly one filter is
    * consulted. A fact key hashing to an EMPTY shard (null aggregate)
    * evaluates null and is dropped — correct, because an empty build
    * shard means no dim key hashes there and the row cannot join.
    * Each shard's build is its own scalar subquery over the filtered
    * dim (S metadata-scale dim scans; a single grouped build would
    * save the scans but has no subquery ship per group). Results are
    * identical to the plain join (no false negatives per shard; the
    * exact join confirms survivors) — the oracle is that plain join. */
  /** Shard count DERIVED from the measured key count (round-14 ADVICE:
    * a hardcoded 4 only scales capacity 4×; past ~68M keys per-shard
    * bits clamp at the 2^28 ceiling again and FPR silently degrades —
    * the failure mode the sharded path exists to avoid). The formula
    * keeps the 16-bits/key design point at ANY tier: S grows linearly
    * with keys once items·16 exceeds one filter's ceiling. The floor of
    * 4 is a TEST-SCALE demonstration floor — it keeps the multi-filter
    * probe mechanics (shard-select ∧ might_contain per term) exercised
    * at sf0.1, and extra shards only IMPROVE per-shard FPR at the cost
    * of metadata-scale dim scans. A single grouped build (groupBy shard
    * → one pass) was adjudicated out: each shard's filter must ship as
    * its own SCALAR subquery, and a grouped result either re-executes
    * the grouped aggregate once per shard subquery or driver-collects
    * into the lit(bytes) plan literal the round-14 fix removed. */
  private[queries] def bloomShardCount(items: Long): Int =
    math.max(4, math.ceil(items * 16.0 / (1L << 28)).toInt)

  def qBloomJoinSharded(s: SparkSession, d: String): DataFrame = {
    val sel = Tables.orders(s, d)
      .where(col("o_totalprice") < 20000)
      .select(col("o_orderkey"), col("o_orderdate"))
    val items = math.max(1024L, sel.count())
    val shards = bloomShardCount(items)
    val per = math.max(1024L, items / shards)
    val bits = math.min(1L << 28, per * 16)
    val subs = (0 until shards).map { i =>
      val bf = sel
        .where(pmod(xxhash64(col("o_orderkey")), lit(shards)) === i)
        .agg(graft.plans.Bloom
          .agg(xxhash64(col("o_orderkey")), per, bits).as("bf"))
      graft.plans.Bloom.scalarOf(bf)
    }
    val lh = xxhash64(col("l_orderkey"))
    val probe = (0 until shards).map(i =>
      (pmod(lh, lit(shards)) === i) &&
        graft.plans.Bloom.mightContain(subs(i), lh))
      .reduce(_ || _)
    val pre = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      .where(probe)
    pre.join(sel, pre("l_orderkey") === sel("o_orderkey"))
      .groupBy(expr("substr(CAST(o_orderdate AS STRING), 1, 7)").as("month"))
      .agg(count(lit(1)).as("n"),
        sumd(col("l_extendedprice")).as("revenue"))
  }

  /** Skew-salted join (graft.operators.Skew): orders⋈customer salted 8
    * ways — results identical to the plain join, shuffle spread over
    * (key × salt). */
  def qSaltedJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
        col("o_totalprice"))
    val c = Tables.customer(s, d).select("c_custkey", "c_name")
    graft.operators.Skew
      .saltedJoin(o, c, "c_custkey", col("o_orderkey"), 8)
      .groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("n_orders"), sumd(col("o_totalprice")).as("total"))
  }

  val qSaltedJoinSql: String =
    s"""SELECT o_custkey AS c_custkey, count(*) AS n_orders,
       |  ${sqlSumd("o_totalprice")} AS total
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY o_custkey ORDER BY c_custkey""".stripMargin

  /** Pivot (wide conditional aggregation): per return flag, one column
    * pair per line status. Spark's pivot compiles to a single-pass
    * conditional aggregate — no extra shuffle over the plain groupBy;
    * decimal-exact qty sums per QueryUtil. */
  def qPivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"), QueryUtil.sumd(col("l_quantity")).as("qty"))

  val qPivotSql: String =
    """SELECT l_returnflag,
      |  count(*) FILTER (WHERE l_linestatus = 'F') AS F_n,
      |  CAST(sum(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F_qty,
      |  count(*) FILTER (WHERE l_linestatus = 'O') AS O_n,
      |  CAST(sum(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Exact percentiles with the approx sketch next to its exact twin —
    * the same contract as the HLL entry: exact values are oracle-checked
    * outright, the sketch must land within its error budget. At scale the
    * exact percentile (full sort per group) drops away and only the
    * fixed-size approx sketch runs. */
  def qPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.9)).as("p90"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(1000)).as("ap50"))
      .select(col("l_returnflag"), round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"),
        (abs(col("ap50") - col("p50")) <=
          greatest(col("p50") * 0.05, lit(1.0))).as("approx_ok"))

  val qPercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
      |  TRUE AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Unpivot (melt): the four lineitem measures become (measure, value)
    * rows — Spark's Expand node, one pass, no shuffle beyond the
    * verify-only orderBy. Sliced to a 1% orderkey band to keep the
    * melted row count bench-friendly. */
  def qUnpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_orderkey") % 100 === 0)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "value")

  val qUnpivotSql: String =
    """SELECT l_orderkey, l_linenumber, measure, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
      |    l_quantity AS value FROM lineitem WHERE l_orderkey % 100 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_orderkey % 100 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem WHERE l_orderkey % 100 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      |  FROM lineitem WHERE l_orderkey % 100 = 0)
      |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin

  /** lag/lead offset window functions: per-user previous/next event
    * value and the delta — one shuffle on the partition key, no self
    * join. */
  def qLagLead(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("next_value", lead(col("value"), 1).over(w))
      .withColumn("delta",
        round(col("value") - coalesce(col("prev_value"), col("value")), 6))
  }

  val qLagLeadSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |  lag(value, 1) OVER w AS prev_value,
      |  lead(value, 1) OVER w AS next_value,
      |  round(value - coalesce(lag(value, 1) OVER w, value), 6) AS delta
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** Co-bucketed fact-fact join (SURVEY §2.6 bucketing): lineitem and
    * orders pre-bucketed on the order key at write time, so this (and every
    * later) equi-join on that key is Exchange-free on both sides — the
    * lakehouse layout for a 100 TB fact table that is joined repeatedly.
    * The entry asserts the shuffle-free sort-merge plan before returning
    * the aggregate; only the final groupBy(o_orderpriority) shuffles.
    *
    * The bucketed WRITES are the lakehouse's one-time layout cost and run
    * at most once per JVM per sf dir (ensureBucketed) — a bench warm-up
    * pays them, so the timed number is the Exchange-free join itself. */
  def qBucketedJoin(s: SparkSession, d: String): DataFrame = {
    graft.operators.Bucketing.ensureBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"),
      "g_li_bkt", "l_orderkey", 8, d)
    graft.operators.Bucketing.ensureBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
      "g_ord_bkt", "o_orderkey", 8, d)
    val joined = s.table("g_li_bkt")
      .join(s.table("g_ord_bkt").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    require(plan.contains("SortMergeJoin"),
      s"bucketed join must plan a sort-merge join:\n$plan")
    require(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle:\n$plan")
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sumd(col("l_extendedprice")).as("revenue"))
  }

  val qBucketedJoinSql: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Funnel analysis (view → click → purchase): per user, the first view,
    * the first click AFTER that view, the first purchase AFTER that click;
    * emits users-surviving-per-stage. Each stage is a filtered min-agg
    * (map-side partial) joined on user_id — three bounded shuffles of the
    * filtered stream, no window over the full event history. */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("view_us"))
    val c = e.where(col("event_type") === "click").join(v, "user_id")
      .where(col("ts_us") > col("view_us"))
      .groupBy("user_id").agg(min("ts_us").as("click_us"))
    val p = e.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("ts_us") > col("click_us"))
      .groupBy("user_id").agg(min("ts_us").as("purchase_us"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit(1).as("stage_id"), lit("view").as("stage"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2).as("stage_id"), lit("click_after_view").as("stage"),
          col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3).as("stage_id"), lit("purchase_after_click").as("stage"),
          col("n_users")))
  }

  val qFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS view_us FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(ts_us) AS click_us FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > view_us GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(ts_us) AS purchase_us FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > click_us GROUP BY e.user_id)
      |SELECT 1 AS stage_id, 'view' AS stage, count(*) AS n_users FROM v
      |UNION ALL
      |SELECT 2, 'click_after_view', count(*) FROM c
      |UNION ALL
      |SELECT 3, 'purchase_after_click', count(*) FROM p
      |ORDER BY stage_id""".stripMargin

  /** SCD2 dimension rebuild from a change stream: each signup event is an
    * attribute update; versions get [valid_from, valid_to) ranges via lead()
    * and an is_current flag — the slowly-changing-dimension history a
    * lakehouse MERGE maintains incrementally, rebuilt here in one window
    * pass (shuffle by the dimension key only). */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d).where(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value").as("attr_value"))
      .withColumn("version", row_number().over(w).cast("int"))
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "version", "event_id", "attr_value",
        "valid_from_us", "valid_to_us", "is_current")
  }

  val qScd2Sql: String =
    """WITH u AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value AS attr_value
      |  FROM events WHERE event_type = 'signup'),
      |v AS (
      |  SELECT user_id, event_id, attr_value, ts_us AS valid_from_us,
      |    row_number() OVER w AS version,
      |    lead(ts_us, 1) OVER w AS valid_to_us
      |  FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, CAST(version AS INT) AS version, event_id, attr_value,
      |  valid_from_us, valid_to_us, valid_to_us IS NULL AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  /** RANGE-frame trailing window: per-user count and decimal-exact sum
    * over the trailing hour of EVENT TIME (not row count) — the moving
    * aggregate where peers at equal timestamps share a frame, so ties
    * cannot make the result order-dependent. One shuffle by user_id. */
  def qWindowRange(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(dec(col("value"))).over(w).cast(DoubleType))
      .select("user_id", "event_id", "ts_us", "n_1h", "sum_1h")
  }

  val qWindowRangeSql: String =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  count(*) OVER w AS n_1h,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** Relational JSON extraction: pull a typed field out of the raw props
    * JSON column and aggregate it — get_json_object is a codegen'd
    * builtin, so the parse stays inside the scan projection (no UDF). */
  def qJsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("k").as("k_min"),
        max("k").as("k_max"), sum("k").as("k_sum"))

  val qJsonExtractSql: String =
    """SELECT event_type, count(*) AS n, min(k) AS k_min, max(k) AS k_max,
      |  CAST(sum(k) AS BIGINT) AS k_sum
      |FROM (SELECT event_type, CAST(props ->> 'k' AS BIGINT) AS k FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Full OUTER join reconciliation: customers vs order-holders — rows
    * survive from BOTH sides with null partners (the data-reconciliation /
    * anti-drift check shape). Shuffles both sides on the key once; the
    * aggregate classifies matches/left-only/right-only in one pass. */
  def qOuterJoin(s: SparkSession, d: String): DataFrame = {
    // the synthetic keys overlap fully; disjoint predicates on the two
    // sides make all three reconciliation categories non-empty
    val cust = Tables.customer(s, d)
      .where(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey"), col("c_acctbal"))
    val buyers = Tables.orders(s, d)
      .where(col("o_custkey") % 2 === 0)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    cust.join(buyers, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(
        when(col("c_custkey").isNotNull && col("o_custkey").isNotNull,
          "matched")
          .when(col("o_custkey").isNull, "customer_only")
          .otherwise("orders_only").as("side"),
        coalesce(col("n_orders"), lit(0)).as("n_orders_nz"))
      .groupBy("side")
      .agg(count(lit(1)).as("n"), sum(col("n_orders_nz")).as("total_orders"))
  }

  val qOuterJoinSql: String =
    """SELECT side, count(*) AS n,
      |  CAST(sum(n_orders_nz) AS BIGINT) AS total_orders
      |FROM (
      |  SELECT CASE
      |      WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL
      |        THEN 'matched'
      |      WHEN o_custkey IS NULL THEN 'customer_only'
      |      ELSE 'orders_only' END AS side,
      |    coalesce(n_orders, 0) AS n_orders_nz
      |  FROM (SELECT c_custkey, c_acctbal FROM customer
      |        WHERE c_custkey % 3 <> 0) c
      |  FULL OUTER JOIN (
      |    SELECT o_custkey, count(*) AS n_orders FROM orders
      |    WHERE o_custkey % 2 = 0 GROUP BY o_custkey) o
      |  ON c_custkey = o_custkey)
      |GROUP BY side ORDER BY side""".stripMargin

  /** Time-series resample: per-user hourly grid from first to last event
    * (gaps materialized with n = 0) and FORWARD-FILLED running value —
    * the gap-fill/ffill shape of feature backfills. The grid explodes
    * from a per-user (min, max) span — no calendar table, fan-out bounded
    * by each user's own activity span; one shuffle by user for the fill
    * window. */
  def qResample(s: SparkSession, d: String): DataFrame = {
    val hourUs = (unix_micros(col("ts")) -
      unix_micros(col("ts")) % 3600000000L).as("hour_us")
    val hourly = Tables.events(s, d)
      .select(col("user_id"), hourUs, col("value"))
      .groupBy("user_id", "hour_us")
      .agg(count(lit(1)).as("n"), sumd(col("value")).as("sum_value"))
    val grid = hourly.groupBy("user_id")
      .agg(min("hour_us").as("lo"), max("hour_us").as("hi"))
      .select(col("user_id"),
        explode(sequence(col("lo"), col("hi"), lit(3600000000L)))
          .as("hour_us"))
    val ffill = Window.partitionBy(col("user_id")).orderBy(col("hour_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour_us"), "left")
      .select(col("user_id"), col("hour_us"),
        coalesce(col("n"), lit(0)).as("n"),
        last(col("sum_value"), ignoreNulls = true).over(ffill)
          .as("ffill_value"))
  }

  val qResampleSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us, value
      |  FROM events),
      |hourly AS (
      |  SELECT user_id, hour_us, count(*) AS n,
      |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |  FROM e GROUP BY user_id, hour_us),
      |span AS (
      |  SELECT user_id, min(hour_us) AS lo, max(hour_us) AS hi
      |  FROM hourly GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS hour_us
      |  FROM span)
      |SELECT g.user_id AS user_id, g.hour_us AS hour_us,
      |  coalesce(h.n, 0) AS n,
      |  last_value(h.sum_value IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hour_us
      |    ROWS UNBOUNDED PRECEDING) AS ffill_value
      |FROM grid g LEFT JOIN hourly h
      |  ON h.user_id = g.user_id AND h.hour_us = g.hour_us
      |ORDER BY g.user_id, g.hour_us""".stripMargin

  /** MERGE INTO / CDC-apply: a change feed (latest change per key wins —
    * one window by key) applied to a stale base snapshot in ONE full-outer
    * sort-merge join: matched U updates, matched D deletes, unmatched U
    * inserts, unmatched D is a no-op. This is the Delta/Iceberg MERGE
    * shape minus the file rewrite — at lakehouse scale the same join
    * drives copy-on-write of only the touched files; the wide exchange is
    * keyed by the merge key alone.
    *
    * Deterministic fixture: base = customers with custkey % 5 <> 0 (a
    * snapshot missing every 5th customer), change feed = each customer's
    * LATEST order (orderdate desc, orderkey desc) — orderkey % 10 = 0
    * means delete, else upsert acctbal to that order's total price. */
  def qMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).where(col("c_custkey") % 5 =!= 0)
      .select(col("c_custkey").as("custkey"), col("c_name").as("base_name"),
        col("c_acctbal").as("base_bal"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val changes = Tables.orders(s, d)
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("o_custkey").as("custkey"),
        when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U"))
          .as("op"),
        col("o_totalprice").as("new_bal"))
    base.join(changes, Seq("custkey"), "full_outer")
      .where(col("op").isNull || col("op") =!= "D")
      .select(col("custkey"),
        coalesce(col("base_name"),
          concat(lit("new-"), col("custkey"))).as("name"),
        when(col("op") === "U", col("new_bal")).otherwise(col("base_bal"))
          .as("acctbal"),
        when(col("op").isNull, lit("base"))
          .when(col("base_name").isNull, lit("inserted"))
          .otherwise(lit("updated")).as("src"))
  }

  val qMergeUpsertSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS key, c_name, c_acctbal
      |  FROM customer WHERE c_custkey % 5 <> 0),
      |ch AS (
      |  SELECT o_custkey AS key,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
      |    o_totalprice AS new_bal
      |  FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders) WHERE rn = 1)
      |SELECT coalesce(b.key, c.key) AS custkey,
      |  coalesce(b.c_name, 'new-' || coalesce(b.key, c.key)) AS name,
      |  CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.c_acctbal END AS acctbal,
      |  CASE WHEN c.op IS NULL THEN 'base'
      |       WHEN b.c_name IS NULL THEN 'inserted'
      |       ELSE 'updated' END AS src
      |FROM base b FULL JOIN ch c ON b.key = c.key
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY custkey""".stripMargin

  /** MERGE with the file rewrite — the COPY-ON-WRITE half qMergeUpsert
    * stops short of: the base snapshot lives as a pk-partitioned parquet
    * table, the change feed (restricted to custkey % 4 = 1, so most
    * partitions are NOT touched) drives the same full-outer merge join
    * over ONLY the touched partitions, and sinks.MergeCow swaps just
    * those partition directories (Spark-committed scratch write + rename
    * — untouched files stay byte-identical, MergeCowSpec pins it). The
    * returned rows are the committed table READ BACK — so the oracle
    * hash-matches the physical post-rewrite table, not the join. The
    * read-back is LAZY: the committed table lives in a run-scoped dir
    * that outlives the entry (reclaimed on the next invocation and at
    * JVM shutdown), so no corpus-proportional driver materialization
    * ever happens — the returned DataFrame is a plain parquet scan of
    * the committed table. */
  def qMergeCow(s: SparkSession, d: String): DataFrame = {
    val scratch = java.nio.file.Files
      .createTempDirectory("graft_merge_cow").toString
    def rmr(dir: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      try p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p, true)
      catch { case _: Throwable => () }
    }
    // reclaim the previous invocation's committed table (bounded: at
    // most one extra table alive per session) and guarantee shutdown
    // cleanup via ONE process-wide hook reading the latest dir (a
    // per-invocation hook would accumulate one thread per call)
    cowScratchLock.synchronized {
      lastCowScratch.foreach(rmr)
      lastCowScratch = Some(scratch)
      if (!cowHookInstalled) {
        cowHookInstalled = true
        val _ = sys.addShutdownHook(
          cowScratchLock.synchronized(lastCowScratch.foreach(rmr)))
      }
    }
    locally {
      val tableDir = scratch + "/table"
      Tables.customer(s, d).where(col("c_custkey") % 5 =!= 0)
        .select(col("c_custkey").as("custkey"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal"),
          (col("c_custkey") % 8).cast("int").as("pk"))
        .write.partitionBy("pk").parquet(tableDir)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      // the feed drives both the touched-partition list and the merge
      // join — materialize it once
      val changes = Tables.orders(s, d).where(col("o_custkey") % 4 === 1)
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("o_custkey").as("custkey"),
          when(col("o_orderkey") % 10 === 0, lit("D")).otherwise(lit("U"))
            .as("op"),
          col("o_totalprice").as("new_bal"))
        .localCheckpoint(true)
      // commit metadata: the touched-partition list (like a lakehouse
      // commit's file list) — driver-held, partition-count-bounded
      val touched = changes
        .select((col("custkey") % 8).cast("int").as("pk"))
        .distinct().collect().map(_.getInt(0)).sorted
      val baseTouched = s.read.parquet(tableDir)
        .where(col("pk").isin(touched.map(Integer.valueOf): _*))
      val newData = baseTouched.drop("pk")
        .join(changes, Seq("custkey"), "full_outer")
        .where(col("op").isNull || col("op") =!= "D")
        .select(col("custkey"),
          coalesce(col("name"), concat(lit("new-"), col("custkey")))
            .as("name"),
          when(col("op") === "U", col("new_bal")).otherwise(col("acctbal"))
            .as("acctbal"),
          (col("custkey") % 8).cast("int").as("pk"))
      graft.sinks.MergeCow.rewritePartitions(s, tableDir, "pk",
        touched.map(_.toString).toIndexedSeq, newData)
      s.read.parquet(tableDir)
        .select("custkey", "name", "acctbal", "pk")
    }
  }

  /** Previous qMergeCow run dir, reclaimed on the next invocation. */
  private var lastCowScratch: Option[String] = None
  private var cowHookInstalled = false
  private val cowScratchLock = new Object

  val qMergeCowSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS key, c_name, c_acctbal
      |  FROM customer WHERE c_custkey % 5 <> 0),
      |ch AS (
      |  SELECT o_custkey AS key,
      |    CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
      |    o_totalprice AS new_bal
      |  FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |    FROM orders WHERE o_custkey % 4 = 1) WHERE rn = 1)
      |SELECT coalesce(b.key, c.key) AS custkey,
      |  coalesce(b.c_name, 'new-' || coalesce(b.key, c.key)) AS name,
      |  CASE WHEN c.op = 'U' THEN c.new_bal ELSE b.c_acctbal END AS acctbal,
      |  CAST(coalesce(b.key, c.key) % 8 AS INTEGER) AS pk
      |FROM base b FULL JOIN ch c ON b.key = c.key
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY custkey""".stripMargin

  /** Graph centrality: PageRank over the supplier<->customer co-order
    * graph (distinct (suppkey, custkey) pairs from lineitem x orders,
    * edges both directions, vertex ids namespaced by +1e9/+2e9) — 3
    * fixed-point Pregel-in-DataFrames rounds (graft.graph.PageRank),
    * top-20 by final rank. Exact integer arithmetic end to end, so the
    * DuckDB oracle replays every round. */
  def qPagerank(s: SparkSession, d: String): DataFrame = {
    // No eager distinct here: the fact-row multiplicity is tiny (600k
    // join rows -> 587k distinct pairs at sf0.1), so a dedicated dedup
    // exchange costs a serialized narrow stage and saves almost nothing.
    // ranks() dedups (src, dst) INSIDE the repartition-by-src exchange it
    // needs anyway — one wide shuffle does dedup + outdeg + cache.
    val edges = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000000L).as("sv"),
        (col("o_custkey") + 2000000000L).as("cv"))
      .select(explode(array(
        struct(col("sv").as("src"), col("cv").as("dst")),
        struct(col("cv").as("src"), col("sv").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val w = Window.orderBy(col("rank_fp").desc, col("vertex"))
    graft.graph.PageRank.ranks(s, edges, 3)
      .orderBy(col("rank_fp").desc, col("vertex")).limit(20)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "vertex", "rank_fp")
  }

  val qPagerankSql: String = {
    val fwd = """SELECT l.l_suppkey + 1000000000 AS src,
                |       o.o_custkey + 2000000000 AS dst
                |FROM lineitem l JOIN orders o
                |  ON l.l_orderkey = o.o_orderkey""".stripMargin
    val bwd = """SELECT o.o_custkey + 2000000000 AS src,
                |       l.l_suppkey + 1000000000 AS dst
                |FROM lineitem l JOIN orders o
                |  ON l.l_orderkey = o.o_orderkey""".stripMargin
    s"""${graft.graph.PageRank.oracleSql(s"$fwd UNION ALL $bwd", 3)}
       |SELECT CAST(rank AS INT) AS rank, vertex, rank_fp FROM (
       |  SELECT *, row_number() OVER (ORDER BY rank_fp DESC, vertex)
       |    AS rank
       |  FROM r3)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  /** FULL PageRank (dangling-mass redistribution) over the DIRECTED
    * supplier->customer co-order graph: customers have no out-edges, so
    * every customer vertex is dangling and its rank mass re-enters the
    * damping term each round (share = dangling sum div N, one scalar
    * aggregate per round — graph.PageRank redistributeDangling). The
    * bidirectional q_pagerank fixture has no dangling vertices at all,
    * which is exactly why the default entry stays the simplified
    * variant and this one exists. */
  def qPagerankFull(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") + 1000000000L).as("src"),
        (col("o_custkey") + 2000000000L).as("dst"))
    val w = Window.orderBy(col("rank_fp").desc, col("vertex"))
    graft.graph.PageRank.ranks(s, edges, 3, redistributeDangling = true)
      .orderBy(col("rank_fp").desc, col("vertex")).limit(20)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select("rank", "vertex", "rank_fp")
  }

  val qPagerankFullSql: String = {
    val fwd = """SELECT l.l_suppkey + 1000000000 AS src,
                |       o.o_custkey + 2000000000 AS dst
                |FROM lineitem l JOIN orders o
                |  ON l.l_orderkey = o.o_orderkey""".stripMargin
    s"""${graft.graph.PageRank.oracleSqlFull(fwd, 3)}
       |SELECT CAST(rank AS INT) AS rank, vertex, rank_fp FROM (
       |  SELECT *, row_number() OVER (ORDER BY rank_fp DESC, vertex)
       |    AS rank
       |  FROM r3)
       |WHERE rank <= 20 ORDER BY rank""".stripMargin
  }

  val entries: Seq[Entry] = Seq(
    Entry("q_pagerank", qPagerank, qPagerankSql),
    Entry("q_pagerank_full", qPagerankFull, qPagerankFullSql),
    Entry("q_merge_upsert", qMergeUpsert, qMergeUpsertSql),
    Entry("q_merge_cow", qMergeCow, qMergeCowSql),
    Entry("q_resample", qResample, qResampleSql),
    Entry("q_outer_join", qOuterJoin, qOuterJoinSql),
    Entry("q_window_range", qWindowRange, qWindowRangeSql),
    Entry("q_json_extract", qJsonExtract, qJsonExtractSql),
    Entry("q_funnel", qFunnel, qFunnelSql),
    Entry("q_scd2", qScd2, qScd2Sql),
    Entry("q_bucketed_join", qBucketedJoin, qBucketedJoinSql),
    Entry("q_lag_lead", qLagLead, qLagLeadSql),
    Entry("q_unpivot", qUnpivot, qUnpivotSql),
    Entry("q_window_sliding", qWindowSliding, qWindowSlidingSql),
    Entry("q_pivot", qPivot, qPivotSql),
    Entry("q_percentiles", qPercentiles, qPercentilesSql),
    Entry("q_session_window", qSessionWindow, qSessionWindowSql),
    Entry("q_grouping_sets", qGroupingSets, qGroupingSetsSql),
    Entry("q_stats_agg", qStatsAgg, qStatsAggSql),
    Entry("q_salted_join", qSaltedJoin, qSaltedJoinSql),
    Entry("q_bloom_join", qBloomJoin, qBloomJoinSql),
    Entry("q_bloom_join_sharded", qBloomJoinSharded, qBloomJoinSql),
    Entry("q1_agg", q1Agg, q1AggSql),
    Entry("q3_join_topk", q3JoinTopk, q3JoinTopkSql),
    Entry("q5_star_broadcast", q5StarBroadcast, q5StarBroadcastSql),
    Entry("q_semi_join", qSemiJoin, qSemiJoinSql),
    Entry("q_anti_join", qAntiJoin, qAntiJoinSql),
    Entry("q_window_rank", qWindowRank, qWindowRankSql),
    Entry("q_window_ntile", qWindowNtile, qWindowNtileSql),
    Entry("q_topk", qTopk, qTopkSql),
    Entry("q_set_except", qSetExcept, qSetExceptSql),
    Entry("q_set_intersect", qSetIntersect, qSetIntersectSql),
    Entry("q_union_all", qUnionAll, qUnionAllSql),
    Entry("q_distinct", qDistinct, qDistinctSql),
    Entry("q_rollup", qRollup, qRollupSql),
    Entry("q_cube", qCube, qCubeSql),
    Entry("q_asof_join", qAsofJoin, qAsofJoinSql),
    Entry("q_range_join", qRangeJoin, qRangeJoinSql),
    Entry("q_window_tumbling", qWindowTumbling, qWindowTumblingSql)
  )
}
