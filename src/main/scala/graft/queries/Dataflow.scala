package graft.queries

import graft.Tables
import graft.kernel.{Emitter, Kernel, UdException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** uDLang dataflow surface (SURVEY.md §2.1-2.2), Spark-first.
  *
  * Column-expressible kernels are written as native plans (select / filter /
  * explode / HOFs) so Catalyst optimizes them — the Spark realization of the
  * reference's planned partial-evaluation pass (SURVEY.md §4.2c). Kernels
  * needing recursion / ordered multi-emit / capture semantics run through
  * graft.kernel.Kernel (typed flatMap; still distributed + pipelined, no
  * shuffle).
  */
object Dataflow extends Serializable {

  /** Input record shapes for typed kernels. */
  final case class Ev(event_id: Long, user_id: Long, event_type: String,
                      value: Double, props: String)
  final case class TaggedVal(event_id: Long, tag: String, v: Double)
  final case class CountRow(l_orderkey: Long, l_linenumber: Int, n: Int)
  final case class FactRow(l_orderkey: Long, l_linenumber: Int, fact: Long)
  final case class SupposeRow(event_id: Long, seq: Int, msg: String,
                              v: Option[Double])
  final case class RouteRow(event_id: Long, route: String, info: String)
  final case class KvRow(event_id: Long, k: String, v: String)

  private def evDs(s: SparkSession, d: String) = {
    import s.implicits._
    // Kernel-tier flatMaps are CPU-bound per-row work; a compact parquet
    // corpus arrives as ONE split (single row group), which would
    // single-thread the whole kernel pass — spread iff under-split
    // (identity on well-split inputs; the Spread.forCpu contract).
    graft.operators.Spread.forCpu(
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value", "props").as[Ev])
  }

  /** D1/D3: the kernel as flatMap — 0..n ordered outputs per record
    * (reference: vm.rs:373-405; out: ir.rs:822-826). */
  def d1KernelFlatmap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = Kernel[Ev, TaggedVal] { (e, em) =>
      e.event_type match {
        case "click" =>
          em.out(TaggedVal(e.event_id, "click_value", e.value))
          em.out(TaggedVal(e.event_id, "click_double", e.value * 2))
        case "purchase" =>
          em.out(TaggedVal(e.event_id, "purchase_value", e.value))
        case _ => // filter: no emission (examples/subjunctive.us idiom)
      }
    }
    Kernel.run(evDs(s, d), k).toDF()
  }

  val d1KernelFlatmapSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 'click_value' AS tag, value AS v FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 'click_double' AS tag, value * 2 AS v FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 'purchase_value' AS tag, value AS v FROM events WHERE event_type = 'purchase'
      |) ORDER BY event_id, tag""".stripMargin

  /** D3/F5: recursive countdown kernel (examples/count.us) — emits
    * n, n-1, …, 0 per record; recursion stays in the JVM closure tier. */
  def d3MultiEmitCount(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = graft.operators.Spread.forCpu(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
        .as[(Long, Int)])
    val k = Kernel[(Long, Int), CountRow] { case ((ok, ln), em) =>
      def count(n: Int): Unit = {        // count.us: out n; if n>0 count(n-1)
        em.out(CountRow(ok, ln, n))
        if (n > 0) count(n - 1)
      }
      count(ln)
    }
    Kernel.run(li, k).toDF()
  }

  val d3MultiEmitCountSql: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(unnest(generate_series(0, CAST(l_linenumber AS BIGINT))) AS INT) AS n
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, n""".stripMargin

  /** F1-F5: recursive factorial kernel (examples/fact.us). */
  def dFactKernel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = graft.operators.Spread.forCpu(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber")
        .as[(Long, Int)])
    val k = Kernel[(Long, Int), FactRow] { case ((ok, ln), em) =>
      def fact(n: Long): Long = if (n <= 1) 1 else n * fact(n - 1)
      em.out(FactRow(ok, ln, fact(ln.toLong)))
    }
    Kernel.run(li, k).toDF()
  }

  val dFactKernelSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(factorial(l_linenumber) AS BIGINT) AS fact
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** D6: `for x in list` feeding `out` — column tier: explode keeps it in
    * native codegen (grammar.lalrpop:275-277 → explode). */
  def d6ForExplode(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"),
        explode(split(col("p_name"), " ")).as("word"))

  val d6ForExplodeSql: String =
    """SELECT p_partkey, u.word
      |FROM part, unnest(string_split(p_name, ' ')) u(word)
      |ORDER BY p_partkey, word""".stripMargin

  /** D7: `for (k,v) in map` — kernel builds a record map, iterates entries
    * in declaration order (AList semantics, ir.rs:268-269). */
  def d7ForMap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = Kernel[Ev, KvRow] { (e, em) =>
      val m = Seq(                        // insertion-ordered map entries
        "type" -> e.event_type,
        "bucket" -> (e.user_id % 10).toString)
      for ((key, v) <- m) em.out(KvRow(e.event_id, key, v))
    }
    Kernel.run(evDs(s, d), k).toDF()
  }

  val d7ForMapSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 'type' AS k, event_type AS v FROM events
      |  UNION ALL
      |  SELECT event_id, 'bucket' AS k, CAST(user_id % 10 AS VARCHAR) AS v FROM events
      |) ORDER BY event_id, k""".stripMargin

  /** D8: comprehension `[coll | f]` (README.md:171-177) — column tier:
    * transform/aggregate HOFs, fully codegen-friendly. */
  def d8Comprehension(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        aggregate(transform(split(col("text"), " "), w => length(w)),
          lit(0), (acc, x) => acc + x).as("sum_token_len"))

  val d8ComprehensionSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens,
      |  CAST(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum') AS INT) AS sum_token_len
      |FROM documents ORDER BY doc_id""".stripMargin

  /** D9: `suppose` subjunctive (examples/subjunctive.us, vm.rs:602-638):
    * speculative delegate; if it emitted, branch runs with splice (`...;`),
    * else leaf. seq preserves the intra-record emission order. */
  def d9Suppose(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = Kernel[Ev, SupposeRow] { (e, em) =>
      var seq = 0
      def emit(msg: String, v: Option[Double]): Unit = {
        em.out(SupposeRow(e.event_id, seq, msg, v)); seq += 1
      }
      em.suppose {
        if (e.event_type == "click") em.out(SupposeRow(e.event_id, -1, "Yeah!", Some(e.value)))
      } { captured =>
        emit("She loves you", None)
        captured.foreach(c => emit(c.msg, c.v)) // `...;` splice, re-sequenced
      } {
        emit("Yesterday", None)
      }
    }
    Kernel.run(evDs(s, d), k).toDF()
  }

  val d9SupposeSql: String =
    """SELECT * FROM (
      |  SELECT event_id, 0 AS seq, 'She loves you' AS msg, CAST(NULL AS DOUBLE) AS v
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 1 AS seq, 'Yeah!' AS msg, value AS v
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT event_id, 0 AS seq, 'Yesterday' AS msg, CAST(NULL AS DOUBLE) AS v
      |  FROM events WHERE event_type <> 'click'
      |) ORDER BY event_id, seq""".stripMargin

  /** D11: `throw` + recoverable routing (README.md:337-342): records whose
    * kernel throws UdException are routed to a dead-letter output. */
  def d11ThrowDlq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = Kernel[Ev, RouteRow] { (e, em) =>
      if (e.event_type == "error")
        throw UdException(s"boom:${e.event_type}")
      em.out(RouteRow(e.event_id, "ok", e.event_type))
    }
    Kernel.runEither(evDs(s, d), k,
        (e: Ev, ex: UdException) =>
          Iterator(RouteRow(e.event_id, "dlq", ex.message)))
      .toDF()
  }

  val d11ThrowDlqSql: String =
    """SELECT event_id,
      |  CASE WHEN event_type = 'error' THEN 'dlq' ELSE 'ok' END AS route,
      |  CASE WHEN event_type = 'error' THEN 'boom:error' ELSE event_type END AS info
      |FROM events ORDER BY event_id""".stripMargin

  /** D5: ingest validation (manual.md:48-49) — declared-schema semantic
    * checks with DLQ routing; good rows continue with parsed fields. All
    * driver events are valid (spec exercises the invalid paths). */
  def d5Validation(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ValidatedIngest._
    import org.apache.spark.sql.types._
    val ev = Tables.events(s, d)
    val rules = Seq(
      enumCheck("event_type",
        Seq("click", "view", "purchase", "signup", "error")),
      rangeCheck("value", 0.0, 1000.0),
      jsonParses("props", StructType(Seq(StructField("k", LongType)))))
    val v = validate(ev, rules, Dlq)
    v.good.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
  }

  val d5ValidationSql: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |FROM events
      |WHERE event_type IN ('click','view','purchase','signup','error')
      |  AND value >= 0.0 AND value <= 1000.0
      |  AND json_valid(props)
      |ORDER BY event_id""".stripMargin

  /** P1/P2: Dot field access + Has presence test over the props JSON column
    * (ast.rs:235-236). Note: get_json_object conflates absent and null —
    * the full absent-vs-null story (README.md:220-228) is handled at schema
    * level; here both engines agree on JSON-path semantics. */
  def p1DotHas(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(col("props"), "$.k").isNotNull.as("has_k"),
        get_json_object(col("props"), "$.missing").isNotNull.as("has_missing"))

  val p1DotHasSql: String =
    """SELECT event_id,
      |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
      |  json_extract(props, '$.k') IS NOT NULL AS has_k,
      |  json_extract(props, '$.missing') IS NOT NULL AS has_missing
      |FROM events ORDER BY event_id""".stripMargin

  /** P3: Index — uDLang is 0-based (manual.md:104), element_at is 1-based;
    * udIndex adjusts, OOB yields null in both engines. */
  def p3Index(s: SparkSession, d: String): DataFrame = {
    def udIndex(c: org.apache.spark.sql.Column, i: Int) = element_at(c, i + 1)
    val words = split(col("p_name"), " ")
    Tables.part(s, d)
      .select(col("p_partkey"),
        udIndex(words, 0).as("w0"),
        udIndex(words, 3).as("w3"))
  }

  val p3IndexSql: String =
    """SELECT p_partkey,
      |  list_extract(string_split(p_name, ' '), 1) AS w0,
      |  list_extract(string_split(p_name, ' '), 4) AS w3
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Wire-format round trip: events → msgpack record stream (one file per
    * partition, Hadoop FS API) → declared-schema read-back. The oracle
    * reads the same rows from parquet, so a green row proves the codec
    * preserves every value bit-exactly (int widths, float64, UTF-8). */
  def msgpackRoundtrip(s: SparkSession, d: String): DataFrame = {
    import graft.lang.Ast._
    import graft.sources.{Msgpack, ValidatedIngest}
    val declared = TRecord(Seq(
      TField("event_id", TInt, absentOptional = false),
      TField("user_id", TInt, absentOptional = false),
      TField("event_type", TStr, absentOptional = false),
      TField("value", TFloat, absentOptional = false),
      TField("ts_us", TInt, absentOptional = false)))
    val src = Tables.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), unix_micros(col("ts")).as("ts_us"))
    val dir = "/tmp/graft_msgpack/" + d.replaceAll("[^A-Za-z0-9.]", "_")
    Msgpack.write(src, dir)
    Msgpack.read(s, dir, declared, ValidatedIngest.Abort).good
  }

  val msgpackRoundtripSql: String =
    """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
      |FROM events ORDER BY event_id""".stripMargin

  val entries: Seq[Entry] = Seq(
    Entry("msgpack_roundtrip", msgpackRoundtrip, msgpackRoundtripSql),
    Entry("d1_kernel_flatmap", d1KernelFlatmap, d1KernelFlatmapSql),
    Entry("d3_multi_emit_count", d3MultiEmitCount, d3MultiEmitCountSql),
    Entry("d_fact_kernel", dFactKernel, dFactKernelSql),
    Entry("d6_for_explode", d6ForExplode, d6ForExplodeSql),
    Entry("d7_for_map", d7ForMap, d7ForMapSql),
    Entry("d8_comprehension", d8Comprehension, d8ComprehensionSql),
    Entry("d9_suppose", d9Suppose, d9SupposeSql),
    Entry("d11_throw_dlq", d11ThrowDlq, d11ThrowDlqSql),
    Entry("d5_validation", d5Validation, d5ValidationSql),
    Entry("p1_dot_has", p1DotHas, p1DotHasSql),
    Entry("p3_index", p3Index, p3IndexSql)
  )
}
