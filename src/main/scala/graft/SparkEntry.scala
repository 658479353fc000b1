package graft

import graft.queries.Entry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Query packs live under graft.queries.*; each declares its `entries`
  * (name, plan, oracle SQL) once, and this object only aggregates them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every pack's entries; names are unique across packs (RegistrySpec). */
  lazy val entries: Seq[Entry] = Seq(
    graft.queries.Relational.entries,
    graft.queries.Dataflow.entries,
    graft.queries.Scalars.entries,
    graft.queries.LlmPipeline.entries,
    graft.queries.CorpusBuild.entries,
    graft.queries.Profile.entries,
    graft.queries.Sketches.entries,
    graft.queries.Layout.entries,
    graft.queries.UdLang.entries).flatten

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.build).toMap

  /** Queries that exist as EXACTNESS BASELINES (deliberately quadratic
    * oracle twins of a bucketed scale path), not as production plans.
    * They stay in `queries` so correctness keeps pinning the scale paths
    * against them, but Bench reports them separately so the headline total
    * reflects only plans that survive a 100x scale-up.
    *   embed_neardup — O(n²) cosine cross-join; scale path = ann_lsh. */
  val baselineOnly: Set[String] = Set("embed_neardup")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    entries.map(e => e.name -> e.oracleSql).toMap
}
