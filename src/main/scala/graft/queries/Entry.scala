package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the plan it builds from a session and
  * an sf directory, and the ANSI SQL that DuckDB runs over the same
  * parquet tables as its oracle. The oracle is a required field, so no
  * entry ships without one. */
final case class Entry(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracleSql: String)
