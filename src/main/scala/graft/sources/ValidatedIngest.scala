package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingest validation — the uDLang `input` declaration enforced at the
  * source (manual.md:45-49; README.md:298-302 --reject/--ignore/--warn).
  *
  * Schema-on-read does the structural part (declared schema = no
  * inference); this operator adds the semantic part — malformed payloads
  * and constraint violations — with the reference's modes:
  *
  *  - Abort (default): any invalid record fails the job (raise_error).
  *  - Skip: silently drop invalid records.
  *  - Dlq:  route invalid records to a dead-letter DataFrame with a reason.
  *
  * ("warn" is Dlq with the bad side logged/observed — at scale a
  * per-executor stderr warn is useless; a counted DLQ is the operational
  * equivalent.)
  *
  * At scale this is a narrow map + filter — no shuffle. In Dlq mode the
  * good/bad split is two filters over the tagged frame, so the reason
  * expression evaluates once per consumed side (cache the tagged frame if
  * both sides feed long pipelines); Catalyst pushes the validity filter
  * into the scan where the predicate allows.
  */
object ValidatedIngest {

  sealed trait Mode
  case object Abort extends Mode
  case object Skip extends Mode
  case object Dlq extends Mode

  final case class Validated(good: DataFrame, bad: DataFrame)

  /** Null when valid, else a reason string. Compose with `and`. */
  type Rule = DataFrame => Column

  /** JSON payload column must be valid JSON (from_json under PERMISSIVE
    * yields a null-fielded struct for garbage, so the probe is
    * get_json_object(payload, '$'): null exactly when unparseable; a null
    * payload is also malformed). Schema field types are enforced by the
    * downstream from_json(schema) projection. */
  def jsonParses(payload: String, schema: StructType): Rule = _ =>
    when(get_json_object(col(payload), "$").isNull,
      lit(s"malformed_json:$payload"))

  /** Column value must be one of the allowed literals (the string-literal
    * union ValueType story, README.md:218). */
  def enumCheck(c: String, allowed: Seq[String]): Rule = _ =>
    when(!col(c).isInCollection(allowed), concat(lit(s"bad_enum:$c="), col(c)))

  def rangeCheck(c: String, lo: Double, hi: Double): Rule = _ =>
    when(col(c) < lo || col(c) > hi, concat(lit(s"out_of_range:$c="), col(c)))

  /** Apply rules under the given mode. First failing rule wins the reason.
    */
  def validate(df: DataFrame, rules: Seq[Rule], mode: Mode): Validated = {
    val reason = rules.map(_(df)).reduce((a, b) => coalesce(a, b))
    routeTagged(df.withColumn("_invalid_reason", reason), mode)
  }

  /** Route a frame that already carries `_invalid_reason` (null = valid)
    * by mode — shared by rule-based validation and sources that compute
    * the reason during decode (JsonRecords, Msgpack). */
  def routeTagged(tagged: DataFrame, mode: Mode): Validated = mode match {
    case Abort =>
      // pinned: a downstream filter (a script's `if`) pushed below the
      // check would drop an invalid record before it could abort the run
      val good = tagged
        .withColumn("_check", graft.plans.Materialized.once(
          when(col("_invalid_reason").isNotNull,
            raise_error(col("_invalid_reason"))).otherwise(lit(true))))
        .filter(col("_check"))
        .drop("_invalid_reason", "_check")
      Validated(good, tagged.sparkSession.emptyDataFrame)
    case Skip =>
      Validated(tagged.filter(col("_invalid_reason").isNull)
        .drop("_invalid_reason"), tagged.sparkSession.emptyDataFrame)
    case Dlq =>
      Validated(
        tagged.filter(col("_invalid_reason").isNull)
          .drop("_invalid_reason"),
        tagged.filter(col("_invalid_reason").isNotNull))
  }
}
