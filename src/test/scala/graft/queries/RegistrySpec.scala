package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Registry invariants that Verify, Bench and DumpOracle rely on. Every entry
  * carries its oracle by construction (`Entry.oracleSql` is required). */
class RegistrySpec extends AnyFunSuite {

  test("entry names are unique across packs and number exactly 247") {
    val names = SparkEntry.entries.map(_.name)
    val dups = names.diff(names.distinct)
    assert(dups.isEmpty, s"entry names declared twice: $dups")
    assert(names.size == 247)
  }

  test("baselineOnly names exist and stay the deliberate exactness " +
    "baselines") {
    assert(SparkEntry.baselineOnly.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.baselineOnly == Set("embed_neardup"))
  }

  test("oracle SQL strings are non-empty and DuckDB-shaped (no Spark-" +
    "only function names that a paste error could leave behind)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // Spark-only identifiers that have bitten before in hand-written
      // oracle SQL; DuckDB equivalents exist for each
      Seq("posexplode", "array_sort(", "collect_list", "xxhash64",
          "monotonically_increasing_id").foreach { fn =>
        assert(!sql.contains(fn),
          s"$name: oracle SQL contains Spark-only '$fn'")
      }
    }
  }
}
