package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}

/** Smoke + shape checks for every SparkEntry entry at sf0.001: runs,
  * non-degenerate, and column names match the oracle SQL contract
  * (the oracle compare hashes by sorted column name). Results are multisets:
  * no entry ends in a global presentation sort (SURVEY §4) — order is
  * kept only under a `Limit` (top-k) or inside an ordered payload. */
class EntriesSpec extends SparkTestBase {

  // entries allowed to be empty at this tiny SF. The SAX and Theil–Sen
  // reads symbolize only FULL-coverage days (all 24 hours observed) —
  // at sf0.001 (~6 samples per series-day) no such day exists, by
  // design rather than degeneracy; both emit 34+ rows at the sf0.01
  // gate scale.
  private val mayBeEmpty = Set("dedup_simhash", "metrics_sax_motifs", "metrics_theil_sen")

  private def rootSort(p: LogicalPlan): Option[Sort] = p match {
    case Project(_, child) => rootSort(child)
    case s: Sort if s.global => Some(s)
    case _ => None
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      val sorted = rootSort(df.queryExecution.optimizedPlan)
      assert(sorted.isEmpty,
        s"$name ends in a global sort (${sorted.map(_.order.map(_.sql).mkString(", ")).getOrElse("")})")
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no oracle SQL is null (val declaration-order guard)") {
    val nulls = SparkEntry.oracleSql.collect { case (n, sql) if sql == null => n }
    assert(nulls.isEmpty,
      s"null oracle SQL (entries declared before their *Sql val?): $nulls")
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
