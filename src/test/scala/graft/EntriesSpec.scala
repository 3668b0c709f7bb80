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

  SparkEntry.queries.foreach { case entry @ (name, _) =>
    test(s"$name runs at sf0.001") {
      val (columns, sorted, n) = SparkEntry.run(spark, sf, entry) { df =>
        (df.columns, rootSort(df.queryExecution.optimizedPlan), df.count())
      }.get
      assert(columns.nonEmpty)
      assert(sorted.isEmpty,
        s"$name ends in a global sort (${sorted.map(_.order.map(_.sql).mkString(", ")).getOrElse("")})")
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

  test("pick: no names is every entry, in name order; names come back sorted") {
    assert(SparkEntry.pick(Nil).map(_._1) == SparkEntry.queries.keys.toSeq.sorted)
    assert(SparkEntry.pick(Seq("q6_forecast_revenue", "q1_pricing_summary")).map(_._1) ==
      Seq("q1_pricing_summary", "q6_forecast_revenue"))
  }

  test("pick: an unknown name fails and the error lists every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.pick(Seq("q1", "q1_pricing_summary", "no_such_entry", "q1")))
    assert(e.getMessage.contains("unknown entries: no_such_entry, q1"), e.getMessage)
    assert(!e.getMessage.contains("q1_pricing_summary"), e.getMessage)
  }

  test("run: an entry that cuts and then throws is a failure, and its cuts are released") {
    val boom: SparkEntry.Query = (s, _) => {
      Checkpoints.cut(s.range(0, 100, 1, 2).toDF("id"))
      assert(Checkpoints.liveCutCount == 1)
      throw new IllegalStateException("boom")
    }
    val o = SparkEntry.run(spark, sf, "boom" -> boom)(_.count())
    assert(o.failed && o.name == "boom")
    assert(o.result.left.exists(e => e.isInstanceOf[IllegalStateException] && e.getMessage == "boom"))
    assert(intercept[IllegalStateException](o.get).getMessage == "boom")
    assert(Checkpoints.liveCutCount == 0)
  }

  test("run: the reported seconds exclude the release") {
    // the release's unpersist waits for a task that holds a read lock on
    // the entry's cut block; the action returns while that task sleeps
    val started = new java.util.concurrent.CountDownLatch(1)
    EntriesSpec.started = started
    val hold = 2000L
    val entry: SparkEntry.Query = (s, _) => Checkpoints.cut(s.range(0, 10, 1, 1).toDF("id"))
    val t0 = System.nanoTime()
    val o = SparkEntry.run(spark, sf, "held" -> entry) { df =>
      val rdd = df.queryExecution.toRdd.mapPartitions { it =>
        EntriesSpec.started.countDown(); Thread.sleep(hold); it
      }
      val job = new Thread(() => { rdd.count(); () })
      job.start()
      assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS))
      job
    }
    val wall = (System.nanoTime() - t0) / 1e9
    o.get.join()
    assert(Checkpoints.liveCutCount == 0)
    assert(wall - o.seconds >= hold / 1e3 / 2,
      s"release not excluded: ${o.seconds} s reported, $wall s around the run")
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}

object EntriesSpec {
  /** reached from a local-mode task, which runs in this JVM */
  @volatile var started: java.util.concurrent.CountDownLatch = null
}
