package graft

import org.apache.spark.sql.functions._
import graft.operators.Stats

class StatsSpec extends SparkTestBase {

  test("gini: bounded, conserves customer mass, and never sorts the fact table") {
    val df = Stats.giniRevenue(spark, sf).cache()
    import spark.implicits._
    val rows = df.select("n_name", "n_cust", "total_cents", "gini")
      .as[(String, Long, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 25)
    // Gini is a proper concentration index
    rows.foreach { case (n, _, tot, g) =>
      assert(g >= 0.0 && g < 1.0, s"$n gini=$g out of range")
      assert(tot > 0)
    }
    // customers-with-orders are partitioned exactly across nations
    val custWithOrders = graft.sources.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_._2).sum == custWithOrders)
    // the rank window runs over the aggregated customer table, not orders:
    // the plan's window sits above the o_custkey aggregation
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Window"), "per-nation rank window expected")
    df.unpersist()
  }

  test("mann-kendall: pair count is the exact day-spine quadratic, |S| bounded") {
    val df = Stats.mannKendall(spark, sf).cache()
    import spark.implicits._
    val rows = df.select("event_type", "n_days", "n_pairs", "s_stat", "var18", "trend")
      .as[(String, Long, Long, Long, Long, String)].collect()
    assert(rows.length == 5)
    rows.foreach { case (t, n, p, s, v, tr) =>
      assert(p == n * (n - 1) / 2, s"$t pair count")
      assert(math.abs(s) <= p, s"$t S out of bounds")
      assert(v == n * (n - 1) * (2 * n + 5), s"$t variance numerator")
      assert((s > 0 && tr == "increasing") || (s < 0 && tr == "decreasing")
        || (s == 0 && tr == "flat"))
    }
    df.unpersist()
  }

  test("runs test: signs partition observations, run count bounded by observations") {
    val df = Stats.runsTest(spark, sf).cache()
    import spark.implicits._
    val rows = df.select("event_type", "n_obs", "n_pos", "n_neg", "n_runs", "expected_runs")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, n, p, m, r, e) =>
      assert(p + m == n, s"$t sign counts must partition the non-tie deltas")
      assert(r >= 1 && r <= n, s"$t run count out of [1, n]")
      assert(e >= 1.0 && e <= n + 1.0, s"$t expected runs out of range")
    }
    df.unpersist()
  }

  test("waterfall bridge: decomposition sums exactly to the revenue delta") {
    val df = Stats.waterfallBridge(spark, sf).cache()
    import spark.implicits._
    val rows = df
      .select("o_orderpriority", "n_a", "n_b", "cents_a", "cents_b", "delta_cents",
        "volume_effect", "price_effect")
      .as[(String, Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (pr, na, nb, ca, cb, d, ve, pe) =>
      assert(d == cb - ca)
      assert(ve + pe == d.toDouble, s"$pr bridge must reconstruct delta exactly")
      assert(na > 0 && nb > 0)
    }
    // conservation vs a direct filter
    val direct = graft.sources.Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1995)
      .agg(sum(floor(col("o_totalprice") * 100).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_._4).sum == direct)
    df.unpersist()
  }

  test("ks test: matches a single-node reference computation exactly") {
    import spark.implicits._
    val (na, nb, d, scaled) = Stats.ksTest(spark, sf)
      .as[(Long, Long, Double, Double)].collect().head
    // single-node reference: sort the two arms, walk the merged CDF
    val o = graft.sources.Tables.orders(spark, sf)
      .select(year(col("o_orderdate")).as("yr"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      .filter(col("yr").isin(1995, 1996))
      .as[(Int, Long)].collect()
    val a = o.filter(_._1 == 1995).map(_._2).sorted
    val b = o.filter(_._1 == 1996).map(_._2).sorted
    assert(na == a.length && nb == b.length)
    val values = (a ++ b).distinct.sorted
    val dRef = values.map { v =>
      val ca = a.count(_ <= v).toLong
      val cb = b.count(_ <= v).toLong
      math.abs(ca * nb - cb * na)
    }.max
    assert(d == math.floor(dRef.toDouble / (na.toDouble * nb) * 1e4) / 1e4)
    assert(scaled >= d && scaled < d * math.sqrt(math.min(na, nb).toDouble) + 1)
  }

  test("regression trend: slope/r2 agree with a per-nation single-node OLS") {
    import spark.implicits._
    val rows = Stats.regressionTrend(spark, sf)
      .select("n_name", "n_days", "slope", "intercept", "r2", "trend")
      .as[(String, Long, Double, Double, Double, String)].collect()
    assert(rows.nonEmpty && rows.length <= 25)
    rows.foreach { case (n, nd, _, _, r2, tr) =>
      assert(nd >= 2, s"$n needs >=2 days")
      assert(r2 >= -1e-4 && r2 <= 1.0, s"$n r2=$r2")
      assert(Set("up", "down", "flat")(tr))
    }
    // reference OLS for one nation
    val daily = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .join(graft.sources.Tables.nation(spark, sf),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === rows.head._1)
      .select(expr("cast(unix_timestamp(date_trunc('second', o_orderdate)) div 86400 as bigint)").as("x"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      .groupBy("x").agg(sum("c").as("y"))
      .as[(Long, Long)].collect()
    val n = daily.length.toDouble
    val sx = daily.map(_._1).sum.toDouble; val sy = daily.map(_._2).sum.toDouble
    val sxy = daily.map(p => BigInt(p._1) * BigInt(p._2)).sum
    val sxx = daily.map(p => BigInt(p._1) * BigInt(p._1)).sum
    val slopeRef = (n * sxy.toDouble - sx * sy) / (n * sxx.toDouble - sx * sx)
    assert(math.abs(rows.head._3 - slopeRef) < 1e-2,
      s"slope ${rows.head._3} vs ref $slopeRef")
  }

  test("mutual info: margins and cells are consistent, pmi signs make sense") {
    import spark.implicits._
    val rows = Stats.mutualInfo(spark, sf)
      .select("event_type", "dow", "n_ij", "n_i", "n_j", "n_total", "pmi", "mi_part")
      .as[(String, Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.length <= 5 * 7)
    val total = rows.head._6
    assert(rows.map(_._3).sum == total, "cells partition the corpus")
    // per-type margin consistency
    rows.groupBy(_._1).foreach { case (_, g) =>
      assert(g.map(_._3).sum == g.head._4)
    }
    rows.foreach { case (_, _, nij, ni, nj, nt, pmi, _) =>
      val ref = math.log(nij.toDouble * nt / (ni.toDouble * nj))
      assert(math.abs(pmi - ref) < 2e-6, s"pmi $pmi vs $ref")
    }
  }

  test("cohort_lifecycle: states partition actives, ledger balances week over week") {
    import spark.implicits._
    val rows = SparkEntry.queries("cohort_lifecycle")(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, act, nw, ret, res, _) =>
      assert(act == nw + ret + res, "states must partition actives")
    }
    rows.sliding(2).foreach {
      case Array(p, c) =>
        // churned(w) = active(w-1) - retained(w) only when weeks are adjacent
        if (c._1 == p._1 + 1) assert(c._6 == p._2 - c._4)
        assert(c._6 >= 0, "churn cannot be negative")
      case _ => ()
    }
    // every user is new exactly once
    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_._3).sum == users)
  }

  test("sprt: cumulative counts are exact, llr replays from the embedded constants") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_sprt_abtest")(spark, sf).orderBy("day")
      .as[(Long, Long, Long, Double, String)].collect()
    assert(rows.nonEmpty)
    // cumulative counts are monotone and end at the corpus totals
    assert(rows.sliding(2).forall { case Array(a, b) => b._2 > a._2 && b._3 >= a._3
    case _ => true })
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(rows.last._2 == total)
    rows.foreach { case (_, n, k, llr, v) =>
      val want = math.floor((k.toDouble * Stats.SprtL1
        + (n - k).toDouble * Stats.SprtL0) * 1e6) / 1e6
      assert(llr == want, s"llr $llr vs $want")
      val expectV = if (llr >= Stats.SprtUpB) "accept_h1"
        else if (llr <= Stats.SprtLowA) "accept_h0" else "continue"
      assert(v == expectV)
    }
  }

  test("stats entries are deterministic under repartitioning") {
    for (name <- Seq("q_gini_revenue", "q_mann_kendall", "q_runs_test", "q_waterfall_bridge",
        "q_ks_test", "q_regression_trend", "q_mutual_info", "cohort_lifecycle")) {
      val a = SparkEntry.queries(name)(spark, sf).collect().toSeq.sortBy(_.toString)
      val b = SparkEntry.queries(name)(spark, sf).collect().toSeq.sortBy(_.toString)
      assert(a == b, s"$name unstable across runs")
    }
  }
}
