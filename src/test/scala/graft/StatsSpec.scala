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
    val rows = run("cohort_lifecycle")
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
    val rows = run("q_sprt_abtest").orderBy("day")
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
      val a = run(name).collect().toSeq.sortBy(_.toString)
      val b = run(name).collect().toSeq.sortBy(_.toString)
      assert(a == b, s"$name unstable across runs")
    }
  }

  test("events_burstiness: statistic in range and exact against a driver-side fold") {
    import spark.implicits._
    val rows = run("events_burstiness")
      .select("event_type", "n_gaps", "sum_gap", "mean_gap", "burstiness")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (_, n, sx, _, b) =>
      assert(n > 0 && sx >= 0)
      assert(b >= -1.0 && b < 1.0)
    }
    // exact replay for one series
    val t0 = rows.head._1
    val secs = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === t0)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("s"),
        col("event_id"))
      .as[(Long, Long)].collect().sortBy(identity).map(_._1)
    val gaps = secs.sliding(2).map(p => p(1) - p(0)).toArray
    val n = gaps.length.toLong
    val sx = gaps.sum
    val rad = (BigInt(n) * gaps.map(g => BigInt(g) * BigInt(g)).sum
      - BigInt(sx) * BigInt(sx)).toDouble
    val want = math.floor((math.sqrt(rad) - sx.toDouble)
      / (math.sqrt(rad) + sx.toDouble) * 1e4) / 1e4
    assert(rows.head._2 == n && rows.head._3 == sx)
    assert(rows.head._5 == want, s"${rows.head._5} vs $want")
  }

  test("late round-8 ledgers: internal invariants hold") {
    import spark.implicits._
    // source overlap: symmetric-free canonical pairs, Jaccard in (0, 1]
    val so = run("dedup_source_overlap")
      .select("source_a", "source_b", "inter", "na", "nb", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(so.length == 20 * 19 / 2, "all source pairs overlap on this corpus")
    so.foreach { case (a, b, inter, na, nb, j) =>
      assert(a < b && inter >= 1 && inter <= math.min(na, nb))
      assert(j > 0.0 && j <= 1.0)
    }
    // co-occurrence: margins bound pair counts
    val cp = run("events_cooccur_pmi")
      .select("type_a", "type_b", "n_ab", "n_a", "n_b", "n_groups")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(cp.length == 5 * 4 / 2)
    cp.foreach { case (_, _, ab, a, b, n) =>
      assert(ab <= math.min(a, b) && math.max(a, b) <= n)
    }
    // skew audit: ratio >= 1 (max cannot be below average), keys <= rows
    val sk = run("q_data_skew_audit")
      .select("n_rows", "n_keys", "max_rows", "skew_ratio")
      .as[(Long, Long, Long, Double)].collect()
    assert(sk.length == 5)
    sk.foreach { case (r, k, m, ratio) =>
      assert(k <= r && m >= r / k && ratio >= 1.0 - 1e-4)
    }
    // lorenz: shares are monotone per nation and the curve is convex-ish
    val lz = run("q_lorenz_curve")
      .select("n_name", "decile", "cust_share", "rev_share")
      .as[(String, Int, Double, Double)].collect()
    lz.groupBy(_._1).foreach { case (n, pts) =>
      val s = pts.sortBy(_._2)
      s.sliding(2).foreach {
        case Array(p, q) =>
          assert(q._3 >= p._3 && q._4 >= p._4, s"$n shares must be monotone")
        case _ => ()
      }
      // Lorenz curve sits below the diagonal (concentration)
      s.foreach { case (_, _, cs, rs) => assert(rs <= cs + 1e-4, s"$n curve above diagonal") }
    }
    // spc: band ordering and flag consistency
    val spc = run("metrics_spc_control")
      .select("day_mean", "center", "ucl", "lcl", "out_of_control")
      .as[(Double, Double, Double, Double, Boolean)].collect()
    spc.foreach { case (dm, c, u, l, f) =>
      assert(l <= c && c <= u)
      // floored columns: only check the unambiguous cases
      if (dm > u + 1e-4 || dm < l - 1e-4) assert(f)
      if (dm < u - 1e-4 && dm > l + 1e-4) assert(!f)
    }
    // counter repair: repaired series is monotone per series
    val cr = run("metrics_counter_repair")
      .select("event_type", "sec", "event_id", "repaired_c")
      .as[(String, Long, Long, Long)].collect()
    cr.groupBy(_._1).foreach { case (t, rows) =>
      val s = rows.sortBy(r => (r._2, r._3))
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._4 >= a._4, s"$t repaired series must be monotone")
        case _ => ()
      }
    }
  }

  test("q_bootstrap_ci: replicate panel is complete and the CI ranks bracket the middle") {
    import spark.implicits._
    val rows = run("q_bootstrap_ci")
      .select("b", "n_eff", "mean_cents", "rank", "is_ci_lo", "is_ci_hi")
      .as[(Int, Long, Double, Int, Boolean, Boolean)].collect()
    val B = graft.operators.Stats.BootB
    assert(rows.length == B)
    assert(rows.map(_._4).sorted.toSeq == (1 to B), "ranks are not a permutation")
    assert(rows.count(_._5) == 1 && rows.count(_._6) == 1)
    val byRank = rows.sortBy(_._4)
    assert(byRank.sliding(2).forall(p => p(0)._3 <= p(1)._3), "means not ascending in rank")
    val lo = rows.find(_._5).get._3; val hi = rows.find(_._6).get._3
    assert(lo <= hi)
    // Poisson(1) replicate sizes concentrate around n
    val n = graft.sources.Tables.orders(spark, sf).count()
    rows.foreach { case (b, nEff, _, _, _, _) =>
      assert(math.abs(nEff - n) < 6 * math.sqrt(n.toDouble) + 10, s"replicate $b size $nEff vs $n")
    }
  }

  test("q_welch_ttest: every type pair once; t sign follows the mean gap; df in Welch bounds") {
    import spark.implicits._
    val rows = run("q_welch_ttest")
      .select("type_a", "type_b", "n_a", "n_b", "mean_a", "mean_b", "t_welch", "df_welch")
      .as[(String, String, Long, Long, Double, Double, Double, Double)].collect()
    val nTypes = graft.sources.Tables.events(spark, sf)
      .select("event_type").distinct().count().toInt
    assert(rows.length == nTypes * (nTypes - 1) / 2)
    rows.foreach { case (a, b, na, nb, ma, mb, t, df) =>
      assert(a < b)
      if (math.abs(ma - mb) > 1e-3)
        assert(math.signum(t) == math.signum(ma - mb), s"($a,$b) t sign")
      assert(df >= math.min(na, nb) - 1 - 1e-9, s"($a,$b) df below min(n)-1")
      assert(df <= na + nb - 2 + 1e-9, s"($a,$b) df above pooled")
    }
  }

  test("q_abc_classification: classes partition parts and shares stack to one") {
    import spark.implicits._
    val rows = run("q_abc_classification")
      .select("cls", "n_parts", "class_cents", "revenue_share")
      .as[(String, Long, Long, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("A", "B", "C"))
    val nParts = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.map(_._2).sum == nParts, "classes don't partition the parts")
    val shares = rows.map(r => r._1 -> r._4).toMap
    assert(shares("A") <= 0.80 + 1e-9, "class A exceeds its cumulative budget")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 2e-3, "shares don't stack to ~1")
    // Pareto shape: A holds most revenue with fewest big parts per dollar
    val byCls = rows.map(r => r._1 -> r).toMap
    assert(byCls("A")._3 > byCls("C")._3, "A class should dominate revenue")
  }
}
