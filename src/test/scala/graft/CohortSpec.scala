package graft

import org.apache.spark.sql.functions._
import graft.operators.{Cohort, Quality}

class CohortSpec extends SparkTestBase {

  test("cohort matrix: offset 0 holds the full cohort; no cell exceeds it") {
    val df = Cohort.cohortRetention(spark, sf).cache()
    assert(df.filter(col("month_offset") < 0).count() == 0)
    val base = df.filter(col("month_offset") === 0)
      .select(col("cohort_m"), col("n_active").as("cohort_size"))
    // every cohort has an offset-0 cell (its birth month)
    assert(base.count() == df.select("cohort_m").distinct().count())
    val over = df.join(base, Seq("cohort_m"))
      .filter(col("n_active") > col("cohort_size"))
    assert(over.count() == 0, "no month can retain more customers than the cohort has")
    df.unpersist()
  }

  test("counting quantiles equal the sort-based nearest-rank result") {
    import org.apache.spark.sql.expressions.Window
    val df = Cohort.fulfillmentLag(spark, sf).cache()
    assert(df.filter(col("p50_days") > col("p90_days") || col("p90_days") > col("max_days")).count() == 0)
    // the counting formulation must pick the exact same element as a
    // per-group sort + index selection
    val lags = graft.sources.Tables.lineitem(spark, sf)
      .join(graft.sources.Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
    val w = Window.partitionBy("priority").orderBy("lag_days")
    val sorted = lags
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("priority")))
      .groupBy("priority")
      .agg(min(when(col("rn") === floor(lit(0.5) * (col("n") - 1)) + 1, col("lag_days"))).as("s50"),
        min(when(col("rn") === floor(lit(0.9) * (col("n") - 1)) + 1, col("lag_days"))).as("s90"))
    val diff = df.join(sorted, Seq("priority"))
      .filter(col("p50_days") =!= col("s50") || col("p90_days") =!= col("s90"))
    assert(diff.count() == 0, "counting and sorting must select the same stored element")
    df.unpersist()
  }

  test("decimal money: exact fixed-point totals agree with the double estimate to the cent") {
    val rows = Quality.decimalMoney(spark, sf).collect()
    assert(rows.length == 6)
    val approx = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(round(col("l_extendedprice"), 2) * round(lit(1) - col("l_discount"), 2)).as("a"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val exact = BigDecimal(r.getString(2))
      val est = approx((r.getString(0), r.getString(1)))
      assert((exact - est).abs < 0.01, s"decimal $exact vs double $est")
    }
  }

  test("cohort LTV is cumulative: nondecreasing per cohort and offset-0 equals its cell") {
    import org.apache.spark.sql.expressions.Window
    val df = graft.operators.Cohort.cohortLtv(spark, sf).cache()
    val w = Window.partitionBy(col("cohort_m")).orderBy(col("month_offset"))
    val broken = df.withColumn("prev", lag(col("cum_ltv"), 1).over(w))
      .filter(col("prev").isNotNull && col("cum_ltv") < col("prev") - 0.01)
    assert(broken.count() == 0, "revenue is positive, LTV must not decrease")
    assert(df.filter(col("month_offset") === 0)
      .filter(org.apache.spark.sql.functions.abs(col("cum_ltv") - col("rev")) > 0.01)
      .count() == 0)
    df.unpersist()
  }

  test("streaks: longest streak bounded by active days; islands partition them") {
    import org.apache.spark.sql.expressions.Window
    val df = graft.operators.Cohort.userStreaks(spark, sf).cache()
    val active = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n_days"))
    val broken = df.join(active, Seq("user_id"))
      .filter(col("longest_streak") > col("n_days"))
    assert(broken.count() == 0)
    assert(df.count() == active.count(), "every active user has a streak row")
    df.unpersist()
  }

  test("cumulative users: monotone and ends at total distinct users") {
    val df = graft.operators.Cohort.cumulativeUsers(spark, sf).collect()
    assert(df.map(_.getLong(2)).sliding(2).forall {
      case Array(a, b) => a <= b
      case _ => true
    })
    val total = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(df.last.getLong(2) == total)
  }

  test("abtest: arms partition the users; rates consistent with counts") {
    val r = graft.operators.Cohort.abTest(spark, sf).collect()(0)
    val users = graft.sources.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(2) == users, "arms must partition users")
    assert(r.getLong(1) <= r.getLong(0) && r.getLong(3) <= r.getLong(2))
    assert(r.getDouble(4) >= 0 && r.getDouble(4) <= 1)
    assert(r.getDouble(5) >= 0 && r.getDouble(5) <= 1)
  }

  test("snapshot diff: statuses are consistent with the cutoff") {
    val df = graft.operators.Reshape.snapshotDiff(spark, sf).cache()
    // no user can be 'added': anyone active late is... only if absent before day 15
    assert(df.filter(col("status") === "added" && col("event_1").isNotNull).count() == 0)
    assert(df.filter(col("status") === "unchanged" &&
      col("event_1") =!= col("event_2")).count() == 0)
    val total = graft.sources.Tables.events(spark, sf).select("user_id").distinct().count()
    assert(df.count() == total)
    df.unpersist()
  }

  test("skyline: no returned point dominates another; all are mutually incomparable") {
    val pts = graft.operators.Reshape.skyline2d(spark, sf)
      .collect().map(r => (r.getDouble(0), r.getInt(1)))
    assert(pts.nonEmpty)
    pts.foreach { a => pts.foreach { b =>
      if (a != b) assert(!(b._1 <= a._1 && b._2 <= a._2 && (b._1 < a._1 || b._2 < a._2)),
        s"$b dominates $a — not a Pareto front")
    }}
  }
  test("heatmap grid: cells partition the events, coordinates in range") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Reshape.heatmapGrid(spark, sf).cache()
    assert(df.agg(sum("n_events")).head.getLong(0) ==
      graft.sources.Tables.events(spark, sf).count())
    assert(df.filter(col("dow") < 0 || col("dow") > 6
      || col("hour") < 0 || col("hour") > 23).count() == 0)
    df.unpersist()
  }

  test("K-M survival: monotone non-increasing, at-risk starts at the population") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Cohort.survivalKm(spark, sf).cache()
    val rows = df.orderBy(col("t_days")).collect()
    assert(rows.nonEmpty)
    val s0 = rows.map(_.getDouble(4))
    assert(s0.zip(s0.tail).forall { case (a, b) => a >= b - 1e-12 }, "survival never rises")
    assert(s0.forall(v => v >= 0 && v <= 1))
    assert(rows.head.getLong(1) ==
      graft.sources.Tables.events(spark, sf).select("user_id").distinct().count())
    df.unpersist()
  }

  test("q_mode_per_group: the mode really is the argmax of the value histogram") {
    val rows = run("q_mode_per_group").collect()
    assert(rows.length == 3)
    val li = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"), col("l_quantity")).count().collect()
      .groupBy(_.getString(0))
    rows.foreach { r =>
      val maxN = li(r.getString(0)).map(_.getLong(2)).max
      assert(r.getLong(2) == maxN, s"${r.getString(0)}: ${r.getLong(2)} != $maxN")
    }
  }

  test("q_hierarchy_rollup: root conserves the corpus; every subtree bounds its own part") {
    import spark.implicits._
    val rows = run("q_hierarchy_rollup")
      .select("node", "depth", "n_desc", "subtree_cents", "own_cents")
      .as[(Long, Int, Long, Long, Long)].collect()
    val parts = graft.sources.Tables.part(spark, sf)
      .select(floor(col("p_retailprice") * 100).cast("long").as("c"))
      .agg(sum("c"), count(lit(1))).as[(Long, Long)].collect().head
    val root = rows.find(_._1 == 0L).get
    assert(root._4 == parts._1, "root subtree != corpus total")
    assert(root._3 == parts._2, "root descendant count != part count")
    val byNode = rows.map(r => r._1 -> r).toMap
    rows.filter(_._1 > 0).foreach { r =>
      val parent = byNode(r._1 / 10)
      assert(parent._4 >= r._4, s"parent of ${r._1} smaller subtree")
      assert(parent._3 >= r._3, s"parent of ${r._1} fewer descendants")
      assert(r._4 >= r._5, s"node ${r._1} subtree below own value")
    }
  }

  test("cohort_ndr: retained revenue comes only from the prior month's users") {
    import spark.implicits._
    val rows = run("cohort_ndr")
      .select("month", "n_users", "rev_cents", "retained_cents", "n_retained", "ndr")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (m, nu, rev, ret, nr, ndr) =>
      assert(nu > 0 && rev > 0)
      assert(nr <= nu, s"month $m retained more users than it had")
      assert(ndr >= 0)
      assert(math.abs(ndr - math.floor(ret.toDouble / rev * 1e4) / 1e4) < 1e-12)
    }
    // cross-check one month's retained revenue against a direct recompute
    val monthly = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)")
          .as("month"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      .as[(Long, Long, Long)].collect()
    val m0 = rows.head._1
    val users0 = monthly.filter(_._2 == m0).map(_._1).toSet
    val want = monthly.filter(r => r._2 == m0 + 1 && users0(r._1)).map(_._3).sum
    assert(rows.head._4 == want, "retained revenue mismatch vs direct recompute")
  }

  test("q_semi_additive: month-end balance uses each account's last sample only") {
    import spark.implicits._
    val rows = run("q_semi_additive")
      .select("month", "n_accounts", "eom_balance_cents", "naive_sum_cents",
        "additive_overcount")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, na, eom, naive, over) =>
      assert(na > 0 && eom > 0)
      assert(naive >= eom, s"month $m naive sum below last-sample sum")
      assert(over >= 1.0, s"month $m overcount ratio below 1")
    }
    // direct recompute of one month's end-of-month balance
    val base = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)").as("month"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val m0 = rows.head._1
    val want = base.filter(_._2 == m0).groupBy(_._1).values
      .map(_.maxBy(r => (r._3, r._4))._5).sum
    assert(rows.head._3 == want, "eom balance mismatch vs direct recompute")
  }

  test("q_winsorized_mean: bounds ordered, winsorized mean clamped inside them") {
    import spark.implicits._
    val rows = run("q_winsorized_mean")
      .select("l_returnflag", "n", "p05_cents", "p95_cents", "mean_cents", "winsor_mean_cents")
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (f, n, lo, hi, _, wm) =>
      assert(n > 0)
      assert(lo <= hi, s"$f bounds out of order")
      assert(wm >= lo - 1e-9 && wm <= hi + 1e-9, s"$f winsorized mean outside clamp range")
    }
  }
}
