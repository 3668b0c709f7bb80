package graft

import org.apache.spark.sql.functions._
import graft.operators.Timeseries

/** Semantic invariants for the time-series family (oracle parity is
  * the driver's gate; these check the properties the oracle can't). */
class TimeseriesSpec extends SparkTestBase {

  test("counter_rate: increases are non-negative and cover every (series, day)") {
    val df = Timeseries.counterRate(spark, sf).cache()
    assert(df.filter(col("increase") < 0 || col("rate_per_sec") < 0).count() == 0)
    val perSeries = df.groupBy("event_type").count().collect()
    assert(perSeries.nonEmpty && perSeries.forall(_.getLong(1) >= 28),
      "each series should have ~30 daily buckets")
    df.unpersist()
  }

  test("gap_fill: spine is dense per series and forward-fill leaves no holes after first sample") {
    val df = Timeseries.gapFill(spark, sf).cache()
    val spineSizes = df.groupBy("event_type").count().collect().map(_.getLong(1)).distinct
    assert(spineSizes.length == 1, s"all series share one dense spine: ${spineSizes.toSeq}")
    // once a series has a value, every later hour has one (forward fill)
    val holes = df
      .withColumn("seen", max(when(col("value").isNotNull, 1).otherwise(0))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("hour_sec")
          .rowsBetween(Long.MinValue, 0)))
      .filter(col("seen") === 1 && col("value").isNull)
    assert(holes.count() == 0)
    df.unpersist()
  }

  test("quantile_over_time: p95 is a stored frame element bounded by the frame max") {
    val df = Timeseries.quantileOverTime(spark, sf)
    val bad = df
      .withColumn("mx", max(col("avg_value")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("hour_sec").rowsBetween(-23, 0)))
      .filter(col("p95_24h") > col("mx") || col("p95_24h").isNull)
    assert(bad.count() == 0)
  }

  test("scd2: exactly one open interval per user, intervals stitch contiguously") {
    val df = Timeseries.scd2Dimension(spark, sf).cache()
    val open = df.filter(col("is_current")).groupBy("user_id").count()
      .filter(col("count") =!= 1)
    assert(open.count() == 0, "each user has exactly one current row")
    // valid_to of version v equals valid_from of version v+1
    val stitched = df.alias("a").join(df.alias("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.version") + 1 === col("b.version"))
      .filter(col("a.valid_to") =!= col("b.valid_from"))
    assert(stitched.count() == 0, "intervals must be contiguous")
    // consecutive versions never carry the same attribute value
    val dupes = df.alias("a").join(df.alias("b"),
      col("a.user_id") === col("b.user_id") &&
        col("a.version") + 1 === col("b.version"))
      .filter(col("a.attr_value") === col("b.attr_value"))
    assert(dupes.count() == 0, "adjacent versions differ in attr_value")
    df.unpersist()
  }

  test("irate: one row per observed (series, hour), non-negative, null only before the second sample") {
    val raw = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .count()
    val df = Timeseries.irate(spark, sf).cache()
    assert(df.count() == raw.count(), "exactly one irate row per observed series-hour")
    assert(df.filter(col("irate_per_sec") < 0).count() == 0,
      "reset rule keeps instantaneous rates non-negative")
    // a null rate means the hour's last sample had no predecessor (or a
    // zero-second gap): only possible in the series' first hour
    val firstHours = df.groupBy("event_type").agg(min("hour_sec").as("h0"))
    val badNulls = df.filter(col("irate_per_sec").isNull)
      .join(firstHours, Seq("event_type"))
      .filter(col("hour_sec") =!= col("h0"))
    assert(badNulls.count() == 0)
    df.unpersist()
  }

  test("predict_linear: defined exactly from the 12th point on; constant series predict themselves") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_sec")
    val df = Timeseries.predictLinear(spark, sf)
      .withColumn("rn", row_number().over(w)).cache()
    // the frame counts rows, so the >=12-points guard is rank >= 12
    assert(df.filter(col("rn") >= 12 && col("predicted_24h").isNull).count() == 0)
    assert(df.filter(col("rn") < 12 && col("predicted_24h").isNotNull).count() == 0)
    // a flat trailing frame must extrapolate flat: where the frame min
    // equals the frame max, prediction == that value (exact integers)
    val wf = w.rowsBetween(-23, 0)
    val flat = df
      .withColumn("lo", min(col("avg_value")).over(wf))
      .withColumn("hi", max(col("avg_value")).over(wf))
      .filter(col("rn") >= 12 && col("lo") === col("hi"))
    assert(flat.filter(col("predicted_24h") =!= col("avg_value")).count() == 0)
    df.unpersist()
  }

  test("smooth_ewma: seeded with the first point, always inside the running envelope") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_sec")
      .rowsBetween(Long.MinValue, 0)
    val df = Timeseries.smoothEwma(spark, sf)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("hour_sec")))
      .withColumn("lo", min("avg_value").over(w))
      .withColumn("hi", max("avg_value").over(w))
      .cache()
    assert(df.filter(col("rn") === 1 && col("smoothed") =!= col("avg_value")).count() == 0,
      "the fold seeds with the first observation")
    // a convex combination of observed values can never leave their envelope
    // (smoothed is floor-truncated, so allow the 1e-4 grid step at the low end)
    assert(df.filter(col("smoothed") > col("hi") || col("smoothed") < col("lo") - 1e-4).count() == 0)
    df.unpersist()
  }

  test("tsdb_end_to_end: the series exchange is planned once and reused by window, fold, and digest") {
    val df = Timeseries.tsdbEndToEnd(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 2, s"rollup + series key only, got $shuffles:\n$plan")
    val rows = df.collect()
    assert(rows.length == 5 && rows.forall(r => r.getLong(1) > 0))
    // anomaly count is bounded by observed hours; level is a real number
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1) && !r.getDouble(4).isNaN))
  }

  test("downsample buckets partition the sample count") {
    val total = graft.sources.Tables.events(spark, sf).count()
    val sum = Timeseries.downsample(spark, sf).agg(org.apache.spark.sql.functions.sum("samples"))
      .collect()(0).getLong(0)
    assert(sum == total)
  }

  test("absent + observed hours tile the spine exactly") {
    val absent = Timeseries.absent(spark, sf).count()
    val observed = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("h"))
      .distinct()
    val series = observed.select("event_type").distinct().count()
    val bounds = observed.agg(min("h"), max("h")).collect()(0)
    val spineSize = series * ((bounds.getLong(1) - bounds.getLong(0)) / 3600 + 1)
    assert(absent + observed.count() == spineSize,
      "absent and observed hours must partition |series| x |hours|")
  }

  test("burn rate: page fires iff both windows burn above threshold; ratios bounded") {
    val df = Timeseries.burnRate(spark, sf).cache()
    assert(df.filter(col("burn_1h") < 0 || col("burn_6h") < 0).count() == 0)
    assert(df.filter(col("page") =!= (col("burn_1h") > 1.0 && col("burn_6h") > 1.0))
      .count() == 0)
    // errors never exceed totals → burn <= 1/budget
    assert(df.filter(col("burn_1h") > 1.0 / Timeseries.SloBudget).count() == 0)
    df.unpersist()
  }

  test("holt-winters: constant series converges to zero trend and the constant level") {
    val hw = Timeseries.holtWinters(spark, sf).cache()
    // trend of the FIRST point of each series is exactly 0 by the init rule
    val firsts = hw.groupBy("event_type").agg(min("hour_sec").as("hour_sec"))
    assert(hw.join(firsts, Seq("event_type", "hour_sec"))
      .filter(col("trend") =!= 0.0).count() == 0)
    // forecast = level + trend at every point (up to the 4dp display floor)
    val broken = hw.filter(
      org.apache.spark.sql.functions.abs(col("forecast_1h") - (col("level") + col("trend"))) > 0.001)
    assert(broken.count() == 0)
    hw.unpersist()
  }

  test("hysteresis: fire/resolve alternate per series and firing implies a prior fire") {
    import org.apache.spark.sql.expressions.Window
    val df = graft.operators.Timeseries.alertHysteresis(spark, sf).cache()
    // transitions strictly alternate fire, resolve, fire, ... per series
    val trans = df.filter(col("transition").isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("hour_sec")))
      .collect().groupBy(_.getString(0))
    trans.values.foreach { rows =>
      rows.sortBy(_.getLong(1)).map(_.getString(4)).sliding(2).foreach {
        case Array(a, b) => assert(a != b, s"transitions must alternate: $a,$b")
        case _ =>
      }
    }
    assert(trans.values.flatten.nonEmpty, "thresholds must produce transitions")
    // a firing hour is always above low-resolve logic: never firing while
    // the machine just resolved
    assert(df.filter(col("transition") === "resolve" && col("firing") === 1).count() == 0)
    assert(df.filter(col("transition") === "fire" && col("firing") === 0).count() == 0)
    df.unpersist()
  }

  test("series churn: births sum to total distinct series; never exceed active") {
    val df = graft.operators.Timeseries.seriesChurn(spark, sf).cache()
    assert(df.filter(col("new_series") > col("active_series")).count() == 0)
    val born = df.agg(org.apache.spark.sql.functions.sum("new_series"))
      .collect()(0).getLong(0)
    val total = graft.sources.Tables.events(spark, sf)
      .select("event_type", "user_id").distinct().count()
    assert(born == total, "every series is born exactly once")
    df.unpersist()
  }
  test("multi-resolution rollup: tiers agree - 6h sums fold into 1d into 1w") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Timeseries.multiResolution(spark, sf).cache()
    val byRes = df.groupBy("resolution")
      .agg(sum("n_samples").as("n"), sum("cents_sum").as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byRes.keySet == Set("6h", "1d", "1w"))
    assert(byRes.values.toSet.size == 1, s"every tier must cover all samples: $byRes")
    // single Expand pass: exactly one scan in the plan
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).size == 1, "one scan fills all tiers")
    assert(p.contains("Expand"), "grouping sets should plan an Expand")
    df.unpersist()
  }

  test("scd2_bitemporal: probes respect both axes; the now-probe equals last-writer-wins") {
    import spark.implicits._
    val rows = run("scd2_bitemporal")
      .select("probe", "user_id", "valid_day", "txn", "balance")
      .as[(String, Long, Long, Long, Double)].collect()
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == Set("known_0115_valid_0110", "known_now_valid_0110",
      "known_now_valid_0131"))
    // the full-knowledge, full-validity probe is plain LWW over events
    val lww = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(struct(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("d"),
        col("event_id").as("t"), round(col("value"), 2).as("b"))).as("w"))
      .select(col("user_id"), col("w.t"), col("w.b"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    byProbe("known_now_valid_0131").foreach { case (_, u, _, t, b) =>
      assert(lww(u) == ((t, b)), s"user $u now-probe must be LWW")
    }
    // the knowledge cutoff really caps the txn axis
    val cut = graft.sources.Tables.events(spark, sf)
      .filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .agg(max(col("event_id"))).head.getLong(0)
    byProbe("known_0115_valid_0110").foreach { case (_, u, vd, t, _) =>
      assert(t <= cut, s"user $u leaked future txn $t > $cut")
      assert(vd <= 19732L, s"user $u valid_day $vd past the 01-10 cut") // 2024-01-10
    }
    // more knowledge can only move a user's version forward
    val early = byProbe("known_0115_valid_0110").map(r => r._2 -> r._4).toMap
    byProbe("known_now_valid_0110").foreach { case (_, u, _, t, _) =>
      early.get(u).foreach(te => assert(t >= te))
    }
  }

  test("prom_metric_type_infer: cumulative arms infer counter, raw arms gauge") {
    import spark.implicits._
    val rows = run("prom_metric_type_infer")
      .select("series", "n_steps", "n_down", "n_reset", "monotone_share", "inferred_type")
      .as[(String, Long, Long, Long, Double, String)].collect()
    val (cum, raw) = rows.partition(_._1.endsWith(":cum"))
    assert(cum.nonEmpty && raw.nonEmpty)
    cum.foreach { r =>
      assert(r._3 == 0 && r._6 == "counter", s"${r._1}: running total must infer counter")
      assert(r._5 == 1.0)
    }
    raw.foreach { r =>
      assert(r._6 == "gauge", s"${r._1}: oscillating raw series must infer gauge")
      assert(r._3 > 0 && r._4 <= r._3)
    }
  }

  test("metrics_scrape_interval: one modal row per series with a proper share") {
    import spark.implicits._
    val rows = run("metrics_scrape_interval")
      .select("event_type", "n_gaps", "modal_gap_sec", "modal_count", "modal_share")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate series rows")
    rows.foreach { case (t, n, gap, cnt, share) =>
      assert(gap >= 0, s"$t negative modal gap")
      assert(cnt >= 1 && cnt <= n, s"$t modal count out of range")
      assert(math.abs(share - math.floor(cnt.toDouble / n * 1e4) / 1e4) < 1e-12)
    }
  }

  test("alert_notify_dedup: notification accounting tiles the firing hours") {
    import spark.implicits._
    val rows = run("alert_notify_dedup")
      .select("event_type", "n_hours", "n_incidents", "n_repeats", "n_resolves",
        "n_suppressed")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // independent recount from the hysteresis stream itself
    val hyst = run("metrics_alert_hysteresis")
      .select("event_type", "firing", "transition")
      .as[(String, Int, Option[String])].collect()
    rows.foreach { case (t, nh, ni, nr, nres, nsup) =>
      val mine = hyst.filter(_._1 == t)
      assert(nh == mine.length, s"$t hour count")
      assert(ni == mine.count(_._3.contains("fire")), s"$t incidents != fire transitions")
      assert(nres == mine.count(_._3.contains("resolve")), s"$t resolves")
      val steady = mine.count(r => r._2 == 1 && r._3.isEmpty)
      assert(nr + nsup == steady, s"$t repeats+suppressed must tile steady-firing hours")
      assert(nr <= ni * (nh * 3600 / graft.operators.Timeseries.NotifyRepeatSec + 1))
    }
  }
}
