package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeseriesExt
import graft.sources.Tables

class TimeseriesExtSpec extends SparkTestBase {

  test("time-weighted avg: bounded by per-day min/max of the series") {
    val df = TimeseriesExt.timeWeightedAvg(spark, sf).cache()
    assert(df.count() > 0)
    val bounds = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
    // TWA is a convex combination of sample values (cents truncation
    // can undershoot the min by < 0.01)
    val bad = df.join(bounds, Seq("event_type", "day"))
      .filter(col("twa") < col("lo") - 0.01 || col("twa") > col("hi"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("MAD outliers: scores exceed k, bounded fraction of the series flagged") {
    val df = TimeseriesExt.madAnomaly(spark, sf).cache()
    assert(df.filter(col("robust_score") < TimeseriesExt.MadK).count() == 0)
    assert(df.filter(col("mad") <= 0).count() == 0)
    // MAD flags a minority: < 25% of any series (50% breakdown point)
    val perSeries = df.groupBy(col("event_type")).agg(count(lit(1)).as("n_out"))
    val sizes = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tooMany = perSeries.join(sizes, Seq("event_type"))
      .filter(col("n_out") * 4 > col("n"))
    assert(tooMany.count() == 0)
    df.unpersist()
  }

  test("histogram share: monotone in threshold, bounded by exact fractions") {
    val df = TimeseriesExt.histogramShare(spark, sf).cache()
    assert(df.filter(col("share") < 0 || col("share") > 1).count() == 0)
    // share is non-decreasing in the threshold per series
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("threshold_c"))
    assert(df.withColumn("prev", lag(col("share"), 1).over(w))
      .filter(col("prev").isNotNull && col("share") < col("prev")).count() == 0)
    // interpolated share brackets the exact CDF of the bucket bounds
    val exact = Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("v_c"))
      .groupBy(col("event_type"))
      .agg(count(when(col("v_c") <= 1000L, 1)).as("lo1000"),
        count(when(col("v_c") <= 5000L, 1)).as("hi5000"), count(lit(1)).as("cnt"))
    val bad = df.filter(col("threshold_c") === 2500L)
      .join(exact, Seq("event_type"))
      .filter(col("share") < col("lo1000") / col("cnt") - 1e-4 ||
        col("share") > col("hi5000") / col("cnt"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("lttb: endpoints kept, one point per bucket, selections are real samples") {
    val df = TimeseriesExt.downsampleLttb(spark, sf).cache()
    val raw = Tables.events(spark, sf)
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        floor(col("value") * 100).cast("long").as("v_c"))
    // every selected point exists in the raw series
    assert(df.join(raw, Seq("event_type", "sec", "v_c"), "left_anti").count() == 0)
    // per series: n_selected = nb + 2, endpoints match raw min/max sec
    val sizes = raw.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
      min(col("sec")).as("lo"), max(col("sec")).as("hi"))
    val agg = df.groupBy(col("event_type")).agg(count(lit(1)).as("k"),
      min(col("sec")).as("slo"), max(col("sec")).as("shi"))
    assert(agg.join(sizes, Seq("event_type"))
      .filter(col("k") =!= expr(s"(n - 2 + ${TimeseriesExt.LttbK - 1}) DIV ${TimeseriesExt.LttbK} + 2"))
      .count() == 0, "one selection per bucket plus both endpoints")
    assert(agg.join(sizes, Seq("event_type"))
      .filter(col("slo") =!= col("lo") || col("shi") =!= col("hi")).count() == 0)
    // selection is strictly ordered in time per series
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("sel_idx"))
    assert(df.withColumn("prev", lag(col("sec"), 1).over(w))
      .filter(col("prev").isNotNull && col("sec") < col("prev")).count() == 0)
    df.unpersist()
  }

  test("cusum: S non-negative, resets hold, alarms a minority, recurrence verified") {
    val df = TimeseriesExt.cusumChangepoint(spark, sf).cache()
    assert(df.filter(col("s4") < 0).count() == 0)
    val n = df.count()
    val alarms = df.filter(col("alarm")).count()
    assert(alarms > 0 && alarms * 4 < n, s"alarm rate ${alarms}/$n should be a minority")
    // recurrence: s4 = max(0, prev_s4 + 2*(2*mean_c - base2) - k4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_sec"))
    val bad = df.withColumn("prev", coalesce(lag(col("s4"), 1).over(w), lit(0L)))
      .withColumn("want",
        greatest(lit(0L), col("prev") + (col("mean_c") * 2 - col("base2")) * 2 - col("k4")))
      .filter(col("s4") =!= col("want"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("dow baseline: only scoring days flagged, deviation really exceeds half the baseline") {
    val df = TimeseriesExt.dowBaseline(spark, sf).cache()
    assert(df.filter(col("day_nr") < TimeseriesExt.BaselineTrainDays).count() == 0)
    assert(df.filter(abs(col("dev2")) * 2 <= col("base2")).count() == 0)
    assert(df.filter(col("dev2") =!= col("mean_c") * 2 - col("base2")).count() == 0)
    df.unpersist()
  }

  test("subquery max-rate: trailing max dominates the bucket's own rate") {
    val df = TimeseriesExt.subqueryMaxRate(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("max_rate") < 0).count() == 0)
    // max over a trailing window is monotone vs the single-bucket rate:
    // recompute single-bucket increases and check max_rate >= own rate
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val own = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("event_id"),
        floor(col("value") * 100).cast("long").as("v_c"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("delta", col("v_c") - lag(col("v_c"), 1).over(w))
      .withColumn("inc", when(col("delta").isNull, lit(0L))
        .when(col("delta") < 0, col("v_c")).otherwise(col("delta")))
      .groupBy(col("event_type"),
        expr(s"sec DIV ${TimeseriesExt.SubRateWindowSec}").as("bucket"))
      .agg(sum(col("inc")).as("inc_c"))
      .select(col("event_type"),
        (col("bucket") * TimeseriesExt.SubRateWindowSec).as("bucket_sec"),
        (floor(col("inc_c") * lit(10000) / lit(TimeseriesExt.SubRateWindowSec)) / 1e6)
          .as("own_rate"))
    val bad = df.join(own, Seq("event_type", "bucket_sec"))
      .filter(col("max_rate") < col("own_rate"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("offset compare: ratio consistent with diff, only hours with a prior week appear") {
    val df = TimeseriesExt.offsetCompare(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("wow_diff") =!= col("mean_c") - col("prev_c")).count() == 0)
    assert(df.filter(col("wow_ratio") < 0).count() == 0)
    // diff > 0 iff ratio > 1 (floor at 4dp can't cross 1.0 for integers)
    assert(df.filter(col("wow_diff") > 0 && col("wow_ratio") < 1.0).count() == 0)
    df.unpersist()
  }

  test("top movers: at most k per day, ranked by absolute delta") {
    val df = TimeseriesExt.topMovers(spark, sf).cache()
    val perDay = df.groupBy(col("day")).agg(count(lit(1)).as("k"))
    assert(perDay.filter(col("k") > TimeseriesExt.TopMovers).count() == 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("day")).orderBy(col("rk"))
    assert(df.withColumn("prev_abs", lag(abs(col("delta")), 1).over(w))
      .filter(col("prev_abs").isNotNull && abs(col("delta")) > col("prev_abs"))
      .count() == 0, "absolute delta non-increasing in rank")
    df.unpersist()
  }

  test("alert feed: normalized union of the two detectors, scores positive") {
    val df = TimeseriesExt.alertFeed(spark, sf).cache()
    assert(df.filter(col("score") < 0).count() == 0)
    val byDet = df.groupBy(col("detector")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cusum = TimeseriesExt.cusumChangepoint(spark, sf)
      .filter(col("alarm")).count()
    val dow = TimeseriesExt.dowBaseline(spark, sf).count()
    assert(byDet.getOrElse("cusum_shift", 0L) == cusum)
    assert(byDet.getOrElse("dow_seasonal", 0L) == dow)
    df.unpersist()
  }

  test("gap log2 histogram: buckets really bracket powers of two") {
    val df = TimeseriesExt.gapLog2Histogram(spark, sf).cache()
    assert(df.count() > 0)
    // bucket b >= 1 holds gaps in [2^(b-1), 2^b)
    val bad = df.filter(col("bucket") >= 1 &&
      (col("lo_sec") < expr("CAST(pow(2, bucket - 1) AS BIGINT)") ||
       col("hi_sec") >= expr("CAST(pow(2, bucket) AS BIGINT)")))
    assert(bad.count() == 0)
    // every inter-arrival gap is counted exactly once
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    val events = Tables.events(spark, sf).count()
    assert(df.agg(sum(col("n"))).head.getLong(0) == events - users)
    df.unpersist()
  }

  test("seasonal decompose: components sum back exactly, seasonal centered-ish") {
    val df = TimeseriesExt.seasonalDecompose(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("mean_c") =!= col("trend_c") + col("seasonal_c") + col("residual_c"))
      .count() == 0, "additive identity must hold exactly")
    // seasonal repeats per (series, hour-of-day): 24 distinct values per series
    val perSeries = df
      .withColumn("hod", expr("(hour_sec DIV 3600) % 24"))
      .groupBy(col("event_type"), col("hod"))
      .agg(countDistinct(col("seasonal_c")).as("k"))
      .filter(col("k") =!= 1)
    assert(perSeries.count() == 0, "one seasonal value per (series, hod)")
    df.unpersist()
  }

  test("apdex: bounded in [0,1], partition counts exhaustive") {
    val df = TimeseriesExt.apdex(spark, sf).cache()
    assert(df.filter(col("apdex") < 0 || col("apdex") > 1).count() == 0)
    assert(df.filter(col("n_satisfied") + col("n_tolerating") + col("n_frustrated")
      =!= col("n")).count() == 0)
    // all-satisfied day scores 1.0 after truncation
    assert(df.filter(col("n_satisfied") === col("n") && col("apdex") < 1.0).count() == 0)
    df.unpersist()
  }
  test("staleness: every marker trails a real gap, delay fixed at 300s") {
    val df = TimeseriesExt.staleness(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("gap_sec") <= TimeseriesExt.StaleGapSec).count() == 0)
    // a marker's sample really has no successor within the gap window:
    // recompute the successor gap independently and compare counts
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("sec"), col("event_id"))
    val base = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"), col("event_id"))
    val hmax = base.agg(max("sec")).head.getLong(0)
    val want = base.withColumn("nxt", lead(col("sec"), 1).over(w))
      .filter(coalesce(col("nxt"), lit(hmax)) - col("sec") > TimeseriesExt.StaleGapSec)
      .count()
    assert(df.count() == want)
    df.unpersist()
  }

  test("exemplars: at most K per bucket, values match the referenced events") {
    val df = TimeseriesExt.exemplars(spark, sf).cache()
    assert(df.count() > 0)
    val over = df.groupBy("event_type", "bucket_start")
      .agg(count(lit(1)).as("k"))
      .filter(col("k") > TimeseriesExt.ExemplarK)
    assert(over.count() == 0)
    // every exemplar's value really is its event's value (join-back integrity)
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), floor(col("value") * 100).cast("long").as("vc"))
    assert(df.join(ev, "event_id").filter(col("value_cents") =!= col("vc")).count() == 0)
    // deterministic: a second run picks the identical exemplar set
    val order = Seq("event_type", "bucket_start", "exemplar_rank")
    val again = TimeseriesExt.exemplars(spark, sf).orderBy(order.map(col): _*).collect().map(_.toSeq)
    assert(df.orderBy(order.map(col): _*).collect().map(_.toSeq).sameElements(again))
    df.unpersist()
  }

  test("metrics_slo_attainment: all-integer budget ledger is internally consistent") {
    import spark.implicits._
    val rows = run("metrics_slo_attainment").orderBy("day")
      .select("day", "total", "errors", "attainment_ppm", "cum_total", "cum_errors",
        "cum_attainment_ppm", "budget_left_ppm", "breached")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // cumulative columns are the running sums; ledger identities hold
    var (ct, ce) = (0L, 0L)
    rows.foreach { case (_, t, e, app, cumT, cumE, cApp, left, breached) =>
      ct += t; ce += e
      assert(cumT == ct && cumE == ce)
      assert(app == (t - e) * 1000000L / t)
      assert(cApp == (ct - ce) * 1000000L / ct)
      assert(left == cApp - graft.operators.TimeseriesExt.SloObjectivePpm)
      assert(breached == (left < 0))
    }
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(rows.last._5 == events)
  }

  test("metrics_downsample_m4: envelope bounds hold and the plan is one aggregation") {
    import spark.implicits._
    val rows = run("metrics_downsample_m4")
      .select("event_type", "bucket_start", "samples", "first_value", "last_value",
        "min_value", "max_value")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, b, n, f, l, mn, mx) =>
      assert(n >= 1)
      assert(mn <= mx && f >= mn && f <= mx && l >= mn && l <= mx,
        s"$t@$b envelope violated")
    }
    // M4 must stay a single map-side-combinable aggregation: no window,
    // no join — this is its advantage over the LTTB fold
    val p = plan("metrics_downsample_m4")
    assert(!p.contains("Window") && !p.contains("Join"), "M4 must be one groupBy")
  }

  test("prom_scrape_health: one global spine; up, flap and run bounds hold") {
    import spark.implicits._
    val rows = run("prom_scrape_health")
      .select("event_type", "n_slots", "n_up", "availability", "n_flaps", "longest_down_hours")
      .as[(String, Long, Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.length == 1, "targets disagree on the global slot count")
    rows.foreach { case (t, slots, up, avail, flaps, ldh) =>
      assert(up >= 0 && up <= slots, s"$t up count")
      assert(math.abs(avail - math.floor(up.toDouble / slots * 1e4) / 1e4) < 1e-12)
      assert(flaps < slots, s"$t flaps")
      assert(ldh <= slots - up, s"$t longest down run exceeds total downtime")
      assert((ldh == 0) == (up == slots), s"$t down-run/availability mismatch")
    }
  }

  test("metrics_rolling_corr: click autocorrelation is exactly 1; all values in [-1, 1]") {
    import spark.implicits._
    val rows = run("metrics_rolling_corr")
      .select("event_type", "day", "corr_7d")
      .as[(String, Long, Option[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, day, c) =>
      c.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($t,$day) corr $v"))
    }
    val click = rows.filter(_._1 == "click").flatMap(_._3)
    assert(click.nonEmpty && click.forall(v => math.abs(v - 0.9999) < 1e-9 || v == 1.0),
      "click-vs-click rolling correlation must floor to 0.9999/1.0")
  }

  test("metrics_autocorr: one row per (series, lag); acf bounded; support shrinks with lag") {
    import spark.implicits._
    val rows = run("metrics_autocorr")
      .select("event_type", "lag", "n_pairs", "acf")
      .as[(String, Long, Long, Option[Double])].collect()
    val lags = graft.operators.TimeseriesExt.AcfLags
    val types = rows.map(_._1).distinct
    assert(rows.length == types.length * lags.length)
    rows.foreach { case (t, l, n, a) =>
      assert(n > 0, s"($t,$l) no pairs")
      a.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($t,$l) acf $v"))
    }
    types.foreach { t =>
      val byLag = rows.filter(_._1 == t).sortBy(_._2)
      assert(byLag.sliding(2).forall(p => p(0)._3 >= p(1)._3),
        s"$t pair support should not grow with lag")
    }
  }

  // --------------------------------------------- metrics_sax_motifs

  /** Driver-side SAX replay with the entry's exact integer pipeline. */
  private def saxWord(hourly: Seq[(Int, Seq[Double])]): Option[String] = {
    if (hourly.size != 24) None
    else {
      val vq = hourly.sortBy(_._1).map { case (_, vs) =>
        val sum2 = math.round(vs.sum * 100.0) / 100.0
        math.floor(sum2 / vs.size * 1e4).toLong
      }
      val n = 24L
      val sTot = vq.sum; val ss = vq.map(q => q * q).sum
      val varNum = n * ss - sTot * sTot
      val word = (0 until TimeseriesExt.SaxSegs).map { g =>
        val seg = vq.slice(g * 4, g * 4 + 4)
        val num = seg.sum * n - sTot * seg.size
        val z = if (varNum <= 0) 0.0
          else num.toDouble / (seg.size.toDouble * math.sqrt(varNum.toDouble))
        if (z < -0.6745) 'a' else if (z < 0.0) 'b' else if (z < 0.6745) 'c' else 'd'
      }.mkString
      Some(word)
    }
  }

  test("metrics_sax_motifs symbolizes shapes and drops partial days") {
    // series r: a clean ramp day (word abbccd-ish, replayed exactly)
    // series f: a flat day -> zero variance -> all-'c'
    // series p: 23 hours only -> excluded
    // series s: midday spike day
    val rows = Seq.newBuilder[(Long, Long, String, Double)]
    var id = 0L
    def add(et: String, day: Int, hour: Int, v: Double): Unit = {
      id += 1; rows += ((id, day * 86400L + hour * 3600L + 60L, et, v))
    }
    (0 until 24).foreach(h => add("r", 0, h, 1.0 + h))
    (0 until 24).foreach(h => add("f", 0, h, 7.77))
    (0 until 23).foreach(h => add("p", 0, h, 1.0 + h))
    (0 until 24).foreach(h => add("s", 0, h, if (h >= 10 && h < 14) 100.0 else 1.0))
    val dir = writeEvents(rows.result().map { case (id, ts, et, v) => (id, ts, id % 7, et, v) })
    val got = TimeseriesExt.saxMotifs(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    def wordOf(et: String) = saxWord(
      rows.result().filter(_._3 == et).groupBy(t => ((t._2 % 86400) / 3600).toInt)
        .map { case (h, ts) => (h, ts.map(_._4)) }.toSeq).get
    val expected = Seq("r", "f", "s").map(wordOf).groupBy(identity)
      .map { case (w, ws) => w -> (ws.size.toLong, ws.size.toLong) }
    assert(got == expected, s"got $got\nexpected $expected")
    assert(wordOf("f") == "cccccc", "zero-variance day is all-'c'")
    assert(wordOf("r").toSeq == wordOf("r").toSeq.sorted, "ramp word is monotone in the alphabet")
    val spike = wordOf("s")
    assert(spike.substring(2, 4).contains('d') && spike.head < 'c',
      s"midday spike word surprises in segments 2-3: $spike")
  }

  // ---------------------------------------------- metrics_theil_sen

  test("metrics_theil_sen shrugs off the outlier that swings least squares") {
    // clean ramp value = h, except hour 12 glitches to 1000.
    // LSQ slope over this day is ~> 2x the true slope; Theil-Sen's
    // pairwise median stays ~1/hour.
    val rows = (0 until 24).map { h =>
      ((h + 1).toLong, h * 3600L + 30L, "g", if (h == 12) 1000.0 else 1.0 + h)
    } ++ (0 until 24).map { h => ((100 + h).toLong, h * 3600L + 30L, "clean", 5.0 + 2.0 * h) }
    val dir = writeEvents(rows.map { case (id, ts, et, v) => (id, ts, id % 7, et, v) })
    val got = TimeseriesExt.theilSen(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got("clean")._1 == 276L)
    assert(got("clean")._2 == 2.0, s"clean ramp slope: ${got("clean")}")
    val g = got("g")._2
    assert(g >= 0.9 && g <= 1.2, s"outlier swung the robust slope: $g")
    // replay: lower median of all pairwise slopes on the exact grid
    val vq = (0 until 24).map(h => math.floor(
      math.round((if (h == 12) 1000.0 else 1.0 + h) * 100.0) / 100.0 * 1e4).toLong)
    val slopes = (for {
      i <- 0 until 23; j <- i + 1 until 24
    } yield (vq(j) - vq(i)).toDouble / (j - i).toDouble).sorted
    assert(g == math.floor(slopes(137) * 100) / 1e6, "entry != driver-side replay")
  }

  // -------------------------------------- metrics_alert_for_duration

  test("alert for-duration: pending clock, firing, gap reset, below reset") {
    // series "a": 2 hot hours (pending only) / below / 4 hot hours
    // (pending, pending, firing, firing) / GAP at hour 11 / 2 hot
    // hours after the gap must restart from pending
    val hot = 100.0; val cold = 1.0
    val hours = Seq(
      0 -> hot, 1 -> hot,          // run of 2: never fires
      2 -> cold,                   // below reset
      3 -> hot, 4 -> hot, 5 -> hot, 6 -> hot, // pending x2 then firing x2
      7 -> cold,
      9 -> hot, 10 -> hot,         // run of 2...
      // hour 11 MISSING (gap)
      12 -> hot, 13 -> hot, 14 -> hot) // ...gap resets: pending x2, firing
    val rows = hours.zipWithIndex.map { case ((h, v), i) =>
      ((i + 1).toLong, h * 3600L + 120L, "a", v)
    }
    val dir = writeEvents(rows.map { case (id, ts, et, v) => (id, ts, id % 7, et, v) })
    val got = TimeseriesExt.alertForDuration(spark, dir).collect()
      .map(r => (r.getLong(1) / 3600).toInt -> (r.getInt(3), r.getString(4))).toMap
    val want = Map(
      0 -> (1, "pending"), 1 -> (2, "pending"),
      2 -> (0, "inactive"),
      3 -> (1, "pending"), 4 -> (2, "pending"), 5 -> (3, "firing"), 6 -> (4, "firing"),
      7 -> (0, "inactive"),
      9 -> (1, "pending"), 10 -> (2, "pending"),
      12 -> (1, "pending"), 13 -> (2, "pending"), 14 -> (3, "firing"))
    assert(got == want, s"got $got\nexpected $want")
  }
}
