package graft

import org.apache.spark.sql.functions._
import graft.operators.Scrapers

/** Invariants of the unified remote-write sample stream
  * (prom_remote_write_all): all four MetricFamily types present, the
  * histogram's cumulative buckets are monotone, and the COUNTER /
  * HISTOGRAM `_count` / SUMMARY `_count` samples agree — the
  * cross-family consistency the reference's converter guarantees by
  * construction (it reads one MetricFamily per scrape). Also the scrape
  * family's ledgers: recording rules, federation, HA replica election
  * and scrape cadence.
  */
class ScrapersSpec extends SparkTestBase {

  private lazy val all = operators.Scrapers.remoteWriteAll(spark, sf).cache()

  test("all four family types emit samples") {
    val fams = all.select("family_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(fams == Set("COUNTER", "GAUGE", "HISTOGRAM", "SUMMARY"))
  }

  test("histogram buckets are cumulative per series") {
    val buckets = all
      .filter(col("metric_name") === "events_value_bucket" && col("label") =!= "+Inf")
      .select(col("event_type"), col("label").cast("int").as("le"), col("value"))
      .collect().groupBy(_.getString(0))
    assert(buckets.nonEmpty)
    buckets.foreach { case (et, rows) =>
      val byLe = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
      assert(byLe.zip(byLe.tail).forall { case (a, b) => a <= b },
        s"non-monotone buckets for $et: ${byLe.mkString(",")}")
    }
  }

  test("counter, histogram _count, summary _count agree per series") {
    val pivots = all
      .filter(col("metric_name").isin("events_total", "events_value_hist_count", "events_value_count"))
      .groupBy(col("event_type"))
      .pivot("metric_name")
      .agg(first(col("value")))
      .collect()
    assert(pivots.nonEmpty)
    pivots.foreach { r =>
      val vals = (1 to 3).map(r.getDouble)
      assert(vals.distinct.size == 1, s"count mismatch for ${r.getString(0)}: $vals")
    }
  }

  test("+Inf bucket equals total count per series") {
    val rows = all
      .filter((col("metric_name") === "events_value_bucket" && col("label") === "+Inf") ||
        col("metric_name") === "events_total")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("value")).as("k"))
      .collect()
    assert(rows.forall(_.getLong(1) == 1L))
  }

  test("relabel pipeline: only shard 1 survives and the dropped type never appears") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Scrapers.relabel(spark, sf).cache()
    assert(df.filter(col("shard") =!= 1).count() == 0)
    assert(df.filter(col("service") === "svc_signup").count() == 0,
      "keep-regex must drop the signup series")
    assert(df.count() > 0)
    df.unpersist()
  }
  test("exposition parse: render -> parse round-trips the remote-write rows") {
    import org.apache.spark.sql.functions._
    val parsed = graft.operators.Scrapers.expositionParse(spark, sf).cache()
    val rw = graft.operators.Scrapers.remoteWrite(spark, sf)
      .select(col("metric_name"), col("engine"), col("identifier"), col("job"),
        // the wire carries the renderer's binary half-up 2 dp snap
        // (MetricsModel.snappedValue), so compare at exactly that grid
        (floor(col("value") * 100 + 0.5) / 100).as("value"))
      .collect().map(_.toSeq).toSet
    assert(parsed.collect().map(_.toSeq).toSet == rw,
      "parsing our own exposition must recover the source rows")
    assert(parsed.filter(col("metric_name") === "").count() == 0)
    parsed.unpersist()
  }

  test("histogram rebucket: deltas sum to the +Inf cumulative, monotone in le") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Scrapers.histogramRebucket(spark, sf).cache()
    // per (series, day): sum of bin deltas == total count
    val bad = df.groupBy("event_type", "day")
      .agg(sum(col("bin_count")).as("s"),
        max(when(col("le") === "+Inf", col("cum_count"))).as("tot"))
      .filter(col("s") =!= col("tot"))
    assert(bad.count() == 0)
    assert(df.filter(col("bin_count") < 0).count() == 0, "cumulative counts are monotone")
    df.unpersist()
  }

  test("series cardinality: series >= max(dimension), every family covered") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Scrapers.seriesCardinality(spark, sf).cache()
    assert(df.select("family_type").distinct().count() == 4, "all four MetricFamily types")
    assert(df.filter(col("n_series") < greatest(col("n_targets"), col("n_label_values")))
      .count() == 0, "the key space is at least its largest dimension")
    assert(df.filter(col("n_series") > col("n_targets") * col("n_label_values")).count() == 0)
    df.unpersist()
  }

  test("metrics_histogram_stddev: moments cover every sample, stddev bounded by the range") {
    val df = run("metrics_histogram_stddev").cache()
    assert(df.agg(sum(col("n_samples"))).head.getLong(0) ==
      graft.sources.Tables.events(spark, sf).count())
    assert(df.filter(col("stddev_mid") < 0 || col("stddev_mid") > 256).count() == 0)
    df.unpersist()
  }

  test("prom_recording_rules: levels are consistent and the rule tree shares one scan") {
    import spark.implicits._
    val rows = run("prom_recording_rules")
      .select("rule", "event_type", "hour_sec", "value")
      .as[(String, Option[String], Long, Long)].collect()
    val l1 = rows.filter(_._1 == "type_hourly_count")
    val l2 = rows.filter(_._1 == "total_hourly")
    val l3 = rows.filter(_._1 == "total_max6h")
    assert(l1.nonEmpty && l2.nonEmpty && l3.size == l2.size)
    // level 2 = level 1 re-aggregated
    val l1ByHour = l1.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
    l2.foreach { case (_, _, h, v) => assert(l1ByHour(h) == v, s"hour $h") }
    // level 3 = trailing-6 max of level 2
    val l2Sorted = l2.sortBy(_._3)
    val l2Vals = l2Sorted.map(_._4)
    l2Sorted.zipWithIndex.foreach { case ((_, _, h, _), i) =>
      val want = l2Vals.slice(math.max(0, i - 5), i + 1).max
      val got = l3.find(_._3 == h).get._4
      assert(got == want, s"hour $h max6h")
    }
    // the whole cascade reuses level 1's exchange instead of rescanning:
    // count scans in the FINAL (post-AQE) section only — the formatted
    // string repeats the pre-reuse initial plan below it
    val p = executedPlan("prom_recording_rules")
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("ReusedExchange"), "rule tree must share the level-1 shuffle")
    assert("Scan parquet".r.findAllIn(finalSection).size <= 1,
      "one events scan for the whole tree")
  }

  test("prom_ha_dedup: election never keeps fewer samples than the better replica") {
    import spark.implicits._
    val rows = run("prom_ha_dedup")
      .select("event_type", "n_windows", "windows_b", "samples_ingested",
        "samples_kept", "dedup_ratio")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val totalEvents = graft.sources.Tables.events(spark, sf).count()
    // replica a is complete: kept >= a's sample count per series overall
    val perType = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    rows.foreach { case (t, nw, wb, ing, kept, ratio) =>
      assert(nw > 0 && wb <= nw)
      assert(kept >= perType(t), s"$t kept fewer samples than the complete replica")
      assert(kept <= ing && ing < 2 * perType(t) + 1)
      assert(ratio > 0.5 && ratio <= 1.0, s"$t dedup ratio $ratio")
    }
    assert(rows.map(_._5).sum >= totalEvents, "dedup lost data overall")
  }

  // ----------------------------------------------------------- federate

  test("prom_federate exposes the freshest sample per series, drops stale series, honors own labels") {
    val hour = 3600L
    def ev(id: Long, h: Long, uid: Long, typ: String) = (id, h * hour, uid, typ, 1.0)
    // series (A, shard 0): hours 8,9,10 with 2 events at h=10 → latest (10, 2)
    // series (A, shard 1): fresh at h=7 (inside the 4h lookback vs horizon 10)
    // series (B, shard 2): latest h=5 → STALE (10 - 5 > 4) → dropped
    val dir = writeEvents(
      Seq(ev(1, 8, 0, "A"), ev(2, 9, 4, "A"), ev(3, 10, 8, "A"), ev(4, 10, 12, "A"),
        ev(5, 7, 1, "A"), ev(6, 6, 5, "A"),
        ev(7, 5, 2, "B"), ev(8, 4, 6, "B")))
    val got = Scrapers.promFederate(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        (r.getString(3), r.getBoolean(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got.keySet == Set(("A", 0L), ("A", 1L)), s"stale series must drop: ${got.keySet}")
    // freshest sample wins, with the sample's own count
    assert(got(("A", 0L))._3 == 10 * hour && got(("A", 0L))._4 == 2.0)
    assert(got(("A", 1L))._3 == 7 * hour && got(("A", 1L))._4 == 1.0)
    // honor_labels: shard 0 keeps its own region, shard 1 gets the external
    assert(got(("A", 0L))._1 == "eu-west-1" && got(("A", 0L))._2)
    assert(got(("A", 1L))._1 == "us-east-1" && !got(("A", 1L))._2)
  }

  // ------------------------------- HA replica election, scrape cadence

  test("metrics_ha_dedup: election keeps the majority replica, ties prefer replica 0, counts conserve") {
    val rows = run("metrics_ha_dedup").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n0, n1) = (r.getAs[Long]("n_r0"), r.getAs[Long]("n_r1"))
      val el = r.getAs[Int]("elected_replica")
      assert(el == (if (n1 > n0) 1 else 0), s"election broke majority/tie rule: $r")
      assert(r.getAs[Long]("n_kept") == (if (el == 0) n0 else n1))
      assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped") == n0 + n1)
      assert(r.getAs[Long]("n_kept") >= r.getAs[Long]("n_dropped"))
    }
  }

  test("metrics_scrape_jitter: median is an observed interval, share in [0,1], gap >= median") {
    val rows = run("metrics_scrape_jitter").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val share = r.getAs[Double]("jitter_share")
      assert(share >= 0.0 && share <= 1.0)
      assert(r.getAs[Long]("max_gap_sec") >= r.getAs[Long]("median_iv_sec"))
      assert(r.getAs[Long]("n_jitter") <= r.getAs[Long]("n_intervals"))
    }
  }
}
