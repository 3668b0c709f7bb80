package graft

import org.apache.spark.sql.functions._

/** Prometheus native histograms: bucket-mass conservation, quantile
  * accuracy against exact percentiles, the overflow-bucket raise, and
  * the merged and rate readings. */
class NativeHistogramSpec extends SparkTestBase {

  test("native histogram: sparse buckets conserve mass and stay within the schema-2 grid") {
    val down = run("prom_native_histogram_downscale")
      .collect()
    val total = down.map(_.getAs[Long]("cnt")).sum
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(total == events, "downscaled bucket masses must sum to the event count")
    // schema-0 indices cover (2^(i-1), 2^i]: the domain (0.01, 500] fits in [-6, 9]
    val idxs = down.map(_.getAs[Int]("bucket_idx"))
    assert(idxs.min >= -7 && idxs.max <= 10, s"indices out of domain: ${idxs.min}..${idxs.max}")
    // merging 4:1 can only shrink the bucket count, never below 1/4
    down.foreach { r =>
      val m = r.getAs[Long]("n_merged")
      assert(m >= 1 && m <= 4, s"schema 2->0 merges at most 4 source buckets, got $m")
    }
  }

  test("native histogram_quantile tracks exact percentiles within one bucket width (19%)") {
    val est = run("prom_native_histogram_quantile")
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val exact = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("e50"),
        expr("percentile(value, 0.9)").as("e90"),
        expr("percentile(value, 0.99)").as("e99"))
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    assert(est.nonEmpty && est.keySet == exact.keySet)
    // a schema-2 bucket spans a 2^0.25 ≈ 1.19 ratio: the estimator can
    // be off by at most one bucket width (plus interpolation slack)
    for ((et, r) <- est; (q, e) <- Seq("p50" -> "e50", "p90" -> "e90", "p99" -> "e99")) {
      val got = r.getAs[Double](q)
      val ex = exact(et).getAs[Double](e)
      assert(got > ex / 1.3 && got < ex * 1.3,
        s"$et $q: native-histogram estimate $got vs exact $ex")
    }
    // sparsity: the per-series histogram stores only hit buckets
    est.values.foreach { r =>
      assert(r.getAs[Long]("n_buckets") <= 69, "sparse bucket set must stay domain-bounded")
    }
  }

  test("native histogram: a quantile covered by the overflow bucket raises, not NULL") {
    // every value far past bound(IdxHi)=1024 → all mass in the
    // overflow bucket → p50's covering bucket is the overflow bucket
    val dir = writeEvents((1 to 50).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d").getTime / 1000,
      i.toLong, "t", 5000.0 + i)))
    val e = intercept[Exception] {
      graft.operators.NativeHistogram.nativeQuantile(spark, dir).collect()
    }
    assert(messages(e).exists(_.contains("overflow bucket")),
      s"expected the overflow-bucket raise, got: ${messages(e).mkString(" | ")}")
  }

  test("prom_native_histogram_rate_quantile: estimates live inside their buckets") {
    val perWin = run("prom_native_histogram_rate_quantile")
      .collect()
    assert(perWin.nonEmpty)
    val values = graft.sources.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr(
          s"(floor(unix_timestamp(ts) / ${graft.operators.NativeHistogram.RateWinSec}) " +
            s"* ${graft.operators.NativeHistogram.RateWinSec})").cast("long").as("w"),
        org.apache.spark.sql.functions.col("value"))
      .collect().groupBy(r => (r.getString(0), r.getLong(1)))
      .view.mapValues(_.map(_.getDouble(2))).toMap
    perWin.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val vs = values(key)
      assert(r.getLong(2) == vs.length, s"window count mismatch at $key")
      val p90 = r.getDouble(3)
      // the interpolated estimate sits within the window's value hull
      // stretched by one bucket width (base 2^1/4 → ≤ ~19% per side)
      assert(p90 >= vs.min / 1.2 - 1e-9 && p90 <= vs.max * 1.2 + 1e-9,
        s"p90 $p90 outside the window hull [${vs.min}, ${vs.max}] at $key")
      // and at/above the exact median — it is a p90
      val sorted = vs.sorted
      assert(p90 >= sorted((vs.length - 1) / 2) / 1.2,
        s"p90 below the window median at $key")
      assert(r.getDouble(4) >= 0.0)
    }
  }

  test("prom_native_histogram_sum: merged histogram conserves mass and matches per-series buckets") {
    import org.apache.spark.sql.functions._
    val rows = run("prom_native_histogram_sum")
      .orderBy(col("idx")).collect()
    val total = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("cnt")).sum == total, "mass not conserved")
    assert(rows.last.getAs[Long]("cum") == total)
    assert(math.abs(rows.last.getAs[Double]("mass_share") - 1.0) < 1e-9)
    val nSeries = graft.sources.Tables.events(spark, sf)
      .select(col("event_type")).distinct().count()
    assert(rows.forall(r => r.getAs[Long]("n_series") >= 1 &&
      r.getAs[Long]("n_series") <= nSeries))
  }
}
