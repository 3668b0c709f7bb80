package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOf, RangeJoin}

class AsOfSpec extends SparkTestBase {

  test("nearest as-of: dominated by both directional variants, gap minimal") {
    val near = AsOf.asofNearest(spark, sf).cache()
    assert(near.filter(col("gap_us") < 0).count() == 0)
    // wherever the backward variant matches, nearest's gap is <= backward's gap
    val back = AsOf.asofJoin(spark, sf)
      .select(col("event_id"),
        (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("back_gap"))
    assert(near.join(back, Seq("event_id"))
      .filter(col("gap_us") > col("back_gap")).count() == 0)
    val fwd = AsOf.asofJoinForward(spark, sf)
      .select(col("event_id"),
        (unix_micros(col("next_click_ts")) - unix_micros(col("ts"))).as("fwd_gap"))
    assert(near.join(fwd, Seq("event_id"))
      .filter(col("gap_us") > col("fwd_gap")).count() == 0)
    // ties and one-sided cases prefer/fall back correctly: direction is
    // 'backward' whenever the backward gap equals the nearest gap
    val wrongTie = near.join(back, Seq("event_id"))
      .filter(col("gap_us") === col("back_gap") && col("direction") =!= "backward")
    assert(wrongTie.count() == 0)
    near.unpersist()
  }

  test("interval overlap join: overlaps positive and bounded by the incident hour") {
    val df = RangeJoin.intervalOverlapJoin(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("overlap_sec") < 1 || col("overlap_sec") > 3600).count() == 0)
    // every matched incident hour really exceeds the p90 error threshold
    val hourly = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "error")
      .groupBy(expr("(unix_timestamp(date_trunc('second', ts)) DIV 3600) * 3600").as("incident_h"))
      .agg(count(lit(1)).as("n_err"))
    val p90 = hourly.agg(expr("percentile(n_err, 0.9e0)")).head.getDouble(0)
    assert(df.join(hourly, Seq("incident_h"))
      .filter(col("n_err") <= p90).count() == 0)
    df.unpersist()
  }

  test("sessionize_otsu: exactly one winner maximizing the between-class score") {
    import spark.implicits._
    val rows = run("sessionize_otsu")
      .select("bucket", "n", "w0", "w1", "score_floor", "is_chosen", "timeout_sec")
      .as[(Int, Long, Long, Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.count(_._6) == 1, "not exactly one chosen threshold")
    // the last bucket is rightly absent (no split leaves both classes
    // nonempty there), so the grand total is any row's w0+w1
    val total = rows.head._3 + rows.head._4
    rows.foreach { case (b, n, w0, w1, sf_, _, ts) =>
      assert(w0 + w1 == total, s"bucket $b classes don't partition")
      assert(w0 > 0 && w1 > 0, s"bucket $b empty class survived the sweep")
      assert(sf_ >= 0)
      assert(ts == (1L << b), s"bucket $b timeout")
    }
    // cumulative w0 must be monotone in bucket
    assert(rows.sliding(2).forall(p => p(0)._3 < p(1)._3), "w0 not strictly increasing")
    val chosen = rows.find(_._6).get
    assert(rows.forall(r => r._5 <= chosen._5), "winner does not maximize the score")
  }
}
