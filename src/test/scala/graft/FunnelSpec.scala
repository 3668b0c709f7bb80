package graft

import org.apache.spark.sql.functions._
import graft.operators.Funnel

class FunnelSpec extends SparkTestBase {

  test("funnel: stage times are ordered and stage k implies stage k-1") {
    val df = Funnel.funnelStages(spark, sf).cache()
    assert(df.filter(col("stage") >= 2 && col("first_qual_click") < col("first_view")).count() == 0)
    assert(df.filter(col("stage") === 3 &&
      col("first_qual_purchase") < col("first_qual_click")).count() == 0)
    assert(df.filter(col("stage") >= 2 && col("first_view").isNull).count() == 0)
    assert(df.filter(col("stage") === 3 && col("first_qual_click").isNull).count() == 0)
    // the funnel narrows (weakly) stage over stage
    val counts = (1 to 3).map(k => df.filter(col("stage") >= k).count())
    assert(counts(0) >= counts(1) && counts(1) >= counts(2))
    df.unpersist()
  }

  test("funnel: one entity-keyed shuffle feeds both window passes and the aggregation") {
    val plan = Funnel.funnelStages(spark, sf).queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected a single user_id shuffle, got $shuffles")
  }

  test("attribution: every purchase appears once; credit is 1/n_touches") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Funnel.attributionLinear(spark, sf).cache()
    val purchases = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase").count()
    assert(df.count() == purchases)
    assert(df.filter(col("n_touches") === 0 && col("credit_per_touch").isNotNull).count() == 0)
    assert(df.filter(col("n_touches") > 0 &&
      abs(col("credit_per_touch") * col("n_touches") - 1.0) > 0.01).count() == 0)
    df.unpersist()
  }

  test("top paths: exactly 10 ranked paths; user counts bounded by occurrences") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Funnel.topPaths(spark, sf).cache()
    assert(df.count() == 10)
    assert(df.filter(col("n_users") > col("n")).count() == 0)
    val rks = df.select("rk").collect().map(_.getInt(0)).sorted.toSeq
    assert(rks == (1 to 10), s"ranks must be dense: $rks")
    df.unpersist()
  }
  test("position attribution: credits always total exactly 10000 bp") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Funnel.attributionPosition(spark, sf).cache()
    val attributed = df.filter(col("n_touches") > 0)
    assert(attributed.count() > 0)
    val bad = attributed.filter(
      col("first_bp") + col("last_bp")
        + col("mid_each_bp") * greatest(col("n_touches") - 2, lit(0L)) =!= 10000L)
    assert(bad.count() == 0, "U-shaped credit must be conservative")
    assert(df.filter(col("n_touches") === 0 && col("first_bp").isNotNull).count() == 0)
    df.unpersist()
  }

  test("events_sequence_match: one row per user, sequences cover every event") {
    val df = run("events_sequence_match").cache()
    val events = graft.sources.Tables.events(spark, sf)
    assert(df.count() == events.select(col("user_id")).distinct().count())
    assert(df.agg(sum(col("seq_len"))).head.getLong(0) == events.count())
    assert(df.filter(col("funnel_match")).count() > 0)
    df.unpersist()
  }

  test("attribution_markov: removal always hurts, attribution is a normalized split") {
    import spark.implicits._
    val rows = run("attribution_markov")
      .select("channel", "p_conv_full", "p_conv_removed", "removal_effect", "attribution")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == graft.operators.Funnel.AttrChannels.sorted)
    val pFull = rows.head._2
    assert(rows.forall(_._2 == pFull), "arms disagree on the full-chain conversion prob")
    assert(pFull > 0 && pFull <= 1.0)
    rows.foreach { case (c, pf, pr, re, at) =>
      assert(pr >= 0 && pr <= pf + 1e-9, s"$c removal should not raise conversion")
      assert(re >= 0 && re <= pf + 1e-9, s"$c removal effect out of range")
      assert(at >= 0 && at <= 1.0, s"$c attribution out of range")
    }
    val atSum = rows.map(_._5).sum
    assert(atSum > 0.99 && atSum <= 1.0 + 1e-9, s"attribution shares sum to $atSum")
  }

  test("funnel_conversion_ci: Wilson interval brackets p-hat and stays in [0,1]") {
    val rows = run("funnel_conversion_ci").collect()
    assert(rows.length == 3)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val (p, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo >= 0.0 && hi <= 1.0, s"interval escaped [0,1]: [$lo, $hi]")
      assert(lo <= p && p <= hi, s"p=$p outside [$lo, $hi]")
      assert(r.getLong(2) <= r.getLong(1), "k bounded by n (monotone stages)")
    }
  }
}
