package graft

import org.apache.spark.sql.functions._
import graft.operators.Models

class ModelsSpec extends SparkTestBase {

  test("model registry: walk-forward split leaks nothing and the registry is broadcast") {
    val df = Models.registryScore(spark, sf).cache()
    // every scored hour lies strictly after the 480-hour training window
    val h0 = graft.sources.Tables.events(spark, sf)
      .agg(min((floor(unix_timestamp(col("ts")) / 3600)).cast("long")).as("x0"))
      .collect()(0).getLong(0)
    val leaked = df.filter(expr("hour_sec DIV 3600") - h0 < Models.TrainHours)
    assert(leaked.count() == 0, "scored rows must be outside the training window")
    // residual algebra holds after the display floor
    assert(df.filter(abs(col("residual") - (col("avg_value") - col("predicted"))) > 1e-9)
      .count() == 0)
    // the registry side is a broadcast join — no shuffle proportional to the fact
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"registry must broadcast:\n$plan")
    // all five series trained (480 hourly points >> the 12-point minimum)
    assert(df.select("event_type").distinct().count() == 5)
    df.unpersist()
  }

  test("decile lift: partition of the population, monotone capture, lift sanity") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.operators.Models.decileLift(spark, sf).orderBy("decile").cache()
    val rows = df.select("decile", "n", "n_pos", "cum_n", "cum_pos", "capture", "cum_lift")
      .as[(Int, Long, Long, Long, Long, Double, Double)].collect()
    assert(rows.length == graft.operators.Models.LiftBuckets)
    // deciles partition the orders table
    val orders = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.map(_._2).sum == orders)
    assert(rows.last._4 == orders, "cum_n at decile 10 is the population")
    // positives conserved and capture monotone, ending at ~1.0
    assert(rows.map(_._3).sum == rows.last._5)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._6 <= b._6, "capture is cumulative") }
    assert(math.abs(rows.last._6 - 1.0) < 1.1e-4)
    // final cumulative lift is 1 by construction (whole population)
    assert(math.abs(rows.last._7 - 1.0) < 1.1e-4)
    // per-decile counts are balanced within ties (each ~10% of population)
    assert(rows.forall(r => r._2 > 0))
    df.unpersist()
  }

  test("model_precision_recall: recall is non-increasing and precision well-formed across thresholds") {
    val rows = run("model_precision_recall")
      .orderBy("threshold_cents").collect()
    assert(rows.length == graft.operators.Models.PrThresholds.size)
    val recalls = rows.map(_.getAs[Long]("recall_x1e6")).toSeq
    assert(recalls == recalls.sorted.reverse,
      s"recall must fall as the threshold rises: $recalls")
    rows.foreach { r =>
      val p = r.getAs[Any]("precision_x1e6")
      if (p != null) {
        val pv = p.asInstanceOf[Long]
        assert(pv >= 0L && pv <= 1000000L, s"precision out of range: $r")
      }
      assert(r.getAs[Long]("tp") + r.getAs[Long]("fn") ==
        rows.head.getAs[Long]("tp") + rows.head.getAs[Long]("fn"),
        "tp + fn must equal the positive total at every threshold")
    }
  }

  test("model_auc_roc agrees with a brute-force pair count on a sample") {
    import org.apache.spark.sql.functions._
    val r = run("model_auc_roc").head()
    val auc = r.getAs[Long]("auc_x1e6")
    assert(auc > 0L && auc < 1000000L)
    // brute force on the small sf0.001 feed: P(pos > neg) + P(=)/2
    val ev = graft.sources.Tables.events(spark, sf)
      .select(floor(col("value") * 100).cast("long").as("c"),
        (col("event_type") === "purchase").as("pos")).collect()
    val pos = ev.filter(_.getBoolean(1)).map(_.getLong(0))
    val neg = ev.filterNot(_.getBoolean(1)).map(_.getLong(0))
    val negSorted = neg.sorted
    def countLt(v: Long): Long = {
      var lo = 0; var hi = negSorted.length
      while (lo < hi) { val m = (lo + hi) >>> 1
        if (negSorted(m) < v) lo = m + 1 else hi = m }
      lo.toLong
    }
    def countLe(v: Long): Long = {
      var lo = 0; var hi = negSorted.length
      while (lo < hi) { val m = (lo + hi) >>> 1
        if (negSorted(m) <= v) lo = m + 1 else hi = m }
      lo.toLong
    }
    val auc2 = pos.map(v => countLt(v) + countLe(v)).sum // 2·lt + eq
    val expect = auc2 * 1000000L / (2L * pos.length * neg.length)
    assert(auc == expect, s"AUC mismatch: entry $auc vs brute force $expect")
  }
}
