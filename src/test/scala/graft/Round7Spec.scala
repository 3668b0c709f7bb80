package graft

import org.apache.spark.sql.functions._

/** Structural invariants for the round-7 operators — properties the
  * hash oracle can't express (conservation laws, boundedness,
  * convergence), each one line of intent per entry. */
class Round7Spec extends SparkTestBase {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("mm_aspect_bucket: every image lands in exactly one of the 9 ladder buckets") {
    val df = run("mm_aspect_bucket").cache()
    assert(df.count() == 9)
    val images = graft.operators.Multimodal.meta(spark, sf)
      .filter(col("modality") === "image").count()
    assert(df.agg(sum(col("n_images"))).head.getLong(0) == images)
    // batches cover the images: n_batches*32 >= n_images > (n_batches-1)*32
    assert(df.filter(col("n_images") > col("n_batches") * 32 ||
      (col("n_images") > 0 && col("n_images") <= (col("n_batches") - 1) * 32)).count() == 0)
    df.unpersist()
  }

  test("events_markov_steady: mass is conserved up to fixed-point floor loss") {
    val rows = run("events_markov_steady").collect()
    assert(rows.length == 5)
    val share = rows.map(_.getDouble(2)).sum
    assert(share > 0.995 && share <= 1.0001, s"share sum $share")
    assert(rows.forall(_.getLong(1) > 0), "a steady-state rank collapsed to zero")
  }

  test("dq_benford: digit shares form a distribution over 1..9") {
    val rows = run("dq_benford").orderBy("digit").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    val s = rows.map(_.getDouble(2)).sum
    assert(s > 0.995 && s <= 1.0001)
  }

  test("stream_rate_limit: accepted + rejected == events per user, and pressure is real") {
    val df = run("stream_rate_limit").cache()
    assert(df.filter(col("n_accepted") + col("n_rejected") =!= col("n_events")).count() == 0)
    assert(df.agg(sum(col("n_rejected"))).head.getLong(0) > 0, "limiter never fired")
    assert(df.count() ==
      graft.sources.Tables.events(spark, sf).select(col("user_id")).distinct().count())
    df.unpersist()
  }

  test("split_temporal: the three splits partition the corpus and the embargo is non-empty") {
    val rows = run("split_temporal").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("embargo", "test", "train"))
    assert(rows.map(_.getLong(1)).sum ==
      graft.sources.Tables.events(spark, sf).count())
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("dq_outlier_iqr: fences bracket the quartiles and outliers are a minority") {
    val rows = run("dq_outlier_iqr").collect()
    rows.foreach { r =>
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3)
        && r.getDouble(3) <= r.getDouble(5), s"fence order broken: $r")
      assert(r.getLong(6) + r.getLong(7) < r.getLong(1) / 2)
    }
  }

  test("ann_index_drift: both assignments cover the corpus; stays never exceed either side") {
    val df = run("ann_index_drift").cache()
    val corpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(df.agg(sum(col("n_old"))).head.getLong(0) == corpus)
    assert(df.agg(sum(col("n_new"))).head.getLong(0) == corpus)
    assert(df.filter(col("n_stay") > least(col("n_old"), col("n_new"))).count() == 0)
    df.unpersist()
  }

  test("pack_curriculum: three phases spend the full token budget") {
    val rows = run("pack_curriculum").orderBy("phase").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val s = rows.map(_.getDouble(3)).sum
    assert(s > 0.995 && s <= 1.0001)
    // curriculum is ordered: phase 1's floor is at least phase 3's
    assert(rows.head.getDouble(5) >= rows.last.getDouble(5))
  }

  test("metrics_histogram_stddev: moments cover every sample, stddev bounded by the range") {
    val df = run("metrics_histogram_stddev").cache()
    assert(df.agg(sum(col("n_samples"))).head.getLong(0) ==
      graft.sources.Tables.events(spark, sf).count())
    assert(df.filter(col("stddev_mid") < 0 || col("stddev_mid") > 256).count() == 0)
    df.unpersist()
  }

  test("cohort_rfm_migration: the matrix accounts for every customer exactly once") {
    val df = run("cohort_rfm_migration").cache()
    val custs = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(df.agg(sum(col("n_customers"))).head.getLong(0) == custs)
    // no (0,0) cell: a customer absent from both periods doesn't exist
    assert(df.filter(col("tier_a") === 0 && col("tier_b") === 0).count() == 0)
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
}
