package graft

import org.apache.spark.sql.functions._

/** Theta/KMV sketch invariants:
  * - below k retained values the estimate is the EXACT distinct count;
  * - union-of-sketches == sketch-of-union, exactly (the mergeability
  *   identity that makes per-group sketches roll up without touching
  *   raw keys);
  * - above k, the estimate lands within the KMV error envelope
  *   (~1/sqrt(k-2) relative, asserted at 3x) at sf0.01 where true
  *   per-group distinct (150) exceeds K (64).
  */
class SketchSpec extends SparkTestBase {

  private val sf01 = "/root/testdata/sf0.01"

  test("exact distinct count below k") {
    // sf0.001: 15 distinct users per event_type, well below K=64
    val rows = operators.Sketch.thetaDistinct(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = sources.Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    truth.foreach { case (et, n) =>
      assert(rows(et) == n, s"$et: est ${rows(et)} != exact $n")
    }
    val globalTruth = sources.Tables.events(spark, sf)
      .agg(countDistinct(col("user_id"))).collect().head.getLong(0).toDouble
    assert(rows("__all__") == globalTruth)
  }

  test("union of per-group sketches equals direct sketch of the union") {
    val k = operators.Sketch.K
    val hashed = sources.Tables.events(spark, sf01)
      .select(col("event_type"),
        expr(operators.Sketch.hash60("u", "user_id")).as("h"))
      .localCheckpoint()
    val direct = hashed.agg(expr(s"graft_theta(h, $k)")).collect()
      .head.getSeq[Long](0)
    val merged = hashed.groupBy(col("event_type"))
      .agg(expr(s"graft_theta(h, $k)").as("sk"))
      .select(explode(col("sk")).as("h"))
      .agg(expr(s"graft_theta(h, $k)")).collect()
      .head.getSeq[Long](0)
    assert(direct == merged,
      s"merge identity broken: direct=${direct.take(5)}... merged=${merged.take(5)}...")
  }

  test("sample sketch: union of per-group samples equals direct sample of the union") {
    val k = operators.Sketch.SampleK
    val hashed = sources.Tables.events(spark, sf01)
      .select(col("event_type"),
        expr(operators.Sketch.hash60("e", "event_id")).as("h"), col("value"))
      .localCheckpoint()
    val direct = hashed.agg(expr(s"graft_sample(h, value, $k)")).collect()
      .head.getSeq[org.apache.spark.sql.Row](0)
    val merged = hashed.groupBy(col("event_type"))
      .agg(expr(s"graft_sample(h, value, $k)").as("sk"))
      .select(explode(col("sk")).as("p"))
      .select(col("p.h").as("h"), col("p.v").as("value"))
      .agg(expr(s"graft_sample(h, value, $k)")).collect()
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(direct == merged, "sample merge identity broken")
    assert(direct.length == k, s"global sample should be full at sf0.01: ${direct.length}")
  }

  test("sample quantiles sit at the right quantile level of the true distribution") {
    // est p50/p90 per group: the fraction of TRUE group values <= the
    // estimate must lie near 0.5/0.9 (binomial 3-sigma at n=512 is
    // ~0.066 for p50, ~0.04 for p90)
    val est = operators.Sketch.sampleQuantile(spark, sf01)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val events = sources.Tables.events(spark, sf01)
      .select(col("event_type"), col("value")).localCheckpoint()
    est.filter(_._1 != "__all__").foreach { case (et, (p50, p90)) =>
      val grp = events.filter(col("event_type") === et)
      val n = grp.count().toDouble
      val f50 = grp.filter(col("value") <= p50).count() / n
      val f90 = grp.filter(col("value") <= p90).count() / n
      assert(math.abs(f50 - 0.5) < 0.08, s"$et p50 level $f50")
      assert(math.abs(f90 - 0.9) < 0.06, s"$et p90 level $f90")
    }
  }

  test("misra-gries candidates contain every true heavy hitter, within budget") {
    val k = operators.Sketch.HhK
    val toks = sources.Tables.documents(spark, sf01)
      .select(explode(expr(operators.TextAnalysis.toksExpr)).as("tok"))
      .localCheckpoint()
    val cand = toks.agg(expr(s"graft_mg(tok, $k)")).collect()
      .head.getSeq[String](0).toSet
    assert(cand.size <= k - 1, s"budget exceeded: ${cand.size}")
    val n = toks.count()
    val trueHh = toks.groupBy(col("tok")).count()
      .filter(col("count") * k > n)
      .collect().map(_.getString(0)).toSet
    assert(trueHh.nonEmpty, "precondition: corpus should have heavy hitters")
    assert(trueHh.subsetOf(cand),
      s"missed heavy hitters: ${trueHh -- cand}")
  }

  test("set ops: in the complete-sketch regime estimates ARE the exact set sizes") {
    import graft.operators.{Sketch, TextAnalysis}
    val out = Sketch.setOps(spark, sf).cache()
    assert(out.count() == 10) // C(5,2) source pairs
    assert(out.filter(col("est_intersection") > col("est_union")).count() == 0)
    // test corpus vocabularies are < K, so sketches hold the whole
    // sets: union/intersection estimates must equal the exact answers
    val toks = graft.sources.Tables.documents(spark, sf)
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("source"), explode(expr(TextAnalysis.toksExpr)).as("tok"))
      .distinct().cache()
    val a = toks.select(col("source").as("src_a"), col("tok"))
    val b = toks.select(col("source").as("src_b"), col("tok"))
    val exact = a.join(b, Seq("tok")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(countDistinct(col("tok")).cast("double").as("x_int"))
    val sizes = toks.groupBy(col("source")).agg(countDistinct(col("tok")).as("sz"))
    val checked = out.join(exact, Seq("src_a", "src_b"))
      .join(sizes.select(col("source").as("src_a"), col("sz").as("sza")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("sz").as("szb")), Seq("src_b"))
    assert(checked.filter(col("est_intersection") =!= col("x_int")).count() == 0,
      "complete sketches must give exact intersections")
    assert(checked.filter(col("est_union") =!= (col("sza") + col("szb") - col("x_int"))).count() == 0,
      "complete sketches must give exact unions")
    toks.unpersist(); out.unpersist()
  }

  test("estimator error within 3x KMV envelope above k") {
    val k = operators.Sketch.K
    val est = operators.Sketch.thetaDistinct(spark, sf01)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val truth = sources.Tables.events(spark, sf01)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    val bound = 3.0 / math.sqrt(k - 2.0) // ~38% at k=64
    truth.foreach { case (et, n) =>
      assert(n > k, s"precondition: $et should exceed k at sf0.01")
      val rel = math.abs(est(et) - n) / n
      assert(rel <= bound, s"$et: est ${est(et)} vs true $n, rel err $rel > $bound")
    }
  }

  test("bitmap distinct equals exact count(distinct) per group") {
    import org.apache.spark.sql.functions._
    val bm = graft.operators.Sketch.bitmapDistinct(spark, sf)
      .select("event_type", "n_users").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.sources.Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bm == exact, s"bitmap $bm vs exact $exact")
  }

  test("sketch_hll_distinct: measured error stays inside 3x the published 1.04/sqrt(m) bound") {
    val rows = run("sketch_hll_distinct").collect()
    val bound = (3.0 * 1.04 / math.sqrt(graft.operators.Sketch.HllM) * 1e4).toLong
    rows.foreach { r =>
      assert(r.getAs[Long]("err_x1e4") <= bound,
        s"HLL error past 3 sigma: $r (bound $bound)")
    }
  }

  test("sketch_bloom_fpp: split partitions the users; rates on their grids") {
    val r = run("sketch_bloom_fpp").head()
    val distinctUsers = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) == distinctUsers)
    assert(r.getLong(2) <= graft.operators.Sketch.BloomM)
    assert(r.getLong(4) <= r.getLong(1), "false positives bounded by probes")
    assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000L)
    assert(r.getLong(6) >= 0 && r.getLong(6) <= 1000000L)
  }
}
