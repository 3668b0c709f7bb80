package graft

import org.apache.spark.sql.functions._
import graft.operators.Prune
import graft.sources.Tables

/** Scan-reduction semantics: the bloom filter must actually shrink the
  * shuffled side, and set-op cohorts must partition the base set. */
class PruneSpec extends SparkTestBase {

  test("bloom prune passes few non-matching fact rows") {
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select("o_orderkey")
    assert(dim.count() > 0, "dim filter should keep some orders at sf0.001")
    val bf = dim
      .agg(expr("graft_bloom_agg(xxhash64(o_orderkey), 1048576L, 8388608L)").as("bf"))
      .scalar()
    val li = Tables.lineitem(spark, sf)
    val total = li.count()
    val pruned = li
      .filter(call_function("graft_might_contain", bf, xxhash64(col("l_orderkey"))))
      .count()
    val matched = li.join(dim, col("l_orderkey") === col("o_orderkey")).count()
    assert(pruned >= matched, "bloom filters have no false negatives")
    // false-positive overhead stays near fpp: pruned ≈ matched, both ≪ total
    assert(pruned < matched + 0.05 * total + 10,
      s"bloom should pass ~matched rows (pruned=$pruned matched=$matched total=$total)")
    assert(pruned < total / 2, s"bloom should prune most of the fact ($pruned of $total)")
  }

  test("bloom probe is the native runtime-filter expression, not a UDF") {
    val plan = Prune.bloomJoinPrune(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "native Bloom probe should plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      "probe must stay inside codegen — no UDF nodes")
  }

  test("set-op cohorts partition the 1995 customer set") {
    val o = Tables.orders(spark, sf).select(col("o_custkey"),
      year(col("o_orderdate")).as("y"))
    val y95 = o.filter(col("y") === 1995).select("o_custkey").distinct()
    val y96 = o.filter(col("y") === 1996).select("o_custkey").distinct()
    val churned = y95.except(y96).count()
    val retained = y95.intersect(y96).count()
    assert(churned + retained == y95.count(),
      "EXCEPT and INTERSECT partition the base set")
    val out = Prune.setOps(spark, sf)
      .groupBy("cohort").agg(sum("customers").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.getOrElse("churned", 0L) == churned)
    assert(out.getOrElse("retained", 0L) == retained)
  }

  test("sink_manifest_prune: clustering skips files; hash placement scans everything") {
    import spark.implicits._
    val rows = run("sink_manifest_prune")
      .select("layout", "n_files", "files_scanned", "rows_total", "rows_scanned",
        "rows_matched", "scan_share")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val byLayout = rows.map(r => r._1 -> r).toMap
    assert(byLayout.keySet == Set("clustered", "hash"))
    rows.foreach { case (l, nf, fs, rt, rs, rm, share) =>
      assert(fs <= nf, s"$l scanned more files than exist")
      assert(rm <= rs && rs <= rt, s"$l row accounting broken")
      assert(share >= 0 && share <= 1)
    }
    // both layouts hold the same corpus and the same predicate
    assert(byLayout("clustered")._4 == byLayout("hash")._4)
    assert(byLayout("clustered")._6 == byLayout("hash")._6)
    // the whole point: clustered min/max prune beats hash placement
    assert(byLayout("clustered")._7 < byLayout("hash")._7,
      "clustered layout failed to out-prune hash placement")
    // hash files span wide ranges → most survive pruning (all of them
    // once files hold enough rows; sparse sf0.001 files can miss)
    assert(byLayout("hash")._3 * 2 > byLayout("hash")._2,
      "hash placement pruned more than half its files — layout not wide-range")
  }
}
