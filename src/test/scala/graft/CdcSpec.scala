package graft

import org.apache.spark.sql.functions._
import graft.operators.Cdc
import graft.sources.Tables

/** Semantic invariants for the CDC apply (oracle parity is the
  * driver's gate; these check the merge semantics directly). */
class CdcSpec extends SparkTestBase {

  test("cdc_apply: tombstoned keys are gone, untouched keys keep the snapshot balance") {
    val out = Cdc.cdcApply(spark, sf).cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("o").desc, col("event_id").desc)
    val lastOps = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("o"), col("event_type"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val deleted = lastOps.filter(col("event_type") === "error")
      .select(col("user_id").as("entity_key"))
    assert(out.join(deleted, Seq("entity_key")).count() == 0,
      "keys whose final log op is a delete must not survive")
    // untouched snapshot keys pass through byte-identically
    val touched = Tables.events(spark, sf).select(col("user_id").as("entity_key")).distinct()
    val untouched = out.join(touched, Seq("entity_key"), "left_anti")
    val snap = Tables.customer(spark, sf)
      .select(col("c_custkey").as("entity_key"), round(col("c_acctbal"), 2).as("snap_bal"))
    val drift = untouched.join(snap, Seq("entity_key"))
      .filter(col("balance") =!= col("snap_bal") || col("last_op") =!= "-" || col("log_ops") =!= 0)
    assert(drift.count() == 0, "untouched keys carry the snapshot forward unchanged")
    out.unpersist()
  }

  test("cdc_apply: last-writer-wins is an aggregation, not a log-wide window sort") {
    val plan = Cdc.cdcApply(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "LWW must combine map-side via max(struct), not sort a window")
  }

  test("cdc_reconcile: buckets partition both sides; drift is detected and localized") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Cdc.reconcile(spark, sf)
      .select("bucket", "n_snapshot", "digest_snapshot", "n_applied", "digest_applied",
        "in_sync")
      .as[(Int, Long, String, Long, String, Boolean)].collect()
    assert(rows.length <= Cdc.ReconcileBuckets)
    // bucket counts partition each side's keyspace
    val nSnap = graft.sources.Tables.customer(spark, sf).count()
    val nApplied = Cdc.cdcApply(spark, sf).count()
    assert(rows.map(_._2).sum == nSnap)
    assert(rows.map(_._4).sum == nApplied)
    // the CDC log really changed balances: at least one bucket drifted,
    // and in_sync is exactly the (count, digest) conjunction
    assert(rows.exists(!_._6), "expected drift between snapshot and applied state")
    rows.foreach { case (_, ns, ds, na, da, sync) =>
      assert(sync == (ns == na && ds == da))
    }
  }

  // ------------------------------------------------------- late arrivals

  test("cdc_late_arriving retroactively splices intervals and equals the rebuild") {
    val hour = 3600L
    // user 1: batch-1 changes at h=1 (id 1) and h=5 (id 2); the LATE
    // batch-2 change (id 10, h=3) must close (1..5) into (1..3)(3..5)
    // user 2: batch-1 only (id 3) — untouched by the increment
    val dir = writeEvents(Seq(
      (1L, 1 * hour, 1L, "update", 10.0),
      (2L, 5 * hour, 1L, "update", 20.0),
      (3L, 2 * hour, 2L, "update", 30.0),
      (10L, 3 * hour, 1L, "update", 15.0)))
    val got = graft.operators.Cdc.cdcLateArriving(spark, dir)
      .orderBy("entity_key", "from_sec", "event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    val want = Seq(
      (1L, 1 * hour, 1L, 10.0, 3 * hour),   // spliced: to_sec moved 5h -> 3h
      (1L, 3 * hour, 10L, 15.0, 5 * hour),  // the late row's new interval
      (1L, 5 * hour, 2L, 20.0, -1L),        // still open
      (2L, 2 * hour, 3L, 30.0, -1L))        // unaffected entity untouched
    assert(got.toSeq == want, s"got=${got.toSeq}")
  }
}
