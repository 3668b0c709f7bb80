package graft

import org.apache.spark.sql.functions._
import graft.operators.Quality

class QualitySpec extends SparkTestBase {

  test("dq_profile: one single-column scan per profiled column, no Expand") {
    // r15 optimization: the old single-aggregate form packed seven
    // countDistinct into one agg, which Catalyst rewrites to an
    // Expand ×8 of the full scan (every expanded row carries every
    // profiled column). The union-of-branches form plans one
    // SINGLE-COLUMN pruned scan per profiled column, no Expand, and
    // the independent branches schedule concurrently (measured
    // 4.0 → 2.6 s at sf0.1). This pins the new shape: exactly
    // |profiled| scans, none reading more than one column, zero
    // Expand nodes.
    val plan = Quality.dqProfile(spark, sf).queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == Quality.profiledSize,
      s"expected ${Quality.profiledSize} single-column lineitem scans (one per profiled column), got $scans:\n$plan")
    assert(!plan.contains("Expand"), s"multi-distinct Expand is back:\n$plan")
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    readSchemas.foreach { rs =>
      assert(rs.count(_ == ':') == 1, s"branch scan reads more than one column: $rs")
    }
  }

  test("dq_profile: metric sanity — bounds ordered, distincts bounded by rows") {
    val df = Quality.dqProfile(spark, sf).cache()
    assert(df.count() == 7)
    assert(df.filter(col("n_distinct") > col("n_rows") - col("n_nulls")).count() == 0)
    assert(df.filter(col("num_min") > col("num_max")).count() == 0)
    assert(df.filter(col("len_min") > col("len_max")).count() == 0)
    // every row carries exactly one of (numeric range | length range)
    assert(df.filter(col("num_min").isNotNull && col("len_min").isNotNull).count() == 0)
    assert(df.filter(col("num_min").isNull && col("len_min").isNull).count() == 0)
    df.unpersist()
  }

  test("dq rules: referential integrity holds and rules fuse into per-table passes") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Quality.dqRules(spark, sf).cache()
    assert(df.count() == 6)
    assert(df.filter(col("violations") > col("n_checked")).count() == 0)
    // the generated TPC-H-ish data is referentially intact
    val fk = df.filter(col("rule") === "orders_custkey_references_customer").collect()(0)
    assert(fk.getBoolean(fk.fieldIndex("pass")), s"FK rule should pass: $fk")
    // rule fusion: the whole suite plans only one scan per base table + the FK join
    val scans = countScans(plan("dq_rules"))
    assert(scans <= 5, s"rules over one table must share its scan, got $scans scans")
    df.unpersist()
  }

  test("PSI: buckets complete, terms non-negative-ish and total small for a stable split") {
    val df = Quality.driftPsi(spark, sf).cache()
    assert(df.count() == Quality.PsiBuckets)
    // (p-q)ln(p/q) >= 0 always (same sign factors)
    assert(df.filter(col("psi_term") < -1e-6).count() == 0)
    // all orders land in exactly one bucket
    val n = graft.sources.Tables.orders(spark, sf).count()
    assert(df.agg(sum(col("c_ref") + col("c_scr"))).head.getLong(0) == n)
    df.unpersist()
  }

  test("dq_benford: digit shares form a distribution over 1..9") {
    val rows = run("dq_benford").orderBy("digit").collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to 9))
    val s = rows.map(_.getDouble(2)).sum
    assert(s > 0.995 && s <= 1.0001)
  }

  test("dq_outlier_iqr: fences bracket the quartiles and outliers are a minority") {
    val rows = run("dq_outlier_iqr").collect()
    rows.foreach { r =>
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(3)
        && r.getDouble(3) <= r.getDouble(5), s"fence order broken: $r")
      assert(r.getLong(6) + r.getLong(7) < r.getLong(1) / 2)
    }
  }
}
