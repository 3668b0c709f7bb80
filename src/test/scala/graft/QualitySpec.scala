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

  test("q_corr_matrix: six pairs, bounded correlations, self-consistency with corr()") {
    import spark.implicits._
    val rows = run("q_corr_matrix")
      .select("col_a", "col_b", "n", "corr")
      .as[(String, String, Long, Option[Double])].collect()
    assert(rows.length == 6)
    assert(rows.map(r => (r._1, r._2)).distinct.length == 6)
    // pairs follow measure declaration order (qty, price, disc, tax),
    // not alphabetical order
    val declared = Seq("qty" -> "price", "qty" -> "disc", "qty" -> "tax",
      "price" -> "disc", "price" -> "tax", "disc" -> "tax").toSet
    assert(rows.map(r => (r._1, r._2)).toSet == declared)
    rows.foreach { case (a, b, n, c) =>
      assert(n > 0)
      c.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($a,$b) corr $v"))
    }
    // cross-check one pair against Spark's own corr aggregate (float,
    // so compare loosely)
    val want = graft.sources.Tables.lineitem(spark, sf)
      .select(floor(col("l_quantity")).cast("long").cast("double").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").cast("double").as("y"))
      .agg(corr(col("x"), col("y"))).as[Double].collect().head
    val got = rows.find(r => r._1 == "price" && r._2 == "qty")
      .orElse(rows.find(r => r._1 == "qty" && r._2 == "price")).get._4.get
    assert(math.abs(got - want) < 1e-3, s"corr(qty, price) $got vs $want")
  }

  test("q_duplicate_payments: every pair is same-user same-amount inside the window") {
    import spark.implicits._
    val rows = run("q_duplicate_payments")
      .select("user_id", "amt", "ev_a", "ev_b", "hours_apart")
      .as[(Long, Long, Long, Long, Long)].collect()
    val purchases = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), floor(col("value")).cast("long").as("amt"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (u, amt, a, b, h) =>
      assert(a < b, "pair not anchored on the lower id")
      assert(purchases(a) == ((u, amt)) && purchases(b) == ((u, amt)),
        s"pair ($a,$b) members don't share (user, amount)")
      assert(h >= 0 && h <= 7 * 24, s"pair ($a,$b) outside the window")
    }
    assert(rows.map(p => (p._3, p._4)).distinct.length == rows.length, "duplicate pairs")
  }

  test("dq_volume_anomaly: flagged days truly exceed the robust 3-MAD band") {
    import spark.implicits._
    val rows = run("dq_volume_anomaly")
      .select("tbl", "day", "n", "med", "mad", "is_anomaly")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.forall(_._6), "non-anomalous rows leaked into the feed")
    rows.foreach { case (t, d, n, med, mad, _) =>
      assert(math.abs(n - med) > 3 * mad, s"($t,$d) inside the band")
      assert(mad >= 0 && med > 0)
    }
    // med/mad constant per table
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(r => (r._4, r._5)).distinct.length == 1, s"$t baseline not constant")
    }
  }
}
