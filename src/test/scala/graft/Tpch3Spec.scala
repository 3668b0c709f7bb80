package graft

import org.apache.spark.sql.functions._
import graft.operators.Tpch3

/** Structural invariants for the partsupp family — properties the hash
  * oracle can't express (derivation determinism, the correlated-min
  * contract, threshold conservation). */
class Tpch3Spec extends SparkTestBase {

  test("partsupp derivation: one row per distinct supply pair, values in range") {
    val ps = Tpch3.partsupp(spark, sf).cache()
    val pairs = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey", "l_suppkey").distinct().count()
    assert(ps.count() == pairs)
    assert(ps.filter(col("ps_availqty") < 1 || col("ps_availqty") > 9999).count() == 0)
    assert(ps.filter(col("ps_supplycost_cents") < 100 ||
      col("ps_supplycost_cents") > 100000).count() == 0)
    // partitioning-independent: the same pair hashes to the same values
    val again = Tpch3.partsupp(spark, sf).repartition(7)
    assert(ps.exceptAll(again).count() == 0 && again.exceptAll(ps).count() == 0)
    ps.unpersist()
  }

  test("partsuppOf(filtered lineitem) == filtered full derivation (pushdown soundness)") {
    val li = graft.sources.Tables.lineitem(spark, sf)
    val a = Tpch3.partsuppOf(li.filter(col("l_suppkey") % 7 === 0))
    val b = Tpch3.partsupp(spark, sf).filter(col("ps_suppkey") % 7 === 0)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("q2: every surviving row carries its part's minimum eligible cost") {
    val out = run("q2_min_cost_supplier").cache()
    assert(out.count() > 0)
    // per part, all emitted costs are equal (they are THE minimum)
    assert(out.groupBy(col("p_partkey"))
      .agg(countDistinct(col("ps_supplycost_cents")).as("n"))
      .filter(col("n") =!= 1).count() == 0)
    out.unpersist()
  }

  test("q11: exactly the parts clearing 1/10000 of the nation total survive") {
    val kept = run("q11_important_stock").cache()
    assert(kept.count() > 0)
    // recompute the unfiltered per-part values and the nation total
    val natSup = graft.sources.Tables.supplier(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_3").select("s_suppkey")
    val perPart = Tpch3.partsupp(spark, sf)
      .join(natSup, col("ps_suppkey") === col("s_suppkey"))
      .groupBy(col("ps_partkey"))
      .agg(sum(col("ps_availqty") * col("ps_supplycost_cents")).as("v"))
      .cache()
    val total = perPart.agg(sum(col("v"))).head.getLong(0)
    val expected = perPart.filter(col("v") * 10000L > total)
      .select(col("ps_partkey").as("exp_partkey"))
    assert(kept.count() == expected.count())
    assert(kept.join(expected, col("ps_partkey") === col("exp_partkey"),
      "left_anti").count() == 0)
    perPart.unpersist(); kept.unpersist()
  }

  test("q20: emitted suppliers are EUROPE suppliers with a genuine excess pair") {
    val out = run("q20_excess_inventory")
    val n = out.count()
    assert(n > 0, "q20 should be non-empty at sf0.001")
    // subset of EUROPE suppliers
    val eu = graft.sources.Tables.supplier(spark, sf)
      .join(graft.sources.Tables.nation(spark, sf),
        col("s_nationkey") === col("n_nationkey"))
      .join(graft.sources.Tables.region(spark, sf),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE").select("s_suppkey")
    assert(out.join(eu, Seq("s_suppkey"), "left_anti").count() == 0)
  }
}
