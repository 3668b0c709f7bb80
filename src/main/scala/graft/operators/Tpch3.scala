package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics core, part 3: the TPC-H partsupp family (Q2/Q11/Q20) —
  * the min-cost-supplier correlated subquery, the value-share HAVING,
  * and the quantity-threshold semi-join — over a DERIVED partsupp.
  *
  * The driver's reduced star schema ships no partsupp table, so one is
  * derived deterministically from lineitem: the distinct
  * (l_partkey, l_suppkey) pairs each get availqty/supplycost from the
  * suite's engine-portable seedless md5 idiom (same contract as the
  * split/sample family: `conv(substr(md5(key),...),16,10)` in Spark ==
  * `('0x' || substr(md5(key),...))::BIGINT` in DuckDB). Costs are kept
  * in exact integer CENTS end to end — every aggregate, threshold and
  * comparison below is BIGINT arithmetic, so oracle parity is exact by
  * construction (no float rounding surface at all).
  *
  * Scale: the derivation is one distinct over (partkey, suppkey) —
  * |parts|×|suppliers-per-part|, far smaller than lineitem — and every
  * query keys its shuffles on ps_partkey (Q2/Q11 aggregate-per-part,
  * Q20 joins pre-aggregated lineitem on the same composite key).
  */
object Tpch3 {

  type Q = (SparkSession, String) => DataFrame

  /** Derived partsupp over any lineitem subset: distinct supply pairs
    * + hash-derived ps_availqty ∈ [1, 9999] and ps_supplycost_cents ∈
    * [100, 100000] (1.00–1000.00 in cents), from disjoint md5 hex
    * windows. Because each pair's values are a pure content hash,
    * deriving from a FILTERED lineitem yields exactly the full
    * table's rows for the surviving pairs — queries that join
    * partsupp against a selective key set can push that filter ahead
    * of the distinct shuffle (q20 does). */
  def partsuppOf(li: DataFrame): DataFrame = {
    val k = md5(concat(lit("ps:"), col("ps_partkey").cast("string"),
      lit(":"), col("ps_suppkey").cast("string")))
    li.select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .withColumn("k", k)
      .select(col("ps_partkey"), col("ps_suppkey"),
        (conv(substring(col("k"), 1, 8), 16, 10).cast("long") % 9999L + 1L)
          .as("ps_availqty"),
        (conv(substring(col("k"), 9, 8), 16, 10).cast("long") % 99901L + 100L)
          .as("ps_supplycost_cents"))
  }

  def partsupp(s: SparkSession, d: String): DataFrame =
    partsuppOf(Tables.lineitem(s, d))

  /** The same derivation as a DuckDB CTE (text-identical hash recipe). */
  val partsuppCte: String =
    """partsupp AS (
         SELECT ps_partkey, ps_suppkey,
                1 + ('0x' || substring(md5('ps:' || CAST(ps_partkey AS VARCHAR) || ':' || CAST(ps_suppkey AS VARCHAR)), 1, 8))::BIGINT % 9999 AS ps_availqty,
                100 + ('0x' || substring(md5('ps:' || CAST(ps_partkey AS VARCHAR) || ':' || CAST(ps_suppkey AS VARCHAR)), 9, 8))::BIGINT % 99901 AS ps_supplycost_cents
         FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
               FROM lineitem))"""

  /** Q2-style minimum-cost supplier: for every LARGE part, the
    * EUROPE supplier(s) offering it at the region's minimum supply
    * cost, ranked by account balance. The classic correlated scalar
    * subquery (`ps_supplycost = (SELECT min(...) WHERE same part)`)
    * becomes a min-over-partkey window on the region-eligible supply
    * set — one shuffle on ps_partkey, no self-join, no recomputation
    * of the eligible set. Dims broadcast; cost min is BIGINT-exact. */
  def q2MinCostSupplier: Q = (s, d) => {
    val eu = Tables.region(s, d).filter(col("r_name") === "EUROPE").select("r_regionkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
      .join(broadcast(eu), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    val prt = Tables.part(s, d).filter(col("p_type") === "LARGE")
      .select("p_partkey", "p_brand")
    // both dims are selective and broadcastable: prune lineitem to
    // eligible (LARGE part, EUROPE supplier) pairs BEFORE the distinct
    // shuffle — the content-hash derivation makes the subset exact
    val eligible = partsuppOf(Tables.lineitem(s, d)
        .join(broadcast(prt.select("p_partkey")), col("l_partkey") === col("p_partkey"), "left_semi")
        .join(broadcast(sup.select("s_suppkey")), col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(prt), col("ps_partkey") === col("p_partkey"))
    val minCost = min(col("ps_supplycost_cents"))
      .over(Window.partitionBy(col("ps_partkey")))
    eligible.withColumn("min_cents", minCost)
      .filter(col("ps_supplycost_cents") === col("min_cents"))
      .select(round(col("s_acctbal"), 2).as("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_brand"), col("s_suppkey"),
        col("ps_supplycost_cents"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  val q2Sql: String =
    s"""WITH $partsuppCte,
        eu_sup AS (
          SELECT s_suppkey, s_name, s_acctbal, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
                        JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'),
        eligible AS (
          SELECT ps.*, s.s_name, s.s_acctbal, s.n_name, p.p_brand,
                 min(ps_supplycost_cents) OVER (PARTITION BY ps_partkey) AS min_cents
          FROM partsupp ps
          JOIN eu_sup s ON ps_suppkey = s_suppkey
          JOIN part p ON ps_partkey = p_partkey
          WHERE p.p_type = 'LARGE')
        SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
               ps_partkey AS p_partkey, p_brand, ps_suppkey AS s_suppkey,
               ps_supplycost_cents
        FROM eligible WHERE ps_supplycost_cents = min_cents
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
        LIMIT 100"""

  /** Q11-style important stock: per-part inventory value (availqty ×
    * supplycost, exact cents) held by NATION_3 suppliers, keeping
    * parts whose value exceeds 1/10000 of the nation's total. The
    * global total rides a single-row broadcast (the suite's
    * global-bound idiom) and the HAVING compares
    * `part_value * 10000 > total` in BIGINT — no float fraction. */
  def q11ImportantStock: Q = (s, d) => {
    val natSup = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")
        .select("n_nationkey")), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    // the nation holds ~1/25 of suppliers: semi-join lineitem down to
    // their pairs BEFORE the distinct shuffle (content-hash derivation
    // keeps the subset exact)
    val held = partsuppOf(Tables.lineitem(s, d)
        .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"), "left_semi"))
      .join(broadcast(natSup), col("ps_suppkey") === col("s_suppkey"))
      .select(col("ps_partkey"),
        (col("ps_availqty") * col("ps_supplycost_cents")).as("value_cents"))
    val perPart = held.groupBy(col("ps_partkey"))
      .agg(sum(col("value_cents")).as("value_cents"))
    val total = perPart.agg(sum(col("value_cents")).as("total_cents"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_cents") * 10000L > col("total_cents"))
      .select(col("ps_partkey"), col("value_cents"))
  }

  val q11Sql: String =
    s"""WITH $partsuppCte,
        held AS (
          SELECT ps_partkey, ps_availqty * ps_supplycost_cents AS value_cents
          FROM partsupp
          JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'),
        per_part AS (
          SELECT ps_partkey, sum(value_cents) AS value_cents
          FROM held GROUP BY ps_partkey)
        SELECT ps_partkey, CAST(value_cents AS BIGINT) AS value_cents
        FROM per_part
        WHERE value_cents * 10000 > (SELECT sum(value_cents) FROM per_part)
        ORDER BY value_cents DESC, ps_partkey"""

  /** Q20-style excess inventory: EUROPE suppliers holding more than
    * half a year's shipped quantity of some small* part
    * (`ps_availqty > 0.5 × qty_1996`, compared as `2·availqty >
    * qty` in BIGINT — quantities are integral). Lineitem is
    * pre-aggregated on exactly the (partkey, suppkey) key the
    * partsupp join needs, so the join is co-keyed; the part-name
    * filter broadcasts and prunes before the aggregation shuffle. */
  def q20ExcessInventory: Q = (s, d) => {
    val prt = Tables.part(s, d).filter(col("p_name").startsWith("small"))
      .select("p_partkey")
    val qty = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).cast("long").as("qty"))
    // content-hash derivation ⇒ pre-filtering lineitem to small* parts
    // yields exactly the full partsupp's rows for the pairs the inner
    // join below can keep — the part filter prunes BEFORE the distinct
    // shuffle instead of after it
    val excess = partsuppOf(Tables.lineitem(s, d)
        .join(broadcast(prt), col("l_partkey") === col("p_partkey")))
      .join(qty, col("ps_partkey") === col("l_partkey") &&
        col("ps_suppkey") === col("l_suppkey"))
      .filter(col("ps_availqty") * 2L > col("qty"))
      .select(col("ps_suppkey")).distinct()
    val euNat = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")
        .select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    Tables.supplier(s, d)
      .join(broadcast(euNat), col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  val q20Sql: String =
    s"""WITH $partsuppCte,
        qty AS (
          SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
            AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          GROUP BY l_partkey, l_suppkey),
        excess AS (
          SELECT DISTINCT ps_suppkey
          FROM partsupp
          JOIN qty ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
          WHERE ps_availqty * 2 > qty)
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND s_suppkey IN (SELECT ps_suppkey FROM excess)
        ORDER BY s_suppkey"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q2_min_cost_supplier", q2MinCostSupplier, Some(q2Sql)),
    ("q11_important_stock", q11ImportantStock, Some(q11Sql)),
    ("q20_excess_inventory", q20ExcessInventory, Some(q20Sql)))
}
