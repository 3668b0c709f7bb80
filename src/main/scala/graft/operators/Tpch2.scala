package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Analytics core, part 2: the joins-and-subqueries end of the TPC-H
  * family, adapted to the driver's reduced star schema (no partsupp,
  * no commit/receipt dates — substitutions noted per query).
  *
  * Same design rules as [[Tpch]]: declarative plans, dims broadcast,
  * semi/anti joins instead of IN/EXISTS rewrites, scalar subqueries as
  * broadcast single-row joins, doubles rounded for oracle parity.
  */
object Tpch2 {

  type Q = (SparkSession, String) => DataFrame

  private def ts(s: String) = lit(s).cast("timestamp")

  /** Q7-style volume shipping between two nations, by year.
    * Nation dims broadcast twice (supplier side, customer side). */
  def q7VolumeShipping: Q = (s, d) => {
    val n1 = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate").between(ts("1996-01-01"), ts("1997-12-31")))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .filter(col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4") &&
        col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4") &&
        col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  val q7Sql: String =
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume),2) AS revenue FROM (
         SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(year(l_shipdate) AS INT) AS l_year,
                l_extendedprice*(1-l_discount) AS volume
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation n1 ON s_nationkey = n1.n_nationkey
           JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
           AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
           AND n1.n_name <> n2.n_name
           AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31') t
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year"""

  /** Q8-style market share: NATION_5 suppliers' share of ECONOMY-part
    * volume sold into AMERICA, by order year. */
  def q8MarketShare: Q = (s, d) => {
    val part = Tables.part(s, d).filter(col("p_type") === "ECONOMY").select("p_partkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val natS = Tables.nation(s, d).select(col("n_nationkey").as("snk"), col("n_name").as("nation"))
    val natC = Tables.nation(s, d).select(col("n_nationkey").as("cnk"), col("n_regionkey").as("crk"))
    val reg = Tables.region(s, d).filter(col("r_name") === "AMERICA").select("r_regionkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate").between(ts("1996-01-01"), ts("1997-12-31")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(natC), col("c_nationkey") === col("cnk"))
      .join(broadcast(reg), col("crk") === col("r_regionkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(natS), col("s_nationkey") === col("snk"))
      .withColumn("volume", col("l_extendedprice") * (lit(1) - col("l_discount")))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(
        sum(when(col("nation") === "NATION_5", col("volume")).otherwise(0.0)) / sum(col("volume")),
        4).as("mkt_share"))
  }

  val q8Sql: String =
    """SELECT o_year,
              round(sum(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0.0 END) / sum(volume), 4) AS mkt_share
       FROM (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                    l_extendedprice*(1-l_discount) AS volume, n2.n_name AS nation
             FROM lineitem JOIN part ON p_partkey = l_partkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation n1 ON c_nationkey = n1.n_nationkey
               JOIN region ON n1.n_regionkey = r_regionkey
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation n2 ON s_nationkey = n2.n_nationkey
             WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
               AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31') t
       GROUP BY o_year ORDER BY o_year"""

  /** Q9-style product profit by supplier nation and year for parts
    * matching a name pattern (schema has no partsupp → profit is
    * discounted revenue; the join/group shape is the point). */
  def q9ProductProfit: Q = (s, d) => {
    val part = Tables.part(s, d).filter(col("p_name").contains("red")).select("p_partkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name").as("nation"))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("profit"))
  }

  val q9Sql: String =
    """SELECT nation, o_year, round(sum(volume), 2) AS profit FROM (
         SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
                l_extendedprice*(1-l_discount) AS volume
         FROM lineitem JOIN part ON p_partkey = l_partkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%red%') t
       GROUP BY nation, o_year ORDER BY nation, o_year DESC"""

  /** Q13-style customer order-count distribution (left outer join →
    * zero-order customers kept; condition in the JOIN, not WHERE). */
  def q13CustomerDistribution: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_orderkey", "o_custkey")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  val q13Sql: String =
    """SELECT c_count, count(*) AS custdist FROM (
         SELECT c_custkey, count(o_orderkey) AS c_count
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         GROUP BY c_custkey) t
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""

  /** Q15-style top supplier: quarterly revenue per supplier, keep the
    * max (scalar subquery → single-row broadcast join). */
  def q15TopSupplier: Q = (s, d) => {
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("mx"))
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    rev.join(broadcast(mx), col("total_revenue") === col("mx"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  val q15Sql: String =
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                round(sum(l_extendedprice*(1-l_discount)), 2) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey"""

  /** Q16-style supplier diversity per part attribute combo (partsupp
    * substituted by observed lineitem supplier-part pairs). */
  def q16PartsSupplierCnt: Q = (s, d) => {
    val part = Tables.part(s, d)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val li = Tables.lineitem(s, d).select("l_partkey", "l_suppkey")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  val q16Sql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  /** Q17-style small-quantity revenue: lines under half the part's
    * average quantity (correlated scalar subquery → per-part agg join). */
  def q17SmallQtyRevenue: Q = (s, d) => {
    val li = Tables.lineitem(s, d).select("l_partkey", "l_quantity", "l_extendedprice")
    val part = Tables.part(s, d).filter(col("p_brand") === "Brand#3").select("p_partkey")
    val halfAvg = li.groupBy(col("l_partkey").as("ap"))
      .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(halfAvg, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("half_avg"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
  }

  val q17Sql: String =
    """SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#3'
         AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                           FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)"""

  /** Q19-style disjunctive brand/size/quantity predicates — one scan,
    * the OR pushed as a single residual filter after a broadcast join. */
  def q19DisjunctiveFilter: Q = (s, d) => {
    val part = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    val li = Tables.lineitem(s, d).select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30)))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  val q19Sql: String =
    """SELECT round(sum(l_extendedprice*(1-l_discount)), 2) AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)"""

  /** Q21-style lone-fault supplier: in finished multi-supplier orders,
    * suppliers who were the ONLY one with returned lines (semi + anti
    * join composition; schema has no receipt/commit dates so the
    * "late" predicate becomes the return flag). */
  def q21WaitingSupplier: Q = (s, d) => {
    val ord = Tables.orders(s, d).filter(col("o_orderstatus") === "F").select("o_orderkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_name")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_returnflag")
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    // EXISTS(other supplier) / NOT EXISTS(other late supplier) as ONE
    // two-level aggregation instead of a semi + anti self-join pair:
    // per (order, supplier) fold the late flag (map-side combinable),
    // then per order count suppliers and late suppliers. A late row
    // qualifies iff the order has >= 2 suppliers and exactly 1 late
    // one (itself) — set-equivalent to the EXISTS pair, at one
    // lineitem shuffle instead of two join probes.
    val perSupp = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("late"))
    val perOrder = perSupp.groupBy(col("l_orderkey").as("ok_agg"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .select(col("ok_agg"))
    l1.join(perOrder, col("ok") === col("ok_agg"), "left_semi")
      .join(broadcast(sup), col("sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(25)
  }

  val q21Sql: String =
    """SELECT s_name, count(*) AS numwait
       FROM supplier JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
         JOIN orders ON o_orderkey = l1.l_orderkey
       WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_returnflag = 'R')
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 25"""

  /** Q22-style idle customers: above-average balance, no RECENT orders
    * — scalar-subquery broadcast + anti join, bucketed by nation group.
    * (Every synthetic customer has some order, so "idle" is scoped to
    * the trailing window — same anti-join shape as the original.) */
  def q22IdleCustomers: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg(avg(col("c_acctbal")).as("ab"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1999-01-01"))
      .select("o_custkey")
    cust.join(broadcast(avgBal), col("c_acctbal") > col("ab"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy((col("c_nationkey") % 5).cast("int").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"), round(sum(col("c_acctbal")), 2).as("totacctbal"))
  }

  val q22Sql: String =
    """SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, count(*) AS numcust,
              round(sum(c_acctbal), 2) AS totacctbal
       FROM customer
       WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
         AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                         AND o_orderdate >= TIMESTAMP '1999-01-01')
       GROUP BY cntrycode ORDER BY cntrycode"""

  /** FULL OUTER join: per-nation counts of negative-balance customers vs
    * suppliers — either side can be absent, so the join must preserve
    * unmatched keys from BOTH inputs (coalesced key, zero-filled
    * counts). Planned as a SortMergeJoin full-outer on the nation key;
    * both inputs are pre-aggregated so the exchange carries one row
    * per nation. */
  def qFullOuter: Q = (s, d) => {
    val c = Tables.customer(s, d).filter(col("c_acctbal") < -400)
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
    val su = Tables.supplier(s, d).filter(col("s_acctbal") < -400)
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  val qFullOuterSql: String =
    """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
                  WHERE c_acctbal < -400 GROUP BY c_nationkey),
            s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
                  WHERE s_acctbal < -400 GROUP BY s_nationkey)
       SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
              coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
       FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
       ORDER BY nationkey"""

  /** NULL-SAFE equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    * semantics ETL needs when the key itself can be legitimately
    * missing on both sides (unknown bucket matches unknown bucket,
    * instead of silently dropping). Keys are a JSON-extracted metric
    * bucket nulled on a deterministic rule; Spark plans `<=>` as a
    * normal hash/merge equi-join (null-safe keys still hash), NOT a
    * nested loop — same shuffle shape as `=`. The companion inner
    * count shows exactly how many pairs a plain `=` would lose.
    *
    * SCALE: the pair COUNT is computed without materializing pairs —
    * both sides pre-aggregate to |keys|-bounded count tables, the
    * null-safe join runs bounded × bounded, and n_pairs = nv·nc.
    * The naive row-level join is Σ_k nv(k)·nc(k) rows (quadratic in
    * per-key density — the sf1 probe measured it 12× at 10× data);
    * this form is the same answer at Σ|keys| cost. */
  def qNullSafeJoin: Q = (s, d) => {
    def side(t: String, alias: String) = Tables.events(s, d)
      .filter(col("event_type") === t)
      .select(when(get_json_object(col("props"), "$.k").cast("int") % 7 =!= 0,
        get_json_object(col("props"), "$.k").cast("int")).as(alias))
    val views = side("view", "kn").groupBy(col("kn")).agg(count(lit(1)).as("nv"))
    val clicks = side("click", "kc").groupBy(col("kc")).agg(count(lit(1)).as("nc"))
    views.join(clicks, col("kn") <=> col("kc"))
      .select(col("kn"), (col("nv") * col("nc")).as("n_pairs"))
  }

  val qNullSafeJoinSql: String =
    """WITH v AS (
         SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 7 <> 0
                     THEN CAST(json_extract_string(props, '$.k') AS INT) END AS kn
         FROM events WHERE event_type = 'view'),
       c AS (
         SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 7 <> 0
                     THEN CAST(json_extract_string(props, '$.k') AS INT) END AS kc
         FROM events WHERE event_type = 'click')
       SELECT v.kn, count(*) AS n_pairs
       FROM v JOIN c ON v.kn IS NOT DISTINCT FROM c.kc
       GROUP BY v.kn ORDER BY v.kn"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_null_safe_join", qNullSafeJoin, Some(qNullSafeJoinSql)),
    ("q_full_outer", qFullOuter, Some(qFullOuterSql)),
    ("q7_volume_shipping", q7VolumeShipping, Some(q7Sql)),
    ("q8_market_share", q8MarketShare, Some(q8Sql)),
    ("q9_product_profit", q9ProductProfit, Some(q9Sql)),
    ("q13_customer_distribution", q13CustomerDistribution, Some(q13Sql)),
    ("q15_top_supplier", q15TopSupplier, Some(q15Sql)),
    ("q16_parts_supplier_cnt", q16PartsSupplierCnt, Some(q16Sql)),
    ("q17_small_qty_revenue", q17SmallQtyRevenue, Some(q17Sql)),
    ("q19_disjunctive_filter", q19DisjunctiveFilter, Some(q19Sql)),
    ("q21_waiting_supplier", q21WaitingSupplier, Some(q21Sql)),
    ("q22_idle_customers", q22IdleCustomers, Some(q22Sql)))
}
