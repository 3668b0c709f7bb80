package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytics core: the engine's general relational query surface.
  *
  * The reference (truemark/database-collector) delegates its query
  * capability to SQL scrape queries against relational state; this
  * block is the Spark-native equivalent surface: filtered aggregation,
  * multi-way joins (broadcast for dims), semi-joins, windows, rollup,
  * percentiles — all declarative DataFrame plans so Catalyst handles
  * pushdown/pruning/join-strategy, and all double outputs rounded for
  * cross-engine (DuckDB oracle) float parity.
  *
  * Entry format: (name, query fn, Some(oracle SQL) | None).
  */
object Tpch {

  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-style pricing summary: one shuffle, map-side partial agg. */
  def q1PricingSummary: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity),2) AS sum_qty,
       round(sum(l_extendedprice),2) AS sum_base_price,
       round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
       round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
       round(avg(l_quantity),4) AS avg_qty,
       round(avg(l_extendedprice),4) AS avg_price,
       round(avg(l_discount),4) AS avg_disc,
       count(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
       GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""

  /** Q3-style shipping priority: 3-way join, filtered agg, top-10.
    * customer is the small side → broadcast; deterministic tiebreak for LIMIT. */
  def q3ShippingPriority: Q = (s, d) => {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1997-03-15").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1997-03-15").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
  }

  val q3Sql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1997-03-15'
         AND l_shipdate > TIMESTAMP '1997-03-15'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"""

  /** Q4-style order priority: EXISTS via left-semi join with a
    * non-equi late-shipment condition. */
  def q4OrderPriority: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  val q4Sql: String =
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Q5-style local supplier volume: 6-way join; dims broadcast. */
  def q5LocalSupplierVolume: Q = (s, d) => {
    val reg = Tables.region(s, d).filter(col("r_name") === "ASIA").select("r_regionkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  val q5Sql: String =
    """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  /** Q6-style forecast revenue: tight filter + scalar agg — the
    * pushdown showcase (filters reach the parquet scan). */
  def q6ForecastRevenue: Q = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))
  }

  val q6Sql: String =
    """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""

  /** Q10-style returned items: top-20 customers by returned revenue. */
  def q10ReturnedItems: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20"""

  /** Q12-style conditional aggregation: priority split per return flag. */
  def q12PriorityConditional: Q = (s, d) => {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_returnflag")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)).as("low_line_count"))
  }

  val q12Sql: String =
    """SELECT l_returnflag,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT','2-HIGH')) AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS low_line_count
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Q14-style promo effect: ratio of conditional sums; part broadcast. */
  def q14PromoEffect: Q = (s, d) => {
    val part = Tables.part(s, d).select("p_partkey", "p_type")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(round(
        lit(100.0) * sum(when(col("p_type").startsWith("PROMO"),
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0)) /
          sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("promo_revenue_pct"))
  }

  val q14Sql: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN l_extendedprice*(1-l_discount) ELSE 0.0 END)
              / sum(l_extendedprice*(1-l_discount)), 4) AS promo_revenue_pct
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'"""

  /** Q18-style large orders: HAVING-filtered agg joined back to facts. */
  def q18LargeOrders: Q = (s, d) => {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > 200)
      .select(col("l_orderkey").as("big_orderkey"))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
    li.join(big, col("l_orderkey") === col("big_orderkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18Sql: String =
    """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       round(sum(l_quantity),2) AS sum_qty
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
       GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""

  /** Running per-supplier quantity: window frame over one shuffle
    * (partitionBy suppkey); total order for determinism. */
  def qWindowRunning: Q = (s, d) => {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity")).over(w), 2).as("running_qty"))
  }

  val qWindowRunningSql: String =
    """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
       round(sum(l_quantity) OVER (PARTITION BY l_suppkey
         ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
       FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-04-01'"""

  /** Top-3 customers per nation by account balance (row_number, deterministic). */
  def qWindowTopn: Q = (s, d) => {
    val w = Window.partitionBy(col("c_nationkey")).orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"), col("c_name"), col("c_acctbal"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 3)
  }

  val qWindowTopnSql: String =
    """SELECT c_nationkey, c_custkey, c_name, c_acctbal, rn FROM (
         SELECT c_nationkey, c_custkey, c_name, c_acctbal,
           CAST(row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
         FROM customer) t WHERE rn <= 3"""

  /** ROLLUP(year, status): multi-level aggregates in one pass. */
  def qRollup: Q = (s, d) => {
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"), col("o_totalprice"))
      .rollup(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  val qRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
       FROM orders GROUP BY ROLLUP(CAST(year(o_orderdate) AS INT), o_orderstatus)"""

  /** Exact per-group percentiles (bounded group count → exact is fine;
    * global distincts at scale go through HLL instead). */
  def qPercentiles: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 2).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 2).as("p99"))
  }

  val qPercentilesSql: String =
    """SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5),2) AS p50,
       round(quantile_cont(o_totalprice, 0.9),2) AS p90,
       round(quantile_cont(o_totalprice, 0.99),2) AS p99
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** CUBE(year, status): all grouping-set combinations in one pass
    * (rollup's superset — includes per-status-only slices). */
  def qCube: Q = (s, d) => {
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("order_year"), col("o_orderstatus"), col("o_totalprice"))
      .cube(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  val qCubeSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
       FROM orders GROUP BY CUBE(CAST(year(o_orderdate) AS INT), o_orderstatus)"""

  /** Explicit GROUPING SETS — asymmetric slice list (finer than ROLLUP,
    * sparser than CUBE): (year, status), (year), (status-only omitted),
    * grand total. */
  def qGroupingSets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
                count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
         FROM graft_orders_gs
         GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INT), o_orderstatus),
                                 (CAST(year(o_orderdate) AS INT)), ())""")
  }

  val qGroupingSetsSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price
       FROM orders
       GROUP BY GROUPING SETS ((CAST(year(o_orderdate) AS INT), o_orderstatus),
                               (CAST(year(o_orderdate) AS INT)), ())"""

  /** Window-function breadth: lead, ntile and cume_dist over one
    * supplier-partitioned ordering (single shuffle, three functions). */
  def qWindowStats: Q = (s, d) => {
    val w = Window.partitionBy(col("s_nationkey")).orderBy(col("s_acctbal"), col("s_suppkey"))
    Tables.supplier(s, d)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"),
        lead(col("s_acctbal"), 1).over(w).as("next_bal"),
        ntile(4).over(w).as("quartile"),
        TextAnalysis.trunc4(cume_dist().over(w)).as("cume"))
  }

  val qWindowStatsSql: String =
    """SELECT s_nationkey, s_suppkey, s_acctbal,
              lead(s_acctbal, 1) OVER w AS next_bal,
              CAST(ntile(4) OVER w AS INT) AS quartile,
              floor(cume_dist() OVER w * 10000) / 10000.0 AS cume
       FROM supplier
       WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
       ORDER BY s_nationkey, s_suppkey"""

  /** t-digest/GK-style approximate percentiles via approx_percentile —
    * the sketch path for unbounded-cardinality groups where exact
    * percentile sorting is unaffordable. The sketch VALUE is
    * engine-internal (no other engine replays GK bit-for-bit), so the
    * hash-checked surface is the exact companion percentile plus the
    * error-band and monotonicity CLAIMS evaluated in the same
    * projection (the `roundtrip_ok` idiom from prom_wire_snappy: the
    * oracle states TRUE, a sketch regression flips the bit and fails
    * the hash). WritersSpec keeps the numeric bound. */
  def qApproxPercentile: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("approx_percentile(o_totalprice, 0.99, 1000)").as("ap99"),
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("exact_p50"))
      .select(col("o_orderpriority"), col("exact_p50"),
        (abs(col("ap50") - col("exact_p50")) <= col("exact_p50") * 0.10)
          .as("p50_within_10pct"),
        (col("ap99") >= col("ap50")).as("p99_monotone"))
  }

  val qApproxPercentileSql: String =
    """SELECT o_orderpriority,
              round(quantile_cont(o_totalprice, 0.5), 2) AS exact_p50,
              TRUE AS p50_within_10pct, TRUE AS p99_monotone
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** HLL approximate distinct with its exact companion — the HLL++
    * estimate is engine-internal, so the hash-checked surface is the
    * exact count plus the 5% error-band claim evaluated in the same
    * aggregation (oracle states TRUE; an estimator regression past the
    * band fails the hash). WritersSpec keeps the numeric bound. */
  def qApproxDistinct: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * 0.05).as("hll_within_5pct"))
  }

  val qApproxDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS exact_users,
              TRUE AS hll_within_5pct
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Statistical aggregates: per-flag Pearson correlation, sample
    * covariance and stddevs between quantity and price — one
    * map-side-combined aggregation pass (the moment sketches merge
    * associatively, so this scales like any sum). Rounded to 4dp:
    * both engines accumulate moments in different orders/algorithms,
    * identical to ~1e-12. */
  def qCorrCovar: Q = (s, d) => {
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"))
  }

  val qCorrCovarSql: String =
    """SELECT l_returnflag, count(*) AS n,
              round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
              round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
              round(stddev_samp(l_quantity), 4) AS sd_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Ordered string aggregation (LISTAGG/string_agg): per-region
    * nation roster as one delimited string. Deterministic by sorting
    * the collected array (engine-portable where WITHIN GROUP ordering
    * differs); bounded group size is the scale contract — roster
    * strings are dimension-sized, never fact-sized. */
  def qStringAgg: Q = (s, d) => {
    val nat = Tables.nation(s, d).select("n_regionkey", "n_name")
    Tables.region(s, d)
      .join(nat, col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
  }

  val qStringAggSql: String =
    """SELECT r_name, count(*) AS n_nations,
              string_agg(n_name, ',' ORDER BY n_name) AS nations
       FROM region JOIN nation ON r_regionkey = n_regionkey
       GROUP BY r_name ORDER BY r_name"""

  /** The engine's SQL-TEXT surface: the same declarative plans are
    * reachable through `spark.sql` over registered views — a user can
    * speak SQL instead of the DataFrame API and Catalyst plans
    * identically (the optimizer sees one logical plan either way).
    * The query is a revenue-by-nation rollup whose SQL is portable
    * enough to run almost verbatim as its own oracle. */
  def sqlInterface: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    Tables.orders(s, d).createOrReplaceTempView("g_orders")
    Tables.nation(s, d).createOrReplaceTempView("g_nation")
    s.sql("""
      SELECT n.n_name AS nation, count(*) AS n_orders,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM g_orders o
      JOIN g_customer c ON o.o_custkey = c.c_custkey
      JOIN g_nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name""")
  }

  val sqlInterfaceSql: String =
    """SELECT n.n_name AS nation, count(*) AS n_orders,
              round(sum(o.o_totalprice), 2) AS revenue
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       GROUP BY n.n_name ORDER BY nation"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_sql_interface", sqlInterface, Some(sqlInterfaceSql)),
    ("q_corr_covar", qCorrCovar, Some(qCorrCovarSql)),
    ("q_string_agg", qStringAgg, Some(qStringAggSql)),
    ("q1_pricing_summary", q1PricingSummary, Some(q1Sql)),
    ("q3_shipping_priority", q3ShippingPriority, Some(q3Sql)),
    ("q4_order_priority", q4OrderPriority, Some(q4Sql)),
    ("q5_local_supplier_volume", q5LocalSupplierVolume, Some(q5Sql)),
    ("q6_forecast_revenue", q6ForecastRevenue, Some(q6Sql)),
    ("q10_returned_items", q10ReturnedItems, Some(q10Sql)),
    ("q12_priority_conditional", q12PriorityConditional, Some(q12Sql)),
    ("q14_promo_effect", q14PromoEffect, Some(q14Sql)),
    ("q18_large_orders", q18LargeOrders, Some(q18Sql)),
    ("q_window_running", qWindowRunning, Some(qWindowRunningSql)),
    ("q_window_topn", qWindowTopn, Some(qWindowTopnSql)),
    ("q_rollup", qRollup, Some(qRollupSql)),
    ("q_cube", qCube, Some(qCubeSql)),
    ("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    ("q_window_stats", qWindowStats, Some(qWindowStatsSql)),
    ("q_percentiles", qPercentiles, Some(qPercentilesSql)),
    ("q_approx_distinct", qApproxDistinct, Some(qApproxDistinctSql)),
    ("q_approx_percentile", qApproxPercentile, Some(qApproxPercentileSql))
  )
}
