package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution / trend statistics read directly off aggregates — the
  * "statistical read" surface a monitoring engine needs beyond plain
  * rollups (the reference emits raw gauges, e.g.
  * collector/exporters/mysql/mysql-exporter.go:12-48; judging whether
  * a gauge is TRENDING or CONCENTRATING is left to the query layer —
  * this is that layer).
  *
  * Float parity strategy (shared with Models/Affinity): every mass,
  * rank and count is an exact integer (cents via `floor(price*100)`,
  * wide products in DECIMAL(38,0) vs DuckDB HUGEINT); each emitted
  * real number is ONE fixed sequence of IEEE ops over those exact
  * inputs, spelled identically in both engines, display-floored at
  * 1e4.
  *
  * Scale design (100 TB): nothing here sorts the corpus. Gini ranks
  * CUSTOMERS-WITH-REVENUE (already one aggregation smaller than the
  * fact) inside per-nation windows; Mann–Kendall and the runs test
  * operate on the per-series DAY spine (bounded by the time span, not
  * the event volume — the |days|² pair join is per-series constant);
  * the price–volume bridge is one conditional aggregation.
  */
object Stats {

  type Q = (SparkSession, String) => DataFrame

  private val dayCol =
    expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
  private val daySql =
    "CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400"

  /** Gini coefficient of order-revenue concentration per nation.
    * Rank i over (cust_cents, custkey) within the nation makes the
    * standard G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) well-defined under
    * ties; Σi·xᵢ accumulates in DECIMAL(38,0) (HUGEINT in the oracle)
    * so the formula is exact until one final double division. */
  def giniRevenue: Q = (s, d) => {
    val ranked = customerCents(s, d).withColumn("i", row_number().over(
      Window.partitionBy(col("n_name")).orderBy(col("cust_cents"), col("custkey"))))
    ranked.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cust_cents")).as("total_cents"),
        sum(col("i").cast("decimal(38,0)") * col("cust_cents")).as("sixy"))
      .select(col("n_name"), col("n_cust"), col("total_cents"),
        (floor((lit(2).cast("decimal(38,0)") * col("sixy")
            - (col("n_cust") + 1).cast("decimal(38,0)") * col("total_cents")).cast("double")
          / (col("n_cust").cast("decimal(38,0)") * col("total_cents")).cast("double")
          * 1e4) / 1e4).as("gini"))
  }

  /** Per customer: (n_name, custkey, cust_cents), the exact order
    * revenue in integer cents — the one body under `q_gini_revenue`
    * and `q_lorenz_curve`. */
  private def customerCents(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_custkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cust_cents"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_custkey").as("custkey"), col("cust_cents"))

  val giniRevenueSql: String =
    """WITH rev AS (
         SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cust_cents
         FROM orders GROUP BY 1),
       j AS (
         SELECT n_name, o_custkey AS custkey, cust_cents
         FROM rev JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey),
       r AS (
         SELECT n_name, custkey, cust_cents,
                row_number() OVER (PARTITION BY n_name
                                   ORDER BY cust_cents, custkey) AS i
         FROM j)
       SELECT n_name, count(*) AS n_cust,
              CAST(sum(cust_cents) AS BIGINT) AS total_cents,
              floor(CAST(2 * sum(CAST(i AS HUGEINT) * cust_cents)
                         - (count(*) + 1) * CAST(sum(cust_cents) AS HUGEINT) AS DOUBLE)
                    / CAST(count(*) * CAST(sum(cust_cents) AS HUGEINT) AS DOUBLE)
                    * 1e4) / 1e4 AS gini
       FROM r GROUP BY n_name ORDER BY n_name"""

  /** Per-series daily event counts — the shared spine for the two
    * trend tests below. Exact BIGINTs; |days| is bounded by the time
    * span, never by event volume. */
  private def dailyCounts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), dayCol.as("day"))
      .agg(count(lit(1)).as("cnt"))

  private val dailySql =
    s"""SELECT event_type, $daySql AS day, count(*) AS cnt
        FROM events GROUP BY 1, 2"""

  /** Mann–Kendall trend test per series: S = Σ_{i<j} sign(cnt_j − cnt_i)
    * over the day spine, plus the ×18-scaled variance numerator
    * n(n−1)(2n+5) so a consumer can form the z-score without the
    * engine emitting any irrational number. The pair join is keyed on
    * the series and quadratic only in |days|. */
  def mannKendall: Q = (s, d) => {
    val daily = dailyCounts(s, d)
    val a = daily.select(col("event_type"), col("day").as("d1"), col("cnt").as("c1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("cnt").as("c2"))
    val pairs = a.join(b, Seq("event_type")).filter(col("d1") < col("d2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("c2") > col("c1"), 1L).when(col("c2") < col("c1"), -1L)
          .otherwise(0L)).as("s_stat"))
    val days = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    days.join(pairs, Seq("event_type"))
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5))
      .withColumn("trend",
        when(col("s_stat") > 0, lit("increasing"))
          .when(col("s_stat") < 0, lit("decreasing")).otherwise(lit("flat")))
      .select(col("event_type"), col("n_days"), col("n_pairs"), col("s_stat"),
        col("var18"), col("trend"))
  }

  val mannKendallSql: String =
    s"""WITH daily AS ($dailySql),
        pairs AS (
          SELECT a.event_type, count(*) AS n_pairs,
                 CAST(sum(CASE WHEN b.cnt > a.cnt THEN 1
                               WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
          FROM daily a JOIN daily b
            ON a.event_type = b.event_type AND a.day < b.day
          GROUP BY 1),
        days AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1)
        SELECT event_type, n_days, n_pairs, s_stat,
               n_days * (n_days - 1) * (2 * n_days + 5) AS var18,
               CASE WHEN s_stat > 0 THEN 'increasing'
                    WHEN s_stat < 0 THEN 'decreasing' ELSE 'flat' END AS trend
        FROM days JOIN pairs USING (event_type) ORDER BY event_type"""

  /** Wald–Wolfowitz runs test on the sign of the day-over-day delta
    * per series: ties dropped, a run ends whenever the sign flips.
    * n_runs and both sign counts are exact; the expected-runs
    * reference value 1 + 2·n⁺·n⁻/N is the one emitted real. */
  def runsTest: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val signs = dailyCounts(s, d)
      .withColumn("prev", lag(col("cnt"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("sgn", when(col("cnt") > col("prev"), 1)
        .when(col("cnt") < col("prev"), -1).otherwise(0))
      .filter(col("sgn") =!= 0)
    signs.withColumn("psgn", lag(col("sgn"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("psgn").isNull || col("psgn") =!= col("sgn"), 1L)
          .otherwise(0L)).as("n_runs"))
      .withColumn("expected_runs",
        lit(1.0) + floor((lit(2) * col("n_pos") * col("n_neg")).cast("double")
          / col("n_obs").cast("double") * 1e4) / 1e4)
      .select(col("event_type"), col("n_obs"), col("n_pos"), col("n_neg"),
        col("n_runs"), col("expected_runs"))
  }

  val runsTestSql: String =
    s"""WITH daily AS ($dailySql),
        lagged AS (
          SELECT event_type, day, cnt,
                 lag(cnt) OVER (PARTITION BY event_type ORDER BY day) AS prev
          FROM daily),
        signs AS (
          SELECT event_type, day,
                 CASE WHEN cnt > prev THEN 1 WHEN cnt < prev THEN -1 ELSE 0 END AS sgn
          FROM lagged WHERE prev IS NOT NULL),
        nz AS (
          SELECT event_type, day, sgn,
                 lag(sgn) OVER (PARTITION BY event_type ORDER BY day) AS psgn
          FROM signs WHERE sgn <> 0)
        SELECT event_type, count(*) AS n_obs,
               CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
               CAST(sum(CASE WHEN psgn IS NULL OR psgn <> sgn THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_runs,
               1.0 + floor(CAST(2 * sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                                  * sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS DOUBLE)
                           / CAST(count(*) AS DOUBLE) * 1e4) / 1e4 AS expected_runs
        FROM nz GROUP BY event_type ORDER BY event_type"""

  /** Price–volume bridge 1995 → 1996 per order priority: the revenue
    * delta decomposed into a volume effect at period-A average price
    * plus the residual price effect. One conditional aggregation;
    * volume_effect is the single IEEE division, price_effect the
    * exact remainder so the decomposition sums to delta_cents
    * bit-for-bit. */
  def waterfallBridge: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      year(col("o_orderdate")).as("yr"),
      floor(col("o_totalprice") * 100).cast("long").as("cents"))
    o.filter(col("yr").isin(1995, 1996))
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("yr") === 1995, col("cents")).otherwise(0L)).as("cents_a"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("yr") === 1996, col("cents")).otherwise(0L)).as("cents_b"))
      .withColumn("delta_cents", col("cents_b") - col("cents_a"))
      .withColumn("volume_effect",
        floor(((col("n_b") - col("n_a")) * col("cents_a")).cast("double")
          / col("n_a").cast("double")).cast("double"))
      .withColumn("price_effect", col("delta_cents").cast("double") - col("volume_effect"))
      .select(col("o_orderpriority"), col("n_a"), col("n_b"), col("cents_a"),
        col("cents_b"), col("delta_cents"), col("volume_effect"), col("price_effect"))
  }

  val waterfallBridgeSql: String =
    """WITH o AS (
         SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate) AS yr,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
       g AS (
         SELECT o_orderpriority,
                CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                CAST(sum(CASE WHEN yr = 1995 THEN cents ELSE 0 END) AS BIGINT) AS cents_a,
                CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                CAST(sum(CASE WHEN yr = 1996 THEN cents ELSE 0 END) AS BIGINT) AS cents_b
         FROM o GROUP BY 1)
       SELECT o_orderpriority, n_a, n_b, cents_a, cents_b,
              cents_b - cents_a AS delta_cents,
              floor(CAST((n_b - n_a) * cents_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                AS volume_effect,
              CAST(cents_b - cents_a AS DOUBLE)
                - floor(CAST((n_b - n_a) * cents_a AS DOUBLE) / CAST(n_a AS DOUBLE))
                AS price_effect
       FROM g ORDER BY o_orderpriority"""

  private val orderDayCol =
    expr("cast(unix_timestamp(date_trunc('second', o_orderdate)) div 86400 as bigint)")
  private val orderDaySql =
    "CAST(epoch(date_trunc('second', o_orderdate)) AS BIGINT) // 86400"

  /** Two-sample Kolmogorov–Smirnov statistic comparing the 1995 vs
    * 1996 order-price distributions. Exact, and without a global
    * sort: prices collapse to their cent value (the value domain is
    * bounded by the price grid, not the corpus), cumulative counts
    * are a DISTRIBUTED prefix sum — a per-$10k-bucket window (the
    * bucket key is a fixed arithmetic grid, so the layout is
    * deterministic; ≤ ~60 buckets at any scale) plus a broadcast of
    * per-bucket offsets — and D's numerator max|cumA·nB − cumB·nA|
    * stays in exact integers until one final division. */
  def ksTest: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("yr"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .filter(col("yr").isin(1995, 1996))
    val byVal = o.groupBy(col("cents"))
      .agg(sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("ca"),
        sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("cb"))
      .withColumn("bucket", expr("cents div 1000000"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal
      .withColumn("pa", sum(col("ca")).over(w))
      .withColumn("pb", sum(col("cb")).over(w))
    val off = byVal.groupBy(col("bucket"))
      .agg(sum(col("ca")).as("ba"), sum(col("cb")).as("bb"))
      .select(col("bucket"),
        coalesce(sum(col("ba")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("oa"),
        coalesce(sum(col("bb")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("ob"))
    val totals = o.agg(
      sum(when(col("yr") === 1995, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("yr") === 1996, 1L).otherwise(0L)).as("n_b"))
    cum.join(broadcast(off), Seq("bucket"))
      .crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        abs((col("pa") + col("oa")).cast("decimal(38,0)") * col("n_b")
          - (col("pb") + col("ob")).cast("decimal(38,0)") * col("n_a")).as("dnum"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("dnum")).as("dmax"))
      .select(col("n_a"), col("n_b"),
        (floor(col("dmax").cast("double")
          / (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double") * 1e4) / 1e4)
          .as("d_stat"),
        (floor(col("dmax").cast("double")
            / (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double")
          * sqrt(col("n_a").cast("double") * col("n_b").cast("double")
            / (col("n_a") + col("n_b")).cast("double")) * 1e4) / 1e4).as("ks_scaled"))
  }

  val ksTestSql: String =
    """WITH o AS (
         SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) IN (1995, 1996)),
       v AS (
         SELECT cents,
                CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         FROM o GROUP BY 1),
       c AS (
         SELECT sum(ca) OVER (ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cuma,
                sum(cb) OVER (ORDER BY cents
                              ROWS UNBOUNDED PRECEDING) AS cumb
         FROM v),
       t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                    CAST(sum(cb) AS BIGINT) AS n_b FROM v),
       m AS (
         SELECT max(abs(CAST(cuma AS HUGEINT) * n_b
                        - CAST(cumb AS HUGEINT) * n_a)) AS dmax
         FROM c, t)
       SELECT n_a, n_b,
              floor(CAST(dmax AS DOUBLE)
                    / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE) * 1e4) / 1e4 AS d_stat,
              floor(CAST(dmax AS DOUBLE)
                      / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)
                    * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                           / CAST(n_a + n_b AS DOUBLE)) * 1e4) / 1e4 AS ks_scaled
       FROM m, t"""

  /** Per-nation OLS of daily order revenue on the day index: slope,
    * intercept and R² from the five classical sums, every one an
    * exact integer (days × cents in DECIMAL(38,0) / HUGEINT), so
    * each emitted real is a fixed IEEE sequence over exact inputs.
    * One join + two aggregations; nothing sorts the corpus. */
  def regressionTrend: Q = (s, d) => {
    val daily = Tables.orders(s, d)
      .select(col("o_custkey"), orderDayCol.as("x"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("x"))
      .agg(sum(col("cents")).as("y"))
    val g = daily.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
      .filter(col("n") >= 2)
      .withColumn("dxy", col("n").cast("decimal(38,0)") * col("sxy")
        - col("sx").cast("decimal(38,0)") * col("sy"))
      .withColumn("dxx", col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx"))
      .withColumn("dyy", col("n").cast("decimal(38,0)") * col("syy")
        - col("sy").cast("decimal(38,0)") * col("sy"))
      .withColumn("slope_raw", col("dxy").cast("double") / col("dxx").cast("double"))
    g.select(col("n_name"), col("n").as("n_days"),
      (floor(col("slope_raw") * 1e4) / 1e4).as("slope"),
      (floor((col("sy").cast("double") - col("slope_raw") * col("sx").cast("double"))
        / col("n").cast("double") * 1e4) / 1e4).as("intercept"),
      (floor((col("dxy").cast("double") / col("dxx").cast("double"))
        * (col("dxy").cast("double") / col("dyy").cast("double")) * 1e4) / 1e4).as("r2"),
      when(col("dxy") > 0, lit("up")).when(col("dxy") < 0, lit("down"))
        .otherwise(lit("flat")).as("trend"))
  }

  val regressionTrendSql: String =
    s"""WITH daily AS (
          SELECT n_name, $orderDaySql AS x,
                 CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey
                      JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1, 2),
        g AS (
          SELECT n_name, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM daily GROUP BY 1 HAVING count(*) >= 2),
        dd AS (
          SELECT n_name, n, sx, sy,
                 CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS dxy,
                 CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS dxx,
                 CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS dyy
          FROM g)
        SELECT n_name, n AS n_days,
               floor(CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE) * 1e4) / 1e4 AS slope,
               floor((CAST(sy AS DOUBLE)
                      - CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE) * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) * 1e4) / 1e4 AS intercept,
               floor((CAST(dxy AS DOUBLE) / CAST(dxx AS DOUBLE))
                     * (CAST(dxy AS DOUBLE) / CAST(dyy AS DOUBLE)) * 1e4) / 1e4 AS r2,
               CASE WHEN dxy > 0 THEN 'up' WHEN dxy < 0 THEN 'down'
                    ELSE 'flat' END AS trend
        FROM dd ORDER BY n_name"""

  /** Pointwise mutual information between event type and day-of-week
    * — the dependence ledger behind "is traffic mix day-shaped".
    * dow is day mod 7 (Thursday = 0), pure integer arithmetic so both
    * engines agree without calendar functions. Margins ride windows
    * over the |types|×7 CELL table (bounded), never the corpus; each
    * pmi is one ln of an exact integer ratio (the established libm
    * parity surface), and the additive MI contribution is emitted
    * per cell rather than summed, keeping every real one IEEE
    * sequence. */
  def mutualInfo: Q = (s, d) => {
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), (dayCol % 7).as("dow"))
      .agg(count(lit(1)).as("n_ij"))
    val wi = Window.partitionBy(col("event_type"))
    val wj = Window.partitionBy(col("dow"))
    val wall = Window.partitionBy()
    cells
      .withColumn("n_i", sum(col("n_ij")).over(wi))
      .withColumn("n_j", sum(col("n_ij")).over(wj))
      .withColumn("n_total", sum(col("n_ij")).over(wall))
      .withColumn("pmi",
        floor(log((col("n_ij").cast("decimal(38,0)") * col("n_total")).cast("double")
          / (col("n_i").cast("decimal(38,0)") * col("n_j")).cast("double")) * 1e6) / 1e6)
      .withColumn("mi_part",
        floor(col("n_ij").cast("double") / col("n_total").cast("double")
          * log((col("n_ij").cast("decimal(38,0)") * col("n_total")).cast("double")
            / (col("n_i").cast("decimal(38,0)") * col("n_j")).cast("double")) * 1e6) / 1e6)
      .select(col("event_type"), col("dow"), col("n_ij"), col("n_i"), col("n_j"),
        col("n_total"), col("pmi"), col("mi_part"))
  }

  val mutualInfoSql: String =
    s"""WITH cells AS (
          SELECT event_type, ($daySql) % 7 AS dow, count(*) AS n_ij
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT event_type, dow, n_ij,
                 CAST(sum(n_ij) OVER (PARTITION BY event_type) AS BIGINT) AS n_i,
                 CAST(sum(n_ij) OVER (PARTITION BY dow) AS BIGINT) AS n_j,
                 CAST(sum(n_ij) OVER () AS BIGINT) AS n_total
          FROM cells)
        SELECT event_type, dow, n_ij, n_i, n_j, n_total,
               floor(ln(CAST(CAST(n_ij AS HUGEINT) * n_total AS DOUBLE)
                        / CAST(CAST(n_i AS HUGEINT) * n_j AS DOUBLE)) * 1e6) / 1e6 AS pmi,
               floor(CAST(n_ij AS DOUBLE) / CAST(n_total AS DOUBLE)
                     * ln(CAST(CAST(n_ij AS HUGEINT) * n_total AS DOUBLE)
                          / CAST(CAST(n_i AS HUGEINT) * n_j AS DOUBLE)) * 1e6) / 1e6 AS mi_part
        FROM m ORDER BY event_type, dow"""

  /** Burstiness of inter-arrival gaps per series (Goh & Barabási
    * 2008): B = (σ−μ)/(σ+μ) over the second-granular gaps. With
    * rad = n·Σx²−(Σx)² the n's cancel EXACTLY:
    * B = (√rad − Σx)/(√rad + Σx) — integer Σx and rad until one sqrt
    * and one division, so the statistic is engine-exact with no
    * mean/variance intermediate floats. B≈0 is Poisson traffic, −1
    * periodic, →1 bursty. One lag window (partitioned per series) +
    * one aggregation. */
  def burstiness: Q = (s, d) => {
    val secCol = expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)")
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("event_type"), secCol.as("sec"), col("event_id"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap")).as("sum_gap"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("sxx"))
      .withColumn("rad", col("n_gaps").cast("decimal(38,0)") * col("sxx")
        - col("sum_gap").cast("decimal(38,0)") * col("sum_gap"))
      .select(col("event_type"), col("n_gaps"), col("sum_gap"),
        (floor(col("sum_gap").cast("double") / col("n_gaps").cast("double") * 1e4) / 1e4)
          .as("mean_gap"),
        (floor((sqrt(col("rad").cast("double")) - col("sum_gap").cast("double"))
          / (sqrt(col("rad").cast("double")) + col("sum_gap").cast("double")) * 1e4) / 1e4)
          .as("burstiness"))
  }

  val burstinessSql: String =
    """WITH g AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                event_id
         FROM events),
       gaps AS (
         SELECT event_type,
                sec - lag(sec) OVER (PARTITION BY event_type
                                     ORDER BY sec, event_id) AS gap
         FROM g),
       a AS (
         SELECT event_type, count(*) AS n_gaps,
                CAST(sum(gap) AS BIGINT) AS sum_gap,
                sum(CAST(gap AS HUGEINT) * gap) AS sxx
         FROM gaps WHERE gap IS NOT NULL GROUP BY 1),
       r AS (
         SELECT event_type, n_gaps, sum_gap,
                CAST(n_gaps AS HUGEINT) * sxx
                  - CAST(sum_gap AS HUGEINT) * sum_gap AS rad
         FROM a)
       SELECT event_type, n_gaps, sum_gap,
              floor(CAST(sum_gap AS DOUBLE) / CAST(n_gaps AS DOUBLE) * 1e4) / 1e4
                AS mean_gap,
              floor((sqrt(CAST(rad AS DOUBLE)) - CAST(sum_gap AS DOUBLE))
                    / (sqrt(CAST(rad AS DOUBLE)) + CAST(sum_gap AS DOUBLE)) * 1e4) / 1e4
                AS burstiness
       FROM r ORDER BY event_type"""

  /** SPRT design constants: H0 p=0.20 vs H1 p=0.25 conversion,
    * α=0.05, β=0.20. The four log constants are computed ONCE here
    * and embedded as identical double literals in both engines
    * (the `sample_poisson` discipline) — llr arithmetic is then
    * literal × exact-integer, with no runtime log anywhere. */
  val SprtP0 = 0.20
  val SprtP1 = 0.25
  val SprtL1: Double = math.log(SprtP1 / SprtP0)
  val SprtL0: Double = math.log((1.0 - SprtP1) / (1.0 - SprtP0))
  val SprtLowA: Double = math.log(0.20 / (1.0 - 0.05))
  val SprtUpB: Double = math.log((1.0 - 0.20) / 0.05)

  /** Sequential probability ratio test over the daily conversion
    * stream — the "peek every day without p-hacking" monitor: the
    * cumulative log-likelihood ratio llr = k·ln(p1/p0) +
    * (n−k)·ln(q1/q0) against Wald's boundaries, emitted per day with
    * the current verdict. Counts cumulate over the bounded day spine;
    * every real is one multiply-add of embedded literals by exact
    * integers. */
  def sprtAbtest: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(dayCol.as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("k"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("n_cum", sum(col("n")).over(w))
      .withColumn("k_cum", sum(col("k")).over(w))
      .withColumn("llr",
        floor((col("k_cum").cast("double") * lit(SprtL1)
          + (col("n_cum") - col("k_cum")).cast("double") * lit(SprtL0)) * 1e6) / 1e6)
      .withColumn("verdict",
        when(col("llr") >= SprtUpB, lit("accept_h1"))
          .when(col("llr") <= SprtLowA, lit("accept_h0"))
          .otherwise(lit("continue")))
      .select(col("day"), col("n_cum"), col("k_cum"), col("llr"), col("verdict"))
  }

  val sprtAbtestSql: String =
    s"""WITH daily AS (
          SELECT $daySql AS day, count(*) AS n,
                 CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                   AS k
          FROM events GROUP BY 1),
        c AS (
          SELECT day,
                 CAST(sum(n) OVER w AS BIGINT) AS n_cum,
                 CAST(sum(k) OVER w AS BIGINT) AS k_cum
          FROM daily
          WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
        l AS (
          SELECT day, n_cum, k_cum,
                 floor((CAST(k_cum AS DOUBLE) * ${SprtL1}
                        + CAST(n_cum - k_cum AS DOUBLE) * ${SprtL0}) * 1e6) / 1e6 AS llr
          FROM c)
        SELECT day, n_cum, k_cum, llr,
               CASE WHEN llr >= ${SprtUpB} THEN 'accept_h1'
                    WHEN llr <= ${SprtLowA} THEN 'accept_h0'
                    ELSE 'continue' END AS verdict
        FROM l ORDER BY day"""

  /** Unordered co-occurrence PMI between event types within a
    * (user, day) context — "which behaviors travel together",
    * complementing the SEQUENTIAL transition matrix: n_ab counts
    * contexts containing both types, margins count contexts per
    * type, and pmi/lift are one ln / one division of exact integer
    * ratios. The pair self-join keys on the context (fanout ≤
    * |types|² per context — types are a bounded vocabulary); margins
    * and the context total are bounded aggregates. */
  def cooccurPmi: Q = (s, d) => {
    // referenced four times below (context total, margins, both sides
    // of the pair self-join): one cut = one scan+distinct, not four
    val ud = graft.Checkpoints.cutLazy(Tables.events(s, d)
      .select(col("user_id"), dayCol.as("day"), col("event_type"))
      .distinct())
    val total = ud.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_groups"))
    val margin = ud.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = ud.select(col("user_id"), col("day"), col("event_type").as("ta"))
      .join(ud.select(col("user_id"), col("day"), col("event_type").as("tb")),
        Seq("user_id", "day"))
      .filter(col("ta") < col("tb"))
      .groupBy(col("ta").as("type_a"), col("tb").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(margin.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(margin.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"), col("n_b"),
        col("n_groups"),
        (floor((col("n_ab").cast("decimal(38,0)") * col("n_groups")).cast("double")
          / (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double") * 1e4) / 1e4)
          .as("lift"),
        (floor(log((col("n_ab").cast("decimal(38,0)") * col("n_groups")).cast("double")
          / (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double")) * 1e6) / 1e6)
          .as("pmi"))
  }

  val cooccurPmiSql: String =
    s"""WITH ud AS (
          SELECT DISTINCT user_id, $daySql AS day, event_type FROM events),
        total AS (
          SELECT count(*) AS n_groups
          FROM (SELECT DISTINCT user_id, day FROM ud) t),
        margin AS (SELECT event_type, count(*) AS n_t FROM ud GROUP BY 1),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
          FROM ud a JOIN ud b
            ON a.user_id = b.user_id AND a.day = b.day
            AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT type_a, type_b, n_ab, ma.n_t AS n_a, mb.n_t AS n_b, t.n_groups,
               floor(CAST(CAST(n_ab AS HUGEINT) * t.n_groups AS DOUBLE)
                     / CAST(CAST(ma.n_t AS HUGEINT) * mb.n_t AS DOUBLE) * 1e4) / 1e4
                 AS lift,
               floor(ln(CAST(CAST(n_ab AS HUGEINT) * t.n_groups AS DOUBLE)
                        / CAST(CAST(ma.n_t AS HUGEINT) * mb.n_t AS DOUBLE)) * 1e6) / 1e6
                 AS pmi
        FROM pairs JOIN margin ma ON ma.event_type = type_a
                   JOIN margin mb ON mb.event_type = type_b, total t
        ORDER BY type_a, type_b"""

  /** Join-key skew audit — the read you run BEFORE choosing a salting
    * or AQE strategy: for each candidate join column, the key count,
    * the heaviest key and its row count, and the skew ratio
    * max·n_keys/n_rows (1.0 = uniform). Each column costs one
    * two-level aggregation (per-key counts map-side-combine, then a
    * bounded max-of-struct); ties break to the smallest key so the
    * audit is engine-exact. */
  def skewAudit: Q = (s, d) => {
    def audit(table: String, column: String, df: DataFrame): DataFrame =
      df.select(col(column).cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
          max(struct(col("cnt"), (-col("k")).as("nk"))).as("m"))
        .select(lit(table).as("table_name"), lit(column).as("column_name"),
          col("n_rows"), col("n_keys"),
          col("m.cnt").as("max_rows"), (-col("m.nk")).as("heaviest_key"),
          (floor((col("m.cnt").cast("decimal(38,0)") * col("n_keys")).cast("double")
            / col("n_rows").cast("double") * 1e4) / 1e4).as("skew_ratio"))
    audit("lineitem", "l_orderkey", Tables.lineitem(s, d))
      .unionByName(audit("lineitem", "l_partkey", Tables.lineitem(s, d)))
      .unionByName(audit("lineitem", "l_suppkey", Tables.lineitem(s, d)))
      .unionByName(audit("orders", "o_custkey", Tables.orders(s, d)))
      .unionByName(audit("events", "user_id", Tables.events(s, d)))
  }

  val skewAuditSql: String = {
    def audit(table: String, column: String) =
      s"""SELECT '$table' AS table_name, '$column' AS column_name,
                 CAST(sum(cnt) AS BIGINT) AS n_rows, count(*) AS n_keys,
                 (max({'c': cnt, 'nk': -k})).c AS max_rows,
                 -(max({'c': cnt, 'nk': -k})).nk AS heaviest_key,
                 floor(CAST(CAST((max({'c': cnt, 'nk': -k})).c AS HUGEINT) * count(*)
                            AS DOUBLE)
                       / CAST(sum(cnt) AS DOUBLE) * 1e4) / 1e4 AS skew_ratio
          FROM (SELECT CAST($column AS BIGINT) AS k, count(*) AS cnt
                FROM $table GROUP BY 1) t"""
    s"""SELECT * FROM (
          ${audit("lineitem", "l_orderkey")}
          UNION ALL ${audit("lineitem", "l_partkey")}
          UNION ALL ${audit("lineitem", "l_suppkey")}
          UNION ALL ${audit("orders", "o_custkey")}
          UNION ALL ${audit("events", "user_id")}) u
        ORDER BY table_name, column_name"""
  }

  /** Lorenz curve deciles per nation — the curve behind
    * `q_gini_revenue`'s scalar: at each decile k the cumulative
    * customer share and revenue share, read off the SAME ranked
    * customer aggregate the Gini uses (never the fact table). The
    * decile anchor rows are selected by joining a broadcast 10-row
    * grid on i = (k·n) div 10 — exact integer arithmetic; the two
    * shares are the only divisions. */
  def lorenzCurve: Q = (s, d) => {
    val w = Window.partitionBy(col("n_name")).orderBy(col("cust_cents"), col("custkey"))
    val ranked = customerCents(s, d)
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cum_cents", sum(col("cust_cents"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_cust", count(lit(1))
        .over(Window.partitionBy(col("n_name"))))
      .withColumn("total_cents", sum(col("cust_cents"))
        .over(Window.partitionBy(col("n_name"))))
    val grid = { import s.implicits._; (1 to 10).toDF("decile") }
    ranked.join(broadcast(grid),
        col("i") === expr("(decile * n_cust) div 10") && col("decile") >= 1)
      .select(col("n_name"), col("decile"), col("i"), col("n_cust"),
        col("cum_cents"), col("total_cents"),
        (floor(col("i").cast("double") / col("n_cust").cast("double") * 1e4) / 1e4)
          .as("cust_share"),
        (floor(col("cum_cents").cast("double") / col("total_cents").cast("double") * 1e4)
          / 1e4).as("rev_share"))
  }

  val lorenzCurveSql: String =
    """WITH rev AS (
         SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cust_cents
         FROM orders GROUP BY 1),
       j AS (
         SELECT n_name, o_custkey AS custkey, cust_cents
         FROM rev JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey),
       r AS (
         SELECT n_name, custkey, cust_cents,
                CAST(row_number() OVER w AS BIGINT) AS i,
                CAST(sum(cust_cents) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_cents,
                CAST(count(*) OVER (PARTITION BY n_name) AS BIGINT) AS n_cust,
                CAST(sum(cust_cents) OVER (PARTITION BY n_name) AS BIGINT) AS total_cents
         FROM j WINDOW w AS (PARTITION BY n_name ORDER BY cust_cents, custkey))
       SELECT n_name, CAST(g.decile AS INT) AS decile, i, n_cust, cum_cents, total_cents,
              floor(CAST(i AS DOUBLE) / CAST(n_cust AS DOUBLE) * 1e4) / 1e4 AS cust_share,
              floor(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) * 1e4) / 1e4
                AS rev_share
       FROM r JOIN (SELECT unnest(generate_series(1, 10)) AS decile) g
         ON i = (g.decile * n_cust) // 10
       ORDER BY n_name, g.decile"""

  val BootB = 64
  /** 95% percentile-CI ranks over BootB sorted replicate means:
    * conservative inner indices floor(.025·B)+1 and ceil(.975·B). */
  val BootLoRank: Int = math.floor(0.025 * BootB).toInt + 1
  val BootHiRank: Int = math.ceil(0.975 * BootB).toInt

  /** One-pass Poisson bootstrap of the mean order value (the
    * massive-data resampling discipline of Chamandy et al., "Estimating
    * uncertainty for massive data streams", 2012): replicate b draws
    * each order Poisson(1) times via its content hash against
    * driver-embedded CDF thresholds (the `sample_poisson` idiom — no
    * runtime libm, no RNG state), so all B resampled means come out of
    * ONE corpus pass as B map-side-combined aggregates. The shuffle
    * carries B rows per partition regardless of corpus size; the
    * 95% CI is rank-based over the B replicate means (no float
    * summation across replicates anywhere). Emits the full replicate
    * ledger — rank 2 / 63 rows ARE the interval bounds. */
  def bootstrapCi: Q = (s, d) => {
    val ts = Pipeline.poissonThresholds(1.0)
    // ONE md5 yields 128 bits = EIGHT independent 16-bit uniforms (4
    // hex digits each), so the B=64 replicas need only B/8 digests per
    // row — md5 is the dominant cost of the whole declared B·N draw
    // budget (the r14 sf1 probe put the entry at ~10 s at EVERY scale
    // factor on its B/2-digest predecessor; cutting digests 4× is the
    // whole fix). 16 bits is ample for an 8-threshold Poisson(1)
    // inverse-CDF draw: the quantization bias on each replicate weight
    // is < PoissonCap·2⁻¹⁶ ≈ 1.2e-4 — far inside the percentile-CI's
    // own B=64 resolution. The oracle derives the identical eight
    // slices per digest, so the draw replays exactly.
    val slots = BootB / 8
    // eight weights computed WIDE per digest row (no second explode):
    // the aggregate sees slots·N rows, not B·N — 8× less row machinery
    // through the map-side combine — and carries 2·8 = 16 slots per
    // group. The 8-replicate width stays far under the 2B-slot wide
    // formulation that was measured slower here (its ~640-branch
    // projection paid ~14 s of fixed codegen compilation per session);
    // at 8×8 = 64 CASE branches codegen stays small. A stack() after
    // the aggregate unpivots the 8 groups × 8 sub-slots back to the
    // B-row replicate ledger — identical values to the exploded form.
    def u(j: Int): org.apache.spark.sql.Column =
      conv(substring(col("h"), 4 * j + 1, 4), 16, 10).cast("double") / lit(65536e0)
    def wj(j: Int): org.apache.spark.sql.Column =
      ts.map(t => when(u(j) > lit(t), 1L).otherwise(0L)).reduce(_ + _)
    val aggs = (0 until 8).flatMap(j => Seq(
      sum(wj(j)).as(s"n$j"), sum(wj(j) * col("cents")).as(s"c$j")))
    val stackArgs = (0 until 8).map(j => s"b8 * 8 + $j, n$j, c$j").mkString(", ")
    // round-robin the SLIM (key, cents) projection before the fan-out:
    // the draw stage does ~64 hash draws per input row, so scan
    // parallelism (file-granularity — sf0.1 orders is ONE 2.7 MB
    // parquet split ⇒ one core ran the whole B·N budget) must not
    // bound it. The shuffle moves 16-byte rows, ~1/64th of the work it
    // unlocks, at any scale.
    val reps = Tables.orders(s, d)
      .select(col("o_orderkey"), floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(slots - 1))).as("b8"))
      .withColumn("h", md5(concat(lit("boot:"), col("b8").cast("string"),
        lit(":"), col("o_orderkey").cast("string"))))
      .groupBy(col("b8"))
      .agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(8, $stackArgs) as (b, n_eff, wcents)")
      .withColumn("mean_cents",
        floor(col("wcents").cast("double") / col("n_eff").cast("double") * 1e4) / 1e4)
    reps.withColumn("rank", row_number().over(
        Window.orderBy(col("mean_cents"), col("b"))).cast("int"))
      .select(col("b"), col("n_eff"), col("mean_cents"), col("rank"),
        (col("rank") === BootLoRank).as("is_ci_lo"),
        (col("rank") === BootHiRank).as("is_ci_hi"))
  }

  val bootstrapCiSql: String = {
    val slots = BootB / 8
    def uSql(j: Int) = s"(('0x' || substr(h, ${4 * j + 1}, 4))::BIGINT / 65536e0)"
    def wSql(j: Int) = Pipeline.poissonThresholds(1.0)
      .map(t => s"(CASE WHEN ${uSql(j)} > $t THEN 1 ELSE 0 END)").mkString("(", " + ", ")")
    val aggCols = (0 until 8).map(j =>
      s"sum(${wSql(j)}) AS n$j, sum(${wSql(j)} * cents) AS c$j").mkString(", ")
    val unpivot = (0 until 8).map(j =>
      s"SELECT b8 * 8 + $j AS b, n$j AS n_eff, c$j AS wcents FROM agg")
      .mkString("\n          UNION ALL ")
    s"""WITH hd AS (
          SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents, g.b8,
                 md5('boot:' || CAST(g.b8 AS VARCHAR) || ':'
                    || CAST(o_orderkey AS VARCHAR)) AS h
          FROM orders, (SELECT unnest(range(0, $slots)) AS b8) g),
        agg AS (SELECT b8, $aggCols FROM hd GROUP BY b8),
        reps AS (
          SELECT CAST(b AS INT) AS b, CAST(n_eff AS BIGINT) AS n_eff,
                 CAST(wcents AS BIGINT) AS wcents
          FROM ($unpivot)),
        m AS (
          SELECT b, n_eff,
                 floor(CAST(wcents AS DOUBLE) / CAST(n_eff AS DOUBLE) * 1e4) / 1e4
                   AS mean_cents
          FROM reps),
        r AS (
          SELECT *, CAST(row_number() OVER (ORDER BY mean_cents, b) AS INT) AS rank
          FROM m)
        SELECT b, n_eff, mean_cents, rank,
               rank = $BootLoRank AS is_ci_lo, rank = $BootHiRank AS is_ci_hi
        FROM r ORDER BY b"""
  }

  /** Welch's unequal-variance t-test between every pair of event
    * types on the (cent-exact) value column: n, Σx, Σx² per group are
    * exact integers (Σx² and the variance numerator n·Σx²−(Σx)² in
    * DECIMAL(38,0)/HUGEINT), so t and the Welch–Satterthwaite df are
    * each ONE fixed double sequence over exact inputs. The pair join
    * is |types|² on a groups-sized aggregate — at 100 TB the corpus
    * contributes one map-side-combined aggregation and nothing else.
    * (No p-value by design: that would need a t-CDF — irrational
    * surface; consumers threshold t against their own tables.) */
  def welchTtest: Q = (s, d) => {
    val per = Tables.events(s, d)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sxx"))
    val a = per.select(col("event_type").as("type_a"), col("n").as("n_a"),
      col("sx").as("sx_a"), col("sxx").as("sxx_a"))
    val b = per.select(col("event_type").as("type_b"), col("n").as("n_b"),
      col("sx").as("sx_b"), col("sxx").as("sxx_b"))
    def varOverN(n: String, sx: String, sxx: String) =
      (col(n).cast("decimal(38,0)") * col(sxx)
        - col(sx).cast("decimal(38,0)") * col(sx)).cast("double") /
        (col(n) * (col(n) - 1)).cast("double") / col(n).cast("double")
    a.join(broadcast(b), col("type_a") < col("type_b"))
      .withColumn("v_a", varOverN("n_a", "sx_a", "sxx_a"))
      .withColumn("v_b", varOverN("n_b", "sx_b", "sxx_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        (floor(col("sx_a").cast("double") / col("n_a").cast("double") * 1e4) / 1e4)
          .as("mean_a"),
        (floor(col("sx_b").cast("double") / col("n_b").cast("double") * 1e4) / 1e4)
          .as("mean_b"),
        (floor((col("sx_a").cast("double") / col("n_a").cast("double")
            - col("sx_b").cast("double") / col("n_b").cast("double"))
          / sqrt(col("v_a") + col("v_b")) * 1e4) / 1e4).as("t_welch"),
        (floor((col("v_a") + col("v_b")) * (col("v_a") + col("v_b"))
          / (col("v_a") * col("v_a") / (col("n_a") - 1).cast("double")
            + col("v_b") * col("v_b") / (col("n_b") - 1).cast("double"))
          * 1e4) / 1e4).as("df_welch"))
  }

  val welchTtestSql: String =
    """WITH per AS (
         SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sx,
                sum(CAST(c AS HUGEINT) * c) AS sxx
         FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
               FROM events) t
         GROUP BY 1),
       p AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                a.n AS n_a, b.n AS n_b, a.sx AS sx_a, b.sx AS sx_b,
                CAST(a.n AS HUGEINT) * a.sxx - CAST(a.sx AS HUGEINT) * a.sx AS num_a,
                CAST(b.n AS HUGEINT) * b.sxx - CAST(b.sx AS HUGEINT) * b.sx AS num_b
         FROM per a JOIN per b ON a.event_type < b.event_type),
       v AS (
         SELECT *,
           CAST(num_a AS DOUBLE) / CAST(n_a * (n_a - 1) AS DOUBLE)
             / CAST(n_a AS DOUBLE) AS v_a,
           CAST(num_b AS DOUBLE) / CAST(n_b * (n_b - 1) AS DOUBLE)
             / CAST(n_b AS DOUBLE) AS v_b
         FROM p)
       SELECT type_a, type_b, n_a, n_b,
         floor(CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1e4) / 1e4 AS mean_a,
         floor(CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1e4) / 1e4 AS mean_b,
         floor((CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
               / sqrt(v_a + v_b) * 1e4) / 1e4 AS t_welch,
         floor((v_a + v_b) * (v_a + v_b)
               / (v_a * v_a / CAST(n_a - 1 AS DOUBLE)
                  + v_b * v_b / CAST(n_b - 1 AS DOUBLE)) * 1e4) / 1e4 AS df_welch
       FROM v ORDER BY type_a, type_b"""

  /** ABC inventory classification (the 80/95 Pareto cut every supply
    * chain runs): parts ranked by revenue, class A while the running
    * share stays ≤80%, B to 95%, C after. Kin to `q_lorenz_curve` /
    * `q_gini_revenue`, but the output is the operational bucket
    * ledger. No corpus-row sort: parts collapse to their revenue
    * VALUE (distinct cents), and the descending cumulative over that
    * domain is the two-level prefix-sum decomposition (`q_concurrency`
    * discipline): a (lo,hi) aggregate fixes a ≤4096-cell integer grid
    * over the value range, per-cell running sums shuffle-partition by
    * cell, and the cross-cell carry is one cumulative window over the
    * ≤4097-row per-cell totals — no unpartitioned window ever sees a
    * corpus-sized frame. Same-revenue parts share a class by
    * construction (the deterministic tie rule), the 80/95 cuts are
    * exact integer comparisons cum·100 ≤ pct·total, and the integer
    * decomposition is exact — the oracle keeps the one-window form. */
  def abcClassification: Q = (s, d) => {
    val per = Tables.lineitem(s, d)
      .select(col("l_partkey"), floor(col("l_extendedprice") * 100).cast("long").as("c"))
      .groupBy(col("l_partkey")).agg(sum(col("c")).as("cents"))
    // lazy plan cut: the value table feeds the bounds aggregate AND the
    // cell assignment (whose two consumers fan out again) — one
    // materialization serves every Catalyst branch instead of
    // re-aggregating lineitem per branch
    val byVal = graft.Checkpoints.cutLazy(
      per.groupBy(col("cents")).agg(count(lit(1)).as("n_parts_v")))
    // ONE pass over the value table yields the grid bounds AND the grand
    // total; the broadcast row then rides the cell assignment so `tot`
    // needs no second crossJoin downstream.
    val bounds = byVal.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
      sum(col("cents") * col("n_parts_v")).as("tot"))
    val cells = byVal.crossJoin(broadcast(bounds))
      .withColumn("cell", expr("(cents - lo) div greatest(1L, (hi - lo) div 4096 + 1)"))
      .drop("lo", "hi")
      .withColumn("mass", col("cents") * col("n_parts_v"))
    val wCell = Window.partitionBy(col("cell")).orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inCell = cells.withColumn("wcum", sum(col("mass")).over(wCell))
    val carry = cells.groupBy(col("cell")).agg(sum(col("mass")).as("cmass"))
      .withColumn("carry", coalesce(sum(col("cmass")).over(
        Window.orderBy(col("cell").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("cell"), col("carry"))
    inCell.join(broadcast(carry), Seq("cell"))
      .withColumn("cum", col("carry") + col("wcum"))
      .withColumn("cls",
        when(col("cum") * 100 <= col("tot") * 80, "A")
          .when(col("cum") * 100 <= col("tot") * 95, "B").otherwise("C"))
      .groupBy(col("cls"))
      .agg(sum(col("n_parts_v")).as("n_parts"),
        sum(col("cents") * col("n_parts_v")).as("class_cents"),
        min(col("tot")).as("tot"))
      .select(col("cls"), col("n_parts"), col("class_cents"),
        (floor(col("class_cents").cast("double") / col("tot").cast("double") * 1e4)
          / 1e4).as("revenue_share"))
  }

  val abcClassificationSql: String =
    """WITH per AS (
         SELECT l_partkey,
                CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM lineitem GROUP BY 1),
       byval AS (SELECT cents, count(*) AS n_parts_v FROM per GROUP BY 1),
       tot AS (SELECT CAST(sum(cents * n_parts_v) AS BIGINT) AS tot FROM byval),
       c AS (
         SELECT cents, n_parts_v,
                CAST(sum(cents * n_parts_v) OVER (ORDER BY cents DESC) AS BIGINT)
                  AS cum
         FROM byval),
       cls AS (
         SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                     WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS cls,
                n_parts_v, cents * n_parts_v AS cents_v, tot
         FROM c, tot)
       SELECT cls, CAST(sum(n_parts_v) AS BIGINT) AS n_parts,
              CAST(sum(cents_v) AS BIGINT) AS class_cents,
              floor(CAST(sum(cents_v) AS DOUBLE) / CAST(min(tot) AS DOUBLE) * 1e4)
                / 1e4 AS revenue_share
       FROM cls GROUP BY 1 ORDER BY 1"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_abc_classification", abcClassification, Some(abcClassificationSql)),
    ("q_bootstrap_ci", bootstrapCi, Some(bootstrapCiSql)),
    ("q_welch_ttest", welchTtest, Some(welchTtestSql)),
    ("q_lorenz_curve", lorenzCurve, Some(lorenzCurveSql)),
    ("q_data_skew_audit", skewAudit, Some(skewAuditSql)),
    ("events_cooccur_pmi", cooccurPmi, Some(cooccurPmiSql)),
    ("q_sprt_abtest", sprtAbtest, Some(sprtAbtestSql)),
    ("events_burstiness", burstiness, Some(burstinessSql)),
    ("q_gini_revenue", giniRevenue, Some(giniRevenueSql)),
    ("q_mann_kendall", mannKendall, Some(mannKendallSql)),
    ("q_runs_test", runsTest, Some(runsTestSql)),
    ("q_waterfall_bridge", waterfallBridge, Some(waterfallBridgeSql)),
    ("q_ks_test", ksTest, Some(ksTestSql)),
    ("q_regression_trend", regressionTrend, Some(regressionTrendSql)),
    ("q_mutual_info", mutualInfo, Some(mutualInfoSql)))
}
