package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality profiling — the "what did I just ingest" read every
  * pipeline runs before trusting a table. The reference's collector
  * health-checks its sources per scrape (connection up, rows returned);
  * an engine that OWNS the tables profiles them: per-column null
  * counts, exact distinct cardinalities, numeric ranges, string length
  * bounds.
  *
  * Scale design (100 TB): ONE pass over the fact table. All per-column
  * metrics live in a single Aggregate; the multiple COUNT(DISTINCT)s
  * plan through Catalyst's Expand (|cols|× row expansion feeding one
  * shuffle of partial states) — still one scan, no per-column rescans.
  * The final unpivot is a `stack` over the single result row: driver
  * cost is |cols|, zero extra jobs. At petabyte scale you'd swap the
  * exact distincts for `graft_theta` sketches (same shape, mergeable,
  * no Expand) — the exact form is kept here because it is
  * oracle-checkable bit-for-bit; `sketch_theta_distinct` carries the
  * sketch variant's contract.
  */
object Quality {

  type Q = (SparkSession, String) => DataFrame

  private sealed trait Kind
  private case object Num extends Kind
  private case object Str extends Kind
  private case object Ts  extends Kind

  /** Number of profiled columns — exposed so QualitySpec can pin "one
    * single-column scan per profiled column" as the invariant instead
    * of a magic 7 (a def: object vals initialize in declaration order). */
  private[graft] def profiledSize: Int = profiled.size

  private val profiled: Seq[(String, Kind)] = Seq(
    "l_orderkey" -> Num, "l_quantity" -> Num, "l_extendedprice" -> Num,
    "l_discount" -> Num, "l_returnflag" -> Str, "l_shipdate" -> Ts,
    "l_linestatus" -> Str)

  def dqProfile: Q = (s, d) => {
    // One union branch per profiled column, each a SINGLE-distinct
    // aggregate over just that column. The one-aggregate form packed
    // seven countDistinct into one agg, which Catalyst rewrites to an
    // Expand ×8 of the whole scan (4.8M wide expanded rows at sf0.1,
    // 3.4 s measured); a single-distinct branch plans as a plain
    // two-level aggregate with no Expand, the scan reads ONE column
    // per branch, and the seven branches have no dependencies so the
    // scheduler runs their stages concurrently inside the one job
    // (guide §2.6: overlap independent work; measured 3.4 → ~1 s).
    // Values are bit-identical to the one-aggregate form.
    val li = Tables.lineitem(s, d)
    val branches: Seq[DataFrame] = profiled.map { case (c, kind) =>
      val (mn, mx, ln, lx) = kind match {
        case Num => (round(min(col(c)), 2).cast("double"),
          round(max(col(c)), 2).cast("double"),
          lit(null).cast("int"), lit(null).cast("int"))
        case Ts => (min(unix_timestamp(col(c))).cast("double"),
          max(unix_timestamp(col(c))).cast("double"),
          lit(null).cast("int"), lit(null).cast("int"))
        case Str => (lit(null).cast("double"), lit(null).cast("double"),
          min(length(col(c))).cast("int"), max(length(col(c))).cast("int"))
      }
      li.select(col(c)).agg(
        count(lit(1)).as("n_rows"),
        count(when(col(c).isNull, 1)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        mn.as("num_min"), mx.as("num_max"), ln.as("len_min"), lx.as("len_max"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("num_min"), col("num_max"),
          col("len_min"), col("len_max"))
    }
    branches.reduce(_ unionByName _)
  }

  val dqProfileSql: String = {
    val aggs = profiled.flatMap { case (c, kind) =>
      val base = Seq(
        s"count(*) FILTER (WHERE $c IS NULL) AS nn_$c",
        s"count(DISTINCT $c) AS nd_$c")
      val range = kind match {
        case Num => Seq(s"CAST(round(min($c), 2) AS DOUBLE) AS mn_$c",
          s"CAST(round(max($c), 2) AS DOUBLE) AS mx_$c")
        case Ts => Seq(s"CAST(epoch(date_trunc('second', min($c))) AS DOUBLE) AS mn_$c",
          s"CAST(epoch(date_trunc('second', max($c))) AS DOUBLE) AS mx_$c")
        case Str => Seq(s"CAST(min(length($c)) AS INT) AS ln_$c",
          s"CAST(max(length($c)) AS INT) AS lx_$c")
      }
      base ++ range
    }
    val rows = profiled.map { case (c, kind) =>
      val (mn, mx, ln, lx) = kind match {
        case Str => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)", s"ln_$c", s"lx_$c")
        case _   => (s"mn_$c", s"mx_$c", "CAST(NULL AS INT)", "CAST(NULL AS INT)")
      }
      s"""SELECT '$c' AS col_name, n AS n_rows, nn_$c AS n_nulls, nd_$c AS n_distinct,
                 $mn AS num_min, $mx AS num_max, $ln AS len_min, $lx AS len_max FROM a"""
    }
    s"""WITH a AS (SELECT count(*) AS n, ${aggs.mkString(", ")} FROM lineitem)
       SELECT * FROM (${rows.mkString(" UNION ALL ")}) t ORDER BY col_name"""
  }

  /** Exact DECIMAL money arithmetic — the financial-reporting
    * contract: revenue aggregated in fixed-point, where no summation
    * order can perturb a cent. Doubles are rounded to their 2-decimal
    * face value ONCE (the same IEEE double rounds the same way in any
    * engine), then every multiply/sum runs in decimal — Spark's sum of
    * DECIMAL is exact (overflow-checked), so this is the query shape
    * to hand an auditor, vs the floor-truncation contracts the float
    * entries declare. Output serialized at scale 4 so both engines
    * print the identical fixed-point literal. */
  def decimalMoney: Q = (s, d) => {
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        (round(col("l_extendedprice"), 2).cast("decimal(14,2)") *
          round(lit(1) - col("l_discount"), 2).cast("decimal(5,2)")).as("net"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("net")).as("rev"), count(lit(1)).as("n_lines"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("rev").cast("decimal(28,4)").cast("string").as("revenue"),
        col("n_lines"))
  }

  val decimalMoneySql: String =
    """SELECT l_returnflag, l_linestatus,
              CAST(CAST(sum(CAST(round(l_extendedprice, 2) AS DECIMAL(14,2))
                            * CAST(round(1 - l_discount, 2) AS DECIMAL(5,2)))
                   AS DECIMAL(28,4)) AS VARCHAR) AS revenue,
              count(*) AS n_lines
       FROM lineitem
       GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus"""

  /** Config-driven data-quality RULES — the expectation-suite read
    * (dbt tests / Great Expectations at warehouse scale): domain
    * checks, range checks, null checks, and referential integrity,
    * each reported as (rule, n_checked, violations, pass). The scale
    * contract is rule FUSION: all rules over one table run as ONE
    * aggregation pass (conditional counts share the scan), and the FK
    * check is one left-join aggregation — 6 rules cost 3 scans + 1
    * join, not 6 scans. Pure integer counts: oracle-exact. */
  def dqRules: Q = (s, d) => {
    val li = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"),
      count(when(!(col("l_quantity") >= 1 && col("l_quantity") <= 50), 1)).as("v_qty"),
      count(when(!(col("l_discount") >= 0 && col("l_discount") <= 0.1), 1)).as("v_disc"))
      .selectExpr("""stack(2,
        'lineitem_quantity_in_1_50', n, v_qty,
        'lineitem_discount_in_0_01', n, v_disc) as (rule, n_checked, violations)""")
    val o = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("v_status"),
      count(when(col("o_totalprice") <= 0, 1)).as("v_price"))
      .selectExpr("""stack(2,
        'orders_status_in_OFP', n, v_status,
        'orders_totalprice_positive', n, v_price) as (rule, n_checked, violations)""")
    val c = Tables.customer(s, d).agg(
      count(lit(1)).as("n"),
      count(when(col("c_acctbal").isNull, 1)).as("v_null"))
      .selectExpr("""stack(1,
        'customer_acctbal_not_null', n, v_null) as (rule, n_checked, violations)""")
    val fk = Tables.orders(s, d).select(col("o_custkey"))
      .join(Tables.customer(s, d).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        count(when(col("c_custkey").isNull, 1)).as("v"))
      .selectExpr("""stack(1,
        'orders_custkey_references_customer', n, v) as (rule, n_checked, violations)""")
    li.unionByName(o).unionByName(c).unionByName(fk)
      .withColumn("pass", col("violations") === 0)
  }

  val dqRulesSql: String =
    """SELECT rule, n_checked, violations, violations = 0 AS pass FROM (
         SELECT 'lineitem_quantity_in_1_50' AS rule, count(*) AS n_checked,
                count(*) FILTER (WHERE NOT (l_quantity >= 1 AND l_quantity <= 50)) AS violations
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_discount_in_0_01', count(*),
                count(*) FILTER (WHERE NOT (l_discount >= 0 AND l_discount <= 0.1))
         FROM lineitem
         UNION ALL
         SELECT 'orders_status_in_OFP', count(*),
                count(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
         FROM orders
         UNION ALL
         SELECT 'orders_totalprice_positive', count(*),
                count(*) FILTER (WHERE o_totalprice <= 0)
         FROM orders
         UNION ALL
         SELECT 'customer_acctbal_not_null', count(*),
                count(*) FILTER (WHERE c_acctbal IS NULL)
         FROM customer
         UNION ALL
         SELECT 'orders_custkey_references_customer', count(*),
                count(*) FILTER (WHERE c.c_custkey IS NULL)
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey) t
       ORDER BY rule"""

  /** PSI Laplace smoothing: (c+1)/(n+buckets) keeps every bucket share
    * strictly positive so ln(p/q) is always defined. */
  val PsiBuckets = 10

  /** Population Stability Index — the model-monitoring drift metric:
    * decile edges trained on the REFERENCE half of the date range
    * (edges from one exact-percentile aggregate, broadcast — the
    * `q_rfm_segments` pattern), both halves bucketed, per-bucket
    * psi = (p−q)·ln(p/q) on Laplace-smoothed shares. Float surface is
    * ONE division per share difference (exact integer cross-products
    * first: p−q = (c_r·n_s' − c_s·n_r')/(n_r'·n_s')), one division
    * inside the ln, one multiply — identical IEEE ops both engines,
    * floor-truncated at 6dp. The split point derives from min/max
    * (broadcast 1-row), not a calendar literal. */
  def driftPsi: Q = (s, d) => {
    val o = graft.sources.Tables.orders(s, d)
      .select(unix_timestamp(col("o_orderdate")).as("odate"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val mid = o.agg(((min(col("odate")) + max(col("odate"))) / 2).cast("long").as("mid"))
    val tagged = o.crossJoin(broadcast(mid))
      .withColumn("is_ref", col("odate") < col("mid"))
    val qs = (1 until PsiBuckets).map(i => s"${i.toDouble / PsiBuckets}e0")
    val edges = tagged.filter(col("is_ref"))
      .agg(expr(s"percentile(cents, array(${qs.mkString(", ")}))").as("b"))
    val bucket = (lit(1) +: (0 until PsiBuckets - 1)
      .map(i => when(col("cents") > col("b")(i), 1).otherwise(0)))
      .reduce(_ + _).cast("int")
    val counts = tagged.crossJoin(broadcast(edges))
      .groupBy(bucket.as("bucket"))
      .agg(count(when(col("is_ref"), 1)).as("c_ref"),
        count(when(!col("is_ref"), 1)).as("c_scr"))
      .withColumn("n_ref", sum(col("c_ref")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("n_scr", sum(col("c_scr")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    counts
      .withColumn("pn", col("c_ref") + 1).withColumn("pd", col("n_ref") + PsiBuckets)
      .withColumn("qn", col("c_scr") + 1).withColumn("qd", col("n_scr") + PsiBuckets)
      .select(col("bucket"), col("c_ref"), col("c_scr"),
        (floor(((col("pn") * col("qd") - col("qn") * col("pd")).cast("double") /
          (col("pd") * col("qd")).cast("double")) *
          log((col("pn") * col("qd")).cast("double") / (col("qn") * col("pd")).cast("double")) *
          1e6) / 1e6).as("psi_term"))
  }

  val driftPsiSql: String = {
    val qs = (1 until PsiBuckets).map(i => i.toDouble / PsiBuckets)
    val terms = (1 until PsiBuckets).map(i => s"(cents > b[$i])::INT").mkString(" + ")
    s"""WITH o AS (
          SELECT CAST(epoch(o_orderdate) AS BIGINT) AS odate,
                 CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders),
        m AS (SELECT (min(odate) + max(odate)) // 2 AS mid FROM o),
        tagged AS (SELECT cents, odate < mid AS is_ref FROM o CROSS JOIN m),
        e AS (SELECT quantile_cont(cents, [${qs.mkString(", ")}]) AS b
              FROM tagged WHERE is_ref),
        counts AS (
          SELECT CAST(1 + $terms AS INT) AS bucket,
                 count(*) FILTER (WHERE is_ref) AS c_ref,
                 count(*) FILTER (WHERE NOT is_ref) AS c_scr
          FROM tagged CROSS JOIN e GROUP BY 1),
        t AS (
          SELECT bucket, c_ref, c_scr,
                 c_ref + 1 AS pn, sum(c_ref) OVER () + $PsiBuckets AS pd,
                 c_scr + 1 AS qn, sum(c_scr) OVER () + $PsiBuckets AS qd
          FROM counts)
        SELECT bucket, c_ref, c_scr,
               floor((CAST(pn * qd - qn * pd AS DOUBLE) / CAST(pd * qd AS DOUBLE)) *
                     ln(CAST(pn * qd AS DOUBLE) / CAST(qn * pd AS DOUBLE)) * 1e6) / 1e6
                 AS psi_term
        FROM t ORDER BY bucket"""
  }

  import TextAnalysis.trunc4

  /** Benford first-digit expectations log10(1+1/d), computed ONCE in
    * Scala and embedded as identical double literals in both engines'
    * plans — the libm-log call never runs inside either engine, so the
    * comparison is literal-exact by construction. */
  private val benfordExpected: Seq[(Int, Double)] =
    (1 to 9).map(dd => dd -> math.log(1.0 + 1.0 / dd) / math.log(10.0))

  /** Benford's-law conformance of order totals — the classic fraud /
    * synthetic-data smell test: share of orders by first significant
    * digit vs log10(1+1/d). The digit is extracted from the exact cent
    * integer's decimal string (no float log10 in the hot path — engine
    * logs differ in ulps; strings don't). One scan, one 9-group agg.
    */
  def dqBenford: Q = (s, d) => benfordConformance(s, d, 1, benfordExpected)

  /** Share of orders by the digit at 1-based position `pos` of the exact
    * cent integer, against the `expected` shares: the one body of
    * `dq_benford` and `dq_benford_digit2`. */
  private def benfordConformance(s: SparkSession, d: String, pos: Int,
      expected: Seq[(Int, Double)]): DataFrame = {
    val expectedCase = expected
      .map { case (dd, v) => s"WHEN $dd THEN ${v}e0" }.mkString(" ")
    Tables.orders(s, d)
      .select(expr(s"CAST(substring(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING), $pos, 1) AS INT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
      .withColumn("total", sum(col("n_orders")).over())
      .select(col("digit"), col("n_orders"),
        trunc4(col("n_orders").cast("double") / col("total").cast("double")).as("share"),
        expr(s"CASE digit $expectedCase END").as("expected_share"),
        trunc4(abs(col("n_orders").cast("double") / col("total").cast("double")
          - expr(s"CASE digit $expectedCase END"))).as("abs_gap"))
  }

  val dqBenfordSql: String = {
    val expectedCase = benfordExpected
      .map { case (dd, v) => s"WHEN $dd THEN ${v}e0" }.mkString(" ")
    s"""WITH dg AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
          FROM orders),
        c AS (SELECT digit, count(*) AS n_orders FROM dg GROUP BY digit),
        t AS (SELECT digit, n_orders, sum(n_orders) OVER () AS total FROM c)
        SELECT digit, n_orders,
               floor(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) * 10000) / 10000.0 AS share,
               CASE digit $expectedCase END AS expected_share,
               floor(abs(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
                 - CASE digit $expectedCase END) * 10000) / 10000.0 AS abs_gap
        FROM t ORDER BY digit"""
  }

  /** Benford SECOND-digit expectations Σ_{d1=1..9} log10(1+1/(10·d1+d2))
    * — same literal-embedding trick as [[benfordExpected]]: computed
    * once in Scala, identical double literals in both plans. */
  private val benford2Expected: Seq[(Int, Double)] =
    (0 to 9).map(d2 => d2 ->
      (1 to 9).map(d1 => math.log(1.0 + 1.0 / (10 * d1 + d2)) / math.log(10.0)).sum)

  /** Benford second-digit conformance — the test auditors run AFTER
    * the first digit passes, because fabricated numbers that fake the
    * first-digit curve rarely fake the (much flatter) second-digit
    * law P(d₂)=Σ_{d₁} log10(1+1/(10d₁+d₂)). Same digit-from-exact-
    * cent-string extraction (no float log10 in either engine's hot
    * path), same one-scan one-10-group shape as `dq_benford`. */
  def dqBenfordDigit2: Q = (s, d) => benfordConformance(s, d, 2, benford2Expected)

  val dqBenfordDigit2Sql: String = {
    val expectedCase = benford2Expected
      .map { case (dd, v) => s"WHEN $dd THEN ${v}e0" }.mkString(" ")
    s"""WITH dg AS (
          SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 2, 1) AS INT) AS digit
          FROM orders),
        c AS (SELECT digit, count(*) AS n_orders FROM dg GROUP BY digit),
        t AS (SELECT digit, n_orders, sum(n_orders) OVER () AS total FROM c)
        SELECT digit, n_orders,
               floor(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE) * 10000) / 10000.0 AS share,
               CASE digit $expectedCase END AS expected_share,
               floor(abs(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE)
                 - CASE digit $expectedCase END) * 10000) / 10000.0 AS abs_gap
        FROM t ORDER BY digit"""
  }

  /** Tukey-fence outlier accounting per customer segment: exact Q1/Q3
    * (bounded group count → exact percentile is fine; rounded to cents
    * like `q_percentiles`, which pins the percentile↔quantile_cont
    * cross-engine parity), IQR fences at 1.5×, and the count of
    * customers outside each fence. Two passes over customer: one 5-row
    * quantile agg broadcast back, one filtered count — at 100 TB both
    * are single shuffles on the segment key. */
  def dqOutlierIqr: Q = (s, d) => {
    val c = Tables.customer(s, d)
    // fences in exact integer cents: a second float round() at the
    // x.xx5 boundary is engine-divergent; integer 3·iqr/2 is not
    val fences = c.groupBy(col("c_mktsegment"))
      .agg(round(expr("percentile(c_acctbal, 0.25)"), 2).as("q1"),
        round(expr("percentile(c_acctbal, 0.75)"), 2).as("q3"))
      .withColumn("q1c", round(col("q1") * 100).cast("long"))
      .withColumn("q3c", round(col("q3") * 100).cast("long"))
      .select(col("c_mktsegment"), col("q1"), col("q3"),
        (expr("q1c - (3 * (q3c - q1c)) div 2") / 100.0).as("fence_lo"),
        (expr("q3c + (3 * (q3c - q1c)) div 2") / 100.0).as("fence_hi"))
    c.join(broadcast(fences), Seq("c_mktsegment"))
      .groupBy(col("c_mktsegment"), col("q1"), col("q3"),
        col("fence_lo"), col("fence_hi"))
      .agg(count(lit(1)).as("n_customers"),
        count(when(col("c_acctbal") < col("fence_lo"), 1)).as("n_low"),
        count(when(col("c_acctbal") > col("fence_hi"), 1)).as("n_high"))
      .select(col("c_mktsegment"), col("n_customers"), col("q1"), col("q3"),
        col("fence_lo"), col("fence_hi"), col("n_low"), col("n_high"))
  }

  val dqOutlierIqrSql: String =
    """WITH f AS (
         SELECT c_mktsegment,
                round(quantile_cont(c_acctbal, 0.25), 2) AS q1,
                round(quantile_cont(c_acctbal, 0.75), 2) AS q3
         FROM customer GROUP BY c_mktsegment),
       fc AS (
         SELECT c_mktsegment, q1, q3,
                CAST(round(q1 * 100) AS BIGINT) AS q1c,
                CAST(round(q3 * 100) AS BIGINT) AS q3c
         FROM f),
       f2 AS (
         SELECT c_mktsegment, q1, q3,
                (q1c - (3 * (q3c - q1c)) // 2) / 100.0 AS fence_lo,
                (q3c + (3 * (q3c - q1c)) // 2) / 100.0 AS fence_hi
         FROM fc)
       SELECT c.c_mktsegment, count(*) AS n_customers, f2.q1, f2.q3,
              f2.fence_lo, f2.fence_hi,
              count(*) FILTER (WHERE c.c_acctbal < f2.fence_lo) AS n_low,
              count(*) FILTER (WHERE c.c_acctbal > f2.fence_hi) AS n_high
       FROM customer c JOIN f2 USING (c_mktsegment)
       GROUP BY c.c_mktsegment, f2.q1, f2.q3, f2.fence_lo, f2.fence_hi
       ORDER BY c.c_mktsegment"""

  /** Expected update cadence per table, seconds. */
  val FreshnessCadence = Seq(
    ("events", 3600L), ("orders", 86400L), ("lineitem", 86400L))

  /** Freshness SLA ledger — "is every table still being fed": per
    * table the latest event-time, its lag against a DETERMINISTIC
    * reference clock (the max timestamp across all monitored tables —
    * never the wall clock, so the entry is replayable), the expected
    * cadence, and the SLA verdict at 2× cadence. Three 1-row
    * aggregates + one 1-row broadcast; all integer seconds. */
  def freshnessSla: Q = (s, d) => {
    import org.apache.spark.sql.DataFrame
    def latest(name: String, df: DataFrame, tsCol: String): DataFrame =
      df.agg(max(unix_timestamp(date_trunc("second", col(tsCol)))).as("latest_sec"))
        .select(lit(name).as("table_name"), col("latest_sec"))
    val per = latest("events", Tables.events(s, d), "ts")
      .unionByName(latest("orders", Tables.orders(s, d), "o_orderdate"))
      .unionByName(latest("lineitem", Tables.lineitem(s, d), "l_shipdate"))
    val ref = per.agg(max(col("latest_sec")).as("ref_sec"))
    val cadence = FreshnessCadence.tail.foldLeft(
      when(col("table_name") === FreshnessCadence.head._1, lit(FreshnessCadence.head._2))) {
      case (acc, (n, c)) => acc.when(col("table_name") === n, lit(c))
    }
    per.crossJoin(broadcast(ref))
      .withColumn("cadence_sec", cadence)
      .withColumn("lag_sec", col("ref_sec") - col("latest_sec"))
      .withColumn("sla_ok", col("lag_sec") <= lit(2L) * col("cadence_sec"))
      .select(col("table_name"), col("latest_sec"), col("ref_sec"),
        col("lag_sec"), col("cadence_sec"), col("sla_ok"))
  }

  val freshnessSlaSql: String = {
    val cadenceCase = FreshnessCadence
      .map { case (n, c) => s"WHEN '$n' THEN $c" }.mkString(" ")
    s"""WITH per AS (
          SELECT 'events' AS table_name,
                 CAST(max(epoch(date_trunc('second', ts))) AS BIGINT) AS latest_sec
          FROM events
          UNION ALL
          SELECT 'orders',
                 CAST(max(epoch(date_trunc('second', o_orderdate))) AS BIGINT)
          FROM orders
          UNION ALL
          SELECT 'lineitem',
                 CAST(max(epoch(date_trunc('second', l_shipdate))) AS BIGINT)
          FROM lineitem),
        ref AS (SELECT max(latest_sec) AS ref_sec FROM per)
        SELECT table_name, latest_sec, ref_sec,
               ref_sec - latest_sec AS lag_sec,
               CAST(CASE table_name $cadenceCase END AS BIGINT) AS cadence_sec,
               ref_sec - latest_sec <= 2 * CAST(CASE table_name $cadenceCase END AS BIGINT)
                 AS sla_ok
        FROM per, ref ORDER BY table_name"""
  }

  /** One-pass correlation MATRIX over lineitem's four numeric
    * measures (quantity, price, discount scaled ×100, tax ×100) —
    * the EDA read behind every "which columns move together" heatmap,
    * computed the way a 100 TB table forces: ONE aggregation collects
    * all 4 sums, 4 squared sums and 6 cross sums as exact integers
    * (wide products DECIMAL(38,0)/HUGEINT), then the 6 pairwise
    * correlations unpivot from that single row — the corpus is
    * scanned once, not once per pair (vs `q_corr_covar`'s single
    * pair). Each r is one fixed IEEE sequence, zero-variance → null. */
  def corrMatrix: Q = (s, d) => {
    val cols = Seq(
      "qty" -> floor(col("l_quantity")).cast("long"),
      "price" -> floor(col("l_extendedprice") * 100).cast("long"),
      "disc" -> floor(col("l_discount") * 100).cast("long"),
      "tax" -> floor(col("l_tax") * 100).cast("long"))
    val base = Tables.lineitem(s, d).select(cols.map { case (n, c) => c.as(n) }: _*)
    val sums =
      Seq(count(lit(1)).as("n")) ++
        cols.map { case (n, _) => sum(col(n)).as(s"s_$n") } ++
        (for {
          (a, i) <- cols.map(_._1).zipWithIndex
          b <- cols.map(_._1).drop(i)
        } yield sum(col(a).cast("decimal(38,0)") * col(b)).as(s"s_${a}_$b"))
    val agg = base.agg(sums.head, sums.tail: _*)
    val pairs = for {
      (a, i) <- cols.map(_._1).zipWithIndex
      b <- cols.map(_._1).drop(i + 1)
    } yield (a, b)
    // all 6 pair rows unpivot from the SINGLE aggregate row (one corpus
    // scan, not one per pair); sums are widened to DECIMAL(38,0) before
    // squaring — a cent-sum square overflows BIGINT at this scale
    def wide(c: String) = col(c).cast("decimal(38,0)")
    val arms = agg.select(explode(array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"), col("n").as("n"),
        (col("n") * col(s"s_${a}_$a") - wide(s"s_$a") * col(s"s_$a")).as("vx"),
        (col("n") * col(s"s_${b}_$b") - wide(s"s_$b") * col(s"s_$b")).as("vy"),
        (col("n") * col(s"s_${a}_$b") - wide(s"s_$a") * col(s"s_$b")).as("cov"))
    }: _*)).as("p")).select("p.*")
    arms
      .select(col("col_a"), col("col_b"), col("n"),
        when(col("vx") > 0 && col("vy") > 0,
          floor(col("cov").cast("double")
            / (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double")))
            * 1e4) / 1e4).as("corr"))
  }

  val corrMatrixSql: String = {
    val defs = Seq("qty" -> "CAST(floor(l_quantity) AS BIGINT)",
      "price" -> "CAST(floor(l_extendedprice * 100) AS BIGINT)",
      "disc" -> "CAST(floor(l_discount * 100) AS BIGINT)",
      "tax" -> "CAST(floor(l_tax * 100) AS BIGINT)")
    val names = defs.map(_._1)
    val crossSums = (for {
      (a, i) <- names.zipWithIndex
      b <- names.drop(i)
    } yield s"sum(CAST($a AS HUGEINT) * $b) AS s_${a}_$b").mkString(", ")
    val simpleSums = names.map(n => s"CAST(sum($n) AS BIGINT) AS s_$n").mkString(", ")
    val armsSql = (for {
      (a, i) <- names.zipWithIndex
      b <- names.drop(i + 1)
    } yield
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n,
             n * s_${a}_$a - CAST(s_$a AS HUGEINT) * s_$a AS vx,
             n * s_${b}_$b - CAST(s_$b AS HUGEINT) * s_$b AS vy,
             n * s_${a}_$b - CAST(s_$a AS HUGEINT) * s_$b AS cov
          FROM agg""").mkString(" UNION ALL ")
    s"""WITH base AS (
          SELECT ${defs.map { case (n, e) => s"$e AS $n" }.mkString(", ")}
          FROM lineitem),
        agg AS (SELECT count(*) AS n, $simpleSums, $crossSums FROM base),
        arms AS ($armsSql)
        SELECT col_a, col_b, n,
               CASE WHEN vx > 0 AND vy > 0
                    THEN floor(CAST(cov AS DOUBLE)
                               / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
                               * 1e4) / 1e4 END AS corr
        FROM arms ORDER BY col_a, col_b"""
  }

  /** Duplicate-payment audit — the classic AP forensic query: two
    * DIFFERENT purchase events by the same user for the same dollar
    * amount within 7 days are double-charge suspects. The pair join
    * keys on (user, dollar-amount) — exact equality does the heavy
    * pruning, the time window is a residual filter, the lower-id side
    * anchors each pair once. At 100 TB the join shuffles on a
    * high-cardinality composite key whose group sizes are naturally
    * tiny (same-dollar purchases by one user) — no all-pairs
    * anywhere. */
  def duplicatePayments: Q = (s, d) => {
    val p = Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        floor(col("value")).cast("long").as("amt"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    val a = p.select(col("event_id").as("ev_a"), col("user_id"),
      col("amt"), col("sec").as("sec_a"))
    val b = p.select(col("event_id").as("ev_b"), col("user_id"),
      col("amt"), col("sec").as("sec_b"))
    a.join(b, Seq("user_id", "amt"))
      .filter(col("ev_a") < col("ev_b") &&
        abs(col("sec_a") - col("sec_b")) <= 7L * 86400L)
      .select(col("user_id"), col("amt"), col("ev_a"), col("ev_b"),
        floor(abs(col("sec_a") - col("sec_b")).cast("double") / 3600.0e0)
          .cast("long").as("hours_apart"))
  }

  val duplicatePaymentsSql: String =
    """WITH p AS (
         SELECT event_id, user_id, CAST(floor(value) AS BIGINT) AS amt,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
         FROM events WHERE event_type = 'purchase')
       SELECT a.user_id, a.amt, a.event_id AS ev_a, b.event_id AS ev_b,
              abs(a.sec - b.sec) // 3600 AS hours_apart
       FROM p a JOIN p b
         ON b.user_id = a.user_id AND b.amt = a.amt AND a.event_id < b.event_id
       WHERE abs(a.sec - b.sec) <= 7 * 86400
       ORDER BY a.user_id, a.amt, ev_a, ev_b"""

  /** Table-level ingest-volume anomaly detection — the data-ops
    * monitor that catches a broken upstream feed before any query
    * does: daily row counts per TABLE (orders, lineitem, events — the
    * multi-table shape none of the per-series detectors cover), a
    * robust median/MAD baseline per table, and a |n−med| > 3·MAD
    * flag. Median and MAD are exact discrete ranks ((N+1) div 2) over
    * the bounded day spine — two rank windows per table, both on the
    * |tables|×|days| aggregate, never the facts; all comparisons
    * integer (3·MAD vs |n−med|, no division anywhere). */
  def volumeAnomaly: Q = (s, d) => {
    def daily(df: DataFrame, tsCol: String, name: String) = df
      .groupBy(expr(s"cast(unix_timestamp(date_trunc('second', $tsCol)) div 86400 as bigint)")
        .as("day"))
      .agg(count(lit(1)).as("n"))
      .select(lit(name).as("tbl"), col("day"), col("n"))
    // `all` is the bounded |tables|×|days| daily-count spine, but it is
    // referenced three times below (median rank, MAD rank, final flag
    // join) and each reference re-scans ALL THREE fact tables. One lazy
    // cut = one scan of orders+lineitem+events (guide §2.4); the
    // materialized frame is day-spine-sized (SPINE class).
    val all = graft.Checkpoints.cutLazy(
      daily(Tables.orders(s, d), "o_orderdate", "orders")
        .unionByName(daily(Tables.lineitem(s, d), "l_shipdate", "lineitem"))
        .unionByName(daily(Tables.events(s, d), "ts", "events")))
    val wN = Window.partitionBy(col("tbl"))
    val r1 = all
      .withColumn("nd", count(lit(1)).over(wN))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tbl")).orderBy(col("n"), col("day"))))
    val med = r1.filter(col("rn") === expr("(nd + 1) div 2"))
      .select(col("tbl"), col("n").as("med"))
    val r2 = all.join(broadcast(med), "tbl")
      .withColumn("adev", abs(col("n") - col("med")))
      .withColumn("nd", count(lit(1)).over(wN))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("tbl")).orderBy(col("adev"), col("day"))))
    val mad = r2.filter(col("rn") === expr("(nd + 1) div 2"))
      .select(col("tbl"), col("adev").as("mad"))
    all.join(broadcast(med), "tbl").join(broadcast(mad), "tbl")
      .select(col("tbl"), col("day"), col("n"), col("med"), col("mad"),
        (abs(col("n") - col("med")) > col("mad") * 3).as("is_anomaly"))
      .filter(col("is_anomaly"))
  }

  val volumeAnomalySql: String = {
    def daily(table: String, tsCol: String) =
      s"""SELECT '$table' AS tbl,
                 CAST(epoch(date_trunc('second', $tsCol)) AS BIGINT) // 86400 AS day,
                 count(*) AS n
          FROM $table GROUP BY 2"""
    s"""WITH alld AS (
          ${daily("orders", "o_orderdate")}
          UNION ALL ${daily("lineitem", "l_shipdate")}
          UNION ALL ${daily("events", "ts")}),
        r1 AS (
          SELECT *, count(*) OVER (PARTITION BY tbl) AS nd,
                 row_number() OVER (PARTITION BY tbl ORDER BY n, day) AS rn
          FROM alld),
        med AS (SELECT tbl, n AS med FROM r1 WHERE rn = (nd + 1) // 2),
        r2 AS (
          SELECT a.tbl, a.day, abs(a.n - m.med) AS adev,
                 count(*) OVER (PARTITION BY a.tbl) AS nd,
                 row_number() OVER (PARTITION BY a.tbl
                   ORDER BY abs(a.n - m.med), a.day) AS rn
          FROM alld a JOIN med m USING (tbl)),
        mad AS (SELECT tbl, adev AS mad FROM r2 WHERE rn = (nd + 1) // 2)
        SELECT a.tbl, a.day, a.n, m.med, d.mad,
               abs(a.n - m.med) > d.mad * 3 AS is_anomaly
        FROM alld a JOIN med m USING (tbl) JOIN mad d USING (tbl)
        WHERE abs(a.n - m.med) > d.mad * 3
        ORDER BY a.tbl, a.day"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("dq_volume_anomaly", volumeAnomaly, Some(volumeAnomalySql)),
    ("q_corr_matrix", corrMatrix, Some(corrMatrixSql)),
    ("q_duplicate_payments", duplicatePayments, Some(duplicatePaymentsSql)),
    ("dq_benford", dqBenford, Some(dqBenfordSql)),
    ("dq_benford_digit2", dqBenfordDigit2, Some(dqBenfordDigit2Sql)),
    ("dq_outlier_iqr", dqOutlierIqr, Some(dqOutlierIqrSql)),
    ("dq_drift_psi", driftPsi, Some(driftPsiSql)),
    ("dq_rules", dqRules, Some(dqRulesSql)),
    ("dq_freshness_sla", freshnessSla, Some(freshnessSlaSql)),
    ("dq_profile", dqProfile, Some(dqProfileSql)),
    ("q_decimal_money", decimalMoney, Some(decimalMoneySql)))
}
