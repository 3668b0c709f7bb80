package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based nonparametric tests and multiple-testing control — the
  * distribution-free complement to Stats' parametric family (Welch t,
  * χ², KS): Mann–Whitney U, Kruskal–Wallis H, Benjamini–Hochberg FDR,
  * and Cramér's V. A monitoring engine compares latency/volume
  * distributions whose shape it cannot assume; rank tests are the
  * standard tool (the reference emits the raw gauges —
  * collector/exporters/mysql/mysql-exporter.go:12-48 — and leaves the
  * judgment to this layer).
  *
  * Float parity strategy (the Stats contract): ranks, rank sums and tie
  * terms are exact integers on the ×2 scale (average ranks of ties are
  * half-integers, so 2·rank is an integer), accumulated in
  * DECIMAL(38,0)/HUGEINT; each emitted real is ONE fixed IEEE op
  * sequence over those exact inputs, floored once for display. The
  * Cramér χ² total avoids a cross-cell float-sum ordering problem by
  * flooring each cell term to a 1e-6 grid first — the sum is then an
  * exact integer in both engines.
  *
  * Scale design (100 TB): every test runs on a VALUE-DOMAIN histogram
  * (≤50 quantity levels, |priorities|×|statuses| cells, |types|×7
  * cells), never on corpus rows — the rank windows see dozens of rows
  * at any data size.
  */
object RankStats {

  type Q = (SparkSession, String) => DataFrame

  /** Quantity histogram by return flag: the shared value-domain spine
    * (l_quantity is integral 1..50 by TPC-H construction). */
  private def qtyHist(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"),
        col("l_quantity").cast("int").as("qty"))
      .agg(count(lit(1)).as("cnt"))

  private val qtyHistSql =
    """SELECT l_returnflag AS flag, CAST(l_quantity AS INT) AS qty,
              count(*) AS cnt
       FROM lineitem GROUP BY 1, 2"""

  // ------------------------------------------------ Mann–Whitney U

  /** Mann–Whitney U ('A' vs 'R' return flags over the quantity
    * distribution), ties handled with average ranks on the exact ×2
    * scale: 2·rank(v) = 2·|{< v}| + cnt(v) + 1. U₁×2 = R₁×2 − n₁(n₁+1)
    * stays integral (DECIMAL(38,0)/HUGEINT — n² outgrows BIGINT around
    * N≈3e9); the tie-corrected z is one fixed double sequence. */
  def mannWhitneyU: Q = (s, d) => {
    val byQty = qtyHist(s, d).filter(col("flag").isin("A", "R"))
      .groupBy(col("qty"))
      .agg(sum(when(col("flag") === "A", col("cnt")).otherwise(0L)).as("cnt_a"),
        sum(when(col("flag") === "R", col("cnt")).otherwise(0L)).as("cnt_r"))
      .withColumn("cnt", col("cnt_a") + col("cnt_r"))
    val w = Window.orderBy(col("qty")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byQty
      .withColumn("cumlt", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("r2", lit(2L) * col("cumlt") + col("cnt") + 1L)
    ranked.agg(
      sum(col("cnt_a")).as("n_a"), sum(col("cnt_r")).as("n_r"),
      sum(col("cnt_a").cast("decimal(38,0)") * col("r2")).as("r1_x2"),
      sum(col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt")
        - col("cnt")).as("tie_term"))
      .select(col("n_a"), col("n_r"),
        (col("r1_x2") - col("n_a").cast("decimal(38,0)") * (col("n_a") + 1))
          .cast("double").as("u1_x2"),
        col("tie_term").cast("double").as("tie_term"), {
          val na = col("n_a").cast("double"); val nr = col("n_r").cast("double")
          val n = na + nr
          val u1 = (col("r1_x2") - col("n_a").cast("decimal(38,0)")
            * (col("n_a") + 1)).cast("double") / 2.0
          val mean = na * nr / 2.0
          val variance = na * nr / 12.0 *
            ((n + 1.0) - col("tie_term").cast("double") / (n * (n - 1.0)))
          (floor((u1 - mean) / sqrt(variance) * 1e4) / 1e4).as("z")
        })
  }

  val mannWhitneyUSql: String =
    s"""WITH h AS ($qtyHistSql),
       byqty AS (
         SELECT qty,
                CAST(sum(CASE WHEN flag = 'A' THEN cnt ELSE 0 END) AS BIGINT)
                  AS cnt_a,
                CAST(sum(CASE WHEN flag = 'R' THEN cnt ELSE 0 END) AS BIGINT)
                  AS cnt_r
         FROM h WHERE flag IN ('A', 'R') GROUP BY 1),
       r AS (
         SELECT qty, cnt_a, cnt_r, cnt_a + cnt_r AS cnt,
                coalesce(sum(cnt_a + cnt_r) OVER (ORDER BY qty
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cumlt
         FROM byqty),
       agg AS (
         SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
                CAST(sum(cnt_r) AS BIGINT) AS n_r,
                sum(CAST(cnt_a AS HUGEINT) * (2 * cumlt + cnt + 1)) AS r1_x2,
                sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_term
         FROM r)
       SELECT n_a, n_r,
              CAST(r1_x2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) AS u1_x2,
              CAST(tie_term AS DOUBLE) AS tie_term,
              floor((CAST(r1_x2 - CAST(n_a AS HUGEINT) * (n_a + 1) AS DOUBLE) / 2.0
                     - CAST(n_a AS DOUBLE) * CAST(n_r AS DOUBLE) / 2.0)
                    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_r AS DOUBLE) / 12.0
                           * ((CAST(n_a AS DOUBLE) + CAST(n_r AS DOUBLE) + 1.0)
                              - CAST(tie_term AS DOUBLE)
                                / ((CAST(n_a AS DOUBLE) + CAST(n_r AS DOUBLE))
                                   * (CAST(n_a AS DOUBLE) + CAST(n_r AS DOUBLE) - 1.0))))
                    * 1e4) / 1e4 AS z
       FROM agg"""

  // ------------------------------------------------ Kruskal–Wallis H

  /** The quantity histogram pivoted on the three return flags: one row
    * per qty with its A/N/R counts (`cnt_a`, `cnt_n`, `cnt_r`). */
  private def flagCounts(s: SparkSession, d: String): DataFrame =
    qtyHist(s, d)
      .groupBy(col("qty"))
      .agg(sum(when(col("flag") === "A", col("cnt")).otherwise(0L)).as("cnt_a"),
        sum(when(col("flag") === "N", col("cnt")).otherwise(0L)).as("cnt_n"),
        sum(when(col("flag") === "R", col("cnt")).otherwise(0L)).as("cnt_r"))

  /** Kruskal–Wallis across all three return flags: per-group rank sums
    * on the ×2 scale; H = 3/(N(N+1))·Σ Rⱼ²ₓ₂/nⱼ − 3(N+1) with the
    * three group terms added in fixed A+N+R order (one explicit
    * left-to-right sum, not an engine-ordered aggregate); tie-corrected
    * by C = 1 − Στ/(N³−N). Emits the per-group rank sums plus the
    * shared H on each row. */
  def kruskalWallis: Q = (s, d) => {
    val byQty = flagCounts(s, d)
      .withColumn("cnt", col("cnt_a") + col("cnt_n") + col("cnt_r"))
    val w = Window.orderBy(col("qty")).rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byQty
      .withColumn("cumlt", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("r2", lit(2L) * col("cumlt") + col("cnt") + 1L)
    val agg = ranked.agg(
      sum(col("cnt_a")).as("n_a"), sum(col("cnt_n")).as("n_n"),
      sum(col("cnt_r")).as("n_r"),
      sum(col("cnt_a").cast("decimal(38,0)") * col("r2")).as("ra_x2"),
      sum(col("cnt_n").cast("decimal(38,0)") * col("r2")).as("rn_x2"),
      sum(col("cnt_r").cast("decimal(38,0)") * col("r2")).as("rr_x2"),
      sum(col("cnt").cast("decimal(38,0)") * col("cnt") * col("cnt")
        - col("cnt")).as("tie_term"))
    val h = agg.select(col("n_a"), col("n_n"), col("n_r"),
      col("ra_x2").cast("double").as("ra_x2"),
      col("rn_x2").cast("double").as("rn_x2"),
      col("rr_x2").cast("double").as("rr_x2"), {
        val n = (col("n_a") + col("n_n") + col("n_r")).cast("double")
        val sumTerm =
          col("ra_x2").cast("double") * col("ra_x2").cast("double") / col("n_a").cast("double") +
            col("rn_x2").cast("double") * col("rn_x2").cast("double") / col("n_n").cast("double") +
            col("rr_x2").cast("double") * col("rr_x2").cast("double") / col("n_r").cast("double")
        val hraw = lit(3.0) / (n * (n + 1.0)) * sumTerm - lit(3.0) * (n + 1.0)
        val c = lit(1.0) - col("tie_term").cast("double") / (n * n * n - n)
        (floor(hraw / c * 1e4) / 1e4).as("h_corr")
      })
    // one row per group, the shared statistic repeated
    h.selectExpr("stack(3, 'A', n_a, ra_x2, 'N', n_n, rn_x2, 'R', n_r, rr_x2) as (flag, n_j, r_sum_x2)",
      "h_corr")
  }

  val kruskalWallisSql: String =
    s"""WITH h AS ($qtyHistSql),
       byqty AS (
         SELECT qty,
                CAST(sum(CASE WHEN flag = 'A' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_a,
                CAST(sum(CASE WHEN flag = 'N' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_n,
                CAST(sum(CASE WHEN flag = 'R' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_r
         FROM h GROUP BY 1),
       r AS (
         SELECT *, cnt_a + cnt_n + cnt_r AS cnt,
                coalesce(sum(cnt_a + cnt_n + cnt_r) OVER (ORDER BY qty
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumlt
         FROM byqty),
       agg AS (
         SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
                CAST(sum(cnt_n) AS BIGINT) AS n_n,
                CAST(sum(cnt_r) AS BIGINT) AS n_r,
                sum(CAST(cnt_a AS HUGEINT) * (2 * cumlt + cnt + 1)) AS ra_x2,
                sum(CAST(cnt_n AS HUGEINT) * (2 * cumlt + cnt + 1)) AS rn_x2,
                sum(CAST(cnt_r AS HUGEINT) * (2 * cumlt + cnt + 1)) AS rr_x2,
                sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_term
         FROM r),
       stat AS (
         SELECT n_a, n_n, n_r,
                CAST(ra_x2 AS DOUBLE) AS ra_x2, CAST(rn_x2 AS DOUBLE) AS rn_x2,
                CAST(rr_x2 AS DOUBLE) AS rr_x2,
                CAST(n_a + n_n + n_r AS DOUBLE) AS n,
                CAST(tie_term AS DOUBLE) AS tie_term
         FROM agg),
       hh AS (
         SELECT *,
                floor((3.0 / (n * (n + 1.0))
                       * (ra_x2 * ra_x2 / CAST(n_a AS DOUBLE)
                          + rn_x2 * rn_x2 / CAST(n_n AS DOUBLE)
                          + rr_x2 * rr_x2 / CAST(n_r AS DOUBLE))
                       - 3.0 * (n + 1.0))
                      / (1.0 - tie_term / (n * n * n - n)) * 1e4) / 1e4
                  AS h_corr
         FROM stat)
       SELECT 'A' AS flag, n_a AS n_j, ra_x2 AS r_sum_x2, h_corr FROM hh
       UNION ALL SELECT 'N', n_n, rn_x2, h_corr FROM hh
       UNION ALL SELECT 'R', n_r, rr_x2, h_corr FROM hh
       ORDER BY flag"""

  // ------------------------------------------------ Benjamini–Hochberg

  /** Benjamini–Hochberg step-up FDR control (α = 0.2) over the
    * |types|×|dows| contingency cells: each cell's χ² term (exact
    * integer inputs, one double sequence) becomes the surrogate
    * p = 1/(1+term); ranks ascend by (p, type, dow); the step-up
    * rejects every rank ≤ max{i : p₍ᵢ₎ ≤ i·α/m}. Both rank windows run
    * over the cell table — dozens of rows at any scale. */
  def bhFdr: Q = (s, d) => {
    // the cells/margins frame and the χ² term are Affinity's ONE shared
    // definition (chi2CellMargins / chi2TermCol) — spelled once so the
    // cast-before-multiply overflow discipline can never fork
    val terms = Affinity.chi2CellMargins(s, d)
      .select(col("event_type"), col("dow"), col("m"),
        (lit(1.0) / (lit(1.0) + Affinity.chi2TermCol)).as("p"))
    val ranked = terms.withColumn("rank",
      row_number().over(Window.orderBy(col("p"), col("event_type"), col("dow")))
        .cast("long"))
    ranked
      .withColumn("kmax",
        max(when(col("p") <= col("rank").cast("double") * 0.2 / col("m").cast("double"),
          col("rank"))).over(Window.partitionBy()))
      .select(col("event_type"), col("dow"), col("rank"),
        (floor(col("p") * 1e6) / 1e6).as("p_floor"),
        (col("kmax").isNotNull && col("rank") <= col("kmax")).as("rejected"))
  }

  val bhFdrSql: String =
    s"""WITH ${Affinity.chi2CellMarginsSql},
       p AS (
         SELECT event_type, dow, m,
                1.0 / (1.0 + ${Affinity.chi2TermSqlExpr}) AS p
         FROM margins),
       ranked AS (
         SELECT *, row_number() OVER (ORDER BY p, event_type, dow) AS rank
         FROM p),
       k AS (
         SELECT *,
                max(CASE WHEN p <= CAST(rank AS DOUBLE) * 0.2 / CAST(m AS DOUBLE)
                         THEN rank END) OVER () AS kmax
         FROM ranked)
       SELECT event_type, dow, rank, floor(p * 1e6) / 1e6 AS p_floor,
              (kmax IS NOT NULL AND rank <= kmax) AS rejected
       FROM k ORDER BY rank"""

  // ------------------------------------------------ Cramér's V

  /** Cramér's V over the order-priority × order-status contingency:
    * each cell's χ² term is floored to the 1e-6 grid FIRST, so the
    * cross-cell total is an exact integer sum in both engines (no float
    * summation-order hazard); V = sqrt(χ²/(N·min(r−1,c−1))) is then one
    * fixed double sequence. */
  def cramersV: Q = (s, d) => {
    val cells = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("o"))
    val wAll = Window.partitionBy()
    val terms = cells
      .withColumn("t", sum(col("o")).over(wAll))
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("pri"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("st"))))
      .withColumn("n_r", size(collect_set(col("pri")).over(wAll)))
      .withColumn("n_c", size(collect_set(col("st")).over(wAll)))
      .withColumn("term_u", {
        val num = col("o").cast("double") * col("t").cast("double") -
          col("r").cast("double") * col("c").cast("double")
        val den = col("r").cast("double") * col("c").cast("double") * col("t").cast("double")
        floor(num * num / den * 1e6).cast("long")
      })
    terms.groupBy()
      .agg(max(col("t")).as("n"), max(col("n_r")).as("r_levels"),
        max(col("n_c")).as("c_levels"), sum(col("term_u")).as("chi2_u"))
      .select(col("n"), col("r_levels").cast("long").as("r_levels"),
        col("c_levels").cast("long").as("c_levels"), col("chi2_u"),
        (floor(sqrt(col("chi2_u").cast("double") / 1e6 /
          (col("n").cast("double") *
            least(col("r_levels") - 1, col("c_levels") - 1).cast("double")))
          * 1e4) / 1e4).as("cramers_v"))
  }

  val cramersVSql: String =
    """WITH cells AS (
         SELECT o_orderpriority AS pri, o_orderstatus AS st, count(*) AS o
         FROM orders GROUP BY 1, 2),
       m AS (
         SELECT pri, st, o,
                CAST(sum(o) OVER () AS BIGINT) AS t,
                CAST(sum(o) OVER (PARTITION BY pri) AS BIGINT) AS r,
                CAST(sum(o) OVER (PARTITION BY st) AS BIGINT) AS c
         FROM cells),
       lv AS (
         SELECT count(DISTINCT pri) AS r_levels, count(DISTINCT st) AS c_levels
         FROM cells),
       terms AS (
         SELECT t,
                CAST(floor((o::DOUBLE * t::DOUBLE - r::DOUBLE * c::DOUBLE)
                           * (o::DOUBLE * t::DOUBLE - r::DOUBLE * c::DOUBLE)
                           / (r::DOUBLE * c::DOUBLE * t::DOUBLE) * 1e6) AS BIGINT)
                  AS term_u
         FROM m)
       SELECT max(t) AS n, CAST(min(lv.r_levels) AS BIGINT) AS r_levels,
              CAST(min(lv.c_levels) AS BIGINT) AS c_levels,
              CAST(sum(term_u) AS BIGINT) AS chi2_u,
              floor(sqrt(CAST(sum(term_u) AS DOUBLE) / 1e6
                         / (CAST(max(t) AS DOUBLE)
                            * CAST(least(min(lv.r_levels), min(lv.c_levels)) - 1
                                   AS DOUBLE))) * 1e4) / 1e4 AS cramers_v
       FROM terms, lv"""

  // ------------------------------------------------ Spearman rho

  /** Spearman rank correlation between l_quantity and l_discount per
    * return flag — the monotone-association read (does bigger volume
    * buy deeper discount?) free of either marginal's shape. Both
    * variables live on BOUNDED value domains (50 quantity levels, 11
    * discount cents levels), so the whole test runs on the ≤550-cell
    * paired histogram: average ranks of ties on the exact ×2 scale
    * from each marginal's cumulative counts, the five moment sums
    * (Σw·rx, Σw·ry, Σw·rx², Σw·ry², Σw·rx·ry) accumulated in
    * DECIMAL(38,0)/HUGEINT, and rho = ONE fixed double sequence over
    * their casts (the ×2 scale cancels), floored at 1e-4. */
  def spearman: Q = (s, d) => {
    val cells = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("flag"),
        col("l_quantity").cast("int").as("qty"),
        floor(col("l_discount") * 100 + 0.5).cast("int").as("disc"))
      .agg(count(lit(1)).as("cnt"))
    val wq = Window.partitionBy(col("flag")).orderBy(col("qty"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wd = Window.partitionBy(col("flag")).orderBy(col("disc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mq = cells.groupBy(col("flag"), col("qty"))
      .agg(sum(col("cnt")).as("cq"))
      .withColumn("rx2", lit(2L) * coalesce(sum(col("cq")).over(wq), lit(0L))
        + col("cq") + 1L)
    val md = cells.groupBy(col("flag"), col("disc"))
      .agg(sum(col("cnt")).as("cd"))
      .withColumn("ry2", lit(2L) * coalesce(sum(col("cd")).over(wd), lit(0L))
        + col("cd") + 1L)
    cells.join(mq.select(col("flag"), col("qty"), col("rx2")), Seq("flag", "qty"))
      .join(md.select(col("flag"), col("disc"), col("ry2")), Seq("flag", "disc"))
      .groupBy(col("flag"))
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt").cast("decimal(38,0)") * col("rx2")).as("sx"),
        sum(col("cnt").cast("decimal(38,0)") * col("ry2")).as("sy"),
        sum(col("cnt").cast("decimal(38,0)") * col("rx2") * col("rx2")).as("sxx"),
        sum(col("cnt").cast("decimal(38,0)") * col("ry2") * col("ry2")).as("syy"),
        sum(col("cnt").cast("decimal(38,0)") * col("rx2") * col("ry2")).as("sxy"))
      .select(col("flag"), col("n"), {
        val n = col("n").cast("double")
        val sx = col("sx").cast("double"); val sy = col("sy").cast("double")
        val sxx = col("sxx").cast("double"); val syy = col("syy").cast("double")
        val sxy = col("sxy").cast("double")
        (floor((n * sxy - sx * sy)
          / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e4) / 1e4)
          .as("rho")
      })
  }

  val spearmanSql: String =
    """WITH cells AS (
         SELECT l_returnflag AS flag, CAST(l_quantity AS INT) AS qty,
                CAST(floor(l_discount * 100 + 0.5) AS INT) AS disc, count(*) AS cnt
         FROM lineitem GROUP BY 1, 2, 3),
       mq AS (
         SELECT flag, qty,
                2 * coalesce(sum(cq) OVER (PARTITION BY flag ORDER BY qty
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cq + 1 AS rx2
         FROM (SELECT flag, qty, CAST(sum(cnt) AS BIGINT) AS cq
               FROM cells GROUP BY 1, 2) t),
       md AS (
         SELECT flag, disc,
                2 * coalesce(sum(cd) OVER (PARTITION BY flag ORDER BY disc
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + cd + 1 AS ry2
         FROM (SELECT flag, disc, CAST(sum(cnt) AS BIGINT) AS cd
               FROM cells GROUP BY 1, 2) t),
       agg AS (
         SELECT c.flag, CAST(sum(cnt) AS BIGINT) AS n,
                sum(CAST(cnt AS HUGEINT) * rx2) AS sx,
                sum(CAST(cnt AS HUGEINT) * ry2) AS sy,
                sum(CAST(cnt AS HUGEINT) * rx2 * rx2) AS sxx,
                sum(CAST(cnt AS HUGEINT) * ry2 * ry2) AS syy,
                sum(CAST(cnt AS HUGEINT) * rx2 * ry2) AS sxy
         FROM cells c
         JOIN mq ON mq.flag = c.flag AND mq.qty = c.qty
         JOIN md ON md.flag = c.flag AND md.disc = c.disc
         GROUP BY c.flag)
       SELECT flag, n,
              floor((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
                * 1e4) / 1e4 AS rho
       FROM agg ORDER BY flag"""

  // ------------------------------------------------ Friedman test

  /** Friedman test — k correlated treatments ranked WITHIN each block
    * (the repeated-measures sibling of Kruskal–Wallis): treatments =
    * the 5 event types, blocks = days, observations = the day's total
    * value cents. With average ranks on the ×2 scale the tie-corrected
    * statistic is a ratio of two EXACT integers:
    *   Q = (k−1)·Σ_j (S2_j − n(k+1))² / (Σ_ij r2_ij² − n·k·(k+1)²)
    * (both sides carry the ×4; it cancels). One |days|×k rank window,
    * integer sums, a single double division floored at 1e-4. */
  def friedman: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wlt = Window.partitionBy(col("day")).orderBy(col("cents"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val weq = Window.partitionBy(col("day"), col("cents"))
    val ranked = daily
      .withColumn("nlt", coalesce(count(lit(1)).over(wlt), lit(0L)))
      .withColumn("neq", count(lit(1)).over(weq))
      .withColumn("r2", lit(2L) * col("nlt") + col("neq") + 1L)
    val perT = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2")).as("s2"), count(lit(1)).as("n_blocks"),
        sum(col("r2").cast("decimal(38,0)") * col("r2")).as("sr2sq"))
      // k = |treatments| = the row count of this k-row aggregate — a
      // partitionless window over a bounded frame, no driver action
      .withColumn("k", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    perT.groupBy(col("k"))
      .agg(max(col("n_blocks")).as("n_blocks"),
        sum((col("s2").cast("decimal(38,0)") - col("n_blocks") * (col("k") + 1))
          * (col("s2").cast("decimal(38,0)") - col("n_blocks") * (col("k") + 1)))
          .as("num_sum"),
        sum(col("sr2sq")).as("den_a"),
        sum(col("n_blocks")).as("n_total"))
      .select(col("n_blocks"), col("k"), {
        val num = (col("k").cast("double") - 1.0) * col("num_sum").cast("double")
        val den = col("den_a").cast("double") -
          col("n_total").cast("double") * (col("k") + 1) * (col("k") + 1)
        (floor(num / den * 1e4) / 1e4).as("q_stat")
      }, (col("k") - 1).as("df"))
  }

  val friedmanSql: String =
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1, 2),
       ranked AS (
         SELECT event_type, day, cents,
                2 * coalesce(count(*) OVER (PARTITION BY day ORDER BY cents
                  RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + count(*) OVER (PARTITION BY day, cents) + 1 AS r2
         FROM daily),
       kk AS (SELECT count(DISTINCT event_type) AS k FROM ranked),
       pert AS (
         SELECT event_type, CAST(sum(r2) AS BIGINT) AS s2,
                count(*) AS n_blocks,
                sum(CAST(r2 AS HUGEINT) * r2) AS sr2sq
         FROM ranked GROUP BY 1)
       SELECT CAST(max(n_blocks) AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k,
              floor((k - 1)::DOUBLE
                * sum((CAST(s2 AS HUGEINT) - n_blocks * (k + 1))
                    * (CAST(s2 AS HUGEINT) - n_blocks * (k + 1)))::DOUBLE
                / (sum(sr2sq)::DOUBLE
                   - CAST(sum(n_blocks) AS HUGEINT)::DOUBLE * (k + 1) * (k + 1))
                * 1e4) / 1e4 AS q_stat,
              CAST(k - 1 AS BIGINT) AS df
       FROM pert, kk GROUP BY k"""

  // --------------------------------------------- Mann–Kendall trend

  /** Mann–Kendall trend test over each event type's daily total-cents
    * series — the standard nonparametric "is this metric drifting"
    * monitor read. S = Σ_{i<j} sign(x_j − x_i) over the |days|-bounded
    * series (the pair join is time-domain sized at ANY corpus scale),
    * tie-corrected variance
    *   Var = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18,
    * and the continuity-corrected z = (S∓1)/√Var floored at 1e-4 with
    * the 5%-level verdict. S, both variance terms, and the tie sum are
    * exact integers. */
  def mannKendallZ: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val a = daily.select(col("event_type"), col("day").as("di"), col("cents").as("xi"))
    val b = daily.select(col("event_type"), col("day").as("dj"), col("cents").as("xj"))
    val sStat = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
      .groupBy(col("event_type"))
      .agg(sum(signum(col("xj") - col("xi")).cast("long")).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_groups"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tie_sum"))
    sStat.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("s_stat"), {
        val n = col("n_days").cast("double")
        val varS = (n * (n - 1.0) * (lit(2.0) * n + 5.0)
          - col("tie_sum").cast("double")) / 18.0
        val z = when(col("s_stat") > 0,
            (col("s_stat").cast("double") - 1.0) / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat").cast("double") + 1.0) / sqrt(varS))
          .otherwise(lit(0.0))
        (floor(z * 1e4) / 1e4).as("z")
      })
      .withColumn("trend",
        when(col("z") >= 1.96, lit("increasing"))
          .when(col("z") <= -1.96, lit("decreasing"))
          .otherwise(lit("none")))
  }

  val mannKendallZSql: String =
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS cents
         FROM events GROUP BY 1, 2),
       s AS (
         SELECT a.event_type,
                CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                              WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
         FROM daily a JOIN daily b
           ON b.event_type = a.event_type AND a.day < b.day
         GROUP BY 1),
       ties AS (
         SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
                CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
         FROM (SELECT event_type, cents, count(*) AS t
               FROM daily GROUP BY 1, 2) g
         GROUP BY 1),
       z AS (
         SELECT s.event_type, n_days, s_stat,
                floor(CASE
                  WHEN s_stat > 0 THEN (s_stat - 1)::DOUBLE
                    / sqrt((n_days::DOUBLE * (n_days - 1) * (2 * n_days + 5)
                            - tie_sum::DOUBLE) / 18.0)
                  WHEN s_stat < 0 THEN (s_stat + 1)::DOUBLE
                    / sqrt((n_days::DOUBLE * (n_days - 1) * (2 * n_days + 5)
                            - tie_sum::DOUBLE) / 18.0)
                  ELSE 0.0 END * 1e4) / 1e4 AS z
         FROM s JOIN ties ON ties.event_type = s.event_type)
       SELECT event_type, n_days, s_stat, z,
              CASE WHEN z >= 1.96 THEN 'increasing'
                   WHEN z <= -1.96 THEN 'decreasing'
                   ELSE 'none' END AS trend
       FROM z ORDER BY event_type"""

  // -------------------------------------------- Page–Hinkley test

  /** Baseline window (days) whose mean anchors the PH drift test. */
  val PhBaselineDays = 14
  /** Drift allowance δ and alarm threshold λ, in cents (×baseline n). */
  val PhDeltaCents = 50L
  val PhLambdaCents = 5000L

  /** Page–Hinkley change detection over each event type's daily MEAN
    * cents — the sequential drift alarm a monitoring engine runs on a
    * metric stream. This is the baseline-anchored variant: the
    * reference mean is the first [[PhBaselineDays]] days' mean (the
    * classical running-mean form needs a per-step rational with
    * denominator t — not exactly representable; anchoring at a FIXED
    * baseline keeps every quantity integral). Multiplying through by
    * the baseline count B: m_t·B = Σ_{i≤t}(B·x_i) − t·S_B − B·δ·t is
    * an exact integer; PH_t = m_t − min_{i≤t} m_i is a running-min
    * window over integers; the alarm fires when PH_t·B ≥ B·λ. Per
    * series: the alarm day (if any), the PH max, both on the exact
    * cents×B grid. Day means use cents div n (floored) to stay
    * integral. */
  def pageHinkley: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint)) div count(*)")
        .as("mean_cents"))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val idx = daily.withColumn("t", row_number().over(wd).cast("long"))
    val base = idx.filter(col("t") <= PhBaselineDays)
      .groupBy(col("event_type"))
      .agg(sum(col("mean_cents")).as("s_base"), count(lit(1)).as("b"))
    val wrun = Window.partitionBy(col("event_type")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ph = idx.join(base, Seq("event_type"))
      .withColumn("m_b", sum(col("b") * col("mean_cents")).over(wrun)
        - col("t") * col("s_base") - col("b") * lit(PhDeltaCents) * col("t"))
      .withColumn("ph_b", col("m_b") - min(col("m_b")).over(wrun))
    ph.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("ph_b")).as("ph_max_xb"),
        min(when(col("ph_b") >= col("b") * lit(PhLambdaCents), col("t")))
          .as("alarm_day"))
      .withColumn("alarmed", col("alarm_day").isNotNull)
  }

  val pageHinkleySql: String =
    s"""WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) // count(*)
                  AS BIGINT) AS mean_cents
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                     ORDER BY day) AS BIGINT) AS t
         FROM daily),
       base AS (
         SELECT event_type, CAST(sum(mean_cents) AS BIGINT) AS s_base,
                count(*) AS b
         FROM idx WHERE t <= $PhBaselineDays GROUP BY 1),
       ph AS (
         SELECT i.event_type, i.t, b.b,
                CAST(sum(b.b * i.mean_cents) OVER (PARTITION BY i.event_type
                  ORDER BY i.t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  - i.t * b.s_base - b.b * $PhDeltaCents * i.t AS m_b
         FROM idx i JOIN base b ON b.event_type = i.event_type),
       ph2 AS (
         SELECT *, m_b - min(m_b) OVER (PARTITION BY event_type ORDER BY t
                  ROWS UNBOUNDED PRECEDING) AS ph_b
         FROM ph)
       SELECT event_type, count(*) AS n_days,
              CAST(max(ph_b) AS BIGINT) AS ph_max_xb,
              CAST(min(CASE WHEN ph_b >= b * $PhLambdaCents THEN t END)
                AS BIGINT) AS alarm_day,
              min(CASE WHEN ph_b >= b * $PhLambdaCents THEN t END) IS NOT NULL
                AS alarmed
       FROM ph2 GROUP BY event_type ORDER BY event_type"""

  // ------------------------------------- Brown–Forsythe (Levene) test

  /** Brown–Forsythe variance-homogeneity test (the robust Levene
    * variant — deviations from group MEDIANS, the form every modern
    * stats package defaults to) across the three return flags'
    * quantity distributions — the gate a pipeline runs before trusting
    * a pooled-variance comparison (q_welch_ttest's complement: Welch
    * drops the equal-variance assumption, B–F TESTS it). Entirely on
    * the ≤50-level value-domain histogram: per-group medians on the
    * exact ×2 scale from cumulative counts (lower+upper median sum —
    * integral for both parities), deviations z2 = |2x − med2| integral,
    * all moment sums in DECIMAL(38,0)/HUGEINT, and F as one fixed
    * double sequence with the three group terms added in explicit
    * A+N+R order (the kruskalWallis discipline), floored at 1e-4. */
  def levene: Q = (s, d) => {
    val byQty = flagCounts(s, d)
    val w = Window.orderBy(col("qty")).rowsBetween(Window.unboundedPreceding, -1)
    // medians via a self-contained cumulative pass: for each group the
    // lower median is the first qty whose cumulative count reaches
    // ceil(n/2), the upper the first reaching floor(n/2)+1
    val cum = byQty
      .withColumn("cum_a", coalesce(sum(col("cnt_a")).over(w), lit(0L)) + col("cnt_a"))
      .withColumn("cum_n", coalesce(sum(col("cnt_n")).over(w), lit(0L)) + col("cnt_n"))
      .withColumn("cum_r", coalesce(sum(col("cnt_r")).over(w), lit(0L)) + col("cnt_r"))
      .withColumn("tot_a", sum(col("cnt_a")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("tot_n", sum(col("cnt_n")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("tot_r", sum(col("cnt_r")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val meds = cum.agg(
      (min(when(col("cum_a") >= expr("(tot_a + 1) div 2"), col("qty")))
        + min(when(col("cum_a") >= expr("tot_a div 2 + 1"), col("qty")))).as("med2_a"),
      (min(when(col("cum_n") >= expr("(tot_n + 1) div 2"), col("qty")))
        + min(when(col("cum_n") >= expr("tot_n div 2 + 1"), col("qty")))).as("med2_n"),
      (min(when(col("cum_r") >= expr("(tot_r + 1) div 2"), col("qty")))
        + min(when(col("cum_r") >= expr("tot_r div 2 + 1"), col("qty")))).as("med2_r"))
    val z = byQty.crossJoin(broadcast(meds))
      .select(col("qty"), col("cnt_a"), col("cnt_n"), col("cnt_r"),
        abs(lit(2) * col("qty") - col("med2_a")).cast("long").as("z2_a"),
        abs(lit(2) * col("qty") - col("med2_n")).cast("long").as("z2_n"),
        abs(lit(2) * col("qty") - col("med2_r")).cast("long").as("z2_r"))
    z.agg(
        sum(col("cnt_a")).as("n_a"), sum(col("cnt_n")).as("n_n"),
        sum(col("cnt_r")).as("n_r"),
        sum(col("cnt_a").cast("decimal(38,0)") * col("z2_a")).as("sa"),
        sum(col("cnt_n").cast("decimal(38,0)") * col("z2_n")).as("sn"),
        sum(col("cnt_r").cast("decimal(38,0)") * col("z2_r")).as("sr"),
        sum(col("cnt_a").cast("decimal(38,0)") * col("z2_a") * col("z2_a")).as("qa"),
        sum(col("cnt_n").cast("decimal(38,0)") * col("z2_n") * col("z2_n")).as("qn"),
        sum(col("cnt_r").cast("decimal(38,0)") * col("z2_r") * col("z2_r")).as("qr"))
      .select(col("n_a"), col("n_n"), col("n_r"), {
        val na = col("n_a").cast("double"); val nn = col("n_n").cast("double")
        val nr = col("n_r").cast("double")
        val sa = col("sa").cast("double"); val sn = col("sn").cast("double")
        val sr = col("sr").cast("double")
        val n = na + nn + nr
        val sAll = sa + sn + sr
        // NB: keep the subtraction on the same expression — a leading
        // "- x" continuation line is a discarded unary statement under
        // semicolon inference (the bug the first draft shipped)
        val between = (sa * sa / na + sn * sn / nn + sr * sr / nr) -
          sAll * sAll / n
        val within = (col("qa").cast("double") + col("qn").cast("double")
          + col("qr").cast("double")) - (sa * sa / na + sn * sn / nn + sr * sr / nr)
        (floor((n - 3.0) / 2.0 * between / within * 1e4) / 1e4).as("f_stat")
      }, lit(2L).as("df1"), (col("n_a") + col("n_n") + col("n_r") - 3).as("df2"))
  }

  val leveneSql: String =
    s"""WITH h AS ($qtyHistSql),
       byqty AS (
         SELECT qty,
                CAST(sum(CASE WHEN flag = 'A' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_a,
                CAST(sum(CASE WHEN flag = 'N' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_n,
                CAST(sum(CASE WHEN flag = 'R' THEN cnt ELSE 0 END) AS BIGINT) AS cnt_r
         FROM h GROUP BY 1),
       cum AS (
         SELECT qty, cnt_a, cnt_n, cnt_r,
                sum(cnt_a) OVER (ORDER BY qty ROWS UNBOUNDED PRECEDING) AS cum_a,
                sum(cnt_n) OVER (ORDER BY qty ROWS UNBOUNDED PRECEDING) AS cum_n,
                sum(cnt_r) OVER (ORDER BY qty ROWS UNBOUNDED PRECEDING) AS cum_r,
                sum(cnt_a) OVER () AS tot_a, sum(cnt_n) OVER () AS tot_n,
                sum(cnt_r) OVER () AS tot_r
         FROM byqty),
       meds AS (
         SELECT CAST(min(CASE WHEN cum_a >= (tot_a + 1) // 2 THEN qty END)
                  + min(CASE WHEN cum_a >= tot_a // 2 + 1 THEN qty END) AS BIGINT) AS med2_a,
                CAST(min(CASE WHEN cum_n >= (tot_n + 1) // 2 THEN qty END)
                  + min(CASE WHEN cum_n >= tot_n // 2 + 1 THEN qty END) AS BIGINT) AS med2_n,
                CAST(min(CASE WHEN cum_r >= (tot_r + 1) // 2 THEN qty END)
                  + min(CASE WHEN cum_r >= tot_r // 2 + 1 THEN qty END) AS BIGINT) AS med2_r
         FROM cum),
       z AS (
         SELECT qty, cnt_a, cnt_n, cnt_r,
                abs(2 * qty - med2_a) AS z2_a,
                abs(2 * qty - med2_n) AS z2_n,
                abs(2 * qty - med2_r) AS z2_r
         FROM byqty, meds),
       agg AS (
         SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
                CAST(sum(cnt_n) AS BIGINT) AS n_n,
                CAST(sum(cnt_r) AS BIGINT) AS n_r,
                sum(CAST(cnt_a AS HUGEINT) * z2_a) AS sa,
                sum(CAST(cnt_n AS HUGEINT) * z2_n) AS sn,
                sum(CAST(cnt_r AS HUGEINT) * z2_r) AS sr,
                sum(CAST(cnt_a AS HUGEINT) * z2_a * z2_a) AS qa,
                sum(CAST(cnt_n AS HUGEINT) * z2_n * z2_n) AS qn,
                sum(CAST(cnt_r AS HUGEINT) * z2_r * z2_r) AS qr
         FROM z)
       SELECT n_a, n_n, n_r,
              floor((n_a::DOUBLE + n_n::DOUBLE + n_r::DOUBLE - 3.0) / 2.0
                * (sa::DOUBLE * sa::DOUBLE / n_a::DOUBLE
                   + sn::DOUBLE * sn::DOUBLE / n_n::DOUBLE
                   + sr::DOUBLE * sr::DOUBLE / n_r::DOUBLE
                   - (sa::DOUBLE + sn::DOUBLE + sr::DOUBLE)
                     * (sa::DOUBLE + sn::DOUBLE + sr::DOUBLE)
                     / (n_a::DOUBLE + n_n::DOUBLE + n_r::DOUBLE))
                / ((qa::DOUBLE + qn::DOUBLE + qr::DOUBLE)
                   - (sa::DOUBLE * sa::DOUBLE / n_a::DOUBLE
                      + sn::DOUBLE * sn::DOUBLE / n_n::DOUBLE
                      + sr::DOUBLE * sr::DOUBLE / n_r::DOUBLE))
                * 1e4) / 1e4 AS f_stat,
              CAST(2 AS BIGINT) AS df1,
              n_a + n_n + n_r - 3 AS df2
       FROM agg"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_levene_bf", levene, Some(leveneSql)),
    ("q_spearman", spearman, Some(spearmanSql)),
    ("q_friedman", friedman, Some(friedmanSql)),
    ("q_mann_kendall_z", mannKendallZ, Some(mannKendallZSql)),
    ("q_page_hinkley", pageHinkley, Some(pageHinkleySql)),
    ("q_mann_whitney_u", mannWhitneyU, Some(mannWhitneyUSql)),
    ("q_kruskal_wallis", kruskalWallis, Some(kruskalWallisSql)),
    ("q_bh_fdr", bhFdr, Some(bhFdrSql)),
    ("q_cramers_v", cramersV, Some(cramersVSql)))
}
