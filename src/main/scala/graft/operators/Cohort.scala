package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cohort / retention analysis — the "do customers come back"
  * matrix every product team reads: customers grouped by the month of
  * their FIRST order (the cohort), then counted as active at each
  * month offset where they ordered again.
  *
  * Scale design (100 TB): two aggregations on the same customer key —
  * first-order month per customer (min, map-side combinable), then the
  * fact join back on that key (co-partitioned; AQE broadcasts the
  * cohort side when it fits) and the (cohort, offset) distinct-count.
  * Month arithmetic is integer (year·12 + month), so offsets are
  * engine-exact; no float surface anywhere. At petabyte scale the
  * distinct count swaps for `graft_theta` per matrix cell — same
  * shape, mergeable.
  */
object Cohort {

  type Q = (SparkSession, String) => DataFrame

  def cohortRetention: Q = (s, d) => {
    val mi = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), mi.as("m"))
    val firsts = orders.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("cohort_m"))
    orders.join(firsts, Seq("o_custkey"))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("n_active"))
  }

  val cohortRetentionSql: String =
    """WITH o AS (
         SELECT o_custkey,
                CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m
         FROM orders),
       f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1)
       SELECT f.cohort_m, o.m - f.cohort_m AS month_offset,
              count(DISTINCT o.o_custkey) AS n_active
       FROM o JOIN f USING (o_custkey)
       GROUP BY 1, 2 ORDER BY cohort_m, month_offset"""

  /** Fulfillment-lag quantiles BY COUNTING — the quantile shape that
    * scales when the value domain is small integers (days, buckets,
    * response-time classes): instead of sorting raw rows per group,
    * count per (group, lag-day), run one cumulative window over the
    * ≤|domain| counted rows, and select the nearest-rank element where
    * the cumulative count crosses floor(q·(n−1))+1. The shuffle
    * carries |groups|·|domain| counted rows, never the fact table; all
    * arithmetic is integer, so the result is engine-exact with no
    * float contract at all. */
  def fulfillmentLag: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      .groupBy(col("priority"), col("lag_days"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("priority")).orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("priority"))
    counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("priority"), col("n"))
      .agg(
        min(when(col("cum") >= floor(lit(0.5) * (col("n") - 1)) + 1, col("lag_days"))).as("p50_days"),
        min(when(col("cum") >= floor(lit(0.9) * (col("n") - 1)) + 1, col("lag_days"))).as("p90_days"),
        max(col("lag_days")).as("max_days"))
      .select(col("priority"), col("n").as("n_lines"),
        col("p50_days"), col("p90_days"), col("max_days"))
  }

  val fulfillmentLagSql: String =
    """WITH lags AS (
         SELECT o_orderpriority AS priority,
                CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS lag_days
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       c AS (SELECT priority, lag_days, count(*) AS c
             FROM lags GROUP BY 1, 2),
       cum AS (
         SELECT priority, lag_days, c,
                sum(c) OVER (PARTITION BY priority ORDER BY lag_days
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER (PARTITION BY priority) AS n
         FROM c)
       SELECT priority, CAST(max(n) AS BIGINT) AS n_lines,
              min(CASE WHEN cum >= floor(0.5 * (n - 1)) + 1 THEN lag_days END) AS p50_days,
              min(CASE WHEN cum >= floor(0.9 * (n - 1)) + 1 THEN lag_days END) AS p90_days,
              max(lag_days) AS max_days
       FROM cum GROUP BY priority ORDER BY priority"""

  /** Cohort LTV — cumulative revenue per cohort over month offsets
    * (the money view of the retention matrix): same two customer-keyed
    * aggregations as `cohortRetention`, plus one cumulative window
    * over the (cohort, offset) CELLS — ≤ |cohorts|·|offsets| rows, not
    * orders. Money is rounded once per cell (2-decimal inputs keep
    * true sums off the .005 boundary — the `metrics_downsample` rule),
    * and the running LTV is a sum of those ROUNDED cells, so both
    * engines accumulate identical doubles in identical window order. */
  def cohortLtv: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val mi = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))
    val orders = Tables.orders(s, d)
      .select(col("o_custkey"), mi.as("m"), col("o_totalprice"))
    val firsts = orders.groupBy(col("o_custkey"))
      .agg(min(col("m")).as("cohort_m"))
    val cells = orders.join(firsts, Seq("o_custkey"))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m")).as("month_offset"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val w = Window.partitionBy(col("cohort_m")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_ltv", round(sum(col("rev")).over(w), 2))
      .select(col("cohort_m"), col("month_offset"), col("rev"), col("cum_ltv"))
  }

  val cohortLtvSql: String =
    """WITH o AS (
         SELECT o_custkey,
                CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INT) AS m,
                o_totalprice
         FROM orders),
       f AS (SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY 1),
       cells AS (
         SELECT f.cohort_m, o.m - f.cohort_m AS month_offset,
                round(sum(o.o_totalprice), 2) AS rev
         FROM o JOIN f USING (o_custkey)
         GROUP BY 1, 2)
       SELECT cohort_m, month_offset, rev,
              round(sum(rev) OVER (PARTITION BY cohort_m ORDER BY month_offset
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS cum_ltv
       FROM cells ORDER BY cohort_m, month_offset"""

  /** Gaps-and-islands: longest consecutive-day activity streak per
    * user (login streaks, uptime runs, SLA windows). The classic
    * island key `day − row_number()` is constant exactly while days
    * are consecutive; one user-keyed shuffle, a distinct, one window,
    * two aggregations — all integer date arithmetic, engine-exact. */
  def userStreaks: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val days = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01")).as("day_nr"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day_nr"))
    days
      .withColumn("island", col("day_nr") - row_number().over(w))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day_nr")).as("start_day"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        min(col("start_day")).as("first_day"))
  }

  val userStreaksSql: String =
    """WITH days AS (
         SELECT DISTINCT user_id,
                date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day_nr
         FROM events),
       isl AS (
         SELECT user_id, day_nr,
                day_nr - row_number() OVER (PARTITION BY user_id ORDER BY day_nr) AS island
         FROM days),
       runs AS (
         SELECT user_id, island, count(*) AS len, min(day_nr) AS start_day
         FROM isl GROUP BY 1, 2)
       SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
              count(*) AS n_streaks,
              CAST(min(start_day) AS INT) AS first_day
       FROM runs GROUP BY user_id ORDER BY user_id"""

  /** Cumulative distinct users per day — the growth curve: each user
    * contributes on their FIRST day only (one min-aggregation), then a
    * running count over the ≤ |days| per-day new-user rows. The
    * shuffle carries users once, the window runs over days — never the
    * event volume. Pure integers. */
  def cumulativeUsers: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val firsts = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"))
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)
    firsts.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cumulative_users", sum(col("new_users")).over(w))
  }

  val cumulativeUsersSql: String =
    """WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                  FROM events GROUP BY 1),
       d AS (SELECT first_day AS day, count(*) AS new_users FROM f GROUP BY 1)
       SELECT day, new_users,
              CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cumulative_users
       FROM d ORDER BY day"""

  /** The z-statistic text, shared verbatim by both engines: pooled
    * two-proportion z-test on exact integer counts — divisions and the
    * sqrt are single correctly-rounded IEEE ops in a fixed order, so
    * identical inputs give identical doubles; floor pins 4dp. */
  private val zExpr: String =
    """CASE WHEN (ca + cb) > 0 AND (ca + cb) < (na + nb) THEN
       floor((CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
              - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             / sqrt((CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                    * (1e0 - CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                    * (1e0 / CAST(na AS DOUBLE) + 1e0 / CAST(nb AS DOUBLE)))
             * 1e4) / 1e4 END"""

  /** A/B experiment readout — deterministic hash assignment (the same
    * content-hash rule as the split ops: re-runs reproduce the arms),
    * per-user conversion (any purchase), pooled two-proportion z-test.
    * Two integer aggregations (user conversion flag, per-arm counts) +
    * a 1-row statistic; the experiment report every product team runs
    * on event data. */
  def abTest: Q = (s, d) => {
    val arm = when(
      conv(substring(md5(concat(lit("ab:"), col("user_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 2 === 0, "A").otherwise("B")
    // conversion = the user's FIRST event (ts, event_id order) is a
    // purchase — a ~1/|event types| rate with real variance ("ever
    // purchased" saturates to 100% on a dense corpus and the z-test
    // degenerates)
    val users = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"), col("event_type"))).as("first"))
      .select(col("user_id"),
        when(col("first.event_type") === "purchase", 1).otherwise(0).as("converted"))
      .withColumn("arm", arm)
    users.groupBy()
      .agg(count(when(col("arm") === "A", 1)).as("na"),
        sum(when(col("arm") === "A", col("converted")).otherwise(0)).as("ca"),
        count(when(col("arm") === "B", 1)).as("nb"),
        sum(when(col("arm") === "B", col("converted")).otherwise(0)).as("cb"))
      .withColumn("rate_a", floor(col("ca") * 1e4 / col("na")) / 1e4)
      .withColumn("rate_b", floor(col("cb") * 1e4 / col("nb")) / 1e4)
      .withColumn("z", expr(zExpr))
      .withColumn("significant", coalesce(abs(col("z")) > 1.96, lit(false)))
      .select(col("na"), col("ca"), col("nb"), col("cb"),
        col("rate_a"), col("rate_b"), col("z"), col("significant"))
  }

  val abTestSql: String =
    s"""WITH f AS (
         SELECT user_id,
                min(struct_pack(ts := ts, event_id := event_id, event_type := event_type)) AS first
         FROM events GROUP BY user_id),
       u AS (
         SELECT user_id,
                CASE WHEN first.event_type = 'purchase' THEN 1 ELSE 0 END AS converted,
                CASE WHEN ('0x' || substring(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                     THEN 'A' ELSE 'B' END AS arm
         FROM f),
       c AS (
         SELECT count(*) FILTER (WHERE arm = 'A') AS na,
                CAST(sum(CASE WHEN arm = 'A' THEN converted ELSE 0 END) AS BIGINT) AS ca,
                count(*) FILTER (WHERE arm = 'B') AS nb,
                CAST(sum(CASE WHEN arm = 'B' THEN converted ELSE 0 END) AS BIGINT) AS cb
         FROM u)
       SELECT na, ca, nb, cb,
              floor(ca * 1e4 / na) / 1e4 AS rate_a,
              floor(cb * 1e4 / nb) / 1e4 AS rate_b,
              ($zExpr) AS z,
              coalesce(abs($zExpr) > 1.96, false) AS significant
       FROM c"""

  /** Censor horizon: users whose LAST event falls within this many
    * days of the stream end are censored (still alive), not churned. */
  val KmCensorDays = 7L

  /** Kaplan–Meier survival curve over user lifetimes — retention's
    * statistically honest form: a user active near the stream's end
    * has not churned, only left observation, and K-M counts them
    * at-risk up to their censor time instead of as deaths (naive
    * retention understates survival exactly by this censoring error).
    * Lifetime = last−first event day; churn observed iff the last
    * event predates the censor horizon. S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ)
    * folds in ascending-t order over the ≤31-row lifetime table
    * (bounded by the stream's day span — the heavy work is the one
    * per-user aggregation; the curve itself is a constant-size fold,
    * same order-fixed contract as `metrics_smooth_ewma`). The oracle
    * replays the fold with list_reduce. */
  def survivalKm: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val spans = Tables.events(s, d)
      .select(col("user_id"), expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val horizon = spans.agg(max(col("d1")).as("hmax"))
    val lifetimes = spans.crossJoin(broadcast(horizon))
      .select((col("d1") - col("d0")).as("t"),
        (col("d1") <= col("hmax") - KmCensorDays).as("observed"))
      .groupBy(col("t"))
      .agg(count(when(col("observed"), 1)).as("d"),
        count(when(!col("observed"), 1)).as("c"))
    val w = Window.orderBy(col("t")).rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lifetimes
      .crossJoin(broadcast(lifetimes.agg(sum(col("d") + col("c")).as("total"))))
      .withColumn("n_risk", col("total") - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
      .withColumn("factors", collect_list(struct(col("t"), col("d"), col("n_risk"))).over(wAll))
      .select(col("t").cast("int").as("t_days"), col("n_risk"), col("d").as("n_churned"),
        col("c").as("n_censored"),
        (floor(expr(
          """aggregate(factors, cast(1.0 as double),
               (acc, x) -> acc * (cast(1.0 as double) - cast(x.d as double) / cast(x.n_risk as double)))""")
          * 1e6) / 1e6).as("survival"))
  }

  val survivalKmSql: String =
    s"""WITH spans AS (
          SELECT user_id,
                 min(CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400) AS d0,
                 max(CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400) AS d1
          FROM events GROUP BY user_id),
        hz AS (SELECT max(d1) AS hmax FROM spans),
        lt AS (
          SELECT d1 - d0 AS t,
                 count(*) FILTER (WHERE d1 <= hz.hmax - $KmCensorDays) AS d,
                 count(*) FILTER (WHERE d1 > hz.hmax - $KmCensorDays) AS c
          FROM spans CROSS JOIN hz GROUP BY 1, hz.hmax),
        tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS total FROM lt),
        risked AS (
          SELECT t, d, c,
                 tt.total - COALESCE(CAST(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
                   AS n_risk
          FROM lt CROSS JOIN tot tt),
        curve AS (
          SELECT t, d, c, n_risk,
                 list(struct_pack(t := t, d := d, nr := n_risk))
                   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS factors
          FROM risked)
        SELECT CAST(t AS INT) AS t_days, n_risk, d AS n_churned, c AS n_censored,
               floor(list_reduce(
                       list_prepend(CAST(1.0 AS DOUBLE), list_transform(factors,
                         x -> CAST(1.0 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.nr AS DOUBLE))),
                       (a, b) -> a * b) * 1e6) / 1e6 AS survival
        FROM curve ORDER BY t_days"""

  /** Weekly growth accounting (the "new / retained / resurrected /
    * churned" ledger): each active (user, week) is classified by the
    * gap to that user's PREVIOUS active week — no gap = new, gap 1 =
    * retained, gap > 1 = resurrected — and churn at week w is the
    * balancing term actives(w−1) − retained(w), taken on the bounded
    * week spine. Per-user lag windows partition on user (parallel);
    * the only unpartitioned window runs over |weeks| rows. All
    * integer counts — no float surface. */
  def lifecycle: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val uw = Tables.events(s, d)
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint) div 7")
          .as("week"))
      .distinct()
    val lagw = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val states = uw.withColumn("prev", lag(col("week"), 1).over(lagw))
      .select(col("week"),
        when(col("prev").isNull, "new")
          .when(col("week") - col("prev") === 1, "retained")
          .otherwise("resurrected").as("state"))
    val weekly = states.groupBy(col("week"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    weekly
      .withColumn("prev_active",
        lag(col("n_active"), 1).over(Window.orderBy(col("week"))))
      .withColumn("n_churned",
        when(col("prev_active").isNull, 0L)
          .otherwise(col("prev_active") - col("n_retained")))
      .select(col("week"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
  }

  val lifecycleSql: String =
    """WITH uw AS (
         SELECT DISTINCT user_id,
                (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400) // 7 AS week
         FROM events),
       st AS (
         SELECT week,
                CASE WHEN lag(week) OVER (PARTITION BY user_id ORDER BY week) IS NULL
                       THEN 'new'
                     WHEN week - lag(week) OVER (PARTITION BY user_id ORDER BY week) = 1
                       THEN 'retained'
                     ELSE 'resurrected' END AS state
         FROM uw),
       weekly AS (
         SELECT week, count(*) AS n_active,
                CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_retained,
                CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_resurrected
         FROM st GROUP BY 1)
       SELECT week, n_active, n_new, n_retained, n_resurrected,
              CASE WHEN lag(n_active) OVER (ORDER BY week) IS NULL THEN 0
                   ELSE lag(n_active) OVER (ORDER BY week) - n_retained END AS n_churned
       FROM weekly ORDER BY week"""

  /** Net revenue retention (NDR) per month — the SaaS board metric
    * `cohort_ltv` doesn't give: of the users who spent in month m,
    * how much did THE SAME users spend in m+1 (expansion and
    * contraction included, new users excluded — that's the
    * "net dollar" discipline). One monthly (user, month) revenue
    * aggregate, self-joined on (user, month+1); everything exact
    * integer cents until one floored division per month. */
  def cohortNdr: Q = (s, d) => {
    val monthly = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)")
          .as("month"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val nxt = monthly.select(col("user_id"), (col("month") - 1).as("month"),
      col("cents").as("next_cents"))
    monthly.join(nxt, Seq("user_id", "month"), "left")
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("rev_cents"),
        sum(coalesce(col("next_cents"), lit(0L))).as("retained_cents"),
        sum(when(col("next_cents").isNotNull, 1L).otherwise(0L)).as("n_retained"))
      .withColumn("ndr",
        floor(col("retained_cents").cast("double") / col("rev_cents").cast("double")
          * 1e4) / 1e4)
  }

  val cohortNdrSql: String =
    """WITH m AS (
         SELECT user_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 // 30 AS month,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
       SELECT a.month, count(*) AS n_users,
              CAST(sum(a.cents) AS BIGINT) AS rev_cents,
              CAST(sum(COALESCE(b.cents, 0)) AS BIGINT) AS retained_cents,
              CAST(sum(CASE WHEN b.cents IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_retained,
              floor(CAST(sum(COALESCE(b.cents, 0)) AS DOUBLE)
                    / CAST(sum(a.cents) AS DOUBLE) * 1e4) / 1e4 AS ndr
       FROM m a LEFT JOIN m b
         ON b.user_id = a.user_id AND b.month = a.month + 1
       GROUP BY 1 ORDER BY 1"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("cohort_ndr", cohortNdr, Some(cohortNdrSql)),
    ("cohort_lifecycle", lifecycle, Some(lifecycleSql)),
    ("cohort_survival_km", survivalKm, Some(survivalKmSql)),
    ("q_abtest", abTest, Some(abTestSql)),
    ("q_streaks", userStreaks, Some(userStreaksSql)),
    ("q_cumulative_users", cumulativeUsers, Some(cumulativeUsersSql)),
    ("cohort_retention", cohortRetention, Some(cohortRetentionSql)),
    ("cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    ("q_fulfillment_lag", fulfillmentLag, Some(fulfillmentLagSql)))
}
