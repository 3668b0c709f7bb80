package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of join and gap sessionization — temporal operators Spark lacks
  * as built-ins, composed Spark-first instead of implemented as a
  * custom physical operator:
  *
  * As-of join = union both sides + ONE shuffle (window partitioned by
  * key, ordered by time) + running max of the right side's timestamp.
  * Compare with the naive range-join (shuffle both sides + per-row
  * scan): the union-window plan is a single exchange and scales as
  * sort-merge, the standard trick for point-in-time joins at scale.
  *
  * Sessionization reuses one user-partitioning for lag → cumulative
  * session index → per-session aggregation: one shuffle, three window
  * passes, no joins.
  */
object AsOf {

  type Q = (SparkSession, String) => DataFrame

  /** Each purchase matched to the same user's most recent click at or
    * before it (DuckDB ASOF JOIN semantics: greatest right ts <= left ts). */
  def asofJoin: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
    // clicks sort before purchases at equal ts → frame up to -1 row still
    // sees a same-timestamp click (inclusive >=, like ASOF JOIN)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("click_ts", max(when(col("side") === 0, col("ts"))).over(w))
      .filter(col("side") === 1 && col("click_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"))
  }

  val asofJoinSql: String =
    """SELECT p.event_id, p.user_id, p.ts, c.ts AS click_ts
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id AND p.ts >= c.ts
       ORDER BY p.event_id"""

  val GapSeconds = 1800

  /** Gap-based sessionization (30 min): lag → flag → cumulative
    * session index → per-session aggregates, all on one partitioning. */
  def sessionize: Q = (s, d) => {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sec = unix_timestamp(date_trunc("second", col("ts")))
    val lagSec = lag(sec, 1).over(order)
    val flagged = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("new_session",
        when(lagSec.isNull, 0).when(sec - lagSec > GapSeconds, 1).otherwise(0))
    val indexed = flagged.withColumn("session_idx",
      sum(col("new_session")).over(order.rowsBetween(Window.unboundedPreceding, 0)))
    indexed.groupBy(col("user_id"), col("session_idx"))
      .agg(
        date_format(date_trunc("second", min(col("ts"))), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(date_trunc("second", max(col("ts"))), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        (unix_timestamp(date_trunc("second", max(col("ts")))) -
          unix_timestamp(date_trunc("second", min(col("ts"))))).as("duration_sec"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
  }

  val sessionizeSql: String =
    s"""WITH flagged AS (
          SELECT user_id, event_id, ts, value,
            CASE WHEN lag(epoch(date_trunc('second', ts))) OVER w IS NULL THEN 0
                 WHEN epoch(date_trunc('second', ts))
                      - lag(epoch(date_trunc('second', ts))) OVER w > $GapSeconds THEN 1
                 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        indexed AS (
          SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
          FROM flagged)
        SELECT user_id, session_idx,
          strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
          strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end,
          CAST(epoch(date_trunc('second', max(ts))) - epoch(date_trunc('second', min(ts))) AS BIGINT) AS duration_sec,
          count(*) AS n_events,
          round(sum(value), 2) AS value_sum
        FROM indexed GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx"""

  /** Forward as-of: each purchase matched to the same user's NEXT click
    * at or after it — same single-exchange union+window plan with the
    * frame reversed (min of following click timestamps; purchases sort
    * before clicks at equal ts, so an equal-ts click is matched, the
    * inclusive forward complement of `asofJoin`). DuckDB's ASOF JOIN
    * is backward-only, so the oracle uses the window form. */
  def asofJoinForward: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", 1).otherwise(0).as("side"))
    // purchases sort before clicks at equal ts → frame from +1 row still
    // sees a same-timestamp click (inclusive <=)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_click_ts", min(when(col("side") === 1, col("ts"))).over(w))
      .filter(col("side") === 0 && col("next_click_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("next_click_ts"))
  }

  val asofJoinForwardSql: String =
    """SELECT event_id, user_id, ts, next_click_ts FROM (
         SELECT event_id, user_id, ts, side,
                min(CASE WHEN side = 1 THEN ts END) OVER (
                  PARTITION BY user_id ORDER BY ts, side, event_id
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ts
         FROM (SELECT event_id, user_id, ts,
                      CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS side
               FROM events WHERE event_type IN ('click', 'purchase'))) t
       WHERE side = 0 AND next_click_ts IS NOT NULL
       ORDER BY event_id"""

  /** Sessionization via Spark's NATIVE `session_window` grouping — the
    * built-in gap-session operator (one aggregation, sessions merged by
    * the engine; also usable in streaming). Spark merges two session
    * windows when they overlap OR touch (next.start <= prev.end,
    * inclusive), i.e. a gap-g window merges events with diff <= g and
    * splits on diff > g — exactly the lag formulation's split rule, so
    * this shares `sessionize`'s session boundaries verbatim. */
  def sessionizeNative: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tsec"), col("value"))
      .groupBy(col("user_id"), session_window(col("tsec"), s"$GapSeconds seconds"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("value_sum"))
  }

  /** Oracle: the lag/cumsum formulation reduced to the same output
    * columns — native session_window must produce identical sessions. */
  val sessionizeNativeSql: String =
    s"""WITH flagged AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(epoch(date_trunc('second', ts))) OVER w IS NULL THEN 0
                 WHEN epoch(date_trunc('second', ts))
                      - lag(epoch(date_trunc('second', ts))) OVER w > $GapSeconds THEN 1
                 ELSE 0 END AS new_session
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        indexed AS (
          SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM flagged)
        SELECT user_id,
          strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
          count(*) AS n_events, round(sum(value), 2) AS value_sum
        FROM indexed GROUP BY user_id, session_idx
        ORDER BY user_id, session_start"""

  val ToleranceSeconds = 3600

  /** As-of join with tolerance (max staleness): the most recent prior
    * click counts only if it is at most 1 hour old — the point-in-time
    * join variant every feature-store lookup needs (a stale feature is
    * worse than no feature). Same single-exchange union+window plan;
    * the tolerance is a post-filter on the matched timestamp, not a
    * second join. */
  def asofTolerance: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), date_trunc("second", col("ts")).as("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("click_ts", max(when(col("side") === 0, col("ts"))).over(w))
      .withColumn("staleness_sec",
        unix_timestamp(col("ts")) - unix_timestamp(col("click_ts")))
      .filter(col("side") === 1 && col("staleness_sec") <= ToleranceSeconds)
      .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"), col("staleness_sec"))
  }

  val asofToleranceSql: String =
    s"""SELECT event_id, user_id, ts, click_ts,
          CAST(epoch(ts) - epoch(click_ts) AS BIGINT) AS staleness_sec
        FROM (
          SELECT event_id, user_id, ts, side,
                 max(CASE WHEN side = 0 THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
          FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts,
                       CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
                FROM events WHERE event_type IN ('click', 'purchase'))) t
        WHERE side = 1 AND epoch(ts) - epoch(click_ts) <= $ToleranceSeconds
        ORDER BY event_id"""

  /** Nearest-neighbor as-of — the direction-free variant that
    * completes the family (backward / forward / tolerance / nearest):
    * each purchase matches its closest click in EITHER direction, ties
    * to the earlier (backward) side. Both directional candidates come
    * from TWO window frames over ONE ordering — same-ts clicks sort
    * before the purchase, so they land in the backward frame (standard
    * inclusive-past rule) and the forward frame is strictly-after.
    * Still a single user-keyed exchange; distances are exact integer
    * microseconds. */
  def asofNearest: Q = (s, d) => {
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("event_type") === "click", 0).otherwise(1).as("side"))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("side"), col("event_id"))
    val back = max(when(col("side") === 0, col("ts")))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val fwd = min(when(col("side") === 0, col("ts")))
      .over(ord.rowsBetween(1, Window.unboundedFollowing))
    e.withColumn("back_ts", back).withColumn("fwd_ts", fwd)
      .filter(col("side") === 1 && (col("back_ts").isNotNull || col("fwd_ts").isNotNull))
      .withColumn("db", unix_micros(col("ts")) - unix_micros(col("back_ts")))
      .withColumn("df", unix_micros(col("fwd_ts")) - unix_micros(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("df").isNull || (col("db").isNotNull && col("db") <= col("df")),
          col("back_ts")).otherwise(col("fwd_ts")).as("nearest_click_ts"),
        when(col("df").isNull || (col("db").isNotNull && col("db") <= col("df")),
          lit("backward")).otherwise(lit("forward")).as("direction"),
        least(coalesce(col("db"), col("df")), coalesce(col("df"), col("db"))).as("gap_us"))
  }

  val asofNearestSql: String =
    """WITH e AS (
         SELECT event_id, user_id, ts,
                CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
         FROM events WHERE event_type IN ('click', 'purchase')),
       w AS (
         SELECT event_id, user_id, ts, side,
                max(CASE WHEN side = 0 THEN ts END) OVER
                  (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS back_ts,
                min(CASE WHEN side = 0 THEN ts END) OVER
                  (PARTITION BY user_id ORDER BY ts, side, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_ts
         FROM e),
       g AS (
         SELECT event_id, user_id, ts, back_ts, fwd_ts,
                epoch_us(ts) - epoch_us(back_ts) AS db,
                epoch_us(fwd_ts) - epoch_us(ts) AS df
         FROM w WHERE side = 1 AND (back_ts IS NOT NULL OR fwd_ts IS NOT NULL))
       SELECT event_id, user_id, ts,
              CASE WHEN df IS NULL OR (db IS NOT NULL AND db <= df)
                   THEN back_ts ELSE fwd_ts END AS nearest_click_ts,
              CASE WHEN df IS NULL OR (db IS NOT NULL AND db <= df)
                   THEN 'backward' ELSE 'forward' END AS direction,
              CAST(least(coalesce(db, df), coalesce(df, db)) AS BIGINT) AS gap_us
       FROM g ORDER BY event_id"""

  /** Data-driven session-timeout selection: Otsu's method (the
    * bimodal-histogram thresholder from image binarization, 1979) on
    * the log2 inter-event-gap histogram — within-session gaps and
    * between-session gaps form the two modes, and the 30-minute
    * timeout every sessionizer hardcodes becomes a MEASURED quantity.
    * For each candidate split t the between-class variance
    * w0·w1·(μ0−μ1)² reduces to (m0·w1 − m1·w0)²/(w0·w1) — cumulative
    * counts/moments over the ≤40-bucket histogram, the wide square in
    * DECIMAL(38,0)/HUGEINT, ONE double division per candidate, argmax
    * tie-broken to the smaller bucket. Emits the full sweep ledger
    * with `is_chosen` marking the winner and its timeout 2^t seconds.
    * Corpus cost is one lag window + the bucket aggregation; the
    * sweep runs on the bounded histogram (at extreme corpus sizes the
    * squared moment outgrows DECIMAL(38,0) — run the identical sweep
    * on the down-scaled histogram shares). */
  /** Gap thresholds the sweep evaluates (15 m / 30 m / 1 h / 2 h). */
  val GapSweepSec: Seq[Long] = Seq(900L, 1800L, 3600L, 7200L)

  /** Session-gap threshold SWEEP — the tuning ledger beside
    * `sessionize_otsu`'s automatic pick (the same discipline
    * `dedup_lsh_tuning` applies to band configs): for each candidate
    * timeout, how many session boundaries and sessions the corpus
    * yields, plus mean events per session on the 1e4 grid. ONE lag
    * window computes every inter-event gap; each threshold is a
    * conditional sum over it (no per-threshold re-scan), so the sweep
    * costs one shuffle regardless of how many thresholds it prices.
    * sessions(t) = active users + boundaries(t) — exact, since each
    * user's first event opens a session unconditionally. */
  def sessionizeGapSweep: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val gaps = Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
    val aggs =
      Seq(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")) ++
        GapSweepSec.map(t =>
          count(when(col("gap") > t, 1)).as(s"b$t"))
    val stackArgs = GapSweepSec.map(t => s"${t}L, b$t").mkString(", ")
    gaps.agg(aggs.head, aggs.tail: _*)
      .selectExpr("n_users", "n_events",
        s"stack(${GapSweepSec.size}, $stackArgs) as (gap_sec, n_boundaries)")
      .select(col("gap_sec"), col("n_boundaries"),
        (col("n_users") + col("n_boundaries")).as("n_sessions"),
        expr("n_events * 10000 div (n_users + n_boundaries)")
          .as("mean_events_per_session_x1e4"))
  }

  val sessionizeGapSweepSql: String = {
    val bCols = GapSweepSec
      .map(t => s"count(CASE WHEN gap > $t THEN 1 END) AS b$t").mkString(", ")
    val rows = GapSweepSec
      .map(t => s"SELECT CAST($t AS BIGINT) AS gap_sec, b$t AS n_boundaries FROM c")
      .mkString(" UNION ALL ")
    s"""WITH g AS (
          SELECT user_id, event_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                   - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY
                           epoch(date_trunc('second', ts)), event_id) AS gap
          FROM events),
        c AS (SELECT count(DISTINCT user_id) AS n_users, count(*) AS n_events,
                     $bCols
              FROM g),
        t AS ($rows)
        SELECT gap_sec, CAST(n_boundaries AS BIGINT) AS n_boundaries,
               CAST(c.n_users + n_boundaries AS BIGINT) AS n_sessions,
               CAST(c.n_events * 10000 // (c.n_users + n_boundaries) AS BIGINT)
                 AS mean_events_per_session_x1e4
        FROM t CROSS JOIN c ORDER BY gap_sec"""
  }

  def sessionizeOtsu: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val hist = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("bucket",
        when(col("gap") <= 0, lit(0)).otherwise(length(bin(col("gap")))).cast("int"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val tot = hist.agg(sum(col("n")).as("nn"),
      sum(col("n") * col("bucket")).as("mm"))
    val cw = Window.orderBy(col("bucket"))
    hist
      .withColumn("w0", sum(col("n")).over(cw))
      .withColumn("m0", sum(col("n") * col("bucket")).over(cw))
      .crossJoin(broadcast(tot))
      .filter(col("w0") < col("nn"))
      .withColumn("w1", col("nn") - col("w0"))
      .withColumn("diff", col("m0").cast("decimal(38,0)") * col("w1")
        - (col("mm") - col("m0")).cast("decimal(38,0)") * col("w0"))
      .withColumn("score", (col("diff") * col("diff")).cast("double")
        / (col("w0") * col("w1")).cast("double"))
      .withColumn("is_chosen", row_number().over(
        Window.orderBy(col("score").desc, col("bucket"))) === 1)
      .select(col("bucket"), col("n"), col("w0"), col("w1"),
        floor(col("score")).cast("long").as("score_floor"), col("is_chosen"),
        expr("shiftleft(1L, bucket)").as("timeout_sec"))
  }

  val sessionizeOtsuSql: String =
    """WITH g AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                  - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         FROM events),
       hist AS (
         SELECT CAST(CASE WHEN gap <= 0 THEN 0 ELSE length(bin(gap)) END AS INT)
                  AS bucket,
                count(*) AS n
         FROM g WHERE gap IS NOT NULL GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                      CAST(sum(n * bucket) AS BIGINT) AS mm FROM hist),
       c AS (
         SELECT bucket, n,
                CAST(sum(n) OVER (ORDER BY bucket) AS BIGINT) AS w0,
                CAST(sum(n * bucket) OVER (ORDER BY bucket) AS BIGINT) AS m0
         FROM hist),
       sw AS (
         SELECT bucket, n, w0, nn - w0 AS w1,
                CAST(m0 AS HUGEINT) * (nn - w0)
                  - CAST(mm - m0 AS HUGEINT) * w0 AS diff
         FROM c, tot WHERE w0 < nn),
       sc AS (
         SELECT *, CAST(diff * diff AS DOUBLE) / CAST(w0 * w1 AS DOUBLE) AS score
         FROM sw)
       SELECT bucket, n, w0, w1,
              CAST(floor(score) AS BIGINT) AS score_floor,
              row_number() OVER (ORDER BY score DESC, bucket) = 1 AS is_chosen,
              (CAST(1 AS BIGINT) << bucket) AS timeout_sec
       FROM sc ORDER BY bucket"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("sessionize_gap_sweep", sessionizeGapSweep, Some(sessionizeGapSweepSql)),
    ("sessionize_otsu", sessionizeOtsu, Some(sessionizeOtsuSql)),
    ("asof_nearest", asofNearest, Some(asofNearestSql)),
    ("asof_join", asofJoin, Some(asofJoinSql)),
    ("asof_join_forward", asofJoinForward, Some(asofJoinForwardSql)),
    ("asof_tolerance", asofTolerance, Some(asofToleranceSql)),
    ("sessionize", sessionize, Some(sessionizeSql)),
    ("sessionize_native", sessionizeNative, Some(sessionizeNativeSql)))
}
