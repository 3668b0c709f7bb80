package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bin-bucketed range join — point-in-interval matching with NO equi
  * key. Spark's native answer to `p BETWEEN s AND e` is a broadcast
  * nested-loop join (every point against every interval): fine at demo
  * scale, catastrophic at 100 TB. When interval length is bounded by L,
  * bucketing by ⌈L⌉-wide bins turns it into an EQUI join:
  *
  *   - each interval [s, e) is replicated to the ≤ 2 bins it overlaps
  *     (generated with `sequence`+`explode` — bounded fan-out L/B + 1);
  *   - each point lands in exactly ONE bin, so the equi-join on bin +
  *     residual `s <= p < e` yields every matching pair exactly once —
  *     no post-join dedup;
  *   - the join shuffles on the bin key like any aggregation — sort-
  *     merge/broadcast, AQE-planned, skew-splittable. Shuffle volume is
  *     |points| + 2|intervals|, vs |points|·|intervals| comparisons for
  *     the nested loop.
  *
  * Demo semantics: every `error` event opens a 10-minute incident
  * window; each `purchase` is tagged with how many concurrent incident
  * windows (across ALL series) it fell inside, and the earliest such
  * window's start. The oracle runs the naive BETWEEN formulation in
  * DuckDB, so the hash match proves binning loses/duplicates nothing.
  * `RangeJoinSpec` additionally pins the plan: no nested-loop join.
  */
object RangeJoin {

  type Q = (SparkSession, String) => DataFrame

  private val WinLen = 600L // seconds; also the bin width

  def rangeJoinBinned: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val wins = ev.filter(col("event_type") === "error")
      .select(unix_timestamp(col("ts")).as("w_start"))
      .withColumn("w_end", col("w_start") + WinLen)
      // [s, e) overlaps bins floor(s/B) .. floor((e-1)/B): ≤ 2 for L = B
      .withColumn("bin",
        explode(expr(s"sequence(w_start DIV $WinLen, (w_end - 1) DIV $WinLen)")))
    val pts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), unix_timestamp(col("ts")).as("p_sec"))
      .withColumn("bin", expr(s"p_sec DIV $WinLen"))
    pts.join(wins,
        pts("bin") === wins("bin") &&
          col("p_sec") >= col("w_start") && col("p_sec") < col("w_end"),
        "left")
      .groupBy(col("event_id"), col("p_sec"))
      .agg(count(col("w_start")).as("n_windows"),
        min(col("w_start")).as("first_window_start"))
  }

  val rangeJoinBinnedSql: String =
    s"""WITH wins AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS w_start,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) + $WinLen AS w_end
         FROM events WHERE event_type = 'error'),
       pts AS (
         SELECT event_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS p_sec
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.p_sec,
              count(w.w_start) AS n_windows,
              min(w.w_start) AS first_window_start
       FROM pts p LEFT JOIN wins w
         ON p.p_sec >= w.w_start AND p.p_sec < w.w_end
       GROUP BY p.event_id, p.p_sec
       ORDER BY p.event_id"""

  /** Interval×interval OVERLAP join — the general form of
    * `range_join_binned`'s point-in-range: user sessions against
    * "incident" windows (hours whose error count exceeds the p90 of
    * hourly error counts — a data-derived threshold, so every scale
    * produces incidents). Sessions explode into the hour bins they
    * span (bounded fanout: span/3600 + 1), the join is EQUI on the
    * bin with the overlap test as a residual, and duplicates from
    * multi-bin spans collapse on the pair key. The oracle runs the
    * naive theta join, proving binned ≡ quadratic. Overlap lengths in
    * integer seconds (inclusive bounds). */
  def intervalOverlapJoin: Q = (s, d) => {
    val gap = AsOf.GapSeconds
    val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_session",
        when(unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(ord)) > gap
          || lag(col("ts"), 1).over(ord).isNull, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(ord))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(unix_timestamp(date_trunc("second", min(col("ts")))).as("lo"),
        unix_timestamp(date_trunc("second", max(col("ts")))).as("hi"))
    val hourly = Tables.events(s, d).filter(col("event_type") === "error")
      .groupBy(expr("(unix_timestamp(date_trunc('second', ts)) DIV 3600) * 3600").as("h"))
      .agg(count(lit(1)).as("n_err"))
    val thresh = hourly.agg(expr("percentile(n_err, 0.9e0)").as("p90"))
    val incidents = hourly.crossJoin(broadcast(thresh))
      .filter(col("n_err") > col("p90"))
      .select(col("h"), (col("h") + 3599).as("h_end"))
    val binned = sess
      .select(col("user_id"), col("session_idx"), col("lo"), col("hi"),
        explode(expr("sequence(lo DIV 3600, hi DIV 3600)")).as("hbin"))
    binned.join(incidents, col("hbin") * 3600 === col("h")
        && col("lo") <= col("h_end") && col("h") <= col("hi"))
      .select(col("user_id"), col("lo").as("session_lo"), col("h").as("incident_h"),
        (least(col("hi"), col("h_end")) - greatest(col("lo"), col("h")) + 1).as("overlap_sec"))
      .distinct()
  }

  val intervalOverlapJoinSql: String =
    s"""WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > ${AsOf.GapSeconds}
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS lo,
                 CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) AS hi
          FROM (SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM e)
          GROUP BY user_id, session_idx),
        hourly AS (
          SELECT (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS h,
                 count(*) AS n_err
          FROM events WHERE event_type = 'error' GROUP BY 1),
        t AS (SELECT quantile_cont(n_err, 0.9) AS p90 FROM hourly),
        inc AS (SELECT h, h + 3599 AS h_end FROM hourly CROSS JOIN t WHERE n_err > p90)
        SELECT DISTINCT s.user_id, s.lo AS session_lo, i.h AS incident_h,
               least(s.hi, i.h_end) - greatest(s.lo, i.h) + 1 AS overlap_sec
        FROM sess s JOIN inc i ON s.lo <= i.h_end AND i.h <= s.hi
        ORDER BY s.user_id, session_lo, incident_h"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_interval_overlap_join", intervalOverlapJoin, Some(intervalOverlapJoinSql)),
    ("range_join_binned", rangeJoinBinned, Some(rangeJoinBinnedSql)))
}
