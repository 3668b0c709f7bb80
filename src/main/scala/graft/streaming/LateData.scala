package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Watermark late-data accounting — what a streaming deployment loses
  * to out-of-order arrival at a given watermark delay. The events table
  * carries no arrival order, so a deterministic md5 permutation of
  * event_id plays "network reordering" (the same content-hash trick the
  * split/sample ops use: reproducible on any engine, independent of
  * partitioning). The batch twin below replays Structured Streaming's
  * exact drop rule — the watermark in force during micro-batch N is
  * max(event time over batches < N) − delay, and a row is dropped iff
  * its window END is ≤ that watermark (the window is already finalized)
  * — so `LateDataSpec` can assert bit parity against a real
  * `MemoryStream` run fed chunk by chunk.
  *
  * Scale shape: one narrow hash projection, one |chunks|-row running
  * max (chunks are micro-batches — thousands, not billions), one
  * broadcast join back, one windowed count. Nothing stateful beyond
  * the chunk table.
  */
object LateData {

  type Q = (SparkSession, String) => DataFrame

  val ChunkSize = 250
  val DelaySec = 600L       // watermark delay: 10 min
  val WindowSec = 600L      // tumbling aggregation window: 10 min

  /** Hash-space range buckets for the arrival rank: 15 hex chars of
    * md5 span [0, 16^15) = [0, 2^60); dividing by 2^52 yields 256
    * order-preserving buckets (every h in bucket i precedes every h in
    * bucket i+1), so a global rank decomposes into balanced per-bucket
    * ranks plus a 256-row cumulative offset. */
  val ArrivalBuckets = 256
  private val BucketWidth = (1L << 60) / ArrivalBuckets

  /** Events with deterministic pseudo-arrival order and chunk id.
    * The rank over (h, event_id) is NOT one global-sort window — it is
    * a per-hash-range-bucket `row_number` (balanced: md5 is uniform)
    * plus each bucket's carry-in offset, a cumulative sum over the
    * |buckets|-row count table broadcast back. Same integer ranks,
    * no single-partition sort of the fact table. */
  def arrivals(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("arr:"), col("event_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val base = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"), h.as("h"))
      .withColumn("bkt", expr(s"h DIV ${BucketWidth}L"))
    val offsets = base.groupBy(col("bkt")).agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    base
      .withColumn("r_in", row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("h"), col("event_id"))))
      .join(broadcast(offsets), Seq("bkt"))
      .withColumn("arrival", col("off") + col("r_in"))
      .withColumn("chunk", expr(s"(arrival - 1) DIV $ChunkSize"))
      .drop("bkt", "r_in", "off")
  }

  /** Batch twin: per 10-min window, rows a streaming aggregation with a
    * 10-min watermark ACCEPTS vs DROPS under the md5 arrival order.
    * (A real deployment reads arrival order off the log for free; here
    * the deterministic rank is derived per hash-range bucket + carry —
    * see `arrivals` — so the accounting is one balanced window, one
    * tiny running max, one windowed count.) */
  def lateDataBatch: Q = (s, d) => {
    val arr = arrivals(s, d)
    val chunkMax = arr.groupBy(col("chunk")).agg(max(col("sec")).as("chunk_max"))
      .withColumn("wm",
        max(col("chunk_max")).over(Window.orderBy(col("chunk"))
          .rowsBetween(Window.unboundedPreceding, -1)) - DelaySec)
      .select(col("chunk"), col("wm"))
    arr.join(broadcast(chunkMax), Seq("chunk"))
      .withColumn("wend", (expr(s"sec DIV $WindowSec") + 1) * WindowSec)
      .withColumn("late", col("wm").isNotNull && col("wend") <= col("wm"))
      .groupBy((col("wend") - WindowSec).as("wstart_sec"))
      .agg(count(when(!col("late"), 1)).as("n_accepted"),
        count(when(col("late"), 1)).as("n_late"))
  }

  val lateDataSql: String =
    s"""WITH arr AS (
          SELECT event_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 (row_number() OVER (ORDER BY ('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT, event_id) - 1)
                   // $ChunkSize AS chunk
          FROM events),
        cm AS (
          SELECT chunk,
                 max(max(sec)) OVER (ORDER BY chunk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - $DelaySec AS wm
          FROM arr GROUP BY chunk),
        f AS (
          SELECT a.sec, (a.sec // $WindowSec + 1) * $WindowSec AS wend,
                 (cm.wm IS NOT NULL AND (a.sec // $WindowSec + 1) * $WindowSec <= cm.wm) AS late
          FROM arr a JOIN cm USING (chunk))
        SELECT CAST(wend - $WindowSec AS BIGINT) AS wstart_sec,
               count(*) FILTER (WHERE NOT late) AS n_accepted,
               count(*) FILTER (WHERE late) AS n_late
        FROM f GROUP BY 1 ORDER BY 1"""

  /** The streaming half: watermarked tumbling-window count the spec
    * drives chunk-by-chunk against the batch twin. */
  def lateDataStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_accepted"))
      .select(col("window.start").as("wstart"), col("n_accepted"))

  // ------------------------------------- state-store size accounting

  /** Batch twin of the streaming state-store OBSERVABILITY read — the
    * `StreamingQueryProgress.stateOperators` numbers (numRowsTotal /
    * numRowsUpdated / numRowsDroppedByWatermark) every production
    * deployment of the stateful entries watches. Per micro-batch
    * (= arrival chunk) of the watermarked 10-min window aggregation
    * (`lateDataStream`):
    *
    *  - `wm_sec`   — watermark in force DURING the batch: max event
    *    time over strictly earlier chunks − delay (null for chunk 0);
    *  - `n_late_rows` — INPUT rows whose window end ≤ that watermark
    *    (the same drop rule `stream_late_data` already proves);
    *  - `n_dropped` — what the progress metric actually reports:
    *    numRowsDroppedByWatermark counts rows reaching the STATEFUL
    *    operator, i.e. after the pre-shuffle partial aggregation has
    *    compacted the batch's input to one row per window — so it is
    *    the count of DISTINCT late windows in the batch, not of late
    *    input rows (verified empirically: 244 distinct late windows vs
    *    250 late rows in the sf0.001 chunk-1 batch);
    *  - `n_updated` — distinct windows touched by accepted rows (state
    *    rows written that batch);
    *  - `state_rows` — windows live AFTER the batch's no-data
    *    watermark-commit: accepted in some chunk ≤ N with window end >
    *    max(event time through N) − delay. Eviction uses the POST
    *    watermark because Spark advances the watermark at batch end
    *    and runs a no-data batch to finalize + evict.
    *
    * `LateDataSpec` asserts these rows equal a real MemoryStream run's
    * progress metrics chunk by chunk. Scale shape: the same narrow
    * hash projection as `stream_late_data`, one |chunks|-row running
    * max, one windowed count, and a |chunks|×|windows| broadcast range
    * join of two bounded tables — nothing proportional to the corpus
    * beyond the first projection. */
  def stateMetricsBatch: Q = (s, d) => {
    val arr = arrivals(s, d)
      .withColumn("wend", (expr(s"sec DIV $WindowSec") + 1) * WindowSec)
    val w = Window.orderBy(col("chunk"))
    val wmt = arr.groupBy(col("chunk")).agg(max(col("sec")).as("chunk_max"))
      .withColumn("wm_pre",
        max(col("chunk_max")).over(w.rowsBetween(Window.unboundedPreceding, -1)) - DelaySec)
      .withColumn("wm_post",
        max(col("chunk_max")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - DelaySec)
      .select(col("chunk"), col("wm_pre"), col("wm_post"))
    val f = arr.join(broadcast(wmt), Seq("chunk"))
      .withColumn("late", col("wm_pre").isNotNull && col("wend") <= col("wm_pre"))
    val perChunk = f.groupBy(col("chunk"), col("wm_pre"), col("wm_post"))
      .agg(count(lit(1)).as("n_input"),
        count(when(col("late"), 1)).as("n_late_rows"),
        countDistinct(when(col("late"), col("wend"))).as("n_dropped"),
        countDistinct(when(!col("late"), col("wend"))).as("n_updated"))
    val firstAcc = f.filter(!col("late"))
      .groupBy(col("wend")).agg(min(col("chunk")).as("first_chunk"))
    val st = perChunk.select(col("chunk").as("p_chunk"), col("wm_post").as("p_wm"))
      .join(broadcast(firstAcc),
        col("first_chunk") <= col("p_chunk") && col("wend") > col("p_wm"))
      .groupBy(col("p_chunk")).agg(count(lit(1)).as("state_rows"))
      .withColumnRenamed("p_chunk", "chunk")
    perChunk.join(broadcast(st), Seq("chunk"), "left")
      .select(col("chunk"), col("wm_pre").as("wm_sec"), col("n_input"),
        col("n_late_rows"), col("n_dropped"), col("n_updated"),
        coalesce(col("state_rows"), lit(0L)).as("state_rows"))
  }

  val stateMetricsSql: String =
    s"""WITH arr AS (
          SELECT (row_number() OVER (ORDER BY ('0x' || substr(md5('arr:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT, event_id) - 1)
                   // $ChunkSize AS chunk,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
          FROM events),
        a2 AS (SELECT chunk, sec, (sec // $WindowSec + 1) * $WindowSec AS wend FROM arr),
        cm AS (SELECT chunk, max(sec) AS chunk_max FROM a2 GROUP BY chunk),
        wmt AS (SELECT chunk,
                 max(chunk_max) OVER (ORDER BY chunk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - $DelaySec AS wm_pre,
                 max(chunk_max) OVER (ORDER BY chunk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - $DelaySec AS wm_post
                FROM cm),
        f AS (SELECT a.chunk, a.wend, w.wm_pre, w.wm_post,
                     (w.wm_pre IS NOT NULL AND a.wend <= w.wm_pre) AS late
              FROM a2 a JOIN wmt w USING (chunk)),
        per_chunk AS (SELECT chunk, wm_pre, wm_post, count(*) AS n_input,
                       count(*) FILTER (WHERE late) AS n_late_rows,
                       count(DISTINCT wend) FILTER (WHERE late) AS n_dropped,
                       count(DISTINCT wend) FILTER (WHERE NOT late) AS n_updated
                      FROM f GROUP BY chunk, wm_pre, wm_post),
        fa AS (SELECT wend, min(chunk) AS first_chunk FROM f WHERE NOT late GROUP BY wend),
        st AS (SELECT p.chunk, count(*) AS state_rows
               FROM per_chunk p JOIN fa d
                 ON d.first_chunk <= p.chunk AND d.wend > p.wm_post
               GROUP BY p.chunk)
        SELECT p.chunk, CAST(p.wm_pre AS BIGINT) AS wm_sec, p.n_input, p.n_late_rows,
               p.n_dropped, p.n_updated,
               CAST(COALESCE(st.state_rows, 0) AS BIGINT) AS state_rows
        FROM per_chunk p LEFT JOIN st USING (chunk) ORDER BY p.chunk"""

  // ---------------------------------------------------- hopping window

  val HopSlideSec = 900L   // 15-min slide
  val HopSizeSec = 3600L   // 1-h window → every event lands in 4 windows

  /** Hopping (sliding) window aggregation — the overlap semantics
    * tumbling windows can't give ("the last hour, refreshed every 15
    * minutes"): Spark's native `window(ts, '1 hour', '15 minutes')`
    * assigns each event to size/slide = 4 windows. The oracle
    * reproduces the assignment rule explicitly (starts at
    * (sec÷slide − k)·slide for k < size/slide), proving the native
    * operator's window arithmetic. Counts and cent sums are integers.
    * The streaming form is the same expression under a watermark —
    * `stream_events_window`'s parity already covers that machinery. */
  def hoppingWindowBatch: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("cents_sum"))
      .select(unix_timestamp(col("window.start")).as("wstart_sec"),
        col("event_type"), col("n_events"), col("cents_sum"))
  }

  val hoppingWindowSql: String = {
    val hops = HopSizeSec / HopSlideSec
    s"""WITH e AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 CAST(floor(value * 100) AS BIGINT) AS v_c
          FROM events),
        hopped AS (
          SELECT event_type, v_c,
                 (sec // $HopSlideSec - k.k) * $HopSlideSec AS wstart_sec
          FROM e, LATERAL (SELECT unnest(range(0, $hops)) AS k) k)
        SELECT CAST(wstart_sec AS BIGINT) AS wstart_sec, event_type,
               count(*) AS n_events, CAST(sum(v_c) AS BIGINT) AS cents_sum
        FROM hopped GROUP BY 1, 2 ORDER BY wstart_sec, event_type"""
  }

  // ------------------------------------------- native session windows

  /** Batch twin of NATIVE streaming session windows: per-user 30-min
    * gap sessions via `session_window` with event count and duration.
    * The capability this entry adds over `sessionize_native` is the
    * STREAMING half — the same expression under a watermark, where
    * Spark merges session state incrementally and finalizes a session
    * once the watermark passes its end (+gap); `LateDataSpec` proves a
    * chunk-fed MemoryStream run emits exactly these rows. */
  def sessionNativeBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tsec"))
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("tsec"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_sec"),
        (unix_timestamp(col("session_window.end"))
          - unix_timestamp(col("session_window.start"))).as("window_len_sec"),
        col("n_events"))
  }

  val sessionNativeSql: String =
    """WITH flagged AS (
         SELECT user_id, epoch(date_trunc('second', ts)) AS sec,
                CASE WHEN lag(epoch(date_trunc('second', ts))) OVER w IS NULL THEN 0
                     WHEN epoch(date_trunc('second', ts))
                          - lag(epoch(date_trunc('second', ts))) OVER w > 1800 THEN 1
                     ELSE 0 END AS new_session
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       s AS (
         SELECT user_id,
                sum(new_session) OVER (PARTITION BY user_id ORDER BY sec
                  ROWS UNBOUNDED PRECEDING) AS session_idx, sec
         FROM flagged)
       SELECT user_id, CAST(min(sec) AS BIGINT) AS session_start_sec,
              CAST(max(sec) - min(sec) + 1800 AS BIGINT) AS window_len_sec,
              count(*) AS n_events
       FROM s GROUP BY user_id, session_idx
       ORDER BY user_id, session_start_sec"""

  /** The streaming half driven by the parity spec. */
  def sessionNativeStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), "1800 seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_sec"),
        col("n_events"))

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("stream_late_data", lateDataBatch, Some(lateDataSql)),
    ("stream_state_metrics", stateMetricsBatch, Some(stateMetricsSql)),
    ("stream_hopping_window", hoppingWindowBatch, Some(hoppingWindowSql)),
    ("stream_session_native", sessionNativeBatch, Some(sessionNativeSql)))
}
