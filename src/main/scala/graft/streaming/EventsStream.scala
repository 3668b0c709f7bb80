package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface: the reference's collectors run on a
  * cron/lambda loop (cmd/collector/database-collector.go:262-281) —
  * the streaming-native equivalent is a watermarked windowed
  * aggregation plus stateful sessionization.
  *
  * State is keyed by (window, type) / user and bounded by the
  * watermark — horizontal scale = shuffle partitions, no unbounded
  * driver state.
  */
object EventsStream {

  type Q = (SparkSession, String) => DataFrame

  /** Batch-parity query for the streaming windowed aggregation:
    * hourly tumbling counts/sums per event_type (entry
    * `stream_events_window`; the streaming path below produces the
    * same rows, asserted in StreamingSpec). */
  def eventsWindowBatch: Q = (s, d) => eventsWindowAgg(Tables.events(s, d))

  /** Hourly tumbling counts/sums per event_type: the one body of
    * `stream_events_window` and its streaming twin. */
  private def eventsWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  val eventsWindowSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
              count(*) AS n_events, round(sum(value), 2) AS value_sum
       FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  // ----------------------------------------- streaming query_range

  /** Streaming range-query grid: 1 h steps, 30 min staleness lookback
    * (`PromQl.queryRange`'s semantics at dashboard grain — the
    * continuously-maintained instant-vector panel). */
  val QrStepSec = 3600
  val QrLookbackSec = 1800

  private def qrStepExpr(tsCol: String) =
    s"(($tsCol + ${QrStepSec - 1}) div $QrStepSec) * $QrStepSec"

  /** Batch twin of the streaming range-query grid (entry
    * `stream_query_range`): instant vector at each 1 h step = the
    * series' latest sample within the LEFT-OPEN 30 min lookback
    * (Prometheus 3.x staleness: a sample exactly lookback seconds old
    * is stale), steps with nothing in the window stay stale. Same map-side ceil assignment +
    * one (series, step) max(struct) aggregation as `prom_query_range`;
    * the streaming path below emits the identical rows as each step's
    * watermark closes (StreamingSpec parity, chunked). */
  def queryRangeBatch: Q = (s, d) =>
    queryRangeGrid(Tables.events(s, d)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_id"), col("value")))

  /** The range-query grid over (event_type, ts_sec, event_id, value)
    * samples: the one body of `stream_query_range` and its streaming
    * twin. The watermark on step time only acts on a streaming input;
    * on a batch input the analyzer drops it. */
  private def queryRangeGrid(samples: DataFrame): DataFrame =
    samples
      .withColumn("step_ts", timestamp_seconds(expr(qrStepExpr("ts_sec"))))
      .where(expr(qrStepExpr("ts_sec")) - col("ts_sec") < QrLookbackSec)
      .withWatermark("step_ts", "30 minutes")
      .groupBy(col("event_type"), col("step_ts"))
      .agg(max(struct(col("ts_sec"), col("event_id"), col("value"))).as("last"))
      .select(col("event_type"), col("step_ts"),
        col("last.ts_sec").as("sample_ts_sec"), col("last.value").as("value"))

  val queryRangeStreamSql: String =
    s"""WITH s AS (
          SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 event_id, value
          FROM events),
        a AS (
          SELECT *, ((ts_sec + ${QrStepSec - 1}) // $QrStepSec) * $QrStepSec AS step_sec
          FROM s WHERE ((ts_sec + ${QrStepSec - 1}) // $QrStepSec) * $QrStepSec - ts_sec < $QrLookbackSec),
        q AS (
          SELECT event_type, step_sec, ts_sec AS sample_ts_sec, value,
                 row_number() OVER (PARTITION BY event_type, step_sec
                                    ORDER BY ts_sec DESC, event_id DESC) AS rn
          FROM a)
        SELECT event_type, epoch_ms(step_sec * 1000) AS step_ts,
               sample_ts_sec, value
        FROM q WHERE rn = 1 ORDER BY event_type, step_ts"""

  case class QrSample(event_type: String, event_id: Long, tsSec: Long, value: Double)

  /** Streaming stateful range-query grid — the continuously-updated
    * dashboard panel: every sample maps to its next step boundary
    * (ceil arithmetic, map-side), qualifies only within the lookback,
    * and a (series, step) max(struct) aggregation holds ONE candidate
    * per open step. Append mode + the 30 min watermark on step time
    * emit each step's instant vector exactly once when it can no
    * longer change; samples arriving later than the watermark slack
    * are dropped, never double-emitted. State per key is a single
    * struct — bounded by |series| × open steps, not sample volume. */
  def queryRangeStream(samples: Dataset[QrSample]): DataFrame =
    queryRangeGrid(samples.withColumnRenamed("tsSec", "ts_sec"))

  // -------------------------------- streaming multiwindow burn rate

  /** Error-budget target shared with `metrics_burn_rate`. */
  private val SloBudget = graft.operators.Timeseries.SloBudget

  /** Batch twin of the LIVE multiwindow burn-rate alert (entry
    * `stream_burn_rate`) — the SRE paging rule evaluated continuously:
    * per 6 h hop sliding every hour, the slow-window burn
    * (errors/total/budget over the hop) AND the fast-window burn (same
    * ratio over the hop's LAST hour) — page only when BOTH exceed 1
    * (fast catches the spike, slow confirms it matters). The hopping
    * window gives each event its ≤6 hops map-side; both windows'
    * conditional counts ride ONE aggregation (the fast window is a
    * `ts ≥ hop_end − 1h` predicate on the same rows), so the stream
    * maintains exactly one count-vector per open hop. */
  def burnRateBatch: Q = (s, d) =>
    burnRateHops(Tables.events(s, d).select(col("event_type"), col("ts")))

  /** The hop aggregation over (event_type, ts) events: the one body of
    * `stream_burn_rate` and its streaming twin. */
  private def burnRateHops(events: DataFrame): DataFrame =
    events
      // an event sits in the FAST (1 h) window of exactly one hop: the
      // one ending at its own ceil-hour — computable before grouping,
      // so both windows' counts ride one aggregation
      .withColumn("own_end", timestamp_seconds(
        expr("(unix_timestamp(ts) div 3600 + 1) * 3600")))
      .select(col("event_type"), col("ts"), col("own_end"),
        window(col("ts"), "6 hours", "1 hour").as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("total6"),
        count(when(col("event_type") === "error", 1)).as("errors6"),
        count(when(col("own_end") === col("w.end"), 1)).as("total1"),
        count(when(col("own_end") === col("w.end")
          && col("event_type") === "error", 1)).as("errors1"))
      .filter(col("total1") > 0)
      .select(col("w.end").as("hop_end"), col("total6"), col("errors6"),
        col("total1"), col("errors1"),
        expr(s"floor(CAST(errors6 AS DOUBLE) / CAST(total6 AS DOUBLE) / $SloBudget * 1e4) / 1e4")
          .as("burn_6h"),
        expr(s"floor(CAST(errors1 AS DOUBLE) / CAST(total1 AS DOUBLE) / $SloBudget * 1e4) / 1e4")
          .as("burn_1h"))
      .withColumn("page", col("burn_6h") > 1.0 && col("burn_1h") > 1.0)

  val burnRateStreamSql: String =
    s"""WITH hops AS (
          SELECT event_type, epoch(ts) AS ts_sec,
                 (CAST(floor(epoch(ts) / 3600) AS BIGINT) + 1 + k) * 3600 AS hop_end
          FROM events, (SELECT unnest(range(6)) AS k)),
        g AS (
          SELECT hop_end,
                 count(*) AS total6,
                 count(*) FILTER (WHERE event_type = 'error') AS errors6,
                 count(*) FILTER (WHERE ts_sec >= hop_end - 3600) AS total1,
                 count(*) FILTER (WHERE ts_sec >= hop_end - 3600
                                    AND event_type = 'error') AS errors1
          FROM hops GROUP BY hop_end)
        SELECT epoch_ms(hop_end * 1000) AS hop_end, total6, errors6, total1, errors1,
               floor(CAST(errors6 AS DOUBLE) / CAST(total6 AS DOUBLE) / $SloBudget * 1e4) / 1e4
                 AS burn_6h,
               floor(CAST(errors1 AS DOUBLE) / CAST(total1 AS DOUBLE) / $SloBudget * 1e4) / 1e4
                 AS burn_1h,
               floor(CAST(errors6 AS DOUBLE) / CAST(total6 AS DOUBLE) / $SloBudget * 1e4) / 1e4 > 1.0
                 AND floor(CAST(errors1 AS DOUBLE) / CAST(total1 AS DOUBLE) / $SloBudget * 1e4) / 1e4 > 1.0
                 AS page
        FROM g WHERE total1 > 0 ORDER BY hop_end"""

  case class BrSample(event_type: String, tsSec: Long)

  /** Streaming path: the same one-aggregation hopping window under a
    * 1 h watermark — each closed hop emits its page/no-page verdict
    * exactly once; watermark-late events are dropped, never re-page. */
  def burnRateStream(samples: Dataset[BrSample]): DataFrame =
    burnRateHops(samples
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "1 hour"))

  // ----------------------------- streaming HA replica deduplication

  /** Batch twin of the LIVE HA replica election (entry
    * `stream_ha_dedup`) — where `metrics_ha_dedup` audits the election
    * after the fact, a real Cortex/Mimir-style HA tracker decides it AT
    * INGEST: per (series, 1 h tumbling window) the replica that
    * delivered more samples wins (tie → replica 0, the prefer-incumbent
    * rule), and the stream emits each window's verdict exactly once
    * when the watermark closes it. State per open key is two counts;
    * keys = |series| × open windows — bounded by the watermark, never
    * by sample volume. Same integer election arithmetic as the batch
    * audit, so the two entries can never disagree on a closed window. */
  def haDedupBatch: Q = (s, d) =>
    haElection(Tables.events(s, d)
      .select(col("event_type"), col("ts"), (col("event_id") % 2).as("replica")))

  /** The per-(window, series) replica election over (event_type, ts,
    * replica) samples: the one body of `stream_ha_dedup` and its
    * streaming twin. */
  private def haElection(samples: DataFrame): DataFrame =
    samples
      .select(col("event_type"), col("replica"), window(col("ts"), "1 hour").as("w"))
      .groupBy(col("w"), col("event_type"))
      .agg(count(when(col("replica") === 0, 1)).as("n_r0"),
        count(when(col("replica") === 1, 1)).as("n_r1"))
      .select(col("w.end").as("win_end"), col("event_type"), col("n_r0"), col("n_r1"),
        when(col("n_r1") > col("n_r0"), 1).otherwise(0).cast("int").as("elected_replica"),
        when(col("n_r1") > col("n_r0"), col("n_r1")).otherwise(col("n_r0")).as("n_kept"),
        when(col("n_r1") > col("n_r0"), col("n_r0")).otherwise(col("n_r1")).as("n_dropped"))

  val haDedupStreamSql: String =
    """WITH per AS (
         SELECT event_type,
                (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600 + 1) * 3600
                  AS end_sec,
                count(*) FILTER (WHERE event_id % 2 = 0) AS n_r0,
                count(*) FILTER (WHERE event_id % 2 = 1) AS n_r1
         FROM events GROUP BY 1, 2)
       SELECT epoch_ms(end_sec * 1000) AS win_end, event_type, n_r0, n_r1,
              CAST(CASE WHEN n_r1 > n_r0 THEN 1 ELSE 0 END AS INT) AS elected_replica,
              CASE WHEN n_r1 > n_r0 THEN n_r1 ELSE n_r0 END AS n_kept,
              CASE WHEN n_r1 > n_r0 THEN n_r0 ELSE n_r1 END AS n_dropped
       FROM per ORDER BY event_type, win_end"""

  case class HaSample(event_type: String, tsSec: Long, replica: Int)

  /** Streaming path: the same two-count windowed aggregation under a
    * 1 h watermark — each closed (series, window) emits its election
    * exactly once; watermark-late samples are dropped, never
    * re-elected. */
  def haDedupStream(samples: Dataset[HaSample]): DataFrame =
    haElection(samples
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", "1 hour"))

  // --------------------------- streaming native-histogram buckets

  /** Batch twin of the continuously-maintained NATIVE-histogram sparse
    * buckets (entry `stream_native_histogram`): per (series, day), the
    * schema-2 exponential bucket counts — the Prometheus 3.x ingest
    * shape, maintained as data arrives instead of re-scanned. Bucket
    * assignment is the SAME driver-computed boundary ladder the batch
    * reads use (`NativeHistogram.idxLadder` — StrictMath.pow literals
    * shared verbatim with the oracle, no runtime log()), so the
    * streaming state is bit-compatible with every batch native-histogram
    * entry. State per key = one count; keys = |series| × open days ×
    * ≤64 non-empty buckets — bounded by the watermark, not sample
    * volume. */
  def nativeHistogramBatch: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"),
        expr(graft.operators.NativeHistogram.idxLadder).as("idx"))
      .groupBy(col("event_type"), col("day"), col("idx"))
      .agg(count(lit(1)).as("cnt"))

  val nativeHistogramStreamSql: String =
    s"""WITH b AS (
          SELECT event_type, date_trunc('day', ts) AS day,
                 ${graft.operators.NativeHistogram.idxLadder} AS idx
          FROM events)
        SELECT event_type, day, idx, count(*) AS cnt
        FROM b GROUP BY 1, 2, 3 ORDER BY event_type, day, idx"""

  case class NhSample(event_type: String, tsSec: Long, value: Double)

  /** Streaming path: tumbling 1-day windows on event time, one count
    * per (window, series, bucket idx); append mode + the 1-day
    * watermark emit each day's sparse histogram exactly once when it
    * can no longer change. Late samples beyond the watermark are
    * dropped, never double-counted — the TSDB ingest contract. */
  def nativeHistogramStream(samples: Dataset[NhSample]): DataFrame = {
    samples
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withColumn("idx", expr(graft.operators.NativeHistogram.idxLadder))
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("event_type"), col("w.start").as("day"), col("idx"), col("cnt"))
  }

  /** Watermarked hourly windowed aggregation — the streaming twin of
    * `eventsWindowBatch`. */
  def eventsWindowStream(events: DataFrame): DataFrame =
    eventsWindowAgg(events.withWatermark("ts", "2 hours"))

  case class Event(user_id: Long, event_id: Long, tsSec: Long, value: Double)
  case class Session(user_id: Long, session_idx: Long, session_start: String,
      session_end: String, duration_sec: Long, n_events: Long, value_sum: Double)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  val GapSeconds = 1800L

  /** The shared sessionization core: fold one user's time-sorted events
    * into gap-separated sessions. Used by both the batch entry and the
    * streaming flatMapGroupsWithState wrapper. */
  def foldSessions(userId: Long, sorted: Seq[Event]): Seq[Session] = {
    if (sorted.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var idx = 0L
    var start = sorted.head.tsSec
    var end = start
    var n = 0L
    var v = 0.0
    def emit(): Unit = out += Session(userId, idx,
      fmt.format(java.time.Instant.ofEpochSecond(start)),
      fmt.format(java.time.Instant.ofEpochSecond(end)),
      end - start, n,
      // same HALF_UP-on-decimal-repr rounding as Spark's round()
      java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
    sorted.foreach { e =>
      if (n > 0 && e.tsSec - end > GapSeconds) {
        emit(); idx += 1; start = e.tsSec; n = 0; v = 0.0
      }
      end = e.tsSec; n += 1; v += e.value
    }
    emit()
    out.toSeq
  }

  /** Batch entry `stream_sessionize_state`: same core as the streaming
    * state operator, run per user group. NOTE: gap is measured to the
    * previous event (same as the window-lag variant), so this equals
    * the `sessionize` entry's sessions — cross-checked in its oracle. */
  def sessionizeBatch: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        foldSessions(uid, it.toSeq.sortBy(e => (e.tsSec, e.event_id))).iterator
      }
      .toDF()
  }

  /** Per-user streaming state: next session index to assign + the
    * events of sessions not yet finalized by the watermark. */
  case class SessState(nextIdx: Long, open: List[Event])

  /** Split time-sorted events at gaps > GapSeconds. */
  private def splitAtGaps(sorted: List[Event]): List[List[Event]] = {
    if (sorted.isEmpty) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[List[Event]]
    var cur = scala.collection.mutable.ListBuffer(sorted.head)
    sorted.tail.foreach { e =>
      if (e.tsSec - cur.last.tsSec > GapSeconds) {
        out += cur.toList
        cur = scala.collection.mutable.ListBuffer(e)
      } else cur += e
    }
    out += cur.toList
    out.toList
  }

  private def toSessions(uid: Long, startIdx: Long, groups: List[List[Event]]): List[Session] =
    groups.zipWithIndex.flatMap { case (g, i) =>
      foldSessions(uid, g).map(s => s.copy(session_idx = startIdx + i))
    }

  /** Streaming stateful sessionization — the streaming twin of
    * `sessionizeBatch`, driven by the EVENT-TIME watermark (not
    * wall-clock): deterministic in tests and correct under replay.
    *
    * State is BOUNDED: a session is emitted (and dropped from state) as
    * soon as the watermark proves no event can extend or merge it
    * (session_end + gap <= watermark). A user's state holds only the
    * still-open tail, never their full history — the property that
    * keeps the state store flat at 100 TB / unbounded retention.
    * Processing-time timeouts would instead busy-loop empty
    * micro-batches and grow state with stream lifetime. */
  def sessionizeStream(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    eventTimeFold(events, s"$GapSeconds seconds", SessState(0L, Nil))(_.user_id) {
      (uid, st, rows, wmSec) =>
        val all = (st.open ++ rows).sortBy(e => (e.tsSec, e.event_id))
        val groups = splitAtGaps(all)
        // a timer wake-up: every open session is final
        if (rows.isEmpty) (toSessions(uid, st.nextIdx, groups), None, None)
        else {
          // watermark-final prefix: nothing can arrive that extends it
          val (closed, open) = groups.span(g => g.last.tsSec + GapSeconds <= wmSec)
          (toSessions(uid, st.nextIdx, closed),
            Some(SessState(st.nextIdx + closed.size, open.flatten)),
            Some(all.last.tsSec + GapSeconds))
        }
    }
  }

  /** The event-time fold every stateful stream path runs: stamp `tsSec`
    * as `eventTime`, watermark it by `delay`, group by `key`, and fold
    * each key through `step` in Append mode under event-time timers.
    * `step` gets the key, the carried state (`init` for a new key), the
    * batch's rows and the watermark second; it returns the rows to emit,
    * the state to keep (None drops it) and the second to wake at, armed
    * no earlier than one second past the watermark. A timer wake-up is
    * the only call with no rows. `.as[T]` keeps `eventTime` and its
    * watermark in the plan. */
  private def eventTimeFold[T: Encoder, K: Encoder, S: Encoder, O: Encoder](
      in: Dataset[T], delay: String, init: S)(key: T => K)(
      step: (K, S, List[T], Long) => (Seq[O], Option[S], Option[Long])): Dataset[O] =
    in.withColumn("eventTime", timestamp_seconds(col("tsSec")))
      .withWatermark("eventTime", delay)
      .as[T]
      .groupByKey(key)
      .flatMapGroupsWithState[S, O](OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (k: K, rows: Iterator[T], state: GroupState[S]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val (out, next, wake) = step(k, state.getOption.getOrElse(init), rows.toList, wmMs / 1000)
          next match {
            case None => state.remove()
            case Some(st) =>
              state.update(st)
              wake.foreach(w => state.setTimeoutTimestamp(math.max(w * 1000L, wmMs + 1000L)))
          }
          out.iterator
      }

  /** Batch twin of streaming exact dedup: hourly unique-event counts
    * (duplicates collapsed on event_id before the windowed count). */
  def eventsDedupBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(window(col("ts"), "1 hour").getField("start").as("window_start"),
        col("event_type"), col("event_id"))
      .distinct()
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
  }

  val eventsDedupSql: String =
    """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
              count(DISTINCT event_id) AS n_unique
       FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` — state for
    * an event_id is dropped once the watermark passes it, so dedup
    * state is bounded by the watermark horizon instead of growing with
    * the stream (the requirement for an exactly-once event feed at
    * scale). Downstream windowed agg finalizes on the same watermark. */
  def dedupWindowStream(events: DataFrame): DataFrame = {
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_unique"))
  }

  /** Batch twin of the stream-stream interval join: for each purchase,
    * the count of the same user's clicks in the preceding 30 minutes.
    * Timestamps truncated to seconds on both sides (oracle precision
    * parity). The join is equi on user_id with the time range as a
    * residual — one shuffle by user at any scale. */
  def intervalJoinBatch: Q = (s, d) => {
    val (p, c) = purchasesAndClicks(s, d, col("user_id"))
    p.join(c, Seq("user_id"))
      .filter(col("c_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"))
  }

  /** The purchase side (purchase_id, user_id, p_ts) and click side
    * (`clickUser`, c_ts) of both interval-join twins, timestamps
    * truncated to seconds. */
  private def purchasesAndClicks(s: SparkSession, d: String,
      clickUser: Column): (DataFrame, DataFrame) = {
    val e = Tables.events(s, d)
      .withColumn("ts", date_trunc("second", col("ts")))
    (e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts")),
      e.filter(col("event_type") === "click").select(clickUser, col("ts").as("c_ts")))
  }

  val intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, count(*) AS n_clicks
       FROM (SELECT event_id, user_id, date_trunc('second', ts) AS p_ts
             FROM events WHERE event_type = 'purchase') p
       JOIN (SELECT user_id, date_trunc('second', ts) AS c_ts
             FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id
        AND c.c_ts > p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts
       GROUP BY p.event_id, p.user_id ORDER BY purchase_id"""

  /** Stream-stream interval join: both sides watermarked; the range
    * condition bounds how long either side's state is retained (Spark
    * drops a buffered row once the watermark proves no future match).
    * Emits raw (purchase, click) matches — aggregation is the batch
    * twin's job; parity asserted in StreamingSpec. */
  def intervalJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickWindowJoin(purchases, clicks, "inner")

  /** Both interval-join streams: each side watermarked by 1 hour, clicks
    * in the 30 minutes up to the purchase, joined as `joinType`. */
  private def clickWindowJoin(purchases: DataFrame, clicks: DataFrame,
      joinType: String): DataFrame =
    purchases.withWatermark("p_ts", "1 hour")
      .join(clicks.withWatermark("c_ts", "1 hour"), expr(
        """p_user = c_user AND
           c_ts > p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"""), joinType)

  /** Batch twin of the stream-stream LEFT OUTER interval join: every
    * purchase keeps a row even with ZERO clicks in its window — the
    * rows the inner variant silently drops are exactly the
    * "conversions with no preceding engagement" a funnel audit needs.
    * `count(c_ts)` (non-null side) makes the zero explicit. Same
    * single user-keyed shuffle; the outer row adds no state. */
  def outerIntervalJoinBatch: Q = (s, d) => {
    val (p, c) = purchasesAndClicks(s, d, col("user_id").as("c_user"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"), "left")
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(col("c_ts")).as("n_clicks"))
  }

  val outerIntervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id, count(c.c_ts) AS n_clicks
       FROM (SELECT event_id, user_id, date_trunc('second', ts) AS p_ts
             FROM events WHERE event_type = 'purchase') p
       LEFT JOIN (SELECT user_id, date_trunc('second', ts) AS c_ts
             FROM events WHERE event_type = 'click') c
         ON p.user_id = c.user_id
        AND c.c_ts > p.p_ts - INTERVAL 30 MINUTE AND c.c_ts <= p.p_ts
       GROUP BY p.event_id, p.user_id ORDER BY purchase_id"""

  /** Streaming twin: `leftOuter` interval join — Spark holds the
    * unmatched purchase until the click-side watermark proves no match
    * can still arrive, then emits it with nulls. The range condition
    * bounds both sides' state exactly as in the inner variant; the
    * null row costs nothing extra. Parity in StreamingSpec. */
  def outerIntervalJoinStream(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickWindowJoin(purchases, clicks, "leftOuter")

  /** Batch twin of the streaming scrape→remote-write loop: the
    * reference scrapes every database on a timer and pushes long-format
    * TimeSeries; streaming-native, each 6-hour window per stream
    * finalizes into long metric rows when the watermark passes. This is
    * the batch-parity query (entry `stream_metrics_scrape`); the
    * streaming path below emits the same rows (StreamingSpec). */
  def metricsScrapeBatch: Q = (s, d) => metricsScrapeRows(Tables.events(s, d))

  /** 6-hour windows per stream as long metric rows: the one body of
    * `stream_metrics_scrape` and its streaming twin. */
  private def metricsScrapeRows(events: DataFrame): DataFrame = {
    val agg = events
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("scrape_events_total"),
        round(sum(col("value")), 2).as("scrape_value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("scrape_events_total"), col("scrape_value_sum"))
    graft.operators.MetricsModel.wideToLong(agg, Seq("window_start", "event_type"),
      Seq("scrape_events_total", "scrape_value_sum"))
  }

  val metricsScrapeSql: String =
    """WITH a AS (SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, event_type,
                    CAST(count(*) AS DOUBLE) AS n, round(sum(value), 2) AS v
                  FROM events GROUP BY 1, 2)
       SELECT window_start, event_type, metric_name, value FROM (
         SELECT window_start, event_type, 'scrape_events_total' AS metric_name, n AS value FROM a
         UNION ALL SELECT window_start, event_type, 'scrape_value_sum', v FROM a) t
       ORDER BY window_start, event_type, metric_name"""

  /** Streaming twin: watermarked 6-hour windows, finalized to the same
    * long metric rows — the continuous version of the reference's
    * cron-driven scrape/push loop. */
  def metricsScrapeStream(events: DataFrame): DataFrame =
    metricsScrapeRows(events.withWatermark("ts", "6 hours"))

  /** Batch twin of the streaming counter-rate: hourly PromQL-style
    * `increase()` per series with counter-reset detection — the same
    * chain rule as `Timeseries.counterRate`, bucketed hourly (entry
    * `stream_counter_rate`; the stateful streaming path below emits
    * the same rows, asserted in StreamingSpec). */
  def counterRateHourlyBatch: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      // seconds precision on both twins: the stateful path keys its
      // chain on epoch seconds, so the batch order must match
      .select(col("event_type"), date_trunc("second", col("ts")).as("ts"),
        col("event_id"), col("value"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("inc",
        when(col("delta").isNull, lit(0.0))
          .when(col("delta") < 0, col("value"))
          .otherwise(col("delta")))
      .groupBy(col("event_type"),
        window(col("ts"), "1 hour").getField("start").as("window_start"))
      .agg(round(sum(col("inc")), 2).as("increase"))
  }

  val counterRateHourlySql: String =
    """WITH s AS (
         SELECT event_type, date_trunc('second', ts) AS ts, value,
                value - lag(value) OVER (PARTITION BY event_type
                  ORDER BY date_trunc('second', ts), event_id) AS delta
         FROM events)
       SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
              round(sum(CASE WHEN delta IS NULL THEN 0.0
                             WHEN delta < 0 THEN value ELSE delta END), 2) AS increase
       FROM s GROUP BY 1, 2 ORDER BY event_type, window_start"""

  case class CSample(event_type: String, event_id: Long, tsSec: Long, value: Double)
  /** carry = last sample value of the finalized prefix (the chain
    * continues across hour boundaries); buf = samples in hours the
    * watermark hasn't closed yet. */
  case class RateState(carry: Option[Double], buf: List[CSample])
  case class HourIncrease(event_type: String, hour_sec: Long, increase: Double)

  private def chainIncreases(carry: Option[Double], sorted: List[CSample]): List[HourIncrease] = {
    if (sorted.isEmpty) return Nil
    val byHour = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    var prev = carry
    sorted.foreach { c =>
      val inc = prev match {
        case None => 0.0
        case Some(p) => if (c.value - p < 0) c.value else c.value - p
      }
      val h = c.tsSec / 3600 * 3600
      byHour(h) = byHour.getOrElse(h, 0.0) + inc
      prev = Some(c.value)
    }
    byHour.map { case (h, v) =>
      HourIncrease(sorted.head.event_type, h,
        java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
    }.toList
  }

  /** Streaming stateful counter-rate — the continuous `increase()`:
    * per-series state is the last finalized sample value (the chain
    * carry) plus only the samples of hours the event-time watermark
    * hasn't closed. An hour is emitted the moment the watermark passes
    * its end; late samples within the watermark slack reorder safely
    * because the chain is re-sorted before finalization. State is
    * bounded by rate × (1 hour + watermark slack) — never the series
    * history. */
  def counterRateStream(samples: Dataset[CSample]): Dataset[HourIncrease] = {
    import samples.sparkSession.implicits._
    eventTimeFold(samples, "1 hour", RateState(None, Nil))(_.event_type) {
      (_, st, rows, wmSec) =>
        // data batches and timeout wakeups run the SAME logic: close
        // every hour the watermark has passed, keep the rest. A
        // timeout must NOT flush open hours — it fires on empty
        // micro-batches long before the hour is final.
        val all = (st.buf ++ rows).sortBy(c => (c.tsSec, c.event_id))
        val boundary = wmSec / 3600 * 3600 // hours before this are final
        val (closed, open) = all.partition(_.tsSec < boundary)
        // the carry must OUTLIVE the buffer: dropping state when the
        // buffer drains would restart the chain (a phantom inc=0) on
        // the series' next sample. A counter series keeps exactly one
        // double of state for its lifetime — the same contract as a
        // Prometheus TSDB head.
        (chainIncreases(st.carry, closed),
          Some(RateState(closed.lastOption.map(_.value).orElse(st.carry), open)),
          // wake when the watermark passes the last open hour's end
          open.lastOption.map(_.tsSec / 3600 * 3600 + 3600))
    }
  }

  /** Batch twin of the foreachBatch incremental upsert: the
    * materialized latest-state snapshot per (user, event_type) as ONE
    * max-of-struct aggregation (map-side combine; no per-key history
    * sort). The streaming path (`upsertBatchInto` + foreachBatch,
    * parity in StreamingSpec) maintains the same snapshot
    * incrementally — each micro-batch pre-aggregates to ≤|keys| rows,
    * then merges keyed maxima into the target, which is exactly the
    * MERGE INTO shape an incremental lakehouse sink runs at scale. */
  def upsertSnapshotBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"),
        col("event_id"), col("value"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("tsSec"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m").getField("tsSec").as("last_ts_sec"),
        col("m").getField("value").as("last_value"))
  }

  val upsertSnapshotSql: String =
    """SELECT user_id, event_type, last_ts_sec, last_value FROM (
         SELECT user_id, event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS last_ts_sec,
                value AS last_value,
                row_number() OVER (PARTITION BY user_id, event_type
                  ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
         FROM events) t
       WHERE rn = 1 ORDER BY user_id, event_type"""

  /** Current contents of a snapshot store, if one has been published:
    * `current`, or `retired` when a crash fell between
    * `publishSnapshot`'s two renames — the last published snapshot then
    * sits there, and the replayed batch re-merges into it. */
  private def currentSnapshot(spark: SparkSession, snapshotDir: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(snapshotDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("current", "retired").map(new Path(snapshotDir, _)).find(fs.exists)
      .map(p => spark.read.parquet(p.toString))
  }

  /** Write the merged snapshot BESIDE the current one, then swap —
    * readers never observe a half-written snapshot. The only driver
    * work is two directory renames. */
  private def publishSnapshot(snapshotDir: String, merged: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(snapshotDir).getFileSystem(
      merged.sparkSession.sparkContext.hadoopConfiguration)
    val cur = new Path(snapshotDir, "current")
    val tmp = new Path(snapshotDir, "merging")
    merged.write.mode("overwrite").parquet(tmp.toString)
    val old = new Path(snapshotDir, "retired")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(cur) && !fs.rename(cur, old))
      sys.error(s"snapshot swap: could not retire $cur")
    if (!fs.rename(tmp, cur)) sys.error(s"snapshot swap: could not publish $tmp")
    fs.delete(old, true)
  }

  /** One micro-batch into a snapshot store: the published snapshot (if
    * any) unions with the batch's partial summary `delta`, `merge` folds
    * the union back into one summary, and the result is published. Every
    * store here is a mergeable summary, so the outcome is independent of
    * how the stream was chunked. */
  private def mergeInto(snapshotDir: String, delta: DataFrame)(
      merge: DataFrame => DataFrame): Unit =
    publishSnapshot(snapshotDir, merge(currentSnapshot(delta.sparkSession, snapshotDir)
      .map(_.unionByName(delta)).getOrElse(delta)))

  /** One micro-batch of the incremental upsert, merged into a KEYED
    * TABLE on storage — the MERGE INTO shape a lakehouse sink runs:
    * pre-aggregate the batch to its keyed maxima (the only rows that
    * can change the snapshot), union with the current snapshot, take
    * the per-key greatest-of-struct, and atomically swap the snapshot
    * directory. Fully distributed — no `.collect()`, no driver-side
    * key map: at 100 TB with billions of keys the merge is one
    * co-partitioned aggregation whose input is |snapshot| + |batch
    * keys|, and the only driver work is two directory renames. (A
    * transactional table format would express the same plan as
    * MERGE INTO with file-level pruning; plain parquet + rename-swap
    * is the dependency-free equivalent.) */
  def upsertBatchInto(snapshotDir: String, batch: DataFrame): Unit =
    mergeInto(snapshotDir, latestPerKey(batch))(latestPerKey)

  /** Each (user, event_type)'s greatest (tsSec, event_id, value): the
    * batch's keyed maxima and the store's merge alike. */
  private def latestPerKey(rows: DataFrame): DataFrame =
    rows.groupBy(col("user_id"), col("event_type"))
      .agg(max(struct(col("tsSec"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("event_type"),
        col("m").getField("tsSec").as("tsSec"),
        col("m").getField("event_id").as("event_id"),
        col("m").getField("value").as("value"))

  /** Read-back of the upsert target: the latest-state snapshot in the
    * batch twin's output shape. */
  def upsertSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .select(col("user_id"), col("event_type"),
        col("tsSec").as("last_ts_sec"), col("value").as("last_value"))

  /** Batch twin for `stream_sketch_distinct`: daily distinct-user
    * estimates through the mergeable theta sketch (`graft_theta`) —
    * the rolled-up "daily unique visitors" read. The streaming path
    * below maintains the same sketches incrementally across
    * micro-batches; because sketch merge is EXACT (union-of-sketches
    * == sketch-of-union), the streamed snapshot equals this batch
    * result bit-for-bit no matter how ingestion was chunked
    * (StreamingSpec asserts equality). */
  def sketchDistinctBatch: Q = (s, d) => {
    val k = graft.operators.Sketch.K
    Tables.events(s, d)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr(graft.operators.Sketch.hash60("u", "user_id")).as("h"))
      .groupBy(col("day"))
      .agg(expr(s"graft_theta(h, $k)").as("sk"))
      .select(col("day"), expr(graft.operators.Sketch.estExpr("sk")).as("est_distinct"))
  }

  val sketchDistinctSql: String = {
    val k = graft.operators.Sketch.K
    s"""WITH d AS (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
                     ('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                   FROM events),
         r AS (SELECT day, h,
                      row_number() OVER (PARTITION BY day ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY day) AS cnt
               FROM d)
       SELECT day,
              CASE WHEN max(cnt) < $k THEN CAST(max(cnt) AS DOUBLE)
                   ELSE floor(${k - 1}e0 * 1152921504606846976e0 /
                              CAST(max(CASE WHEN rn = $k THEN h END) AS DOUBLE)) END
                AS est_distinct
       FROM r GROUP BY day ORDER BY day"""
  }

  /** One micro-batch of the incremental sketch rollup: sketch the
    * batch's (day, hash) rows, merge with the stored per-day sketches
    * (explode retained hashes → re-sketch: the exact KMV union), and
    * swap the snapshot. Stored state is k longs per day — a snapshot
    * measured in KB regardless of how many events streamed through;
    * the distinct-count state that NEVER grows with cardinality. */
  def sketchBatchInto(snapshotDir: String, batch: DataFrame): Unit = {
    val k = graft.operators.Sketch.K
    def sketch(rows: DataFrame) =
      rows.groupBy(col("day")).agg(expr(s"graft_theta(h, $k)").as("sk"))
    mergeInto(snapshotDir, sketch(batch))(u =>
      sketch(u.select(col("day"), explode(col("sk")).as("h"))))
  }

  /** Read-back of the sketch store in the batch twin's output shape. */
  def sketchSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .select(col("day"), expr(graft.operators.Sketch.estExpr("sk")).as("est_distinct"))

  /** Counter budget for the streaming heavy-hitters state. */
  val StreamHhK = 64

  /** Batch twin for `stream_heavy_hitters`: per day, the users holding
    * more than n_day/k of that day's events — exact GROUP BY + window
    * total + integer HAVING (no float surface). The streaming half
    * below maintains the same answer incrementally. */
  def heavyHittersBatch: Q = (s, d) => {
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
    Tables.events(s, d)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum(col("cnt")).over(wDay))
      .filter(col("cnt") * StreamHhK > col("n"))
      .select(col("day"), col("user_id"), col("cnt"))
  }

  val heavyHittersSql: String =
    s"""WITH c AS (SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, count(*) AS cnt
                   FROM events GROUP BY 1, 2),
         t AS (SELECT day, user_id, cnt, sum(cnt) OVER (PARTITION BY day) AS n FROM c)
       SELECT day, user_id, cnt FROM t
       WHERE cnt * $StreamHhK > n ORDER BY day, user_id"""

  /** One micro-batch of incremental heavy-hitter maintenance. TWO
    * snapshot stores, each mergeable and each swapped atomically:
    *
    *  - `countsDir`: exact per-(day, user) counts — merge is a SUM, so
    *    the snapshot is chunking- and order-independent. This is the
    *    recount source the read-back thresholds against; its state is
    *    the day's true key cardinality (Heap's-law sublinear for token
    *    streams, |users| here).
    *  - `mgDir`: a distributed Misra–Gries STATE (≤ k−1 weighted
    *    counters per day), merged per the Agarwal et al. PODS'12
    *    mergeable-summaries rule expressed as plain DataFrame ops:
    *    union counter multisets → sum per (day, key) → subtract each
    *    day's k-th largest combined counter → keep the positive rows.
    *    Any key with true freq > n_day/k is GUARANTEED to survive
    *    every merge (containment, asserted in StreamingSpec), so at
    *    unbounded vocabulary the exact store can be dropped and the
    *    bounded MG state + a periodic recount over retained raw data
    *    gives the same final answer — that is the 100 TB shape.
    */
  def heavyHittersBatchInto(countsDir: String, mgDir: String, batch: DataFrame): Unit = {
    def sumCounts(rows: DataFrame) =
      rows.groupBy(col("day"), col("user_id")).agg(sum(col("cnt")).as("cnt"))
    // feeds both stores: cached so the source is read once, and freed
    // once both are published (the stream thread releases no cuts)
    val batchCounts = batch.groupBy(col("day"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      mergeInto(countsDir, batchCounts)(sumCounts)
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("cnt").desc, col("user_id"))
      val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
      mergeInto(mgDir, batchCounts)(u => sumCounts(u)
        .withColumn("rn", row_number().over(wRank))
        .withColumn("ck", coalesce(
          max(when(col("rn") === StreamHhK, col("cnt"))).over(wDay), lit(0L)))
        .filter(col("cnt") - col("ck") > 0)
        .select(col("day"), col("user_id"), (col("cnt") - col("ck")).as("cnt")))
    } finally batchCounts.unpersist()
  }

  /** Read-back of the heavy-hitter store in the batch twin's shape:
    * threshold the exact counts at cnt·k > n_day. */
  def heavyHittersSnapshotRead(spark: SparkSession, countsDir: String): DataFrame = {
    val wDay = org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
    currentSnapshot(spark, countsDir).get
      .withColumn("n", sum(col("cnt")).over(wDay))
      .filter(col("cnt") * StreamHhK > col("n"))
      .select(col("day"), col("user_id"), col("cnt"))
  }

  /** The MG store's candidate set (for the containment assertion). */
  def heavyHittersMgRead(spark: SparkSession, mgDir: String): DataFrame =
    currentSnapshot(spark, mgDir).get

  /** Batch twin for `ivm_agg_delta` — incremental view maintenance
    * with RETRACTIONS, the capability LWW-upsert doesn't cover: the
    * event stream is read as a SIGNED delta stream (`error` events
    * retract one unit of the user's activity; everything else inserts
    * one), and the maintained view is each user's net activity. Rows
    * whose support reaches zero LEAVE the view — the defining IVM
    * behavior (a deleted group must disappear, not linger at 0). */
  def ivmAggBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"),
        when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L)).as("op"),
        col("value"))
      .groupBy(col("user_id"))
      .agg(sum(col("op")).as("net_events"),
        round(sum(col("op") * col("value")), 2).as("net_value"))
      .filter(col("net_events") =!= 0)
  }

  val ivmAggSql: String =
    """SELECT user_id, CAST(sum(op) AS BIGINT) AS net_events,
              round(sum(op * value), 2) AS net_value
       FROM (SELECT user_id,
                    CASE WHEN event_type = 'error' THEN -1 ELSE 1 END AS op,
                    value
             FROM events) t
       GROUP BY user_id HAVING CAST(sum(op) AS BIGINT) <> 0 ORDER BY user_id"""

  /** One micro-batch of the delta-view maintenance: per-key partial
    * sums of the batch merge into the stored view by ADDITION — the
    * abelian-group property (sum of signed contributions) is what
    * makes the view chunking- and order-independent, unlike LWW which
    * needs the order key. Zero-support rows are REMOVED at merge time
    * so the stored view never carries tombstone residue. The raw
    * double sums are kept in store (rounding happens only at read) so
    * merges stay associative. */
  def ivmBatchInto(snapshotDir: String, batch: DataFrame): Unit =
    mergeInto(snapshotDir, batch.groupBy(col("user_id"))
      .agg(sum(col("op")).as("net_events"), sum(col("op") * col("value")).as("raw_value"))) {
      _.groupBy(col("user_id"))
        .agg(sum(col("net_events")).as("net_events"), sum(col("raw_value")).as("raw_value"))
        .filter(col("net_events") =!= 0)
    }

  /** Batch twin for `ivm_distinct_delta`: daily distinct users under
    * RETRACTIONS ('error' events retract one unit of that user's
    * presence). Plain distinct-count is not incrementally maintainable
    * under deletes — the classic fix is a per-(day,user) REFCOUNT
    * layer: the view is #keys with refcount > 0, and the refcount
    * table is an abelian-group sum, so deltas merge additively in any
    * chunking/order. State is ≤ |active (day,user) pairs|, the same
    * as the distinct state Spark itself would keep. */
  def ivmDistinctBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
        .as("day"), col("user_id"),
        when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L)).as("op"))
      .groupBy(col("day"), col("user_id")).agg(sum(col("op")).as("rc"))
      .filter(col("rc") > 0)
      .groupBy(col("day")).agg(count(lit(1)).as("n_users"))
  }

  val ivmDistinctSql: String =
    """WITH rc AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                user_id,
                CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT)
                  AS rc
         FROM events GROUP BY 1, 2)
       SELECT day, count(*) AS n_users FROM rc WHERE rc > 0
       GROUP BY day ORDER BY day"""

  /** Batch twin for `ivm_minmax_delta`: daily min/max of the value
    * column under RETRACTIONS ('error' events retract one unit of
    * their value). MIN/MAX are the textbook non-incrementally-
    * maintainable aggregates under deletes — retracting the current
    * extremum forces a rescan if the view keeps only the scalar. The
    * classic fix is the same refcount layer `ivm_distinct_delta`
    * uses, but keyed on the VALUE DOMAIN: maintain rc(day, cents) as
    * an abelian-group sum (deltas merge additively in any chunking /
    * order), and the view reads min/max over cents with rc > 0 —
    * never a rescan of the fact stream. State is |distinct values per
    * day| (the cent grid), not row volume; at 100 TB with a wide
    * domain, the same discipline runs on a coarsened bucket grid with
    * an exact re-read only inside the extremum's bucket. */
  def ivmMinmaxBatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
        .as("day"), floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L)).as("op"))
      .groupBy(col("day"), col("cents")).agg(sum(col("op")).as("rc"))
      .filter(col("rc") > 0)
      .groupBy(col("day")).agg(min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"), count(lit(1)).as("n_support"))
  }

  val ivmMinmaxSql: String =
    """WITH rc AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                CAST(floor(value * 100) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT)
                  AS rc
         FROM events GROUP BY 1, 2)
       SELECT day, min(cents) AS min_cents, max(cents) AS max_cents,
              count(*) AS n_support
       FROM rc WHERE rc > 0 GROUP BY day ORDER BY day"""

  val IvmTopN = 3

  /** Batch twin for `ivm_topn_delta`: per-day top-3 VALUES by live
    * multiplicity under retractions — the leaderboard view. Like
    * min/max, a top-N is not maintainable from the scalar result
    * under deletes (a retraction of a podium member needs the
    * runner-up), and the same value-domain refcount layer fixes it:
    * the view is the top-N of (rc, cents) over rc > 0 — rank by live
    * count, ties to the smaller value — read with the bounded
    * `graft_topk` aggregate, never a corpus sort. The integer rank
    * key rc·2^24 − cents_bucket makes (rc DESC, cents ASC) one
    * total-ordered score for both graft_topk and the oracle's
    * row_number. */
  def ivmTopnBatch: Q = (s, d) => {
    val rc = Tables.events(s, d)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
        .as("day"), floor(col("value")).cast("long").as("bucket"),
        when(col("event_type") === "error", lit(-1L)).otherwise(lit(1L)).as("op"))
      .groupBy(col("day"), col("bucket")).agg(sum(col("op")).as("rc"))
      .filter(col("rc") > 0)
    // the packed key is only total-ordered while 0 <= bucket < 2^24 and
    // rc < 2^29 (exact in a double); assert the domain IN the operator so
    // a wider value domain fails loudly instead of silently mis-ranking
    val packedKey = s"""cast(CASE
      WHEN bucket >= 0 AND bucket < 16777216 AND rc < 536870912
      THEN rc * 16777216 - bucket
      ELSE raise_error(concat('ivm_topn_delta: rank-key domain violated: ',
        'bucket=', cast(bucket as string), ' rc=', cast(rc as string)))
      END as double)"""
    rc.groupBy(col("day"))
      .agg(expr(s"graft_topk($packedKey, bucket, $IvmTopN)")
        .as("top"))
      .select(col("day"), posexplode(col("top")))
      .select(col("day"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("bucket"),
        ((col("col.score") + col("col.id")) / 16777216.0).cast("long").as("rc"))
  }

  val ivmTopnSql: String =
    s"""WITH rc AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                CAST(floor(value) AS BIGINT) AS bucket,
                CAST(sum(CASE WHEN event_type = 'error' THEN -1 ELSE 1 END) AS BIGINT)
                  AS rc
         FROM events GROUP BY 1, 2),
       live AS (SELECT * FROM rc WHERE rc > 0),
       r AS (
         SELECT day, bucket, rc,
                CAST(row_number() OVER (PARTITION BY day
                       ORDER BY rc DESC, bucket) AS INT) AS rank
         FROM live)
       SELECT day, rank, bucket, rc FROM r
       WHERE rank <= $IvmTopN ORDER BY day, rank"""

  /** One micro-batch of value-domain refcount maintenance — the
    * distinct view's merge keyed on cents. */
  def ivmMinmaxBatchInto(snapshotDir: String, batch: DataFrame): Unit =
    refcountInto(snapshotDir, batch, "cents")

  /** Read-back in the batch twin's shape: extrema over rc > 0. */
  def ivmMinmaxSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .filter(col("rc") > 0)
      .groupBy(col("day")).agg(min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"), count(lit(1)).as("n_support"))

  /** One micro-batch of refcount maintenance on (day, user). */
  def ivmDistinctBatchInto(snapshotDir: String, batch: DataFrame): Unit =
    refcountInto(snapshotDir, batch, "user_id")

  /** Refcount maintenance on (day, `key`): batch deltas merge into the
    * stored refcount table by addition; only EXACT-ZERO rows are
    * dropped (a negative refcount is a debt that a late insert must
    * still repay — dropping it would double-count). */
  private def refcountInto(snapshotDir: String, batch: DataFrame, key: String): Unit =
    mergeInto(snapshotDir, batch.groupBy(col("day"), col(key)).agg(sum(col("op")).as("rc"))) {
      _.groupBy(col("day"), col(key)).agg(sum(col("rc")).as("rc")).filter(col("rc") =!= 0)
    }

  /** Read-back in the batch twin's shape: membership is rc > 0. */
  def ivmDistinctSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .filter(col("rc") > 0)
      .groupBy(col("day")).agg(count(lit(1)).as("n_users"))

  /** Read-back of the maintained view in the batch twin's shape. */
  def ivmSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .select(col("user_id"), col("net_events"),
        round(col("raw_value"), 2).as("net_value"))

  /** Static dimension for stream enrichment: user → market segment
    * (events.user_id is 0-based; customer keys are 1-based). */
  def userSegmentDim(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select((col("c_custkey") - 1).as("user_id"),
        col("c_mktsegment").as("segment"))

  /** Batch twin of the stream-static enrichment join: events decorated
    * with the user's segment from a STATIC dimension, rolled up per
    * (segment, event_type). The dim side broadcasts — in streaming
    * exactly as in batch, the join is stateless per row (no watermark,
    * no state store), which is what makes dimension enrichment free at
    * any stream rate. Parity in StreamingSpec. */
  def staticEnrichBatch: Q = (s, d) => {
    staticEnrichStream(Tables.events(s, d), userSegmentDim(s, d))
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
  }

  val staticEnrichSql: String =
    """SELECT c_mktsegment AS segment, event_type,
              count(*) AS n_events, round(sum(value), 2) AS value_sum
       FROM events JOIN customer ON user_id = c_custkey - 1
       GROUP BY 1, 2 ORDER BY segment, event_type"""

  /** Streaming half: the enrichment join itself (stateless row-wise
    * decoration; aggregation stays the batch twin's job). */
  def staticEnrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")

  // ------------------------------------------------------ streaming funnel

  case class FEvent(user_id: Long, event_id: Long, tsSec: Long, event_type: String)
  case class FunnelTriple(fv: Option[Long], fqc: Option[Long], fqp: Option[Long])
  case class FunnelState(t: FunnelTriple, buf: List[FEvent])
  case class Conversion(user_id: Long, converted_sec: Long)

  /** The shared funnel core: fold time-sorted events into the
    * (first_view, first_qual_click, first_qual_purchase) triple with
    * the SAME strict-row-order-past semantics as the `funnel_stages`
    * window formulation — each event qualifies against state from rows
    * strictly before it (check BEFORE folding the row in), ties broken
    * by (tsSec, event_id). Used by the batch entry and the streaming
    * state operator; the batch entry's oracle is the two-window SQL,
    * so the hash match proves fold ≡ window chain. */
  def foldFunnel(t0: FunnelTriple, sorted: Seq[FEvent]): FunnelTriple = {
    var (fv, fqc, fqp) = (t0.fv, t0.fqc, t0.fqp)
    sorted.foreach { e =>
      // each event is exactly one type, so its qualification check reads
      // only state written by STRICTLY EARLIER rows — the window chain's
      // strict-past frame, reproduced by fold order
      if (e.event_type == "purchase" && fqp.isEmpty && fqc.isDefined) fqp = Some(e.tsSec)
      if (e.event_type == "click" && fqc.isEmpty && fv.isDefined) fqc = Some(e.tsSec)
      if (e.event_type == "view" && fv.isEmpty) fv = Some(e.tsSec)
    }
    FunnelTriple(fv, fqc, fqp)
  }

  /** Batch entry `stream_funnel`: the per-user funnel fold run as
    * flatMapGroups — identical output to the `funnel_stages` window
    * formulation (its SQL is this entry's oracle). */
  def funnelBatch: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[FEvent]
      .groupByKey(_.user_id)
      .mapGroups { (uid, it) =>
        val t = foldFunnel(FunnelTriple(None, None, None),
          it.toSeq.sortBy(e => (e.tsSec, e.event_id)))
        (uid,
          if (t.fqp.isDefined) 3 else if (t.fqc.isDefined) 2 else if (t.fv.isDefined) 1 else 0,
          t.fv, t.fqc, t.fqp)
      }
      .toDF("user_id", "stage", "first_view", "first_qual_click", "first_qual_purchase")
  }

  /** Streaming half: real-time conversion detection. State per user is
    * the funnel triple (three optional longs — O(1) forever) plus only
    * the NOT-yet-watermark-final event buffer; each micro-batch folds
    * the final prefix into the triple and emits a Conversion row the
    * moment first_qual_purchase lands. Watermark-driven like the other
    * stateful ops: no processing-time state growth, horizontal scale by
    * user key. */
  def funnelStream(events: Dataset[FEvent]): Dataset[Conversion] = {
    import events.sparkSession.implicits._
    eventTimeFold(events, "1 hour", FunnelState(FunnelTriple(None, None, None), Nil))(_.user_id) {
      (uid, st, rows, wmSec) =>
        val all = (st.buf ++ rows).sortBy(e => (e.tsSec, e.event_id))
        // events with tsSec < wm are final (nothing can still sort before them)
        val (closed, open) = all.partition(_.tsSec < wmSec)
        val after = foldFunnel(st.t, closed)
        (if (st.t.fqp.isEmpty && after.fqp.isDefined) Seq(Conversion(uid, after.fqp.get)) else Nil,
          Some(FunnelState(after, open)), open.lastOption.map(_.tsSec + 1))
    }
  }

  // -------------------------------------------------- streaming attribution

  case class Attribution(user_id: Long, event_id: Long, sec: Long,
      n_touches: Long, credit_per_touch: Option[Double])

  /** Per-user attribution state: events not yet outside every possible
    * lookback window (clicks) or not yet watermark-final (purchases). */
  case class AttrState(buf: List[FEvent])

  /** Streaming multi-touch attribution — the streaming twin of
    * `attribution_linear`: a purchase is attributable the moment the
    * watermark passes it (every click that could precede it has
    * arrived); clicks leave state once the watermark proves no future
    * purchase's 24 h lookback can reach them. State per user is ONE
    * lookback window of clicks plus the open purchases — bounded by
    * event rate × lookback, independent of stream lifetime. Credit
    * arithmetic is the same floored division as the batch RANGE
    * window, so emitted rows equal the batch read exactly (parity in
    * StreamingSpec). */
  def attributionStream(events: Dataset[FEvent]): Dataset[Attribution] = {
    val lookback = graft.operators.Funnel.LookbackSec
    import events.sparkSession.implicits._
    eventTimeFold(events, "1 hour", AttrState(Nil))(_.user_id) { (uid, st, rows, wmSec) =>
      val all = (st.buf ++ rows).sortBy(e => (e.tsSec, e.event_id))
      // purchases strictly before the watermark are final
      val (done, open) = all.partition(e =>
        e.event_type == "purchase" && e.tsSec < wmSec)
      val out = done.map { p =>
        val n = all.count(c => c.event_type == "click" &&
          c.tsSec >= p.tsSec - lookback && c.tsSec <= p.tsSec)
        Attribution(uid, p.event_id, p.tsSec, n,
          if (n > 0) Some(math.floor(1.0 / n * 1e4) / 1e4) else None)
      }
      // clicks stay while any future purchase (sec >= wm) could look back to them
      val keep = open.filter {
        case c if c.event_type == "click" => c.tsSec >= wmSec - lookback
        case e => e.event_type == "purchase" // open purchases
      }
      // wake when the watermark can finalize a purchase or evict a click
      val wake = keep.map {
        case p if p.event_type == "purchase" => p.tsSec + 1
        case c => c.tsSec + lookback + 1
      }.minOption
      (out, Some(AttrState(keep)).filter(_.buf.nonEmpty), wake)
    }
  }

  /** Batch entry `stream_attribution`: the same per-user imperative
    * core the streaming operator runs (count clicks in each purchase's
    * lookback), as flatMapGroups — its oracle is the RANGE-window SQL,
    * so the hash match proves fold ≡ RANGE window cross-engine. */
  def attributionBatch: Q = (s, d) => {
    val lookback = graft.operators.Funnel.LookbackSec
    import s.implicits._
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[FEvent]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val all = it.toSeq
        val clicks = all.filter(_.event_type == "click")
        all.filter(_.event_type == "purchase")
          .sortBy(e => (e.tsSec, e.event_id)).iterator.map { p =>
            val n = clicks.count(c =>
              c.tsSec >= p.tsSec - lookback && c.tsSec <= p.tsSec).toLong
            (uid, p.event_id, p.tsSec, n,
              if (n > 0) Some(math.floor(1.0 / n * 1e4) / 1e4) else None)
          }
      }
      .toDF("user_id", "event_id", "sec", "n_touches", "credit_per_touch")
  }

  // ------------------------------------------------ streaming hysteresis

  case class HourPoint(event_type: String, hour_sec: Long, av: Double)
  case class HourAlert(event_type: String, hour_sec: Long, avg_value: Double,
      firing: Int, transition: Option[String])
  /** Alert-machine carry (firing flag, consecutive-low run) + the
    * samples of watermark-open hours. */
  case class AlertState(f: Int, lr: Int, buf: List[CSample])

  /** The shared hysteresis core: fold hour-ordered levels through the
    * two-threshold + hold-down machine (fire > 100, resolve after 2
    * consecutive hours < 50) — the Scala twin of the SQL fold in
    * `Timeseries.alertHysteresis`, shared by the batch entry and the
    * streaming operator. */
  def foldAlert(f0: Int, lr0: Int, hours: Seq[HourPoint]): (Seq[HourAlert], Int, Int) = {
    var (f, lr) = (f0, lr0)
    val out = hours.map { h =>
      val tr: Option[String] =
        if (f == 0) { if (h.av > 100.0) { f = 1; lr = 0; Some("fire") } else None }
        else {
          lr = if (h.av < 50.0) lr + 1 else 0
          if (lr >= 2) { f = 0; lr = 0; Some("resolve") } else None
        }
      HourAlert(h.event_type, h.hour_sec, h.av, f, tr)
    }
    (out, f, lr)
  }

  private def hourAvg(samples: Seq[CSample]): Double = {
    val sum = java.math.BigDecimal.valueOf(samples.map(_.value).sum)
      .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
    math.floor(sum / samples.length * 1e4) / 1e4
  }

  /** Batch entry `stream_alert_hysteresis`: hourly rollup + the Scala
    * fold per series — its oracle is the recursive-CTE SQL of
    * `metrics_alert_hysteresis`, so the hash match proves Scala fold ≡
    * SQL aggregate fold ≡ recursive CTE, three implementations of one
    * machine. */
  def alertHysteresisBatch: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg((floor(round(sum(col("value")), 2) / count(lit(1)) * 1e4) / 1e4).as("av"))
      .as[HourPoint]
      .groupByKey(_.event_type)
      .flatMapGroups { (_, it) =>
        foldAlert(0, 0, it.toSeq.sortBy(_.hour_sec))._1.iterator
      }
      .toDF()
  }

  /** Streaming half: the alert machine runs incrementally — closed
    * hours (watermark-final) fold through the carried (firing,
    * low-run) state and emit their status rows; state per series is
    * two ints plus only the open hours' samples (the counter-rate
    * contract: the carry outlives the buffer for the series'
    * lifetime). */
  def alertHysteresisStream(samples: Dataset[CSample]): Dataset[HourAlert] = {
    import samples.sparkSession.implicits._
    eventTimeFold(samples, "1 hour", AlertState(0, 0, Nil))(_.event_type) {
      (series, st, rows, wmSec) =>
        val all = (st.buf ++ rows).sortBy(c => (c.tsSec, c.event_id))
        val boundary = wmSec / 3600 * 3600
        val (closed, open) = all.partition(_.tsSec < boundary)
        val hours = closed.groupBy(_.tsSec / 3600 * 3600).toSeq.sortBy(_._1)
          .map { case (h, ss) => HourPoint(series, h, hourAvg(ss)) }
        val (out, f, lr) = foldAlert(st.f, st.lr, hours)
        (out, Some(AlertState(f, lr, open)), open.lastOption.map(_.tsSec / 3600 * 3600 + 3600))
    }
  }

  // ---------------------------------------------- schema evolution

  /** The evolved payload schema: v2 producers added `channel`. */
  val evolvedPayloadSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("channel", StringType)))

  /** Deterministic two-vintage payload: even event_ids are v1 JSON
    * (no `channel` field), odd ones v2. Stands in for what a Kafka
    * topic looks like mid-rollout — both producer versions interleaved
    * in one stream. */
  def payloadCol: Column =
    when(col("event_id") % 2 === 0,
      to_json(struct(col("event_type"), col("value"))))
      .otherwise(to_json(struct(col("event_type"), col("value"),
        concat(lit("ch"), col("user_id") % 3).as("channel"))))

  /** Parse + aggregate under the EVOLVED schema: `from_json` against
    * the superset schema reads both vintages in one pass — fields a v1
    * payload lacks come back NULL (bucketed as '__pre__'), exactly the
    * additive-evolution contract Avro/JSON pipelines rely on. This is
    * the streaming-native answer to schema drift: no reprocessing, no
    * branching on version — ONE parse expression whose nulls encode
    * vintage. Spark-first: from_json + groupBy are codegen'd; the
    * aggregation is integer cents so both vintages sum exactly. */
  private def schemaEvolutionAgg(parsed: DataFrame): DataFrame =
    parsed
      .select(from_json(col("payload"), evolvedPayloadSchema).as("r"))
      .select(col("r.event_type").as("event_type"),
        coalesce(col("r.channel"), lit("__pre__")).as("channel"),
        col("r.value").as("value"))
      .groupBy(col("event_type"), col("channel"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("value_cents"))

  /** Batch entry `stream_schema_evolution`: build the two-vintage
    * payload stream from events, parse under the evolved schema,
    * aggregate. The streaming twin (`schemaEvolutionStream`) runs the
    * same parse+agg over a MemoryStream whose chunks DRIFT (v1-only
    * first, mixed later) — parity asserted in StreamingSpec. */
  def schemaEvolutionBatch: Q = (s, d) => {
    schemaEvolutionAgg(Tables.events(s, d).select(payloadCol.as("payload")))
  }

  /** The oracle computes the same aggregate straight off the typed
    * columns — proving the JSON round-trip (to_json → from_json) is
    * value-exact, not just schema-compatible. */
  val schemaEvolutionSql: String =
    """SELECT event_type,
              CASE WHEN event_id % 2 = 1 THEN 'ch' || CAST(user_id % 3 AS VARCHAR)
                   ELSE '__pre__' END AS channel,
              count(*) AS n_events,
              CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
       FROM events GROUP BY 1, 2 ORDER BY event_type, channel"""

  /** Streaming twin over a payload stream (Complete-mode aggregation,
    * no watermark needed — state is |event_type|×|channel| rows). */
  def schemaEvolutionStream(payloads: DataFrame): DataFrame =
    schemaEvolutionAgg(payloads)

  /** Split point between the materialized base view and the delta
    * batch (2024-01-21, matching `source_incremental_read`). */
  val IvmJoinCutoffSec = 1705795200L

  /** Incremental view maintenance for a JOIN view — the classic delta
    * rule Δ(A⋈B) = ΔA⋈B ∪ A_old⋈ΔB, applied to the purchase↔click
    * interval-join view that `stream_interval_join` materializes.
    * The base view aggregates P_old⋈C_old once; when the delta batch
    * lands, only TWO delta joins run — old purchases × new clicks and
    * new purchases × all clicks (the terms are disjoint and complete,
    * so a count-sum merge needs no retraction logic) — instead of
    * re-joining the full history. The oracle IS the full recompute
    * (`intervalJoinSql`): merged increments must hash-equal it, which
    * is the whole IVM correctness contract. At 100 TB the base terms
    * read from the materialized view store; only Δ-sized inputs join. */
  def ivmJoinDelta: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("sec"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("sec").as("c_sec"))
    val pOld = p.filter(col("sec") < IvmJoinCutoffSec)
    val pNew = p.filter(col("sec") >= IvmJoinCutoffSec)
    val cOld = c.filter(col("c_sec") < IvmJoinCutoffSec)
    val cNew = c.filter(col("c_sec") >= IvmJoinCutoffSec)
    def pairs(pp: DataFrame, cc: DataFrame): DataFrame =
      pp.join(cc, col("user_id") === col("c_user") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c_ts") <= col("p_ts"))
        .groupBy(col("purchase_id"), col("user_id"))
        .agg(count(lit(1)).as("n"))
    pairs(pOld, cOld)               // the materialized base view
      .unionByName(pairs(pOld, cNew)) // ΔC against old purchases
      .unionByName(pairs(pNew, c))    // ΔP against full click history
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(sum(col("n")).as("n_clicks"))
  }

  // --------------------------------------------- token-bucket limiter

  /** Token-bucket quota enforcement per user — the scrape/API rate
    * limiter a continuously-collecting deployment puts in front of
    * every source: capacity 2 tokens, refill 1 token per 2 hours
    * (integer milli-tokens, refill floored per arrival gap so the fold
    * is exact), one token per event. The batch entry is a declarative
    * per-user `aggregate` fold over the time-sorted event list (exact
    * integers end to end — the DuckDB oracle replays the fold as a
    * recursive CTE and hash-matches); the streaming twin runs the SAME
    * transition in `flatMapGroupsWithState` and emits each user's
    * summary on event-time timeout (parity in StreamingSpec). Per-user
    * state is three integers — horizontal scale = shuffle partitions. */
  val RlCapMilli = 2000L
  val RlCostMilli = 1000L

  case class RlState(prevSec: Long, tokens: Long, acc: Long, rej: Long)
  case class RlSummary(user_id: Long, n_events: Long, n_accepted: Long,
      n_rejected: Long, final_tokens: Long)

  /** One token-bucket transition (shared by the streaming fold; the
    * batch entry encodes the same arithmetic in SQL). */
  def rlStep(st: RlState, sec: Long): RlState = {
    val refill = if (st.prevSec < 0) 0L else (sec - st.prevSec) * 1000L / 7200L
    val avail = math.min(RlCapMilli, st.tokens + refill)
    if (avail >= RlCostMilli) RlState(sec, avail - RlCostMilli, st.acc + 1, st.rej)
    else RlState(sec, avail, st.acc, st.rej + 1)
  }

  def rateLimitBatch: Q = (s, d) => {
    val avail = s"least(${RlCapMilli}L, st.tokens + (CASE WHEN st.prev_sec < 0L THEN 0L " +
      s"ELSE ((e.sec - st.prev_sec) * 1000L) div 7200L END))"
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        expr(s"""aggregate(
            array_sort(collect_list(struct(sec, event_id))),
            named_struct('prev_sec', -1L, 'tokens', ${RlCapMilli}L, 'acc', 0L, 'rej', 0L),
            (st, e) -> named_struct(
              'prev_sec', e.sec,
              'tokens', CASE WHEN $avail >= ${RlCostMilli}L THEN $avail - ${RlCostMilli}L ELSE $avail END,
              'acc', st.acc + (CASE WHEN $avail >= ${RlCostMilli}L THEN 1L ELSE 0L END),
              'rej', st.rej + (CASE WHEN $avail < ${RlCostMilli}L THEN 1L ELSE 0L END)))""").as("st"))
      .select(col("user_id"), col("n_events"),
        col("st.acc").as("n_accepted"), col("st.rej").as("n_rejected"),
        col("st.tokens").as("final_tokens"))
  }

  val rateLimitSql: String = {
    // Base case = rlStep applied to the initial state (prev<0 → refill 0,
    // avail = cap): derived from the constants so changing cap/cost can
    // never silently desynchronize the oracle from the fold.
    val baseAccepted = RlCapMilli >= RlCostMilli
    val baseTokens = if (baseAccepted) RlCapMilli - RlCostMilli else RlCapMilli
    val baseAcc = if (baseAccepted) 1 else 0
    val avail = s"least($RlCapMilli, st.tokens + ((e.sec - st.sec) * 1000) // 7200)"
    s"""WITH RECURSIVE ev AS (
         SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i
         FROM events),
       mx AS (SELECT user_id, max(i) AS n FROM ev GROUP BY user_id),
       st AS (
         SELECT user_id, i, sec,
                CAST($baseTokens AS BIGINT) AS tokens,
                CAST($baseAcc AS BIGINT) AS acc, CAST(${1 - baseAcc} AS BIGINT) AS rej
         FROM ev WHERE i = 1
         UNION ALL
         SELECT e.user_id, e.i, e.sec,
                CASE WHEN $avail >= $RlCostMilli
                     THEN $avail - $RlCostMilli
                     ELSE $avail END,
                st.acc + CASE WHEN $avail >= $RlCostMilli THEN 1 ELSE 0 END,
                st.rej + CASE WHEN $avail < $RlCostMilli THEN 1 ELSE 0 END
         FROM st JOIN ev e ON e.user_id = st.user_id AND e.i = st.i + 1)
       SELECT s.user_id, CAST(m.n AS BIGINT) AS n_events, s.acc AS n_accepted,
              s.rej AS n_rejected, s.tokens AS final_tokens
       FROM st s JOIN mx m ON s.user_id = m.user_id AND s.i = m.n
       ORDER BY s.user_id"""
  }

  /** Streaming twin: same transition per user in arrival order (the
    * spec feeds event-time-ordered chunks), running summary emitted
    * per batch in Update mode — the live quota dashboard read. The
    * last summary per user (highest n_events) equals the batch fold. */
  def rateLimitStream(events: Dataset[Event]): Dataset[RlSummary] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RlState, RlSummary](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[RlState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.tsSec, e.event_id))
          val st0 = state.getOption.getOrElse(RlState(-1L, RlCapMilli, 0L, 0L))
          val st = sorted.foldLeft(st0)((a, e) => rlStep(a, e.tsSec))
          state.update(st)
          Iterator.single(RlSummary(uid, st.acc + st.rej, st.acc, st.rej, st.tokens))
      }
  }

  case class ZSample(event_type: String, tsSec: Long)
  /** Running moments of the CLOSED hours (n, Σx, Σx²) + open-hour
    * partial counts. Σx² is a Long here; a production deployment
    * promotes it to a 128-bit accumulator — the state size (3 numbers
    * per series) is the point. */
  case class ZState(n: Long, sx: Long, sxx: Long, buf: List[(Long, Long)])
  case class HourZ(event_type: String, hour_sec: Long, cnt: Long, n_prior: Long,
      z: Double, is_anomaly: Boolean)

  /** Batch twin for `stream_anomaly_zscore`: each hour's event count
    * z-scored against ALL PRIOR closed hours of its series — the
    * expanding-window formulation whose streaming state is exactly
    * three moments per series (n, Σx, Σx²), unlike a trailing window
    * which would buffer k hours. z = (n·x − Σx)/√(n·Σx² − (Σx)²):
    * integer numerator and radicand (DECIMAL(38,0)/HUGEINT), one
    * sqrt + one division, display-floored. The stateful streaming
    * path emits identical rows (StreamingSpec). */
  def anomalyZBatch: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("(unix_timestamp(date_trunc('second', ts)) div 3600) * 3600").as("hour_sec"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_prior", count(col("cnt")).over(w))
      .withColumn("sx", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("sxx", coalesce(sum(col("cnt").cast("decimal(38,0)") * col("cnt")).over(w),
        lit(0).cast("decimal(38,0)")))
      .withColumn("rad", col("n_prior").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx"))
      .withColumn("num", col("n_prior").cast("decimal(38,0)") * col("cnt") - col("sx"))
      .withColumn("z", when(col("n_prior") >= 2 && col("rad") > 0,
        floor(col("num").cast("double") / sqrt(col("rad").cast("double")) * 1e4) / 1e4)
        .otherwise(lit(0.0)))
      .withColumn("is_anomaly",
        col("n_prior") >= 2 && col("rad") > 0 && abs(col("z")) > 3.0)
      .select(col("event_type"), col("hour_sec"), col("cnt"), col("n_prior"),
        col("z"), col("is_anomaly"))
  }

  val anomalyZSql: String =
    """WITH hourly AS (
         SELECT event_type,
                (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hour_sec,
                count(*) AS cnt
         FROM events GROUP BY 1, 2),
       m AS (
         SELECT event_type, hour_sec, cnt,
                CAST(count(cnt) OVER wp AS BIGINT) AS n_prior,
                CAST(COALESCE(sum(cnt) OVER wp, 0) AS BIGINT) AS sx,
                COALESCE(sum(CAST(cnt AS HUGEINT) * cnt) OVER wp, 0) AS sxx
         FROM hourly
         WINDOW wp AS (PARTITION BY event_type ORDER BY hour_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       r AS (
         SELECT event_type, hour_sec, cnt, n_prior,
                CAST(n_prior AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS rad,
                CAST(n_prior AS HUGEINT) * cnt - sx AS num
         FROM m),
       zz AS (
         SELECT event_type, hour_sec, cnt, n_prior, rad,
                CASE WHEN n_prior >= 2 AND rad > 0
                     THEN floor(CAST(num AS DOUBLE) / sqrt(CAST(rad AS DOUBLE)) * 1e4) / 1e4
                     ELSE 0.0 END AS z
         FROM r)
       SELECT event_type, hour_sec, cnt, n_prior, z,
              (n_prior >= 2 AND rad > 0 AND abs(z) > 3.0) AS is_anomaly
       FROM zz ORDER BY event_type, hour_sec"""

  /** Streaming stateful z-score anomaly detector: per-series state is
    * the three running moments of closed hours plus only the open-hour
    * partial counts — O(1) per series regardless of history length.
    * An hour is scored and folded into the moments the moment the
    * event-time watermark closes it; the emitted rows equal the batch
    * twin's (StreamingSpec asserts chunk-by-chunk). */
  def anomalyZStream(samples: Dataset[ZSample]): Dataset[HourZ] = {
    import samples.sparkSession.implicits._
    eventTimeFold(samples, "1 hour", ZState(0L, 0L, 0L, Nil))(_.event_type) {
      (k, st, rows, wmSec) =>
        val merged = scala.collection.mutable.Map.empty[Long, Long]
        st.buf.foreach { case (h, c) => merged(h) = merged.getOrElse(h, 0L) + c }
        rows.foreach { e =>
          val h = e.tsSec / 3600 * 3600
          merged(h) = merged.getOrElse(h, 0L) + 1L
        }
        val boundary = wmSec / 3600 * 3600
        val (closed, open) = merged.toList.sortBy(_._1).partition(_._1 < boundary)
        var n = st.n; var sx = st.sx; var sxx = st.sxx
        val out = closed.map { case (h, c) =>
          val rad = n * sxx - sx * sx
          val num = n * c - sx
          val z = if (n >= 2 && rad > 0)
            math.floor(num.toDouble / math.sqrt(rad.toDouble) * 1e4) / 1e4 else 0.0
          val row = HourZ(k, h, c, n, z, n >= 2 && rad > 0 && math.abs(z) > 3.0)
          n += 1; sx += c; sxx += c * c
          row
        }
        (out, Some(ZState(n, sx, sxx, open)), open.lastOption.map(_._1 + 3600))
    }
  }

  case class SEv(user_id: Long, tsSec: Long, event_id: Long, event_type: String)
  /** Open SCD2 version + samples the watermark hasn't finalized. */
  case class Scd2State(curType: String, curFrom: Long, version: Int, buf: List[SEv])
  case class Scd2Closed(user_id: Long, attr_value: String, version: Int,
      valid_from: String, valid_to: String)

  private def fmtSec(sec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(sec))

  /** Batch twin for `stream_scd2`: the CLOSED SCD2 versions (valid_to
    * known) under second-truncated event-time order — the portion of
    * the dimension an append-mode stream can have emitted; the open
    * current version lives in state, not in the sink. Second
    * truncation on BOTH twins keeps the change-detection order
    * identical to the stateful fold's (sub-second precision differs
    * across readers). */
  def scd2ClosedBatch: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("version", row_number().over(w))
      .withColumn("next_sec", lead(col("sec"), 1).over(w))
      .filter(col("next_sec").isNotNull)
      .select(col("user_id"), col("event_type").as("attr_value"), col("version"),
        date_format(timestamp_seconds(col("sec")), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(timestamp_seconds(col("next_sec")), "yyyy-MM-dd HH:mm:ss").as("valid_to"))
  }

  val scd2ClosedSql: String =
    """WITH o AS (
         SELECT user_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY date_trunc('second', ts), event_id) AS prev_type
         FROM events),
       c AS (SELECT user_id, sec, event_id, event_type
             FROM o WHERE prev_type IS NULL OR prev_type <> event_type),
       v AS (
         SELECT user_id, event_type AS attr_value,
                CAST(row_number() OVER w AS INT) AS version,
                sec, lead(sec) OVER w AS next_sec
         FROM c WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id))
       SELECT user_id, attr_value, version,
              strftime(make_timestamp(sec * 1000000), '%Y-%m-%d %H:%M:%S') AS valid_from,
              strftime(make_timestamp(next_sec * 1000000), '%Y-%m-%d %H:%M:%S') AS valid_to
       FROM v WHERE next_sec IS NOT NULL ORDER BY user_id, version"""

  /** Streaming SCD2 dimension maintenance: per-entity state is the
    * ONE open version plus only the samples the event-time watermark
    * hasn't finalized. A version row is emitted the moment the change
    * that closes it finalizes — the sink accumulates exactly the
    * closed dimension history (the batch twin), and the open version
    * never needs retraction, which is what makes SCD2 maintainable in
    * append mode. */
  def scd2Stream(events: Dataset[SEv]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    eventTimeFold(events, "1 hour", Scd2State(null, 0L, 0, Nil))(_.user_id) {
      (uid, st, rows, wmSec) =>
        val all = (st.buf ++ rows).sortBy(e => (e.tsSec, e.event_id))
        val (closed, open) = all.partition(_.tsSec < wmSec)
        var cur = st.curType; var curFrom = st.curFrom; var ver = st.version
        val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
        closed.foreach { e =>
          if (cur == null) { cur = e.event_type; curFrom = e.tsSec; ver = 1 }
          else if (e.event_type != cur) {
            out += Scd2Closed(uid, cur, ver, fmtSec(curFrom), fmtSec(e.tsSec))
            cur = e.event_type; curFrom = e.tsSec; ver += 1
          }
        }
        (out.toSeq, Some(Scd2State(cur, curFrom, ver, open)), open.lastOption.map(_.tsSec + 1))
    }
  }

  /** Batch twin for `stream_sample_quantile`: daily p50/p90 from the
    * bottom-K-by-hash uniform sample (the mergeable quantile sketch
    * `sketch_sample_quantile` uses). Bottom-k-by-hash is a
    * SEMILATTICE — merge(sample(A), sample(B)) = sample(A ∪ B) — so
    * the foreachBatch maintenance below converges to this exact
    * result under ANY chunking, with ≤ K rows of state per day. */
  def sampleQuantileDailyBatch: Q = (s, d) => {
    val k = graft.operators.Sketch.SampleK
    Tables.events(s, d)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
        .as("day"),
        expr(graft.operators.Sketch.hash60("e", "event_id")).as("h"), col("value"))
      .groupBy(col("day"))
      .agg(expr(s"graft_sample(h, value, $k)").as("sk"))
      .select(col("day"),
        expr(graft.operators.Sketch.qFromSample("sk", "0.5e0")).as("p50"),
        expr(graft.operators.Sketch.qFromSample("sk", "0.9e0")).as("p90"))
  }

  val sampleQuantileDailySql: String = {
    val k = graft.operators.Sketch.SampleK
    s"""WITH h AS (
          SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                 ('0x' || substr(md5('e' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
                 value
          FROM events),
        r AS (SELECT day, h, value,
                     row_number() OVER (PARTITION BY day ORDER BY h) AS rn
              FROM h),
        smp AS (SELECT day, value FROM r WHERE rn <= $k),
        q AS (SELECT day, value,
                     row_number() OVER (PARTITION BY day ORDER BY value) AS vr,
                     count(*) OVER (PARTITION BY day) AS n
              FROM smp)
        SELECT day,
               max(CASE WHEN vr = CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1
                        THEN value END) AS p50,
               max(CASE WHEN vr = CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1
                        THEN value END) AS p90
        FROM q GROUP BY day ORDER BY day"""
  }

  /** One micro-batch of sample maintenance: the stored per-day sample
    * unions with the batch's and re-truncates to bottom-K by hash —
    * the semilattice merge, so chunk order cannot matter. */
  def sampleQuantileBatchInto(snapshotDir: String, batch: DataFrame): Unit = {
    val k = graft.operators.Sketch.SampleK
    def sample(rows: DataFrame) =
      rows.groupBy(col("day")).agg(expr(s"graft_sample(h, value, $k)").as("sk"))
    mergeInto(snapshotDir, sample(batch))(u => sample(u
      .select(col("day"), explode(col("sk")).as("p"))
      .select(col("day"), col("p.h").as("h"), col("p.v").as("value"))))
  }

  /** Read-back in the batch twin's shape. */
  def sampleQuantileSnapshotRead(spark: SparkSession, snapshotDir: String): DataFrame =
    currentSnapshot(spark, snapshotDir).get
      .select(col("day"),
        expr(graft.operators.Sketch.qFromSample("sk", "0.5e0")).as("p50"),
        expr(graft.operators.Sketch.qFromSample("sk", "0.9e0")).as("p90"))

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("stream_sample_quantile", sampleQuantileDailyBatch, Some(sampleQuantileDailySql)),
    ("stream_scd2", scd2ClosedBatch, Some(scd2ClosedSql)),
    ("stream_anomaly_zscore", anomalyZBatch, Some(anomalyZSql)),
    ("stream_rate_limit", rateLimitBatch, Some(rateLimitSql)),
    ("ivm_join_delta", ivmJoinDelta, Some(intervalJoinSql)),
    ("stream_schema_evolution", schemaEvolutionBatch, Some(schemaEvolutionSql)),
    ("stream_alert_hysteresis", alertHysteresisBatch,
      Some(graft.operators.Timeseries.alertHysteresisSql)),
    ("stream_attribution", attributionBatch, Some(graft.operators.Funnel.attributionLinearSql)),
    ("stream_funnel", funnelBatch, Some(graft.operators.Funnel.funnelStagesSql)),
    ("stream_static_enrich", staticEnrichBatch, Some(staticEnrichSql)),
    ("stream_upsert_snapshot", upsertSnapshotBatch, Some(upsertSnapshotSql)),
    ("stream_sketch_distinct", sketchDistinctBatch, Some(sketchDistinctSql)),
    ("stream_heavy_hitters", heavyHittersBatch, Some(heavyHittersSql)),
    ("ivm_agg_delta", ivmAggBatch, Some(ivmAggSql)),
    ("ivm_distinct_delta", ivmDistinctBatch, Some(ivmDistinctSql)),
    ("ivm_minmax_delta", ivmMinmaxBatch, Some(ivmMinmaxSql)),
    ("ivm_topn_delta", ivmTopnBatch, Some(ivmTopnSql)),
    ("stream_counter_rate", counterRateHourlyBatch, Some(counterRateHourlySql)),
    ("stream_query_range", queryRangeBatch, Some(queryRangeStreamSql)),
    ("stream_native_histogram", nativeHistogramBatch, Some(nativeHistogramStreamSql)),
    ("stream_burn_rate", burnRateBatch, Some(burnRateStreamSql)),
    ("stream_ha_dedup", haDedupBatch, Some(haDedupStreamSql)),
    ("stream_events_window", eventsWindowBatch, Some(eventsWindowSql)),
    ("stream_sessionize_state", sessionizeBatch, Some(AsOfSessionizeOracle.sql)),
    ("stream_dedup_exact", eventsDedupBatch, Some(eventsDedupSql)),
    ("stream_interval_join", intervalJoinBatch, Some(intervalJoinSql)),
    ("stream_outer_interval_join", outerIntervalJoinBatch, Some(outerIntervalJoinSql)),
    ("stream_metrics_scrape", metricsScrapeBatch, Some(metricsScrapeSql)))

  /** The stateful batch entry reuses the window-based sessionize oracle
    * — both must produce identical sessions. */
  private object AsOfSessionizeOracle {
    val sql: String = graft.operators.AsOf.sessionizeSql
  }
}
