package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class Ev(ts: java.sql.Timestamp, event_type: String, value: Double)
case class DEv(event_id: Long, ts: java.sql.Timestamp, event_type: String)
case class PEv(purchase_id: Long, p_user: Long, p_ts: java.sql.Timestamp)
case class CEv(c_user: Long, c_ts: java.sql.Timestamp)

/** Structured Streaming parity: the streaming operators must emit
  * exactly the rows their batch twins compute over the same events. */
class StreamingSpec extends SparkTestBase {

  private def events = graft.sources.Tables.events(spark, sf)

  /** Three chunks in `order`, fed last-first: a mergeable store must
    * converge to the batch twin however the stream was cut. */
  private def reversedThirds[A, B: Ordering](rows: Array[A])(order: A => B): Seq[Seq[A]] = {
    val sorted = rows.sortBy(order)
    sorted.grouped(math.max(1, sorted.length / 3 + 1)).map(_.toSeq).toSeq.reverse
  }

  /** Interval-join sides: purchases and clicks at second precision. */
  private def joinSides(): (Array[PEv], Array[CEv]) = {
    import spark.implicits._
    val e = events.withColumn("ts", date_trunc("second", col("ts")))
    (e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts")).as[PEv].collect(),
      e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts")).as[CEv].collect())
  }

  /** The `ivm_agg_delta` signed feed (user_id, op, value, event_id). */
  private def ivmRows(): Array[(Long, Long, Double, Long)] = {
    import spark.implicits._
    events.select(col("user_id"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("value"), col("event_id"))
      .as[(Long, Long, Double, Long)].collect()
  }

  private def ivmView(rows: Seq[Row]): Map[Long, (Long, Double)] =
    rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("watermarked windowed agg emits batch-identical rows in append mode") {
    import spark.implicits._
    val batchRows = events.select(col("ts"), col("event_type"), col("value")).as[Ev].collect()

    val input = MemoryStream[Ev]
    val maxTs = batchRows.map(_.ts.getTime).max
    val sink = stream(EventsStream.eventsWindowStream(input.toDF()))(
      _ => input.addData(batchRows.toSeq),
      // a late lone event pushes the watermark past every real window →
      // append mode finalizes and emits them all
      _ => input.addData(Ev(new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), "__wm__", 0.0)))

    def key(r: Row) = (r.getTimestamp(0), r.getString(1))
    val got = sink.filter(_.getString(1) != "__wm__")
      .map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = EventsStream.eventsWindowBatch(spark, sf)
      .collect().map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == want.keySet,
      s"windows differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
    want.foreach { case (k, (n, s)) =>
      val (gn, gs) = got(k)
      assert(gn == n && math.abs(gs - s) < 1e-6, s"mismatch at $k: ($gn,$gs) vs ($n,$s)")
    }
  }

  test("dropDuplicatesWithinWatermark dedup matches batch distinct counts") {
    import spark.implicits._
    val rows = events.select(col("event_id"), col("ts"), col("event_type")).as[DEv].collect()

    val input = MemoryStream[DEv]
    val maxTs = rows.map(_.ts.getTime).max
    val sink = stream(EventsStream.dedupWindowStream(input.toDF()))(
      // every event fed TWICE in the same batch → dedup must collapse them
      _ => input.addData(rows.toSeq ++ rows.toSeq),
      _ => input.addData(DEv(-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), "__wm__")))

    val got = sink.filter(_.getString(1) != "__wm__")
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = EventsStream.eventsDedupBatch(spark, sf)
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assertParity(got, want)
  }

  test("stream-stream interval join emits the batch join's pairs") {
    import spark.implicits._
    val (purchases, clicks) = joinSides()
    val pIn = MemoryStream[PEv]
    val cIn = MemoryStream[CEv]
    val sink = stream(EventsStream.intervalJoinStream(pIn.toDF(), cIn.toDF()))(
      _ => { pIn.addData(purchases.toSeq); cIn.addData(clicks.toSeq) })

    val got = sink.groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, pairs) => k -> pairs.length.toLong }
    val want = EventsStream.intervalJoinBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assertParity(got, want)
  }

  test("streaming scrape windows finalize into batch-identical long metric rows") {
    import spark.implicits._
    val batchRows = events.select(col("ts"), col("event_type"), col("value")).as[Ev].collect()

    val input = MemoryStream[Ev]
    val maxTs = batchRows.map(_.ts.getTime).max
    val sink = stream(EventsStream.metricsScrapeStream(input.toDF()))(
      _ => input.addData(batchRows.toSeq),
      _ => input.addData(Ev(new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), "__wm__", 0.0)))

    def key(r: Row) = (r.getTimestamp(0), r.getString(1), r.getString(2))
    val got = sink.filter(_.getString(1) != "__wm__").map(r => key(r) -> r.getDouble(3)).toMap
    val want = EventsStream.metricsScrapeBatch(spark, sf)
      .collect().map(r => key(r) -> r.getDouble(3)).toMap
    assert(got.keySet == want.keySet,
      s"series differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-6, s"mismatch at $k: ${got(k)} vs $v")
    }
  }

  test("stateful streaming counter-rate emits the batch hourly increases") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.CSample].collect()

    val input = MemoryStream[EventsStream.CSample]
    // two chronological chunks so mid-stream watermark finalization
    // (not just the end-of-stream timeout) is exercised
    val (early, late) = samples.sortBy(_.tsSec).splitAt(samples.length / 2)
    val maxSec = samples.map(_.tsSec).max
    val sink = stream(EventsStream.counterRateStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      _ => input.addData(late.toSeq),
      _ => input.addData(EventsStream.CSample("__wm__", -1L, maxSec + 36000L, 0.0)))

    val gotRows = sink.filter(_.getString(0) != "__wm__")
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
    val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty,
      s"hours emitted more than once: ${dupes.take(3).map { case (k, v) => k -> v.map(_._2).toSeq }}")
    val got = gotRows.toMap
    val want = EventsStream.counterRateHourlyBatch(spark, sf)
      .select(col("event_type"), unix_timestamp(col("window_start")), col("increase"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet,
      s"hours differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-6, s"mismatch at $k: ${got(k)} vs $v")
    }
  }

  test("streaming query_range emits the batch grid once, and drops watermark-late samples") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventsStream.QrSample].collect()

    val input = MemoryStream[EventsStream.QrSample]
    val sorted = samples.sortBy(s => (s.tsSec, s.event_id))
    val (early, late) = sorted.splitAt(sorted.length / 2)
    val maxSec = sorted.last.tsSec
    val sink = stream(EventsStream.queryRangeStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      // a sample far older than the watermark at this point must be
      // dropped, not double-emit an already-closed step
      _ => input.addData(EventsStream.QrSample("probe_late", 999999L, sorted.head.tsSec, 123.45)),
      _ => input.addData(late.toSeq),
      // hour-ALIGNED sentinel: it must survive the lookback filter
      // (which runs before the watermark node) to advance the clock
      _ => input.addData(EventsStream.QrSample("__wm__", -1L, (maxSec / 3600L + 12L) * 3600L, 0.0)))

    val gotRows = sink.filter(r => !Set("__wm__", "probe_late")(r.getString(0)))
      .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> (r.getLong(2), r.getDouble(3)))
    val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"steps emitted twice: ${dupes.keys.take(3)}")
    assert(!sink.exists(_.getString(0) == "probe_late"),
      "a watermark-late sample must be dropped, not emitted")
    val want = EventsStream.queryRangeBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assertParity(gotRows.toMap, want)
  }

  test("stream-static enrichment joins every event to its static dimension row") {
    import spark.implicits._
    val rows = events.select(col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()

    val input = MemoryStream[(Long, String, Double)]
    val dim = EventsStream.userSegmentDim(spark, sf)
    val sink = stream(EventsStream.staticEnrichStream(
        input.toDF().toDF("user_id", "event_type", "value"), dim))(
      _ => input.addData(rows.toSeq))
    // the batch twin's rollup (count, round(sum(value), 2)) per (segment, event_type)
    val got = sink.groupBy(r => (r.getAs[String]("segment"), r.getAs[String]("event_type")))
      .map { case (k, rs) =>
        k -> (rs.length.toLong, BigDecimal(rs.map(_.getAs[Double]("value")).sum)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val want = EventsStream.staticEnrichBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assertParity(got, want)
  }

  test("foreachBatch incremental upsert converges to the batch snapshot") {
    import spark.implicits._
    val rows = events
      .select(col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"),
        col("event_id"), col("value"))
      .as[(Long, String, Long, Long, Double)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val input = MemoryStream[(Long, String, Long, Long, Double)]
    // out-of-order chunks: the merge must be order-insensitive
    val (h1, h2) = rows.sortBy(_._4).splitAt(rows.length / 2)
    stream(input.toDF().toDF("user_id", "event_type", "tsSec", "event_id", "value"),
      into = Some(EventsStream.upsertBatchInto(snapDir, _)))(
      feed(input, Seq(h2.toSeq, h1.toSeq)): _*)
    val got = EventsStream.upsertSnapshotRead(spark, snapDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = EventsStream.upsertSnapshotBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assertParity(got, want)
  }

  test("incremental sketch rollup equals the batch sketch exactly, any chunking") {
    import spark.implicits._
    val rows = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr(operators.Sketch.hash60("u", "user_id")).as("h"),
        col("event_id"))
      .as[(String, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    val input = MemoryStream[(String, Long, Long)]
    // three out-of-order chunks: exact mergeability must make the
    // final snapshot independent of batch boundaries
    stream(input.toDF().toDF("day", "h", "event_id"),
      into = Some(EventsStream.sketchBatchInto(snapDir, _)))(
      feed(input, reversedThirds(rows)(_._3)): _*)
    val got = EventsStream.sketchSnapshotRead(spark, snapDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = EventsStream.sketchDistinctBatch(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assertParity(got, want)
  }

  test("incremental heavy hitters equal the batch twin; MG state stays bounded and contains them") {
    import spark.implicits._
    val rows = events
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("event_id"))
      .as[(String, Long, Long)].collect()

    val countsDir = java.nio.file.Files.createTempDirectory("graft_hh_counts").toString
    val mgDir = java.nio.file.Files.createTempDirectory("graft_hh_mg").toString
    val input = MemoryStream[(String, Long, Long)]
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    stream(input.toDF().toDF("day", "user_id", "event_id"),
      into = Some(EventsStream.heavyHittersBatchInto(countsDir, mgDir, _)))(
      feed(input, reversedThirds(rows)(_._3)): _*)
    // each micro-batch frees what it persisted once both stores are published
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- persistedBefore
    assert(leaked.isEmpty, s"RDDs persisted during the run are still held: $leaked")
    val got = EventsStream.heavyHittersSnapshotRead(spark, countsDir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = EventsStream.heavyHittersBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assertParity(got, want)
    // PODS'12 merge guarantees: ≤ k−1 counters per day, and every
    // true heavy hitter survives every merge (containment)
    val mg = EventsStream.heavyHittersMgRead(spark, mgDir)
    val perDay = mg.groupBy("day").count().collect().map(_.getLong(1))
    assert(perDay.forall(_ <= EventsStream.StreamHhK - 1),
      s"MG state must stay bounded: ${perDay.max}")
    val candidates = mg.select(col("day"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val missing = want.keySet diff candidates
    assert(missing.isEmpty, s"containment violated for $missing")
  }

  test("delta-view maintenance with retractions equals the batch view, any chunking") {
    import spark.implicits._
    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    val input = MemoryStream[(Long, Long, Double, Long)]
    stream(input.toDF().toDF("user_id", "op", "value", "event_id"),
      into = Some(EventsStream.ivmBatchInto(snapDir, _)))(
      feed(input, reversedThirds(ivmRows())(_._4)): _*)
    assertParity(ivmView(EventsStream.ivmSnapshotRead(spark, snapDir).collect()),
      ivmView(EventsStream.ivmAggBatch(spark, sf).collect()))
  }

  test("delta view survives a crash between the snapshot swap's two renames") {
    import spark.implicits._
    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivm_crash").toString
    val input = MemoryStream[(Long, Long, Double, Long)]
    val Seq(c1, c2, c3) = reversedThirds(ivmRows())(_._4)
    stream(input.toDF().toDF("user_id", "op", "value", "event_id"),
      into = Some(EventsStream.ivmBatchInto(snapDir, _)))(
      _ => input.addData(c1),
      _ => input.addData(c2),
      _ => {
        // the crash window: `current` already retired, the merge not yet
        // published — the replayed batch must merge into the retired store
        java.nio.file.Files.move(java.nio.file.Paths.get(snapDir, "current"),
          java.nio.file.Paths.get(snapDir, "retired"))
        input.addData(c3)
      })
    assertParity(ivmView(EventsStream.ivmSnapshotRead(spark, snapDir).collect()),
      ivmView(EventsStream.ivmAggBatch(spark, sf).collect()))
  }

  test("flatMapGroupsWithState sessionization matches the batch fold") {
    import spark.implicits._
    val evs = events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.Event].collect()

    val input = MemoryStream[EventsStream.Event]
    val maxSec = evs.map(_.tsSec).max
    val sink = stream(EventsStream.sessionizeStream(input.toDS()))(
      _ => input.addData(evs.toSeq),
      // a sentinel far in the future advances the watermark past every
      // open session's (end + gap) → event-time timeouts emit them all
      _ => input.addData(EventsStream.Event(-1L, 0L, maxSec + 36000L, 0.0)))

    val got = sink.filter(_.getLong(0) != -1L).map(_.toSeq).toSet
    val want = EventsStream.sessionizeBatch(spark, sf).collect().map(_.toSeq).toSet
    assertParity(got, want)
  }

  test("token-bucket rate limiter: final streaming summaries equal the batch fold") {
    import spark.implicits._
    // chronological chunks (shuffled within each) so the concatenated
    // per-batch folds equal the global time-ordered fold
    val evs = events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.Event].collect().sortBy(e => (e.tsSec, e.event_id))
    val rnd = new scala.util.Random(7)
    val chunks = evs.grouped(math.max(1, evs.length / 3)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val input = MemoryStream[EventsStream.Event]
    val sink = stream(EventsStream.rateLimitStream(input.toDS()), OutputMode.Update)(
      feed(input, chunks): _*)
    // last running summary per user = the one with the full event count
    val got = sink.groupBy(_.getLong(0)).map { case (u, rows) =>
      u -> rows.maxBy(_.getLong(1)).toSeq.drop(1)
    }
    val want = EventsStream.rateLimitBatch(spark, sf).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (u, w) =>
      assert(got(u) == w, s"user $u: streaming ${got(u)} != batch $w")
    }
    // the limiter must actually reject something for the test to mean anything
    assert(want.values.map(_(2).asInstanceOf[Long]).sum > 0, "no rejections at all")
  }

  test("streaming funnel emits each batch conversion exactly once, out-of-order chunks") {
    import spark.implicits._
    val evs = events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[EventsStream.FEvent].collect()

    val input = MemoryStream[EventsStream.FEvent]
    // three chronological chunks, each internally shuffled, so both
    // mid-stream watermark folds and out-of-order arrival are exercised
    val rnd = new scala.util.Random(7)
    val chunks = evs.sortBy(_.tsSec).grouped(evs.length / 3 + 1).map(c => rnd.shuffle(c.toSeq)).toSeq
    val maxSec = evs.map(_.tsSec).max
    val sink = stream(EventsStream.funnelStream(input.toDS()))(feed(input,
      chunks :+ Seq(EventsStream.FEvent(-1L, 0L, maxSec + 36000L, "view"))): _*)

    val rows = sink.filter(_.getLong(0) != -1L).map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length,
      "a user must convert at most once")
    val got = rows.toMap
    val want = EventsStream.funnelBatch(spark, sf)
      .filter(col("stage") === 3)
      .select(col("user_id"), col("first_qual_purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want,
      s"conversions differ: missing=${(want.keySet diff got.keySet).take(3)} " +
        s"extra=${(got.keySet diff want.keySet).take(3)}")
  }

  test("streaming attribution equals the batch RANGE-window read, out-of-order chunks") {
    import spark.implicits._
    val evs = events
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[EventsStream.FEvent].collect()

    val input = MemoryStream[EventsStream.FEvent]
    val rnd = new scala.util.Random(11)
    val chunks = evs.sortBy(_.tsSec).grouped(evs.length / 3 + 1).map(c => rnd.shuffle(c.toSeq)).toSeq
    val maxSec = evs.map(_.tsSec).max
    val sink = stream(EventsStream.attributionStream(input.toDS()))(feed(input,
      chunks :+ Seq(EventsStream.FEvent(-1L, 0L, maxSec + 200000L, "view"))): _*)

    val got = sink.filter(_.getLong(0) != -1L).map(_.toSeq).toSet
    val want = graft.operators.Funnel.attributionLinear(spark, sf).collect().map(_.toSeq).toSet
    assertParity(got, want)
  }

  test("streaming hysteresis carries the alert machine across watermark folds") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.CSample].collect()

    val input = MemoryStream[EventsStream.CSample]
    val chunks = samples.sortBy(_.tsSec).grouped(samples.length / 3 + 1).map(_.toSeq).toSeq
    val maxSec = samples.map(_.tsSec).max
    val sink = stream(EventsStream.alertHysteresisStream(input.toDS()))(feed(input,
      chunks :+ Seq(EventsStream.CSample("__wm__", -1L, maxSec + 36000L, 0.0))): _*)

    // (event_type, hour_sec, firing, transition)
    val got = sink.filter(_.getString(0) != "__wm__")
      .map(r => Seq(r(0), r(1), r(3), r(4))).toSet
    val want = EventsStream.alertHysteresisBatch(spark, sf)
      .select("event_type", "hour_sec", "firing", "transition")
      .collect().map(_.toSeq).toSet
    assertParity(got, want)
  }

  test("schema evolution: drifted payload chunks aggregate to the batch result") {
    import spark.implicits._
    // payloads exactly as the batch entry builds them, but fed with the
    // vintage DRIFT a rollout produces: the v1-only chunk first, then
    // the mixed chunks — the superset-schema parse must not care
    val payloads = events
      .select(col("event_id"), EventsStream.payloadCol.as("payload"))
      .as[(Long, String)].collect()
    val (v1, v2) = payloads.partition(_._1 % 2 == 0)

    val input = MemoryStream[(Long, String)]
    val half = v2.length / 2
    val sink = stream(EventsStream.schemaEvolutionStream(
        input.toDF().toDF("event_id", "payload")), OutputMode.Complete)(
      _ => input.addData(v1.toSeq), // pre-rollout traffic
      q => {
        assert(spark.table(q.name).collect().forall(_.getString(1) == "__pre__"),
          "v1-only stream must see no channel values")
        input.addData(v2.take(half).toSeq) // rollout begins
        input.addData(v2.drop(half).toSeq)
      })
    val got = sink.map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val want = EventsStream.schemaEvolutionBatch(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assertParity(got, want)
  }

  test("left-outer interval join emits unmatched purchases once the watermark passes") {
    import spark.implicits._
    val (purchases, clicks) = joinSides()
    val pIn = MemoryStream[PEv]
    val cIn = MemoryStream[CEv]
    // push BOTH watermarks far past the data so unmatched purchases
    // are proven matchless and emitted with null click columns
    val maxTs = (purchases.map(_.p_ts.getTime) ++ clicks.map(_.c_ts.getTime)).max
    val far = new java.sql.Timestamp(maxTs + 10L * 3600 * 1000)
    val sink = stream(EventsStream.outerIntervalJoinStream(pIn.toDF(), cIn.toDF()))(
      _ => { pIn.addData(purchases.toSeq); cIn.addData(clicks.toSeq) },
      _ => { pIn.addData(PEv(-1L, -1L, far)); cIn.addData(CEv(-1L, far)) })

    // (purchase_id, p_user) -> count(c_ts)
    val got = sink.filter(_.getLong(0) != -1L).groupBy(r => (r.getLong(0), r.getLong(1)))
      .map { case (k, rs) => k -> rs.count(!_.isNullAt(4)).toLong }
    val want = EventsStream.outerIntervalJoinBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assertParity(got, want)
    // the outer rows are the point: some purchase must have zero clicks
    assert(want.values.exists(_ == 0L), "fixture should contain clickless purchases")
  }

  test("IVM join delta: base + two delta terms merge to the full recompute") {
    val got = EventsStream.ivmJoinDelta(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = EventsStream.intervalJoinBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == want, s"ivm=${got.size} full=${want.size} " +
      s"diff=${(want.toSet diff got.toSet).take(3)}")
  }

  test("refcount distinct-view maintenance equals the batch view, any chunking") {
    import spark.implicits._
    val rows = events
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        col("user_id"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmd").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    // REVERSED chunks: retractions can arrive before their inserts,
    // driving refcounts negative mid-stream — the debt must persist
    stream(input.toDF().toDF("day", "user_id", "op", "event_id"),
      into = Some(EventsStream.ivmDistinctBatchInto(snapDir, _)))(
      feed(input, reversedThirds(rows)(_._4)): _*)
    val got = EventsStream.ivmDistinctSnapshotRead(spark, snapDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = EventsStream.ivmDistinctBatch(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assertParity(got, want)
  }

  test("refcount min/max-view maintenance equals the batch view, any chunking") {
    import spark.implicits._
    val rows = events
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmm").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    // reversed chunks again: a retraction of the running max may land
    // before its insert — the refcount debt must keep the view exact
    stream(input.toDF().toDF("day", "cents", "op", "event_id"),
      into = Some(EventsStream.ivmMinmaxBatchInto(snapDir, _)))(
      feed(input, reversedThirds(rows)(_._4)): _*)
    val got = EventsStream.ivmMinmaxSnapshotRead(spark, snapDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val want = EventsStream.ivmMinmaxBatch(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assertParity(got, want)
  }

  test("incremental sample-quantile sketch equals the batch twin, any chunking") {
    import spark.implicits._
    val rows = events
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        expr(graft.operators.Sketch.hash60("e", "event_id")).as("h"),
        col("value"), col("event_id"))
      .as[(Long, Long, Double, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_sq").toString
    val input = MemoryStream[(Long, Long, Double, Long)]
    // reversed chunks: the semilattice merge must converge anyway
    stream(input.toDF().toDF("day", "h", "value", "event_id"),
      into = Some(EventsStream.sampleQuantileBatchInto(snapDir, _)))(
      feed(input, reversedThirds(rows)(_._4)): _*)
    val got = EventsStream.sampleQuantileSnapshotRead(spark, snapDir)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = EventsStream.sampleQuantileDailyBatch(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assertParity(got, want)
  }

  test("streaming SCD2 emits exactly the batch closed-version history") {
    import spark.implicits._
    val samples = events
      .select(col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"),
        col("event_id"), col("event_type"))
      .as[EventsStream.SEv].collect()

    val input = MemoryStream[EventsStream.SEv]
    val (early, late) = samples.sortBy(s => (s.tsSec, s.event_id))
      .splitAt(samples.length / 2)
    val maxSec = samples.map(_.tsSec).max
    val sink = stream(EventsStream.scd2Stream(input.toDS()))(
      _ => input.addData(early.toSeq),
      _ => input.addData(late.toSeq),
      _ => input.addData(EventsStream.SEv(-1L, maxSec + 36000L, -1L, "__wm__")))

    def version(r: Row) =
      (r.getLong(0), r.getInt(2)) -> (r.getString(1), r.getString(3), r.getString(4))
    assertParity(sink.filter(_.getLong(0) != -1L).map(version).toMap,
      EventsStream.scd2ClosedBatch(spark, sf).collect().map(version).toMap)
  }

  test("stateful streaming z-score emits the batch expanding-window rows") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"))
      .as[EventsStream.ZSample].collect()

    val input = MemoryStream[EventsStream.ZSample]
    // two chronological chunks so mid-stream watermark closure runs
    val (early, late) = samples.sortBy(_.tsSec).splitAt(samples.length / 2)
    val maxSec = samples.map(_.tsSec).max
    val sink = stream(EventsStream.anomalyZStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      _ => input.addData(late.toSeq),
      _ => input.addData(EventsStream.ZSample("__wm__", maxSec + 36000L)))

    def hour(r: Row) = (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))
    val gotRows = sink.filter(_.getString(0) != "__wm__").map(hour)
    val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"hours emitted twice: ${dupes.keys.take(3)}")
    assertParity(gotRows.toMap, EventsStream.anomalyZBatch(spark, sf).collect().map(hour).toMap)
  }

  test("streaming multiwindow burn rate emits the batch page verdicts exactly once") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"), unix_timestamp(col("ts")).as("tsSec"))
      .as[EventsStream.BrSample].collect()

    val input = MemoryStream[EventsStream.BrSample]
    val sorted = samples.sortBy(_.tsSec)
    val (early, late) = sorted.splitAt(sorted.length / 2)
    val sink = stream(EventsStream.burnRateStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      _ => input.addData(late.toSeq),
      // hour-aligned sentinel far past the data closes every hop
      _ => input.addData(EventsStream.BrSample("__wm__", (sorted.last.tsSec / 3600L + 12L) * 3600L)))

    def hop(r: Row) = r.getTimestamp(0).getTime ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6), r.getBoolean(7))
    val gotRows = sink.map(hop)
    val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"hops emitted twice: ${dupes.keys.take(3)}")
    // the sentinel contributes to its own trailing hops; exclude any
    // hop at/after its hour from the comparison
    val sentinelMs = (sorted.last.tsSec / 3600L + 12L) * 3600L * 1000L
    val gotReal = gotRows.toMap.filter(_._1 < sentinelMs)
    assertParity(gotReal, EventsStream.burnRateBatch(spark, sf).collect().map(hop).toMap)
  }

  test("streaming native-histogram buckets emit the batch sparse grid exactly once") {
    import spark.implicits._
    val samples = events
      .select(col("event_type"), unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventsStream.NhSample].collect()

    val input = MemoryStream[EventsStream.NhSample]
    // chronological chunks: mid-stream watermark closes earlier days
    val sorted = samples.sortBy(_.tsSec)
    val (early, late) = sorted.splitAt(sorted.length / 2)
    val maxSec = sorted.last.tsSec
    val sink = stream(EventsStream.nativeHistogramStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      // a sample 3 days older than the watermark must be dropped, not
      // re-open (and double-emit) an already-closed day
      _ => input.addData(EventsStream.NhSample("probe_late", sorted.head.tsSec, 1.0)),
      _ => input.addData(late.toSeq),
      _ => input.addData(EventsStream.NhSample("__wm__", maxSec + 3L * 86400L, 1.0)))

    def bucket(r: Row) = (r.getString(0), r.getTimestamp(1).getTime, r.getInt(2)) -> r.getLong(3)
    val gotRows = sink.filter(r => !Set("__wm__", "probe_late")(r.getString(0))).map(bucket)
    val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
    assert(dupes.isEmpty, s"buckets emitted twice: ${dupes.keys.take(3)}")
    assert(!sink.exists(_.getString(0) == "probe_late"),
      "a watermark-late sample must be dropped, not emitted")
    // the probe-dropped early day aside, the streaming grid IS the
    // batch grid — same keys, same counts
    assertParity(gotRows.toMap,
      EventsStream.nativeHistogramBatch(spark, sf).collect().map(bucket).toMap)
  }

  test("stream_rate_limit: accepted + rejected == events per user, and pressure is real") {
    val df = run("stream_rate_limit").cache()
    assert(df.filter(col("n_accepted") + col("n_rejected") =!= col("n_events")).count() == 0)
    assert(df.agg(sum(col("n_rejected"))).head.getLong(0) > 0, "limiter never fired")
    assert(df.count() ==
      graft.sources.Tables.events(spark, sf).select(col("user_id")).distinct().count())
    df.unpersist()
  }

  test("ivm_minmax_delta: refcounted extrema match a direct windowless recompute") {
    import spark.implicits._
    val got = run("ivm_minmax_delta")
      .select("day", "min_cents", "max_cents", "n_support")
      .as[(Long, Long, Long, Long)].collect().toSet
    // direct recompute of the net multiset per day
    val want = graft.sources.Tables.events(spark, sf)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"))
      .groupBy("day", "cents").agg(sum("op").as("rc"))
      .filter(col("rc") > 0)
      .groupBy("day").agg(min("cents").as("mn"), max("cents").as("mx"),
        count(lit(1)).as("ns"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    got.foreach { case (_, mn, mx, ns) => assert(mn <= mx && ns > 0) }
  }

  test("ivm_topn_delta: podium matches a direct recompute of the live multiset") {
    import spark.implicits._
    val got = run("ivm_topn_delta")
      .select("day", "rank", "bucket", "rc")
      .as[(Long, Int, Long, Long)].collect()
    // rank keys assume the bucket domain fits below 2^24
    assert(got.forall(r => r._3 >= 0 && r._3 < (1L << 24)))
    val live = graft.sources.Tables.events(spark, sf)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value")).cast("long").as("bucket"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"))
      .groupBy("day", "bucket").agg(sum("op").as("rc"))
      .filter(col("rc") > 0)
      .as[(Long, Long, Long)].collect()
    val want = live.groupBy(_._1).toSeq.flatMap { case (day, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((_, b, rc), i) => (day, i + 1, b, rc) }
    }.toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet == want)
  }

  test("refcount top-N maintenance equals the batch view, any chunking") {
    import spark.implicits._
    // same refcount state as the min/max view, keyed on the dollar bucket
    val rows = events
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value")).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()
    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmt").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    stream(input.toDF().toDF("day", "cents", "op", "event_id"),
      into = Some(EventsStream.ivmMinmaxBatchInto(snapDir, _)))(
      feed(input, reversedThirds(rows)(_._4)): _*)
    // read the maintained refcounts back through the top-N rule
    val snap = spark.read.parquet(s"$snapDir/current")
      .filter(col("rc") > 0)
      .select(col("day"), col("cents").as("bucket"), col("rc"))
      .as[(Long, Long, Long)].collect()
    val got = snap.groupBy(_._1).toSeq.flatMap { case (day, rs) =>
      rs.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((_, b, rc), i) => (day, i + 1, b, rc) }
    }.toSet
    val want = run("ivm_topn_delta")
      .select("day", "rank", "bucket", "rc")
      .as[(Long, Int, Long, Long)].collect()
      .map(r => (r._1, r._2, r._3, r._4)).toSet
    assert(got == want, s"streaming=${got.size} batch=${want.size}")
  }

  test("stream_ha_dedup: a real MemoryStream run elects exactly the batch twin's replicas") {
    import spark.implicits._
    val samples = events
      .selectExpr("event_type", "unix_timestamp(date_trunc('second', ts)) AS tsSec",
        "CAST(event_id % 2 AS INT) AS replica")
      .as[EventsStream.HaSample].collect()
    val input = MemoryStream[EventsStream.HaSample]
    val sorted = samples.sortBy(_.tsSec)
    val (early, late) = sorted.splitAt(sorted.length / 2)
    // hour-aligned sentinel far past the data closes every window
    val sentinelSec = (sorted.last.tsSec / 3600L + 4L) * 3600L
    val sink = stream(EventsStream.haDedupStream(input.toDS()))(
      _ => input.addData(early.toSeq),
      _ => input.addData(late.toSeq),
      _ => input.addData(EventsStream.HaSample("__wm__", sentinelSec, 0)))
    def key(r: Row) =
      (r.getTimestamp(0).getTime, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5), r.getLong(6))
    val got = sink.filter(_.getString(1) != "__wm__").map(key).toMap
    val dupes = sink.groupBy(r => (r.getTimestamp(0).getTime, r.getString(1)))
      .filter(_._2.length > 1)
    assert(dupes.isEmpty, "a window's election emitted twice")
    assertParity(got, EventsStream.haDedupBatch(spark, sf).collect().map(key).toMap)
  }
}
