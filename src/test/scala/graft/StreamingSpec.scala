package graft

import graft.streaming.EventsStream
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

  test("watermarked windowed agg emits batch-identical rows in append mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchRows = graft.sources.Tables.events(spark, sf)
      .select(col("ts"), col("event_type"), col("value")).as[Ev].collect()

    val input = MemoryStream[Ev]
    val q = EventsStream.eventsWindowStream(input.toDF())
      .writeStream.format("memory").queryName("win_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(batchRows.toSeq)
      q.processAllAvailable()
      // a late lone event pushes the watermark past every real window →
      // append mode finalizes and emits them all
      val maxTs = batchRows.map(_.ts.getTime).max
      input.addData(Ev(new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), "__wm__", 0.0))
      q.processAllAvailable()

      def key(r: org.apache.spark.sql.Row) = (r.getTimestamp(0), r.getString(1))
      val got = spark.table("win_sink")
        .filter(col("event_type") =!= "__wm__")
        .select("window_start", "event_type", "n_events", "value_sum")
        .collect().map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      val want = EventsStream.eventsWindowBatch(spark, sf)
        .collect().map(r => key(r) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got.keySet == want.keySet,
        s"windows differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, (n, s)) =>
        val (gn, gs) = got(k)
        assert(gn == n && math.abs(gs - s) < 1e-6, s"mismatch at $k: ($gn,$gs) vs ($n,$s)")
      }
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedup matches batch distinct counts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("event_type")).as[DEv].collect()

    val input = MemoryStream[DEv]
    val q = EventsStream.dedupWindowStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // every event fed TWICE in the same batch → dedup must collapse them
      input.addData(rows.toSeq ++ rows.toSeq)
      q.processAllAvailable()
      val maxTs = rows.map(_.ts.getTime).max
      input.addData(DEv(-1L, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000), "__wm__"))
      q.processAllAvailable()

      val got = spark.table("dedup_sink")
        .filter(col("event_type") =!= "__wm__")
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = EventsStream.eventsDedupBatch(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join emits the batch join's pairs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = graft.sources.Tables.events(spark, sf)
      .withColumn("ts", date_trunc("second", col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts")).as[PEv].collect()
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts")).as[CEv].collect()

    val pIn = MemoryStream[PEv]
    val cIn = MemoryStream[CEv]
    val q = EventsStream.intervalJoinStream(pIn.toDF(), cIn.toDF())
      .writeStream.format("memory").queryName("ij_sink")
      .outputMode(OutputMode.Append).start()
    try {
      pIn.addData(purchases.toSeq)
      cIn.addData(clicks.toSeq)
      q.processAllAvailable()

      val got = spark.table("ij_sink")
        .groupBy(col("purchase_id"), col("p_user").as("user_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = EventsStream.intervalJoinBatch(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming scrape windows finalize into batch-identical long metric rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchRows = graft.sources.Tables.events(spark, sf)
      .select(col("ts"), col("event_type"), col("value")).as[Ev].collect()

    val input = MemoryStream[Ev]
    val q = EventsStream.metricsScrapeStream(input.toDF())
      .writeStream.format("memory").queryName("scrape_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(batchRows.toSeq)
      q.processAllAvailable()
      val maxTs = batchRows.map(_.ts.getTime).max
      input.addData(Ev(new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), "__wm__", 0.0))
      q.processAllAvailable()

      def key(r: org.apache.spark.sql.Row) = (r.getTimestamp(0), r.getString(1), r.getString(2))
      val got = spark.table("scrape_sink")
        .filter(col("event_type") =!= "__wm__")
        .collect().map(r => key(r) -> r.getDouble(3)).toMap
      val want = EventsStream.metricsScrapeBatch(spark, sf)
        .collect().map(r => key(r) -> r.getDouble(3)).toMap
      assert(got.keySet == want.keySet,
        s"series differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) =>
        assert(math.abs(got(k) - v) < 1e-6, s"mismatch at $k: ${got(k)} vs $v")
      }
    } finally q.stop()
  }

  test("stateful streaming counter-rate emits the batch hourly increases") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.CSample].collect()

    val input = MemoryStream[EventsStream.CSample]
    val q = EventsStream.counterRateStream(input.toDS())
      .writeStream.format("memory").queryName("rate_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // two chronological chunks so mid-stream watermark finalization
      // (not just the end-of-stream timeout) is exercised
      val (early, late) = samples.sortBy(_.tsSec).splitAt(samples.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      val maxSec = samples.map(_.tsSec).max
      input.addData(EventsStream.CSample("__wm__", -1L, maxSec + 36000L, 0.0))
      q.processAllAvailable()

      val gotRows = spark.table("rate_sink").filter(col("event_type") =!= "__wm__")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2))
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
    } finally q.stop()
  }

  test("streaming query_range emits the batch grid once, and drops watermark-late samples") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventsStream.QrSample].collect()

    val input = MemoryStream[EventsStream.QrSample]
    val q = EventsStream.queryRangeStream(input.toDS())
      .writeStream.format("memory").queryName("qr_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val sorted = samples.sortBy(s => (s.tsSec, s.event_id))
      val (early, late) = sorted.splitAt(sorted.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      // a sample far older than the watermark at this point must be
      // dropped, not double-emit an already-closed step
      val closedProbe = EventsStream.QrSample("probe_late", 999999L,
        sorted.head.tsSec, 123.45)
      input.addData(closedProbe)
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      // hour-ALIGNED sentinel: it must survive the lookback filter
      // (which runs before the watermark node) to advance the clock
      val maxSec = sorted.last.tsSec
      input.addData(EventsStream.QrSample("__wm__", -1L, (maxSec / 3600L + 12L) * 3600L, 0.0))
      q.processAllAvailable()

      val gotRows = spark.table("qr_sink")
        .filter(!col("event_type").isin("__wm__", "probe_late"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          (r.getLong(2), r.getDouble(3)))
      val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
      assert(dupes.isEmpty, s"steps emitted twice: ${dupes.keys.take(3)}")
      assert(!spark.table("qr_sink").collect()
        .exists(_.getString(0) == "probe_late"),
        "a watermark-late sample must be dropped, not emitted")
      val got = gotRows.toMap
      val want = EventsStream.queryRangeBatch(spark, sf)
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
          (r.getLong(2), r.getDouble(3))).toMap
      assert(got.keySet == want.keySet,
        s"steps differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) => assert(got(k) == v, s"mismatch at $k: ${got(k)} vs $v") }
    } finally q.stop()
  }

  test("stream-static enrichment joins every event to its static dimension row") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect()

    val input = MemoryStream[(Long, String, Double)]
    val dim = EventsStream.userSegmentDim(spark, sf)
    val q = EventsStream.staticEnrichStream(
        input.toDF().toDF("user_id", "event_type", "value"), dim)
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(rows.toSeq)
      q.processAllAvailable()
      val got = spark.table("enrich_sink")
        .groupBy("segment", "event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val want = EventsStream.staticEnrichBatch(spark, sf)
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("foreachBatch incremental upsert converges to the batch snapshot") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"),
        col("event_id"), col("value"))
      .as[(Long, String, Long, Long, Double)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val input = MemoryStream[(Long, String, Long, Long, Double)]
    val q = input.toDF()
      .toDF("user_id", "event_type", "tsSec", "event_id", "value")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.upsertBatchInto(snapDir, df)
      }
      .start()
    try {
      // out-of-order chunks: the merge must be order-insensitive
      val (h1, h2) = rows.sortBy(_._4).splitAt(rows.length / 2)
      input.addData(h2.toSeq); q.processAllAvailable()
      input.addData(h1.toSeq); q.processAllAvailable()
      val got = EventsStream.upsertSnapshotRead(spark, snapDir)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val want = EventsStream.upsertSnapshotBatch(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("incremental sketch rollup equals the batch sketch exactly, any chunking") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr(operators.Sketch.hash60("u", "user_id")).as("h"),
        col("event_id"))
      .as[(String, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF()
      .toDF("day", "h", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.sketchBatchInto(snapDir, df)
      }
      .start()
    try {
      // three out-of-order chunks: exact mergeability must make the
      // final snapshot independent of batch boundaries
      val sorted = rows.sortBy(_._3)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.sketchSnapshotRead(spark, snapDir)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val want = EventsStream.sketchDistinctBatch(spark, sf)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("incremental heavy hitters equal the batch twin; MG state stays bounded and contains them") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id"), col("event_id"))
      .as[(String, Long, Long)].collect()

    val countsDir = java.nio.file.Files.createTempDirectory("graft_hh_counts").toString
    val mgDir = java.nio.file.Files.createTempDirectory("graft_hh_mg").toString
    val input = MemoryStream[(String, Long, Long)]
    val q = input.toDF()
      .toDF("day", "user_id", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.heavyHittersBatchInto(countsDir, mgDir, df)
      }
      .start()
    try {
      val sorted = rows.sortBy(_._3)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.heavyHittersSnapshotRead(spark, countsDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = EventsStream.heavyHittersBatch(spark, sf)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
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
    } finally q.stop()
  }

  test("delta-view maintenance with retractions equals the batch view, any chunking") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("value"), col("event_id"))
      .as[(Long, Long, Double, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivm").toString
    val input = MemoryStream[(Long, Long, Double, Long)]
    val q = input.toDF()
      .toDF("user_id", "op", "value", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.ivmBatchInto(snapDir, df)
      }
      .start()
    try {
      val sorted = rows.sortBy(_._4)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.ivmSnapshotRead(spark, snapDir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val want = EventsStream.ivmAggBatch(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization matches the batch fold") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.Event].collect()

    val input = MemoryStream[EventsStream.Event]
    val q = EventsStream.sessionizeStream(input.toDS())
      .writeStream.format("memory").queryName("sess_sink")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(events.toSeq)
      q.processAllAvailable()
      // a sentinel far in the future advances the watermark past every
      // open session's (end + gap) → event-time timeouts emit them all
      val maxSec = events.map(_.tsSec).max
      input.addData(EventsStream.Event(-1L, 0L, maxSec + 36000L, 0.0))
      q.processAllAvailable()

      val got = spark.table("sess_sink").filter(col("user_id") =!= -1L)
        .collect().map(_.toSeq).toSet
      val want = EventsStream.sessionizeBatch(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(got == want,
        s"streaming=${got.size} batch=${want.size} diff=${(want diff got).take(2)}")
    } finally q.stop()
  }

  test("token-bucket rate limiter: final streaming summaries equal the batch fold") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // chronological chunks (shuffled within each) so the concatenated
    // per-batch folds equal the global time-ordered fold
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.Event].collect().sortBy(e => (e.tsSec, e.event_id))
    val rnd = new scala.util.Random(7)
    val chunks = events.grouped(math.max(1, events.length / 3)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val input = MemoryStream[EventsStream.Event]
    val q = EventsStream.rateLimitStream(input.toDS())
      .writeStream.format("memory").queryName("rl_sink")
      .outputMode(OutputMode.Update).start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      // last running summary per user = the one with the full event count
      val got = spark.table("rl_sink").collect()
        .groupBy(_.getLong(0)).map { case (u, rows) =>
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
    } finally q.stop()
  }

  test("streaming funnel emits each batch conversion exactly once, out-of-order chunks") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[EventsStream.FEvent].collect()

    val input = MemoryStream[EventsStream.FEvent]
    val q = EventsStream.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // three chronological chunks, each internally shuffled, so both
      // mid-stream watermark folds and out-of-order arrival are exercised
      val rnd = new scala.util.Random(7)
      val chunks = events.sortBy(_.tsSec).grouped(events.length / 3 + 1)
      chunks.foreach { c => input.addData(rnd.shuffle(c.toSeq)); q.processAllAvailable() }
      val maxSec = events.map(_.tsSec).max
      input.addData(EventsStream.FEvent(-1L, 0L, maxSec + 36000L, "view"))
      q.processAllAvailable()

      val rows = spark.table("funnel_sink").filter(col("user_id") =!= -1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1))
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
    } finally q.stop()
  }

  test("streaming attribution equals the batch RANGE-window read, out-of-order chunks") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("event_type"))
      .as[EventsStream.FEvent].collect()

    val input = MemoryStream[EventsStream.FEvent]
    val q = EventsStream.attributionStream(input.toDS())
      .writeStream.format("memory").queryName("attr_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val rnd = new scala.util.Random(11)
      events.sortBy(_.tsSec).grouped(events.length / 3 + 1)
        .foreach { c => input.addData(rnd.shuffle(c.toSeq)); q.processAllAvailable() }
      val maxSec = events.map(_.tsSec).max
      input.addData(EventsStream.FEvent(-1L, 0L, maxSec + 200000L, "view"))
      q.processAllAvailable()

      val got = spark.table("attr_sink").filter(col("user_id") =!= -1L)
        .select("user_id", "event_id", "sec", "n_touches", "credit_per_touch")
        .collect().map(_.toSeq).toSet
      val want = graft.operators.Funnel.attributionLinear(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(got.size == want.size && got == want,
        s"streaming=${got.size} batch=${want.size} diff=${(want diff got).take(2)}")
    } finally q.stop()
  }

  test("streaming hysteresis carries the alert machine across watermark folds") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"), col("value"))
      .as[EventsStream.CSample].collect()

    val input = MemoryStream[EventsStream.CSample]
    val q = EventsStream.alertHysteresisStream(input.toDS())
      .writeStream.format("memory").queryName("alert_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val chunks = samples.sortBy(_.tsSec).grouped(samples.length / 3 + 1)
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val maxSec = samples.map(_.tsSec).max
      input.addData(EventsStream.CSample("__wm__", -1L, maxSec + 36000L, 0.0))
      q.processAllAvailable()

      val got = spark.table("alert_sink").filter(col("event_type") =!= "__wm__")
        .select("event_type", "hour_sec", "firing", "transition")
        .collect().map(_.toSeq).toSet
      val want = EventsStream.alertHysteresisBatch(spark, sf)
        .select("event_type", "hour_sec", "firing", "transition")
        .collect().map(_.toSeq).toSet
      assert(got == want,
        s"streaming=${got.size} batch=${want.size} diff=${(want diff got).take(3)}")
    } finally q.stop()
  }

  test("schema evolution: drifted payload chunks aggregate to the batch result") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // payloads exactly as the batch entry builds them, but fed with the
    // vintage DRIFT a rollout produces: the v1-only chunk first, then
    // the mixed chunks — the superset-schema parse must not care
    val payloads = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), EventsStream.payloadCol.as("payload"))
      .as[(Long, String)].collect()
    val (v1, v2) = payloads.partition(_._1 % 2 == 0)

    val input = MemoryStream[(Long, String)]
    val q = EventsStream.schemaEvolutionStream(
        input.toDF().toDF("event_id", "payload"))
      .writeStream.format("memory").queryName("evo_sink")
      .outputMode(OutputMode.Complete).start()
    try {
      input.addData(v1.toSeq)          // pre-rollout traffic
      q.processAllAvailable()
      val mid = spark.table("evo_sink").collect()
      assert(mid.forall(_.getString(1) == "__pre__"),
        "v1-only stream must see no channel values")
      val half = v2.length / 2
      input.addData(v2.take(half).toSeq) // rollout begins
      input.addData(v2.drop(half).toSeq)
      q.processAllAvailable()
      val got = spark.table("evo_sink")
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val want = EventsStream.schemaEvolutionBatch(spark, sf)
        .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }
  test("left-outer interval join emits unmatched purchases once the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = graft.sources.Tables.events(spark, sf)
      .withColumn("ts", date_trunc("second", col("ts")))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts")).as[PEv].collect()
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts")).as[CEv].collect()

    val pIn = MemoryStream[PEv]
    val cIn = MemoryStream[CEv]
    val q = EventsStream.outerIntervalJoinStream(pIn.toDF(), cIn.toDF())
      .writeStream.format("memory").queryName("oij_sink")
      .outputMode(OutputMode.Append).start()
    try {
      pIn.addData(purchases.toSeq)
      cIn.addData(clicks.toSeq)
      q.processAllAvailable()
      // push BOTH watermarks far past the data so unmatched purchases
      // are proven matchless and emitted with null click columns
      val maxTs = (purchases.map(_.p_ts.getTime) ++ clicks.map(_.c_ts.getTime)).max
      val far = new java.sql.Timestamp(maxTs + 10L * 3600 * 1000)
      pIn.addData(PEv(-1L, -1L, far))
      cIn.addData(CEv(-1L, far))
      q.processAllAvailable()

      val got = spark.table("oij_sink")
        .filter(col("purchase_id") =!= -1L)
        .groupBy(col("purchase_id"), col("p_user").as("user_id"))
        .agg(count(col("c_ts")).as("n_clicks"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = EventsStream.outerIntervalJoinBatch(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
      // the outer rows are the point: some purchase must have zero clicks
      assert(want.values.exists(_ == 0L), "fixture should contain clickless purchases")
    } finally q.stop()
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
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        col("user_id"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmd").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = input.toDF()
      .toDF("day", "user_id", "op", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.ivmDistinctBatchInto(snapDir, df)
      }
      .start()
    try {
      // REVERSED chunks: retractions can arrive before their inserts,
      // driving refcounts negative mid-stream — the debt must persist
      val sorted = rows.sortBy(_._4)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.ivmDistinctSnapshotRead(spark, snapDir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = EventsStream.ivmDistinctBatch(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("refcount min/max-view maintenance equals the batch view, any chunking") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmm").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = input.toDF()
      .toDF("day", "cents", "op", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.ivmMinmaxBatchInto(snapDir, df)
      }
      .start()
    try {
      // reversed chunks again: a retraction of the running max may land
      // before its insert — the refcount debt must keep the view exact
      val sorted = rows.sortBy(_._4)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.ivmMinmaxSnapshotRead(spark, snapDir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val want = EventsStream.ivmMinmaxBatch(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("incremental sample-quantile sketch equals the batch twin, any chunking") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = graft.sources.Tables.events(spark, sf)
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        expr(graft.operators.Sketch.hash60("e", "event_id")).as("h"),
        col("value"), col("event_id"))
      .as[(Long, Long, Double, Long)].collect()

    val snapDir = java.nio.file.Files.createTempDirectory("graft_sq").toString
    val input = MemoryStream[(Long, Long, Double, Long)]
    val q = input.toDF()
      .toDF("day", "h", "value", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.sampleQuantileBatchInto(snapDir, df)
      }
      .start()
    try {
      // reversed chunks: the semilattice merge must converge anyway
      val sorted = rows.sortBy(_._4)
      val chunks = sorted.grouped(math.max(1, sorted.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      val got = EventsStream.sampleQuantileSnapshotRead(spark, snapDir)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val want = EventsStream.sampleQuantileDailyBatch(spark, sf)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(got == want, s"streaming=${got.size} batch=${want.size} " +
        s"diff=${(want.toSet diff got.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming SCD2 emits exactly the batch closed-version history") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"),
        col("event_id"), col("event_type"))
      .as[EventsStream.SEv].collect()

    val input = MemoryStream[EventsStream.SEv]
    val q = EventsStream.scd2Stream(input.toDS())
      .writeStream.format("memory").queryName("scd2_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val (early, late) = samples.sortBy(s => (s.tsSec, s.event_id))
        .splitAt(samples.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      val maxSec = samples.map(_.tsSec).max
      input.addData(EventsStream.SEv(-1L, maxSec + 36000L, -1L, "__wm__"))
      q.processAllAvailable()

      val got = spark.table("scd2_sink").filter(col("user_id") =!= -1L)
        .collect()
        .map(r => (r.getLong(0), r.getInt(2)) ->
          (r.getString(1), r.getString(3), r.getString(4))).toMap
      val want = EventsStream.scd2ClosedBatch(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getInt(2)) ->
          (r.getString(1), r.getString(3), r.getString(4))).toMap
      assert(got.keySet == want.keySet,
        s"versions differ: missing=${(want.keySet diff got.keySet).take(3)} " +
          s"extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) => assert(got(k) == v, s"mismatch at $k") }
    } finally q.stop()
  }

  test("stateful streaming z-score emits the batch expanding-window rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("tsSec"))
      .as[EventsStream.ZSample].collect()

    val input = MemoryStream[EventsStream.ZSample]
    val q = EventsStream.anomalyZStream(input.toDS())
      .writeStream.format("memory").queryName("zscore_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // two chronological chunks so mid-stream watermark closure runs
      val (early, late) = samples.sortBy(_.tsSec).splitAt(samples.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      val maxSec = samples.map(_.tsSec).max
      input.addData(EventsStream.ZSample("__wm__", maxSec + 36000L))
      q.processAllAvailable()

      val gotRows = spark.table("zscore_sink").filter(col("event_type") =!= "__wm__")
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5)))
      val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
      assert(dupes.isEmpty, s"hours emitted twice: ${dupes.keys.take(3)}")
      val got = gotRows.toMap
      val want = EventsStream.anomalyZBatch(spark, sf)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getBoolean(5))).toMap
      assert(got.keySet == want.keySet,
        s"hours differ: missing=${(want.keySet diff got.keySet).take(3)} " +
          s"extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) => assert(got(k) == v, s"mismatch at $k: ${got(k)} vs $v") }
    } finally q.stop()
  }

  test("streaming multiwindow burn rate emits the batch page verdicts exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), unix_timestamp(col("ts")).as("tsSec"))
      .as[EventsStream.BrSample].collect()

    val input = MemoryStream[EventsStream.BrSample]
    val q = EventsStream.burnRateStream(input.toDS())
      .writeStream.format("memory").queryName("br_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val sorted = samples.sortBy(_.tsSec)
      val (early, late) = sorted.splitAt(sorted.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      // hour-aligned sentinel far past the data closes every hop
      input.addData(EventsStream.BrSample("__wm__",
        (sorted.last.tsSec / 3600L + 12L) * 3600L))
      q.processAllAvailable()

      val gotRows = spark.table("br_sink").collect()
        .map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6), r.getBoolean(7)))
      val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
      assert(dupes.isEmpty, s"hops emitted twice: ${dupes.keys.take(3)}")
      val got = gotRows.toMap
      // the sentinel contributes to its own trailing hops; exclude any
      // hop at/after its hour from the comparison
      val sentinelMs = (sorted.last.tsSec / 3600L + 12L) * 3600L * 1000L
      val want = EventsStream.burnRateBatch(spark, sf)
        .collect().map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6), r.getBoolean(7))).toMap
      val gotReal = got.filter(_._1 < sentinelMs)
      assert(gotReal.keySet == want.keySet,
        s"hops differ: missing=${(want.keySet diff gotReal.keySet).take(3)} " +
          s"extra=${(gotReal.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) =>
        assert(gotReal(k) == v, s"mismatch at $k: ${gotReal(k)} vs $v")
      }
    } finally q.stop()
  }

  test("streaming native-histogram buckets emit the batch sparse grid exactly once") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val samples = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), unix_timestamp(col("ts")).as("tsSec"), col("value"))
      .as[EventsStream.NhSample].collect()

    val input = MemoryStream[EventsStream.NhSample]
    val q = EventsStream.nativeHistogramStream(input.toDS())
      .writeStream.format("memory").queryName("nh_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // chronological chunks: mid-stream watermark closes earlier days
      val sorted = samples.sortBy(_.tsSec)
      val (early, late) = sorted.splitAt(sorted.length / 2)
      input.addData(early.toSeq)
      q.processAllAvailable()
      // a sample 3 days older than the watermark must be dropped, not
      // re-open (and double-emit) an already-closed day
      input.addData(EventsStream.NhSample("probe_late", sorted.head.tsSec, 1.0))
      q.processAllAvailable()
      input.addData(late.toSeq)
      q.processAllAvailable()
      val maxSec = sorted.last.tsSec
      input.addData(EventsStream.NhSample("__wm__", maxSec + 3L * 86400L, 1.0))
      q.processAllAvailable()

      val gotRows = spark.table("nh_sink")
        .filter(!col("event_type").isin("__wm__", "probe_late"))
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getInt(2)) -> r.getLong(3))
      val dupes = gotRows.groupBy(_._1).filter(_._2.length > 1)
      assert(dupes.isEmpty, s"buckets emitted twice: ${dupes.keys.take(3)}")
      assert(!spark.table("nh_sink").collect().exists(_.getString(0) == "probe_late"),
        "a watermark-late sample must be dropped, not emitted")
      val got = gotRows.toMap
      val want = EventsStream.nativeHistogramBatch(spark, sf)
        .collect().map(r => (r.getString(0), r.getTimestamp(1).getTime,
          r.getInt(2)) -> r.getLong(3)).toMap
      // the probe-dropped early day aside, the streaming grid IS the
      // batch grid — same keys, same counts
      assert(got.keySet == want.keySet,
        s"buckets differ: missing=${(want.keySet diff got.keySet).take(3)} " +
          s"extra=${(got.keySet diff want.keySet).take(3)}")
      want.foreach { case (k, v) => assert(got(k) == v, s"mismatch at $k: ${got(k)} vs $v") }
    } finally q.stop()
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
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // same refcount state as the min/max view, keyed on the dollar bucket
    val rows = graft.sources.Tables.events(spark, sf)
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value")).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()
    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmt").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = input.toDF().toDF("day", "cents", "op", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.ivmMinmaxBatchInto(snapDir, df)
      }.start()
    try {
      val chunks = rows.sortBy(_._4).grouped(math.max(1, rows.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
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
    } finally q.stop()
  }

  test("stream_ha_dedup: a real MemoryStream run elects exactly the batch twin's replicas") {
    import graft.streaming.EventsStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val samples = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type", "unix_timestamp(date_trunc('second', ts)) AS tsSec",
        "CAST(event_id % 2 AS INT) AS replica")
      .as[EventsStream.HaSample].collect()
    val input = MemoryStream[EventsStream.HaSample]
    val q = EventsStream.haDedupStream(input.toDS())
      .writeStream.format("memory").queryName("ha_sink")
      .outputMode(OutputMode.Append).start()
    try {
      val sorted = samples.sortBy(_.tsSec)
      val (early, late) = sorted.splitAt(sorted.length / 2)
      input.addData(early.toSeq); q.processAllAvailable()
      input.addData(late.toSeq); q.processAllAvailable()
      // hour-aligned sentinel far past the data closes every window
      val sentinelSec = (sorted.last.tsSec / 3600L + 4L) * 3600L
      input.addData(EventsStream.HaSample("__wm__", sentinelSec, 0))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0).getTime, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getInt(4), r.getLong(5), r.getLong(6))
      val got = spark.table("ha_sink").collect()
        .filter(_.getString(1) != "__wm__").map(key).toMap
      val dupes = spark.table("ha_sink").collect().groupBy(r =>
        (r.getTimestamp(0).getTime, r.getString(1))).filter(_._2.length > 1)
      assert(dupes.isEmpty, "a window's election emitted twice")
      val want = EventsStream.haDedupBatch(spark, sf).collect().map(key).toMap
      assert(got == want,
        s"stream/batch fork: ${ (want.toSet -- got.toSet).take(2) } / ${ (got.toSet -- want.toSet).take(2) }")
    } finally q.stop()
  }
}
