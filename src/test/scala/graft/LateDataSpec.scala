package graft

import graft.streaming.LateData
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The batch twin replays Structured Streaming's watermark drop rule —
  * prove it: a real MemoryStream fed chunk-by-chunk in the same md5
  * arrival order must accept exactly the rows the twin predicts. */
class LateDataSpec extends SparkTestBase {

  test("late-data accounting: counts consistent and some rows really drop") {
    val df = LateData.lateDataBatch(spark, sf).cache()
    val total = df.agg(sum(col("n_accepted") + col("n_late"))).head.getLong(0)
    assert(total == graft.sources.Tables.events(spark, sf).count())
    assert(df.agg(sum(col("n_late"))).head.getLong(0) > 0,
      "md5 arrival order must produce genuine late rows")
    df.unpersist()
  }

  test("hopping window: every event lands in exactly size/slide windows") {
    import org.apache.spark.sql.functions._
    val df = LateData.hoppingWindowBatch(spark, sf).cache()
    val events = graft.sources.Tables.events(spark, sf).count()
    val hops = LateData.HopSizeSec / LateData.HopSlideSec
    assert(df.agg(sum(col("n_events"))).head.getLong(0) == events * hops)
    // window starts align to the slide
    assert(df.filter(pmod(col("wstart_sec"), lit(LateData.HopSlideSec)) =!= 0).count() == 0)
    df.unpersist()
  }

  test("native streaming session windows emit exactly the batch twin's sessions") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // feed in event-time order (no late data) in two chunks, then flush
    val rows = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
        col("user_id").cast("string").as("event_type"))
      .as[DEv].collect().sortBy(_.ts.getTime)
    val input = MemoryStream[DEv]
    val (a, b) = rows.splitAt(rows.length / 2)
    val maxTs = rows.map(_.ts.getTime).max
    val sink = stream(LateData.sessionNativeStream(
        input.toDF().select(col("ts"), col("event_type").cast("long").as("user_id"))))(
      feed(input, Seq(a.toSeq, b.toSeq,
        Seq(DEv(-1L, new java.sql.Timestamp(maxTs + 24L * 3600 * 1000), "-1")))): _*)
    val got = sink.filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = LateData.sessionNativeBatch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.keySet == want.keySet,
      s"sessions differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
    want.foreach { case (k, n) => assert(got(k) == n, s"session $k: got ${got(k)} want $n") }
  }

  test("state-store metrics: a real run's progress numbers match the batch twin chunk by chunk") {
    import spark.implicits._

    val twin = LateData.stateMetricsBatch(spark, sf).orderBy("chunk").collect()
    val chunks = LateData.arrivals(spark, sf)
      .select(col("chunk"), col("arrival"), col("sec"))
      .collect()
      .groupBy(_.getLong(0))
      .toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(1)).map(r =>
          DEv(r.getLong(1), new java.sql.Timestamp(r.getLong(2) * 1000), "e")).toSeq
      }
    assert(twin.length == chunks.length)

    val input = MemoryStream[DEv]
    var dropsSeen = 0L
    var updatesSeen = 0L
    stream(LateData.lateDataStream(input.toDF()))(chunks.zipWithIndex.map { case (c, i) =>
      (q: StreamingQuery) => {
        input.addData(c); q.processAllAvailable()
        val expect = twin(i)
        // the eviction lands in the post-watermark no-data batch, which
        // processAllAvailable does not await — poll for it
        def stateRows: Long = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq).headOption.map(_.numRowsTotal).getOrElse(-1L)
        val deadline = System.currentTimeMillis + 20000
        while (stateRows != expect.getLong(6) && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        assert(stateRows == expect.getLong(6),
          s"chunk $i: state rows $stateRows != twin ${expect.getLong(6)}")
        val ops = q.recentProgress.flatMap(_.stateOperators)
        val drops = ops.map(_.numRowsDroppedByWatermark).sum
        val updates = ops.map(_.numRowsUpdated).sum
        assert(drops - dropsSeen == expect.getLong(4),
          s"chunk $i: dropped ${drops - dropsSeen} != twin ${expect.getLong(4)}")
        assert(updates - updatesSeen == expect.getLong(5),
          s"chunk $i: updated ${updates - updatesSeen} != twin ${expect.getLong(5)}")
        dropsSeen = drops; updatesSeen = updates
      }
    }: _*)
    // sanity: the run must have real watermark pressure — some chunk
    // drops rows AND some chunk evicts state
    assert(twin.map(_.getLong(4)).sum > 0, "no rows dropped — twin untested")
    assert(twin.sliding(2).exists(p => p(1).getLong(6) < p(0).getLong(6) + p(1).getLong(5)),
      "state never shrank — eviction untested")
  }

  test("streaming run accepts exactly the rows the batch twin predicts") {
    import spark.implicits._

    val chunks = LateData.arrivals(spark, sf)
      .select(col("chunk"), col("arrival"), col("sec"))
      .collect()
      .groupBy(_.getLong(0))
      .toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getLong(1)).map(r =>
          DEv(r.getLong(1), new java.sql.Timestamp(r.getLong(2) * 1000), "e")).toSeq
      }

    val input = MemoryStream[DEv]
    // far-future flush finalizes every real window
    val maxSec = chunks.flatten.map(_.ts.getTime).max
    val sink = stream(LateData.lateDataStream(input.toDF()))(feed(input, chunks :+
      Seq(DEv(-1L, new java.sql.Timestamp(maxSec + 10L * 3600 * 1000), "__wm__"))): _*)

    val flushStart = (maxSec + 10L * 3600 * 1000) / 1000 / LateData.WindowSec * LateData.WindowSec
    val got = sink.map(r => r.getTimestamp(0).getTime / 1000 -> r.getLong(1))
      .filter(_._1 != flushStart).toMap
    val want = LateData.lateDataBatch(spark, sf)
      .filter(col("n_accepted") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == want.keySet,
      s"windows differ: missing=${(want.keySet diff got.keySet).take(3)} extra=${(got.keySet diff want.keySet).take(3)}")
    want.foreach { case (k, n) => assert(got(k) == n, s"window $k: got ${got(k)} want $n") }
  }
}
