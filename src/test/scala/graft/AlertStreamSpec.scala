package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** MemoryStream parity for the timer-driven live notification grouping:
  * a real chunked run must emit exactly the batch audit's
  * (group, slot) -> (size, criticals, flush time) rows, each exactly
  * once, when the watermark passes the slot's flush timestamp. */
class AlertStreamSpec extends SparkTestBase {

  test("stream_group_wait: timer flushes equal the batch audit exactly once each") {
    import graft.streaming.AlertStream
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val alerts = graft.sources.Tables.events(spark, sf)
      .filter(col("value") >= 100)
      .selectExpr("event_type AS alertname",
        "cast(unix_timestamp(date_trunc('second', ts)) as bigint) AS es",
        "value >= 200 AS critical")
      .as[AlertStream.AlertSample].collect().sortBy(_.es)

    val input = MemoryStream[AlertStream.AlertSample]
    val third = alerts.length / 3
    // sentinel far past the data + watermark delay closes every slot
    val sentinel = alerts.last.es + 2 * 3600 + AlertStream.GroupIntervalSec * 10
    val emitted = stream(AlertStream.groupWaitStream(input.toDS()))(feed(input, Seq(
      alerts.take(third).toSeq, alerts.slice(third, 2 * third).toSeq, alerts.drop(2 * third).toSeq,
      Seq(AlertStream.AlertSample("__wm__", sentinel, critical = false)),
      Seq(AlertStream.AlertSample("__wm__", sentinel + 2 * 3600, critical = false)))): _*)
      .filter(_.getString(0) != "__wm__")

    val dupes = emitted.groupBy(r => (r.getString(0), r.getLong(1)))
      .filter(_._2.length > 1)
    assert(dupes.isEmpty, s"a (group, slot) emitted twice: ${dupes.keys.take(3)}")
    // the ordering-contract detector: this feed is chunk-ordered, so
    // no alert precedes its group's pinned t0 — n_pre_t0 must be 0
    // on every emission (a violating feed would surface here)
    assert(emitted.forall(_.getLong(5) == 0L),
      s"pre-t0 stragglers reported on an ordered feed: " +
        s"${emitted.filter(_.getLong(5) != 0L).take(3).mkString(",")}")
    val got = emitted.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = run("alert_group_wait").collect()
      .map(r => (r.getString(0), r.getAs[Long]("batch")) ->
        (r.getAs[Long]("n_alerts"), r.getAs[Long]("n_critical"),
          r.getAs[Long]("flush_es"))).toMap
    assert(got == want,
      s"stream/batch fork: missing=${(want.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- want.keySet).take(3)} " +
        s"diff=${want.keySet.intersect(got.keySet).filter(k => want(k) != got(k)).take(3).map(k => (k, want(k), got(k)))}")
  }

  test("stream_group_wait: the pre-t0 straggler detector fires on a violating feed") {
    import graft.streaming.AlertStream
    import spark.implicits._
    val input = MemoryStream[AlertStream.AlertSample]
    val rows = stream(AlertStream.groupWaitStream(input.toDS()))(feed(input, Seq(
      // batch 1 pins t0 = 1000; batch 2 delivers an EARLIER alert
      Seq(AlertStream.AlertSample("a", 1000L, critical = false)),
      Seq(AlertStream.AlertSample("a", 900L, critical = false)),
      // sentinel group pushes the watermark far past every slot
      Seq(AlertStream.AlertSample("__wm__", 100000L, critical = false)),
      Seq(AlertStream.AlertSample("__wm__", 200000L, critical = false)))): _*)
      .filter(_.getString(0) == "a")
    assert(rows.nonEmpty, "violating group never flushed")
    // the straggler landed in slot 0 under the SHIFTED grid — and the
    // detector reports exactly one pre-t0 arrival instead of silence
    assert(rows.forall(_.getLong(5) == 1L),
      s"expected n_pre_t0 = 1 on every emission, got ${rows.mkString(",")}")
  }
}
