package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream parity for the live OOO admission processor: a real
  * three-chunk run's FINAL state per series must equal the batch audit
  * (`tsdb_ooo_ingest`) row for row — the stream and the audit can never
  * disagree on a fully-arrived feed. */
class OooStreamSpec extends SparkTestBase {

  test("stream_ooo_ingest: a real MemoryStream run ends at the batch audit's tallies") {
    import graft.streaming.OooStream
    import spark.implicits._

    val samples = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type AS series",
        "cast(unix_timestamp(date_trunc('second', ts)) as bigint) AS es",
        "event_id AS arrival")
      .as[OooStream.OooSample].collect().sortBy(_.arrival)

    val input = MemoryStream[OooStream.OooSample]
    // three chunks in arrival order — the feed order a push pipeline
    // (collector -> remote write) actually delivers
    val third = samples.length / 3
    val sink = stream(OooStream.oooIngestStream(input.toDS()), OutputMode.Update)(
      feed(input, Seq(samples.take(third).toSeq, samples.slice(third, 2 * third).toSeq,
        samples.drop(2 * third).toSeq)): _*)
    // Update-mode memory sink keeps every snapshot; the last one per
    // series (max n_samples) is the final tally
    val got = sink.groupBy(_.getString(0))
      .map { case (k, rows) =>
        val last = rows.maxBy(_.getLong(1))
        k -> (last.getLong(1), last.getLong(2), last.getLong(3), last.getLong(4))
      }
    val want = run("tsdb_ooo_ingest").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == want, s"stream/batch fork: got=$got want=$want")
    // cross-batch ordering detector: the feed is arrival-ordered
    // across chunks, so n_disorder must be 0 everywhere — a feed
    // that re-delivered a lower arrival later would surface here
    val disordered = sink.filter(_.getLong(5) != 0L)
    assert(disordered.isEmpty,
      s"cross-batch disorder reported on an ordered feed: ${disordered.take(3).mkString(",")}")
    // per-batch snapshots are monotone: counts never decrease
    sink.groupBy(_.getString(0)).foreach {
      case (_, rows) =>
        val sorted = rows.map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        sorted.sliding(2).foreach {
          case Seq((_, a1, r1), (_, a2, r2)) => assert(a1 <= a2 && r1 <= r2)
          case _ =>
        }
    }
  }

  test("stream_ooo_ingest: the cross-batch disorder detector fires on a reordered feed") {
    import graft.streaming.OooStream
    import spark.implicits._
    val input = MemoryStream[OooStream.OooSample]
    val last = stream(OooStream.oooIngestStream(input.toDS()), OutputMode.Update)(feed(input, Seq(
      // batch 1 carries arrivals {5, 6}; batch 2 delivers arrival 2 —
      // a cross-batch reorder the in-batch sort cannot repair
      Seq(OooStream.OooSample("s", 100L, 5L), OooStream.OooSample("s", 200L, 6L)),
      Seq(OooStream.OooSample("s", 300L, 2L)))): _*)
      .filter(_.getString(0) == "s").maxBy(_.getLong(1))
    assert(last.getLong(1) == 3L)
    assert(last.getLong(5) == 1L,
      s"expected n_disorder = 1 after the reordered chunk, got $last")
  }
}
