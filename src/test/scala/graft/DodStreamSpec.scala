package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream parity for the live DoD chunk-bit accounting: a real
  * three-chunk run (chunk-append order: per-series ascending (es,
  * arrival)) must end at `tsdb_dod_timestamps`' ledger row for row —
  * the ingest-time compression accounting and the batch audit can
  * never disagree on a fully-arrived feed. */
class DodStreamSpec extends SparkTestBase {

  test("stream_dod_encoding: a real MemoryStream run ends at the batch audit's ledger") {
    import graft.streaming.DodStream
    import spark.implicits._

    // chunk-append order: the batch audit orders (es, arrival) per
    // series, so the feed delivers globally (es, arrival)-sorted
    val samples = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type AS series",
        "cast(unix_timestamp(date_trunc('second', ts)) as bigint) AS es",
        "event_id AS arrival")
      .as[DodStream.DodSample].collect().sortBy(s => (s.es, s.arrival))

    val input = MemoryStream[DodStream.DodSample]
    val third = samples.length / 3
    val got = stream(DodStream.dodEncodingStream(input.toDS()), OutputMode.Update)(
      feed(input, Seq(samples.take(third).toSeq, samples.slice(third, 2 * third).toSeq,
        samples.drop(2 * third).toSeq)): _*)
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val last = rows.maxBy(_.getLong(1))
        k -> (1 to 9).map(last.getLong).toList
      }
    val want = run("tsdb_dod_timestamps").collect()
      .map(r => r.getString(0) -> (1 to 9).map(r.getLong).toList).toMap
    assert(got == want, s"stream/batch fork: got=$got want=$want")
  }
}
