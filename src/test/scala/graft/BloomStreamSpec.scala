package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class BloomStreamSpec extends SparkTestBase {

  test("stream_bloom_dedup: a real MemoryStream run through the m-bit state lands on the batch ledger") {
    import graft.streaming.BloomStream
    import spark.implicits._

    val docs = graft.sources.Tables.documents(spark, sf)
      .selectExpr("doc_id", "source", "text")
      .as[BloomStream.BloomDoc].collect().sortBy(_.doc_id)

    val input = MemoryStream[BloomStream.BloomDoc]
    // ingestion contract: doc_id-ordered arrival, three chunks
    val third = docs.length / 3
    val sink = stream(BloomStream.bloomStream(input.toDS()))(feed(input, Seq(
      docs.take(third).toSeq, docs.slice(third, 2 * third).toSeq, docs.drop(2 * third).toSeq)): _*)
    val got = sink.groupBy(_.getString(1))
      .map { case (src, rows) =>
        src -> (rows.length.toLong, rows.count(_.getBoolean(2)).toLong)
      }
    val want = run("stream_bloom_dedup").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want, s"stream/batch fork: got=$got want=$want")
    // the filter guarantees no false negatives: every EXACT duplicate
    // text (same md5) after its first copy must be a suspect
    val firstByHash = docs.groupBy(d => d.text).map { case (_, ds) =>
      ds.map(_.doc_id).min
    }.toSet
    val suspects = sink.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    docs.filterNot(d => firstByHash(d.doc_id))
      .filter(d => docs.exists(o => o.doc_id < d.doc_id && o.text == d.text))
      .foreach(d => assert(suspects(d.doc_id),
        s"exact dup ${d.doc_id} missed — a bloom false NEGATIVE is impossible"))
  }
}
