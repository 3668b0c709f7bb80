package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream parity for the live HLL: a real three-chunk run's
  * final sketch per series must equal `sketch_hll_distinct`'s ledger
  * row for row — same registers hit, same estimate (the exact-integer
  * harmonic scaling makes merge order irrelevant), same measured
  * error. Also pins the Scala-side md5 hash against Spark's
  * conv(substring(md5(...))) derivation. */
class HllStreamSpec extends SparkTestBase {

  test("hash60 matches Spark's conv(substring(md5(...), 1, 15), 16, 10)") {
    import graft.streaming.HllStream
    val ids = Seq(0L, 1L, 42L, 999999L)
    val sparkSide = spark.sql(
      s"SELECT cast(id as bigint), cast(conv(substring(md5(concat('hll:', cast(id as string))), 1, 15), 16, 10) as bigint) " +
        s"FROM (SELECT explode(array(${ids.mkString(",")})) AS id)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(HllStream.hash60(id) == sparkSide(id), s"hash mismatch for $id")
    }
  }

  test("stream_hll_distinct: a real MemoryStream run ends at the batch sketch exactly") {
    import graft.streaming.HllStream
    import spark.implicits._

    val samples = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type AS series", "user_id")
      .as[HllStream.HllInput].collect()

    val input = MemoryStream[HllStream.HllInput]
    val third = samples.length / 3
    val got = stream(HllStream.hllStream(input.toDS(), auditExact = true), OutputMode.Update)(
      feed(input, Seq(samples.take(third).toSeq, samples.slice(third, 2 * third).toSeq,
        samples.drop(2 * third).toSeq)): _*)
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        // last snapshot = the one with the most exact-distinct users
        val last = rows.maxBy(_.getLong(4))
        k -> (1 to 5).map(last.getLong).toList
      }
    val want = run("sketch_hll_distinct").collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getLong).toList).toMap
    assert(got == want, s"stream/batch fork: got=$got want=$want")
  }

  test("hllStream default mode carries no exact truth set (O(registers) state)") {
    import graft.streaming.HllStream
    import spark.implicits._
    val input = MemoryStream[HllStream.HllInput]
    val row = stream(HllStream.hllStream(input.toDS()), // default: auditExact = false
      OutputMode.Update)(
      _ => input.addData(Seq(HllStream.HllInput("s1", 1L), HllStream.HllInput("s1", 2L)))).head
    assert(row.getLong(4) == -1L && row.getLong(5) == -1L,
      "default mode must not report exact-distinct truth")
    assert(row.getLong(3) > 0L, "the sketch estimate itself still works")
  }
}
