package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per JVM — suites reuse it via getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session(master = "local[4]", shufflePartitions = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Release the cuts a test's entries left on this thread, pass or
    * fail, so cut blocks do not pile up in the shared session. */
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally Checkpoints.release()

  /** An entry's result at the test scale factor. */
  def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  /** Writes `events.parquet` rows (event_id, ts in epoch seconds, user_id,
    * event_type, value) with empty props into a fresh directory and returns
    * it, for entries run on a hand-built series. */
  def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_events").toString
    rows.map { case (id, tsSec, user, et, v) =>
      (id, new java.sql.Timestamp(tsSec * 1000L), user, et, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** The SQLContext a `MemoryStream` is created in. */
  implicit lazy val sqlCtx: SQLContext = spark.sqlContext

  /** Runs `df` as a streaming query into a uniquely named memory sink,
    * or, given `into`, through `into` once per micro-batch. Each feed
    * step runs and is followed by `processAllAvailable`; the query stops
    * in a `finally`. Returns the memory sink's rows (none for `into`). */
  def stream(df: Dataset[_], mode: OutputMode = OutputMode.Append,
      into: Option[DataFrame => Unit] = None)(steps: (StreamingQuery => Unit)*): Array[Row] = {
    val w = df.toDF().writeStream.outputMode(mode)
      .queryName("sink_" + java.util.UUID.randomUUID.toString.replace('-', '_'))
    val q = into.fold(w.format("memory"))(f =>
      w.foreachBatch((b: DataFrame, _: Long) => f(b))).start()
    try {
      steps.foreach { step => step(q); q.processAllAvailable() }
      if (into.isEmpty) spark.table(q.name).collect() else Array.empty[Row]
    } finally q.stop()
  }

  /** One feed step per chunk, each adding the chunk to `input`. */
  def feed[A](input: MemoryStream[A], chunks: Seq[Seq[A]]): Seq[StreamingQuery => Unit] =
    chunks.map[StreamingQuery => Unit](c => _ => input.addData(c))

  /** Asserts a streaming result equals its batch twin's, naming both
    * sizes and a few entries missing from or extra to the stream. */
  def assertParity[A](got: Iterable[A], want: Iterable[A]): Unit = {
    val (g, w) = (got.toSet, want.toSet)
    assert(g == w, s"streaming=${g.size} batch=${w.size} " +
      s"missing=${(w diff g).take(3)} extra=${(g diff w).take(3)}")
  }

  /** The messages along a throwable's cause chain, outermost first. */
  def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** formatted physical plan of an entry, for plan-shape assertions */
  def plan(name: String): String =
    run(name).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** formatted plan AFTER execution — AQE has re-planned and assigned
    * whole-stage-codegen ids, which the un-executed plan doesn't show. */
  def executedPlan(name: String): String = {
    val df = run(name)
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  /** count physical nodes of a type in a formatted plan's TREE section
    * only (each node is also repeated in the detail section below). */
  def countNodes(p: String, node: String): Int =
    (node + """ \(\d+\)""").r.findAllIn(p).size

  /** count parquet scans via the formatted plan's detail section, where
    * each scan appears exactly once as "(n) Scan parquet". */
  def countScans(p: String): Int =
    """\(\d+\) Scan parquet""".r.findAllIn(p).size
}
