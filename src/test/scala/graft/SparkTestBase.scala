package graft

import org.apache.spark.sql.SparkSession
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

  /** formatted physical plan of an entry, for plan-shape assertions */
  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** formatted plan AFTER execution — AQE has re-planned and assigned
    * whole-stage-codegen ids, which the un-executed plan doesn't show. */
  def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
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
