package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts outside any SQL execution: jobs that
  * carry no `spark.sql.execution.id` property. Parquet footer inference
  * (`spark.read.parquet` without a schema) is such a job; a DataFrame
  * action never is. Returns the block's result and the names of those
  * jobs, in start order. */
object JobsOutsideSql {
  private val ExecutionId = "spark.sql.execution.id"
  private val Marker = "graft.test.jobs.drained"

  def apply[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty(Marker) != null)) drained = true
        else if (props.forall(_.getProperty(ExecutionId) == null))
          seen.add(e.stageInfos.headOption.map(_.name).getOrElse(s"job ${e.jobId}"))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // the listener bus delivers in order: once the marked job is seen,
      // every job the block started has been seen too
      sc.setLocalProperty(Marker, "1")
      try spark.range(1).collect() finally sc.setLocalProperty(Marker, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
      assert(drained, "listener events did not drain within 30 s")
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
