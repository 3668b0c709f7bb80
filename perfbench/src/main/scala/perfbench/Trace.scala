package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run. `parent` is -1 for the root. Times are
  * wall-clock milliseconds with a nanosecond-resolution duration, so spans
  * line up with Spark's listener event times. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Records spans in memory; nothing is written until the run ends. */
final class Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
  def nextId(): Int = ids.incrementAndGet().toInt

  def add(s: Span): Span = { spans.add(s); s }

  /** Time `body` as a span named `name` under `parent`. */
  def timed[T](parent: Int, name: String, attrs: Map[String, Any] = Map.empty)
      (body: Int => T): (T, Span) = {
    val id = nextId()
    val t0 = nowMs
    val out = body(id)
    (out, add(Span(id, parent, name, t0, nowMs, attrs)))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startMs, s.id))
}

/** Per-span totals of the Spark work attributed to that span. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
}

/** Attributes Spark's jobs, stages, tasks and Catalyst phases to spans,
  * through Spark's public listener APIs only. The client thread tags every
  * job with the job group `pb-<spanId>` of the phase span it runs in;
  * Catalyst phases carry wall-clock times and are matched to the phase
  * span whose interval contains them. */
final class Ledger extends SparkListener with QueryExecutionListener {
  import Ledger._

  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Long)]()
  private val jobSpans = new ConcurrentLinkedQueue[(Int, Int, Long, Long)]()
  private val phases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val qeSeen = new AtomicLong(0)
  @volatile private var flushed = Set.empty[Int]

  def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { span =>
      val c = counters(span)
      c.synchronized(c.jobs += 1)
      jobSpan.put(e.jobId, (span, e.time))
      e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (span, start) =>
      jobSpans.add((e.jobId, span, start, e.time))
      if (span == FlushSpan) flushed += e.jobId
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
      val c = counters(span)
      c.synchronized(c.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = counters(span)
      val info = e.taskInfo
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (!info.successful) c.failedTasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  private def record(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add((phase, s.startTimeMs, s.endTimeMs))
    }
    qeSeen.incrementAndGet()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Catalyst phase intervals `(phase, startMs, endMs)` seen so far. */
  def catalystPhases: Seq[(String, Long, Long)] = phases.asScala.toSeq

  /** Jobs `(jobId, span, startMs, endMs)` that have ended. */
  def jobs: Seq[(Int, Int, Long, Long)] = jobSpans.asScala.toSeq.sortBy(_._1)

  /** Block until every event posted before this call has been delivered:
    * run one tagged job and one query, and wait for both to come back
    * through the listener buses. */
  def flush(spark: SparkSession): Unit = {
    val before = qeSeen.get()
    val sc = spark.sparkContext
    Ledger.tagged(spark, FlushSpan)(spark.range(1).collect())
    val deadline = System.nanoTime() + 30e9.toLong
    def done = qeSeen.get() > before &&
      sc.statusTracker.getJobIdsForGroup(GroupPrefix + FlushSpan).forall(flushed)
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
    require(done, "listener events did not drain within 30 s")
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Ledger {
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "pb-"
  val FlushSpan = 0

  /** Run `body` with every job it launches tagged with span `span`. */
  def tagged[T](spark: SparkSession, span: Int)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(GroupPrefix + span, s"perfbench span $span", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
