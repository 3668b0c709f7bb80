package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Simulates the upstream an iterative loop can lose mid-flight: a
  * source that starts failing once "armed" (static flag — local mode
  * shares the JVM, so executor tasks see it). Stands in for a lost
  * executor's shuffle/cache blocks or a revoked input. */
object PoisonGuard {
  @volatile var armed = false
  def check(x: Long): Long = {
    if (armed) throw new RuntimeException("poisoned upstream re-evaluated")
    x * 2
  }
}

/** The recovery story `Checkpoints` sells, demonstrated rather than
  * asserted in a comment: after a RELIABLE checkpoint, downstream
  * recomputation never re-evaluates the (now failing) upstream — the
  * cut lineage reads checkpoint FILES. After a LOCAL checkpoint, the
  * cut is only as durable as the executor blocks backing it: lose the
  * blocks (here: unpersist, the local-mode stand-in for executor
  * loss) and the plan cannot recover, because the lineage was
  * truncated and the blocks were the only copy. */
class CheckpointRecoverySpec extends SparkTestBase {

  private def poisonedSource: DataFrame = {
    val poison = udf((x: Long) => PoisonGuard.check(x))
    spark.range(0, 1000, 1, 8).toDF("id").select(col("id"), poison(col("id")).as("v"))
  }

  private val ExpectedSum = 2L * (0L until 1000L).sum

  test("reliable checkpoint: downstream survives upstream loss mid-loop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.Flag, "true")
    PoisonGuard.armed = false
    try {
      val cut = Checkpoints.cut(poisonedSource) // eager: materializes to files now
      // upstream "fails" — an iterative loop would hit this on round N+1
      PoisonGuard.armed = true
      assert(cut.agg(sum(col("v"))).head.getLong(0) == ExpectedSum,
        "reliable cut must answer from checkpoint files, not lineage")
      // the files are the durability story — they must really exist
      val files = new java.io.File(dir).listFiles()
      assert(files != null && files.nonEmpty, s"no checkpoint data under $dir")
      // control: the same plan WITHOUT the cut re-evaluates the upstream
      val err = intercept[Exception] {
        poisonedSource.agg(sum(col("v"))).head
      }
      assert(err.getMessage != null)
    } finally {
      PoisonGuard.armed = false
      spark.conf.set(Checkpoints.Flag, "false")
    }
  }

  test("local checkpoint: losing the backing blocks is unrecoverable (the cluster caveat)") {
    PoisonGuard.armed = false
    spark.conf.set(Checkpoints.Flag, "false")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val cut = Checkpoints.cut(poisonedSource) // localCheckpoint: executor blocks
    assert(cut.agg(sum(col("v"))).head.getLong(0) == ExpectedSum)
    PoisonGuard.armed = true
    try {
      // "executor loss": drop the blocks that ARE the local checkpoint
      val newRdds = spark.sparkContext.getPersistentRDDs.filterNot {
        case (id, _) => before.contains(id)
      }
      assert(newRdds.nonEmpty, "localCheckpoint should have persisted an RDD")
      newRdds.values.foreach(_.unpersist(blocking = true))
      intercept[Exception] {
        cut.agg(sum(col("v"))).head
      }
    } finally PoisonGuard.armed = false
  }

  // the next two tests run in order on one thread: the first leaves a
  // cut in the ledger, the second sees it released by SparkTestBase
  test("a test may leave its cuts unreleased") {
    Checkpoints.cut(spark.range(10).toDF("id"))
    assert(Checkpoints.liveCutCount > 0)
  }

  test("the cuts a test left are released after it") {
    assert(Checkpoints.liveCutCount == 0)
  }
}
