package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-typed loaders for the driver's test tables.
  *
  * All reads are plain parquet scans — column pruning and predicate
  * pushdown are left to Catalyst (verified in specs via
  * `PushedFilters` / `ReadSchema` in the formatted plan). At 100 TB
  * these become partitioned-table scans; nothing here assumes the data
  * fits anywhere.
  *
  * Schema memo: a bare `spark.read.parquet` infers the schema from the
  * footers with a Spark job on every call, and the scrape families read
  * the same unchanged tables over and over. So each table's schema is
  * inferred once per file version and every later read supplies it
  * (`spark.read.schema(known).parquet`), which plans the same scan
  * without the job. The key is the qualified path plus the session
  * settings that change what inference returns (`InferenceConfs`,
  * fixed by `Engine.session`); the value is the schema with the stamp it was
  * inferred at: the path's modification time and length, from one
  * `getFileStatus` per read. A read whose stamp differs (the test data
  * is regenerated between rounds) infers again and replaces the entry,
  * so the memo grows only with distinct paths and settings.
  * For a directory input (the 100 TB layout: a table is a directory of
  * part files) the stamp is the directory's own: its modification time
  * moves when a part file is added, removed or renamed into it (on HDFS
  * and local file systems; commit protocols publish by rename), and its
  * length is 0. A part file rewritten in place, or a directory on an
  * object store (no modification time of its own), is not seen; such a
  * layout has to publish a new directory. Concurrent first reads may
  * each infer (the same schema); no lock is held while a job runs.
  */
object Tables {
  /** Session settings that change what parquet schema inference
    * returns (`Engine.session` fixes both for the timestamp vintages). */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (qualified path +: inference settings) → ((modification time, length), schema) */
  private val schemas = new ConcurrentHashMap[Seq[String], ((Long, Long), StructType)]()

  /** A read of the parquet table at `path` that infers its schema only
    * when the memo has none for this version of the file. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val status = p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
    val key = status.getPath.toString +: InferenceConfs.map(k => spark.conf.getOption(k).orNull)
    val stamp = (status.getModificationTime, status.getLen)
    Option(schemas.get(key)).filter(_._1 == stamp) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.put(key, (stamp, df.schema))
        df
    }
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** The driver regenerates testdata between rounds and has already
    * switched timestamp vintages once (events NANOS → MICROS). Guard
    * every timestamp-bearing table the same way events is guarded: a
    * column that surfaces as raw nanos (LongType under the legacy
    * conf) is converted; the timestamp vintages are no-ops. */
  private def adaptTs(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema.find(_.name == c).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.LongType) =>
          d.withColumn(c,
            org.apache.spark.sql.functions.expr(s"timestamp_micros($c div 1000)"))
        case _ => d
      }
    }

  private def tts(spark: SparkSession, dir: String, name: String,
      tsCols: String*): DataFrame =
    adaptTs(t(spark, dir, name), tsCols: _*)

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = tts(s, d, "orders", "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame   = tts(s, d, "lineitem", "l_shipdate")
  /** events.ts arrives in two driver vintages: parquet TIMESTAMP(NANOS)
    * (Spark 4 rejects it as a timestamp type — read raw nanos via the
    * legacy conf and convert) or TIMESTAMP(MICROS, not UTC-adjusted).
    * For the MICROS vintage, disabled NTZ inference (`Engine.session`)
    * makes the scan surface the column directly as the session-UTC
    * TimestampType the
    * operators expect — no per-row cast projection over the corpus
    * scan (the session timezone is pinned UTC, so the reinterpretation
    * is value-preserving and matches DuckDB's naive-timestamp view).
    * Detect per-read from the footer schema so either vintage loads.
    */
  def events(s: SparkSession, d: String): DataFrame = tts(s, d, "events", "ts")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
