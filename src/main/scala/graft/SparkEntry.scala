package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** All operator entries: (name, query, optional DuckDB oracle SQL),
    * built once. */
  private val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Tpch.entries ++ Tpch2.entries ++ Tpch3.entries ++ Scrapers.entries ++ PromWire.entries ++ PromPush.entries ++ graft.sources.SourceRegistry.entries ++
      graft.sources.Writers.entries ++
      TextAnalysis.entries ++ Dedup.entries ++ Cluster.entries ++ Similarity.entries ++ Multimodal.entries ++
      AsOf.entries ++ Skew.entries ++ Pipeline.entries ++ Reshape.entries ++ Timeseries.entries ++ TimeseriesExt.entries ++ Prune.entries ++
      Sketch.entries ++ Cdc.entries ++ RangeJoin.entries ++ Quality.entries ++ Graph.entries ++ Funnel.entries ++ Cohort.entries ++
      Curation.entries ++ Models.entries ++ Affinity.entries ++ Stats.entries ++ NativeHistogram.entries ++ PromQl.entries ++ Federation.entries ++
      TsdbLifecycle.entries ++ AlertRoute.entries ++ RankStats.entries ++ ScrapePolicy.entries ++ PromApi.entries ++ CurationC4.entries ++ BloomDedup.entries ++ PromQlFns.entries ++ SchemaContract.entries ++ WritePath.entries ++ BinaryQuant.entries ++ TrainPrep.entries ++ IvmQuantile.entries ++
      graft.streaming.EventsStream.entries ++ graft.streaming.LateData.entries ++ graft.streaming.OooStream.entries ++ graft.streaming.AlertStream.entries ++ graft.streaming.DodStream.entries ++ graft.streaming.HllStream.entries ++ graft.streaming.BloomStream.entries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Tpch.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (n, f, _) => n -> f }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] =
    all.collect { case (n, _, Some(sql)) => n -> sql }.toMap

  type Query = (SparkSession, String) => DataFrame

  /** The named entries in name order (no names: all of them). Throws
    * IllegalArgumentException listing every unknown name. */
  def pick(names: Seq[String]): Seq[(String, Query)] = {
    val unknown = names.filterNot(queries.contains).distinct.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(s"unknown entries: ${unknown.mkString(", ")}")
    queries.toSeq.filter(e => names.isEmpty || names.contains(e._1)).sortBy(_._1)
  }

  /** [[pick]] for a command-line tool: an unknown name prints and exits 2. */
  def pickOrExit(names: Seq[String]): Seq[(String, Query)] =
    try pick(names) catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }

  /** An entry's action result or failure, and its construct+action seconds. */
  final case class Outcome[A](name: String, result: Either[Throwable, A], seconds: Double) {
    def failed: Boolean = result.isLeft
    def get: A = result.fold(throw _, identity)
    def reportFailure(tool: String): Unit = result.left.foreach(e =>
      System.err.println(s"[$tool] $name failed: ${e.getClass.getName}: ${e.getMessage}"))
  }

  /** Construct the entry, apply `action` and time both; then, untimed and
    * on failure too, release the cuts the entry left on this thread
    * ([[Checkpoints.release]]), so construction and action must run on the
    * calling thread. Every Throwable becomes the outcome: a crashing entry
    * is named, never dropped. */
  def run[A](spark: SparkSession, sfDir: String, entry: (String, Query))
      (action: DataFrame => A): Outcome[A] = {
    val t0 = System.nanoTime()
    val result = try Right(action(entry._2(spark, sfDir))) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Checkpoints.release()
    Outcome(entry._1, result, seconds)
  }
}
