package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A warm session compiles nothing: the generated-code cache
  * (`Engine.session` sizes it) holds the working set of the benchmark's
  * entries, and no entry puts per-run state into its generated code.
  * Runs the 31 entries of the two benchmark workloads (26 scrape-floor,
  * 5 iterative-build) as one pass, each through `SparkEntry.run` with a
  * `noop` write (the runner then releases its cuts), and the same pass
  * again; the second pass must compile no class, and start no job
  * outside a SQL execution (a schema inference). A compile is one update of Spark's
  * compilation-time histogram, counted on the driver and the executor
  * threads alike, so one new class counts twice (one per class loader). */
class CodegenReuseSpec extends SparkTestBase {

  private val scrapeFloor = Seq(
    "metrics_global_status", "metrics_global_variables", "metrics_innodb_cmp",
    "metrics_innodb_cmp_mem", "metrics_processlist", "metrics_query_response_time",
    "metrics_slave_status", "metrics_pg_stat_database", "events_counter",
    "prom_remote_write", "prom_exposition", "prom_exposition_parse",
    "prom_wire_frame", "prom_wire_snappy", "tsdb_end_to_end",
    "metrics_counter_rate", "metrics_downsample", "stream_events_window",
    "stream_counter_rate", "stream_metrics_scrape", "stream_ha_dedup",
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q9_product_profit", "asof_join")
  private val iterativeBuild =
    Seq("graph_pagerank", "graph_kcore", "ann_ivf_pq_topk", "dedup_cluster", "dedup_minhash_lsh")

  /** Entries that may compile on a warm pass, with the most they compiled
    * in 36 measured warm passes (4 processes × 9). The cause is inside
    * Spark: adaptive execution re-plans a join from the runtime sizes of
    * whichever query stages have finished, so the physical join can
    * differ from one execution to the next, and the stage fused around it
    * is then a different class. A process compiles each variant once, the
    * first time it occurs; each entry below did so in 3 of the 36 passes,
    * never twice in one process. */
  private val residual = Map(
    // one class: the label-hop broadcast join with its build side swapped
    // (edges built, labels streamed), fused with the min aggregate
    "dedup_cluster" -> 2,
    // two classes
    "ann_ivf_pq_topk" -> 4)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One pass; the classes each entry compiled. */
  private def pass(): Seq[(String, Long)] = (scrapeFloor ++ iterativeBuild).map { name =>
    val before = compiles
    SparkEntry.run(spark, sf, name -> SparkEntry.queries(name))(
      _.write.mode("overwrite").format("noop").save()).get
    name -> (compiles - before)
  }

  /** The cold pass, shared by the tests below: each then runs a warm one. */
  private lazy val cold = pass()

  test("a warm pass over the benchmark entries compiles no generated class") {
    assert(cold.map(_._2).sum > 0, "the cold pass compiled nothing: is the counter live?")
    val over = pass().filter { case (name, n) => n > residual.getOrElse(name, 0) }
    assert(over.isEmpty, s"warm pass recompiled: ${over.map { case (n, c) => s"$n=$c" }.mkString(", ")}" +
      s" (cold pass: ${cold.map(_._2).sum} classes)")
  }

  /** A warm table read supplies its schema (the `Tables` memo), so the
    * only jobs are the entries' SQL executions: a footer inference job
    * runs outside any. */
  test("a warm pass over the benchmark entries starts no job outside a SQL execution") {
    cold
    val (_, outside) = JobsOutsideSql(spark)(pass())
    assert(outside.isEmpty, s"warm pass started ${outside.size} jobs outside a SQL execution: " +
      outside.distinct.mkString(", "))
  }
}
