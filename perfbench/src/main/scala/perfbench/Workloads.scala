package perfbench

import scala.util.Random

/** The benchmark's named workloads: which `SparkEntry.queries` entries a
  * pass runs, and which tables set-up warms. */
final case class Workload(
    name: String,
    /** the table directory, under the benchmark's data root */
    scale: String,
    entries: Seq[String],
    warmTables: Seq[String])

object Workloads {

  val scrapeFloor: Workload = Workload(
    "scrape_floor", "sf0.1",
    Seq(
      "metrics_global_status", "metrics_global_variables", "metrics_innodb_cmp",
      "metrics_innodb_cmp_mem", "metrics_processlist", "metrics_query_response_time",
      "metrics_slave_status", "metrics_pg_stat_database", "events_counter",
      "prom_remote_write", "prom_exposition", "prom_exposition_parse",
      "prom_wire_frame", "prom_wire_snappy", "tsdb_end_to_end",
      "metrics_counter_rate", "metrics_downsample", "stream_events_window",
      "stream_counter_rate", "stream_metrics_scrape", "stream_ha_dedup",
      "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
      "q9_product_profit", "asof_join"),
    warmTables = Seq("lineitem", "orders", "part", "supplier", "nation", "customer", "events"))

  /** One or two entries of each iterative family (graph fixpoints, trained
    * ANN index, dedup clustering), so a run of a few tens of seconds holds
    * more than two passes. */
  val iterativeBuild: Workload = Workload(
    "iterative_build", "sf0.01",
    Seq("graph_pagerank", "graph_kcore", "ann_ivf_pq_topk", "dedup_cluster", "dedup_minhash_lsh"),
    warmTables = Seq("lineitem", "orders", "documents", "embeddings", "events"))

  val all: Seq[Workload] = Seq(scrapeFloor, iterativeBuild)

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  /** The entry order of every pass of one run: pass `p` is the `p`-th
    * shuffle drawn from a generator seeded with `seed`. */
  def passes(w: Workload, seed: Long): Iterator[Vector[String]] = {
    val rng = new Random(seed)
    Iterator.continually(rng.shuffle(w.entries.toVector))
  }
}
