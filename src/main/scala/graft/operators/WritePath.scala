package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remote-write SENDER internals — the two structures between the
  * reference's gathered samples and the wire: the sharded send queue
  * (prometheus remote-write queueManager: series hash to a fixed shard
  * so one series' samples stay ordered, shards drain in fixed-size
  * batches) and the TSDB postings index the RECEIVER answers matcher
  * queries from (one inverted posting list per label=value; a query is
  * a posting intersection). Both are deterministic layouts, audited
  * exactly.
  *
  * Scale: queue batching is one shard-partitioned row_number window
  * (shards are fixed-count, each a 1/N corpus slice — the partitioned-
  * window class, not a global sort); the postings index and the
  * selectivity matrix live on the distinct-series universe, label-
  * cardinality-sized at any sample volume.
  */
object WritePath {

  type Q = (SparkSession, String) => DataFrame

  val QueueShards = 4
  val BatchSize = 500

  /** Send-queue layout: series-hash shard assignment (the md5 idiom)
    * keeps every series on ONE shard (per-series order preserved —
    * the property remote write is built on), arrival order within a
    * shard drains in 500-sample batches. Per (shard, batch): sample
    * count, arrival range, distinct series. */
  def queueShards: Q = (s, d) => {
    val samp = Tables.events(s, d).select(
      SeriesHash.keyExpr.as("series_key"),
      col("event_id").as("arrival"))
      .withColumn("shard", expr(SeriesHash.shardExpr("series_key", QueueShards)))
    samp
      .withColumn("rn0", (row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("arrival"))) - 1).cast("long"))
      .withColumn("batch", expr(s"rn0 div $BatchSize"))
      .groupBy(col("shard"), col("batch"))
      .agg(count(lit(1)).as("n_samples"),
        min(col("arrival")).as("first_arrival"),
        max(col("arrival")).as("last_arrival"),
        countDistinct(col("series_key")).as("n_series"))
  }

  val queueShardsSql: String =
    s"""WITH samp AS (
         SELECT ${SeriesHash.keySql} AS series_key,
                event_id AS arrival,
                ${SeriesHash.shardSql(SeriesHash.keySql, QueueShards)} AS shard
         FROM events),
       numbered AS (
         SELECT *, (row_number() OVER (PARTITION BY shard ORDER BY arrival) - 1)
                     // $BatchSize AS batch
         FROM samp)
       SELECT shard, batch, count(*) AS n_samples,
              min(arrival) AS first_arrival, max(arrival) AS last_arrival,
              count(DISTINCT series_key) AS n_series
       FROM numbered GROUP BY 1, 2 ORDER BY shard, batch"""

  // ------------------------------------------------ postings index

  /** TSDB postings: the series universe carries three labels
    * (job = event_type, instance = u mod 10, kbucket = k mod 5); the
    * index holds one posting list per label=value. The audit emits the
    * matcher-pair selectivity matrix for {job=X} ∩ {instance=Y}: both
    * posting sizes, the intersection size, and the selectivity against
    * the full series universe in exact 1e4 integer arithmetic — the
    * numbers a query planner orders matchers by. */
  def postingsIndex: Q = (s, d) => {
    val series = Tables.events(s, d).select(
      col("event_type").as("job"),
      concat(lit("u"), (col("user_id") % 10).cast("string")).as("instance"),
      concat(lit("k"), (get_json_object(col("props"), "$.k").cast("int") % 5)
        .cast("string")).as("kbucket"))
      .distinct()
    val total = series.agg(count(lit(1)).as("n_total"))
    val jobPostings = series.groupBy(col("job"))
      .agg(count(lit(1)).as("n_job")) // series is already distinct
    val instPostings = series.groupBy(col("instance"))
      .agg(count(lit(1)).as("n_instance"))
    val inter = series.groupBy(col("job"), col("instance"))
      .agg(count(lit(1)).as("n_intersect"))
    inter
      .join(broadcast(jobPostings), Seq("job"))
      .join(broadcast(instPostings), Seq("instance"))
      .crossJoin(broadcast(total))
      .select(col("job"), col("instance"), col("n_job"), col("n_instance"),
        col("n_intersect"),
        expr("n_intersect * 10000 div n_total").as("selectivity_x1e4"))
  }

  val postingsIndexSql: String =
    """WITH series AS (
         SELECT DISTINCT event_type AS job,
                'u' || CAST(user_id % 10 AS VARCHAR) AS instance,
                'k' || CAST(json_extract(props, '$.k')::INT % 5 AS VARCHAR)
                  AS kbucket
         FROM events),
       total AS (SELECT count(*) AS n_total FROM series),
       jp AS (SELECT job, count(*) AS n_job FROM series GROUP BY 1),
       ip AS (SELECT instance, count(*) AS n_instance FROM series GROUP BY 1),
       inter AS (
         SELECT job, instance, count(*) AS n_intersect
         FROM series GROUP BY 1, 2)
       SELECT i.job, i.instance, jp.n_job, ip.n_instance, i.n_intersect,
              i.n_intersect * 10000 // t.n_total AS selectivity_x1e4
       FROM inter i
         JOIN jp ON i.job = jp.job
         JOIN ip ON i.instance = ip.instance
         CROSS JOIN total t
       ORDER BY i.job, i.instance"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_queue_shards", queueShards, Some(queueShardsSql)),
    ("tsdb_postings_index", postingsIndex, Some(postingsIndexSql)))
}
