package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-replica collection semantics — what sits BETWEEN the
  * reference's per-database scrape (one collector binary) and the
  * PromQL read side once the deployment grows past one collector:
  * every production Prometheus HA story runs two identical scrapers
  * against the same targets and deduplicates at ingest or query time
  * (the public Cortex/Mimir HA-tracker and Thanos replica-label
  * designs), and the health of the scrape cadence itself is the first
  * observability question a collector fleet answers.
  *
  *   - `metrics_ha_dedup` — per-(series, election window) replica
  *     election: two replicas are derived deterministically from the
  *     sample stream (replica = event_id % 2 — the sandbox analog of
  *     the `__replica__` external label), and for each (event_type,
  *     hour) the replica that delivered MORE samples wins the window
  *     (tie → replica 0, the same "prefer the incumbent/first" rule
  *     the HA tracker applies); losers' samples are the dedup drop
  *     count. One grouped aggregation with conditional counts — no
  *     join, no window, pure integers.
  *   - `metrics_scrape_jitter` — per-series scrape-cadence quality:
  *     actual inter-sample intervals (one series-keyed lag), the
  *     nearest-rank median interval (the repo's floor(p·(n−1)) exact
  *     index rule — selects a stored integer, no interpolation), the
  *     share of intervals deviating >10% from that median (integer
  *     cross-multiplication, no division on the decision path), and
  *     the longest gap. The read that distinguishes "collector is
  *     healthy" from "collector is up but stuttering".
  *
  * Scale shape: ha_dedup is one map-side-combined groupBy on
  * (series, hour, replica) then (series, hour) — keys bounded by
  * series×hours, never sample volume. scrape_jitter is one
  * series-partitioned lag + one series-partitioned rank window + one
  * aggregation; the only broadcast is the |series|-row median table.
  */
object Federation {

  type Q = (SparkSession, String) => DataFrame

  /** HA election window: 1 hour. */
  val ElectionSec = 3600L

  def haDedup: Q = (s, d) => {
    val per = Tables.events(s, d)
      .select(col("event_type"),
        expr(s"(unix_timestamp(date_trunc('second', ts)) DIV $ElectionSec) * $ElectionSec")
          .as("win_sec"),
        (col("event_id") % 2).as("replica"))
      .groupBy(col("event_type"), col("win_sec"))
      .agg(coalesce(count(when(col("replica") === 0, 1)), lit(0L)).as("n_r0"),
        coalesce(count(when(col("replica") === 1, 1)), lit(0L)).as("n_r1"))
    per
      .withColumn("elected_replica",
        when(col("n_r1") > col("n_r0"), 1).otherwise(0).cast("int"))
      .withColumn("n_kept",
        when(col("elected_replica") === 0, col("n_r0")).otherwise(col("n_r1")))
      .withColumn("n_dropped",
        when(col("elected_replica") === 0, col("n_r1")).otherwise(col("n_r0")))
  }

  val haDedupSql: String =
    s"""WITH per AS (
          SELECT event_type,
                 (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // $ElectionSec)
                   * $ElectionSec AS win_sec,
                 count(*) FILTER (WHERE event_id % 2 = 0) AS n_r0,
                 count(*) FILTER (WHERE event_id % 2 = 1) AS n_r1
          FROM events GROUP BY 1, 2)
        SELECT event_type, win_sec, n_r0, n_r1,
               CAST(CASE WHEN n_r1 > n_r0 THEN 1 ELSE 0 END AS INT) AS elected_replica,
               CASE WHEN n_r1 > n_r0 THEN n_r1 ELSE n_r0 END AS n_kept,
               CASE WHEN n_r1 > n_r0 THEN n_r0 ELSE n_r1 END AS n_dropped
        FROM per ORDER BY event_type, win_sec"""

  def scrapeJitter: Q = (s, d) => {
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val iv = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_timestamp(date_trunc('second', ts))").as("sec"), col("event_id"))
      .withColumn("iv", col("sec") - lag(col("sec"), 1).over(wLag))
      .filter(col("iv").isNotNull)
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("iv"), col("sec"), col("event_id"))
    val med = iv
      .withColumn("rn", row_number().over(wRank))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(cnt - 1) DIV 2 + 1")) // nearest-rank floor(0.5*(n-1))
      .select(col("event_type"), col("iv").as("med"))
    iv.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        min(col("med")).as("median_iv_sec"),
        max(col("iv")).as("max_gap_sec"),
        count(when(abs(col("iv") - col("med")) * 10 > col("med"), 1)).as("n_jitter"))
      .withColumn("jitter_share",
        floor(col("n_jitter") * lit(10000) / col("n_intervals")) / 1e4)
  }

  val scrapeJitterSql: String =
    """WITH sm AS (
         SELECT event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                event_id
         FROM events),
       iv AS (
         SELECT event_type, sec, event_id,
                sec - lag(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id) AS iv
         FROM sm),
       nn AS (SELECT * FROM iv WHERE iv IS NOT NULL),
       med AS (
         SELECT event_type, iv AS med FROM (
           SELECT event_type, iv,
                  row_number() OVER (PARTITION BY event_type ORDER BY iv, sec, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS cnt
           FROM nn) t
         WHERE rn = (cnt - 1) // 2 + 1)
       SELECT n.event_type, count(*) AS n_intervals,
              CAST(min(m.med) AS BIGINT) AS median_iv_sec,
              CAST(max(n.iv) AS BIGINT) AS max_gap_sec,
              count(*) FILTER (WHERE abs(n.iv - m.med) * 10 > m.med) AS n_jitter,
              floor(count(*) FILTER (WHERE abs(n.iv - m.med) * 10 > m.med) * 10000
                    / count(*)) / 1e4 AS jitter_share
       FROM nn n JOIN med m USING (event_type)
       GROUP BY n.event_type ORDER BY n.event_type"""

  // ------------------------------------------------ query sharding

  /** Query-frontend sharding (the Mimir/Thanos `sum by` split): a
    * shardable aggregation `sum by (event_type)` is rewritten into 4
    * leg queries, each reading only the series whose label-set hash
    * lands in its shard, plus a trivial merge of the partials. The
    * entry emits BOTH the per-shard partials and the merged totals
    * (shard = −1), so "the shard legs sum exactly to the unsharded
    * answer" is data, not a comment (spec-asserted). Series hashing
    * uses the suite's engine-portable md5 idiom; sums are exact cents.
    *
    * Scale: this is the pattern that lets a PromQL frontend fan a
    * 100 TB aggregation over executors — each leg is an independent
    * partial aggregate over a hash-disjoint series subset. */
  def queryShard: Q = (s, d) => {
    val series = Tables.events(s, d)
      .select(col("event_type"), SeriesHash.keyExpr.as("series_key"),
        floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("shard", expr(SeriesHash.shardExpr("series_key", 4)))
    val partials = series.groupBy(col("event_type"), col("shard"))
      .agg(count(lit(1)).as("n_samples"), sum(col("cents")).as("sum_cents"))
    val totals = partials.groupBy(col("event_type"))
      .agg(lit(-1L).as("shard"), sum(col("n_samples")).as("n_samples"),
        sum(col("sum_cents")).as("sum_cents"))
    partials.unionByName(totals)
  }

  val queryShardSql: String =
    s"""WITH series AS (
         SELECT event_type,
                ${SeriesHash.keySql} AS series_key,
                CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events),
       sh AS (
         SELECT event_type,
                ${SeriesHash.shardSql("series_key", 4)} AS shard,
                cents
         FROM series),
       partials AS (
         SELECT event_type, shard, count(*) AS n_samples,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM sh GROUP BY 1, 2)
       SELECT event_type, shard, n_samples, sum_cents FROM partials
       UNION ALL
       SELECT event_type, CAST(-1 AS BIGINT), CAST(sum(n_samples) AS BIGINT),
              CAST(sum(sum_cents) AS BIGINT)
       FROM partials GROUP BY 1
       ORDER BY event_type, shard"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("metrics_ha_dedup", haDedup, Some(haDedupSql)),
    ("metrics_scrape_jitter", scrapeJitter, Some(scrapeJitterSql)),
    ("prom_query_sharding", queryShard, Some(queryShardSql)))
}
