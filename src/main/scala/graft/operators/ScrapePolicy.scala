package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scrape-config enforcement semantics — the two Prometheus scrape
  * policies the reference's collector-side scrape
  * (collector/exporters/mysql/mysql-exporter.go:12-48, the per-database
  * scrape loop) is subject to once a real server ingests its targets:
  * `sample_limit` (a scrape exceeding the limit FAILS WHOLE — up=0 and
  * every sample dropped, never a partial keep) and `honor_labels`
  * (scraped labels colliding with server-attached target labels are
  * either renamed to exported_* or allowed to win — and when they win,
  * series from different targets can MERGE, the classic cardinality
  * collapse).
  *
  * Scale design (100 TB): both audits reduce the corpus to per-target /
  * per-label-set distinct aggregates before any decision; the verdict
  * tables are |targets| and |label-sets| sized.
  */
object ScrapePolicy {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------ sample_limit

  /** Per-target sample_limit: target = event_type, one series per
    * distinct (user_id mod 100) bucket; the per-target limit models the
    * per-scrape_config knob (varied deterministically per target so the
    * audit exercises both verdicts). A failing scrape keeps NOTHING —
    * the all-or-nothing rule is the point of the semantics. */
  def sampleLimit: Q = (s, d) => {
    val series = Tables.events(s, d)
      .select(col("event_type").as("target"), (col("user_id") % 100).as("series_key"))
      .distinct()
    series.groupBy(col("target"))
      .agg(countDistinct(col("series_key")).as("n_series"))
      .withColumn("sample_limit",
        lit(80L) + (length(col("target")) * 7 % 40).cast("long"))
      .withColumn("up", when(col("n_series") <= col("sample_limit"), 1L).otherwise(0L))
      .withColumn("n_kept",
        when(col("up") === 1, col("n_series")).otherwise(lit(0L)))
  }

  val sampleLimitSql: String =
    """WITH series AS (
         SELECT DISTINCT event_type AS target, user_id % 100 AS series_key
         FROM events),
       t AS (
         SELECT target, count(DISTINCT series_key) AS n_series,
                80 + (length(target) * 7) % 40 AS sample_limit
         FROM series GROUP BY 1)
       SELECT target, n_series, CAST(sample_limit AS BIGINT) AS sample_limit,
              CAST(CASE WHEN n_series <= sample_limit THEN 1 ELSE 0 END
                   AS BIGINT) AS up,
              CAST(CASE WHEN n_series <= sample_limit THEN n_series ELSE 0 END
                   AS BIGINT) AS n_kept
       FROM t ORDER BY target"""

  // ------------------------------------------------ honor_labels

  /** honor_labels conflict resolution: each scraped series carries its
    * own job/instance labels (job = 'exporter_'||k%3 from the event
    * payload, instance = 'u'||user%10) that collide with the
    * server-attached target labels (job = event_type, instance =
    * 'scraper:9090'). honor_labels=false renames the scraped pair to
    * exported_job/exported_instance — per-target series counts are
    * preserved; honor_labels=true lets the scraped pair win — series
    * from different targets merge, and the audit emits the per-final-job
    * series counts under BOTH modes so the cardinality collapse is a
    * number, not a comment. */
  def honorLabels: Q = (s, d) => {
    val scraped = Tables.events(s, d)
      .select(col("event_type").as("target"),
        concat(lit("exporter_"),
          (get_json_object(col("props"), "$.k").cast("int") % 3).cast("string"))
          .as("scraped_job"),
        concat(lit("u"), (col("user_id") % 10).cast("string")).as("scraped_instance"))
      .distinct()
    val honorFalse = scraped
      .groupBy(col("target").as("final_job"))
      .agg(count(lit(1)).as("n_series"))
      .withColumn("mode", lit("honor_false"))
    val honorTrue = scraped
      .groupBy(col("scraped_job").as("final_job"))
      .agg(countDistinct(col("scraped_instance")).as("n_series"))
      .withColumn("mode", lit("honor_true"))
    honorFalse.unionByName(honorTrue)
      .select(col("mode"), col("final_job"), col("n_series"))
  }

  val honorLabelsSql: String =
    """WITH scraped AS (
         SELECT DISTINCT event_type AS target,
                'exporter_' || CAST(json_extract(props, '$.k')::INT % 3 AS VARCHAR)
                  AS scraped_job,
                'u' || CAST(user_id % 10 AS VARCHAR) AS scraped_instance
         FROM events)
       SELECT 'honor_false' AS mode, target AS final_job,
              count(*) AS n_series
       FROM scraped GROUP BY 2
       UNION ALL
       SELECT 'honor_true', scraped_job,
              count(DISTINCT scraped_instance)
       FROM scraped GROUP BY 2
       ORDER BY mode, final_job"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_scrape_limits", sampleLimit, Some(sampleLimitSql)),
    ("prom_honor_labels", honorLabels, Some(honorLabelsSql)))
}
