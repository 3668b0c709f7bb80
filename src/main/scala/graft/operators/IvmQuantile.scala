package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVM for a NON-abelian read — the exact median under retractions.
  * A median cannot be maintained as a running aggregate (deletes break
  * every online-quantile trick), but its VALUE-HISTOGRAM can: the
  * maintained state is the per-(series, cents) signed refcount (a
  * plain abelian sum, so deltas merge additively in any chunk order —
  * the ivm_agg_delta contract), and the median recomputes from the
  * positive-refcount histogram in one partitioned cumulative pass.
  * This is the standard lakehouse shape for "maintainable quantiles":
  * store the histogram, derive the quantile at read.
  *
  * Retraction model (shared with the ivm family's signed stream): a
  * tenth of the feed (props k ≡ 0 mod 10) are corrections that
  * retract one unit at their own (series, cents) coordinate.
  *
  * Scale: state is |series| × |distinct cents| (value-domain bounded,
  * ~49k cells at ANY event volume); the cumulative windows partition
  * by series. Nothing corpus-sized is sorted or kept.
  */
object IvmQuantile {

  type Q = (SparkSession, String) => DataFrame

  /** The maintained state both reads derive from: the per-(series,
    * cents) signed refcount histogram, positive cells only. */
  private def liveCells(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        when(get_json_object(col("props"), "$.k").cast("int") % 10 === 0, lit(-1L))
          .otherwise(lit(1L)).as("op"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(col("op")).as("rc"))
      .filter(col("rc") > 0)

  def quantileDelta: Q = (s, d) => {
    val rc = liveCells(s, d)
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val ranked = rc
      .withColumn("cum", sum(col("rc")).over(wCum))
      .withColumn("tot", sum(col("rc")).over(wAll))
      .withColumn("n_cells", count(lit(1)).over(wAll))
      .withColumn("rank", expr("(tot + 1) div 2"))
    ranked.filter(col("cum") >= col("rank"))
      .groupBy(col("event_type"))
      .agg(max(col("tot")).as("n_net"), max(col("n_cells")).as("n_cells"),
        min(col("cents")).as("median_cents"))
  }

  val quantileDeltaSql: String =
    """WITH rc AS (
         SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN json_extract(props, '$.k')::INT % 10 = 0
                              THEN -1 ELSE 1 END) AS BIGINT) AS rc
         FROM events GROUP BY 1, 2),
       pos AS (SELECT * FROM rc WHERE rc > 0),
       c AS (
         SELECT event_type, cents, rc,
                CAST(sum(rc) OVER (PARTITION BY event_type ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS cum,
                CAST(sum(rc) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
                count(*) OVER (PARTITION BY event_type) AS n_cells
         FROM pos)
       SELECT event_type, CAST(max(tot) AS BIGINT) AS n_net,
              CAST(max(n_cells) AS BIGINT) AS n_cells,
              min(cents) AS median_cents
       FROM c WHERE cum >= (tot + 1) // 2
       GROUP BY event_type ORDER BY event_type"""

  /** Top-k read maintained under the SAME signed refcount state — the
    * other classically "unmaintainable" read beside the median: a heap
    * breaks on retraction (an evicted element may need to re-enter;
    * the heap no longer has it), but the value-histogram state answers
    * top-k exactly at read time — a retraction that zeroes a top cell
    * promotes the next cell with no special casing, because the read
    * derives from the full positive-refcount histogram, not a bounded
    * summary. Per series: the top-3 cents cells by value with their
    * net counts and ranks. Same state as `ivm_quantile_delta` (one
    * maintained histogram serves BOTH reads — the point of the
    * histogram-state design); the ranking window partitions by series
    * over the value-domain-bounded cell table. */
  def topkDelta: Q = (s, d) => {
    val rc = liveCells(s, d)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").desc)
    rc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("event_type"), col("rank"), col("cents"), col("rc"))
  }

  val topkDeltaSql: String =
    """WITH rc AS (
         SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
                CAST(sum(CASE WHEN json_extract(props, '$.k')::INT % 10 = 0
                              THEN -1 ELSE 1 END) AS BIGINT) AS rc
         FROM events GROUP BY 1, 2),
       pos AS (SELECT * FROM rc WHERE rc > 0),
       r AS (
         SELECT event_type, cents, rc,
                CAST(row_number() OVER (PARTITION BY event_type
                  ORDER BY cents DESC) AS BIGINT) AS rank
         FROM pos)
       SELECT event_type, rank, cents, rc
       FROM r WHERE rank <= 3 ORDER BY event_type, rank"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("ivm_quantile_delta", quantileDelta, Some(quantileDeltaSql)),
    ("ivm_topk_delta", topkDelta, Some(topkDeltaSql)))
}
