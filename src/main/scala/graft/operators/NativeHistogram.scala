package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Prometheus NATIVE histograms — the sparse exponential-bucket
  * successor to the fixed `le` grids (the read side Prometheus 3.x is
  * moving to; spec: standard schema n buckets cover
  * `(base^(i-1), base^i]` with `base = 2^(2^-n)`, and only NON-EMPTY
  * buckets are stored). Two reads:
  *
  *   - `prom_native_histogram_quantile` — builds each series' sparse
  *     schema-2 histogram (base = 2^0.25) in one aggregation pass and
  *     runs the native `histogram_quantile()` estimator: covering
  *     bucket by cumulative count, LINEAR interpolation within the
  *     bucket's exponential bounds (the PromQL estimator for
  *     positive-bucket native histograms). A same-fidelity `le` grid
  *     over the value domain would need ~1 boundary per 19% step
  *     hard-coded END TO END; the native form stores only the ≤64
  *     buckets the data actually hits — the ledger's `n_buckets`
  *     column surfaces that sparsity per series.
  *   - `prom_native_histogram_downscale` — schema 2 → schema 0
  *     resolution merge (`idx' = ceil(idx/4)`, pure integer on bucket
  *     INDICES): the native-histogram analog of the cumulative
  *     rebucketing recording rule (`metrics_histogram_rebucket`), and
  *     the compaction step a TSDB applies to age out resolution. Counts
  *     are conserved by construction — the oracle hash-checks the
  *     merged masses.
  *
  * Cross-engine determinism: bucket ASSIGNMENT never calls runtime
  * log() — the exponential boundaries are driver-computed
  * `StrictMath.pow` double literals embedded verbatim in BOTH engines'
  * SQL (the repo-wide no-libm-on-decision-paths contract), so a value
  * lands in the same bucket bit-for-bit everywhere. The quantile
  * interpolation is plain IEEE arithmetic on identical inputs,
  * truncated at 4 dp.
  *
  * Scale: one groupBy(series, idx) aggregation (map-side combined);
  * the per-series windows run over ≤64-row sparse bucket sets, and the
  * quantile fan-out is a 3-literal explode — nothing here grows with
  * row volume past the first aggregation.
  */
object NativeHistogram {

  type Q = (SparkSession, String) => DataFrame

  /** Standard schema 2: base = 2^(1/4); indices covering the events
    * value domain (0.01 .. ~500] with margin. */
  val Schema = 2
  val IdxLo = -28
  val IdxHi = 40

  /** base^i as a round-trip double literal (identical text in both
    * engines ⇒ identical doubles ⇒ identical bucket decisions). */
  private def bound(i: Int): String =
    java.lang.Double.toString(StrictMath.pow(2.0, i / 4.0))

  /** `CASE WHEN value <= base^i THEN i ...` — first match is the native
    * bucket index (smallest i with v ≤ base^i). Shared with the wire
    * encoder (`prom_native_histogram_wire`, PromWire.scala). */
  val idxLadder: String = {
    val whens = (IdxLo to IdxHi)
      .map(i => s"WHEN value <= ${bound(i)} THEN $i").mkString(" ")
    s"(CASE $whens ELSE ${IdxHi + 1} END)"
  }

  /** idx → bucket bound literal, exact CASE on the integer index.
    * The overflow bucket (IdxHi+1 — values past bound(IdxHi)) has no
    * finite exponential bounds: if it ever COVERS a requested quantile
    * the estimate is undefined, so that branch fails loudly in both
    * engines (`errFn` = `raise_error` in Spark / `error` in DuckDB)
    * instead of the silent NULL p50/p90/p99 a missing branch yields. */
  private def boundOf(idxExpr: String, off: Int, errFn: String): String = {
    val whens = (IdxLo to IdxHi)
      .map(i => s"WHEN $i THEN ${bound(i + off)}").mkString(" ")
    val overflowMsg = s"native histogram: quantile falls in the overflow " +
      s"bucket (value > ${bound(IdxHi)}) - widen IdxHi"
    s"(CASE $idxExpr $whens WHEN ${IdxHi + 1} THEN $errFn('$overflowMsg') END)"
  }

  private val qLits = Seq("0.5e0" -> "p50", "0.9e0" -> "p90", "0.99e0" -> "p99")

  /** `histogram_fraction()` upper bounds, with their bucket indices and
    * exponential bounds resolved AT BUILD TIME through the same
    * StrictMath ladder (the threshold is a literal, so its covering
    * bucket is a compile-time fact — no runtime ladder walk at all). */
  private val FractionThresholds: Seq[Double] = Seq(1.0, 10.0, 100.0)
  private def idxOfLiteral(x: Double): Int =
    (IdxLo to IdxHi).find(i => x <= StrictMath.pow(2.0, i / 4.0))
      .getOrElse(IdxHi + 1)

  /** PromQL `histogram_fraction(-Inf, x, h)` — the v2.40+ native-
    * histogram read that answers "what share of observations fell at
    * or under x" WITHOUT choosing quantiles up front (SLO burn math
    * wants P(latency ≤ threshold), not a quantile): observations in
    * buckets wholly below x count fully, and the covering bucket
    * contributes linearly interpolated mass ((x − lo)/(hi − lo), the
    * spec's in-bucket uniformity assumption — the exact mirror of the
    * quantile estimator's interpolation). Each threshold's covering
    * bucket index and bounds are DRIVER-computed literals through the
    * shared StrictMath ladder, so the per-(series, threshold) read is
    * two conditional sums over the ≤64-row sparse bucket set and one
    * IEEE interpolation, floored to the 1e-6 grid. */
  def nativeFraction: Q = (s, d) => {
    val buckets = Tables.events(s, d)
      .select(col("event_type"), expr(idxLadder).as("idx"))
      .groupBy(col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
    val per = FractionThresholds.map { x =>
      val ti = idxOfLiteral(x)
      val lo = bound(ti - 1); val hi = bound(ti)
      buckets.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("total"),
          coalesce(sum(when(col("idx") < ti, col("cnt"))), lit(0L)).as("below"),
          coalesce(sum(when(col("idx") === ti, col("cnt"))), lit(0L)).as("inb"))
        .select(col("event_type"),
          lit(x).as("x"), col("total"), col("below"), col("inb"),
          expr(s"""cast(floor((cast(below as double)
                     + cast(inb as double) * (cast($x as double) - $lo) / ($hi - $lo))
                   / cast(total as double) * 1e6) as bigint)""").as("frac_x1e6"))
    }
    per.reduce(_ unionByName _)
  }

  val nativeFractionSql: String = {
    val arms = FractionThresholds.map { x =>
      val ti = idxOfLiteral(x)
      val lo = bound(ti - 1); val hi = bound(ti)
      s"""SELECT event_type, CAST($x AS DOUBLE) AS x,
                 CAST(sum(cnt) AS BIGINT) AS total,
                 CAST(coalesce(sum(CASE WHEN idx < $ti THEN cnt END), 0) AS BIGINT)
                   AS below,
                 CAST(coalesce(sum(CASE WHEN idx = $ti THEN cnt END), 0) AS BIGINT)
                   AS inb,
                 CAST(floor((CAST(coalesce(sum(CASE WHEN idx < $ti THEN cnt END), 0) AS DOUBLE)
                        + CAST(coalesce(sum(CASE WHEN idx = $ti THEN cnt END), 0) AS DOUBLE)
                          * (CAST($x AS DOUBLE) - $lo) / ($hi - $lo))
                      / CAST(sum(cnt) AS DOUBLE) * 1e6) AS BIGINT) AS frac_x1e6
          FROM b GROUP BY event_type"""
    }.mkString("\n        UNION ALL\n        ")
    s"""WITH b AS (
          SELECT event_type, $idxLadder AS idx, count(*) AS cnt
          FROM events GROUP BY 1, 2)
        $arms
        ORDER BY event_type, x"""
  }

  def nativeQuantile: Q = (s, d) => {
    val buckets = Tables.events(s, d)
      .select(col("event_type"), expr(idxLadder).as("idx"))
      .groupBy(col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = buckets
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      .withColumn("nb", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
    val est = cum
      .select(col("event_type"), col("idx"), col("cnt"), col("cum"),
        col("total"), col("nb"),
        explode(array(qLits.map(q => lit(q._1.dropRight(2).toDouble)): _*)).as("q"))
      .withColumn("target", col("q") * col("total"))
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("cnt")) < col("target"))
      .withColumn("lo", expr(boundOf("idx", -1, "raise_error")))
      .withColumn("hi", expr(boundOf("idx", 0, "raise_error")))
      .withColumn("est", expr(
        "floor((lo + (hi - lo) * (target - (cum - cnt)) / cnt) * 1e4) / 1e4"))
    est.groupBy(col("event_type"))
      .agg(max(col("nb")).as("n_buckets"),
        max(when(col("q") === 0.5, col("est"))).as("p50"),
        max(when(col("q") === 0.9, col("est"))).as("p90"),
        max(when(col("q") === 0.99, col("est"))).as("p99"))
  }

  val nativeQuantileSql: String =
    s"""WITH b AS (
          SELECT event_type, $idxLadder AS idx, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        c AS (
          SELECT event_type, idx, cnt,
                 sum(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type) AS total,
                 count(*) OVER (PARTITION BY event_type) AS nb
          FROM b),
        e AS (
          SELECT event_type, nb, q,
                 floor((${boundOf("idx", -1, "error")}
                        + (${boundOf("idx", 0, "error")} - ${boundOf("idx", -1, "error")})
                          * (q * total - (cum - cnt)) / cnt) * 1e4) / 1e4 AS est
          FROM c CROSS JOIN (VALUES (${qLits.map(_._1).mkString("), (")})) qs(q)
          WHERE cum >= q * total AND cum - cnt < q * total)
        SELECT event_type, CAST(max(nb) AS BIGINT) AS n_buckets,
               max(CASE WHEN q = 0.5e0 THEN est END) AS p50,
               max(CASE WHEN q = 0.9e0 THEN est END) AS p90,
               max(CASE WHEN q = 0.99e0 THEN est END) AS p99
        FROM e GROUP BY event_type ORDER BY event_type"""

  /** Rate-quantile window width: 6 h, the `metrics_burn_rate` grain. */
  val RateWinSec = 21600L

  /** THE canonical PromQL latency read,
    * `histogram_quantile(0.9, rate(native_histogram[6h]))`: per
    * (series, 6 h window) the per-bucket count delta IS the rate
    * numerator (each window's samples are that window's increments —
    * the TSDB's cumulative-counter delta collapses to a windowed
    * count), and the quantile estimator runs over the windowed sparse
    * histogram exactly as `prom_native_histogram_quantile` runs over
    * the corpus one: covering bucket by cumulative count, linear
    * interpolation inside driver-literal exponential bounds, overflow
    * bucket fails loudly. One groupBy(series, window, idx) with
    * map-side combine; the per-window windows run over ≤64-row sparse
    * bucket sets — nothing past the first aggregation grows with
    * sample volume. */
  def nativeRateQuantile: Q = (s, d) => {
    val buckets = Tables.events(s, d)
      .select(col("event_type"),
        (floor(unix_timestamp(col("ts")) / RateWinSec) * RateWinSec).cast("long")
          .as("win_sec"),
        expr(idxLadder).as("idx"))
      .groupBy(col("event_type"), col("win_sec"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("win_sec")).orderBy(col("idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("win_sec"))
    buckets
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("q", lit(0.9e0))
      .withColumn("target", col("q") * col("total"))
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("cnt")) < col("target"))
      .withColumn("lo", expr(boundOf("idx", -1, "raise_error")))
      .withColumn("hi", expr(boundOf("idx", 0, "raise_error")))
      .select(col("event_type"), col("win_sec"), col("total").as("n_samples"),
        expr("floor((lo + (hi - lo) * (target - (cum - cnt)) / cnt) * 1e4) / 1e4")
          .as("p90"),
        expr(s"floor(CAST(total AS DOUBLE) / $RateWinSec * 1e6) / 1e6")
          .as("rate_per_sec"))
  }

  val nativeRateQuantileSql: String =
    s"""WITH b AS (
          SELECT event_type,
                 CAST(floor(floor(epoch(ts)) / $RateWinSec) * $RateWinSec AS BIGINT) AS win_sec,
                 $idxLadder AS idx, count(*) AS cnt
          FROM events GROUP BY 1, 2, 3),
        c AS (
          SELECT event_type, win_sec, idx, cnt,
                 sum(cnt) OVER (PARTITION BY event_type, win_sec ORDER BY idx) AS cum,
                 sum(cnt) OVER (PARTITION BY event_type, win_sec) AS total
          FROM b)
        SELECT event_type, win_sec, CAST(total AS BIGINT) AS n_samples,
               floor((${boundOf("idx", -1, "error")}
                      + (${boundOf("idx", 0, "error")} - ${boundOf("idx", -1, "error")})
                        * (0.9e0 * total - (cum - cnt)) / cnt) * 1e4) / 1e4 AS p90,
               floor(CAST(total AS DOUBLE) / $RateWinSec * 1e6) / 1e6 AS rate_per_sec
        FROM c
        WHERE cum >= 0.9e0 * total AND cum - cnt < 0.9e0 * total
        ORDER BY event_type, win_sec"""

  def nativeDownscale: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"), expr(idxLadder).as("idx"))
      .groupBy(col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("bucket_idx", expr("cast(ceil(idx / 4.0) as int)"))
      .groupBy(col("event_type"), col("bucket_idx"))
      .agg(sum(col("cnt")).as("cnt"), count(lit(1)).as("n_merged"))
  }

  val nativeDownscaleSql: String =
    s"""WITH b AS (
          SELECT event_type, $idxLadder AS idx, count(*) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT event_type, CAST(ceil(idx / 4.0) AS INT) AS bucket_idx,
               CAST(sum(cnt) AS BIGINT) AS cnt, count(*) AS n_merged
        FROM b GROUP BY 1, 2 ORDER BY event_type, bucket_idx"""

  /** PromQL `sum(native_histogram)` — the cross-series AGGREGATION the
    * native format was designed to make cheap: histograms with the same
    * schema merge by bucket-INDEX union with counts added (no
    * re-bucketing, no interpolation — the exponential grid is shared),
    * which is how a fleet-wide latency histogram is assembled from
    * per-instance ones before `histogram_quantile` runs on it. Emits
    * the merged sparse histogram as a ledger: per index the summed
    * count, how many series contribute a non-empty bucket, the
    * cumulative count and its share of total mass. Pure integers plus
    * one display share; the cumulative runs over the ≤${IdxHi - IdxLo + 2}
    * fixed ladder indices (structurally bounded by the schema, never by
    * data — the same bound the quantile estimator rides). */
  def nativeSum: Q = (s, d) => {
    val buckets = Tables.events(s, d)
      .select(col("event_type"), expr(idxLadder).as("idx"))
      .groupBy(col("event_type"), col("idx"))
      .agg(count(lit(1)).as("cnt"))
    val merged = buckets.groupBy(col("idx"))
      .agg(count(lit(1)).as("n_series"), sum(col("cnt")).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("idx"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    merged
      .withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(merged.agg(sum(col("cnt")).as("total"))))
      .select(col("idx"), col("n_series"), col("cnt"), col("cum"),
        (floor(col("cum") * lit(10000) / col("total")) / 1e4).as("mass_share"))
  }

  val nativeSumSql: String =
    s"""WITH b AS (
          SELECT event_type, $idxLadder AS idx, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        m AS (
          SELECT idx, count(*) AS n_series, CAST(sum(cnt) AS BIGINT) AS cnt
          FROM b GROUP BY 1),
        c AS (
          SELECT idx, n_series, cnt,
                 CAST(sum(cnt) OVER (ORDER BY idx
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM m)
        SELECT idx, n_series, cnt, cum,
               floor(cum * 10000 / (SELECT sum(cnt) FROM m)) / 1e4 AS mass_share
        FROM c ORDER BY idx"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_native_histogram_fraction", nativeFraction, Some(nativeFractionSql)),
    ("prom_native_histogram_quantile", nativeQuantile, Some(nativeQuantileSql)),
    ("prom_native_histogram_rate_quantile", nativeRateQuantile, Some(nativeRateQuantileSql)),
    ("prom_native_histogram_sum", nativeSum, Some(nativeSumSql)),
    ("prom_native_histogram_downscale", nativeDownscale, Some(nativeDownscaleSql)))
}
