package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL function-surface completion — the remaining instant-vector
  * functions and aggregators a reference user reaches for daily:
  * cross-series `topk()` on an evaluation grid, the `clamp()` family,
  * `label_join()` (with its overwrite and empty-source rules), and the
  * `group()` / `stdvar()` / `stddev()` aggregators. Complements
  * `prom_query_range` (range selector + staleness), `prom_vector_matching`
  * (binary-op matching), `metrics_topk_over_time` (per-series top-k over
  * time — a DIFFERENT read than cross-series top-k per instant).
  *
  * Series model (shared): job = event_type, instance = 'u'||user%10 —
  * the label pair the reference's enrichment attaches
  * (collector/internal/utils/prometheus.go:63-88); values in exact
  * cents.
  *
  * Scale shape: every entry is one map-side step/label assignment + one
  * (series[, step]) aggregation; ranking windows partition by
  * (step, job) — bounded by label cardinality, never sample volume.
  */
object PromQlFns {

  type Q = (SparkSession, String) => DataFrame

  private val secExpr = "cast(unix_timestamp(date_trunc('second', ts)) as bigint)"
  private val secSql = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"

  /** Every event as a gauge sample: (job, instance, whole-second sec,
    * event_id, value in cents). */
  private def samples(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_type").as("job"),
      concat(lit("u"), (col("user_id") % 10).cast("string")).as("instance"),
      expr(secExpr).as("sec"), col("event_id"),
      floor(col("value") * 100).cast("long").as("cents"))

  /** The instant vector at the feed's newest timestamp, 7-day lookback:
    * per series the latest sample by (sec, event_id) — the same
    * deterministic last-sample rule as `prom_query_range`. */
  private[operators] def instantVector(s: SparkSession, d: String): DataFrame = {
    val samp = samples(s, d)
    val now = samp.agg(max(col("sec")).as("now_sec"))
    samp.crossJoin(broadcast(now))
      .filter(col("sec") > col("now_sec") - lit(7L * 86400))
      .groupBy(col("job"), col("instance"))
      .agg(max(struct(col("sec"), col("event_id"), col("cents"))).as("last"))
      .select(col("job"), col("instance"),
        col("last.sec").as("sample_sec"), col("last.cents").as("cents"))
  }

  private[operators] val instantVectorSql =
    s"""samp AS (
         SELECT event_type AS job,
                'u' || CAST(user_id % 10 AS VARCHAR) AS instance,
                $secSql AS sec, event_id,
                CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events),
       nowt AS (SELECT max(sec) AS now_sec FROM samp),
       iv AS (
         SELECT job, instance, sec AS sample_sec, cents
         FROM (SELECT s.*, row_number() OVER (
                 PARTITION BY job, instance
                 ORDER BY sec DESC, event_id DESC) AS rn
               FROM samp s, nowt WHERE s.sec > nowt.now_sec - 7 * 86400) t
         WHERE rn = 1)"""

  // ------------------------------------------------ topk (cross-series)

  /** Evaluation step for the cross-series topk grid: 6 h. */
  val TopkStepSec = 21600L

  /** `topk(2, gauge)` evaluated on a 6h step grid: at each step, the
    * top-2 instances per job by the step's last sample. Lookback equals
    * the step width (left-open window), so every sample belongs to
    * exactly ONE step — a map-side assignment, no spine join. PromQL
    * leaves topk ties unspecified; this engine pins them to
    * (value desc, instance asc), the deterministic refinement.
    * Ranking windows partition by (step, job). */
  def topkInstant: Q = (s, d) => {
    val samp = samples(s, d)
      .withColumn("step_sec",
        expr(s"((sec + ${TopkStepSec - 1}) div $TopkStepSec) * $TopkStepSec"))
    val last = samp.groupBy(col("step_sec"), col("job"), col("instance"))
      .agg(max(struct(col("sec"), col("event_id"), col("cents"))).as("l"))
      .select(col("step_sec"), col("job"), col("instance"), col("l.cents").as("cents"))
    last
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("step_sec"), col("job"))
          .orderBy(col("cents").desc, col("instance"))).cast("long"))
      .filter(col("rank") <= 2)
  }

  /** The `*_over_time` aggregation family — `min_over_time
    * max_over_time sum_over_time count_over_time avg_over_time
    * last_over_time` evaluated together on the 6h step grid (lookback
    * = step, so membership is one map-side assignment): six reads, ONE
    * (job, step) aggregation with map-side combine — the same pass a
    * 1000-executor range query would make, never six scans. Values on
    * the exact cents grid; avg is the floored integer division; last
    * is the deterministic (sec, event_id) max-struct rule shared with
    * `prom_query_range`. */
  def overTimeFamily: Q = (s, d) => {
    val samp = Tables.events(s, d).select(
      col("event_type").as("job"), expr(secExpr).as("sec"), col("event_id"),
      floor(col("value") * 100).cast("long").as("cents"))
      .withColumn("step_sec",
        expr(s"((sec + ${TopkStepSec - 1}) div $TopkStepSec) * $TopkStepSec"))
    samp.groupBy(col("job"), col("step_sec"))
      .agg(count(lit(1)).as("n"),
        min(col("cents")).as("min_c"), max(col("cents")).as("max_c"),
        sum(col("cents")).as("sum_c"),
        max(struct(col("sec"), col("event_id"), col("cents"))).as("l"))
      .select(col("job"), col("step_sec"), col("n"), col("min_c"), col("max_c"),
        col("sum_c"), expr("sum_c div n").as("avg_c"), col("l.cents").as("last_c"))
  }

  val overTimeFamilySql: String =
    s"""WITH samp AS (
          SELECT event_type AS job, $secSql AS sec, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS cents,
                 ((($secSql) + ${TopkStepSec - 1}) // $TopkStepSec) * $TopkStepSec
                   AS step_sec
          FROM events),
        r AS (
          SELECT *, row_number() OVER (PARTITION BY job, step_sec
                      ORDER BY sec DESC, event_id DESC) AS rn
          FROM samp)
        SELECT job, step_sec, count(*) AS n,
               min(cents) AS min_c, max(cents) AS max_c,
               CAST(sum(cents) AS BIGINT) AS sum_c,
               CAST(sum(cents) // count(*) AS BIGINT) AS avg_c,
               CAST(max(CASE WHEN rn = 1 THEN cents END) AS BIGINT) AS last_c
        FROM r GROUP BY 1, 2 ORDER BY job, step_sec"""

  /** PromQL `absent_over_time(fam[6h])` on the step grid — the
    * alerting primitive for "this target stopped reporting": at each
    * step a series emits 1 iff it had NO sample in the left-open
    * lookback (= step width, so presence is one map-side assignment —
    * the `prom_topk_instant` grid discipline), and like Prometheus the
    * result vector contains ONLY the absent steps. The step spine is
    * the |steps|-row generated range crossed with the ≤|series|
    * distinct set (analysis-plane; the `alert_flap_detect` shape) —
    * presence aggregates once, the anti-join is on the spine side. */
  def absentOverTime: Q = (s, d) => {
    val samp = Tables.events(s, d).select(
      col("event_type").as("job"),
      concat(lit("u"), (col("user_id") % 10).cast("string")).as("instance"),
      expr(secExpr).as("sec"))
      .withColumn("step_sec",
        expr(s"((sec + ${TopkStepSec - 1}) div $TopkStepSec) * $TopkStepSec"))
    val present = samp.groupBy(col("job"), col("instance"), col("step_sec"))
      .agg(count(lit(1)).as("n"))
    val bounds = samp.agg(min(col("step_sec")).as("lo"), max(col("step_sec")).as("hi"))
    val steps = bounds.select(explode(
      expr(s"sequence(lo, hi, $TopkStepSec)")).as("step_sec"))
    val series = samp.select(col("job"), col("instance")).distinct()
    series.crossJoin(steps)
      .join(present, Seq("job", "instance", "step_sec"), "left_anti")
      .select(col("job"), col("instance"), col("step_sec"), lit(1L).as("absent"))
  }

  val absentOverTimeSql: String =
    s"""WITH samp AS (
          SELECT event_type AS job,
                 'u' || CAST(user_id % 10 AS VARCHAR) AS instance,
                 ((($secSql) + ${TopkStepSec - 1}) // $TopkStepSec) * $TopkStepSec
                   AS step_sec
          FROM events),
        present AS (SELECT job, instance, step_sec FROM samp GROUP BY 1, 2, 3),
        bounds AS (SELECT min(step_sec) AS lo, max(step_sec) AS hi FROM samp),
        steps AS (
          SELECT unnest(generate_series(lo, hi, $TopkStepSec)) AS step_sec
          FROM bounds),
        series AS (SELECT DISTINCT job, instance FROM samp)
        SELECT j.job, j.instance, s.step_sec, CAST(1 AS BIGINT) AS absent
        FROM series j CROSS JOIN steps s
        ANTI JOIN present p ON p.job = j.job AND p.instance = j.instance
          AND p.step_sec = s.step_sec
        ORDER BY j.job, j.instance, s.step_sec"""

  val topkInstantSql: String =
    s"""WITH samp AS (
         SELECT event_type AS job,
                'u' || CAST(user_id % 10 AS VARCHAR) AS instance,
                $secSql AS sec, event_id,
                CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events),
       st AS (
         SELECT *, ((sec + ${TopkStepSec - 1}) // $TopkStepSec) * $TopkStepSec
                     AS step_sec
         FROM samp),
       last AS (
         SELECT step_sec, job, instance, cents
         FROM (SELECT *, row_number() OVER (
                 PARTITION BY step_sec, job, instance
                 ORDER BY sec DESC, event_id DESC) AS rn FROM st) t
         WHERE rn = 1),
       ranked AS (
         SELECT step_sec, job, instance, cents,
                row_number() OVER (PARTITION BY step_sec, job
                                   ORDER BY cents DESC, instance) AS rank
         FROM last)
       SELECT step_sec, job, instance, cents, rank
       FROM ranked WHERE rank <= 2 ORDER BY step_sec, job, rank"""

  // ------------------------------------------------ clamp family

  /** `clamp(v, 50, 200)` / `clamp_min(v, 50)` / `clamp_max(v, 200)` on
    * the instant vector, in cents. The v2.x edge rule — clamp with
    * min > max returns an EMPTY vector, not a crossed clamp — is pinned
    * in the spec (the inverted-bounds variant must yield zero rows). */
  def clampFamily: Q = (s, d) =>
    instantVector(s, d)
      .select(col("job"), col("instance"), col("cents"),
        least(greatest(col("cents"), lit(5000L)), lit(20000L)).as("clamp_cents"),
        greatest(col("cents"), lit(5000L)).as("clamp_min_cents"),
        least(col("cents"), lit(20000L)).as("clamp_max_cents"))

  /** The inverted-bounds edge: PromQL returns the empty vector when
    * min > max (never a crossed clamp). Exposed for the spec. */
  def clampInverted: Q = (s, d) =>
    instantVector(s, d)
      .filter(lit(20000L) <= lit(5000L)) // min=200 > max=50 -> empty
      .select(col("job"), col("instance"), col("cents"))

  val clampFamilySql: String =
    s"""WITH $instantVectorSql
       SELECT job, instance, cents,
              least(greatest(cents, 5000), 20000) AS clamp_cents,
              greatest(cents, 5000) AS clamp_min_cents,
              least(cents, 20000) AS clamp_max_cents
       FROM iv ORDER BY job, instance"""

  // ------------------------------------------------ label_join

  /** `label_join(v, "zone", "-", "job", "instance")`: dst is REPLACED
    * (the pre-existing zone label is overwritten), source labels join
    * with the separator even when empty (instance '' for the u0 bucket
    * models PromQL's missing-label-is-empty-string rule, leaving a
    * trailing separator — faithful, not prettified). Emits the before
    * and after label sets per series. */
  def labelJoin: Q = (s, d) =>
    instantVector(s, d)
      .withColumn("instance_eff",
        when(col("instance") === "u0", lit("")).otherwise(col("instance")))
      .withColumn("zone_before",
        concat(lit("z"), (length(col("job")) % 3).cast("string")))
      .withColumn("zone_after",
        concat(col("job"), lit("-"), col("instance_eff")))
      .select(col("job"), col("instance"), col("instance_eff"),
        col("zone_before"), col("zone_after"), col("cents"))

  val labelJoinSql: String =
    s"""WITH $instantVectorSql
       SELECT job, instance,
              CASE WHEN instance = 'u0' THEN '' ELSE instance END AS instance_eff,
              'z' || CAST(length(job) % 3 AS VARCHAR) AS zone_before,
              job || '-' || CASE WHEN instance = 'u0' THEN '' ELSE instance END
                AS zone_after,
              cents
       FROM iv ORDER BY job, instance"""

  // ------------------------------------------------ group / stdvar / stddev

  /** The remaining v2.20+ aggregators over the instant vector, by job:
    * `group()` (constant 1 — the presence aggregator), `stdvar()` and
    * `stddev()` via the exact-moment identity (n·Σx² − (Σx)²)/n² on
    * cents (DECIMAL(38,0)/HUGEINT until the one final division; /1e4
    * converts cents² to value units). */
  def groupStdvar: Q = (s, d) =>
    instantVector(s, d)
      .groupBy(col("job"))
      .agg(count(lit(1)).as("n_series"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sx2"))
      // the raw variance (num/n² in cents², pre-floor) is computed ONCE
      // so stdvar and stddev can never fork on the moment identity
      .withColumn("var_raw", {
        val n = col("n_series").cast("double")
        (col("n_series").cast("decimal(38,0)") * col("sx2")
          - col("sx") * col("sx")).cast("double") / (n * n) / 1e4
      })
      .select(col("job"), lit(1L).as("group_value"), col("n_series"),
        (floor(col("var_raw") * 1e4) / 1e4).as("stdvar"),
        (floor(sqrt(col("var_raw")) * 1e4) / 1e4).as("stddev"))

  val groupStdvarSql: String =
    s"""WITH $instantVectorSql,
       agg AS (
         SELECT job, count(*) AS n_series,
                sum(CAST(cents AS HUGEINT)) AS sx,
                sum(CAST(cents AS HUGEINT) * cents) AS sx2
         FROM iv GROUP BY job)
       SELECT job, CAST(1 AS BIGINT) AS group_value, n_series,
              floor(CAST(n_series * sx2 - sx * sx AS DOUBLE)
                    / (CAST(n_series AS DOUBLE) * CAST(n_series AS DOUBLE))
                    / 1e4 * 1e4) / 1e4 AS stdvar,
              floor(sqrt(CAST(n_series * sx2 - sx * sx AS DOUBLE)
                         / (CAST(n_series AS DOUBLE) * CAST(n_series AS DOUBLE))
                         / 1e4) * 1e4) / 1e4 AS stddev
       FROM agg ORDER BY job"""

  // ------------------------------------------------ quantile aggregator

  /** `quantile(0.9, v)` by job — the CROSS-SERIES φ-quantile at an
    * instant (quantile_over_time is the per-series read; this is the
    * other axis): PromQL's exact rule is linear interpolation at rank
    * φ·(n−1) over the sorted instance values. Ranks and bracket
    * indices are integers; the interpolation is one fixed double
    * sequence over exact cents, floored at 1e-4. Windows partition by
    * job — |instances| rows each. */
  def quantileAggregator: Q = (s, d) => {
    val phi = 0.9
    val ranked = instantVector(s, d)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("job")).orderBy(col("cents"), col("instance")))
        .cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("job"))))
    // bracket indices (1-based): lo = floor(phi*(n-1)) + 1, hi = min(lo+1, n)
    val withIdx = ranked
      .withColumn("lo_idx", (floor(lit(phi) * (col("n") - 1).cast("double")) + 1).cast("long"))
      .withColumn("hi_idx", least(col("lo_idx") + 1, col("n")))
      .withColumn("frac",
        lit(phi) * (col("n") - 1).cast("double") - floor(lit(phi) * (col("n") - 1).cast("double")))
    withIdx.groupBy(col("job"))
      .agg(max(col("n")).as("n_series"),
        max(when(col("rank") === col("lo_idx"), col("cents"))).as("lo_cents"),
        max(when(col("rank") === col("hi_idx"), col("cents"))).as("hi_cents"),
        max(col("frac")).as("frac"))
      .select(col("job"), col("n_series"), col("lo_cents"), col("hi_cents"),
        (floor((col("lo_cents").cast("double") +
          (col("hi_cents") - col("lo_cents")).cast("double") * col("frac")) * 1e4) / 1e4)
          .as("quantile_cents"))
  }

  val quantileAggregatorSql: String =
    s"""WITH $instantVectorSql,
       ranked AS (
         SELECT job, cents,
                row_number() OVER (PARTITION BY job
                                   ORDER BY cents, instance) AS rank,
                count(*) OVER (PARTITION BY job) AS n
         FROM iv),
       idx AS (
         SELECT *,
                CAST(floor(0.9 * CAST(n - 1 AS DOUBLE)) + 1 AS BIGINT) AS lo_idx,
                least(CAST(floor(0.9 * CAST(n - 1 AS DOUBLE)) + 1 AS BIGINT) + 1,
                      n) AS hi_idx,
                0.9 * CAST(n - 1 AS DOUBLE)
                  - floor(0.9 * CAST(n - 1 AS DOUBLE)) AS frac
         FROM ranked)
       SELECT job, CAST(max(n) AS BIGINT) AS n_series,
              max(CASE WHEN rank = lo_idx THEN cents END) AS lo_cents,
              max(CASE WHEN rank = hi_idx THEN cents END) AS hi_cents,
              floor((CAST(max(CASE WHEN rank = lo_idx THEN cents END) AS DOUBLE)
                     + CAST(max(CASE WHEN rank = hi_idx THEN cents END)
                            - max(CASE WHEN rank = lo_idx THEN cents END) AS DOUBLE)
                       * max(frac)) * 1e4) / 1e4 AS quantile_cents
       FROM idx GROUP BY job ORDER BY job"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_absent_over_time", absentOverTime, Some(absentOverTimeSql)),
    ("prom_over_time_family", overTimeFamily, Some(overTimeFamilySql)),
    ("prom_topk_instant", topkInstant, Some(topkInstantSql)),
    ("prom_clamp", clampFamily, Some(clampFamilySql)),
    ("prom_label_join", labelJoin, Some(labelJoinSql)),
    ("prom_group_stdvar", groupStdvar, Some(groupStdvarSql)),
    ("prom_quantile_aggregator", quantileAggregator, Some(quantileAggregatorSql)))
}
