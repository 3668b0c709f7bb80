package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PromQL evaluation semantics the reference's samples are ultimately
  * read with. The collector ships remote-write samples
  * (collector/internal/utils/prometheus.go:23-120) into a Prometheus
  * whose query engine then applies vector matching, range-query step
  * resolution with the staleness lookback, and boundary-extrapolated
  * `rate()`/`increase()`; a Spark-native engine that owns the store
  * must own those read semantics too. Each entry re-expresses one of
  * them as a single declarative plan:
  *
  *   - `prom_vector_matching` — binary-op vector matching: one-to-one
  *     on the full label set and many-to-one `on(...) group_left`.
  *   - `prom_query_range`     — the range query grid: instant vector at
  *     each step via "latest sample within the lookback window".
  *   - `metrics_rate_extrapolated` — the EXACT extrapolation algorithm
  *     Prometheus' `rate()`/`increase()` run (extrapolate to the window
  *     boundaries unless the first/last samples are farther than 1.1×
  *     the average scrape interval from them; clamp the start
  *     extrapolation at the counter-zero crossing).
  *
  * Scale notes (100 TB): every entry is one series-keyed shuffle with
  * map-side combine; the only join is a broadcast of a |days|- or
  * |series|-bounded side. No corpus windows without partition keys, no
  * explodes, no driver-side loops.
  */
object PromQl {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------- vector matching

  /** PromQL binary-op vector matching over the per-(series, day) sum
    * family: the one-to-one form matches on the FULL label set
    * (`fam / on(event_type, day) fam_count` — here fused into one
    * aggregation since both operands share the grouping), and the
    * many-to-one form `fam / on(day) group_left sum by(day)(fam)`
    * divides each series' daily sum by the day's all-series total while
    * CARRYING the many side's extra `event_type` label — exactly the
    * share-of-total read Prometheus evaluates with group_left label
    * propagation.
    *
    * Scale shape: ONE events scan + one (series, day) aggregation; the
    * `sum by(day)` operand re-aggregates the FAMILY (≤ |series|×|days|
    * rows, never the corpus) as a day-partitioned window over the
    * aggregated frame — no second scan, no join. Sums snap to the
    * 2-decimal grid (inputs are 2-decimal, so round(sum, 2) is
    * order-stable) and each ratio is a single floored division of
    * bit-identical doubles. */
  def vectorMatching: Q = (s, d) => {
    val fam = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("sum_value"),
        count(lit(1)).as("n_samples"))
    fam
      .withColumn("day_total",
        round(sum(col("sum_value")).over(Window.partitionBy(col("day"))), 2))
      .select(col("event_type"), col("day"), col("sum_value"), col("n_samples"),
        (floor(col("sum_value") / col("n_samples") * 1e6) / 1e6).as("avg_value"),
        col("day_total"),
        (floor(col("sum_value") / col("day_total") * 1e6) / 1e6).as("share_of_day"))
  }

  val vectorMatchingSql: String =
    """WITH fam AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                round(sum(value), 2) AS sum_value, count(*) AS n_samples
         FROM events GROUP BY 1, 2),
       t AS (
         SELECT *, round(sum(sum_value) OVER (PARTITION BY day), 2) AS day_total
         FROM fam)
       SELECT event_type, day, sum_value, n_samples,
              floor(sum_value / n_samples * 1e6) / 1e6 AS avg_value,
              day_total,
              floor(sum_value / day_total * 1e6) / 1e6 AS share_of_day
       FROM t ORDER BY event_type, day"""

  // ---------------------------------------------------- query_range

  /** Range query step width and staleness lookback, seconds. The
    * synthetic series scrape every ~22 min, so a 2 h step with a 30 min
    * lookback exercises both hits and staleness gaps. */
  val StepSec = 7200
  val LookbackSec = 1800

  /** PromQL range query `query_range(fam, step=2h, lookback=30m)`: the
    * instant vector at each step timestamp t is each series' LATEST
    * sample in (t − lookback, t] — the lookback window is LEFT-OPEN, as
    * Prometheus 3.x made it (a sample exactly lookback seconds old is
    * already stale); a series with no sample in the window is stale and
    * emits nothing at that step. Evaluated on second-truncated sample
    * timestamps (scrape timestamps are second-aligned in practice).
    *
    * Scale shape: because lookback ≤ step, each sample can serve at
    * most ONE step — the next boundary at/after it — so the whole grid
    * is a map-side step assignment (integer ceil arithmetic, no
    * explode, no spine join) + one (series, step) max(struct)
    * aggregation with map-side combine: one shuffle whose key count is
    * |series| × |steps|, not sample volume. */
  def queryRange: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_sec"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"), col("value"))
      .withColumn("step_sec",
        expr(s"((ts_sec + ${StepSec - 1}) div $StepSec) * $StepSec"))
      .where(col("step_sec") - col("ts_sec") < LookbackSec)
      .groupBy(col("event_type"), col("step_sec"))
      .agg(max(struct(col("ts_us"), col("event_id"), col("value"))).as("last"))
      .select(col("event_type"), col("step_sec"),
        col("last.ts_us").as("sample_ts_us"), col("last.value").as("value"))
  }

  val queryRangeSql: String =
    s"""WITH s AS (
          SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                 epoch_us(ts) AS ts_us, event_id, value
          FROM events),
        a AS (
          SELECT *, ((ts_sec + ${StepSec - 1}) // $StepSec) * $StepSec AS step_sec
          FROM s),
        q AS (
          SELECT event_type, step_sec, ts_us AS sample_ts_us, value,
                 row_number() OVER (PARTITION BY event_type, step_sec
                                    ORDER BY ts_us DESC, event_id DESC) AS rn
          FROM a WHERE step_sec - ts_sec < $LookbackSec)
        SELECT event_type, step_sec, sample_ts_us, value
        FROM q WHERE rn = 1 ORDER BY event_type, step_sec"""

  // ------------------------------------------- extrapolated rate()

  /** Rate window width, seconds (6 h tumbling — ~16 samples/series). */
  val RateWindowSec = 21600

  /** The staged extrapolation formulas, generated ONCE and evaluated
    * verbatim by both engines over bit-identical inputs (integer
    * second bounds + 2-decimal-snapped increase), so every IEEE op runs
    * in the same order everywhere. Mirrors Prometheus'
    * `extrapolatedRate` (promql/functions.go, current ≥v2.44 staging):
    * extrapolate the in-window increase out to the window boundaries,
    * unless the edge sample sits 1.1× the average sample spacing or
    * farther from the boundary — then FIRST reduce the extension to
    * half an average interval, and only THEN clamp the start extension
    * against the counter's zero crossing (pre-2.44 Prometheus clamped
    * before thresholding, which over-extends when the zero crossing
    * lands between avg/2 and the threshold). */
  private val stagedExprs: Seq[(String, String)] = Seq(
    "samp" -> "CAST(last_t - first_t AS DOUBLE)",
    "avg_dur" -> "samp / CAST(n_samples - 1 AS DOUBLE)",
    "dts_thr" -> ("CASE WHEN CAST(first_t - bucket_start AS DOUBLE) >= avg_dur * 1.1 " +
      "THEN avg_dur / 2 ELSE CAST(first_t - bucket_start AS DOUBLE) END"),
    "dts" -> ("CASE WHEN sum_inc > 0 AND first_v >= 0 " +
      "THEN least(samp * (first_v / sum_inc), dts_thr) ELSE dts_thr END"),
    "dte_raw" -> s"CAST(bucket_start + $RateWindowSec - last_t AS DOUBLE)",
    "dte" -> "CASE WHEN dte_raw >= avg_dur * 1.1 THEN avg_dur / 2 ELSE dte_raw END",
    "ext" -> "samp + dts + dte",
    "increase_extrapolated" -> "floor(sum_inc * (ext / samp) * 1e6) / 1e6",
    "rate_per_sec" -> s"floor(sum_inc * (ext / samp) / $RateWindowSec * 1e6) / 1e6")

  /** PromQL `rate()`/`increase()` with Prometheus' boundary
    * extrapolation — the exact algorithm, not the naive last−first:
    * per (series, 6 h window), the in-window increase is the
    * reset-adjusted adjacent-delta sum (`metrics_counter_rate`'s lag
    * chain, windowed so deltas never cross a window edge), then the
    * staged extrapolation above scales it to the full window.
    *
    * Scale shape: the lag window and the aggregation share ONE
    * (series, window) exchange; state per partition is a single lag
    * row + the running aggregate. Windows with fewer than 2 samples
    * are dropped (no rate is defined), exactly as Prometheus does. */
  def rateExtrapolated: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type"), col("bucket_start"))
      .orderBy(col("ts_sec"), col("event_id"))
    val base = Tables.events(s, d)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_id"), col("value"))
      .withColumn("bucket_start",
        (floor(col("ts_sec") / RateWindowSec) * RateWindowSec).cast("long"))
    val g = base
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("inc",
        when(col("delta").isNull, lit(null).cast("double"))
          .when(col("delta") < 0, col("value"))
          .otherwise(col("delta")))
      .groupBy(col("event_type"), col("bucket_start"))
      .agg(count(lit(1)).as("n_samples"),
        min(struct(col("ts_sec"), col("event_id"), col("value"))).as("fst"),
        max(struct(col("ts_sec"), col("event_id"), col("value"))).as("lst"),
        round(coalesce(sum(col("inc")), lit(0.0)), 2).as("sum_inc"))
      .where(col("n_samples") >= 2 && col("lst.ts_sec") > col("fst.ts_sec"))
      .select(col("event_type"), col("bucket_start"), col("n_samples"),
        col("fst.ts_sec").as("first_t"), col("lst.ts_sec").as("last_t"),
        col("fst.value").as("first_v"), col("sum_inc"))
    stagedExprs.foldLeft(g) { case (df, (name, e)) => df.withColumn(name, expr(e)) }
      .select(col("event_type"), col("bucket_start"), col("n_samples"),
        col("sum_inc").as("raw_increase"),
        col("increase_extrapolated"), col("rate_per_sec"))
  }

  val rateExtrapolatedSql: String = {
    val staged = stagedExprs.map { case (n, e) => s"$e AS $n" }.mkString(",\n                 ")
    s"""WITH s AS (
          SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id, value,
                 CAST(floor(floor(epoch(ts)) / $RateWindowSec) * $RateWindowSec AS BIGINT) AS bucket_start
          FROM events),
        l AS (
          SELECT *, value - lag(value) OVER (PARTITION BY event_type, bucket_start
                                             ORDER BY ts_sec, event_id) AS delta,
                 row_number() OVER (PARTITION BY event_type, bucket_start
                                    ORDER BY ts_sec, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bucket_start
                                    ORDER BY ts_sec DESC, event_id DESC) AS rn_d
          FROM s),
        g AS (
          SELECT event_type, bucket_start, count(*) AS n_samples,
                 max(CASE WHEN rn_a = 1 THEN ts_sec END) AS first_t,
                 max(CASE WHEN rn_d = 1 THEN ts_sec END) AS last_t,
                 max(CASE WHEN rn_a = 1 THEN value END) AS first_v,
                 round(coalesce(sum(CASE WHEN delta IS NULL THEN NULL
                                         WHEN delta < 0 THEN value ELSE delta END), 0.0), 2) AS sum_inc
          FROM l GROUP BY 1, 2),
        f AS (
          SELECT *, $staged
          FROM g WHERE n_samples >= 2 AND last_t > first_t)
        SELECT event_type, bucket_start, n_samples, sum_inc AS raw_increase,
               increase_extrapolated, rate_per_sec
        FROM f ORDER BY event_type, bucket_start"""
  }

  // ------------------------------------------------- count_values()

  /** PromQL `count_values("bucket", floor(fam))`: the sample value
    * itself becomes a label and the aggregate counts samples per
    * distinct value — the distribution read behind "how many targets
    * report version X" and integer-gauge histograms. Label cardinality
    * is bounded by the VALUE DOMAIN, not the corpus (floor() compacts
    * the float range exactly as real usage does), so the single groupBy
    * combines map-side and shuffles ≤ |series| × |distinct values|
    * rows regardless of sample volume. */
  def countValues: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        format_string("%d", floor(col("value")).cast("long")).as("value_label"))
      .groupBy(col("event_type"), col("value_label"))
      .agg(count(lit(1)).as("n_samples"))

  val countValuesSql: String =
    """SELECT event_type,
              printf('%d', CAST(floor(value) AS BIGINT)) AS value_label,
              count(*) AS n_samples
       FROM events GROUP BY 1, 2 ORDER BY event_type, value_label"""

  // --------------------------------------------------------- subquery

  /** Subquery step: 30 min; outer range: 12 steps = 6 h. */
  val SubStepSec = 1800L
  val SubWinSteps = 12

  /** PromQL SUBQUERY semantics —
    * `max_over_time(rate(metric[30m])[6h:30m])`: the inner expression
    * is evaluated on its own 30-minute step grid (each step's rate is
    * the sample count in the LEFT-OPEN window (t−30m, t] over the step
    * width — the same samples-are-increments convention as
    * `prom_native_histogram_rate_quantile`), and the outer
    * `max_over_time` ranges over the trailing 12 inner steps. Steps
    * with no samples yield NO inner point (PromQL emits nothing for an
    * empty rate window), and an outer step whose whole 6 h trail is
    * empty emits nothing — both "absent point" rules ride the dense
    * step spine with nulls, exactly like `prom_query_range`'s
    * staleness handling.
    *
    * Engine parity: max commutes with the ÷width rescale (width is a
    * positive constant), so the maximum is taken over INTEGER counts
    * and only the one final division touches floats — evaluated
    * verbatim by both engines, then display-floored at 1e-6.
    *
    * Scale shape: one map-side integer step assignment + one
    * (series, step) count aggregation (≤ |series|×|steps| keys at any
    * sample volume); the spine is |series|×|steps| rows generated from
    * one 1-row bounds aggregate, and the outer max is a
    * series-PARTITIONED 12-row window. No corpus window, no explode
    * over samples. */
  def subqueryMaxRate: Q = (s, d) => {
    val samp = Tables.events(s, d)
      .select(col("event_type"),
        expr("unix_timestamp(date_trunc('second', ts))").as("sec"))
      .withColumn("step_sec",
        expr(s"((sec + ${SubStepSec - 1}) DIV $SubStepSec) * $SubStepSec"))
    val counts = samp.groupBy(col("event_type"), col("step_sec"))
      .agg(count(lit(1)).as("n"))
    val bounds = samp.agg(min(col("step_sec")).as("mn"), max(col("step_sec")).as("mx"))
    val spine = samp.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr(s"sequence(mn, mx, $SubStepSec)")).as("step_sec"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("step_sec"))
      .rowsBetween(-(SubWinSteps - 1), 0)
    spine.join(counts, Seq("event_type", "step_sec"), "left")
      .withColumn("n_max", max(col("n")).over(w))
      .filter(col("n_max").isNotNull)
      .select(col("event_type"), col("step_sec"), col("n_max"),
        (floor(col("n_max").cast("double") / lit(SubStepSec.toDouble) * 1e6) / 1e6)
          .as("max_rate"))
  }

  val subqueryMaxRateSql: String =
    s"""WITH samp AS (
          SELECT event_type,
                 ((CAST(epoch(date_trunc('second', ts)) AS BIGINT) + ${SubStepSec - 1})
                    // $SubStepSec) * $SubStepSec AS step_sec
          FROM events),
        counts AS (SELECT event_type, step_sec, count(*) AS n FROM samp GROUP BY 1, 2),
        bounds AS (SELECT min(step_sec) AS mn, max(step_sec) AS mx FROM samp),
        spine AS (
          SELECT s.event_type, g.step_sec
          FROM (SELECT DISTINCT event_type FROM samp) s,
               (SELECT unnest(generate_series((SELECT mn FROM bounds),
                                              (SELECT mx FROM bounds),
                                              $SubStepSec)) AS step_sec) g),
        m AS (
          SELECT sp.event_type, sp.step_sec,
                 max(c.n) OVER (PARTITION BY sp.event_type ORDER BY sp.step_sec
                   ROWS BETWEEN ${SubWinSteps - 1} PRECEDING AND CURRENT ROW) AS n_max
          FROM spine sp LEFT JOIN counts c USING (event_type, step_sec))
        SELECT event_type, step_sec, CAST(n_max AS BIGINT) AS n_max,
               floor(CAST(n_max AS DOUBLE) / ${SubStepSec}.0 * 1e6) / 1e6 AS max_rate
        FROM m WHERE n_max IS NOT NULL ORDER BY event_type, step_sec"""

  // ------------------------------------------------- delta() (gauge)

  /** The gauge-delta staged pipeline: rateExtrapolated's boundary
    * extrapolation WITHOUT the counter-only pieces — no reset
    * adjustment (the raw difference may be negative) and no
    * counter-zero start clamp (`dts` is the plain 1.1-rule threshold;
    * functions.go applies the zero crossing only when isCounter). */
  private val deltaStagedExprs: Seq[(String, String)] = Seq(
    "samp" -> "CAST(last_t - first_t AS DOUBLE)",
    "avg_dur" -> "samp / CAST(n_samples - 1 AS DOUBLE)",
    "dts" -> ("CASE WHEN CAST(first_t - bucket_start AS DOUBLE) >= avg_dur * 1.1 " +
      "THEN avg_dur / 2 ELSE CAST(first_t - bucket_start AS DOUBLE) END"),
    "dte_raw" -> s"CAST(bucket_start + $RateWindowSec - last_t AS DOUBLE)",
    "dte" -> "CASE WHEN dte_raw >= avg_dur * 1.1 THEN avg_dur / 2 ELSE dte_raw END",
    "ext" -> "samp + dts + dte",
    "delta_extrapolated" -> "floor(raw_delta * (ext / samp) * 1e6) / 1e6")

  /** PromQL `delta(gauge[6h])` — the GAUGE sibling of
    * `metrics_rate_extrapolated`: per (series, window) the raw change
    * is simply last − first (it may be negative; no reset logic, a
    * gauge going down IS the signal), then the same boundary
    * extrapolation scales it to the full window — except the counter-
    * zero start clamp does not apply (Prometheus runs that branch only
    * for counters). Both differences are exactly the published
    * functions.go split between delta() and increase().
    *
    * Scale shape: one (series, window) aggregation — first/last via
    * min/max(struct), no lag chain at all (the raw delta needs only
    * the endpoints), so delta() is CHEAPER than rate() at any scale. */
  def deltaGauge: Q = (s, d) => {
    val g = Tables.events(s, d)
      .select(col("event_type"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_id"), col("value"))
      .withColumn("bucket_start",
        (floor(col("ts_sec") / RateWindowSec) * RateWindowSec).cast("long"))
      .groupBy(col("event_type"), col("bucket_start"))
      .agg(count(lit(1)).as("n_samples"),
        min(struct(col("ts_sec"), col("event_id"), col("value"))).as("fst"),
        max(struct(col("ts_sec"), col("event_id"), col("value"))).as("lst"))
      .where(col("n_samples") >= 2 && col("lst.ts_sec") > col("fst.ts_sec"))
      .select(col("event_type"), col("bucket_start"), col("n_samples"),
        col("fst.ts_sec").as("first_t"), col("lst.ts_sec").as("last_t"),
        round(col("lst.value") - col("fst.value"), 2).as("raw_delta"))
    deltaStagedExprs.foldLeft(g) { case (df, (name, e)) => df.withColumn(name, expr(e)) }
      .select(col("event_type"), col("bucket_start"), col("n_samples"),
        col("raw_delta"), col("delta_extrapolated"))
  }

  val deltaGaugeSql: String = {
    val staged = deltaStagedExprs.map { case (n, e) => s"$e AS $n" }.mkString(",\n                 ")
    s"""WITH s AS (
          SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id, value,
                 CAST(floor(floor(epoch(ts)) / $RateWindowSec) * $RateWindowSec AS BIGINT) AS bucket_start
          FROM events),
        l AS (
          SELECT *, row_number() OVER (PARTITION BY event_type, bucket_start
                                       ORDER BY ts_sec, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bucket_start
                                    ORDER BY ts_sec DESC, event_id DESC) AS rn_d
          FROM s),
        g AS (
          SELECT event_type, bucket_start, count(*) AS n_samples,
                 max(CASE WHEN rn_a = 1 THEN ts_sec END) AS first_t,
                 max(CASE WHEN rn_d = 1 THEN ts_sec END) AS last_t,
                 round(max(CASE WHEN rn_d = 1 THEN value END)
                   - max(CASE WHEN rn_a = 1 THEN value END), 2) AS raw_delta
          FROM l GROUP BY 1, 2),
        f AS (
          SELECT *, $staged
          FROM g WHERE n_samples >= 2 AND last_t > first_t)
        SELECT event_type, bucket_start, n_samples, raw_delta,
               delta_extrapolated
        FROM f ORDER BY event_type, bucket_start"""
  }

  // --------------------------------------------- timestamp functions

  /** PromQL's calendar function family — `minute() hour()
    * day_of_week() day_of_month() days_in_month()` — evaluated over
    * each series' newest sample timestamp (the instant-vector read;
    * all in UTC exactly as Prometheus defines them, day_of_week 0 =
    * Sunday). minute/hour/dow are pure epoch integer arithmetic
    * (epoch day 0 was a Thursday → +4 mod 7); day-of-month and
    * days-in-month go through the calendar (UTC session, both
    * engines). One |series|-bounded aggregate, integer outputs. */
  def timestampFns: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("es"))
      .groupBy(col("event_type")).agg(max(col("es")).as("es"))
      .select(col("event_type"), col("es"),
        expr("(es div 60) % 60").as("minute"),
        expr("(es div 3600) % 24").as("hour"),
        expr("((es div 86400) + 4) % 7").as("day_of_week"),
        expr("cast(day(to_date(timestamp_seconds(es))) as bigint)").as("day_of_month"),
        expr("cast(day(last_day(to_date(timestamp_seconds(es)))) as bigint)")
          .as("days_in_month"))
  }

  val timestampFnsSql: String =
    """WITH m AS (
         SELECT event_type,
                max(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS es
         FROM events GROUP BY 1)
       SELECT event_type, es,
              (es // 60) % 60 AS minute,
              (es // 3600) % 24 AS hour,
              ((es // 86400) + 4) % 7 AS day_of_week,
              CAST(day(to_timestamp(es)::DATE) AS BIGINT) AS day_of_month,
              CAST(day(last_day(to_timestamp(es)::DATE)) AS BIGINT)
                AS days_in_month
       FROM m ORDER BY event_type"""

  def entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_delta_gauge", deltaGauge, Some(deltaGaugeSql)),
    ("prom_timestamp_fns", timestampFns, Some(timestampFnsSql)),
    ("prom_vector_matching", vectorMatching, Some(vectorMatchingSql)),
    ("prom_query_range", queryRange, Some(queryRangeSql)),
    ("prom_count_values", countValues, Some(countValuesSql)),
    ("prom_subquery_max_rate", subqueryMaxRate, Some(subqueryMaxRateSql)),
    ("metrics_rate_extrapolated", rateExtrapolated, Some(rateExtrapolatedSql)))
}
