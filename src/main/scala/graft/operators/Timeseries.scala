package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the metric stream — the storage/query
  * side of the reference's collector loop. The reference ships samples
  * to a Prometheus remote-write endpoint
  * (collector/internal/utils/prometheus.go:23-120) and lets the TSDB
  * do rate/downsample/gap-fill; a Spark-native engine owns that half
  * too, so these re-express the PromQL-shaped reads as single-window /
  * single-aggregation DataFrame plans.
  *
  * Scale notes (100 TB): every op here is keyed by series
  * (event_type) — one shuffle on the series key, then per-series
  * windows whose state is a single row (lag) or a bounded frame
  * (24-row sliding quantile). The gap-fill spine is |series| × |hours|
  * — generated, never materialized from the fact table. Nothing holds
  * per-series history in memory beyond the frame.
  */
object Timeseries {

  type Q = (SparkSession, String) => DataFrame

  /** PromQL `increase()`/`rate()` analog with counter-reset detection:
    * per-series adjacent delta (lag over (ts, event_id) total order);
    * a negative delta means the counter reset, so the increase since
    * the reset is the sample value itself — exactly Prometheus'
    * extrapolation-free reset rule. One window + one aggregation. */
  def counterRate: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("inc",
        when(col("delta").isNull, lit(0.0))     // first sample: no increase yet
          .when(col("delta") < 0, col("value")) // counter reset: count from 0
          .otherwise(col("delta")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("inc")), 2).as("increase"))
      .withColumn("rate_per_sec", floor(col("increase") / 86400.0 * 1e6) / 1e6)
  }

  val counterRateSql: String =
    """WITH s AS (
         SELECT event_type, ts, value,
                value - lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS delta
         FROM events),
       i AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CASE WHEN delta IS NULL THEN 0.0
                     WHEN delta < 0 THEN value ELSE delta END AS inc
         FROM s)
       SELECT event_type, day, round(sum(inc), 2) AS increase,
              floor(round(sum(inc), 2) / 86400.0 * 1e6) / 1e6 AS rate_per_sec
       FROM i GROUP BY 1, 2 ORDER BY event_type, day"""

  /** PromQL `resets()`: how many times each series' counter reset per
    * day — the restart/crash indicator read alongside rate(). Same
    * single series-keyed shuffle + lag chain as `metrics_counter_rate`;
    * the aggregation is a pure integer conditional count, so there is
    * no float surface at all. */
  def resets: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(when(col("delta") < 0, 1)).as("resets"))
  }

  val resetsSql: String =
    """WITH s AS (
         SELECT event_type, ts, event_id,
                value - lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS delta
         FROM events)
       SELECT event_type, CAST(ts AS DATE) AS day,
              count(*) FILTER (WHERE delta < 0) AS resets
       FROM s GROUP BY 1, 2 ORDER BY event_type, day"""

  /** Retention downsampling: 6-hour gauge rollup per series — the
    * compaction step every metrics store runs. ONE aggregation with
    * map-side combine; bucket key is integer epoch arithmetic (no
    * timezone surface). */
  def downsample: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 21600) * 21600).cast("long").as("bucket_start"))
      .agg(count(lit(1)).as("samples"),
        // avg from the ROUNDED sum: round(sum,2) is stable (2-decimal
        // inputs keep true sums far from the .005 boundary), and the
        // subsequent divide/trunc then runs on bit-identical doubles
        // in every engine — unlike round(avg(…)), whose input differs
        // by summation order.
        (floor(round(sum(col("value")), 2) / count(lit(1)) * 1e4) / 1e4).as("avg_value"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))
  }

  val downsampleSql: String =
    """SELECT event_type,
              CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_start,
              count(*) AS samples,
              floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value,
              round(min(value), 2) AS min_value,
              round(max(value), 2) AS max_value
       FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_start"""

  /** Hourly series per event_type (shared by gapFill / quantileOverTime). */
  private def hourly(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg((floor(round(sum(col("value")), 2) / count(lit(1)) * 1e4) / 1e4).as("avg_value"))

  /** Dense-spine gap fill with forward fill (PromQL lookback /
    * `locf`): generate the full per-series hour spine, left-join the
    * observed hourly points, forward-fill with the last non-null
    * value. The spine is generated (sequence+explode, |series|×|hours|
    * rows) — never derived by scanning the fact table twice; leading
    * hours before a series' first sample stay null, like a TSDB
    * returning no point before first ingest. */
  def gapFill: Q = (s, d) => {
    val h = hourly(s, d)
    val bounds = h.agg(min(col("hour_sec")).as("h0"), max(col("hour_sec")).as("h1"))
    val spine = h.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1, 3600)")).as("hour_sec"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(h, Seq("event_type", "hour_sec"), "left")
      .withColumn("filled", col("avg_value").isNull)
      .withColumn("value", last(col("avg_value"), ignoreNulls = true).over(w))
      .select(col("event_type"), col("hour_sec"), col("value"), col("filled"))
  }

  val gapFillSql: String =
    """WITH ev AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec, value
         FROM events),
       hourly AS (
         SELECT event_type, hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value
         FROM ev GROUP BY 1, 2),
       b AS (SELECT min(hour_sec) AS h0, max(hour_sec) AS h1 FROM hourly),
       spine AS (
         SELECT et.event_type, gs.h AS hour_sec
         FROM (SELECT DISTINCT event_type FROM hourly) et
         CROSS JOIN (SELECT unnest(generate_series(h0, h1, 3600)) AS h FROM b) gs)
       SELECT s.event_type, s.hour_sec,
              last_value(h.avg_value IGNORE NULLS) OVER (
                PARTITION BY s.event_type ORDER BY s.hour_sec
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
              h.avg_value IS NULL AS filled
       FROM spine s LEFT JOIN hourly h USING (event_type, hour_sec)
       ORDER BY event_type, hour_sec"""

  /** PromQL `quantile_over_time(0.95, m[24h])` analog: sliding p95 of
    * the hourly series over a trailing 24-row frame. Rollup first
    * (hourly avg shrinks the series 100000× at 100 TB), THEN the
    * sliding quantile over the bounded frame — the frame holds 24
    * values regardless of raw cardinality. Nearest-rank (discrete)
    * quantile with an explicit index rule, floor(p·(n−1)): selects a
    * stored double, so the result is engine-portable where
    * interpolated quantiles split on round boundaries. */
  def quantileOverTime: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-23, Window.currentRow)
    hourly(s, d)
      .withColumn("frame", sort_array(collect_list(col("avg_value")).over(w)))
      .withColumn("p95_24h", element_at(col("frame"),
        (floor(lit(0.95) * (size(col("frame")) - 1)) + 1).cast("int")))
      .select(col("event_type"), col("hour_sec"), col("avg_value"), col("p95_24h"))
  }

  val quantileOverTimeSql: String =
    """WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value
         FROM events GROUP BY 1, 2),
       f AS (
         SELECT event_type, hour_sec, avg_value,
                list(avg_value) OVER (
                  PARTITION BY event_type ORDER BY hour_sec
                  ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS frame
         FROM hourly)
       SELECT event_type, hour_sec, avg_value,
              list_sort(frame)[CAST(floor(0.95 * (len(frame) - 1)) AS INT) + 1] AS p95_24h
       FROM f ORDER BY event_type, hour_sec"""

  /** SCD2 dimension build (CDC history): per user, each change of
    * event_type opens a new validity interval [valid_from, valid_to);
    * the open interval is the current row. One shuffle on the entity
    * key, two window passes over the same partitioning (change
    * detection, then interval stitching on the change rows only). */
  def scd2Dimension: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_from",
        date_format(date_trunc("second", col("ts")), "yyyy-MM-dd HH:mm:ss"))
    changes
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("event_type").as("attr_value"), col("version"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** SCD2 point-in-time (PIT) join — the READ side of the dimension:
    * enrich each fact with the dimension version valid at the fact's
    * timestamp. Expressed as an as-of merge, not an interval join: dim
    * versions and facts union into one entity-keyed stream ordered by
    * (ts, kind) with dim rows first at ties, and a running
    * `last(ignoreNulls)` carries the in-effect version onto each fact.
    * ONE shuffle on the entity key + one window — at 100 TB this
    * shape beats the BETWEEN-join formulation (whose per-entity
    * interval×fact pairing degrades to a range join) while returning
    * the same rows; the oracle RUNS the BETWEEN formulation, so the
    * hash match proves the equivalence. Facts: purchase events; dim:
    * the user's event-type state chain. */
  def scd2PitJoin: Q = (s, d) => {
    val dim = scd2Dimension(s, d)
      .select(col("user_id"), col("valid_from").as("ord_ts"), lit(0).as("kind"),
        col("attr_value"), col("version"), lit(null).cast("long").as("event_id"))
    val facts = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        date_format(date_trunc("second", col("ts")), "yyyy-MM-dd HH:mm:ss").as("ord_ts"),
        lit(1).as("kind"),
        lit(null).cast("string").as("attr_value"),
        lit(null).cast("int").as("version"),
        col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ord_ts"), col("kind"), col("version"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("state", last(when(col("kind") === 0, col("attr_value")), ignoreNulls = true).over(w))
      .withColumn("state_version", last(when(col("kind") === 0, col("version")), ignoreNulls = true).over(w))
      .filter(col("kind") === 1 && col("state").isNotNull)
      .select(col("event_id"), col("user_id"), col("ord_ts").as("purchase_ts"),
        col("state"), col("state_version"))
  }

  val scd2PitJoinSql: String =
    """WITH o AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         FROM events),
       c AS (
         SELECT user_id, ts, event_id, event_type,
                strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS valid_from
         FROM o WHERE prev_type IS NULL OR prev_type <> event_type),
       v AS (
         SELECT user_id, event_type AS attr_value,
                CAST(row_number() OVER w AS INT) AS version,
                valid_from,
                lead(valid_from) OVER w AS valid_to
         FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       p AS (
         SELECT event_id, user_id,
                strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS purchase_ts
         FROM events WHERE event_type = 'purchase')
       SELECT p.event_id, p.user_id, p.purchase_ts,
              v.attr_value AS state, v.version AS state_version
       FROM p JOIN v ON p.user_id = v.user_id
         AND p.purchase_ts >= v.valid_from
         AND (v.valid_to IS NULL OR p.purchase_ts < v.valid_to)
       ORDER BY p.user_id, p.purchase_ts, p.event_id"""

  val scd2DimensionSql: String =
    """WITH o AS (
         SELECT user_id, ts, event_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         FROM events),
       c AS (
         SELECT user_id, ts, event_id, event_type,
                strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS valid_from
         FROM o WHERE prev_type IS NULL OR prev_type <> event_type),
       v AS (
         SELECT user_id, event_type AS attr_value,
                CAST(row_number() OVER w AS INT) AS version,
                valid_from,
                lead(valid_from) OVER w AS valid_to
         FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT user_id, attr_value, version, valid_from, valid_to,
              valid_to IS NULL AS is_current
       FROM v ORDER BY user_id, version"""

  /** Trailing-window anomaly detection: z-score of each hourly point
    * against the previous 24 hours' mean/stddev (current point
    * excluded from its own baseline) — the alerting read a collector
    * pipeline runs on every series. Needs ≥ 12 baseline points and a
    * non-degenerate stddev, else z is null. Same single series-keyed
    * shuffle as the other window ops; the frame holds 24 values at
    * any corpus scale. */
  /** The z expression is GENERATED ONCE and evaluated verbatim by
    * both engines over the frame moments (sum, sum of squares, count).
    * `stddev_samp` is NOT portable — Spark (Welford-style update) and
    * DuckDB accumulate variance in different orders, `sd` differs in
    * ulps, and any rounding of z then splits on the grid. Explicit
    * moment arithmetic over the already-truncated hourly series keeps
    * every intermediate an identical IEEE-double computation; the
    * final floor-truncation at 4dp absorbs what little remains. */
  private val zExpr: String =
    """CASE WHEN nprev >= 12 AND (sxx - sx * sx / nprev) / (nprev - 1) > 0
            THEN floor((avg_value - sx / nprev)
                       / sqrt((sxx - sx * sx / nprev) / (nprev - 1)) * 1e4) / 1e4
       END"""

  def anomalyZscore: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-24, -1)
    hourly(s, d)
      .withColumn("sx", sum(col("avg_value")).over(w))
      .withColumn("sxx", sum(col("avg_value") * col("avg_value")).over(w))
      .withColumn("nprev", count(col("avg_value")).over(w))
      .withColumn("z", expr(zExpr))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > 3, lit(false)))
      .select(col("event_type"), col("hour_sec"), col("avg_value"),
        col("z"), col("is_anomaly"))
  }

  val anomalyZscoreSql: String =
    s"""WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value
         FROM events GROUP BY 1, 2),
       b AS (
         SELECT event_type, hour_sec, avg_value,
                sum(avg_value) OVER w AS sx,
                sum(avg_value * avg_value) OVER w AS sxx,
                count(avg_value) OVER w AS nprev
         FROM hourly
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
       SELECT event_type, hour_sec, avg_value,
              ($zExpr) AS z,
              coalesce(abs($zExpr) > 3, false) AS is_anomaly
       FROM b ORDER BY event_type, hour_sec"""

  /** PromQL `topk()` over time: the top-3 series per hour by hourly
    * value — the "which databases are hottest right now" panel query.
    * The hourly rollup shrinks the corpus FIRST (one grouped agg);
    * the rank window then partitions by hour over |series| rows per
    * partition — bounded by series cardinality, not event volume, so
    * the sort inside each window partition is small at any scale.
    * Ties break on series name for cross-engine determinism. */
  def topkOverTime: Q = (s, d) => {
    val w = Window.partitionBy(col("hour_sec"))
      .orderBy(col("avg_value").desc, col("event_type"))
    hourly(s, d)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select(col("hour_sec"), col("rank"), col("event_type"), col("avg_value"))
  }

  val topkOverTimeSql: String =
    """WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value
         FROM events GROUP BY 1, 2),
       r AS (
         SELECT hour_sec, event_type, avg_value,
                CAST(row_number() OVER (PARTITION BY hour_sec
                       ORDER BY avg_value DESC, event_type) AS INT) AS rank
         FROM hourly)
       SELECT hour_sec, rank, event_type, avg_value
       FROM r WHERE rank <= 3 ORDER BY hour_sec, rank"""

  /** PromQL `deriv()`: per-series least-squares slope (value units per
    * hour) over the trailing 24 h of hourly points — trend detection
    * on counters/gauges. Portability goes one step past the z-score's
    * shared-expression trick: window-frame SUMS of doubles are not
    * bit-stable across engines (sliding vs segment-tree accumulation
    * differ in the last ulp — observed splitting the 6dp floor), so
    * every moment is computed in EXACT integer arithmetic — y scaled
    * to milli-units (BIGINT), x the absolute hour index (BIGINT) —
    * where summation order cannot matter, and doubles appear only in
    * the one final division both engines evaluate verbatim. ≥ 12
    * points and a non-degenerate x-spread required, else null. */
  private val derivExpr: String =
    """CASE WHEN n >= 12 AND (n * sxx - sx * sx) > 0
            THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) / 1e4 * 1e6) / 1e6
       END"""

  def deriv: Q = (s, d) =>
    hourlyRegressionMoments(s, d)
      .withColumn("slope_per_hour", expr(derivExpr))
      .select(col("event_type"), col("hour_sec"), col("avg_value"),
        col("slope_per_hour"))

  /** Per (event_type, hour): the mean in exact milli-units `ym`,
    * `avg_value`, the hour index `xi` and the integer least-squares
    * moments (n, sx, sy, sxy, sxx) over the trailing 24 hours — the one
    * body of `metrics_deriv` and `metrics_predict_linear`. */
  private def hourlyRegressionMoments(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-23, 0)
    hourlyMilli(s, d)
      .withColumn("avg_value", col("ym") / 1e4)
      .withColumn("xi", expr("hour_sec DIV 3600"))
      .withColumn("n", count(col("ym")).over(w))
      .withColumn("sx", sum(col("xi")).over(w))
      .withColumn("sy", sum(col("ym")).over(w))
      .withColumn("sxy", sum(col("xi") * col("ym")).over(w))
      .withColumn("sxx", sum(col("xi") * col("xi")).over(w))
  }

  /** Per (event_type, hour_sec): the hourly mean value in exact
    * milli-units, `ym`. */
  private def hourlyMilli(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      // the milli value comes straight from the floor — never by
      // re-scaling the divided double, whose product can fall a ulp
      // under the integer and truncate wrong
      .agg(floor(round(sum(col("value")), 2) / count(lit(1)) * 1e4).cast("long").as("ym"))

  /** Per event_type: its hourly (hour_sec, ym) series in hour order,
    * `seq` — the array the smoothing folds run over. */
  private def hourlySeries(s: SparkSession, d: String): DataFrame =
    hourlyMilli(s, d)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("hour_sec"), col("ym")))).as("seq"))

  val derivSql: String =
    s"""WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS ym
         FROM events GROUP BY 1, 2),
       m AS (
         SELECT event_type, hour_sec, ym / 1e4 AS avg_value, ym,
                hour_sec // 3600 AS xi
         FROM hourly),
       b AS (
         SELECT event_type, hour_sec, avg_value,
                count(ym) OVER w AS n,
                sum(xi) OVER w AS sx,
                sum(ym) OVER w AS sy,
                sum(xi * ym) OVER w AS sxy,
                sum(xi * xi) OVER w AS sxx
         FROM m
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
       SELECT event_type, hour_sec, avg_value,
              ($derivExpr) AS slope_per_hour
       FROM b ORDER BY event_type, hour_sec"""

  /** PromQL `irate()`: instantaneous rate at each hour boundary from
    * the LAST TWO samples of the series — the spiky-counter read
    * dashboards use where `rate()` over-smooths. One series-keyed lag
    * (adjacent sample only — no frame state), then keep the last
    * sample per (series, hour) by a bounded per-hour rank. Reset rule
    * as in `counterRate`: a drop means the counter restarted, so the
    * instant increase is the new value itself. Float surface: the
    * division runs on raw stored doubles and an integer second delta —
    * an identical IEEE op sequence in both engines — and is
    * floor-truncated at 6dp. */
  def irate: Q = (s, d) => {
    val ws = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val wh = Window.partitionBy(col("event_type"), col("hour_sec"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_v", lag(col("value"), 1).over(ws))
      .withColumn("dt",
        unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(ws)))
      .withColumn("hour_sec", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long"))
      .withColumn("rn", row_number().over(wh))
      .filter(col("rn") === 1)
      .withColumn("irate_per_sec",
        when(col("prev_v").isNotNull && col("dt") > 0,
          floor(when(col("value") < col("prev_v"), col("value"))
            .otherwise(col("value") - col("prev_v")) / col("dt") * 1e6) / 1e6))
      .select(col("event_type"), col("hour_sec"), col("irate_per_sec"))
  }

  val irateSql: String =
    """WITH s AS (
         SELECT event_type, ts, event_id, value,
                lag(value) OVER w AS prev_v,
                epoch(date_trunc('second', ts))
                  - epoch(date_trunc('second', lag(ts) OVER w)) AS dt,
                CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
       r AS (
         SELECT *, row_number() OVER (PARTITION BY event_type, hour_sec
                                      ORDER BY ts DESC, event_id DESC) AS rn
         FROM s)
       SELECT event_type, hour_sec,
              CASE WHEN prev_v IS NOT NULL AND dt > 0
                   THEN floor((CASE WHEN value < prev_v THEN value
                                    ELSE value - prev_v END) / dt * 1e6) / 1e6
              END AS irate_per_sec
       FROM r WHERE rn = 1 ORDER BY event_type, hour_sec"""

  /** PromQL `idelta()`: the GAUGE twin of `irate()` — the signed
    * difference of the last two samples at each hour boundary, no
    * reset rule and no time division (deltas of a gauge are
    * meaningful as-is; a drop is a real decrease, not a counter
    * restart). Same one-lag + bounded per-hour rank shape as `irate`;
    * the subtraction runs on raw stored doubles (one identical IEEE
    * op in both engines), floor-truncated at 6dp. */
  def idelta: Q = (s, d) => {
    val ws = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val wh = Window.partitionBy(col("event_type"), col("hour_sec"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev_v", lag(col("value"), 1).over(ws))
      .withColumn("hour_sec", (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long"))
      .withColumn("rn", row_number().over(wh))
      .filter(col("rn") === 1)
      .withColumn("idelta",
        when(col("prev_v").isNotNull,
          floor((col("value") - col("prev_v")) * 1e6) / 1e6))
      .select(col("event_type"), col("hour_sec"), col("idelta"))
  }

  val ideltaSql: String =
    """WITH s AS (
         SELECT event_type, ts, event_id, value,
                lag(value) OVER w AS prev_v,
                CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
       r AS (
         SELECT *, row_number() OVER (PARTITION BY event_type, hour_sec
                                      ORDER BY ts DESC, event_id DESC) AS rn
         FROM s)
       SELECT event_type, hour_sec,
              CASE WHEN prev_v IS NOT NULL
                   THEN floor((value - prev_v) * 1e6) / 1e6
              END AS idelta
       FROM r WHERE rn = 1 ORDER BY event_type, hour_sec"""

  /** PromQL `predict_linear(m[24h], 24h)`: where will each series be
    * 24 hours from now, by least-squares extrapolation over the
    * trailing 24 hourly points. Shares `deriv`'s exact-integer moment
    * frame and goes one step further: the PREDICTION is assembled as
    * one exact integer ratio — ŷ·1e4 = (sy·D + Num·(n·xp − sx)) /
    * (n·D) with slope = Num/D — so summation order cannot perturb it,
    * and the single final double division + floor is evaluated
    * verbatim by both engines. (Magnitudes stay far from BIGINT
    * overflow: D and Num contract to ~n³ by cancellation of the
    * absolute hour index.) ≥ 12 points and non-degenerate x-spread
    * required, else null. */
  private val predictExpr: String =
    """CASE WHEN n >= 12 AND (n * sxx - sx * sx) > 0
            THEN floor(CAST(sy * (n * sxx - sx * sx)
                            + (n * sxy - sx * sy) * (n * (xi + 24) - sx) AS DOUBLE)
                       / CAST(n * (n * sxx - sx * sx) AS DOUBLE)) / 1e4
       END"""

  def predictLinear: Q = (s, d) =>
    hourlyRegressionMoments(s, d)
      .withColumn("predicted_24h", expr(predictExpr))
      .select(col("event_type"), col("hour_sec"), col("avg_value"),
        col("predicted_24h"))

  val predictLinearSql: String =
    s"""WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS ym
         FROM events GROUP BY 1, 2),
       m AS (
         SELECT event_type, hour_sec, ym / 1e4 AS avg_value, ym,
                hour_sec // 3600 AS xi
         FROM hourly),
       b AS (
         SELECT event_type, hour_sec, avg_value, xi,
                count(ym) OVER w AS n,
                sum(xi) OVER w AS sx,
                sum(ym) OVER w AS sy,
                sum(xi * ym) OVER w AS sxy,
                sum(xi * xi) OVER w AS sxx
         FROM m
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec
                      ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
       SELECT event_type, hour_sec, avg_value,
              ($predictExpr) AS predicted_24h
       FROM b ORDER BY event_type, hour_sec"""

  /** Exponential smoothing (PromQL `double_exponential_smoothing`'s
    * single-smoothing core, α = 0.3): the classic trend-following read
    * a recursion that window functions cannot express. Spark-first
    * shape: per series, `sort_array(collect_list(struct(hour, y)))`
    * then ONE `aggregate()` fold over the sorted array — the recursion
    * runs as a single codegen'd expression per group, state never
    * leaves the executor, and the per-series array is bounded by the
    * retention window (720 points/month), not event volume. Float
    * parity by construction: a fold fixes the evaluation ORDER, so
    * `0.3·y + 0.7·s` is the identical IEEE sequence in any engine —
    * the oracle replays it with a recursive CTE and hash-matches
    * bit-for-bit (floor at 4dp only pins display). */
  def smoothEwma: Q = (s, d) => {
    hourlySeries(s, d)
      .withColumn("sm", expr(
        """aggregate(seq, CAST(array() AS ARRAY<DOUBLE>),
             (acc, p) -> concat(acc, array(
               CASE WHEN size(acc) = 0 THEN p.ym / 1e4
                    ELSE 0.3e0 * (p.ym / 1e4) + 0.7e0 * element_at(acc, -1) END)))"""))
      .select(col("event_type"), explode(arrays_zip(col("seq"), col("sm"))).as("z"))
      .select(col("event_type"),
        col("z.seq.hour_sec").as("hour_sec"),
        (col("z.seq.ym") / 1e4).as("avg_value"),
        (floor(col("z.sm") * 1e4) / 1e4).as("smoothed"))
  }

  val smoothEwmaSql: String =
    """WITH RECURSIVE hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS ym
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hour_sec) AS rn
         FROM hourly),
       rec AS (
         SELECT event_type, hour_sec, rn, ym, ym / 1e4 AS s
         FROM idx WHERE rn = 1
         UNION ALL
         SELECT i.event_type, i.hour_sec, i.rn, i.ym,
                0.3e0 * (i.ym / 1e4) + 0.7e0 * rec.s
         FROM idx i JOIN rec ON i.event_type = rec.event_type AND i.rn = rec.rn + 1)
       SELECT event_type, hour_sec, ym / 1e4 AS avg_value,
              floor(s * 1e4) / 1e4 AS smoothed
       FROM rec ORDER BY event_type, hour_sec"""

  /** The TSDB read pipeline as ONE Catalyst plan — the per-series
    * alerting summary a monitoring backend serves: raw events →
    * truncated hourly rollup → trailing-24h z-score anomalies (moment
    * arithmetic) → EWMA level (order-fixed fold) → per-series digest
    * (hours observed, anomaly count, worst |z|, current smoothed
    * level). Composability is the point: the same hourly frame feeds
    * the moment windows, the fold, and the final aggregate inside one
    * optimized plan — the series-keyed exchange is planned ONCE and
    * reused by the window, the group fold, and the digest (no
    * per-stage materialization, no repeated scans). Float parity
    * combines all three established techniques (truncated rollup,
    * shared-expression moments, order-fixed fold) in a single
    * oracle-checked result. */
  def tsdbEndToEnd: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-24, -1)
    val withZ = hourly(s, d)
      .withColumn("sx", sum(col("avg_value")).over(w))
      .withColumn("sxx", sum(col("avg_value") * col("avg_value")).over(w))
      .withColumn("nprev", count(col("avg_value")).over(w))
      .withColumn("z", expr(zExpr))
    withZ.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        count(when(abs(col("z")) > 3, 1)).as("n_anomalies"),
        max(abs(col("z"))).as("max_abs_z"),
        sort_array(collect_list(struct(col("hour_sec"), col("avg_value")))).as("seq"))
      .withColumn("level", expr(
        """aggregate(seq, CAST(NULL AS DOUBLE),
             (acc, p) -> CASE WHEN acc IS NULL THEN p.avg_value
                         ELSE 0.3e0 * p.avg_value + 0.7e0 * acc END)"""))
      .select(col("event_type"), col("n_hours"), col("n_anomalies"),
        col("max_abs_z"), (floor(col("level") * 1e4) / 1e4).as("level"))
  }

  val tsdbEndToEndSql: String =
    s"""WITH RECURSIVE hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS avg_value
         FROM events GROUP BY 1, 2),
       b AS (
         SELECT event_type, hour_sec, avg_value,
                sum(avg_value) OVER w AS sx,
                sum(avg_value * avg_value) OVER w AS sxx,
                count(avg_value) OVER w AS nprev
         FROM hourly
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec
                      ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
       zz AS (SELECT event_type, hour_sec, ($zExpr) AS z FROM b),
       idx AS (
         SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hour_sec) AS rn
         FROM hourly),
       rec AS (
         SELECT event_type, rn, avg_value AS s FROM idx WHERE rn = 1
         UNION ALL
         SELECT i.event_type, i.rn, 0.3e0 * i.avg_value + 0.7e0 * rec.s
         FROM idx i JOIN rec ON i.event_type = rec.event_type AND i.rn = rec.rn + 1),
       lvl AS (
         SELECT r.event_type, r.s FROM rec r
         JOIN (SELECT event_type, max(rn) AS mx FROM rec GROUP BY 1) m
           ON r.event_type = m.event_type AND r.rn = m.mx)
       SELECT z.event_type, count(*) AS n_hours,
              count(*) FILTER (WHERE abs(z.z) > 3) AS n_anomalies,
              max(abs(z.z)) AS max_abs_z,
              floor(max(l.s) * 1e4) / 1e4 AS level
       FROM zz z JOIN lvl l ON z.event_type = l.event_type
       GROUP BY z.event_type ORDER BY z.event_type"""

  /** PromQL `changes()`: how many times each series' value CHANGED per
    * day — the flappiness read for gauges (where `resets()` only sees
    * drops). Same single series-keyed lag chain as `counterRate`;
    * comparison of stored doubles and an integer count — no float
    * arithmetic surface at all. */
  def changes: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("prev", lag(col("value"), 1).over(w))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(when(col("prev").isNotNull && col("prev") =!= col("value"), 1)).as("changes"))
  }

  val changesSql: String =
    """WITH s AS (
         SELECT event_type, ts, value,
                lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
         FROM events)
       SELECT event_type, CAST(ts AS DATE) AS day,
              count(*) FILTER (WHERE prev IS NOT NULL AND prev <> value) AS changes
       FROM s GROUP BY 1, 2 ORDER BY event_type, day"""

  /** PromQL `absent()`: the hours (within the corpus' global span) where
    * a series reported NOTHING — the alert that fires when a target
    * stops scraping. The spine is generated (|series| × |hours|, never
    * scanned from the fact table, same as `gapFill`) and the observed
    * hourly set anti-joins it. Pure integer/row logic: engine-exact. */
  def absent: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg(count(lit(1)).as("n"))
    val bounds = h.agg(min(col("hour_sec")).as("h0"), max(col("hour_sec")).as("h1"))
    val spine = h.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1, 3600)")).as("hour_sec"))
    spine.join(h, Seq("event_type", "hour_sec"), "left_anti")
  }

  val absentSql: String =
    """WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec
         FROM events GROUP BY 1, 2),
       b AS (SELECT min(hour_sec) AS h0, max(hour_sec) AS h1 FROM hourly),
       spine AS (
         SELECT et.event_type, gs.h AS hour_sec
         FROM (SELECT DISTINCT event_type FROM hourly) et
         CROSS JOIN (SELECT unnest(generate_series(h0, h1, 3600)) AS h FROM b) gs)
       SELECT s.event_type, s.hour_sec
       FROM spine s ANTI JOIN hourly h
         ON s.event_type = h.event_type AND s.hour_sec = h.hour_sec
       ORDER BY s.event_type, s.hour_sec"""

  /** Holt's linear (double-exponential) smoothing — PromQL
    * `double_exponential_smoothing(v, 0.3, 0.1)`: level AND trend state,
    * the recursion window functions can't express. Same order-fixed
    * `aggregate()` fold as `smoothEwma`, with a two-field struct
    * accumulator: level₁ = y₁, trend₁ = 0, then
    * levelₜ = α·yₜ + (1−α)(l+b), trendₜ = β(levelₜ−l) + (1−β)b.
    * The levelₜ subexpression is spelled out VERBATIM inside the trend
    * step in both engines, so the whole recursion is one identical IEEE
    * sequence — the oracle replays it with a recursive CTE and
    * hash-matches bit-for-bit; floors at 4dp only pin display. The
    * one-hour-ahead forecast l+b is the read alerting rules use. */
  def holtWinters: Q = (s, d) => {
    hourlySeries(s, d)
      .withColumn("hw", expr(
        """aggregate(seq, CAST(array() AS ARRAY<STRUCT<l: DOUBLE, b: DOUBLE>>),
             (acc, p) -> concat(acc, array(
               CASE WHEN size(acc) = 0 THEN named_struct('l', p.ym / 1e4, 'b', 0.0e0)
                    ELSE named_struct(
                      'l', 0.3e0 * (p.ym / 1e4)
                           + 0.7e0 * (element_at(acc, -1).l + element_at(acc, -1).b),
                      'b', 0.1e0 * ((0.3e0 * (p.ym / 1e4)
                                     + 0.7e0 * (element_at(acc, -1).l + element_at(acc, -1).b))
                                    - element_at(acc, -1).l)
                           + 0.9e0 * element_at(acc, -1).b)
               END)))"""))
      .select(col("event_type"), explode(arrays_zip(col("seq"), col("hw"))).as("z"))
      .select(col("event_type"),
        col("z.seq.hour_sec").as("hour_sec"),
        (col("z.seq.ym") / 1e4).as("avg_value"),
        (floor(col("z.hw.l") * 1e4) / 1e4).as("level"),
        (floor(col("z.hw.b") * 1e4) / 1e4).as("trend"),
        (floor((col("z.hw.l") + col("z.hw.b")) * 1e4) / 1e4).as("forecast_1h"))
  }

  val holtWintersSql: String =
    """WITH RECURSIVE hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS ym
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hour_sec) AS rn
         FROM hourly),
       rec AS (
         SELECT event_type, hour_sec, rn, ym, ym / 1e4 AS l, 0.0e0 AS b
         FROM idx WHERE rn = 1
         UNION ALL
         SELECT i.event_type, i.hour_sec, i.rn, i.ym,
                0.3e0 * (i.ym / 1e4) + 0.7e0 * (rec.l + rec.b),
                0.1e0 * ((0.3e0 * (i.ym / 1e4) + 0.7e0 * (rec.l + rec.b)) - rec.l)
                  + 0.9e0 * rec.b
         FROM idx i JOIN rec ON i.event_type = rec.event_type AND i.rn = rec.rn + 1)
       SELECT event_type, hour_sec, ym / 1e4 AS avg_value,
              floor(l * 1e4) / 1e4 AS level,
              floor(b * 1e4) / 1e4 AS trend,
              floor((l + b) * 1e4) / 1e4 AS forecast_1h
       FROM rec ORDER BY event_type, hour_sec"""

  /** Error-budget target: errors may be ≤ this fraction of events. */
  val SloBudget = 0.25

  /** Multi-window error-budget burn rate — the SRE alerting rule
    * (fast window catches spikes, slow window confirms they matter;
    * page when BOTH burn above threshold). Events with
    * event_type = 'error' are the bad count, everything is the total.
    * One hourly aggregation (conditional counts — integers), one
    * 6-hour trailing window over the already-rolled-up hourly frame
    * (integer sums), then the burn ratios as single floored divisions
    * on exact integer inputs — identical IEEE ops both engines. */
  def burnRate: Q = (s, d) => {
    val w6 = Window.orderBy(col("hour_sec")).rowsBetween(-5, 0)
    Tables.events(s, d)
      .groupBy((floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg(count(lit(1)).as("total"),
        count(when(col("event_type") === "error", 1)).as("errors"))
      .withColumn("total6", sum(col("total")).over(w6))
      .withColumn("errors6", sum(col("errors")).over(w6))
      .withColumn("burn_1h",
        floor(col("errors").cast("double") / col("total").cast("double") / SloBudget * 1e4) / 1e4)
      .withColumn("burn_6h",
        floor(col("errors6").cast("double") / col("total6").cast("double") / SloBudget * 1e4) / 1e4)
      .withColumn("page", col("burn_1h") > 1.0 && col("burn_6h") > 1.0)
      .select(col("hour_sec"), col("total"), col("errors"),
        col("burn_1h"), col("burn_6h"), col("page"))
  }

  val burnRateSql: String =
    s"""WITH hourly AS (
         SELECT CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                count(*) AS total,
                count(*) FILTER (WHERE event_type = 'error') AS errors
         FROM events GROUP BY 1),
       w AS (
         SELECT hour_sec, total, errors,
                sum(total) OVER win AS total6,
                sum(errors) OVER win AS errors6
         FROM hourly
         WINDOW win AS (ORDER BY hour_sec ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
       SELECT hour_sec, total, errors,
              floor(CAST(errors AS DOUBLE) / CAST(total AS DOUBLE) / $SloBudget * 1e4) / 1e4
                AS burn_1h,
              floor(CAST(errors6 AS DOUBLE) / CAST(total6 AS DOUBLE) / $SloBudget * 1e4) / 1e4
                AS burn_6h,
              floor(CAST(errors AS DOUBLE) / CAST(total AS DOUBLE) / $SloBudget * 1e4) / 1e4 > 1.0
                AND floor(CAST(errors6 AS DOUBLE) / CAST(total6 AS DOUBLE) / $SloBudget * 1e4) / 1e4 > 1.0
                AS page
       FROM w ORDER BY hour_sec"""

  /** Alert state machine with HYSTERESIS (alertmanager-style flap
    * suppression): a series starts firing when its hourly level
    * crosses 100 and resolves only after 2 consecutive hours below 50
    * — the two-threshold + hold-down rule that stops alert flapping.
    * A stateful recursion, so it runs as the same order-fixed
    * `aggregate()` fold as EWMA/Holt (state = (firing, low-run) —
    * pure integers; the only float surface is comparisons of stored
    * doubles against literals, which cannot split engines). The
    * oracle replays the machine with a recursive CTE and must land on
    * identical fire/resolve transitions at identical hours. */
  private val alertStep =
    """CASE WHEN size(acc) = 0 OR element_at(acc, -1).f = 0
            THEN CASE WHEN p.av > 100.0e0
                      THEN named_struct('f', 1, 'lr', 0, 'tr', 'fire')
                      ELSE named_struct('f', 0, 'lr', 0, 'tr', CAST(NULL AS STRING)) END
            ELSE CASE WHEN (CASE WHEN p.av < 50.0e0 THEN element_at(acc, -1).lr + 1 ELSE 0 END) >= 2
                      THEN named_struct('f', 0, 'lr', 0, 'tr', 'resolve')
                      ELSE named_struct('f', 1,
                             'lr', CASE WHEN p.av < 50.0e0 THEN element_at(acc, -1).lr + 1 ELSE 0 END,
                             'tr', CAST(NULL AS STRING)) END
       END"""

  def alertHysteresis: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg((floor(round(sum(col("value")), 2) / count(lit(1)) * 1e4) / 1e4).as("av"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("hour_sec"), col("av")))).as("seq"))
      .withColumn("st", expr(
        s"""aggregate(seq, CAST(array() AS ARRAY<STRUCT<f: INT, lr: INT, tr: STRING>>),
              (acc, p) -> concat(acc, array($alertStep)))"""))
      .select(col("event_type"), explode(arrays_zip(col("seq"), col("st"))).as("z"))
      .select(col("event_type"),
        col("z.seq.hour_sec").as("hour_sec"),
        col("z.seq.av").as("avg_value"),
        col("z.st.f").as("firing"),
        col("z.st.tr").as("transition"))
  }

  val alertHysteresisSql: String =
    """WITH RECURSIVE hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS av
         FROM events GROUP BY 1, 2),
       idx AS (
         SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hour_sec) AS rn
         FROM hourly),
       rec AS (
         SELECT event_type, hour_sec, rn, av,
                CASE WHEN av > 100.0e0 THEN 1 ELSE 0 END AS f,
                0 AS lr,
                CASE WHEN av > 100.0e0 THEN 'fire' END AS tr
         FROM idx WHERE rn = 1
         UNION ALL
         SELECT i.event_type, i.hour_sec, i.rn, i.av,
                CASE WHEN rec.f = 0
                     THEN CASE WHEN i.av > 100.0e0 THEN 1 ELSE 0 END
                     ELSE CASE WHEN (CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END) >= 2
                               THEN 0 ELSE 1 END END,
                CASE WHEN rec.f = 0 THEN 0
                     ELSE CASE WHEN (CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END) >= 2
                               THEN 0
                               ELSE CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END END END,
                CASE WHEN rec.f = 0 AND i.av > 100.0e0 THEN 'fire'
                     WHEN rec.f = 1 AND (CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END) >= 2
                          THEN 'resolve' END
         FROM idx i JOIN rec ON i.event_type = rec.event_type AND i.rn = rec.rn + 1)
       SELECT event_type, hour_sec, av AS avg_value,
              CAST(f AS INT) AS firing, tr AS transition
       FROM rec ORDER BY event_type, hour_sec"""

  /** Series churn — the cardinality-explosion monitor every TSDB
    * operator runs: per day, how many (metric, label-set) series were
    * active, and how many were BORN that day (first ever appearance).
    * A spike in births is the "someone added a user-id label" alarm.
    * Series key here = (event_type, user_id). Two aggregations: the
    * distinct active set per day, and births via min-day per series —
    * both map-side combinable, shuffles carry series not samples. Pure
    * integers. */
  def seriesChurn: Q = (s, d) => {
    val active = Tables.events(s, d)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val births = active.groupBy(col("event_type"), col("user_id"))
      .agg(min(col("day")).as("born"))
      .groupBy(col("born").as("day"))
      .agg(count(lit(1)).as("new_series"))
    active.groupBy(col("day"))
      .agg(count(lit(1)).as("active_series"))
      .join(births, Seq("day"), "left")
      .withColumn("new_series", coalesce(col("new_series"), lit(0L)))
  }

  val seriesChurnSql: String =
    """WITH active AS (
         SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS day FROM events),
       births AS (
         SELECT born AS day, count(*) AS new_series FROM (
           SELECT event_type, user_id, min(day) AS born
           FROM active GROUP BY 1, 2) t
         GROUP BY born)
       SELECT a.day, count(*) AS active_series,
              CAST(coalesce(max(b.new_series), 0) AS BIGINT) AS new_series
       FROM active a LEFT JOIN births b ON a.day = b.day
       GROUP BY a.day ORDER BY a.day"""

  /** Multi-resolution rollup — the TSDB continuous-aggregate cascade
    * (raw → 6h → 1d → 1w retention tiers) as ONE GROUPING SETS pass:
    * a single scan + one Catalyst Expand fills every resolution, where
    * the naive cascade re-aggregates per tier (and the really naive one
    * re-scans). Resolution labels derive from which bucket column is
    * non-null — NOT `grouping_id()`, whose bit order is
    * engine-specific. All bucket math is integer epoch arithmetic;
    * sums are exact cents. */
  def multiResolution: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .createOrReplaceTempView("graft_events_mr")
    s.sql(
      s"""SELECT event_type,
                 CASE WHEN b6 IS NOT NULL THEN '6h'
                      WHEN d1 IS NOT NULL THEN '1d' ELSE '1w' END AS resolution,
                 coalesce(b6, d1, w1) AS bucket_start,
                 count(*) AS n_samples,
                 CAST(sum(v_c) AS BIGINT) AS cents_sum
          FROM (SELECT event_type, v_c,
                       sec DIV 21600 * 21600 AS b6,
                       sec DIV 86400 * 86400 AS d1,
                       sec DIV 604800 * 604800 AS w1
                FROM graft_events_mr) t
          GROUP BY GROUPING SETS ((event_type, b6), (event_type, d1), (event_type, w1))""")
  }

  val multiResolutionSql: String =
    """SELECT event_type,
              CASE WHEN b6 IS NOT NULL THEN '6h'
                   WHEN d1 IS NOT NULL THEN '1d' ELSE '1w' END AS resolution,
              coalesce(b6, d1, w1) AS bucket_start,
              count(*) AS n_samples,
              CAST(sum(v_c) AS BIGINT) AS cents_sum
       FROM (SELECT event_type,
                    CAST(floor(value * 100) AS BIGINT) AS v_c,
                    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 21600 * 21600 AS b6,
                    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 * 86400 AS d1,
                    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 * 604800 AS w1
             FROM events) t
       GROUP BY GROUPING SETS ((event_type, b6), (event_type, d1), (event_type, w1))
       ORDER BY event_type, resolution, bucket_start"""

  /** Bitemporal point-in-time read — the two-axis version of
    * `scd2_pit_join`: valid time (when a balance assertion takes
    * effect — the event's day) × transaction time (when the warehouse
    * LEARNED it — the event's log position). Each probe asks "as the
    * database stood at txn cutoff T, what was user u's balance valid
    * at day V" — the audit/backfill read that distinguishes a real
    * bitemporal store from plain SCD2. The probe grid is a 3-row
    * broadcast (valid cut × knowledge cut), the txn cutoff is a
    * 1-row aggregate, and the winning version is one max(struct)
    * aggregation — map-side combinable, no window over the log. */
  def bitemporal: Q = (s, d) => {
    import s.implicits._
    val versions = Tables.events(s, d)
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
          .as("valid_day"),
        col("event_id").as("txn"),
        round(col("value"), 2).as("bal"))
    // "what we knew on Jan 15": the largest log position before it
    val txnCut = Tables.events(s, d)
      .filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .agg(max(col("event_id")).as("txn_cut"))
    val probes = Seq(
      ("known_0115_valid_0110", "2024-01-10", true),
      ("known_now_valid_0110", "2024-01-10", false),
      ("known_now_valid_0131", "2024-01-31", false))
      .toDF("probe", "vdate", "use_cut")
      .crossJoin(broadcast(txnCut))
      .select(col("probe"),
        expr("cast(unix_timestamp(to_timestamp(vdate)) div 86400 as bigint)").as("vday"),
        when(col("use_cut"), col("txn_cut")).otherwise(lit(Long.MaxValue)).as("txn_limit"))
    versions.join(broadcast(probes),
        col("valid_day") <= col("vday") && col("txn") <= col("txn_limit"))
      .groupBy(col("probe"), col("user_id"))
      .agg(max(struct(col("valid_day"), col("txn"), col("bal"))).as("win"))
      .select(col("probe"), col("user_id"), col("win.valid_day").as("valid_day"),
        col("win.txn").as("txn"), col("win.bal").as("balance"))
  }

  val bitemporalSql: String =
    s"""WITH v AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS valid_day,
                 event_id AS txn, round(value, 2) AS bal
          FROM events),
        cut AS (
          SELECT CAST(max(event_id) AS BIGINT) AS txn_cut FROM events
          WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
        probes AS (
          SELECT p.probe,
                 CAST(epoch(CAST(p.vdate AS TIMESTAMP)) AS BIGINT) // 86400 AS vday,
                 CASE WHEN p.use_cut THEN c.txn_cut
                      ELSE ${Long.MaxValue}::BIGINT END AS txn_limit
          FROM (VALUES ('known_0115_valid_0110', '2024-01-10', true),
                       ('known_now_valid_0110', '2024-01-10', false),
                       ('known_now_valid_0131', '2024-01-31', false))
               AS p(probe, vdate, use_cut), cut c)
        SELECT probe, user_id,
               (max({'d': valid_day, 't': txn, 'b': bal})).d AS valid_day,
               (max({'d': valid_day, 't': txn, 'b': bal})).t AS txn,
               (max({'d': valid_day, 't': txn, 'b': bal})).b AS balance
        FROM v JOIN probes
          ON v.valid_day <= probes.vday AND v.txn <= probes.txn_limit
        GROUP BY probe, user_id
        ORDER BY probe, user_id"""

  /** Metric-TYPE inference — the read a collector runs when upstream
    * exposition lacks `# TYPE` lines (the reference's exporters emit
    * typed metrics; an ingester that guesses wrong rates a gauge or
    * averages a counter): a series whose every decrease looks like a
    * RESET (drop below half the previous value) and whose decreases
    * are rare (≤5% of steps) behaves like a counter; everything else
    * is a gauge. Runs over BOTH arms — the raw value series (gauges
    * by construction here) and each series' running total (counters
    * by construction) — so both verdicts are exercised. One
    * series-keyed shuffle; deltas are a lag window; all shares exact
    * integer ratios. */
  def metricTypeInfer: Q = (s, d) => {
    val base = Tables.events(s, d).select(col("event_type"), col("event_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
      floor(col("value") * 100).cast("long").as("v_c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val arms = base
      .select(col("event_type").as("series"), col("sec"), col("event_id"),
        col("v_c").as("val"))
      .unionByName(base
        .withColumn("val", sum(col("v_c")).over(wCum))
        .select(concat(col("event_type"), lit(":cum")).as("series"),
          col("sec"), col("event_id"), col("val")))
    val w = Window.partitionBy(col("series")).orderBy(col("sec"), col("event_id"))
    arms
      .withColumn("prev", lag(col("val"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_steps"),
        sum(when(col("val") < col("prev"), 1L).otherwise(0L)).as("n_down"),
        sum(when(col("val") < col("prev") && col("val") * 2 < col("prev"), 1L)
          .otherwise(0L)).as("n_reset"))
      .select(col("series"), col("n_steps"), col("n_down"), col("n_reset"),
        (floor((col("n_steps") - col("n_down")).cast("double")
          / col("n_steps").cast("double") * 1e4) / 1e4).as("monotone_share"),
        when(col("n_down") === col("n_reset") && col("n_down") * 20 <= col("n_steps"),
          "counter").otherwise("gauge").as("inferred_type"))
  }

  val metricTypeInferSql: String =
    """WITH base AS (
         SELECT event_type, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                CAST(floor(value * 100) AS BIGINT) AS v_c
         FROM events),
       arms AS (
         SELECT event_type AS series, sec, event_id, v_c AS val FROM base
         UNION ALL
         SELECT event_type || ':cum', sec, event_id,
                CAST(sum(v_c) OVER (PARTITION BY event_type
                  ORDER BY sec, event_id) AS BIGINT)
         FROM base),
       d AS (
         SELECT series, val,
                lag(val) OVER (PARTITION BY series ORDER BY sec, event_id) AS prev
         FROM arms),
       g AS (
         SELECT series, count(*) AS n_steps,
                CAST(sum(CASE WHEN val < prev THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
                CAST(sum(CASE WHEN val < prev AND val * 2 < prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_reset
         FROM d WHERE prev IS NOT NULL GROUP BY 1)
       SELECT series, n_steps, n_down, n_reset,
              floor(CAST(n_steps - n_down AS DOUBLE)
                    / CAST(n_steps AS DOUBLE) * 1e4) / 1e4 AS monotone_share,
              CASE WHEN n_down = n_reset AND n_down * 20 <= n_steps
                   THEN 'counter' ELSE 'gauge' END AS inferred_type
       FROM g ORDER BY series"""

  /** Scrape-interval inference: the modal inter-sample gap per series
    * (what a TSDB calls the series' step, what the collector
    * configures as scrape_interval — reconstructing it from data is
    * how you audit that every target scrapes at its configured rate).
    * One lag window + a (series, gap) count + a bounded top-1 pick
    * by (count DESC, gap ASC). */
  def scrapeInterval: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val gaps = Tables.events(s, d).select(col("event_type"), col("event_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
    val counts = gaps.groupBy(col("event_type"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    val tot = gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n_gaps"))
    counts.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("cnt").desc, col("gap"))))
      .filter(col("rk") === 1)
      .join(broadcast(tot), "event_type")
      .select(col("event_type"), col("n_gaps"), col("gap").as("modal_gap_sec"),
        col("cnt").as("modal_count"),
        (floor(col("cnt").cast("double") / col("n_gaps").cast("double") * 1e4) / 1e4)
          .as("modal_share"))
  }

  val scrapeIntervalSql: String =
    """WITH g AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                  - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                    OVER (PARTITION BY event_type ORDER BY
                          CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id)
                  AS gap
         FROM events),
       c AS (SELECT event_type, gap, count(*) AS cnt
             FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_gaps FROM c GROUP BY 1),
       r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                        ORDER BY cnt DESC, gap) AS rk FROM c)
       SELECT r.event_type, t.n_gaps, r.gap AS modal_gap_sec, r.cnt AS modal_count,
              floor(CAST(r.cnt AS DOUBLE) / CAST(t.n_gaps AS DOUBLE) * 1e4) / 1e4
                AS modal_share
       FROM r JOIN t USING (event_type) WHERE rk = 1 ORDER BY event_type"""

  val NotifyRepeatSec = 43200L

  /** Alertmanager-style notification deduplication over the
    * hysteresis alert stream (repeat_interval = 12 h): a new incident
    * (`fire` transition) notifies immediately, a STILL-firing alert
    * re-notifies only when 12 h have passed since the last
    * notification (everything in between is suppressed — the
    * page-storm control), and a `resolve` sends its own notification
    * and resets the clock. Pure composition over `metrics_alert_
    * hysteresis`'s verified output; the clock is inherently
    * sequential, so it runs as one order-fixed fold per series
    * (bounded by the hour spine) with an INTEGER -1 sentinel for
    * "no notification yet" — no NULL-semantics surface in the state
    * — and the oracle replays it as a recursive CTE over the
    * hysteresis CTE chain. */
  def alertNotifyDedup: Q = (s, d) => {
    alertHysteresis(s, d)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("hour_sec").as("h"),
        col("firing").as("f"), col("transition").as("tr")))).as("seq"))
      .withColumn("st", expr(
        s"""aggregate(seq,
              named_struct('ln', -1L, 'nn', 0L, 'nr', 0L, 'nres', 0L, 'nsup', 0L),
              (a, p) -> named_struct(
                'ln', CASE WHEN p.tr = 'fire' THEN p.h
                           WHEN p.f = 1 AND p.tr IS NULL AND a.ln >= 0L
                                AND p.h - a.ln >= ${NotifyRepeatSec}L THEN p.h
                           WHEN p.tr = 'resolve' THEN -1L
                           ELSE a.ln END,
                'nn', a.nn + CASE WHEN p.tr = 'fire' THEN 1L ELSE 0L END,
                'nr', a.nr + CASE WHEN p.f = 1 AND p.tr IS NULL AND a.ln >= 0L
                                  AND p.h - a.ln >= ${NotifyRepeatSec}L
                             THEN 1L ELSE 0L END,
                'nres', a.nres + CASE WHEN p.tr = 'resolve' THEN 1L ELSE 0L END,
                'nsup', a.nsup + CASE WHEN p.f = 1 AND p.tr IS NULL
                                      AND NOT (a.ln >= 0L
                                        AND p.h - a.ln >= ${NotifyRepeatSec}L)
                                 THEN 1L ELSE 0L END))"""))
      .select(col("event_type"), size(col("seq")).cast("long").as("n_hours"),
        col("st.nn").as("n_incidents"), col("st.nr").as("n_repeats"),
        col("st.nres").as("n_resolves"), col("st.nsup").as("n_suppressed"))
  }

  /** ONE merged recursion: an outer recursive CTE that references an
    * inner recursive CTE re-evaluates it on EVERY iteration (measured:
    * minutes instead of milliseconds, whether nested as a derived
    * table or spliced as a sibling CTE), so the hysteresis state
    * machine and the notification clock advance together in a single
    * recursive step — same cost class as the hysteresis oracle
    * itself. The step conditions restate the hysteresis algebra
    * (fire = idle & breach; resolve = firing & 2 consecutive lows)
    * verbatim from `alertHysteresisSql`. */
  lazy val alertNotifyDedupSql: String = {
    val fire = "(rec.f = 0 AND i.av > 100.0e0)"
    val res =
      "(rec.f = 1 AND (CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END) >= 2)"
    val steady = s"(rec.f = 1 AND NOT $res)"
    val due = s"($steady AND rec.ln >= 0 AND i.hour_sec - rec.ln >= $NotifyRepeatSec)"
    s"""WITH RECURSIVE hourly AS (
          SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                 floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS av
          FROM events GROUP BY 1, 2),
        idx AS (
          SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY hour_sec)
                   AS rn
          FROM hourly),
        rec AS (
          SELECT event_type, hour_sec, rn, av,
                 CASE WHEN av > 100.0e0 THEN 1 ELSE 0 END AS f,
                 0 AS lr,
                 CASE WHEN av > 100.0e0 THEN hour_sec ELSE -1 END AS ln,
                 CASE WHEN av > 100.0e0 THEN CAST(1 AS BIGINT) ELSE 0 END AS nn,
                 CAST(0 AS BIGINT) AS nr, CAST(0 AS BIGINT) AS nres,
                 CAST(0 AS BIGINT) AS nsup
          FROM idx WHERE rn = 1
          UNION ALL
          SELECT i.event_type, i.hour_sec, i.rn, i.av,
                 CASE WHEN rec.f = 0
                      THEN CASE WHEN i.av > 100.0e0 THEN 1 ELSE 0 END
                      ELSE CASE WHEN $res THEN 0 ELSE 1 END END,
                 CASE WHEN rec.f = 0 THEN 0
                      WHEN $res THEN 0
                      ELSE CASE WHEN i.av < 50.0e0 THEN rec.lr + 1 ELSE 0 END END,
                 CASE WHEN $fire THEN i.hour_sec
                      WHEN $due THEN i.hour_sec
                      WHEN $res THEN -1
                      ELSE rec.ln END,
                 rec.nn + CASE WHEN $fire THEN 1 ELSE 0 END,
                 rec.nr + CASE WHEN $due THEN 1 ELSE 0 END,
                 rec.nres + CASE WHEN $res THEN 1 ELSE 0 END,
                 rec.nsup + CASE WHEN $steady AND NOT $due THEN 1 ELSE 0 END
          FROM idx i JOIN rec
            ON i.event_type = rec.event_type AND i.rn = rec.rn + 1)
        SELECT event_type, CAST(rn AS BIGINT) AS n_hours,
               CAST(nn AS BIGINT) AS n_incidents, nr AS n_repeats,
               nres AS n_resolves, nsup AS n_suppressed
        FROM rec
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY rn DESC) = 1
        ORDER BY event_type"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("alert_notify_dedup", alertNotifyDedup, Some(alertNotifyDedupSql)),
    ("prom_metric_type_infer", metricTypeInfer, Some(metricTypeInferSql)),
    ("metrics_scrape_interval", scrapeInterval, Some(scrapeIntervalSql)),
    ("scd2_bitemporal", bitemporal, Some(bitemporalSql)),
    ("metrics_multi_resolution", multiResolution, Some(multiResolutionSql)),
    ("metrics_series_churn", seriesChurn, Some(seriesChurnSql)),
    ("metrics_alert_hysteresis", alertHysteresis, Some(alertHysteresisSql)),
    ("metrics_burn_rate", burnRate, Some(burnRateSql)),
    ("metrics_changes", changes, Some(changesSql)),
    ("metrics_absent", absent, Some(absentSql)),
    ("metrics_holt_winters", holtWinters, Some(holtWintersSql)),
    ("tsdb_end_to_end", tsdbEndToEnd, Some(tsdbEndToEndSql)),
    ("metrics_smooth_ewma", smoothEwma, Some(smoothEwmaSql)),
    ("metrics_irate", irate, Some(irateSql)),
    ("metrics_idelta", idelta, Some(ideltaSql)),
    ("metrics_predict_linear", predictLinear, Some(predictLinearSql)),
    ("metrics_anomaly_zscore", anomalyZscore, Some(anomalyZscoreSql)),
    ("metrics_topk_over_time", topkOverTime, Some(topkOverTimeSql)),
    ("metrics_deriv", deriv, Some(derivSql)),
    ("metrics_resets", resets, Some(resetsSql)),
    ("metrics_counter_rate", counterRate, Some(counterRateSql)),
    ("metrics_downsample", downsample, Some(downsampleSql)),
    ("metrics_gap_fill", gapFill, Some(gapFillSql)),
    ("metrics_quantile_over_time", quantileOverTime, Some(quantileOverTimeSql)),
    ("scd2_dimension", scd2Dimension, Some(scd2DimensionSql)),
    ("scd2_pit_join", scd2PitJoin, Some(scd2PitJoinSql))
  )
}
