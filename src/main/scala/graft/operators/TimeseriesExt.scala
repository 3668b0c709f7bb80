package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of TSDB read-side operators: time-weighted averages
  * (the billing/utilization read), robust MAD-based outlier detection
  * (the alerting read that survives non-Gaussian series), and PromQL
  * subqueries (`max_over_time(rate(m[10m])[1h:10m])` — rate-of-rates
  * composition). Companions to `Timeseries`' rate/downsample/gap-fill
  * block; same scale shape: everything is keyed by series, one shuffle
  * on the series key, bounded window frames.
  *
  * Float parity playbook (see `Timeseries.anomalyZscore`'s history):
  * sample values enter as exact integer cents (`floor(value*100)` —
  * one IEEE multiply + floor, identical cross-engine), all sums and
  * moments stay in BIGINT, and each output makes at most ONE floored
  * division at the end.
  */
object TimeseriesExt {

  type Q = (SparkSession, String) => DataFrame

  /** Samples with exact integer-cent values and second-resolution
    * epoch — the engine-exact sample representation. */
  private def samples(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_type"), col("ts"), col("event_id"),
      floor(col("value") * 100).cast("long").as("v_c"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"))

  // --------------------------------------------- time-weighted average

  /** Time-weighted average per (series, day) — the utilization /
    * billing aggregate where a sample's value holds until the next
    * sample (left-continuous step function; segments crossing midnight
    * are attributed to the day they start in only if they also end
    * there, keeping the weights exact and local). One series-keyed
    * window (lead) + one aggregation; Σ(v_c·Δt) is a BIGINT dot
    * product, so the only float op is the final floored division. */
  def timeWeightedAvg: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    samples(s, d)
      .withColumn("next_sec", lead(col("sec"), 1).over(w))
      .withColumn("next_day", lead(to_date(col("ts")), 1).over(w))
      .filter(col("next_sec").isNotNull && col("next_day") === to_date(col("ts")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("v_c") * (col("next_sec") - col("sec"))).as("wsum"),
        sum(col("next_sec") - col("sec")).as("tsum"))
      .filter(col("tsum") > 0)
      .select(col("event_type"), col("day"), col("n_segments"),
        (floor(col("wsum") * 100 / col("tsum")) / 1e4).as("twa"))
  }

  val timeWeightedAvgSql: String =
    """WITH s AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(floor(value * 100) AS BIGINT) AS v_c,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                lead(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                  OVER w AS next_sec,
                lead(CAST(ts AS DATE)) OVER w AS next_day
         FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id))
       SELECT event_type, day, count(*) AS n_segments,
              floor(CAST(sum(v_c * (next_sec - sec)) AS BIGINT) * 100
                    / CAST(sum(next_sec - sec) AS BIGINT)) / 1e4 AS twa
       FROM s
       WHERE next_sec IS NOT NULL AND next_day = day
       GROUP BY 1, 2 HAVING sum(next_sec - sec) > 0
       ORDER BY event_type, day"""

  // ------------------------------------------------- MAD outlier scan

  val MadK = 3.0

  /** Robust outlier detection: |x − median| > 3·MAD per series — the
    * alerting rule that, unlike z-scores, one wild sample cannot
    * poison (median and MAD have a 50% breakdown point). Exact
    * medians: over integer cents the median is k or k+0.5 and the MAD
    * lands on quarter-steps — all exactly representable doubles, so
    * both engines agree bit-for-bit with NO rounding tricks. The
    * median/MAD pair is a |series|-row table broadcast back; exact
    * percentile per bounded series count is the declared contract
    * (`q_approx_percentile` is the unbounded escape hatch). */
  def madAnomaly: Q = (s, d) => {
    val sm = samples(s, d)
    val med = sm.groupBy(col("event_type"))
      .agg(expr("percentile(v_c, 0.5e0)").as("med"))
    val dev = sm.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("v_c") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5e0)").as("mad"), max(col("med")).as("med"))
    dev.drop("med")
      .join(broadcast(mad), Seq("event_type"))
      // mad = 0 (a >50%-constant series) has no robust scale — skip the
      // series rather than divide by zero (engines disagree on 1/0.0)
      .filter(col("mad") > 0 && col("adev") > lit(MadK) * col("mad"))
      .select(col("event_type"), col("sec"), col("v_c"),
        col("med"), col("mad"),
        (floor(col("adev") * 1e4 / col("mad")) / 1e4).as("robust_score"))
  }

  val madAnomalySql: String =
    s"""WITH s AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v_c,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
          FROM events),
        m AS (SELECT event_type, quantile_cont(v_c, 0.5) AS med FROM s GROUP BY 1),
        dv AS (SELECT s.event_type, s.sec, s.v_c, m.med, abs(s.v_c - m.med) AS adev
               FROM s JOIN m USING (event_type)),
        md AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad, max(med) AS med
               FROM dv GROUP BY 1)
        SELECT dv.event_type, dv.sec, dv.v_c, md.med, md.mad,
               floor(dv.adev * 1e4 / md.mad) / 1e4 AS robust_score
        FROM dv JOIN md USING (event_type)
        WHERE md.mad > 0 AND dv.adev > $MadK * md.mad
        ORDER BY dv.event_type, dv.sec, dv.v_c"""

  // --------------------------------------------------- PromQL subquery

  val SubRateWindowSec = 600L  // inner rate window: 10 min
  val SubOuterBuckets = 6      // outer max_over_time: 1 h = 6 buckets

  /** PromQL subquery `max_over_time(rate(m[10m])[1h:10m])`: the inner
    * rate per 10-min bucket (counter-reset rule from
    * `metrics_counter_rate`, in exact cents), then a trailing-1h max
    * over the bucket series via a RANGE frame on the integer bucket
    * index — gaps in the series don't stretch the hour the way a ROWS
    * frame would. max() commutes with the final division, so the
    * increase stays BIGINT until one floored divide. Two windows + one
    * aggregation, all keyed by series. */
  def subqueryMaxRate: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val buckets = samples(s, d)
      .withColumn("delta", col("v_c") - lag(col("v_c"), 1).over(w))
      .withColumn("inc",
        when(col("delta").isNull, lit(0L))
          .when(col("delta") < 0, col("v_c"))
          .otherwise(col("delta")))
      .groupBy(col("event_type"), expr(s"sec DIV $SubRateWindowSec").as("bucket"))
      .agg(sum(col("inc")).as("inc_c"))
    val wRange = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rangeBetween(-(SubOuterBuckets - 1), Window.currentRow)
    buckets
      .withColumn("max_inc", max(col("inc_c")).over(wRange))
      .select(col("event_type"),
        (col("bucket") * SubRateWindowSec).as("bucket_sec"),
        (floor(col("max_inc") * lit(10000) / lit(SubRateWindowSec)) / 1e6).as("max_rate"))
  }

  val subqueryMaxRateSql: String =
    s"""WITH s AS (
          SELECT event_type, ts, event_id,
                 CAST(floor(value * 100) AS BIGINT) AS v_c,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
          FROM events),
        del AS (
          SELECT event_type, sec,
                 v_c - lag(v_c) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS delta,
                 v_c
          FROM s),
        b AS (
          SELECT event_type, sec // $SubRateWindowSec AS bucket,
                 CAST(sum(CASE WHEN delta IS NULL THEN 0
                               WHEN delta < 0 THEN v_c ELSE delta END) AS BIGINT) AS inc_c
          FROM del GROUP BY 1, 2),
        mx AS (
          SELECT event_type, bucket,
                 max(inc_c) OVER (PARTITION BY event_type ORDER BY bucket
                   RANGE BETWEEN ${SubOuterBuckets - 1} PRECEDING AND CURRENT ROW) AS max_inc
          FROM b)
        SELECT event_type, CAST(bucket * $SubRateWindowSec AS BIGINT) AS bucket_sec,
               floor(max_inc * 10000 / $SubRateWindowSec) / 1e6 AS max_rate
        FROM mx ORDER BY event_type, bucket_sec"""

  // ----------------------------------------------- histogram share

  /** Cumulative bucket boundaries (upper bounds, cents) and the
    * thresholds the share is evaluated at — thresholds sit INSIDE
    * buckets so the interpolation path is actually exercised. */
  val ShareLes: Seq[Long] = Seq(1000L, 5000L, 10000L, 20000L)
  val ShareThresholds: Seq[Long] = Seq(2500L, 7500L, 15000L)

  /** PromQL `histogram_fraction(0, T, m)`: the fraction of
    * observations ≤ T reconstructed FROM cumulative `le` bucket counts
    * with linear interpolation inside T's bucket — the SLO read ("what
    * share of requests were under 75 ms") evaluated against a
    * histogram, not raw samples. Buckets are ONE conditional-count
    * aggregation pass (the `metrics_query_response_time` shape); the
    * interpolation ((c_lo·(hi−lo) + (T−lo)·(c_hi−c_lo)) / ((hi−lo)·n))
    * is kept in integers with a single floored division, so the
    * engines agree exactly. */
  def histogramShare: Q = (s, d) => {
    val sm = samples(s, d)
    val aggCols = ShareLes.map(le =>
      count(when(col("v_c") <= le, 1)).as(s"b$le")) :+ count(lit(1)).as("n")
    val buckets = sm.groupBy(col("event_type")).agg(aggCols.head, aggCols.tail: _*)
    val shares = ShareThresholds.map { t =>
      val hi = ShareLes.find(_ >= t).get
      val lo = ShareLes.takeWhile(_ < t).lastOption.getOrElse(0L)
      val cLo = if (lo == 0L) lit(0L) else col(s"b$lo")
      struct(lit(t).as("threshold_c"),
        (floor((cLo * (hi - lo) + lit(t - lo) * (col(s"b$hi") - cLo)) * lit(10000) /
          (lit(hi - lo) * col("n"))) / 1e4).as("share"))
    }
    buckets.select(col("event_type"), col("n"), explode(array(shares: _*)).as("s"))
      .select(col("event_type"), col("n"),
        col("s.threshold_c").as("threshold_c"), col("s.share").as("share"))
  }

  val histogramShareSql: String = {
    val bucketCols = ShareLes.map(le =>
      s"count(*) FILTER (WHERE v_c <= $le) AS b$le").mkString(", ")
    val shareRows = ShareThresholds.map { t =>
      val hi = ShareLes.find(_ >= t).get
      val lo = ShareLes.takeWhile(_ < t).lastOption.getOrElse(0L)
      val cLo = if (lo == 0L) "0" else s"b$lo"
      s"SELECT event_type, n, CAST($t AS BIGINT) AS threshold_c, " +
        s"floor(($cLo * ${hi - lo} + ${t - lo} * (b$hi - $cLo)) * 10000 " +
        s"/ (${hi - lo} * n)) / 1e4 AS share FROM b"
    }.mkString(" UNION ALL ")
    s"""WITH s AS (
          SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v_c FROM events),
        b AS (SELECT event_type, $bucketCols, count(*) AS n FROM s GROUP BY 1)
        $shareRows ORDER BY event_type, threshold_c"""
  }

  // -------------------------------------------- day-of-week baseline

  val BaselineTrainDays = 21

  /** Seasonality-aware anomaly detection: a (series, day-of-week,
    * hour-of-day) median baseline trained on the first three weeks,
    * scored against the remaining days — the "Tuesday 9am is always
    * busy" rule that global MAD/z-score misses. Hourly means are exact
    * integer-cent floor-divisions; the baseline median over ≤3 integer
    * samples is exact (k or k+0.5); the flag compares 2·|dev| >
    * baseline in integers scaled by 2 — zero float ops anywhere.
    * Train/score split derives from min(ts) (broadcast 1-row), not a
    * literal date. */
  def dowBaseline: Q = (s, d) => {
    val sm = samples(s, d)
    val t0 = Tables.events(s, d).agg(to_date(min(col("ts"))).as("d0"))
    val hourly = sm.crossJoin(broadcast(t0))
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), col("d0")).as("day_nr"),
        dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hod"))
      .agg(expr("sum(v_c) DIV count(*)").as("mean_c"))
    val base = hourly.filter(col("day_nr") < BaselineTrainDays)
      .groupBy(col("event_type"), col("dow"), col("hod"))
      .agg((expr("percentile(mean_c, 0.5e0)") * 2).cast("long").as("base2"))
    hourly.filter(col("day_nr") >= BaselineTrainDays)
      .join(base, Seq("event_type", "dow", "hod"))
      .withColumn("dev2", col("mean_c") * 2 - col("base2"))
      .filter(abs(col("dev2")) * 2 > col("base2"))
      .select(col("event_type"), col("day_nr"), col("dow"), col("hod"),
        col("mean_c"), col("base2"), col("dev2"))
  }

  val dowBaselineSql: String =
    s"""WITH s AS (
          SELECT event_type, ts, CAST(floor(value * 100) AS BIGINT) AS v_c FROM events),
        t0 AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM s),
        hourly AS (
          SELECT event_type,
                 datediff('day', d0, CAST(ts AS DATE)) AS day_nr,
                 dayofweek(ts) + 1 AS dow, hour(ts) AS hod,
                 sum(v_c) // count(*) AS mean_c
          FROM s CROSS JOIN t0 GROUP BY 1, 2, 3, 4),
        base AS (
          SELECT event_type, dow, hod,
                 CAST(quantile_cont(mean_c, 0.5) * 2 AS BIGINT) AS base2
          FROM hourly WHERE day_nr < $BaselineTrainDays GROUP BY 1, 2, 3)
        SELECT h.event_type, CAST(h.day_nr AS INT) AS day_nr, CAST(h.dow AS INT) AS dow,
               CAST(h.hod AS INT) AS hod, CAST(h.mean_c AS BIGINT) AS mean_c,
               b.base2, CAST(h.mean_c * 2 - b.base2 AS BIGINT) AS dev2
        FROM hourly h JOIN base b USING (event_type, dow, hod)
        WHERE h.day_nr >= $BaselineTrainDays
          AND abs(h.mean_c * 2 - b.base2) * 2 > b.base2
        ORDER BY h.event_type, h.day_nr, h.hod"""

  // ------------------------------------------------ CUSUM changepoint

  /** CUSUM alarm threshold: h = 8·k (k itself is the per-series MAD of
    * the deviations — the classic "k = 0.5σ, h = 4–5σ" tuning with the
    * robust scale standing in for σ). */
  val CusumHMult = 8L

  /** One-sided upper CUSUM changepoint detection (Page 1954) — the SPC
    * monitor that flags a sustained mean SHIFT where per-point
    * detectors only see spikes: S_i = max(0, S_{i-1} + (x_i − target −
    * k)), alarm while S_i > h. Target = per-series median of hourly
    * means; allowance k = median absolute deviation around it (both
    * robust, both computed in one tiny aggregate each and broadcast).
    * The recurrence is inherently sequential per series, so it runs as
    * the same order-fixed `aggregate()` fold as `metrics_smooth_ewma`/
    * `metrics_holt_winters` — per-series state, one shuffle, |hours|
    * array per series. Everything is INTEGER on a 4× scale (hourly
    * means are floor-divided cents; the median doubles to 2×-integers;
    * the MAD doubles again), so unlike the EWMA fold there is no float
    * surface at all. */
  def cusumChangepoint: Q = (s, d) => {
    val hourly = samples(s, d)
      .groupBy(col("event_type"), expr("(sec DIV 3600) * 3600").as("hour_sec"))
      .agg(expr("sum(v_c) DIV count(*)").as("mean_c"))
    val base = hourly.groupBy(col("event_type"))
      .agg((expr("percentile(mean_c, 0.5e0)") * 2).cast("long").as("base2"))
    val dev = hourly.join(broadcast(base), Seq("event_type"))
      .withColumn("dev2", col("mean_c") * 2 - col("base2"))
    val k = dev.groupBy(col("event_type"))
      .agg((expr("percentile(abs(dev2), 0.5e0)") * 2).cast("long").as("k4"))
    dev.join(broadcast(k), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("base2")).as("base2"), max(col("k4")).as("k4"),
        sort_array(collect_list(struct(col("hour_sec"), col("mean_c"), col("dev2")))).as("seq"))
      .withColumn("s4", expr(
        """aggregate(seq, CAST(array() AS ARRAY<BIGINT>),
             (acc, p) -> concat(acc, array(greatest(0L,
               CASE WHEN size(acc) = 0 THEN 0L ELSE element_at(acc, -1) END
                 + (2 * p.dev2 - k4)))))"""))
      .select(col("event_type"), col("base2"), col("k4"),
        explode(arrays_zip(col("seq"), col("s4"))).as("z"))
      .select(col("event_type"), col("z.seq.hour_sec").as("hour_sec"),
        col("z.seq.mean_c").as("mean_c"), col("base2"), col("k4"),
        col("z.s4").as("s4"),
        (col("z.s4") > col("k4") * CusumHMult).as("alarm"))
  }

  val cusumChangepointSql: String =
    s"""WITH RECURSIVE hourly AS (
          SELECT event_type,
                 (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hour_sec,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) // count(*) AS BIGINT) AS mean_c
          FROM events GROUP BY 1, 2),
        base AS (
          SELECT event_type, CAST(quantile_cont(mean_c, 0.5) * 2 AS BIGINT) AS base2
          FROM hourly GROUP BY 1),
        dev AS (
          SELECT h.*, b.base2, 2 * h.mean_c - b.base2 AS dev2
          FROM hourly h JOIN base b USING (event_type)),
        kt AS (
          SELECT event_type, CAST(quantile_cont(abs(dev2), 0.5) * 2 AS BIGINT) AS k4
          FROM dev GROUP BY 1),
        idx AS (
          SELECT d.*, k.k4,
                 row_number() OVER (PARTITION BY d.event_type ORDER BY d.hour_sec) AS rn
          FROM dev d JOIN kt k USING (event_type)),
        rec AS (
          SELECT event_type, hour_sec, rn, mean_c, base2, k4,
                 greatest(0, 2 * dev2 - k4) AS s4
          FROM idx WHERE rn = 1
          UNION ALL
          SELECT i.event_type, i.hour_sec, i.rn, i.mean_c, i.base2, i.k4,
                 greatest(0, rec.s4 + (2 * i.dev2 - i.k4))
          FROM idx i JOIN rec ON i.event_type = rec.event_type AND i.rn = rec.rn + 1)
        SELECT event_type, CAST(hour_sec AS BIGINT) AS hour_sec,
               mean_c, base2, k4, CAST(s4 AS BIGINT) AS s4,
               s4 > k4 * $CusumHMult AS alarm
        FROM rec ORDER BY event_type, hour_sec"""

  // --------------------------------------------------- LTTB downsample

  /** Points per LTTB bucket. */
  val LttbK = 20

  /** Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    * the shape-preserving decimation dashboards run before plotting
    * (Grafana/Influx `lttb`): keep both endpoints; from each interior
    * bucket keep the point forming the largest triangle with the
    * PREVIOUSLY kept point and the NEXT bucket's centroid. The
    * prev-selected dependency makes it a sequential per-series pass —
    * exactly the order-fixed `aggregate()` fold the EWMA/CUSUM entries
    * use, here with a nested argmax per step. Everything stays in
    * BIGINT: the triangle area is scaled by the next bucket's size
    * (argmax-invariant within a bucket since the centroid is shared),
    * so area = |(n·x_a−Σx)(y_b−y_a) − (x_a−x_b)(Σy−n·y_a)| is exact
    * integer cross-math; ties break to the earliest point via an
    * ascending (area, −sec) struct sort. One shuffle on the series
    * key; |points| array per series is the declared per-series memory
    * (the same contract as the EWMA fold). */
  def downsampleLttb: Q = (s, d) => {
    val k = LttbK
    // the selection chain (each pick anchors on the previous pick) runs
    // in the compiled graft_lttb kernel — ONE O(n) pass per series; the
    // former higher-order `aggregate` fold copied its growing array
    // accumulator per bucket (O(buckets²) — the sf1 probe's 22× entry)
    samples(s, d)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("sec"), col("event_id"), col("v_c")))).as("pts"))
      .filter(size(col("pts")) >= 3)
      .select(col("event_type"), posexplode(expr(s"graft_lttb(pts, $k)")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("sel_idx"),
        col("col.sec").as("sec"), col("col.v_c").as("v_c"))
  }

  val downsampleLttbSql: String = {
    val k = LttbK
    // DuckDB 1.0's list_reduce can't fold with a differently-typed
    // accumulator, so the sequential pass is a recursive CTE over the
    // bucket index; the per-step argmax is the same ascending
    // (area, −sec) struct sort, as a pure scalar list expression (no
    // aggregate/window in the recursive term).
    s"""WITH RECURSIVE pts AS (
          SELECT event_type,
                 list_sort(list({'sec': CAST(epoch(date_trunc('second', ts)) AS BIGINT),
                                 'event_id': event_id,
                                 'v_c': CAST(floor(value * 100) AS BIGINT)})) AS pts
          FROM events GROUP BY 1),
        pre AS (
          SELECT event_type, pts, len(pts) AS n,
                 (len(pts) - 2 + ${k - 1}) // $k AS nb
          FROM pts WHERE len(pts) >= 3),
        bk AS (
          SELECT event_type, n, nb, i,
                 pts[2 + i * $k : 1 + i * $k + least($k, n - 2 - i * $k)] AS ps,
                 CASE WHEN i < nb - 1 THEN {
                     'sx': list_sum(list_transform(
                             pts[2 + (i + 1) * $k : 1 + (i + 1) * $k + least($k, n - 2 - (i + 1) * $k)],
                             p -> p.sec)),
                     'sy': list_sum(list_transform(
                             pts[2 + (i + 1) * $k : 1 + (i + 1) * $k + least($k, n - 2 - (i + 1) * $k)],
                             p -> p.v_c)),
                     'n1': CAST(least($k, n - 2 - (i + 1) * $k) AS BIGINT)}
                   ELSE {'sx': pts[-1].sec, 'sy': pts[-1].v_c, 'n1': CAST(1 AS BIGINT)} END AS cen
          FROM pre, LATERAL (SELECT unnest(range(0, nb)) AS i) t),
        rec AS (
          SELECT event_type, CAST(-1 AS BIGINT) AS i,
                 pts[1].sec AS sec, pts[1].v_c AS v_c
          FROM pre
          UNION ALL
          SELECT b.event_type, b.i,
                 list_sort(list_transform(b.ps, p -> {
                   'a': abs((b.cen.n1 * rec.sec - b.cen.sx) * (p.v_c - rec.v_c)
                          - (rec.sec - p.sec) * (b.cen.sy - b.cen.n1 * rec.v_c)),
                   'negs': -p.sec,
                   'sec': p.sec, 'v_c': p.v_c}))[-1].sec,
                 list_sort(list_transform(b.ps, p -> {
                   'a': abs((b.cen.n1 * rec.sec - b.cen.sx) * (p.v_c - rec.v_c)
                          - (rec.sec - p.sec) * (b.cen.sy - b.cen.n1 * rec.v_c)),
                   'negs': -p.sec,
                   'sec': p.sec, 'v_c': p.v_c}))[-1].v_c
          FROM bk b JOIN rec ON b.event_type = rec.event_type AND b.i = rec.i + 1),
        allsel AS (
          SELECT event_type, i, sec, v_c FROM rec
          UNION ALL
          SELECT event_type, nb, pts[-1].sec, pts[-1].v_c FROM pre)
        SELECT event_type, CAST(i + 2 AS INT) AS sel_idx, sec, v_c
        FROM allsel ORDER BY event_type, sel_idx"""
  }

  // ------------------------------------------------------- alert feed

  /** Unified alert feed — the "alert inbox" a monitoring UI reads: the
    * CUSUM shift detector and the day-of-week seasonal detector
    * normalized into one (series, hour, detector, score) stream. A
    * composition entry in the `tsdb_end_to_end` spirit: both detectors
    * re-derive from the same hourly rollup inside ONE plan, so the
    * series-keyed exchange is planned once; scores stay in the
    * detectors' native exact integers. */
  def alertFeed: Q = (s, d) => {
    val cus = cusumChangepoint(s, d)
      .filter(col("alarm"))
      .select(col("event_type"), col("hour_sec"),
        lit("cusum_shift").as("detector"), col("s4").as("score"))
    val t0 = Tables.events(s, d)
      .agg(unix_timestamp(to_date(min(col("ts")))).as("d0_sec"))
    val dow = dowBaseline(s, d).crossJoin(broadcast(t0))
      .select(col("event_type"),
        (col("d0_sec") + col("day_nr").cast("long") * 86400
          + col("hod").cast("long") * 3600).as("hour_sec"),
        lit("dow_seasonal").as("detector"), abs(col("dev2")).as("score"))
    cus.unionByName(dow)
  }

  val alertFeedSql: String = {
    // the detectors' proven CTE stacks, unioned into one feed
    val cusumFeed =
      s"""SELECT event_type, hour_sec, 'cusum_shift' AS detector, s4 AS score
          FROM (${cusumChangepointSql.replace("ORDER BY event_type, hour_sec", "")}) c
          WHERE alarm"""
    val dowFeed =
      s"""SELECT f.event_type,
                 t0.d0_sec + f.day_nr * 86400 + f.hod * 3600 AS hour_sec,
                 'dow_seasonal' AS detector, CAST(abs(f.dev2) AS BIGINT) AS score
          FROM (${dowBaselineSql.replace("ORDER BY h.event_type, h.day_nr, h.hod", "")}) f,
               (SELECT CAST(epoch(CAST(min(ts) AS DATE)) AS BIGINT) AS d0_sec FROM events) t0"""
    s"""SELECT * FROM ($cusumFeed UNION ALL $dowFeed) u
        ORDER BY event_type, hour_sec, detector"""
  }

  // ---------------------------------------------- offset comparison

  val OffsetSec = 7L * 86400  // PromQL `offset 7d`

  /** PromQL `offset` comparison — `m / (m offset 7d)`, the
    * week-over-week read every dashboard keeps: hourly means (exact
    * floor-divided cents) self-joined on (series, hour − 7d). The
    * offset join is an EQUI-join on the shifted key — no window, no
    * spine; hours without a prior week simply don't appear (PromQL
    * semantics). Ratio is one floored division of integers. */
  def offsetCompare: Q = (s, d) => {
    val hourly = samples(s, d)
      .groupBy(col("event_type"), expr("(sec DIV 3600) * 3600").as("hour_sec"))
      .agg(expr("sum(v_c) DIV count(*)").as("mean_c"))
    val prev = hourly.select(col("event_type"),
      (col("hour_sec") + OffsetSec).as("hour_sec"), col("mean_c").as("prev_c"))
    hourly.join(prev, Seq("event_type", "hour_sec"))
      .filter(col("prev_c") > 0)
      .select(col("event_type"), col("hour_sec"), col("mean_c"), col("prev_c"),
        (col("mean_c") - col("prev_c")).as("wow_diff"),
        (floor(col("mean_c") * lit(10000) / col("prev_c")) / 1e4).as("wow_ratio"))
  }

  val offsetCompareSql: String =
    s"""WITH hourly AS (
          SELECT event_type,
                 (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hour_sec,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) // count(*) AS BIGINT) AS mean_c
          FROM events GROUP BY 1, 2)
        SELECT c.event_type, CAST(c.hour_sec AS BIGINT) AS hour_sec,
               c.mean_c, p.mean_c AS prev_c,
               c.mean_c - p.mean_c AS wow_diff,
               floor(c.mean_c * 10000 / p.mean_c) / 1e4 AS wow_ratio
        FROM hourly c JOIN hourly p
          ON p.event_type = c.event_type AND p.hour_sec = c.hour_sec - $OffsetSec
        WHERE p.mean_c > 0
        ORDER BY c.event_type, c.hour_sec"""

  // -------------------------------------------------------- top movers

  val TopMovers = 3

  /** Day-over-day top movers — the ops-dashboard "what changed most"
    * read: per day, the series ranked by absolute volume delta against
    * the previous day, top 3. One series-keyed lag + one day-keyed
    * bounded rank window (partitions sized by series cardinality);
    * counts are integers so the ranking is total with the series name
    * as tiebreak. */
  def topMovers: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val wSeries = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wDay = Window.partitionBy(col("day"))
      .orderBy(abs(col("n") - col("prev_n")).desc, col("event_type"))
    daily
      .withColumn("prev_n", lag(col("n"), 1).over(wSeries))
      .filter(col("prev_n").isNotNull)
      .withColumn("rk", row_number().over(wDay))
      .filter(col("rk") <= TopMovers)
      .select(col("day"), col("rk").cast("int").as("rk"), col("event_type"),
        col("n"), col("prev_n"), (col("n") - col("prev_n")).as("delta"))
  }

  val topMoversSql: String =
    s"""WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1, 2),
        lagged AS (
          SELECT event_type, day, n,
                 lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n
          FROM daily),
        ranked AS (
          SELECT day, event_type, n, prev_n,
                 row_number() OVER (PARTITION BY day
                   ORDER BY abs(n - prev_n) DESC, event_type) AS rk
          FROM lagged WHERE prev_n IS NOT NULL)
        SELECT day, CAST(rk AS INT) AS rk, event_type, n, prev_n,
               CAST(n - prev_n AS BIGINT) AS delta
        FROM ranked WHERE rk <= $TopMovers
        ORDER BY day, rk"""

  // ------------------------------------------- log2 gap histogram

  /** Inter-arrival-time histogram on LOG2 buckets — the standard shape
    * for latency/duration distributions (linear bins waste resolution
    * at both ends). bucket = bit-length(gap), computed EXACTLY as
    * `length(bin(gap))` (both engines render minimal-width binary), so
    * bucket k holds gaps in [2^(k−1), 2^k) — no floating log whose
    * last ulp could split a bucket boundary. One user-keyed lag + one
    * tiny aggregation. */
  def gapLog2Histogram: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
      .filter(col("gap").isNotNull)
      .withColumn("bucket",
        when(col("gap") <= 0, lit(0)).otherwise(length(bin(col("gap")))).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("gap")).as("lo_sec"), max(col("gap")).as("hi_sec"))
  }

  val gapLog2HistogramSql: String =
    """WITH g AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                  - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
         FROM events)
       SELECT CAST(CASE WHEN gap <= 0 THEN 0 ELSE length(bin(gap)) END AS INT) AS bucket,
              count(*) AS n, min(gap) AS lo_sec, max(gap) AS hi_sec
       FROM g WHERE gap IS NOT NULL
       GROUP BY 1 ORDER BY 1"""

  // -------------------------------------------- seasonal decomposition

  /** Classical additive decomposition (STL-lite): hourly series =
    * trend (centered 24 h moving average) + daily seasonal (per
    * hour-of-day mean of the detrended series) + residual. Every
    * component is a floor-division of exact BIGINT sums — the moving
    * average over a ROWS frame, the seasonal over a (series, hod)
    * aggregate broadcast back — so the decomposition is engine-exact
    * with zero rounding tricks. Interior hours only (the centered
    * frame must be full), mirrored by an explicit row-count test in
    * both engines. */
  def seasonalDecompose: Q = (s, d) => {
    val hourly = samples(s, d)
      .groupBy(col("event_type"), expr("(sec DIV 3600) * 3600").as("hour_sec"))
      .agg(expr("sum(v_c) DIV count(*)").as("mean_c"))
    val wT = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
      .rowsBetween(-12, 11)
    val trended = hourly
      .withColumn("t_sum", sum(col("mean_c")).over(wT))
      .withColumn("t_n", count(lit(1)).over(wT))
      .filter(col("t_n") === 24)
      .withColumn("trend_c", expr("t_sum DIV 24"))
      .withColumn("detr", col("mean_c") - col("trend_c"))
      .withColumn("hod", expr("(hour_sec DIV 3600) % 24"))
    val seasonal = trended.groupBy(col("event_type"), col("hod"))
      .agg(expr("sum(detr) DIV count(*)").as("seasonal_c"))
    trended.join(broadcast(seasonal), Seq("event_type", "hod"))
      .select(col("event_type"), col("hour_sec"), col("mean_c"),
        col("trend_c"), col("seasonal_c"),
        (col("mean_c") - col("trend_c") - col("seasonal_c")).as("residual_c"))
  }

  val seasonalDecomposeSql: String =
    """WITH hourly AS (
         SELECT event_type,
                (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600 AS hour_sec,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) // count(*) AS BIGINT) AS mean_c
         FROM events GROUP BY 1, 2),
       tr AS (
         SELECT event_type, hour_sec, mean_c,
                CAST(sum(mean_c) OVER w // 24 AS BIGINT) AS trend_c,
                count(*) OVER w AS t_n
         FROM hourly
         WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec
                      ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
       dt AS (
         SELECT event_type, hour_sec, mean_c, trend_c,
                mean_c - trend_c AS detr,
                (hour_sec // 3600) % 24 AS hod
         FROM tr WHERE t_n = 24),
       se AS (
         SELECT event_type, hod,
                CAST(sum(detr) // count(*) AS BIGINT) AS seasonal_c
         FROM dt GROUP BY 1, 2)
       SELECT d.event_type, CAST(d.hour_sec AS BIGINT) AS hour_sec, d.mean_c,
              d.trend_c, s.seasonal_c,
              CAST(d.mean_c - d.trend_c - s.seasonal_c AS BIGINT) AS residual_c
       FROM dt d JOIN se s USING (event_type, hod)
       ORDER BY d.event_type, d.hour_sec"""

  // -------------------------------------------------------------- apdex

  val ApdexT = 5000L  // satisfied threshold (cents); tolerating ≤ 4T

  /** Apdex score per series×day — the SRE satisfaction index
    * ((satisfied + tolerating/2) / total): pure conditional integer
    * counts on the exact cent values, held on a 2× scale so the half
    * weight never touches floats until one final floored division.
    * One aggregation pass, map-side combinable. */
  def apdex: Q = (s, d) => {
    samples(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(when(col("v_c") <= ApdexT, 1)).as("n_satisfied"),
        count(when(col("v_c") > ApdexT && col("v_c") <= 4 * ApdexT, 1)).as("n_tolerating"),
        count(when(col("v_c") > 4 * ApdexT, 1)).as("n_frustrated"),
        count(lit(1)).as("n"))
      .withColumn("apdex",
        floor((col("n_satisfied") * 2 + col("n_tolerating")) * lit(10000) /
          (col("n") * 2)) / 1e4)
  }

  val apdexSql: String =
    s"""SELECT event_type, CAST(ts AS DATE) AS day,
          count(*) FILTER (WHERE v_c <= $ApdexT) AS n_satisfied,
          count(*) FILTER (WHERE v_c > $ApdexT AND v_c <= ${4 * ApdexT}) AS n_tolerating,
          count(*) FILTER (WHERE v_c > ${4 * ApdexT}) AS n_frustrated,
          count(*) AS n,
          floor((count(*) FILTER (WHERE v_c <= $ApdexT) * 2
                 + count(*) FILTER (WHERE v_c > $ApdexT AND v_c <= ${4 * ApdexT}))
                * 10000 / (count(*) * 2)) / 1e4 AS apdex
        FROM (SELECT event_type, ts, CAST(floor(value * 100) AS BIGINT) AS v_c FROM events) s
        GROUP BY 1, 2 ORDER BY event_type, day"""

  val StaleGapSec = 3600L
  val StaleMarkerDelaySec = 300L

  /** Prometheus staleness markers — the TSDB write-side rule the
    * reference's remote-write consumer applies (a series with no new
    * sample within the staleness window gets a marker so range queries
    * stop extrapolating it; Prometheus encodes it as a NaN sample 5 min
    * after the last point, here an explicit row). A sample is followed
    * by a marker when the gap to the series' next sample exceeds
    * StaleGapSec — including the end-of-stream case, measured against
    * the global horizon (max sample time), which is how a disappeared
    * series keeps its final marker. One series-keyed lead window + a
    * broadcast one-row horizon; all integer-seconds arithmetic, no
    * float surface at all. */
  def staleness: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val horizon = samples(s, d).agg(max(col("sec")).as("hmax"))
    samples(s, d)
      .select(col("event_type"), col("sec"), col("event_id"))
      .withColumn("nxt", lead(col("sec"), 1).over(w))
      .crossJoin(broadcast(horizon))
      .withColumn("gap_sec", coalesce(col("nxt"), col("hmax")) - col("sec"))
      .filter(col("gap_sec") > StaleGapSec)
      .select(col("event_type"), (col("sec") + StaleMarkerDelaySec).as("stale_at_sec"),
        col("gap_sec"))
  }

  val stalenessSql: String =
    s"""WITH s AS (
          SELECT event_type, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 event_id
          FROM events),
        g AS (
          SELECT event_type, sec,
                 COALESCE(lead(sec) OVER (PARTITION BY event_type ORDER BY sec, event_id),
                          (SELECT max(sec) FROM s)) - sec AS gap_sec
          FROM s)
        SELECT event_type, sec + $StaleMarkerDelaySec AS stale_at_sec, gap_sec
        FROM g WHERE gap_sec > $StaleGapSec
        ORDER BY event_type, stale_at_sec"""

  val ExemplarK = 3
  val ExemplarBucketSec = 21600L

  /** Prometheus exemplar storage semantics: alongside each aggregated
    * bucket, keep K raw sample references ("exemplars") so an alert on
    * the aggregate can link back to concrete traces. Selection is
    * bottom-K by md5(event_id) — a deterministic uniform draw with no
    * RNG state (same contract as `sample_reservoir`), through the
    * bounded `graft_topk` aggregate: ≤ K rows per (partition, bucket)
    * cross the shuffle no matter how hot the bucket. Values rejoin by
    * event_id afterwards — the exemplar set is series×buckets×K rows,
    * broadcast-sized by construction. */
  def exemplars: Q = (s, d) => {
    val picked = Tables.events(s, d)
      .select(col("event_type"), col("event_id"),
        (floor(unix_timestamp(date_trunc("second", col("ts"))) / ExemplarBucketSec)
          * ExemplarBucketSec).cast("long").as("bucket_start"),
        expr("cast(conv(substring(md5(cast(event_id as string)), 1, 8), 16, 10) as double)")
          .as("hsc"))
      .groupBy(col("event_type"), col("bucket_start"))
      .agg(expr(s"graft_topk(-hsc, event_id, $ExemplarK)").as("top"))
      .select(col("event_type"), col("bucket_start"), posexplode(col("top")))
      .select(col("event_type"), col("bucket_start"),
        (col("pos") + 1).cast("int").as("exemplar_rank"), col("col.id").as("event_id"))
    picked.join(
        Tables.events(s, d).select(col("event_id"),
          floor(col("value") * 100).cast("long").as("value_cents")),
        "event_id")
      .select(col("event_type"), col("bucket_start"), col("exemplar_rank"),
        col("event_id"), col("value_cents"))
  }

  val exemplarsSql: String =
    s"""SELECT event_type, bucket_start, exemplar_rank, event_id,
               CAST(floor(value * 100) AS BIGINT) AS value_cents FROM (
          SELECT event_type, event_id, value,
                 CAST(floor(epoch(date_trunc('second', ts)) / $ExemplarBucketSec)
                      * $ExemplarBucketSec AS BIGINT) AS bucket_start,
                 CAST(row_number() OVER (
                   PARTITION BY event_type,
                     CAST(floor(epoch(date_trunc('second', ts)) / $ExemplarBucketSec)
                          * $ExemplarBucketSec AS BIGINT)
                   ORDER BY ('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT,
                            event_id) AS INT) AS exemplar_rank
          FROM events) t
        WHERE exemplar_rank <= $ExemplarK
        ORDER BY event_type, bucket_start, exemplar_rank"""

  /** SLO objective in ppm of non-error events (75% — matched to the
    * synthetic corpus's ~20% error rate so both sides of the breach
    * line are exercised). */
  val SloObjectivePpm = 750000L

  /** SLO attainment calendar — the error-budget bookkeeping a
    * collector's consumers run over its metrics (availability per day,
    * month-to-date attainment, budget left against the objective).
    * EVERY number is an exact integer: attainment is integer-division
    * ppm (good·1e6 div total), cumulative masses are BIGINT sums over
    * the ≤31-row day spine, budget left is a plain subtraction — there
    * is no floating point in this operator at all. At 100 TB the daily
    * rollup is one map-side-combinable aggregation; the cumulative
    * window runs over the bounded day spine. */
  def sloAttainment: Q = (s, d) => {
    val w = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .groupBy(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)")
        .as("day"))
      .agg(count(lit(1)).as("total"),
        count(when(col("event_type") === "error", 1)).as("errors"))
      .withColumn("attainment_ppm",
        expr("(total - errors) * 1000000 div total"))
      .withColumn("cum_total", sum(col("total")).over(w))
      .withColumn("cum_errors", sum(col("errors")).over(w))
      .withColumn("cum_attainment_ppm",
        expr("(cum_total - cum_errors) * 1000000 div cum_total"))
      .withColumn("budget_left_ppm", col("cum_attainment_ppm") - lit(SloObjectivePpm))
      .withColumn("breached", col("budget_left_ppm") < 0)
      .select(col("day"), col("total"), col("errors"), col("attainment_ppm"),
        col("cum_total"), col("cum_errors"), col("cum_attainment_ppm"),
        col("budget_left_ppm"), col("breached"))
  }

  val sloAttainmentSql: String =
    s"""WITH daily AS (
         SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                count(*) AS total,
                count(*) FILTER (WHERE event_type = 'error') AS errors
         FROM events GROUP BY 1),
       c AS (
         SELECT day, total, errors,
                (total - errors) * 1000000 // total AS attainment_ppm,
                CAST(sum(total) OVER win AS BIGINT) AS cum_total,
                CAST(sum(errors) OVER win AS BIGINT) AS cum_errors
         FROM daily
         WINDOW win AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
       SELECT day, total, errors, attainment_ppm, cum_total, cum_errors,
              (cum_total - cum_errors) * 1000000 // cum_total AS cum_attainment_ppm,
              (cum_total - cum_errors) * 1000000 // cum_total - $SloObjectivePpm
                AS budget_left_ppm,
              (cum_total - cum_errors) * 1000000 // cum_total - $SloObjectivePpm < 0
                AS breached
       FROM c ORDER BY day"""

  /** M4 downsampling (Jugel et al., VLDB 2014): per pixel-bucket the
    * FIRST, LAST, MIN and MAX samples — the four points that make a
    * line rendering of the bucket pixel-exact, where avg-downsampling
    * visually lies. Unlike LTTB (a per-series sequential fold), M4 is
    * ONE map-side-combinable aggregation: first/last ride
    * min/max(struct(sec, event_id, value)) — exact, order-free — so
    * the operator scales like any groupBy. Values round once at the
    * sample (2-dp inputs), everything else is integer. */
  def downsampleM4: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("sec"),
        col("event_id"), round(col("value"), 2).as("v"))
      .groupBy(col("event_type"),
        expr("(sec div 21600) * 21600").as("bucket_start"))
      .agg(count(lit(1)).as("samples"),
        min(struct(col("sec"), col("event_id"), col("v"))).as("f"),
        max(struct(col("sec"), col("event_id"), col("v"))).as("l"),
        min(col("v")).as("min_value"),
        max(col("v")).as("max_value"))
      .select(col("event_type"), col("bucket_start"), col("samples"),
        col("f.v").as("first_value"), col("l.v").as("last_value"),
        col("min_value"), col("max_value"))
  }

  val downsampleM4Sql: String =
    """WITH e AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                event_id, round(value, 2) AS v
         FROM events)
       SELECT event_type,
              (sec // 21600) * 21600 AS bucket_start,
              count(*) AS samples,
              (min({'s': sec, 'e': event_id, 'v': v})).v AS first_value,
              (max({'s': sec, 'e': event_id, 'v': v})).v AS last_value,
              min(v) AS min_value,
              max(v) AS max_value
       FROM e GROUP BY 1, 2 ORDER BY event_type, bucket_start"""

  /** Monotonic counter repair — the adjusted series a TSDB actually
    * stores when a counter resets (process restart): each sample's
    * repaired value is the running sum of non-negative increases,
    * where a drop re-bases the chain at the post-reset value (the
    * `increase()` reset rule, applied cumulatively). Exact integer
    * cents end-to-end; one per-series lag window + one per-series
    * cumulative window over the same shuffle. */
  def counterRepair: Q = (s, d) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"), col("event_id"))
    val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    samples(s, d)
      .withColumn("delta", col("v_c") - lag(col("v_c"), 1).over(w))
      .withColumn("inc",
        when(col("delta").isNull, lit(0L))
          .when(col("delta") < 0, col("v_c"))
          .otherwise(col("delta")))
      .withColumn("repaired_c", sum(col("inc")).over(wc))
      .withColumn("was_reset", coalesce(col("delta") < 0, lit(false)))
      .select(col("event_type"), col("sec"), col("event_id"), col("v_c").as("raw_c"),
        col("repaired_c"), col("was_reset"))
  }

  val counterRepairSql: String =
    """WITH s AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                event_id,
                CAST(floor(value * 100) AS BIGINT) AS v_c
         FROM events),
       l AS (
         SELECT event_type, sec, event_id, v_c,
                v_c - lag(v_c) OVER w AS delta
         FROM s WINDOW w AS (PARTITION BY event_type ORDER BY sec, event_id)),
       i AS (
         SELECT event_type, sec, event_id, v_c,
                CASE WHEN delta IS NULL THEN 0
                     WHEN delta < 0 THEN v_c ELSE delta END AS inc,
                coalesce(delta < 0, false) AS was_reset
         FROM l)
       SELECT event_type, sec, event_id, v_c AS raw_c,
              CAST(sum(inc) OVER (PARTITION BY event_type ORDER BY sec, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS repaired_c,
              was_reset
       FROM i ORDER BY event_type, sec, event_id"""

  /** Shewhart x̄/R A2 factor — the classical n=5 convention; a
    * config knob, embedded as the same literal in both engines. */
  val SpcA2 = 0.577

  /** Statistical process control (Shewhart x̄/R chart) per series:
    * daily subgroups contribute a mean and range; the series' control
    * limits are grand-mean ± A2·R̄, and each day is flagged when its
    * subgroup mean leaves the band. Every mean is one division of
    * exact integer cents, ranges are exact integers, and the limits
    * are a per-series 1-row broadcast — the whole chart is two
    * aggregations and one broadcast join. */
  def spcControl: Q = (s, d) => {
    val daily = samples(s, d)
      .groupBy(col("event_type"), expr("sec div 86400").as("day"))
      .agg(count(lit(1)).as("n"), sum(col("v_c")).as("sum_c"),
        (max(col("v_c")) - min(col("v_c"))).as("range_c"))
    val limits = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("sum_c")).as("tot_c"),
        sum(col("n")).as("tot_n"), sum(col("range_c")).as("tot_range"))
      .select(col("event_type"), col("n_days"),
        (col("tot_c").cast("double") / col("tot_n").cast("double")).as("grand_mean"),
        (col("tot_range").cast("double") / col("n_days").cast("double")).as("rbar"))
    daily.join(broadcast(limits), Seq("event_type"))
      .withColumn("day_mean", col("sum_c").cast("double") / col("n").cast("double"))
      .select(col("event_type"), col("day"), col("n"),
        (floor(col("day_mean") * 1e2) / 1e6).as("day_mean"),
        (floor(col("grand_mean") * 1e2) / 1e6).as("center"),
        (floor((col("grand_mean") + lit(SpcA2) * col("rbar")) * 1e2) / 1e6).as("ucl"),
        (floor((col("grand_mean") - lit(SpcA2) * col("rbar")) * 1e2) / 1e6).as("lcl"),
        (col("day_mean") > col("grand_mean") + lit(SpcA2) * col("rbar")
          || col("day_mean") < col("grand_mean") - lit(SpcA2) * col("rbar"))
          .as("out_of_control"))
  }

  val spcControlSql: String =
    s"""WITH sm AS (
          SELECT event_type,
                 CAST(floor(value * 100) AS BIGINT) AS v_c,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
          FROM events),
        daily AS (
          SELECT event_type, day, count(*) AS n,
                 CAST(sum(v_c) AS BIGINT) AS sum_c,
                 CAST(max(v_c) - min(v_c) AS BIGINT) AS range_c
          FROM sm GROUP BY 1, 2),
        limits AS (
          SELECT event_type, count(*) AS n_days,
                 CAST(sum(sum_c) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS grand_mean,
                 CAST(sum(range_c) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS rbar
          FROM daily GROUP BY 1)
        SELECT d.event_type, d.day, d.n,
               floor(CAST(sum_c AS DOUBLE) / CAST(d.n AS DOUBLE) * 1e2) / 1e6 AS day_mean,
               floor(grand_mean * 1e2) / 1e6 AS center,
               floor((grand_mean + $SpcA2 * rbar) * 1e2) / 1e6 AS ucl,
               floor((grand_mean - $SpcA2 * rbar) * 1e2) / 1e6 AS lcl,
               (CAST(sum_c AS DOUBLE) / CAST(d.n AS DOUBLE)
                  > grand_mean + $SpcA2 * rbar
                OR CAST(sum_c AS DOUBLE) / CAST(d.n AS DOUBLE)
                  < grand_mean - $SpcA2 * rbar) AS out_of_control
        FROM daily d JOIN limits l ON l.event_type = d.event_type
        ORDER BY d.event_type, d.day"""

  /** Scrape-target health ledger — the collector's own `up` metric
    * read (the reference's whole job is keeping targets scraped;
    * reference collector/database-collector.go runs the per-database
    * scrape loop this ledger would monitor): each series is a target,
    * each hour in the global span a scheduled scrape slot, `up` = the
    * slot has ≥1 sample. Emits per target the slot count, up count,
    * availability, flap count (up↔down transitions) and the longest
    * down run — the target-flapping read an SRE does before trusting
    * an alert. Everything runs on the |targets|×|hours| spine
    * (bounded by the time span, never event volume): one fact
    * aggregation, spine generation by sequence+explode, bounded
    * windows per series. Run segmentation is the classic
    * sum-of-transitions run id. */
  def scrapeHealth: Q = (s, d) => {
    val h = Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg(count(lit(1)).as("n_samples"))
    val bounds = h.agg(min(col("hour_sec")).as("h0"), max(col("hour_sec")).as("h1"))
    val spine = h.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(h0, h1, 3600)")).as("hour_sec"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
    val runs = spine.join(h, Seq("event_type", "hour_sec"), "left")
      .select(col("event_type"), col("hour_sec"),
        when(col("n_samples").isNull, 0L).otherwise(1L).as("up"))
      .withColumn("flap",
        when(lag(col("up"), 1).over(w).isNotNull &&
          lag(col("up"), 1).over(w) =!= col("up"), 1L).otherwise(0L))
      .withColumn("run_id", sum(col("flap")).over(w))
    val runLens = runs.groupBy(col("event_type"), col("run_id"))
      .agg(min(col("up")).as("up"), count(lit(1)).as("len"))
    val down = runLens.filter(col("up") === 0)
      .groupBy(col("event_type")).agg(max(col("len")).as("ldh"))
    runs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_slots"), sum(col("up")).as("n_up"),
        sum(col("flap")).as("n_flaps"))
      .join(down, Seq("event_type"), "left")
      .select(col("event_type"), col("n_slots"), col("n_up"),
        (floor(col("n_up").cast("double") / col("n_slots").cast("double") * 1e4) / 1e4)
          .as("availability"),
        col("n_flaps"), coalesce(col("ldh"), lit(0L)).as("longest_down_hours"))
  }

  val scrapeHealthSql: String =
    """WITH ev AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec
         FROM events),
       h AS (SELECT event_type, hour_sec, count(*) AS n FROM ev GROUP BY 1, 2),
       b AS (SELECT min(hour_sec) AS h0, max(hour_sec) AS h1 FROM h),
       spine AS (
         SELECT et.event_type, gs.hs AS hour_sec
         FROM (SELECT DISTINCT event_type FROM h) et
         CROSS JOIN (SELECT unnest(generate_series(h0, h1, 3600)) AS hs FROM b) gs),
       up AS (
         SELECT s.event_type, s.hour_sec,
                CASE WHEN h.n IS NULL THEN 0 ELSE 1 END AS up
         FROM spine s LEFT JOIN h USING (event_type, hour_sec)),
       f AS (
         SELECT *, CASE WHEN lag(up) OVER w IS NOT NULL
                         AND lag(up) OVER w <> up THEN 1 ELSE 0 END AS flap
         FROM up WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec)),
       r AS (
         SELECT *, sum(flap) OVER (PARTITION BY event_type ORDER BY hour_sec) AS run_id
         FROM f),
       rl AS (SELECT event_type, run_id, min(up) AS up, count(*) AS len
              FROM r GROUP BY 1, 2),
       dn AS (SELECT event_type, max(len) AS ldh FROM rl WHERE up = 0 GROUP BY 1),
       sm AS (SELECT event_type, count(*) AS n_slots, CAST(sum(up) AS BIGINT) AS n_up,
                     CAST(sum(flap) AS BIGINT) AS n_flaps
              FROM r GROUP BY 1)
       SELECT sm.event_type, n_slots, n_up,
              floor(CAST(n_up AS DOUBLE) / CAST(n_slots AS DOUBLE) * 1e4) / 1e4
                AS availability,
              n_flaps, CAST(COALESCE(dn.ldh, 0) AS BIGINT) AS longest_down_hours
       FROM sm LEFT JOIN dn USING (event_type) ORDER BY event_type"""

  /** Rolling 7-day Pearson correlation of every series against the
    * 'click' reference series — the "do these metrics move together
    * this week" read behind dashboard correlation panels (and the
    * lead-indicator hunt `metrics_top_movers` doesn't answer). Daily
    * sums are exact integer cents; the five classical sums ride ONE
    * rows-frame window over the observed-day spine (aligned by inner
    * join on day — frames cover present days, identically in both
    * engines), so each correlation is one fixed IEEE sequence over
    * exact BIGINTs with zero-variance guarded to null. Corpus cost is
    * the daily aggregation; windows run on the bounded |series|×|days|
    * table. Wide products stay in BIGINT here (7-day frames of cent
    * sums); a 100 TB deployment with larger frames lifts them to
    * DECIMAL(38,0) the way the OLS entry does. */
  def rollingCorr: Q = (s, d) => {
    val daily = samples(s, d)
      .groupBy(col("event_type"), expr("sec div 86400").as("day"))
      .agg(sum(col("v_c")).as("x"))
    val ref = daily.filter(col("event_type") === "click")
      .select(col("day"), col("x").as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-6, 0)
    daily.join(broadcast(ref), "day")
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("n") === 7)
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("day"),
        when(col("vx") > 0 && col("vy") > 0,
          floor((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double")))
            * 1e4) / 1e4).as("corr_7d"))
  }

  val rollingCorrSql: String =
    """WITH daily AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       ref AS (SELECT day, x AS y FROM daily WHERE event_type = 'click'),
       j AS (SELECT d.event_type, d.day, d.x, r.y FROM daily d JOIN ref r USING (day)),
       f AS (
         SELECT event_type, day,
                count(*) OVER w AS n,
                CAST(sum(x) OVER w AS BIGINT) AS sx,
                CAST(sum(y) OVER w AS BIGINT) AS sy,
                CAST(sum(x * y) OVER w AS BIGINT) AS sxy,
                CAST(sum(x * x) OVER w AS BIGINT) AS sxx,
                CAST(sum(y * y) OVER w AS BIGINT) AS syy
         FROM j
         WINDOW w AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
       v AS (
         SELECT *, n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
         FROM f WHERE n = 7)
       SELECT event_type, day,
              CASE WHEN vx > 0 AND vy > 0
                   THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                              / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
                              * 1e4) / 1e4 END AS corr_7d
       FROM v ORDER BY event_type, day"""

  val AcfLags = Seq(1L, 7L)

  /** Per-series autocorrelation at lag 1 and 7 days — the periodicity
    * detector behind `metrics_seasonal_decompose`'s weekly assumption
    * (a series with no lag-7 signal shouldn't get a weekly baseline).
    * Pairs (day, day+k) align by equi-join on the daily aggregate —
    * no window, no spine densification needed (absent days simply
    * form no pair; n_pairs reports the support). The five sums are
    * exact BIGINTs; each r_k is one fixed IEEE sequence,
    * zero-variance guarded to null. Corpus cost is one daily
    * aggregation; the joins run on |series|×|days| rows. */
  def autocorr: Q = (s, d) => {
    val daily = samples(s, d)
      .groupBy(col("event_type"), expr("sec div 86400").as("day"))
      .agg(sum(col("v_c")).as("x"))
    val arms = AcfLags.map { k =>
      val b = daily.select(col("event_type"), (col("day") - k).as("day"),
        col("x").as("y"))
      daily.join(b, Seq("event_type", "day"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
        .withColumn("vx", col("n_pairs") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n_pairs") * col("syy") - col("sy") * col("sy"))
        .select(col("event_type"), lit(k).as("lag"), col("n_pairs"),
          when(col("vx") > 0 && col("vy") > 0,
            floor((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
              / (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double")))
              * 1e4) / 1e4).as("acf"))
    }
    arms.reduce(_ unionByName _)
  }

  val autocorrSql: String = {
    val arms = AcfLags.map { k =>
      s"""SELECT a.event_type, CAST($k AS BIGINT) AS lag, count(*) AS n_pairs,
                 CAST(sum(a.x) AS BIGINT) AS sx, CAST(sum(b.x) AS BIGINT) AS sy,
                 CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
                 CAST(sum(a.x * a.x) AS BIGINT) AS sxx,
                 CAST(sum(b.x * b.x) AS BIGINT) AS syy
          FROM daily a JOIN daily b
            ON b.event_type = a.event_type AND b.day = a.day + $k
          GROUP BY 1"""
    }.mkString(" UNION ALL ")
    s"""WITH daily AS (
          SELECT event_type,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        m AS ($arms),
        v AS (
          SELECT *, n_pairs * sxx - sx * sx AS vx, n_pairs * syy - sy * sy AS vy
          FROM m)
        SELECT event_type, lag, n_pairs,
               CASE WHEN vx > 0 AND vy > 0
                    THEN floor(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                               / (sqrt(CAST(vx AS DOUBLE)) * sqrt(CAST(vy AS DOUBLE)))
                               * 1e4) / 1e4 END AS acf
        FROM v ORDER BY event_type, lag"""
  }

  // ------------------------------------------------ SAX motif mining

  /** SAX geometry: 24 hourly means per (series, day) → 6 four-hour PAA
    * segments → alphabet {a,b,c,d} at the N(0,1) quartile breakpoints
    * ±0.6745 (Lin et al. 2003, "A Symbolic Representation of Time
    * Series"). Only full-coverage days (all 24 hours observed) are
    * symbolized — a partial day would z-normalize against a different
    * baseline and pollute the motif table. */
  val SaxSegs = 6
  private val SaxHoursPerSeg = 4

  /** One segment's symbol, generated ONCE and evaluated verbatim by
    * both engines: z = (segment mean − day mean)/day stddev reduces to
    * the exact-integer ratio num_g / (c_g · √var_num) with
    * num_g = seg_sum·n − day_sum·seg_n and var_num = n·Σx² − (Σx)² —
    * so the only float ops are one sqrt and one division, in the same
    * order everywhere. A zero-variance day symbolizes as all-'c'
    * (z = 0 sits in the third quartile cell). */
  private def saxSymExpr(g: Int): String = {
    val z = s"CASE WHEN var_num <= 0 THEN 0.0e0 ELSE CAST(num_$g AS DOUBLE) " +
      s"/ (CAST(c_$g AS DOUBLE) * sqrt(CAST(var_num AS DOUBLE))) END"
    s"CASE WHEN ($z) < -0.6745 THEN 'a' WHEN ($z) < 0.0 THEN 'b' " +
      s"WHEN ($z) < 0.6745 THEN 'c' ELSE 'd' END"
  }

  /** SAX symbolization + motif mining over the metric stream: each
    * (series, day) becomes a 6-letter SAX word (PAA over hourly means,
    * z-normalized per day, quartile alphabet); the motif table counts
    * how many series-days share each shape — the "what does a normal
    * day look like / which shape is rare" read that powers whole-fleet
    * pattern triage (daily ramp = 'aabcdd', midday spike = 'bbdbbb'…).
    *
    * Scale shape: hourly rollup (one aggregation with map-side
    * combine, the corpus' only shuffle) → per-day aggregation over
    * ≤24 rows per key → word count over a ≤4^6-key motif space. Hourly
    * means snap to the 1e-4 grid as exact BIGINTs, so every moment and
    * PAA numerator is exact integer arithmetic; the z-score touches
    * floats only in the shared generated expression above. */
  def saxMotifs: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"), hour(col("ts")).as("h"))
      .agg(expr("CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT)").as("vq"))
    val segAggs = (0 until SaxSegs).flatMap { g =>
      Seq(
        coalesce(sum(when(expr(s"h div $SaxHoursPerSeg") === g, col("vq"))), lit(0L))
          .as(s"s_$g"),
        count(when(expr(s"h div $SaxHoursPerSeg") === g, lit(1))).as(s"c_$g"))
    }
    val dayFull = hourly.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_hours"), (sum(col("vq")).as("s") +:
        sum(col("vq") * col("vq")).as("ss") +: segAggs): _*)
      .where(col("n_hours") === 24)
      .withColumn("var_num", col("n_hours") * col("ss") - col("s") * col("s"))
    val withNums = (0 until SaxSegs).foldLeft(dayFull) { (df, g) =>
      df.withColumn(s"num_$g",
        col(s"s_$g") * col("n_hours") - col("s") * col(s"c_$g"))
    }
    val word = concat((0 until SaxSegs).map(g => expr(saxSymExpr(g))): _*)
    withNums.select(col("event_type"), col("day"), word.as("sax_word"))
      .groupBy(col("sax_word"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("event_type")).as("n_series"))
  }

  val saxMotifsSql: String = {
    val segCols = (0 until SaxSegs).map { g =>
      s"""coalesce(sum(CASE WHEN h // $SaxHoursPerSeg = $g THEN vq END), 0) AS s_$g,
         count(*) FILTER (WHERE h // $SaxHoursPerSeg = $g) AS c_$g"""
    }.mkString(",\n                 ")
    val numCols = (0 until SaxSegs).map(g =>
      s"s_$g * n_hours - s * c_$g AS num_$g").mkString(",\n                 ")
    val syms = (0 until SaxSegs).map(saxSymExpr).mkString(" || ")
    s"""WITH hourly AS (
          SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) AS h,
                 CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS vq
          FROM events GROUP BY 1, 2, 3),
        dd AS (
          SELECT event_type, day, count(*) AS n_hours,
                 sum(vq) AS s, sum(vq * vq) AS ss,
                 $segCols
          FROM hourly GROUP BY 1, 2),
        v AS (
          SELECT *, n_hours * ss - s * s AS var_num,
                 $numCols
          FROM dd WHERE n_hours = 24),
        words AS (SELECT event_type, day, $syms AS sax_word FROM v)
        SELECT sax_word, count(*) AS n_windows,
               count(DISTINCT event_type) AS n_series
        FROM words GROUP BY sax_word
        ORDER BY n_windows DESC, sax_word"""
  }

  // ----------------------------------------------- Theil–Sen trend

  /** Theil–Sen robust daily trend per series — the median of all
    * pairwise slopes over the day's 24 hourly means. The companion to
    * `metrics_deriv`'s least squares: one flapping sample can swing an
    * LSQ slope arbitrarily, while Theil–Sen tolerates up to ~29%
    * outliers (its breakdown point) — the trend read you alert on when
    * a series is known to glitch. Median = the LOWER median (element
    * 138 of the 276 sorted slopes), a selection, not an average — the
    * output is an EXISTING exact-integer-ratio double, so there is no
    * accumulation float surface at all.
    *
    * Scale shape: hourly rollup (the corpus' only shuffle, map-side
    * combine) → per-(series, day) the 24 grid values collect into ONE
    * bounded in-row array (24 elements — retention-bounded, not
    * volume-bounded) and the 276 pairwise slopes + sort happen inside
    * the row, codegen'd, no explode and no second shuffle. Full-
    * coverage days only (a partial day's pair set isn't comparable). */
  def theilSen: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"), hour(col("ts")).as("h"))
      .agg(expr("CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT)").as("vq"))
    hourly.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_hours"),
        sort_array(collect_list(struct(col("h"), col("vq")))).as("a"))
      .where(col("n_hours") === 24)
      .withColumn("slopes", expr(
        """array_sort(flatten(transform(sequence(1, 23), i ->
             transform(sequence(i + 1, 24), j ->
               CAST(a[j - 1].vq - a[i - 1].vq AS DOUBLE)
                 / CAST(a[j - 1].h - a[i - 1].h AS DOUBLE)))))"""))
      .select(col("event_type"), col("day"),
        expr("size(slopes)").cast("long").as("n_pairs"),
        expr("floor(element_at(slopes, 138) * 100) / 1e6").as("ts_slope_per_hour"))
  }

  val theilSenSql: String =
    """WITH hourly AS (
         SELECT event_type, CAST(ts AS DATE) AS day, hour(ts) AS h,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS vq
         FROM events GROUP BY 1, 2, 3),
       days AS (
         SELECT event_type, day, count(*) AS n_hours,
                list(vq ORDER BY h) AS xs, list(h ORDER BY h) AS hs
         FROM hourly GROUP BY 1, 2),
       sl AS (
         SELECT event_type, day,
                list_sort(flatten(list_transform(range(1, 24), i ->
                  list_transform(range(i + 1, 25), j ->
                    CAST(xs[j] - xs[i] AS DOUBLE)
                      / CAST(hs[j] - hs[i] AS DOUBLE))))) AS slopes
         FROM days WHERE n_hours = 24)
       SELECT event_type, day, CAST(len(slopes) AS BIGINT) AS n_pairs,
              floor(slopes[138] * 100) / 1e6 AS ts_slope_per_hour
       FROM sl ORDER BY event_type, day"""

  // --------------------------------------- `for:` duration alerting

  /** Prometheus alert-rule `for:` machine: condition must hold for 3
    * consecutive evaluations before firing; threshold on the hourly
    * mean. */
  val ForThreshold = 60.0
  val ForHours = 3

  /** The Prometheus `ALERTS{alertstate=…}` series — the alert-rule
    * `for:` duration machine, distinct from
    * `metrics_alert_hysteresis`'s two-threshold hold-down: an alert
    * whose condition (hourly mean > 60) just turned true is PENDING;
    * it FIRES only once the condition has held for 3 consecutive
    * evaluation hours; any below-threshold hour — or a MISSING hour,
    * exactly as a failed rule evaluation resets Prometheus' pending
    * clock — resets the run to inactive.
    *
    * Run counting is pure gaps-and-islands over the hourly rollup: a
    * break flag (below / gap / first), its running sum as the island
    * id, row_number inside the island as the pending clock — three
    * series-keyed windows over the rollup-sized frame, exact integers
    * and grid-snapped means everywhere; no recursion needed because
    * the `for:` state is a pure function of the current run length. */
  def alertForDuration: Q = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"),
        (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long").as("hour_sec"))
      .agg(expr("floor(round(sum(value), 2) / count(*) * 1e4) / 1e4").as("m"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour_sec"))
    val t = hourly
      .withColumn("ab", (col("m") > ForThreshold).cast("int"))
      .withColumn("brk",
        when(col("ab") === 0, 1)
          .when(lag(col("hour_sec"), 1).over(w).isNull, 1)
          .when(col("hour_sec") - lag(col("hour_sec"), 1).over(w) > 3600, 1)
          .when(lag(col("ab"), 1).over(w) === 0, 1)
          .otherwise(0))
      .withColumn("isl",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val w2 = Window.partitionBy(col("event_type"), col("isl")).orderBy(col("hour_sec"))
    t.withColumn("run_hours",
        when(col("ab") === 1, row_number().over(w2)).otherwise(0))
      .withColumn("alertstate",
        when(col("ab") === 0, "inactive")
          .when(col("run_hours") < ForHours, "pending")
          .otherwise("firing"))
      .select(col("event_type"), col("hour_sec"), col("m"),
        col("run_hours"), col("alertstate"))
  }

  val alertForDurationSql: String =
    s"""WITH hourly AS (
          SELECT event_type,
                 CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_sec,
                 floor(round(sum(value), 2) / count(*) * 1e4) / 1e4 AS m
          FROM events GROUP BY 1, 2),
        t AS (
          SELECT *, CASE WHEN m > $ForThreshold THEN 1 ELSE 0 END AS ab
          FROM hourly),
        b AS (
          SELECT *,
                 CASE WHEN ab = 0 THEN 1
                      WHEN lag(hour_sec) OVER w IS NULL THEN 1
                      WHEN hour_sec - lag(hour_sec) OVER w > 3600 THEN 1
                      WHEN lag(ab) OVER w = 0 THEN 1 ELSE 0 END AS brk
          FROM t WINDOW w AS (PARTITION BY event_type ORDER BY hour_sec)),
        i AS (
          SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY hour_sec
                                   ROWS UNBOUNDED PRECEDING) AS isl
          FROM b),
        r AS (
          SELECT *, CASE WHEN ab = 1 THEN CAST(row_number() OVER (
                   PARTITION BY event_type, isl ORDER BY hour_sec) AS INT)
                 ELSE 0 END AS run_hours
          FROM i)
        SELECT event_type, hour_sec, m, run_hours,
               CASE WHEN ab = 0 THEN 'inactive'
                    WHEN run_hours < $ForHours THEN 'pending'
                    ELSE 'firing' END AS alertstate
        FROM r ORDER BY event_type, hour_sec"""

  /** Seasonality / trend STRENGTH (Hyndman's STL-feature pair:
    * F_seas = max(0, 1 − Var(R)/Var(S+R)), F_trend = max(0, 1 −
    * Var(R)/Var(T+R))) computed over `metrics_seasonal_decompose`'s
    * own integer components — the one-number-per-series summary that
    * decides whether the dow/hod baseline model is even worth running.
    * Variances are the exact population moment identity n·Σx²−(Σx)²
    * on DECIMAL(38,0)/HUGEINT (components are integers on the cents
    * grid), each strength ONE double division floored at 1e-4; the
    * oracle composes the decompose SQL verbatim, so the hash certifies
    * the feature arithmetic on top of an already-verified frame. */
  def seasonalStrength: Q = (s, d) => {
    val base = seasonalDecompose(s, d)
      .select(col("event_type"), col("residual_c").as("r"),
        (col("seasonal_c") + col("residual_c")).as("sr"),
        (col("trend_c") + col("residual_c")).as("tr"))
    base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("r").cast("decimal(38,0)")).as("s_r"),
        sum(col("r").cast("decimal(38,0)") * col("r")).as("q_r"),
        sum(col("sr").cast("decimal(38,0)")).as("s_sr"),
        sum(col("sr").cast("decimal(38,0)") * col("sr")).as("q_sr"),
        sum(col("tr").cast("decimal(38,0)")).as("s_tr"),
        sum(col("tr").cast("decimal(38,0)") * col("tr")).as("q_tr"))
      .select(col("event_type"), col("n"), {
        val n = col("n").cast("double")
        val vr = n * col("q_r").cast("double") -
          col("s_r").cast("double") * col("s_r").cast("double")
        val vsr = n * col("q_sr").cast("double") -
          col("s_sr").cast("double") * col("s_sr").cast("double")
        (floor(greatest(lit(0.0), lit(1.0) - vr / vsr) * 1e4) / 1e4)
          .as("f_seasonal")
      }, {
        val n = col("n").cast("double")
        val vr = n * col("q_r").cast("double") -
          col("s_r").cast("double") * col("s_r").cast("double")
        val vtr = n * col("q_tr").cast("double") -
          col("s_tr").cast("double") * col("s_tr").cast("double")
        (floor(greatest(lit(0.0), lit(1.0) - vr / vtr) * 1e4) / 1e4)
          .as("f_trend")
      })
  }

  lazy val seasonalStrengthSql: String =
    s"""WITH base AS (
          SELECT event_type, residual_c AS r,
                 seasonal_c + residual_c AS sr,
                 trend_c + residual_c AS tr
          FROM ($seasonalDecomposeSql) t),
        agg AS (
          SELECT event_type, count(*) AS n,
                 sum(CAST(r AS HUGEINT)) AS s_r,
                 sum(CAST(r AS HUGEINT) * r) AS q_r,
                 sum(CAST(sr AS HUGEINT)) AS s_sr,
                 sum(CAST(sr AS HUGEINT) * sr) AS q_sr,
                 sum(CAST(tr AS HUGEINT)) AS s_tr,
                 sum(CAST(tr AS HUGEINT) * tr) AS q_tr
          FROM base GROUP BY event_type)
        SELECT event_type, n,
               floor(greatest(0.0, 1.0
                 - (n::DOUBLE * q_r::DOUBLE - s_r::DOUBLE * s_r::DOUBLE)
                   / (n::DOUBLE * q_sr::DOUBLE - s_sr::DOUBLE * s_sr::DOUBLE))
                 * 1e4) / 1e4 AS f_seasonal,
               floor(greatest(0.0, 1.0
                 - (n::DOUBLE * q_r::DOUBLE - s_r::DOUBLE * s_r::DOUBLE)
                   / (n::DOUBLE * q_tr::DOUBLE - s_tr::DOUBLE * s_tr::DOUBLE))
                 * 1e4) / 1e4 AS f_trend
        FROM agg ORDER BY event_type"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("metrics_seasonal_strength", seasonalStrength, Some(seasonalStrengthSql)),
    ("metrics_alert_for_duration", alertForDuration, Some(alertForDurationSql)),
    ("metrics_theil_sen", theilSen, Some(theilSenSql)),
    ("metrics_sax_motifs", saxMotifs, Some(saxMotifsSql)),
    ("metrics_autocorr", autocorr, Some(autocorrSql)),
    ("metrics_rolling_corr", rollingCorr, Some(rollingCorrSql)),
    ("prom_scrape_health", scrapeHealth, Some(scrapeHealthSql)),
    ("metrics_spc_control", spcControl, Some(spcControlSql)),
    ("metrics_counter_repair", counterRepair, Some(counterRepairSql)),
    ("metrics_downsample_m4", downsampleM4, Some(downsampleM4Sql)),
    ("metrics_slo_attainment", sloAttainment, Some(sloAttainmentSql)),
    ("metrics_exemplars", exemplars, Some(exemplarsSql)),
    ("metrics_staleness", staleness, Some(stalenessSql)),
    ("metrics_apdex", apdex, Some(apdexSql)),
    ("metrics_seasonal_decompose", seasonalDecompose, Some(seasonalDecomposeSql)),
    ("metrics_gap_log2_histogram", gapLog2Histogram, Some(gapLog2HistogramSql)),
    ("metrics_offset_compare", offsetCompare, Some(offsetCompareSql)),
    ("metrics_top_movers", topMovers, Some(topMoversSql)),
    ("metrics_alert_feed", alertFeed, Some(alertFeedSql)),
    ("metrics_downsample_lttb", downsampleLttb, Some(downsampleLttbSql)),
    ("metrics_cusum_changepoint", cusumChangepoint, Some(cusumChangepointSql)),
    ("metrics_time_weighted_avg", timeWeightedAvg, Some(timeWeightedAvgSql)),
    ("metrics_mad_anomaly", madAnomaly, Some(madAnomalySql)),
    ("metrics_subquery_maxrate", subqueryMaxRate, Some(subqueryMaxRateSql)),
    ("metrics_histogram_share", histogramShare, Some(histogramShareSql)),
    ("metrics_dow_baseline", dowBaseline, Some(dowBaselineSql)))
}
