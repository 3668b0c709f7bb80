package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reshaping operators: fixed-width histogram and long→wide pivot —
  * the inverse of the collector surface's wide→long conversion
  * (MetricsModel): a scrape pipeline flattens to long format for
  * remote-write, and the analytics side pivots back to wide for
  * dashboards.
  *
  * Both are single-shuffle aggregations. The pivot names its value
  * list explicitly — at scale that skips Spark's extra distinct-scan
  * job AND fixes the output schema (a streaming/incremental run can't
  * have its columns change under it).
  */
object Reshape {

  type Q = (SparkSession, String) => DataFrame

  val BucketWidth = 50000

  /** Fixed-width histogram of order totals: one aggregation, bucket =
    * floor(price/width) — the linear-scale sibling of the powers-of-2
    * response-time histogram on the collector surface. */
  def histogramTotalprice: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / BucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .withColumn("lo", (col("bucket") * BucketWidth).cast("double"))
      .select("bucket", "lo", "n_orders", "sum_price")
  }

  val histogramTotalpriceSql: String =
    s"""SELECT bucket, CAST(bucket * $BucketWidth AS DOUBLE) AS lo,
          count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price
        FROM (SELECT CAST(floor(o_totalprice / $BucketWidth) AS BIGINT) AS bucket, o_totalprice
              FROM orders) t
        GROUP BY bucket ORDER BY bucket"""

  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Long→wide pivot: daily value sums per event type as columns. The
    * explicit value list makes this ONE aggregation pass (no distinct
    * pre-scan) with a static schema. Values sum as exact integer cents
    * (one IEEE multiply+floor per row) with a single double division
    * at the end — a float sum's order-dependent rounding could land
    * near a .005 boundary and split engines. */
  def pivotEventsDaily: Q = (s, d) => {
    Tables.events(s, d)
      .select(to_date(col("ts")).as("event_date"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
      .groupBy(col("event_date"))
      .pivot("event_type", EventTypes)
      .agg(sum(col("cents")) / 100.0)
  }

  val pivotEventsDailySql: String = {
    val cols = EventTypes.map(t =>
      s"CAST(sum(CAST(floor(value * 100) AS BIGINT)) FILTER (WHERE event_type = '$t') AS BIGINT) / 100.0 AS $t")
      .mkString(",\n          ")
    s"""SELECT CAST(ts AS DATE) AS event_date,
          $cols
        FROM events GROUP BY event_date ORDER BY event_date"""
  }

  /** Semi-structured extraction: events.props is a JSON string column;
    * pull a typed field out and aggregate on it — the schema-on-read
    * path every event pipeline needs. `get_json_object` is a codegen'd
    * expression (one pass, no UDF); at scale the win is pushing the
    * parse AFTER the scan prunes rows/columns, which this plan does. */
  def jsonExtract: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("k_sum"),
        TextAnalysis.trunc4(avg(col("k"))).as("k_avg"),
        max(col("k")).as("k_max"))
  }

  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS n_events,
          CAST(sum(k) AS BIGINT) AS k_sum,
          floor(avg(k) * 10000) / 10000.0 AS k_avg,
          CAST(max(k) AS INT) AS k_max
       FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k FROM events) t
       GROUP BY event_type ORDER BY event_type"""

  /** Interval-frame rolling aggregate: 7-day rolling value sum per
    * event type, as a RANGE frame over day numbers (rows-frames can't
    * express calendar windows with gaps). Two cheap aggregations: the
    * daily rollup shrinks the corpus first, the window runs over the
    * tiny per-day series — the rollup-then-window shape that keeps
    * interval analytics linear at scale. */
  def rolling7d: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 2).as("day_value"))
      .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day_num"))
      .rangeBetween(-6, 0)
    daily
      .select(col("event_type"), col("day"), col("day_value"),
        round(sum(col("day_value")).over(w), 2).as("rolling_7d"))
  }

  val rolling7dSql: String =
    """SELECT event_type, day, day_value,
          round(sum(day_value) OVER (PARTITION BY event_type ORDER BY day_num
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d
       FROM (SELECT event_type, CAST(ts AS DATE) AS day,
               round(sum(value), 2) AS day_value,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num
             FROM events GROUP BY 1, 2) t
       ORDER BY event_type, day"""

  /** Latest-state snapshot: each user's most recent event — the
    * "current state from an event log" compaction (CDC-style read).
    * `max_by` keyed tuples make this ONE aggregation with map-side
    * partial combine — no window sort of each user's history, the
    * difference between O(n) and O(n log n) per key at scale.
    * Deterministic: ties on (ts) broken by event_id via the packed
    * struct ordering. */
  def latestPerKey: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"), col("value"))
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("last"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("last.ts").as("last_ts"),
        col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"), col("n_events"))
  }

  val latestPerKeySql: String =
    """SELECT user_id, last_ts, last_event_id, last_event_type, last_value, n_events FROM (
         SELECT user_id, date_trunc('second', ts) AS last_ts, event_id AS last_event_id,
                event_type AS last_event_type, value AS last_value,
                count(*) OVER (PARTITION BY user_id) AS n_events,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
         FROM events) t
       WHERE rn = 1 ORDER BY user_id"""

  /** Exact GLOBAL median without a global sort — the two-pass
    * histogram-refine every engine reaches for when "exact percentile"
    * meets "doesn't fit anywhere": pass 1 histograms the column into
    * 1024 fixed-width buckets (one map-side-combined aggregation) and
    * locates the bucket holding the target rank; pass 2 scans ONLY
    * that bucket's value range and takes its (rank − cumulative-below)
    * smallest element via a distributed bounded top-k
    * (TakeOrderedAndProject), never sorting the corpus. Returns the
    * lower-median ELEMENT (rank floor((n−1)/2)+1) — an exact stored
    * value, engine-portable where interpolated medians are not.
    * At 100 TB: pass 1 is one scan; pass 2 scans ~1/1024 of the data
    * (parquet min/max stats prune most row groups). */
  def exactGlobalMedian: Q = (s, d) => {
    val vals = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
    val Row2 = vals.agg(min(col("v")), max(col("v")), count(lit(1))).collect()(0)
    val (lo, hi, n) = (Row2.getDouble(0), Row2.getDouble(1), Row2.getLong(2))
    val buckets = 1024
    val width = (hi - lo) / buckets + 1e-9
    val hist = vals
      .groupBy(floor((col("v") - lo) / width).cast("int").as("b"))
      .agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rank = (n - 1) / 2 + 1 // lower median, 1-based
    var cum = 0L
    var target = 0
    while (cum + hist.getOrElse(target, 0L) < rank) { cum += hist.getOrElse(target, 0L); target += 1 }
    val bLo = lo + target * width
    val bHi = lo + (target + 1) * width
    val k = (rank - cum).toInt
    val med = vals.filter(col("v") >= bLo && col("v") < bHi)
      .orderBy(col("v")).limit(k)
      .agg(max(col("v")).as("median"))
      .collect()(0).getDouble(0)
    val s2 = s
    import s2.implicits._
    Seq((n, med)).toDF("n_values", "median")
  }

  val exactGlobalMedianSql: String =
    """WITH r AS (SELECT l_extendedprice AS v,
                         row_number() OVER (ORDER BY l_extendedprice) AS rn
                  FROM lineitem)
       SELECT (SELECT count(*) FROM lineitem) AS n_values,
              (SELECT v FROM r
               WHERE rn = (((SELECT count(*) FROM lineitem) - 1) // 2 + 1)) AS median"""

  /** Rollup REUSE (the aggregate-navigator pattern): the monthly
    * report is computed FROM the daily rollup — counts merge as sums
    * of sums, money as sums of the daily ROUNDED totals — never by
    * rescanning raw events. At 100 TB the daily layer is a
    * materialized table and month/quarter/year all derive from it;
    * correctness of the pattern is exactly what the oracle checks,
    * because it must replay the same two-stage aggregation to match.
    * Additive aggregates make the reuse lossless; the one float
    * surface (sum of 2-dp daily totals, rounded once more) is the
    * established rounded-sum contract. */
  def rollupReuse: Q = (s, d) => {
    val daily = graft.sources.Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("day_sum"))
    daily
      .groupBy(col("event_type"), trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"),
        round(sum(col("day_sum")), 2).as("month_sum"))
  }

  val rollupReuseSql: String =
    """WITH daily AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                count(*) AS n, round(sum(value), 2) AS day_sum
         FROM events GROUP BY 1, 2)
       SELECT event_type, date_trunc('month', day) AS month,
              count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_events,
              round(sum(day_sum), 2) AS month_sum
       FROM daily GROUP BY 1, 2 ORDER BY event_type, month"""

  /** Snapshot DIFF — the data-diff read (regression checks between
    * pipeline runs, CDC validation): compare each user's latest state
    * at cutoff day 15 against the latest state at end-of-corpus, and
    * classify ADDED / CHANGED / UNCHANGED. Latest-state per side is
    * the `q_latest_per_key` max-of-struct aggregation (map-side
    * combine, no history sort); the diff is one full outer join on the
    * key. Deterministic: the struct max tie-breaks on event_id, and
    * the comparison is exact (stored doubles, integer ids). */
  def snapshotDiff: Q = (s, d) => {
    def latest(df: DataFrame) = df
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id").as("last_event"),
        col("m.value").as("last_value"))
    val ev = graft.sources.Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        dayofmonth(col("ts")).as("dom"))
    val s1 = latest(ev.filter(col("dom") <= 15))
      .withColumnRenamed("last_event", "event_1").withColumnRenamed("last_value", "value_1")
    val s2 = latest(ev)
      .withColumnRenamed("last_event", "event_2").withColumnRenamed("last_value", "value_2")
    s1.join(s2, Seq("user_id"), "full_outer")
      .withColumn("status",
        when(col("event_1").isNull, "added")
          .when(col("event_1") === col("event_2"), "unchanged")
          .otherwise("changed"))
      .select(col("user_id"), col("status"),
        col("event_1"), col("event_2"), col("value_2"))
  }

  val snapshotDiffSql: String =
    """WITH ev AS (
         SELECT user_id, ts, event_id, value, day(ts) AS dom FROM events),
       s1 AS (
         SELECT user_id,
                max(struct_pack(ts := ts, event_id := event_id, value := value)) AS m
         FROM ev WHERE dom <= 15 GROUP BY user_id),
       s2 AS (
         SELECT user_id,
                max(struct_pack(ts := ts, event_id := event_id, value := value)) AS m
         FROM ev GROUP BY user_id)
       SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
              CASE WHEN s1.user_id IS NULL THEN 'added'
                   WHEN s1.m.event_id = s2.m.event_id THEN 'unchanged'
                   ELSE 'changed' END AS status,
              s1.m.event_id AS event_1, s2.m.event_id AS event_2,
              s2.m.value AS value_2
       FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
       ORDER BY user_id"""

  /** 2-D SKYLINE (Pareto front) — "parts where nothing is both cheaper
    * AND smaller": the multi-criteria shortlist query. The naive plan
    * is a quadratic NOT EXISTS self-join; the 2-D structure collapses
    * it to ONE sorted window pass — per price, keep the min size; a
    * price level is on the front iff its min size strictly undercuts
    * every cheaper level's (running strict-past min). The oracle RUNS
    * the quadratic formulation, so the hash match proves
    * window-pass ≡ nested-loop dominance. The window runs over the
    * per-price minima (|distinct prices| rows, not parts); at larger
    * domains the standard split is range-partition → local skyline →
    * merge, same algebra. */
  def skyline2d: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val pts = graft.sources.Tables.part(s, d)
      .select(col("p_retailprice").as("x"), col("p_size").as("y"))
    val perX = pts.groupBy(col("x")).agg(min(col("y")).as("y"))
    val w = Window.orderBy(col("x")).rowsBetween(Window.unboundedPreceding, -1)
    val sky = perX
      .withColumn("pm", min(col("y")).over(w))
      .filter(col("pm").isNull || col("y") < col("pm"))
      .select(col("x"), col("y"))
    pts.join(broadcast(sky), Seq("x", "y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("n_parts"))
  }

  val skyline2dSql: String =
    """WITH p AS (SELECT p_retailprice AS x, p_size AS y FROM part)
       SELECT x, y, count(*) AS n_parts
       FROM p a
       WHERE NOT EXISTS (
         SELECT 1 FROM p b
         WHERE b.x <= a.x AND b.y <= a.y AND (b.x < a.x OR b.y < a.y))
       GROUP BY x, y ORDER BY x"""

  /** Unpivot (melt) — the inverse reshape of `q_pivot_events_daily`:
    * the wide per-day matrix back to long (day, series, value) rows
    * via `Dataset.unpivot` (Catalyst `Expand` — one pass, no join, no
    * shuffle beyond the pivot's own). The oracle is the ROUND-TRIP
    * identity: melting the pivot must reproduce the plain long-form
    * aggregate exactly, which is also what makes this entry's
    * correctness meaningful rather than cosmetic. Null cells (a day
    * without that series) are dropped on both sides. */
  def unpivotEventsDaily: Q = (s, d) => {
    val wide = pivotEventsDaily(s, d)
    wide.unpivot(Array(col("event_date")),
        EventTypes.map(t => col(t)).toArray, "event_type", "value_sum")
      .filter(col("value_sum").isNotNull)
  }

  val unpivotEventsDailySql: String =
    """SELECT CAST(ts AS DATE) AS event_date, event_type,
              CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS value_sum
       FROM events GROUP BY 1, 2 ORDER BY event_date, event_type"""

  /** Generated calendar dimension + fact join — the star-schema date
    * spine every warehouse keeps: one min/max aggregate seeds a
    * `sequence` explode (the dimension is GENERATED, never scanned
    * from facts twice), calendar attributes are per-row functions, and
    * the daily fact rollup LEFT-joins onto it so gap days surface with
    * zero orders. Revenue stays in BIGINT cents. */
  def calendarDim: Q = (s, d) => {
    val o = Tables.orders(s, d)
      .select(to_date(col("o_orderdate")).as("day"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val spine = o.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      .select(col("day"), dayofweek(col("day")).as("dow"),
        month(col("day")).as("month"), quarter(col("day")).as("quarter"),
        dayofweek(col("day")).isin(1, 7).as("is_weekend"),
        (dayofmonth(col("day")) === 1).as("is_month_start"))
    val daily = o.groupBy(col("day"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"), col("dow"), col("month"), col("quarter"),
        col("is_weekend"), col("is_month_start"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"))
  }

  val calendarDimSql: String =
    """WITH o AS (
         SELECT CAST(o_orderdate AS DATE) AS day,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders),
       spine AS (
         SELECT CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS DATE) AS day
         FROM o),
       attrs AS (
         SELECT day, CAST(dayofweek(day) + 1 AS INT) AS dow,
                CAST(month(day) AS INT) AS month, CAST(quarter(day) AS INT) AS quarter,
                dayofweek(day) IN (0, 6) AS is_weekend,
                dayofmonth(day) = 1 AS is_month_start
         FROM spine),
       daily AS (
         SELECT day, count(*) AS n_orders, CAST(sum(cents) AS BIGINT) AS revenue_cents
         FROM o GROUP BY 1)
       SELECT a.day, a.dow, a.month, a.quarter, a.is_weekend, a.is_month_start,
              coalesce(d.n_orders, 0) AS n_orders,
              coalesce(d.revenue_cents, 0) AS revenue_cents
       FROM attrs a LEFT JOIN daily d USING (day)
       ORDER BY a.day"""

  /** 2-D activity heatmap (hour-of-day × day-of-week) — the BI serving
    * read behind every traffic heatmap widget. Calendar math is pure
    * integer epoch arithmetic — `dow = (days + 4) % 7` (1970-01-01 was
    * a Thursday), `hour = (sec mod 86400) / 3600` — because calendar
    * FUNCTIONS disagree across engines on week start while integer
    * division cannot. One aggregation over a 168-cell grid; cents
    * sums exact. */
  def heatmapGrid: Q = (s, d) => {
    Tables.events(s, d)
      .select(unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .groupBy(
        expr("cast((sec div 86400 + 4) % 7 as int)").as("dow"),
        expr("cast((sec % 86400) div 3600 as int)").as("hour"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_c")).as("cents_sum"))
  }

  val heatmapGridSql: String =
    """WITH s AS (SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                         CAST(floor(value * 100) AS BIGINT) AS v_c
                  FROM events)
       SELECT CAST((sec // 86400 + 4) % 7 AS INT) AS dow,
              CAST((sec % 86400) // 3600 AS INT) AS hour,
              count(*) AS n_events, CAST(sum(v_c) AS BIGINT) AS cents_sum
       FROM s GROUP BY 1, 2 ORDER BY dow, hour"""

  /** Exact per-group MODE with a deterministic tie-break (highest
    * count, then smallest value) — the categorical summary `avg`/
    * `percentile` can't give. Two-level shape: the (group, value)
    * count is the only corpus-sized shuffle; the argmax window runs
    * over the |groups|×|distinct values| count table (3×50 here,
    * bounded by the value domain — for unbounded domains the count
    * table is still the compacted form). */
  def modePerGroup: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("n_rows").desc, col("l_quantity"))))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_quantity"), col("n_rows"))
  }

  val modePerGroupSql: String =
    """SELECT l_returnflag, mode_quantity, n_rows FROM (
         SELECT l_returnflag, l_quantity AS mode_quantity, count(*) AS n_rows,
                row_number() OVER (PARTITION BY l_returnflag
                  ORDER BY count(*) DESC, l_quantity) AS rn
         FROM lineitem GROUP BY l_returnflag, l_quantity) t
       WHERE rn = 1 ORDER BY l_returnflag"""

  /** Decimal-ancestor powers shared by q_hierarchy_rollup: node k's
    * ancestor chain is k div 10^i, i = 0..6 (7 levels bounds any key
    * below 10M; higher levels collapse into root 0 and dedupe out). */
  private val HierPows = Seq(1L, 10L, 100L, 1000L, 10000L, 100000L, 1000000L)

  /** Hierarchical (BOM-style) subtree rollup WITHOUT recursion or
    * iteration: the part hierarchy is the decimal trie over p_partkey
    * (parent(k) = k div 10, root 0), and instead of walking it level
    * by level — Spark has no recursive CTE, and an L-round loop is L
    * joins — every leaf EXPLODES its full (≤7-node, depth-bounded)
    * ancestor chain and one groupBy sums each node's subtree. The
    * classic closure-list rollup: ×depth row amplification in the map
    * phase, ONE shuffle total, no lineage growth — at 100 TB this
    * beats per-level iteration whenever depth is bounded (org charts,
    * category trees, BOMs). The oracle replays the same chain with a
    * list comprehension; n_desc counts the node itself when it is a
    * real part (contributes to its own subtree). */
  def hierarchyRollup: Q = (s, d) => {
    val parts = Tables.part(s, d).select(col("p_partkey"),
      floor(col("p_retailprice") * 100).cast("long").as("cents"))
    val powArr = HierPows.map(p => s"${p}L").mkString("array(", ", ", ")")
    val contrib = parts.select(col("cents"),
      explode(expr(s"array_distinct(transform($powArr, s -> p_partkey div s))"))
        .as("node"))
    contrib.groupBy(col("node"))
      .agg(count(lit(1)).as("n_desc"), sum(col("cents")).as("subtree_cents"))
      .join(parts.select(col("p_partkey").as("node"), col("cents").as("own")),
        Seq("node"), "left")
      .select(col("node"), length(col("node").cast("string")).as("depth"),
        col("n_desc"), col("subtree_cents"),
        coalesce(col("own"), lit(0L)).as("own_cents"))
  }

  val hierarchyRollupSql: String = {
    val pows = HierPows.mkString("[", ", ", "]")
    s"""WITH parts AS (
          SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
          FROM part),
        contrib AS (
          SELECT unnest(list_distinct(
                   list_transform($pows, s -> p_partkey // s))) AS node, cents
          FROM parts),
        agg AS (
          SELECT node, count(*) AS n_desc, CAST(sum(cents) AS BIGINT) AS subtree_cents
          FROM contrib GROUP BY 1)
        SELECT a.node, CAST(length(CAST(a.node AS VARCHAR)) AS INT) AS depth,
               n_desc, subtree_cents,
               CAST(COALESCE(p.cents, 0) AS BIGINT) AS own_cents
        FROM agg a LEFT JOIN parts p ON p.p_partkey = a.node
        ORDER BY a.node"""
  }

  /** Winsorized vs raw mean of the extended price per return flag —
    * the robust-mean read an analyst reaches for when a fat tail
    * drags the average. Percentile bounds are EXACT discrete p05/p95
    * by rank rule ceil(q·n) = (q·100·n + 99) div 100 in pure integer
    * arithmetic, found on the VALUE-DOMAIN histogram (groupBy cents →
    * cumulative over distinct cents): the cumulative window runs over
    * the price grid, bounded by the value domain, never a corpus-row
    * sort (the `q_exact_global_median` discipline, kept per-group).
    * Clamping then happens IN the histogram — cnt·clamped(cents) stays
    * exact BIGINT — so raw and winsorized means are each one floored
    * division. */
  def winsorizedMean: Q = (s, d) => {
    // NOT cut (r15 A/B: 1.06x): the references are cheap
    // re-aggregations of a small frame; a lineage cut costs more.
    // r16: the third derivation (`tot`) + its join are gone — the
    // per-group total rides the SAME window exchange as the running
    // sum (an unordered full-frame sum over the identical partition
    // key adds a Window pass, not an Exchange; guide §2.4), so `g` is
    // derived twice (bounds spine + final clamp) instead of three
    // times.
    val g = Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
      .groupBy(col("l_returnflag"), col("cents")).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("cents"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = g.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val bounds = cum
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") >= expr("(5 * n + 99) div 100"), col("cents")))
          .as("p05_cents"),
        min(when(col("cum") >= expr("(95 * n + 99) div 100"), col("cents")))
          .as("p95_cents"))
    g.join(broadcast(bounds), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"),
        min(col("p05_cents")).as("p05_cents"), min(col("p95_cents")).as("p95_cents"),
        sum(col("cnt") * col("cents")).as("raw_sum"),
        sum(col("cnt") * least(greatest(col("cents"), col("p05_cents")),
          col("p95_cents"))).as("win_sum"))
      .select(col("l_returnflag"), col("n"), col("p05_cents"), col("p95_cents"),
        (floor(col("raw_sum").cast("double") / col("n").cast("double") * 1e4) / 1e4)
          .as("mean_cents"),
        (floor(col("win_sum").cast("double") / col("n").cast("double") * 1e4) / 1e4)
          .as("winsor_mean_cents"))
  }

  val winsorizedMeanSql: String =
    """WITH b AS (
         SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
         FROM lineitem),
       g AS (SELECT l_returnflag, cents, count(*) AS cnt FROM b GROUP BY 1, 2),
       c AS (SELECT *, CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY cents)
                 AS BIGINT) AS cum FROM g),
       t AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY 1),
       bounds AS (
         SELECT c.l_returnflag,
                min(CASE WHEN cum >= (5 * n + 99) // 100 THEN cents END) AS p05_cents,
                min(CASE WHEN cum >= (95 * n + 99) // 100 THEN cents END) AS p95_cents
         FROM c JOIN t USING (l_returnflag) GROUP BY 1)
       SELECT g.l_returnflag, t.n, bo.p05_cents, bo.p95_cents,
              floor(CAST(CAST(sum(cnt * cents) AS BIGINT) AS DOUBLE)
                    / CAST(t.n AS DOUBLE) * 1e4) / 1e4 AS mean_cents,
              floor(CAST(CAST(sum(cnt * least(greatest(cents, p05_cents), p95_cents))
                      AS BIGINT) AS DOUBLE)
                    / CAST(t.n AS DOUBLE) * 1e4) / 1e4 AS winsor_mean_cents
       FROM g JOIN t USING (l_returnflag) JOIN bounds bo USING (l_returnflag)
       GROUP BY 1, 2, 3, 4 ORDER BY l_returnflag"""

  /** Semi-additive measure aggregation — the balance/inventory rule
    * every warehouse needs and plain SUM gets wrong: a balance is
    * additive ACROSS ACCOUNTS but not across time (month-end total =
    * Σ each user's LAST observed value in the month, not Σ all
    * samples). Last-per-(user, month) is one bounded row_number
    * window (partition sizes = one user-month's samples), then the
    * across-accounts sum is a plain aggregation — two shuffles on the
    * same composite key. Emits per month the account count, the
    * month-end total, the naive (wrong) fully-additive sum beside it,
    * and their ratio — the ledger that shows WHY the distinction
    * matters. */
  def semiAdditive: Q = (s, d) => {
    val base = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)")
          .as("month"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
    val w = Window.partitionBy(col("user_id"), col("month"))
      .orderBy(col("sec").desc, col("event_id").desc)
    val last = base.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val naive = base.groupBy(col("month"))
      .agg(sum(col("cents")).as("naive_sum_cents"))
    last.groupBy(col("month"))
      .agg(count(lit(1)).as("n_accounts"), sum(col("cents")).as("eom_balance_cents"))
      .join(naive, "month")
      .withColumn("additive_overcount",
        floor(col("naive_sum_cents").cast("double")
          / col("eom_balance_cents").cast("double") * 1e4) / 1e4)
  }

  val semiAdditiveSql: String =
    """WITH base AS (
         SELECT user_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 // 30 AS month,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_id,
                CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase'),
       last AS (
         SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id, month
                       ORDER BY sec DESC, event_id DESC) AS rn
           FROM base) t WHERE rn = 1),
       naive AS (SELECT month, CAST(sum(cents) AS BIGINT) AS naive_sum_cents
                 FROM base GROUP BY 1)
       SELECT l.month, count(*) AS n_accounts,
              CAST(sum(l.cents) AS BIGINT) AS eom_balance_cents,
              n.naive_sum_cents,
              floor(CAST(n.naive_sum_cents AS DOUBLE)
                    / CAST(sum(l.cents) AS DOUBLE) * 1e4) / 1e4 AS additive_overcount
       FROM last l JOIN naive n USING (month)
       GROUP BY l.month, n.naive_sum_cents ORDER BY l.month"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_semi_additive", semiAdditive, Some(semiAdditiveSql)),
    ("q_hierarchy_rollup", hierarchyRollup, Some(hierarchyRollupSql)),
    ("q_winsorized_mean", winsorizedMean, Some(winsorizedMeanSql)),
    ("q_mode_per_group", modePerGroup, Some(modePerGroupSql)),
    ("q_heatmap_grid", heatmapGrid, Some(heatmapGridSql)),
    ("q_calendar_dim", calendarDim, Some(calendarDimSql)),
    ("q_unpivot_melt", unpivotEventsDaily, Some(unpivotEventsDailySql)),
    ("q_skyline_2d", skyline2d, Some(skyline2dSql)),
    ("q_snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    ("q_rollup_reuse", rollupReuse, Some(rollupReuseSql)),
    ("q_exact_global_median", exactGlobalMedian, Some(exactGlobalMedianSql)),
    ("q_histogram_totalprice", histogramTotalprice, Some(histogramTotalpriceSql)),
    ("q_pivot_events_daily", pivotEventsDaily, Some(pivotEventsDailySql)),
    ("q_json_extract", jsonExtract, Some(jsonExtractSql)),
    ("q_window_rolling_7d", rolling7d, Some(rolling7dSql)),
    ("q_latest_per_key", latestPerKey, Some(latestPerKeySql)))
}
