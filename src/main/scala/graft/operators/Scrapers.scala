package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Collector-surface operators: the reference's scrape-query families
  * re-expressed over the driver's test tables.
  *
  * Each mirrors one enabled scraper of the reference
  * (collector/exporters/mysql/mysql-exporter.go:12-48 for the mysqld
  * set, exporters/oracle/custom-metrics.toml for the custom Oracle
  * metric, cmd/events-collector/events-collector.go:32-48 for the RDS
  * events counter). All are single-shuffle grouped aggregations with
  * map-side partial aggregation — the shape that scales linearly on a
  * cluster.
  */
object Scrapers {

  type Q = (SparkSession, String) => DataFrame

  /** ScrapeGlobalStatus analog: status-variable gauge snapshot per
    * stream — one agg pass, then a codegen'd stack to metric rows. */
  def globalStatus: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("events_total"),
        round(sum(col("value")), 2).as("events_value_sum"))
    MetricsModel.wideToLong(agg, Seq("event_type"), Seq("events_total", "events_value_sum"))
  }

  val globalStatusSql: String =
    """WITH a AS (SELECT event_type, count(*) AS n, round(sum(value),2) AS v
                  FROM events GROUP BY event_type)
       SELECT event_type, 'events_total' AS metric_name, CAST(n AS DOUBLE) AS value FROM a
       UNION ALL
       SELECT event_type, 'events_value_sum' AS metric_name, v AS value FROM a
       ORDER BY event_type, metric_name"""

  /** ScrapeGlobalVariables analog: key/value snapshot of one source's
    * configuration-ish facts, as strings (like SHOW GLOBAL VARIABLES). */
  def globalVariables: Q = (s, d) => {
    Tables.events(s, d)
      .agg(
        count(lit(1)).cast("string").as("events_rows"),
        countDistinct(col("user_id")).cast("string").as("events_users"),
        date_format(date_trunc("second", min(col("ts"))), "yyyy-MM-dd HH:mm:ss").as("events_min_ts"),
        date_format(date_trunc("second", max(col("ts"))), "yyyy-MM-dd HH:mm:ss").as("events_max_ts"))
      .selectExpr(
        """stack(4,
           'events_rows', events_rows,
           'events_users', events_users,
           'events_min_ts', events_min_ts,
           'events_max_ts', events_max_ts) as (variable_name, variable_value)""")
  }

  val globalVariablesSql: String =
    """WITH a AS (SELECT CAST(count(*) AS VARCHAR) AS r,
                         CAST(count(DISTINCT user_id) AS VARCHAR) AS u,
                         strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS mn,
                         strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS mx
                  FROM events)
       SELECT 'events_rows' AS variable_name, r AS variable_value FROM a
       UNION ALL SELECT 'events_users', u FROM a
       UNION ALL SELECT 'events_min_ts', mn FROM a
       UNION ALL SELECT 'events_max_ts', mx FROM a
       ORDER BY variable_name"""

  /** ScrapeSlaveStatus analog: seconds each stream's high-watermark
    * trails the global high-watermark (replication lag shape). The
    * global max is a broadcast scalar joined back onto the per-stream
    * aggregate — no single-partition window stage at any scale. */
  def slaveStatus: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(unix_timestamp(date_trunc("second", max(col("ts")))).as("max_sec"))
    val globalMax = agg.agg(max(col("max_sec")).as("gmax"))
    agg.crossJoin(broadcast(globalMax))
      .select(col("event_type").as("channel_name"),
        (col("gmax") - col("max_sec")).as("seconds_behind"))
  }

  val slaveStatusSql: String =
    """WITH a AS (SELECT event_type,
                    CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) AS max_sec
                  FROM events GROUP BY event_type)
       SELECT event_type AS channel_name,
              (max(max_sec) OVER () - max_sec) AS seconds_behind
       FROM a ORDER BY channel_name"""

  /** ScrapeProcesslist analog: session counts by state and user. */
  def processlist: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type").as("state"),
        concat(lit("user_"), pmod(col("user_id"), lit(8))).as("usr"))
      .agg(count(lit(1)).as("processes"))
  }

  val processlistSql: String =
    """SELECT event_type AS state, 'user_' || CAST(user_id % 8 AS VARCHAR) AS usr,
              count(*) AS processes
       FROM events GROUP BY 1, 2 ORDER BY state, usr"""

  /** ScrapeInnodbCmp analog: per-page-size-bucket compression stats. */
  def innodbCmp: Q = (s, d) => {
    Tables.part(s, d)
      .groupBy((floor(col("p_size") / 8) * 8).cast("int").as("page_size"))
      .agg(count(lit(1)).as("compress_ops"),
        round(sum(col("p_retailprice")), 2).as("compress_bytes"))
  }

  val innodbCmpSql: String =
    """SELECT CAST(floor(p_size / 8) * 8 AS INT) AS page_size,
              count(*) AS compress_ops, round(sum(p_retailprice),2) AS compress_bytes
       FROM part GROUP BY 1 ORDER BY page_size"""

  /** ScrapeInnodbCmpMem analog (mysql-exporter.go:41 — the sixth
    * enabled scraper): per-(page size, pool) buffer-pool memory stats —
    * two-level grouping with used/free/relocation measures, mirroring
    * innodb_cmp_mem's (page_size, buffer_pool) key. */
  def innodbCmpMem: Q = (s, d) => {
    Tables.part(s, d)
      .groupBy((floor(col("p_size") / 8) * 8).cast("int").as("page_size"),
        col("p_type").as("buffer_pool"))
      .agg(count(lit(1)).as("pages_used"),
        count(when(col("p_retailprice") < 500, 1)).as("pages_free"),
        round(sum(col("p_retailprice")), 2).as("relocation_ops"))
  }

  val innodbCmpMemSql: String =
    """SELECT CAST(floor(p_size / 8) * 8 AS INT) AS page_size, p_type AS buffer_pool,
              count(*) AS pages_used,
              count(*) FILTER (WHERE p_retailprice < 500) AS pages_free,
              round(sum(p_retailprice), 2) AS relocation_ops
       FROM part GROUP BY 1, 2 ORDER BY page_size, buffer_pool"""

  /** ScrapeQueryResponseTime analog: Prometheus-histogram cumulative
    * `le` buckets over events.value — ONE aggregation pass (conditional
    * counts), no join, no window: the 100 TB-safe histogram shape. */
  def queryResponseTime: Q = (s, d) => {
    val les = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
    val aggCols = les.map(le => count(when(col("value") <= le, 1)).as(s"b$le")) :+
      count(lit(1)).as("binf")
    val agg = Tables.events(s, d).agg(aggCols.head, aggCols.tail: _*)
    val stackArgs = (les.map(le => s"'$le', b$le") :+ "'+Inf', binf").mkString(", ")
    agg.selectExpr(s"stack(${les.size + 1}, $stackArgs) as (le, cumulative_count)")
  }

  val queryResponseTimeSql: String = {
    val les = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512)
    val buckets = les.map(le =>
      s"SELECT '$le' AS le, count(*) FILTER (WHERE value <= $le) AS cumulative_count FROM events")
    (buckets :+ "SELECT '+Inf' AS le, count(*) AS cumulative_count FROM events")
      .mkString("SELECT * FROM (", " UNION ALL ", ") t ORDER BY length(le), le")
  }

  /** The reference's custom Oracle metric
    * (exporters/oracle/custom-metrics.toml:1-17): long-running sessions
    * — duration in hours over a threshold, username LIKE-filtered,
    * ordered desc. Session = one user's activity within one day. */
  def longRunningSessions: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("user_id").as("sid"),
        concat(lit("user_"), col("user_id")).as("username"),
        to_date(col("ts")).as("day"))
      .agg(
        date_format(date_trunc("second", min(col("ts"))), "yyyy-MM-dd HH:mm:ss").as("logon_time"),
        // floor-truncate to 2dp: bit-identical across engines, unlike
        // round() (Spark HALF_UP on decimal repr vs DuckDB binary round)
        (floor((unix_timestamp(date_trunc("second", max(col("ts")))) -
          unix_timestamp(date_trunc("second", min(col("ts"))))) / 3600.0 * 100) / 100.0)
          .as("session_duration_hours"))
      .filter(col("session_duration_hours") > 8 && col("username").like("user_1%"))
  }

  val longRunningSessionsSql: String =
    """SELECT user_id AS sid, 'user_' || CAST(user_id AS VARCHAR) AS username,
              CAST(ts AS DATE) AS day,
              strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS logon_time,
              floor((epoch(date_trunc('second', max(ts))) - epoch(date_trunc('second', min(ts)))) / 3600.0 * 100) / 100.0
                AS session_duration_hours
       FROM events
       GROUP BY 1, 2, CAST(ts AS DATE)
       HAVING floor((epoch(date_trunc('second', max(ts))) - epoch(date_trunc('second', min(ts)))) / 3600.0 * 100) / 100.0 > 8
          AND ('user_' || CAST(user_id AS VARCHAR)) LIKE 'user_1%'
       ORDER BY session_duration_hours DESC, sid, day"""

  /** RDS events counter (cmd/events-collector/events-collector.go:44-48):
    * count by (event_id, message, source) with the
    * `length(event_id)==1 → 'none'` normalization. */
  def eventsCounter: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(
        when(length(col("event_id").cast("string")) === 1, "none")
          .otherwise(col("event_id").cast("string")).as("event_key"),
        col("props").as("event_message"),
        col("event_type").as("event_source"))
      .agg(count(lit(1)).as("rds_service_events"))
  }

  val eventsCounterSql: String =
    """SELECT CASE WHEN length(CAST(event_id AS VARCHAR)) = 1 THEN 'none'
                   ELSE CAST(event_id AS VARCHAR) END AS event_key,
              props AS event_message, event_type AS event_source,
              count(*) AS rds_service_events
       FROM events GROUP BY 1, 2, 3"""

  /** ConvertMetricFamilyToTimeSeries analog: per-nation order metrics
    * (wide) → long + enriched labels (prometheus.go:38-76). */
  def remoteWrite: Q = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    val wide = Tables.orders(s, d).select("o_custkey", "o_totalprice")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("db_orders_total"),
        round(sum(col("o_totalprice")), 2).as("db_orders_price_sum"),
        round(avg(col("o_totalprice")), 4).as("db_orders_price_avg"))
      .withColumn("host", concat(lower(col("n_name")), lit(".rds.example.com")))
    val long = MetricsModel.wideToLong(wide, Seq("host"),
      Seq("db_orders_total", "db_orders_price_sum", "db_orders_price_avg"))
    MetricsModel.enrichLabels(long, col("host"), engine = "postgres")
      .select("metric_name", "identifier", "job", "region", "account_id", "engine", "value")
  }

  val remoteWriteSql: String =
    """WITH w AS (
         SELECT lower(n_name) || '.rds.example.com' AS host,
                CAST(count(*) AS DOUBLE) AS db_orders_total,
                round(sum(o_totalprice),2) AS db_orders_price_sum,
                round(avg(o_totalprice),4) AS db_orders_price_avg
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name),
       l AS (
         SELECT host, 'db_orders_total' AS metric_name, db_orders_total AS value FROM w
         UNION ALL SELECT host, 'db_orders_price_sum', db_orders_price_sum FROM w
         UNION ALL SELECT host, 'db_orders_price_avg', db_orders_price_avg FROM w)
       SELECT metric_name, split_part(host, '.', 1) AS identifier,
              'database-collector' AS job, 'us-east-1' AS region,
              '123456789012' AS account_id, 'postgres' AS engine, value
       FROM l ORDER BY identifier, metric_name"""

  /** Prometheus text exposition of the remote-write rows. */
  def expositionLines: Q = (s, d) =>
    MetricsModel.exposition(remoteWrite(s, d))

  /** SUMMARY MetricFamily conversion (prometheus.go:89-98): a summary
    * emits one sample per configured quantile plus `_sum` and `_count`
    * series — here over events.value per event_type, in the same long
    * format the remote-write transform produces. Exact per-group
    * percentiles (bounded group count), linear interpolation on both
    * engines. */
  def promSummary: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 2).as("q50"),
        round(expr("percentile(value, 0.9)"), 2).as("q90"),
        round(expr("percentile(value, 0.99)"), 2).as("q99"),
        round(sum(col("value")), 2).as("vsum"),
        count(lit(1)).cast("double").as("vcount"))
    agg.selectExpr("event_type",
      """stack(5,
           'events_value', '0.5',  q50,
           'events_value', '0.9',  q90,
           'events_value', '0.99', q99,
           'events_value_sum', '', vsum,
           'events_value_count', '', vcount) AS (metric_name, quantile, value)""")
      .select(col("metric_name"), col("event_type"), col("quantile"), col("value"))
  }

  val promSummarySql: String =
    """WITH a AS (
         SELECT event_type,
                round(quantile_cont(value, 0.5), 2) AS q50,
                round(quantile_cont(value, 0.9), 2) AS q90,
                round(quantile_cont(value, 0.99), 2) AS q99,
                round(sum(value), 2) AS vsum,
                CAST(count(*) AS DOUBLE) AS vcount
         FROM events GROUP BY event_type)
       SELECT metric_name, event_type, quantile, value FROM (
         SELECT 'events_value' AS metric_name, event_type, '0.5' AS quantile, q50 AS value FROM a
         UNION ALL SELECT 'events_value', event_type, '0.9', q90 FROM a
         UNION ALL SELECT 'events_value', event_type, '0.99', q99 FROM a
         UNION ALL SELECT 'events_value_sum', event_type, '', vsum FROM a
         UNION ALL SELECT 'events_value_count', event_type, '', vcount FROM a) t
       ORDER BY metric_name, event_type, quantile"""

  val expositionSql: String =
    s"""WITH w AS (
         SELECT lower(n_name) || '.rds.example.com' AS host,
                CAST(count(*) AS DOUBLE) AS db_orders_total,
                round(sum(o_totalprice),2) AS db_orders_price_sum,
                round(avg(o_totalprice),4) AS db_orders_price_avg
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name),
       l AS (
         SELECT host, 'db_orders_total' AS metric_name, db_orders_total AS value FROM w
         UNION ALL SELECT host, 'db_orders_price_sum', db_orders_price_sum FROM w
         UNION ALL SELECT host, 'db_orders_price_avg', db_orders_price_avg FROM w)
       SELECT printf('${MetricsModel.LineFormat}',
                metric_name, 'postgres', split_part(host, '.', 1),
                'database-collector', ${MetricsModel.snappedValueSql}) AS line
       FROM l ORDER BY line"""

  /** PromQL `label_replace()` + `label_join()` over the remote-write
    * stream: derive a `dc` label by regex capture from `identifier`
    * and an `instance` label by joining identifier and engine — the
    * relabeling every Prometheus consumer applies before routing.
    * Projection-only on top of the converter output (no extra
    * shuffle); regex semantics chosen within the RE2/POSIX common
    * subset both engines implement identically. */
  def labelReplace: Q = (s, d) =>
    remoteWrite(s, d)
      .withColumn("dc", regexp_extract(col("identifier"), "^([a-z]+)_", 1))
      .withColumn("instance", concat(col("identifier"), lit(":"), col("engine")))
      .select("metric_name", "identifier", "dc", "instance", "value")

  val labelReplaceSql: String =
    """WITH w AS (
         SELECT lower(n_name) || '.rds.example.com' AS host,
                CAST(count(*) AS DOUBLE) AS db_orders_total,
                round(sum(o_totalprice),2) AS db_orders_price_sum,
                round(avg(o_totalprice),4) AS db_orders_price_avg
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name),
       l AS (
         SELECT host, 'db_orders_total' AS metric_name, db_orders_total AS value FROM w
         UNION ALL SELECT host, 'db_orders_price_sum', db_orders_price_sum FROM w
         UNION ALL SELECT host, 'db_orders_price_avg', db_orders_price_avg FROM w),
       b AS (
         SELECT metric_name, split_part(host, '.', 1) AS identifier,
                'postgres' AS engine, value
         FROM l)
       SELECT metric_name, identifier,
              coalesce(regexp_extract(identifier, '^([a-z]+)_', 1), '') AS dc,
              identifier || ':' || engine AS instance, value
       FROM b ORDER BY identifier, metric_name"""

  /** postgres_exporter default-collector analog (the reference wires
    * postgres through the stock exporter, exporters/postgres): a
    * pg_stat_database-shaped per-database activity snapshot —
    * backends, transaction counts, timing — in the same long metric
    * format as the mysqld scrapers. */
  def pgStatDatabase: Q = (s, d) => {
    val agg = Tables.events(s, d)
      .groupBy(col("event_type").as("datname"))
      .agg(
        countDistinct(col("user_id")).cast("double").as("pg_numbackends"),
        count(when(col("event_type") =!= "error", 1)).cast("double").as("pg_xact_commit"),
        count(when(col("event_type") === "error", 1)).cast("double").as("pg_xact_rollback"),
        round(sum(col("value")), 2).as("pg_blk_read_time"))
    MetricsModel.wideToLong(agg, Seq("datname"),
      Seq("pg_numbackends", "pg_xact_commit", "pg_xact_rollback", "pg_blk_read_time"))
  }

  val pgStatDatabaseSql: String =
    """WITH a AS (SELECT event_type AS datname,
                    CAST(count(DISTINCT user_id) AS DOUBLE) AS nb,
                    CAST(count(*) FILTER (WHERE event_type <> 'error') AS DOUBLE) AS xc,
                    CAST(count(*) FILTER (WHERE event_type = 'error') AS DOUBLE) AS xr,
                    round(sum(value), 2) AS brt
                  FROM events GROUP BY event_type)
       SELECT datname, metric_name, value FROM (
         SELECT datname, 'pg_numbackends' AS metric_name, nb AS value FROM a
         UNION ALL SELECT datname, 'pg_xact_commit', xc FROM a
         UNION ALL SELECT datname, 'pg_xact_rollback', xr FROM a
         UNION ALL SELECT datname, 'pg_blk_read_time', brt FROM a) t
       ORDER BY datname, metric_name"""

  /** PromQL `histogram_quantile()` over the cumulative `le` buckets —
    * the read-side estimator every Prometheus alert uses on the
    * histograms the collector ships. One conditional-count aggregation
    * pass per series (identical shape to queryResponseTime), then pure
    * bucket-interpolation arithmetic. The estimator expression is
    * GENERATED ONCE and used verbatim by both engines — int bucket
    * counts in, identical IEEE ops out, so the result is bit-portable
    * with no rounding slack beyond the final trunc4. */
  private val hqLes = Seq(1, 2, 4, 8, 16, 32, 64, 128, 256, 512)

  /** PromQL bucket interpolation: first bucket with cum ≥ q·total,
    * linear within it; +Inf falls back to the highest finite bound.
    * The quantile literal is emitted in scientific notation (`0.9e0`)
    * because DuckDB parses a bare `0.9` as DECIMAL(1,1) and runs exact
    * decimal×BIGINT arithmetic before widening — which diverges from
    * Spark's IEEE doubles in the last ulps and splits the final
    * truncation. `e0` forces DOUBLE in both engines, as does `1e4` for
    * the truncation scale. */
  private def hqEstimator(q: Double): String = {
    val target = s"(${q}e0 * total)"
    val cases = hqLes.zipWithIndex.map { case (le, i) =>
      val lo = if (i == 0) "0" else hqLes(i - 1).toString
      val prev = if (i == 0) "cast(0 as double)" else s"cast(c${hqLes(i - 1)} as double)"
      s"WHEN c$le >= $target THEN $lo + ($le - $lo) * ($target - $prev) / (c$le - $prev)"
    }.mkString(" ")
    s"floor((CASE $cases ELSE cast(512 as double) END) * 1e4) / 1e4"
  }

  def histogramQuantile: Q = (s, d) => {
    val aggCols = hqLes.map(le => count(when(col("value") <= le, 1)).as(s"c$le")) :+
      count(lit(1)).as("total")
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("event_type",
        s"${hqEstimator(0.5)} as p50",
        s"${hqEstimator(0.9)} as p90",
        s"${hqEstimator(0.99)} as p99")
  }

  val histogramQuantileSql: String = {
    val counts = hqLes.map(le =>
      s"count(*) FILTER (WHERE value <= $le) AS c$le").mkString(", ")
    s"""WITH a AS (SELECT event_type, $counts, count(*) AS total
                   FROM events GROUP BY event_type)
        SELECT event_type,
               ${hqEstimator(0.5)} AS p50,
               ${hqEstimator(0.9)} AS p90,
               ${hqEstimator(0.99)} AS p99
        FROM a ORDER BY event_type"""
  }

  /** The long sample rows of `prom_remote_write_all`: (family type,
    * metric name, label literal, aggregate column). */
  private val remoteWriteRows: Seq[(String, String, String, String)] =
    Seq(
      ("COUNTER", "events_total", "''", "n"),
      ("GAUGE", "events_value_gauge", "''", "gavg")) ++
    hqLes.map(le => ("HISTOGRAM", "events_value_bucket", s"'$le'", s"b$le")) ++
    Seq(
      ("HISTOGRAM", "events_value_bucket", "'+Inf'", "n"),
      ("HISTOGRAM", "events_value_hist_sum", "''", "vsum"),
      ("HISTOGRAM", "events_value_hist_count", "''", "n"),
      ("SUMMARY", "events_value", "'0.5'", "q50"),
      ("SUMMARY", "events_value", "'0.9'", "q90"),
      ("SUMMARY", "events_value", "'0.99'", "q99"),
      ("SUMMARY", "events_value_sum", "''", "vsum"),
      ("SUMMARY", "events_value_count", "''", "n"))

  /** The full ConvertMetricFamilyToTimeSeries switch
    * (collector/internal/utils/prometheus.go:23-120): ONE long sample
    * stream carrying all four MetricFamily types — COUNTER and GAUGE
    * as single samples, HISTOGRAM as per-`le` cumulative buckets plus
    * `_sum`/`_count`, SUMMARY as per-quantile samples plus
    * `_sum`/`_count` — exactly the row shape a remote-write push
    * serializes. One grouped aggregation pass computes every measure
    * (conditional bucket counts, exact percentiles, moments); the
    * wide→long unpivot is projection-only, so the whole entry is a
    * single shuffle regardless of how many families fan out of it.
    * Gauge avg is derived from the pre-rounded sum (floor(vsum/n))
    * so both engines divide bit-identical doubles. */
  def remoteWriteAll: Q = (s, d) => {
    val bucketCols = hqLes.map(le =>
      count(when(col("value") <= le, 1)).cast("double").as(s"b$le"))
    val aggCols = Seq(
      count(lit(1)).cast("double").as("n"),
      round(sum(col("value")), 2).as("vsum"),
      round(expr("percentile(value, 0.5)"), 2).as("q50"),
      round(expr("percentile(value, 0.9)"), 2).as("q90"),
      round(expr("percentile(value, 0.99)"), 2).as("q99")) ++ bucketCols
    val agg = Tables.events(s, d).groupBy(col("event_type"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("gavg", expr("floor(vsum / n * 1e4) / 1e4"))
    val stackArgs = remoteWriteRows
      .map { case (f, m, l, v) => s"'$f', '$m', $l, $v" }.mkString(", ")
    agg.selectExpr("event_type",
      s"stack(${remoteWriteRows.size}, $stackArgs) AS (family_type, metric_name, label, value)")
      .select(col("family_type"), col("metric_name"), col("event_type"),
        col("label"), col("value"))
  }

  val remoteWriteAllSql: String = {
    val counts = hqLes.map(le =>
      s"CAST(count(*) FILTER (WHERE value <= $le) AS DOUBLE) AS b$le").mkString(", ")
    val selects = remoteWriteRows.map { case (f, m, l, v) =>
      s"SELECT '$f' AS family_type, '$m' AS metric_name, event_type, $l AS label, $v AS value FROM a"
    }.mkString(" UNION ALL ")
    s"""WITH a0 AS (SELECT event_type,
                      CAST(count(*) AS DOUBLE) AS n,
                      round(sum(value), 2) AS vsum,
                      round(quantile_cont(value, 0.5), 2) AS q50,
                      round(quantile_cont(value, 0.9), 2) AS q90,
                      round(quantile_cont(value, 0.99), 2) AS q99,
                      $counts
                    FROM events GROUP BY event_type),
          a AS (SELECT *, floor(vsum / n * 1e4) / 1e4 AS gavg FROM a0)
        SELECT * FROM ($selects) t
        ORDER BY family_type, metric_name, event_type, length(label), label"""
  }

  /** Prometheus `relabel_config` pipeline — the config-driven series
    * routing every scrape job runs before ingestion (prometheus.io
    * relabelling semantics): in rule order, (1) `keep` series whose
    * type matches a regex, (2) `replace` derives a `service` label,
    * (3) `hashmod` shards each series by a stable hash of user_id into
    * 4 shards (Prometheus uses MD5 % modulus — exactly reproducible
    * here via md5-hex → BIGINT), (4) `keep` only shard 1 — the
    * horizontal-sharding rule a fleet of collectors uses to split a
    * target set. All four rules are narrow projections/filters fused
    * into the scan; only the final per-(service, shard) rollup
    * shuffles. Deterministic md5 arithmetic: oracle-exact. */
  def relabel: Q = (s, d) => {
    graft.sources.Tables.events(s, d)
      .filter(col("event_type").rlike("^(view|click|purchase|error)$"))
      .withColumn("service", concat(lit("svc_"), col("event_type")))
      .withColumn("shard",
        conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 4)
      .filter(col("shard") === 1)
      .groupBy(col("service"), col("shard"))
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(col("user_id")).as("n_series"))
  }

  val relabelSql: String =
    """SELECT 'svc_' || event_type AS service,
              ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 4 AS shard,
              count(*) AS n_samples,
              count(DISTINCT user_id) AS n_series
       FROM events
       WHERE regexp_matches(event_type, '^(view|click|purchase|error)$')
         AND ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 4 = 1
       GROUP BY 1, 2 ORDER BY service"""

  /** Exposition-format PARSER — the scrape side of the Prometheus
    * loop (the reference renders and pushes; a scraper consuming the
    * same endpoint must invert it): each
    * `name{label="v",...} value` line decomposes back into typed
    * columns via anchored regexp_extract — pure narrow projection,
    * codegen'd, no UDFs. Feeding the entry with our OWN rendered lines
    * makes the oracle a round-trip proof: render → parse must
    * reproduce the remote-write rows the renderer consumed (the value
    * re-parses from the %.2f text, so both engines read the identical
    * decimal literal). */
  def expositionParse: Q = (s, d) =>
    expositionLines(s, d)
      .select(
        regexp_extract(col("line"), "^([A-Za-z_:][A-Za-z0-9_:]*)\\{", 1).as("metric_name"),
        regexp_extract(col("line"), "engine=\"([^\"]*)\"", 1).as("engine"),
        regexp_extract(col("line"), "identifier=\"([^\"]*)\"", 1).as("identifier"),
        regexp_extract(col("line"), "job=\"([^\"]*)\"", 1).as("job"),
        regexp_extract(col("line"), "\\} (.+)$", 1).cast("double").as("value"))

  val expositionParseSql: String =
    s"""WITH rendered AS ($expositionSql)
        SELECT regexp_extract(line, '^([A-Za-z_:][A-Za-z0-9_:]*)\\{', 1) AS metric_name,
               regexp_extract(line, 'engine="([^"]*)"', 1) AS engine,
               regexp_extract(line, 'identifier="([^"]*)"', 1) AS identifier,
               regexp_extract(line, 'job="([^"]*)"', 1) AS job,
               CAST(regexp_extract(line, '\\} (.+)$$', 1) AS DOUBLE) AS value
        FROM rendered
        ORDER BY metric_name, identifier"""

  private val coarseLes = Seq(4, 32, 256)

  /** Histogram re-bucketing — the recording rule that downsamples a
    * fine `le` grid to a coarse one for long-term storage. CUMULATIVE
    * buckets make this a PROJECTION: the coarse bucket at le=L is the
    * fine bucket at le=L, no re-aggregation of raw samples — which is
    * exactly why Prometheus histograms are cumulative (a non-cumulative
    * format would force a full re-scan to merge bins). Per-bin deltas
    * come from one lag window over ≤|les|+1 rows per series×day; all
    * integer counts, zero float surface. */
  def histogramRebucket: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val aggCols = coarseLes.map(le =>
      count(when(col("value") <= le, 1)).as(s"b$le")) :+ count(lit(1)).as("binf")
    val stackArgs = (coarseLes.zipWithIndex.map { case (le, i) =>
      s"$i, '$le', b$le"
    } :+ s"${coarseLes.size}, '+Inf', binf").mkString(", ")
    val w = Window.partitionBy(col("event_type"), col("day")).orderBy(col("le_idx"))
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("event_type", "day",
        s"stack(${coarseLes.size + 1}, $stackArgs) as (le_idx, le, cum_count)")
      .withColumn("bin_count",
        col("cum_count") - coalesce(lag(col("cum_count"), 1).over(w), lit(0L)))
      .select(col("event_type"), col("day"), col("le"), col("cum_count"), col("bin_count"))
  }

  val histogramRebucketSql: String = {
    val counts = coarseLes.map(le =>
      s"count(*) FILTER (WHERE value <= $le) AS b$le").mkString(", ")
    val arms = (coarseLes.zipWithIndex.map { case (le, i) =>
      s"SELECT event_type, day, $i AS le_idx, '$le' AS le, b$le AS cum_count FROM a"
    } :+ s"SELECT event_type, day, ${coarseLes.size}, '+Inf', binf FROM a")
      .mkString(" UNION ALL ")
    s"""WITH a AS (SELECT event_type, CAST(ts AS DATE) AS day, $counts,
                          count(*) AS binf
                   FROM events GROUP BY 1, 2),
         l AS ($arms)
        SELECT event_type, day, le, cum_count,
               cum_count - COALESCE(lag(cum_count) OVER (
                 PARTITION BY event_type, day ORDER BY le_idx), 0) AS bin_count
        FROM l ORDER BY event_type, day, le"""
  }

  /** Series-cardinality audit — the #1 Prometheus operational read
    * (cardinality explosions take TSDBs down; every operator guide
    * starts with "watch your label cardinality"): per metric family,
    * the distinct-series count and which label dimension drives it.
    * Runs over the remote-write sample stream the reference ships —
    * series identity = the (target, label) key — as one distinct
    * aggregation; at fleet scale the exact distincts swap for
    * `graft_theta` per family, same shape. The tuple key is an
    * explicit delimited concat so both engines count identical
    * strings. */
  def seriesCardinality: Q = (s, d) =>
    remoteWriteAll(s, d)
      .groupBy(col("family_type"), col("metric_name"))
      .agg(
        countDistinct(concat(col("event_type"), lit("|"), col("label"))).as("n_series"),
        countDistinct(col("event_type")).as("n_targets"),
        countDistinct(col("label")).as("n_label_values"))
      .withColumn("dominant_dim",
        when(col("n_label_values") > col("n_targets"), "label").otherwise("target"))

  lazy val seriesCardinalitySql: String =
    s"""WITH rw AS ($remoteWriteAllSql)
        SELECT family_type, metric_name,
               count(DISTINCT event_type || '|' || label) AS n_series,
               count(DISTINCT event_type) AS n_targets,
               count(DISTINCT label) AS n_label_values,
               CASE WHEN count(DISTINCT label) > count(DISTINCT event_type)
                    THEN 'label' ELSE 'target' END AS dominant_dim
        FROM rw GROUP BY family_type, metric_name
        ORDER BY family_type, metric_name"""

  /** PromQL `histogram_stddev`/`histogram_avg` analog over the coarse
    * `le` grid: bucket-midpoint moments per (event_type, day). The
    * +Inf bucket's mass sits at the last finite boundary (PromQL's
    * convention). All moments are EXACT integers — twice-midpoints
    * (lo+hi: 4, 36, 288, 512) and their squares weighted by integer
    * bin counts — so only the final mean/variance divisions and the
    * IEEE sqrt touch floats, in textually identical expression order
    * in both engines. One conditional-count aggregation pass, same
    * shape as `metrics_histogram_rebucket`. */
  def histogramStddev: Q = (s, d) => {
    val hi = coarseLes                      // 4, 32, 256
    val lo = 0 +: coarseLes.init            // 0, 4, 32
    val m2 = hi.zip(lo).map { case (h, l) => l + h } :+ (2 * coarseLes.last)
    val conds = hi.zip(lo).map { case (h, l) =>
      count(when(col("value") > l && col("value") <= h, 1))
    } :+ count(when(col("value") > coarseLes.last, 1))
    val aggCols = conds.zipWithIndex.map { case (c, i) => c.as(s"c$i") }
    val nExpr = m2.indices.map(i => s"c$i").mkString(" + ")
    val aExpr = m2.zipWithIndex.map { case (m, i) => s"c$i * $m" }.mkString(" + ")
    val bExpr = m2.zipWithIndex.map { case (m, i) => s"c$i * ${m * m}" }.mkString(" + ")
    Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(aggCols.head, aggCols.tail: _*)
      .selectExpr("event_type", "day",
        s"$nExpr AS n_samples", s"$aExpr AS a2", s"$bExpr AS b4")
      .selectExpr("event_type", "day", "n_samples",
        // single division over exact integers: a chained-division float
        // path diverges from DuckDB by an ulp at trunc boundaries
        "floor((CAST(a2 AS DOUBLE) / CAST(2 * n_samples AS DOUBLE)) * 1e4) / 1e4 AS mean_mid",
        """floor(sqrt(greatest(0.0d,
             CAST(CAST(b4 AS DECIMAL(38,0)) * n_samples - CAST(a2 AS DECIMAL(38,0)) * a2 AS DOUBLE)
               / (4.0 * CAST(n_samples AS DOUBLE) * CAST(n_samples AS DOUBLE))))
           * 1e4) / 1e4 AS stddev_mid""")
  }

  val histogramStddevSql: String = {
    val hi = coarseLes
    val lo = 0 +: coarseLes.init
    val m2 = hi.zip(lo).map { case (h, l) => l + h } :+ (2 * coarseLes.last)
    val conds = hi.zip(lo).map { case (h, l) =>
      s"count(*) FILTER (WHERE value > $l AND value <= $h)"
    } :+ s"count(*) FILTER (WHERE value > ${coarseLes.last})"
    val aggCols = conds.zipWithIndex.map { case (c, i) => s"$c AS c$i" }.mkString(", ")
    val nExpr = m2.indices.map(i => s"c$i").mkString(" + ")
    val aExpr = m2.zipWithIndex.map { case (m, i) => s"c$i * $m" }.mkString(" + ")
    val bExpr = m2.zipWithIndex.map { case (m, i) => s"c$i * ${m * m}" }.mkString(" + ")
    s"""WITH a AS (SELECT event_type, CAST(ts AS DATE) AS day, $aggCols
                   FROM events GROUP BY 1, 2),
          m AS (SELECT event_type, day,
                       $nExpr AS n_samples, $aExpr AS a2, $bExpr AS b4
                FROM a)
        SELECT event_type, day, CAST(n_samples AS BIGINT) AS n_samples,
               floor((CAST(a2 AS DOUBLE) / CAST(2 * n_samples AS DOUBLE)) * 1e4) / 1e4 AS mean_mid,
               floor(sqrt(greatest(0.0,
                 CAST(CAST(b4 AS HUGEINT) * n_samples - CAST(a2 AS HUGEINT) * a2 AS DOUBLE)
                   / (4.0 * CAST(n_samples AS DOUBLE) * CAST(n_samples AS DOUBLE))))
                 * 1e4) / 1e4 AS stddev_mid
        FROM m ORDER BY event_type, day"""
  }

  /** Recording-rule cascade — Prometheus' `record:` rule tree
    * re-expressed as one layered query: level 1 aggregates the raw
    * stream per (series, hour), level 2 re-aggregates level 1 across
    * series, level 3 windows level 2 over a trailing 6h frame. The
    * three levels union into one rule feed, and because 2 and 3
    * DERIVE from 1's aggregation, Spark's ReuseExchange evaluates the
    * raw scan + first shuffle ONCE for the whole tree (asserted in
    * ScrapersSpec) — the cascade costs one pass over the events, which
    * is the entire point of recording rules. All integer counts. */
  def recordingRules: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val l1 = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("(unix_timestamp(date_trunc('second', ts)) div 3600) * 3600").as("hour_sec"))
      .agg(count(lit(1)).as("value"))
    val l2 = l1.groupBy(col("hour_sec")).agg(sum(col("value")).as("value"))
    val l3 = l2.withColumn("value",
      max(col("value")).over(Window.orderBy(col("hour_sec")).rowsBetween(-5, 0)))
    l1.select(lit("type_hourly_count").as("rule"), col("event_type"),
        col("hour_sec"), col("value"))
      .unionByName(l2.select(lit("total_hourly").as("rule"),
        lit(null).cast("string").as("event_type"), col("hour_sec"), col("value")))
      .unionByName(l3.select(lit("total_max6h").as("rule"),
        lit(null).cast("string").as("event_type"), col("hour_sec"), col("value")))
  }

  val recordingRulesSql: String =
    """WITH l1 AS (
         SELECT event_type,
                (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) * 3600
                  AS hour_sec,
                count(*) AS value
         FROM events GROUP BY 1, 2),
       l2 AS (
         SELECT hour_sec, CAST(sum(value) AS BIGINT) AS value
         FROM l1 GROUP BY 1),
       l3 AS (
         SELECT hour_sec,
                CAST(max(value) OVER (ORDER BY hour_sec
                  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS value
         FROM l2)
       SELECT rule, event_type, hour_sec, value FROM (
         SELECT 'type_hourly_count' AS rule, event_type, hour_sec, value FROM l1
         UNION ALL
         SELECT 'total_hourly', NULL, hour_sec, value FROM l2
         UNION ALL
         SELECT 'total_max6h', NULL, hour_sec, value FROM l3) u
       ORDER BY rule, event_type, hour_sec"""

  /** HA scrape-pair deduplication (the Thanos/Cortex replica-election
    * discipline): two replicas scrape the same targets — replica B
    * here is the deterministic degraded twin of A (drops every
    * id%10==0 sample, jitters even-id timestamps +1s, exactly what a
    * second scraper's network does) — and the querier must pick ONE
    * replica per (series, hour) window, not merge both (merging
    * double-counts; switching mid-window tears rate()). Election is
    * per-window sample count, ties to replica a (the penalty rule's
    * deterministic core). Emits per series the window counts each
    * replica won, samples kept vs ingested, and the dedup ratio.
    * Two bounded (series, hour) aggregations + one join — the
    * full-outer handles windows only one replica saw. */
  def haDedup: Q = (s, d) => {
    val base = Tables.events(s, d).select(col("event_type"), col("event_id"),
      unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    def hourly(df: DataFrame, name: String) = df
      .groupBy(col("event_type"),
        (floor(col("sec") / 3600) * 3600).cast("long").as("hour_sec"))
      .agg(count(lit(1)).as(name))
    val a = hourly(base, "n_a")
    val b = hourly(base
      .filter(col("event_id") % 10 =!= 0)
      .withColumn("sec", col("sec") +
        when(col("event_id") % 2 === 0, 1L).otherwise(0L)), "n_b")
    a.join(b, Seq("event_type", "hour_sec"), "full_outer")
      .select(col("event_type"), col("hour_sec"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("kept",
        when(col("n_a") >= col("n_b"), col("n_a")).otherwise(col("n_b")))
      .withColumn("b_won", when(col("n_b") > col("n_a"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"), sum(col("b_won")).as("windows_b"),
        sum(col("n_a") + col("n_b")).as("samples_ingested"),
        sum(col("kept")).as("samples_kept"))
      .withColumn("dedup_ratio",
        floor(col("samples_kept").cast("double")
          / col("samples_ingested").cast("double") * 1e4) / 1e4)
  }

  val haDedupSql: String =
    """WITH base AS (
         SELECT event_type, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
         FROM events),
       a AS (
         SELECT event_type, CAST(floor(sec / 3600) * 3600 AS BIGINT) AS hour_sec,
                count(*) AS n_a
         FROM base GROUP BY 1, 2),
       b AS (
         SELECT event_type,
                CAST(floor((sec + CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                  / 3600) * 3600 AS BIGINT) AS hour_sec,
                count(*) AS n_b
         FROM base WHERE event_id % 10 <> 0 GROUP BY 1, 2),
       w AS (
         SELECT COALESCE(a.event_type, b.event_type) AS event_type,
                COALESCE(a.n_a, 0) AS n_a, COALESCE(b.n_b, 0) AS n_b
         FROM a FULL OUTER JOIN b USING (event_type, hour_sec))
       SELECT event_type, count(*) AS n_windows,
              CAST(sum(CASE WHEN n_b > n_a THEN 1 ELSE 0 END) AS BIGINT) AS windows_b,
              CAST(sum(n_a + n_b) AS BIGINT) AS samples_ingested,
              CAST(sum(CASE WHEN n_a >= n_b THEN n_a ELSE n_b END) AS BIGINT)
                AS samples_kept,
              floor(CAST(sum(CASE WHEN n_a >= n_b THEN n_a ELSE n_b END) AS DOUBLE)
                    / CAST(sum(n_a + n_b) AS DOUBLE) * 1e4) / 1e4 AS dedup_ratio
       FROM w GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------------- federation read

  /** Staleness lookback for the federation read, in hours: a series
    * whose freshest sample is older than this against the scrape
    * horizon is considered stale and dropped (Prometheus' /federate
    * applies the same staleness rule before exposing a series). */
  val FederateLookbackH = 4L

  /** The `/federate` read — the pull-side dual of the reference's
    * remote-write push (prometheus.go:23-127): expose, for every
    * selected series, its FRESHEST sample with `honor_labels` external
    * label merging. Series spine: hourly event counts per
    * (event_type, user_id%4 shard); shard-0 series carry their own
    * `region` label (a target that already sets it), everyone else
    * inherits the federating server's external label — coalesce(own,
    * external) IS honor_labels=true. Stale series (freshest sample
    * older than [[FederateLookbackH]] hours against the global scrape
    * horizon) are dropped, as /federate does.
    *
    * Scale shape: one count shuffle to the hourly spine, one
    * series-keyed max_by aggregation (map-side combining: each
    * partition ships one candidate per series), and a 1-row horizon
    * broadcast — no window over the corpus, no join-back. Ties are
    * impossible (hour_sec is unique per series), so max_by is
    * deterministic; everything is exact integers. */
  def promFederate: Q = (s, d) => {
    val base = Tables.events(s, d).select(col("event_type"),
      (col("user_id") % 4).as("shard"),
      unix_timestamp(date_trunc("hour", col("ts"))).as("hour_sec"))
    val hourly = base.groupBy(col("event_type"), col("shard"), col("hour_sec"))
      .agg(count(lit(1)).as("n"))
    val latest = hourly.groupBy(col("event_type"), col("shard"))
      .agg(max(col("hour_sec")).as("ts_sec"),
        expr("max_by(n, hour_sec)").as("v"))
    val horizon = hourly.agg(max(col("hour_sec")).as("max_sec"))
    latest.crossJoin(broadcast(horizon))
      .filter(col("ts_sec") >= col("max_sec") - FederateLookbackH * 3600L)
      .withColumn("own_region",
        when(col("shard") === 0, lit("eu-west-1")))
      .select(lit("graft:events_per_hour:count").as("metric_name"),
        col("event_type"), col("shard"),
        coalesce(col("own_region"), lit("us-east-1")).as("region"),
        col("own_region").isNotNull.as("honored"),
        col("ts_sec"), col("v").cast("double").as("value"))
  }

  val promFederateSql: String =
    s"""WITH base AS (
          SELECT event_type, user_id % 4 AS shard,
                 CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_sec
          FROM events),
        hourly AS (SELECT event_type, shard, hour_sec, count(*) AS n
                   FROM base GROUP BY 1, 2, 3),
        latest AS (SELECT event_type, shard, max(hour_sec) AS ts_sec,
                          arg_max(n, hour_sec) AS v
                   FROM hourly GROUP BY 1, 2),
        horizon AS (SELECT max(hour_sec) AS max_sec FROM hourly)
        SELECT 'graft:events_per_hour:count' AS metric_name, event_type,
               CAST(shard AS BIGINT) AS shard,
               coalesce(CASE WHEN shard = 0 THEN 'eu-west-1' END, 'us-east-1') AS region,
               (CASE WHEN shard = 0 THEN 'eu-west-1' END) IS NOT NULL AS honored,
               ts_sec, CAST(v AS DOUBLE) AS value
        FROM latest CROSS JOIN horizon
        WHERE ts_sec >= max_sec - $FederateLookbackH * 3600
        ORDER BY event_type, shard"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_ha_dedup", haDedup, Some(haDedupSql)),
    ("prom_federate", promFederate, Some(promFederateSql)),
    ("prom_recording_rules", recordingRules, Some(recordingRulesSql)),
    ("metrics_histogram_stddev", histogramStddev, Some(histogramStddevSql)),
    ("prom_series_cardinality", seriesCardinality, Some(seriesCardinalitySql)),
    ("metrics_histogram_rebucket", histogramRebucket, Some(histogramRebucketSql)),
    ("prom_exposition_parse", expositionParse, Some(expositionParseSql)),
    ("prom_relabel", relabel, Some(relabelSql)),
    ("prom_histogram_quantile", histogramQuantile, Some(histogramQuantileSql)),
    ("prom_remote_write_all", remoteWriteAll, Some(remoteWriteAllSql)),
    ("prom_label_replace", labelReplace, Some(labelReplaceSql)),
    ("metrics_global_status", globalStatus, Some(globalStatusSql)),
    ("metrics_pg_stat_database", pgStatDatabase, Some(pgStatDatabaseSql)),
    ("metrics_global_variables", globalVariables, Some(globalVariablesSql)),
    ("metrics_slave_status", slaveStatus, Some(slaveStatusSql)),
    ("metrics_processlist", processlist, Some(processlistSql)),
    ("metrics_innodb_cmp", innodbCmp, Some(innodbCmpSql)),
    ("metrics_innodb_cmp_mem", innodbCmpMem, Some(innodbCmpMemSql)),
    ("metrics_query_response_time", queryResponseTime, Some(queryResponseTimeSql)),
    ("metrics_long_running_sessions", longRunningSessions, Some(longRunningSessionsSql)),
    ("events_counter", eventsCounter, Some(eventsCounterSql)),
    ("prom_remote_write", remoteWrite, Some(remoteWriteSql)),
    ("prom_exposition", expositionLines, Some(expositionSql)),
    ("prom_summary", promSummary, Some(promSummarySql))
  )
}
