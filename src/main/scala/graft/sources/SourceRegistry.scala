package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Secret-driven source registry — the reference's collection model.
  *
  * The reference enumerates databases from Secrets Manager, parses each
  * secret's JSON (`engine`, `host`, `port`, `username`, `password`,
  * `dbname`) and builds a per-engine DSN
  * (collector/exporters/mysql/mysql-exporter.go:85,
  * postgres/postgres-exporter.go:22, oracle/oracle-exporter.go:15).
  * Spark-native equivalent: the same config JSON resolves to a
  * DataFrameReader — `jdbc` for live databases, file formats for lake
  * tables — so "collect from every registered source" becomes a union
  * of DataFrames that Catalyst plans per-source (JDBC predicate
  * pushdown included).
  */
object SourceRegistry {

  val secretSchema: StructType = StructType(Seq(
    StructField("engine", StringType),
    StructField("host", StringType),
    StructField("port", StringType),
    StructField("username", StringType),
    StructField("password", StringType),
    StructField("dbname", StringType),
    StructField("format", StringType),
    StructField("path", StringType),
    // optional raw-DSN override: some deployments hand the collector a
    // ready JDBC URL instead of host/port parts (also the hook that lets
    // specs exercise the mysql/postgres/oracle scrape TEMPLATES against
    // an embedded engine — template selection stays on `engine`)
    StructField("jdbc_url", StringType),
    // optional scrape parallelism: >1 fans each scrape out over planned
    // ts_sec bounds as N parallel range queries (source_partition_bounds)
    StructField("partitions", StringType),
    StructField("tags", MapType(StringType, StringType))))

  /** The tag KEY whose presence opts a source into collection. The
    * reference's enumeration starts at ListSecrets with a `tag-key`
    * filter (collector/internal/aws/secrets-manager.go:30-46): a secret
    * is collected iff it CARRIES the key — the tag's value is never
    * inspected, so `"enabled":"false"` still enrolls (faithfully
    * mirrored here; disenrolling means removing the tag). */
  val EnabledTagKey = "database-collector:enabled"

  /** Parse raw secret JSON payloads into typed config rows. */
  def parseSecrets(spark: SparkSession, payloads: Seq[String]): DataFrame = {
    import spark.implicits._
    payloads.toDF("secret_json")
      .select(from_json(col("secret_json"), secretSchema).as("c"))
      .select("c.*")
  }

  /** DSN construction, byte-for-byte the reference exporters' formats. */
  def withDsn(configs: DataFrame): DataFrame =
    configs.withColumn("dsn",
      when(col("engine") === "mysql",
        concat(col("username"), lit(":"), col("password"), lit("@tcp("),
          col("host"), lit(":"), col("port"), lit(")/")))
        .when(col("engine") === "postgres",
          concat(lit("postgresql://"), col("username"), lit(":"), col("password"),
            lit("@"), col("host"), lit(":"), col("port"), lit("/"), col("dbname"),
            lit("?sslmode=disable")))
        .when(col("engine").isin("oracle", "oracle-ee", "custom-oracle-ee"),
          concat(col("host"), lit(":"), col("port"), lit("/"), col("dbname")))
        .otherwise(lit(null)))

  /** Effective JDBC URL of a parsed config: explicit `jdbc_url`, else
    * the engine-standard URL shape. Shared by [[read]] and the
    * collector loop's SQL-dialect dispatch (the URL's subprotocol IS
    * the execution dialect — a mysql-enrolled source backed by the
    * embedded Derby sandbox must be spoken to in ANSI). */
  def jdbcUrlOf(config: Map[String, String]): String =
    config.getOrElse("jdbc_url", config("engine") match {
      case "mysql" => s"jdbc:mysql://${config("host")}:${config("port")}/${config.getOrElse("dbname", "")}"
      case "postgres" => s"jdbc:postgresql://${config("host")}:${config("port")}/${config.getOrElse("dbname", "")}"
      case "derby" => s"jdbc:derby:${config("path")}"
      case e if e.startsWith("oracle") => s"jdbc:oracle:thin:@//${config("host")}:${config("port")}/${config("dbname")}"
      case other => sys.error(s"unsupported engine: $other")
    })

  /** Resolve one parsed config row to a DataFrame. File formats read
    * `path`; engine configs go through Spark's JDBC source with the
    * engine-appropriate URL. */
  def read(spark: SparkSession, config: Map[String, String]): DataFrame = {
    config.getOrElse("format", "jdbc") match {
      case "parquet" => spark.read.parquet(config("path"))
      case "csv" => spark.read.option("header", "true").option("inferSchema", "true")
        .csv(config("path"))
      case "json" => spark.read.json(config("path"))
      case "jdbc" =>
        val base = spark.read.format("jdbc").option("url", jdbcUrlOf(config))
        // split read: when the caller has planned partition bounds
        // (`source_partition_bounds` semantics) the scan fans out over
        // numPartitions parallel range queries instead of one cursor —
        // Spark requires the dbtable form for partitioned reads, the
        // query form otherwise
        val reader = config.get("numPartitions") match {
          case Some(n) =>
            val table = config.getOrElse("dbtable",
              s"(${config.getOrElse("query", sys.error("dbtable or query required"))}) scrape")
            base.option("dbtable", table)
              .option("numPartitions", n)
              .option("partitionColumn", config("partitionColumn"))
              .option("lowerBound", config("lowerBound"))
              .option("upperBound", config("upperBound"))
          case None => config.get("query") match {
            case Some(q) => base.option("query", q)
            case None => base.option("dbtable",
              config.getOrElse("dbtable", sys.error("dbtable or query required")))
          }
        }
        val withUser = config.get("username").fold(reader)(u => reader.option("user", u))
        config.get("password").fold(withUser)(p => withUser.option("password", p))
          .load()
    }
  }

  /** Demo secret payloads shaped like the reference's Secrets Manager
    * entries — deterministic, used by the source_* entries. Tag
    * coverage: carries-key-with-true, carries-key-with-false (still
    * enrolled — key presence is the filter), other-tags-only, and
    * no-tags-at-all (both excluded). */
  val demoSecrets: Seq[String] = Seq(
    """{"engine":"mysql","host":"db1.example.com","port":"3306","username":"scott","password":"tiger","dbname":"prod","tags":{"database-collector:enabled":"true","env":"prod"}}""",
    """{"engine":"postgres","host":"db2.example.com","port":"5432","username":"pguser","password":"pgpass","dbname":"appdb","tags":{"database-collector:enabled":"false"}}""",
    """{"engine":"oracle-ee","host":"db3.example.com","port":"1521","username":"system","password":"orapwd","dbname":"ORCL","tags":{"env":"staging"}}""",
    """{"engine":"sqlite","host":"db4.example.com","port":"0","username":"u","password":"p","dbname":"x"}""")

  /** The oracle replays the SAME payload strings through DuckDB's JSON
    * reader — parse + filter + DSN logic is checked end to end in both
    * engines, not asserted against a hardcoded expectation. */
  private def secretsCte: String =
    demoSecrets.map(s => s"('$s')").mkString("s(j) AS (VALUES ", ", ", ")")

  private val parsedCte: String =
    """p AS (SELECT json_extract_string(j, '$.engine') AS engine,
                    json_extract_string(j, '$.host') AS host,
                    json_extract_string(j, '$.port') AS port,
                    json_extract_string(j, '$.username') AS username,
                    json_extract_string(j, '$.password') AS password,
                    json_extract_string(j, '$.dbname') AS dbname,
                    json_extract(j, '$.tags."database-collector:enabled"') IS NOT NULL AS enabled
             FROM s)"""

  /** Mask the password segment of a DSN for anything user-facing. The
    * full DSN exists only on the internal reader path; dumped artifacts
    * (Verify parquet, logs) must never carry plaintext credentials. */
  def redactDsn(dsn: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(dsn, ":[^:@/]*@", ":***@")

  /** Secrets → parsed configs → DSNs (unsupported engines get null
    * DSN, mirroring the reference's "Unsupported database engine"
    * warn-and-skip). Passwords are redacted — this result lands in
    * correctness artifacts. */
  def configDsn(spark: SparkSession, dir: String): DataFrame =
    withDsn(parseSecrets(spark, demoSecrets))
      .withColumn("dsn", redactDsn(col("dsn")))
      .select("engine", "host", "port", "dbname", "dsn")

  val configDsnSql: String =
    s"""WITH $secretsCte, $parsedCte
       SELECT engine, host, port, dbname,
              regexp_replace(
                CASE WHEN engine = 'mysql'
                       THEN username || ':' || password || '@tcp(' || host || ':' || port || ')/'
                     WHEN engine = 'postgres'
                       THEN 'postgresql://' || username || ':' || password || '@' || host
                            || ':' || port || '/' || dbname || '?sslmode=disable'
                     WHEN engine IN ('oracle', 'oracle-ee', 'custom-oracle-ee')
                       THEN host || ':' || port || '/' || dbname
                END, ':[^:@/]*@', ':***@') AS dsn
       FROM p ORDER BY engine"""

  /** Registry-driven file read (parquet branch). */
  def registryRead(spark: SparkSession, dir: String): DataFrame =
    read(spark, Map("format" -> "parquet", "path" -> s"$dir/nation.parquet"))
      .groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))

  val registryReadSql: String =
    "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"

  /** Which of the N configured sources does a collection run touch?
    * The onboarding question the reference answers with its ListSecrets
    * tag-key filter — enumerate only secrets CARRYING the enabled tag
    * key. At scale the registry is itself a table; the filter is a
    * pushdown-able predicate, never a per-secret control-plane call. */
  def tagFilter(spark: SparkSession, dir: String): DataFrame =
    parseSecrets(spark, demoSecrets)
      .filter(col("tags").getItem(EnabledTagKey).isNotNull)
      .select("engine", "host", "port", "dbname")

  val tagFilterSql: String =
    s"""WITH $secretsCte, $parsedCte
       SELECT engine, host, port, dbname FROM p WHERE enabled ORDER BY engine"""

  /** The NEXT enumeration round's payloads — what the reference's
    * 15-minute `RefreshSecrets` loop sees the second time around
    * (collector/cmd/collector/database-collector.go:82-150): db1
    * rotated its password (same identity, new DSN), db2's secret is
    * gone, db3 gained the enabled tag, db5 is newly registered; the
    * never-enrolled db4 stays invisible to both rounds. */
  val demoSecretsV2: Seq[String] = Seq(
    """{"engine":"mysql","host":"db1.example.com","port":"3306","username":"scott","password":"lion","dbname":"prod","tags":{"database-collector:enabled":"true","env":"prod"}}""",
    """{"engine":"oracle-ee","host":"db3.example.com","port":"1521","username":"system","password":"orapwd","dbname":"ORCL","tags":{"database-collector:enabled":"true","env":"staging"}}""",
    """{"engine":"sqlite","host":"db4.example.com","port":"0","username":"u","password":"p","dbname":"x"}""",
    """{"engine":"postgres","host":"db5.example.com","port":"5432","username":"app","password":"s3cret","dbname":"metrics","tags":{"database-collector:enabled":"true"}}""")

  /** Registry reconciliation between two enumeration vintages — the
    * reference's refresh round re-lists secrets, STARTS a collector for
    * every newly-enrolled source, STOPS collectors whose secret
    * vanished, and leaves running ones alone (database-collector.go:
    * 82-150, the add/remove diff around `RefreshSecrets`). Re-expressed
    * declaratively: enrolled(old) FULL OUTER JOIN enrolled(new) on the
    * (host, port) source identity → added / removed / kept, plus a
    * dsn_changed flag for kept sources whose credentials rotated (the
    * reference tears down + re-creates those). The registry is a
    * control-plane table — thousands of rows at any fleet size — so
    * the join is trivially broadcast-able; what matters is that the
    * diff is a DATA operation, not N control-plane API calls. */
  def refreshDiff(spark: SparkSession, dir: String): DataFrame = {
    def enrolled(payloads: Seq[String]) =
      withDsn(parseSecrets(spark, payloads)
        .filter(col("tags").getItem(EnabledTagKey).isNotNull))
    val a = enrolled(demoSecrets)
      .select(col("host"), col("port"), col("engine").as("engine_old"), col("dsn").as("dsn_old"))
    val b = enrolled(demoSecretsV2)
      .select(col("host"), col("port"), col("engine").as("engine_new"), col("dsn").as("dsn_new"))
    a.join(b, Seq("host", "port"), "full_outer")
      .select(col("host"), col("port"),
        coalesce(col("engine_new"), col("engine_old")).as("engine"),
        when(col("dsn_old").isNull, "added")
          .when(col("dsn_new").isNull, "removed")
          .otherwise("kept").as("status"),
        (col("dsn_old").isNotNull && col("dsn_new").isNotNull &&
          col("dsn_old") =!= col("dsn_new")).as("dsn_changed"))
  }

  private def secretsCteNamed(cte: String, payloads: Seq[String]): String =
    payloads.map(s => s"('$s')").mkString(s"$cte(j) AS (VALUES ", ", ", ")")

  private def parsedCteNamed(cte: String, from: String): String =
    s"""$cte AS (SELECT json_extract_string(j, '$$.engine') AS engine,
                    json_extract_string(j, '$$.host') AS host,
                    json_extract_string(j, '$$.port') AS port,
                    json_extract_string(j, '$$.username') AS username,
                    json_extract_string(j, '$$.password') AS password,
                    json_extract_string(j, '$$.dbname') AS dbname,
                    json_extract(j, '$$.tags."database-collector:enabled"') IS NOT NULL AS enabled
             FROM $from)"""

  private val dsnCase: String =
    """CASE WHEN engine = 'mysql'
             THEN username || ':' || password || '@tcp(' || host || ':' || port || ')/'
           WHEN engine = 'postgres'
             THEN 'postgresql://' || username || ':' || password || '@' || host
                  || ':' || port || '/' || dbname || '?sslmode=disable'
           WHEN engine IN ('oracle', 'oracle-ee', 'custom-oracle-ee')
             THEN host || ':' || port || '/' || dbname
      END"""

  val refreshDiffSql: String =
    s"""WITH ${secretsCteNamed("sa", demoSecrets)},
        ${secretsCteNamed("sb", demoSecretsV2)},
        ${parsedCteNamed("pa", "sa")},
        ${parsedCteNamed("pb", "sb")},
        ea AS (SELECT host, port, engine AS engine_old, $dsnCase AS dsn_old
               FROM pa WHERE enabled),
        eb AS (SELECT host, port, engine AS engine_new, $dsnCase AS dsn_new
               FROM pb WHERE enabled)
        SELECT coalesce(ea.host, eb.host) AS host,
               coalesce(ea.port, eb.port) AS port,
               coalesce(engine_new, engine_old) AS engine,
               CASE WHEN dsn_old IS NULL THEN 'added'
                    WHEN dsn_new IS NULL THEN 'removed'
                    ELSE 'kept' END AS status,
               dsn_old IS NOT NULL AND dsn_new IS NOT NULL AND dsn_old <> dsn_new
                 AS dsn_changed
        FROM ea FULL OUTER JOIN eb ON ea.host = eb.host AND ea.port = eb.port
        ORDER BY host"""

  /** Epoch cutoff between the "already ingested" vintage and the new
    * round: 2024-01-21 00:00 UTC (the events table spans Jan 1–30). */
  val IncrementalCutoffSec = 1705795200L

  /** Incremental ingestion with per-source watermarks — what replaces
    * the reference's scrape-everything-each-round loop when the source
    * grows past re-read scale: round N stores max(ts) per source;
    * round N+1 reads ONLY rows past that watermark and advances it.
    * The watermark table is |sources| rows (broadcast), and the
    * `sec > watermark` predicate reaches the scan — on a ts-sorted
    * layout parquet min/max stats prune whole row groups, so the
    * incremental read costs ∝ new data, not table size. Output is the
    * ingestion manifest: (source, stored watermark, rows ingested,
    * advanced watermark). */
  def incrementalRead(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    val wm = ev.filter(col("sec") < IncrementalCutoffSec)
      .groupBy(col("event_type")).agg(max(col("sec")).as("stored_watermark"))
    ev.join(broadcast(wm), Seq("event_type"))
      .filter(col("sec") > col("stored_watermark"))
      .groupBy(col("event_type"), col("stored_watermark"))
      .agg(count(lit(1)).as("n_new"), max(col("sec")).as("new_watermark"))
      .select(col("event_type"), col("stored_watermark"), col("n_new"),
        col("new_watermark"))
  }

  val incrementalReadSql: String =
    s"""WITH e AS (SELECT event_type,
                          CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
                   FROM events),
        wm AS (SELECT event_type, max(sec) AS stored_watermark
               FROM e WHERE sec < $IncrementalCutoffSec GROUP BY 1)
        SELECT e.event_type, wm.stored_watermark, count(*) AS n_new,
               max(e.sec) AS new_watermark
        FROM e JOIN wm USING (event_type)
        WHERE e.sec > wm.stored_watermark
        GROUP BY 1, 2 ORDER BY e.event_type"""

  val JdbcParts = 8L

  /** Partitioned-JDBC read planning ledger — the parallel-scrape rule
    * the collector applies when one database table is too big for one
    * connection (Spark's own jdbc(partitionColumn, lowerBound,
    * upperBound, numPartitions) discipline, made explicit): bounds
    * come from min/max of the key, stride = (hi − lo) div P, partition
    * i reads [lo + i·stride, lo + (i+1)·stride) with the LAST
    * partition unbounded above (it absorbs the remainder — and, on a
    * live source, rows inserted after planning). Emits per partition
    * its WHERE-clause bounds, actual row count, and the skew ratio
    * n·P/total — the number that says whether the key is uniform
    * enough to parallelize on (a sequence key is; a skewed foreign key
    * wants `q_data_skew_audit` first). Pure integer arithmetic; one
    * aggregation over the fact + a 1-row bounds broadcast. */
  def partitionBounds(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"))
    val b = o.agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
      count(lit(1)).as("total"))
    o.crossJoin(broadcast(b))
      .withColumn("stride", greatest(expr(s"(hi - lo) div $JdbcParts"), lit(1L)))
      .withColumn("part_id",
        least(lit(JdbcParts - 1), expr("(k - lo) div stride")).cast("long"))
      .groupBy(col("part_id"))
      .agg(count(lit(1)).as("n_rows"), min(col("lo")).as("lo"),
        min(col("stride")).as("stride"), min(col("total")).as("total"))
      .select(col("part_id"),
        (col("lo") + col("part_id") * col("stride")).as("lo_bound"),
        when(col("part_id") < JdbcParts - 1,
          col("lo") + (col("part_id") + 1) * col("stride")).as("hi_bound"),
        col("n_rows"),
        (floor(col("n_rows").cast("double") * JdbcParts
          / col("total").cast("double") * 1e4) / 1e4).as("skew_ratio"))
  }

  val partitionBoundsSql: String =
    s"""WITH o AS (SELECT o_orderkey AS k FROM orders),
        b AS (SELECT min(k) AS lo, max(k) AS hi, count(*) AS total FROM o),
        p AS (
          SELECT least($JdbcParts - 1,
                       (k - lo) // greatest((hi - lo) // $JdbcParts, 1)) AS part_id,
                 lo, greatest((hi - lo) // $JdbcParts, 1) AS stride, total
          FROM o, b),
        g AS (
          SELECT part_id, count(*) AS n_rows, min(lo) AS lo,
                 min(stride) AS stride, CAST(min(total) AS BIGINT) AS total
          FROM p GROUP BY 1)
        SELECT part_id, lo + part_id * stride AS lo_bound,
               CASE WHEN part_id < $JdbcParts - 1
                    THEN lo + (part_id + 1) * stride END AS hi_bound,
               n_rows,
               floor(CAST(n_rows AS DOUBLE) * $JdbcParts
                     / CAST(total AS DOUBLE) * 1e4) / 1e4 AS skew_ratio
        FROM g ORDER BY part_id"""

  /** Backfill chunk count for the balanced-split plan. */
  val BackfillChunks = 8L

  /** Balanced BACKFILL planning over the watermark range — the chunked
    * historical-read plan a JDBC backfill runs instead of one giant
    * `WHERE ts BETWEEN min AND max` query (which holds a server-side
    * cursor for hours and cannot parallelize): the per-day row
    * histogram assigns each day to one of [[BackfillChunks]] chunks by
    * cumulative ROW share (chunk = (cum−1)·K div total — days are kept
    * contiguous, chunk row counts balance to the day granularity, all
    * integer), and the plan emits each chunk's day range and row
    * count. Equal-width DAY ranges would skew with traffic; equal-ROW
    * chunks are what keeps 8 parallel readers finishing together at
    * any volume. Cumulative runs over the |days|-row aggregate — time
    * domain, never corpus. */
  def backfillChunks(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily
      .withColumn("cum", sum(col("n")).over(w))
      .withColumn("total", sum(col("n")).over(wAll))
      .withColumn("chunk", expr(s"(cum - 1) * $BackfillChunks div total"))
      .groupBy(col("chunk"))
      .agg(min(col("day")).as("day_lo"), max(col("day")).as("day_hi"),
        count(lit(1)).as("n_days"), sum(col("n")).as("n_rows"))
  }

  val backfillChunksSql: String =
    s"""WITH daily AS (
          SELECT CAST(ts AS DATE) AS day, count(*) AS n
          FROM events GROUP BY 1),
        c AS (
          SELECT day, n,
                 sum(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(n) OVER () AS total
          FROM daily)
        SELECT CAST((cum - 1) * $BackfillChunks // total AS BIGINT) AS chunk,
               min(day) AS day_lo, max(day) AS day_hi,
               count(*) AS n_days, CAST(sum(n) AS BIGINT) AS n_rows
        FROM c GROUP BY 1 ORDER BY chunk"""

  val entries: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] = Seq(
    ("source_backfill_chunks", backfillChunks _, Some(backfillChunksSql)),
    ("source_partition_bounds", partitionBounds _, Some(partitionBoundsSql)),
    ("source_incremental_read", incrementalRead _, Some(incrementalReadSql)),
    ("source_config_dsn", configDsn _, Some(configDsnSql)),
    ("source_registry", registryRead _, Some(registryReadSql)),
    ("source_tag_filter", tagFilter _, Some(tagFilterSql)),
    ("source_refresh_diff", refreshDiff _, Some(refreshDiffSql)))
}
