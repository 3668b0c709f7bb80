package graft.streaming

import graft.sources.{Publish, SourceRegistry}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The reference's continuously-running service shape, re-expressed as
  * a Structured-Streaming-driven micro-batch loop (the collector
  * daemon: refresh secrets every interval, scrape each enrolled
  * database, encode, push — database-collector.go:82-150, 262-281).
  *
  * Each tick of the trigger stream runs one collection round:
  *
  *   1. ENUMERATE — parse the secret payloads, keep sources carrying
  *      the enrollment tag key, build DSNs (`source_tag_filter` /
  *      `source_config_dsn` semantics).
  *   2. DIFF — full-outer the enrolled registry against the previous
  *      round's snapshot → added/kept/removed (`source_refresh_diff`
  *      semantics; the reference re-lists secrets every 15 min).
  *   3. SCRAPE, INCREMENTALLY — read each enrolled source through
  *      [[SourceRegistry.read]] with the ENGINE'S OWN scrape-query
  *      templates ([[scrapersFor]] — the reference exporters hardcode
  *      a per-engine scraper list: mysql-exporter.go:12-48 global
  *      status/variables/processlist, postgres-exporter.go:1-34
  *      pg_stat_database, oracle-exporter.go:1-33 v$ views) and keep
  *      only rows past the stored watermark of that (source, scraper
  *      family) pair (`source_incremental_read` semantics; the
  *      `ts_sec > wm` predicate pushes into the remote WHERE).
  *      Watermarks are per-FAMILY, not per-source: one source's
  *      families capture independently, and a shared watermark jumped
  *      to the fastest family's max(ts_sec) would silently drop a
  *      lagging family's late rows forever. A source whose secret
  *      carries `partitions` fans the scrape out over planned bounds
  *      (`source_partition_bounds` semantics) as N parallel range
  *      queries. All (source × scraper) reads union into ONE plan that
  *      is executed EXACTLY ONCE per round, spooling raw samples to the
  *      round's scratch dir — the remote engines never see a second
  *      query for the same round (the old shape scraped twice: once for
  *      bodies, once for the manifest counts).
  *   4. ENCODE + PUBLISH, EXACTLY-ONCE — every spooled sample becomes a
  *      Prometheus remote-write frame
  *      ([[graft.operators.PromWire.encodeSamples]]), grouped into one
  *      snappy-compressed WriteRequest body per (source, metric) —
  *      `proto.Marshal` + `snappy.Encode`. Bodies and manifest are
  *      written with the repo's own write-audit-publish discipline
  *      (stage → row-count audit → atomic rename into `round=N`), and
  *      the state snapshots (registry, watermarks) advance strictly
  *      AFTER publish: a crash anywhere mid-round leaves the watermarks
  *      unmoved, and the restarted round's publish REPLACES its own
  *      `round=N` dirs instead of appending — no double-pushed bodies,
  *      ever (spec-proven by killing the loop between publish and
  *      advance). The sigv4-signed HTTP POST stays out of scope (AWS
  *      infra); the bodies parquet is the push boundary.
  *
  * Round state (registry snapshot, per-(source, scraper) watermarks) and outputs
  * (manifest, bodies — both partitioned by round) live under a work
  * directory as parquet — tiny |sources|-bounded tables, re-readable on
  * restart, so the loop is a restartable foreachBatch pipeline rather
  * than driver-memory state. At scale each source's scrape is a
  * distributed (optionally split) read; nothing here collects data rows
  * to the driver (the registry collect is config rows — the reference
  * holds the same list in memory).
  */
object CollectorLoop {

  /** Fixed scrape target for engines with no template set (and the
    * embedded-Derby sandbox engine). */
  val ScrapeTable = "metrics"

  // ------------------------------------------------------ SQL dialects

  /** SQL spelling per EXECUTION dialect, resolved from the JDBC URL's
    * subprotocol — the enrollment `engine` picks WHAT to scrape (the
    * scraper list + metric prefixes), the connection picks HOW to spell
    * it. The reference gets this separation for free (each exporter
    * binary embeds its own driver and dialect); one loop scraping every
    * engine must let the spelling travel with the connection: a
    * mysql-enrolled source whose jdbc_url points at the embedded Derby
    * sandbox runs the ANSI spelling, a real jdbc:mysql connection gets
    * CONCAT() (`||` is logical OR on MySQL unless PIPES_AS_CONCAT).
    * Only the spelling hooks differ; the scraper LOGIC is defined once
    * in [[scraperDefs]] and rendered per dialect, so dialects can never
    * drift semantically. */
  sealed abstract class SqlDialect(val name: String) {
    /** string concatenation of scalar expressions */
    def concat(parts: Seq[String]): String
    def lower(e: String): String = s"LOWER($e)"
  }
  /** Derby / PostgreSQL / Oracle / ANSI: the `||` operator. */
  case object AnsiDialect extends SqlDialect("ansi") {
    def concat(parts: Seq[String]): String = parts.mkString(" || ")
  }
  /** MySQL: CONCAT() — always concatenation regardless of sql_mode. */
  case object MySqlDialect extends SqlDialect("mysql") {
    def concat(parts: Seq[String]): String = parts.mkString("CONCAT(", ", ", ")")
  }
  object SqlDialect {
    /** Execution dialect from the JDBC URL (null/absent → ANSI). */
    def forUrl(jdbcUrl: String): SqlDialect =
      if (jdbcUrl != null && jdbcUrl.startsWith("jdbc:mysql")) MySqlDialect
      else AnsiDialect
  }

  /** One scraper family as DATA: exporter metric prefix + the stats
    * relation and columns it normalizes to `(name, val, ts_sec)`.
    * An empty prefix means the relation already carries final metric
    * names (the Derby sandbox table). */
  final case class ScraperDef(family: String, prefix: String,
      nameCol: String, valCol: String, table: String)

  /** Render one scraper in one dialect. The SELECT shape is fixed;
    * only [[SqlDialect]] spelling hooks vary. */
  def renderScraper(sd: ScraperDef, dialect: SqlDialect): String =
    if (sd.prefix.isEmpty)
      s"SELECT ${sd.nameCol} AS name, ${sd.valCol} AS val, ts_sec FROM ${sd.table}"
    else
      s"SELECT ${dialect.concat(Seq(s"'${sd.prefix}'", dialect.lower(sd.nameCol)))} AS name, " +
        s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}"

  /** Per-engine scrape-query templates, keyed by the parsed secret's
    * `engine` — the Spark-side analog of the reference's hardcoded
    * per-engine scraper lists. Each template is an ANSI SELECT over the
    * engine's stats relation normalized to `(name, val, ts_sec)`, with
    * the exporter-style engine prefix baked into the metric name
    * (`mysql_global_status_*` / `pg_stat_database_*` / `oracledb_*` —
    * exactly how the reference's exporters label what they scrape), so
    * every downstream body is engine-attributable from its series names
    * alone. Stand-ins for the unqueryable originals (SHOW GLOBAL
    * STATUS, pg_stat_database, v$sysstat) so they run on any
    * JDBC-speaking engine, embedded Derby included.
    *
    * The mysql set mirrors the reference's ENABLED scraper map exactly
    * (mysql-exporter.go:13-42: GlobalStatus, GlobalVariables,
    * SlaveStatus, InnodbCmp, InnodbCmpMem, QueryResponseTime — and
    * notably NOT Processlist, which the reference turns off at
    * mysql-exporter.go:16); metric prefixes follow mysqld_exporter's
    * public naming (`mysql_global_status_*`, `mysql_global_variables_*`,
    * `mysql_slave_status_*`, `mysql_info_schema_innodb_cmp[_mem]_*`,
    * `mysql_info_schema_query_response_time_*`). */
  val scraperDefs: Map[String, Seq[ScraperDef]] = Map(
    "mysql" -> Seq(
      ScraperDef("global_status", "mysql_global_status_",
        "variable_name", "variable_value", "global_status"),
      ScraperDef("global_variables", "mysql_global_variables_",
        "variable_name", "variable_value", "global_variables"),
      ScraperDef("slave_status", "mysql_slave_status_",
        "stat_name", "stat_value", "slave_status"),
      ScraperDef("innodb_cmp", "mysql_info_schema_innodb_cmp_",
        "stat_name", "stat_value", "innodb_cmp"),
      ScraperDef("innodb_cmp_mem", "mysql_info_schema_innodb_cmp_mem_",
        "stat_name", "stat_value", "innodb_cmp_mem"),
      ScraperDef("query_response_time", "mysql_info_schema_query_response_time_",
        "stat_name", "stat_value", "query_response_time")),
    "postgres" -> Seq(
      ScraperDef("pg_stat_database", "pg_stat_database_",
        "stat_name", "stat_value", "pg_stat_database")),
    "oracle" -> Seq(
      ScraperDef("v_sysstat", "oracledb_", "stat_name", "stat_value", "v_sysstat")),
    "derby" -> Seq(
      ScraperDef(ScrapeTable, "", "name", "val", ScrapeTable)))

  /** Engine → its scraper list rendered for the connection's dialect;
    * `oracle-ee`/`custom-oracle-ee` route to the oracle set (same
    * normalization the DSN builder applies). */
  def scrapersFor(engine: String, jdbcUrl: String): Seq[(String, String)] = {
    val key = if (engine != null && engine.startsWith("oracle")) "oracle" else engine
    val dialect = SqlDialect.forUrl(jdbcUrl)
    scraperDefs.getOrElse(key, scraperDefs("derby"))
      .map(sd => sd.family -> renderScraper(sd, dialect))
  }

  /** ANSI-dialect scraper list (historical signature). */
  def scrapersFor(engine: String): Seq[(String, String)] =
    scrapersFor(engine, null)

  /** Stage → audit → atomic publish of one round's slice of `table`:
    * write beside the table root, count-audit the staged files against
    * the expected row count, then [[Publish.swap]] them in as
    * `round=N`. A replayed round REPLACES its own published slice —
    * outputs are per-round idempotent, so a crash-and-restart can never
    * append a second copy (the `sink_write_audit_publish` discipline). */
  private def publishRound(spark: SparkSession, table: String, round: Long,
      df: DataFrame, expectRows: Long): Unit = {
    val staged = s"${table}_staged_round_$round"
    df.write.mode("overwrite").parquet(staged)
    val got = spark.read.schema(df.schema).parquet(staged).count()
    if (got != expectRows)
      sys.error(s"audit failed for $table round $round: staged $got != expected $expectRows")
    Publish.swap(spark, staged, s"$table/round=$round", s"${table}_retired_round_$round")
  }

  /** The state snapshots' schemas: [[advance]] writes each snapshot
    * with its schema and [[state]] reads it back with the same one, so
    * no footer-inference job runs. */
  private val RegistrySchema = StructType.fromDDL("source_id STRING, engine STRING")
  private val WatermarkSchema =
    StructType.fromDDL("source_id STRING, scraper STRING, watermark BIGINT")

  /** The last published state snapshot at `path`, if any. */
  private def state(spark: SparkSession, path: String, schema: StructType): Option[DataFrame] =
    Publish.current(spark, path, s"${path}_retired").map(spark.read.schema(schema).parquet(_))

  /** Publish `rows` as the state snapshot at `path`: written beside it,
    * then swapped in, so a crash mid-write keeps the last snapshot. */
  private def advance(spark: SparkSession, path: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val staged = s"${path}_staged"
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(staged)
    Publish.swap(spark, staged, path, s"${path}_retired")
  }

  /** Enrolled registry for one round: id, engine, dsn + the config
    * fields [[SourceRegistry.read]] needs. */
  def enumerate(spark: SparkSession, secrets: Seq[String]): DataFrame =
    SourceRegistry.withDsn(SourceRegistry.parseSecrets(spark, secrets)
      .filter(col("tags").getItem(SourceRegistry.EnabledTagKey).isNotNull))
      .withColumn("source_id", concat(col("host"), lit(":"), col("port")))

  /** One collection round. Returns the round's manifest (one row per
    * enrolled-or-removed source: engine, status, watermark movement,
    * rows scraped) after publishing bodies + manifest `round=N` slices
    * and advancing the state snapshots under `workDir`.
    *
    * `failpoint` is the crash-recovery test hook: `"before-advance"`
    * throws after the round's outputs are published but BEFORE the
    * watermark/registry snapshots move — the exact window where the old
    * append-based shape double-pushed on restart. */
  def runRound(spark: SparkSession, secrets: Seq[String], workDir: String,
      round: Long, failpoint: String = ""): DataFrame = {
    import spark.implicits._

    // 1. enumerate
    val enrolled = enumerate(spark, secrets)
      .select("source_id", "engine", "format", "path", "host", "port",
        "username", "password", "dbname", "jdbc_url", "partitions")
      .collect()

    // 2. diff against the previous registry snapshot
    val regPath = s"$workDir/registry"
    val prev: Map[String, String] = state(spark, regPath, RegistrySchema)
      .map(_.as[(String, String)].collect().toMap).getOrElse(Map.empty)
    val cur: Map[String, String] = enrolled
      .map(r => r.getAs[String]("source_id") -> r.getAs[String]("engine")).toMap
    val status: Map[String, String] =
      (cur.keySet.map(id => id -> (if (prev.contains(id)) "kept" else "added")) ++
        (prev.keySet -- cur.keySet).map(_ -> "removed")).toMap

    // 3. per-source incremental scrape: every engine runs ITS OWN
    // scraper templates; the watermark predicate pushes into each
    // remote query's WHERE. Watermarks are keyed by (source_id,
    // scraper): the families of one source capture independently, and a
    // shared per-source watermark advanced to max(ts_sec) across ALL
    // families would permanently skip a lagging family's late rows —
    // silent sample loss the exactly-once machinery can't see.
    val wmPath = s"$workDir/watermarks"
    val storedWm: Map[(String, String), Long] = state(spark, wmPath, WatermarkSchema)
      .map(_.as[(String, String, Long)].collect()
        .map { case (id, fam, w) => (id, fam) -> w }.toMap)
      .getOrElse(Map.empty)
    val failedScrapes = scala.collection.mutable.Set[(String, String)]()
    val scraped: Seq[DataFrame] = enrolled.toSeq.flatMap { r =>
      val id = r.getAs[String]("source_id")
      val engine = r.getAs[String]("engine")
      val baseConf = Seq("engine", "format", "path", "host", "port", "username",
        "password", "dbname", "jdbc_url", "partitions")
        .flatMap(k => Option(r.getAs[String](k)).map(k -> _)).toMap
      val nParts = baseConf.get("partitions").map(_.toInt).getOrElse(1)
      // dialect dispatch: the scraper list comes from the enrollment
      // engine, the SQL spelling from the CONNECTION's subprotocol
      val dialectUrl =
        if (baseConf.getOrElse("format", "jdbc") == "jdbc")
          scala.util.Try(SourceRegistry.jdbcUrlOf(baseConf)).getOrElse(null)
        else null
      scrapersFor(engine, dialectUrl).flatMap { case (family, sql) =>
        val wm = storedWm.getOrElse((id, family), Long.MinValue)
        val isJdbc = baseConf.getOrElse("format", "jdbc") == "jdbc"
        // a down database must not fail the whole round (the reference
        // daemon keeps collecting the healthy sources): the JDBC reader
        // connects at construction to resolve the schema, so
        // connection/auth/missing-relation failures surface HERE and
        // the source is marked down (`up` 0 series + manifest counter)
        // while every other source proceeds. Its watermark does not
        // move, so the next round retries the full missed range.
        val attempt = scala.util.Try {
          val rows =
            if (!isJdbc) SourceRegistry.read(spark, baseConf + ("dbtable" -> ScrapeTable))
            else if (nParts <= 1) SourceRegistry.read(spark, baseConf + ("query" -> sql))
            else {
              // planned split read (`source_partition_bounds` semantics):
              // one 1-row bounds probe over the still-unscraped range,
              // then the scrape itself fans out as nParts parallel range
              // queries on ts_sec instead of one remote cursor
              // (Long.MinValue renders as an out-of-range unary-minus
              // literal in some SQL dialects — use a tautology instead)
              val wmPred = if (wm == Long.MinValue) "1=1" else s"ts_sec > $wm"
              val b = SourceRegistry.read(spark, baseConf + ("query" ->
                s"SELECT MIN(ts_sec) AS lo, MAX(ts_sec) AS hi FROM ($sql) b WHERE $wmPred"))
                .collect().head
              if (b.isNullAt(0)) SourceRegistry.read(spark, baseConf + ("query" -> sql))
              else SourceRegistry.read(spark, baseConf ++ Map(
                "dbtable" -> s"($sql) scrape",
                "numPartitions" -> nParts.toString,
                "partitionColumn" -> "ts_sec",
                "lowerBound" -> b.getLong(0).toString,
                "upperBound" -> (b.getLong(1) + 1).toString))
            }
          rows.filter(col("ts_sec") > wm) // pushes into the JDBC WHERE / scan
            .select(lit(id).as("source_id"), lit(engine).as("engine"),
              lit(family).as("scraper"), col("name").cast("string").as("name"),
              col("val").cast("double").as("val"), col("ts_sec").cast("long").as("ts_sec"))
        }
        attempt.failed.foreach { e =>
          failedScrapes += ((id, family))
          System.err.println(s"[collector] scrape failed for $id/$family: ${e.getMessage}")
        }
        attempt.toOption
      }
    }

    // union every (source × scraper) into ONE plan — the reference
    // scrapes concurrently (sync.WaitGroup); here concurrency is
    // Spark's scheduling of the union's leaves — and execute it
    // EXACTLY ONCE into the round's spool: every derived output
    // (bodies, manifest counts, watermarks) reads the spool, so the
    // remote engines are queried once per round no matter how many
    // consumers the round has
    val scrapedRows = scraped
      .reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String, String, String, Double, Long)]
        .toDF("source_id", "engine", "scraper", "name", "val", "ts_sec"))
    val spool = s"$workDir/spool_round_$round"
    scrapedRows.write.mode("overwrite").parquet(spool)
    val spooled = spark.read.schema(scrapedRows.schema).parquet(spool)

    // per-(source, scraper) stats off the spool (|sources × families|-
    // bounded): each family's count and max ts_sec feed ITS OWN
    // watermark, the manifest summary, and the self-observability series
    val famCounts: Map[(String, String), (Long, Long)] = spooled
      .groupBy(col("source_id"), col("scraper"))
      .agg(count(lit(1)).as("n"), max(col("ts_sec")).as("mx"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap

    // 4a. encode bodies: spooled samples PLUS the collector's own
    // self-observability family per enrolled source — `up` (1 iff every
    // scraper family of the source constructed and read cleanly this
    // round, the reserved Prometheus health series) and
    // `scrape_samples_scraped` (rows this round). Their timestamp is
    // the round number — the deterministic analog of scrape wall time.
    val selfRows: Seq[(String, String, String, String, Double, Long)] =
      status.toSeq.filter(_._2 != "removed").sortBy(_._1).flatMap { case (id, _) =>
        val engine = cur.getOrElse(id, "unknown")
        val up = if (scrapersFor(engine).exists(f => failedScrapes.contains((id, f._1))))
          0.0 else 1.0
        val n = famCounts.collect { case ((i, _), (c, _)) if i == id => c }.sum
        Seq((id, engine, "self", "up", up, round),
          (id, engine, "self", "scrape_samples_scraped", n.toDouble, round))
      }
    val encodeIn = spooled.unionByName(
      selfRows.toDF("source_id", "engine", "scraper", "name", "val", "ts_sec"))
    val bodiesDf = graft.operators.PromWire.encodeSamples(
      encodeIn.select(col("name").as("metric_name"),
        col("source_id").as("event_type"), col("val").as("value"),
        (col("ts_sec") * 1000L).as("ts_ms")))
      .groupBy(col("event_type").as("source_id"), col("metric_name"))
      .agg(count(lit(1)).as("n_series"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(ts_ms, wire_hex))),
                  x -> x.wire_hex), '')""").as("body_hex"))
      .join(cur.toSeq.toDF("source_id", "engine"), Seq("source_id"), "left")
      .selectExpr("source_id", "engine", "metric_name", "n_series",
        "length(body_hex) div 2 AS body_len",
        "graft_snappy(unhex(body_hex)) AS body_snappy")
    val nBodies = spooled.select(col("source_id"), col("name")).distinct().count() +
      selfRows.map(r => (r._1, r._4)).distinct.size
    publishRound(spark, s"$workDir/bodies", round, bodiesDf, nBodies)

    // 4b. manifest: per-source summary (old = most-behind family's
    // stored watermark, new = most-ahead family's post-round watermark,
    // n = total new rows, plus how many scraper families failed)
    val manifestRows = status.toSeq.sortBy(_._1).map { case (id, st) =>
      val engine = cur.getOrElse(id, prev.getOrElse(id, "unknown"))
      val fams = scrapersFor(engine).map(_._1)
      val oldWm = fams.map(f => storedWm.getOrElse((id, f), Long.MinValue)).min
      val n = famCounts.collect { case ((i, _), (c, _)) if i == id => c }.sum
      val newWm = fams.map(f => famCounts.get((id, f)).map(_._2)
        .getOrElse(storedWm.getOrElse((id, f), Long.MinValue))).max
      val nFailed = fams.count(f => failedScrapes.contains((id, f)))
      (id, engine, st, oldWm, n, newWm, nFailed)
    }
    val manifestDf = manifestRows
      .toDF("source_id", "engine", "status", "old_watermark", "n_new",
        "new_watermark", "n_failed_scrapers")
    publishRound(spark, s"$workDir/manifest", round, manifestDf, manifestRows.size.toLong)

    if (failpoint == "before-advance")
      sys.error(s"failpoint: crash after publish, before snapshot advance (round $round)")

    // 5. advance snapshots AFTER the publishes: a crash before this
    // point leaves the watermarks unmoved and the restarted round
    // replaces its own round=N dirs — exactly-once outputs per round
    advance(spark, regPath, RegistrySchema, cur.toSeq.map { case (id, e) => Row(id, e) })
    val newWms = (storedWm ++ famCounts.map { case (k, (_, w)) => k -> w })
      .filter { case (k @ (id, _), _) => cur.contains(id) || storedWm.contains(k) }
    advance(spark, wmPath, WatermarkSchema,
      newWms.toSeq.map { case ((id, fam), w) => Row(id, fam, w) })
    new Path(spool).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(spool), true)

    manifestDf.withColumn("round", lit(round))
      .select("round", "source_id", "engine", "status", "old_watermark",
        "n_new", "new_watermark", "n_failed_scrapers")
  }

  /** Wire the loop onto a trigger stream: each tick value is a round
    * number; `secrets` is re-evaluated per round (the reference's
    * RefreshSecrets goroutine). Production: `spark.readStream
    * .format("rate")` with a processing-time trigger; specs: a
    * MemoryStream of round numbers. */
  /** LAMBDA one-shot mode — the reference's other deployment shape
    * (database-collector.go:233-268 runs one collect per invocation and
    * exits; the CDK wires it to a schedule). Executes exactly ONE
    * enumerate → diff → scrape → publish → advance round with no
    * trigger stream: the round number is recovered from the published
    * manifest (max(round) + 1, 1 on a fresh workDir), so consecutive
    * invocations are incremental exactly like consecutive stream ticks
    * — watermarks advance, already-pushed rows never re-push, and a
    * cron/Lambda deployment IS a sequence of runOnce calls over the
    * same workDir. Returns the round's manifest. */
  def runOnce(spark: SparkSession, secrets: Seq[String], workDir: String): DataFrame = {
    val manifest = new Path(s"$workDir/manifest")
    val next =
      if (!manifest.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(manifest)) 1L
      else spark.read.parquet(manifest.toString)
        .agg(org.apache.spark.sql.functions.max(col("round").cast("long")))
        .head() match {
          case r if r.isNullAt(0) => 1L
          case r => r.getLong(0) + 1L
        }
    runRound(spark, secrets, workDir, next)
  }

  def stream(ticks: Dataset[Long], secrets: () => Seq[String],
      workDir: String, trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Long] =
    ticks.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        val spark = batch.sparkSession
        batch.collect().sorted.foreach(r => runRound(spark, secrets(), workDir, r))
      }
}
