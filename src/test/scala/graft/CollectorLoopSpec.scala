package graft

import graft.Protobuf.readVarint
import graft.streaming.CollectorLoop
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** End-to-end collector service loop on a REAL database (embedded
  * Derby): enumerate → diff → incremental scrape → encode → push,
  * two rounds. Proves the chain the reference daemon runs — round
  * N+1 processes ONLY rows inserted after round N, a source added
  * between rounds is picked up as `added`, and every pushed body is a
  * decodable snappy'd WriteRequest. */
class CollectorLoopSpec extends SparkTestBase {

  private def lenFields(b: Array[Byte], num: Int): Seq[Array[Byte]] = {
    var p = 0; val out = Seq.newBuilder[Array[Byte]]
    while (p < b.length) {
      val (tag, p1) = readVarint(b, p)
      (tag & 7).toInt match {
        case 0 => p = readVarint(b, p1)._2
        case 1 => p = p1 + 8
        case 2 =>
          val (len, p2) = readVarint(b, p1)
          if ((tag >> 3).toInt == num) out += b.slice(p2, p2 + len.toInt)
          p = p2 + len.toInt
      }
    }
    out.result()
  }

  private def secret(host: String, path: String): String =
    s"""{"engine":"derby","host":"$host","port":"1527","username":"u","password":"p",
        "dbname":"d","format":"jdbc","path":"$path",
        "tags":{"${graft.sources.SourceRegistry.EnabledTagKey}":"true"}}"""
      .replaceAll("\n\\s*", "")

  test("two rounds on Derby: only new rows, added source detected, bodies decode") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop").toString
    val db1 = s"$base/src1"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db1;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
        "('m_up', 1.0, 100), ('threads_running', 7.0, 100), ('m_up', 1.0, 160)")
      st.close()
    } finally conn.close()

    val work = s"$base/work"
    @volatile var secrets = Seq(secret("db1.example.com", db1))

    import spark.implicits._
    val ticks = MemoryStream[Long]
    val q = CollectorLoop.stream(ticks.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      // ---- round 1: fresh registry, full scrape
      ticks.addData(1L); q.processAllAvailable()
      val m1 = spark.read.parquet(s"$work/manifest").filter(col("round") === 1)
      assert(m1.count() == 1)
      val r1 = m1.head()
      assert(r1.getAs[String]("status") == "added")
      assert(r1.getAs[Long]("n_new") == 3)
      assert(r1.getAs[Long]("new_watermark") == 160)

      // ---- between rounds: source grows; a second source enrolls
      val c2 = java.sql.DriverManager.getConnection(s"jdbc:derby:$db1", "u", "p")
      try {
        val st = c2.createStatement()
        st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
          "('m_up', 1.0, 220), ('threads_running', 9.0, 220)")
        st.close()
      } finally c2.close()
      val db2 = s"$base/src2"
      val cn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db2;create=true", "u", "p")
      try {
        val st = cn.createStatement()
        st.executeUpdate(
          s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
        st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 150)")
        st.close()
      } finally cn.close()
      secrets = Seq(secret("db1.example.com", db1), secret("db2.example.com", db2))

      // ---- round 2: incremental on db1, full on the new db2
      ticks.addData(2L); q.processAllAvailable()
      val m2 = spark.read.parquet(s"$work/manifest").filter(col("round") === 2)
        .collect().map(r => r.getAs[String]("source_id") -> r).toMap
      assert(m2.size == 2)
      val d1 = m2("db1.example.com:1527")
      assert(d1.getAs[String]("status") == "kept")
      assert(d1.getAs[Long]("old_watermark") == 160, "round 2 starts at round 1's watermark")
      assert(d1.getAs[Long]("n_new") == 2, "round 2 scrapes ONLY the rows inserted after round 1")
      assert(d1.getAs[Long]("new_watermark") == 220)
      val d2 = m2("db2.example.com:1527")
      assert(d2.getAs[String]("status") == "added")
      assert(d2.getAs[Long]("n_new") == 1)

      // ---- every pushed body decodes: snappy → WriteRequest with
      // n_series field-1 TimeSeries, source id recoverable as a label
      val bodies = spark.read.parquet(s"$work/bodies")
        .selectExpr("round", "source_id", "metric_name", "n_series",
          "graft_unsnappy(body_snappy) AS body")
        .collect()
      assert(bodies.nonEmpty)
      bodies.foreach { b =>
        val series = lenFields(b.getAs[Array[Byte]]("body"), 1)
        assert(series.size == b.getAs[Long]("n_series"))
        series.foreach { ts =>
          val labels = lenFields(ts, 1).map { kv =>
            val k = lenFields(kv, 1).head
            val v = lenFields(kv, 2).headOption.getOrElse(Array.empty[Byte])
            new String(k, "UTF-8") -> new String(v, "UTF-8")
          }.toMap
          assert(labels("__name__") == b.getAs[String]("metric_name"))
          assert(labels("event_type") == b.getAs[String]("source_id"))
          assert(lenFields(ts, 2).size == 1, "exactly one sample per frame")
        }
      }
      // round-2 bodies carry only the incremental sample count for db1
      val r2up = spark.read.parquet(s"$work/bodies")
        .filter(col("round") === 2 && col("source_id") === "db1.example.com:1527" &&
          col("metric_name") === "m_up")
        .head().getAs[Long]("n_series")
      assert(r2up == 1, "only the post-round-1 'm_up' sample ships in round 2")

      // ---- round 3 with nothing new: watermark holds, zero rows
      ticks.addData(3L); q.processAllAvailable()
      val m3 = spark.read.parquet(s"$work/manifest").filter(col("round") === 3)
        .collect().map(r => r.getAs[String]("source_id") -> r).toMap
      assert(m3("db1.example.com:1527").getAs[Long]("n_new") == 0)
      assert(m3("db1.example.com:1527").getAs[Long]("new_watermark") == 220)
    } finally q.stop()
  }

  test("loop state survives a process restart: a NEW query resumes from the stored watermark") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_rs").toString
    val db = s"$base/src"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$db;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      st.executeUpdate(
        s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)")
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 50)")
      st.close()
    } finally conn.close()
    val secrets = Seq(secret("dbr.example.com", db))
    val work = s"$base/work"

    import spark.implicits._
    val t1 = MemoryStream[Long]
    val q1 = CollectorLoop.stream(t1.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt1").start()
    try { t1.addData(1L); q1.processAllAvailable() } finally q1.stop()

    // "restart": a brand-new query, fresh checkpoint — only the
    // workDir parquet state carries over, as after a driver crash
    val c2 = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c2.createStatement()
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 2.0, 90)")
      st.close()
    } finally c2.close()
    val t2 = MemoryStream[Long]
    val q2 = CollectorLoop.stream(t2.toDS(), () => secrets, work)
      .option("checkpointLocation", s"$base/ckpt2").start()
    try { t2.addData(2L); q2.processAllAvailable() } finally q2.stop()

    val m = spark.read.parquet(s"$work/manifest").collect()
      .map(r => r.getAs[Int]("round").toLong -> r).toMap
    assert(m(1L).getAs[Long]("n_new") == 1 && m(1L).getAs[Long]("new_watermark") == 50)
    assert(m(2L).getAs[String]("status") == "kept",
      "registry snapshot survived the restart")
    assert(m(2L).getAs[Long]("old_watermark") == 50 && m(2L).getAs[Long]("n_new") == 1,
      "restarted loop resumed from the stored watermark, not a rescan")
  }

  /** DDL + rows for an engine-shaped Derby stand-in database. */
  private def mkDb(path: String, ddl: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:$path;create=true", "u", "p")
    try {
      val st = conn.createStatement()
      ddl.foreach(st.executeUpdate)
      st.close()
    } finally conn.close()
  }

  private def engineSecret(host: String, engine: String, dbPath: String,
      extra: String = ""): String =
    s"""{"engine":"$engine","host":"$host","port":"1527","username":"u","password":"p",
        "dbname":"d","format":"jdbc","jdbc_url":"jdbc:derby:$dbPath"$extra,
        "tags":{"${graft.sources.SourceRegistry.EnabledTagKey}":"true"}}"""
      .replaceAll("\n\\s*", "")

  /** All six mysql-shaped stats relations (the stand-ins for the
    * reference's ENABLED mysqld scrapers, mysql-exporter.go:13-42) plus
    * a processlist table that must NOT be scraped (the reference
    * disables ScrapeProcesslist, mysql-exporter.go:16). */
  private def mysqlDdl: Seq[String] = Seq(
    "CREATE TABLE global_status (variable_name VARCHAR(64), variable_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE global_variables (variable_name VARCHAR(64), variable_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE slave_status (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE innodb_cmp (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE innodb_cmp_mem (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE query_response_time (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
    "CREATE TABLE processlist_summary (state VARCHAR(64), n_threads INT, captured_sec BIGINT)")

  test("per-engine templates: mysql runs all six enabled reference scrapers (and no processlist); bodies label the engine") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_eng").toString
    mkDb(s"$base/my", mysqlDdl ++ Seq(
      "INSERT INTO global_status VALUES ('Threads_running', 7.0, 100), ('Uptime', 5000.0, 100)",
      "INSERT INTO global_variables VALUES ('max_connections', 151.0, 100)",
      "INSERT INTO slave_status VALUES ('seconds_behind_master', 0.0, 100)",
      "INSERT INTO innodb_cmp VALUES ('compress_ops', 42.0, 100)",
      "INSERT INTO innodb_cmp_mem VALUES ('pages_used', 9.0, 100)",
      "INSERT INTO query_response_time VALUES ('queries_100ms', 17.0, 100)",
      // present in the database but NOT in the enabled scraper set:
      // rows here must never surface as series
      "INSERT INTO processlist_summary VALUES ('executing', 3, 100)"))
    // postgres-shaped stats relation (stand-in for pg_stat_database)
    mkDb(s"$base/pg", Seq(
      "CREATE TABLE pg_stat_database (stat_name VARCHAR(64), stat_value DOUBLE, captured_sec BIGINT)",
      "INSERT INTO pg_stat_database VALUES ('xact_commit', 420.0, 100), ('blks_read', 9000.0, 100)"))
    val secrets = Seq(
      engineSecret("my1.example.com", "mysql", s"$base/my"),
      engineSecret("pg1.example.com", "postgres", s"$base/pg"))
    val work = s"$base/work"

    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L)
      .collect().map(r => r.getAs[String]("source_id") -> r).toMap
    // each engine ran ITS OWN scraper set: mysql = 6 scrapers → 7 rows
    // (processlist's row does NOT count), postgres = 1 scraper × 2 rows
    assert(manifest("my1.example.com:1527").getAs[String]("engine") == "mysql")
    assert(manifest("my1.example.com:1527").getAs[Long]("n_new") == 7)
    assert(manifest("pg1.example.com:1527").getAs[String]("engine") == "postgres")
    assert(manifest("pg1.example.com:1527").getAs[Long]("n_new") == 2)

    val bodies = spark.read.parquet(s"$work/bodies")
      .select("source_id", "engine", "metric_name", "n_series").collect()
    val byEngine = bodies.groupBy(_.getAs[String]("engine"))
    // bodies label the engine, the metric names carry mysqld_exporter's
    // public prefixes for ALL SIX enabled scraper families, and no
    // processlist series exists anywhere in the round's output
    assert(byEngine("mysql").map(_.getAs[String]("metric_name")).toSet ==
      Set("mysql_global_status_threads_running", "mysql_global_status_uptime",
        "mysql_global_variables_max_connections",
        "mysql_slave_status_seconds_behind_master",
        "mysql_info_schema_innodb_cmp_compress_ops",
        "mysql_info_schema_innodb_cmp_mem_pages_used",
        "mysql_info_schema_query_response_time_queries_100ms",
        "up", "scrape_samples_scraped"))
    assert(!bodies.exists(_.getAs[String]("metric_name").contains("processlist")),
      "the reference disables ScrapeProcesslist; the loop must not scrape it")
    assert(byEngine("postgres").map(_.getAs[String]("metric_name")).toSet ==
      Set("pg_stat_database_xact_commit", "pg_stat_database_blks_read",
        "up", "scrape_samples_scraped"))
    // every source is healthy: its up series carries value-bit-set frames
    // (value 1.0 != 0 -> field 1 present) and scrape_samples counts rows
    // every body decodes to one WriteRequest TimeSeries per sample
    val dec = spark.read.parquet(s"$work/bodies")
      .selectExpr("metric_name", "n_series", "graft_unsnappy(body_snappy) AS body")
      .collect()
    dec.foreach { b =>
      assert(lenFields(b.getAs[Array[Byte]]("body"), 1).size == b.getAs[Long]("n_series"))
    }
  }

  test("exactly-once: a crash between publish and snapshot-advance does not double-push bodies") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_xo").toString
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 100), ('lat', 2.0, 100)"))
    val secrets = Seq(secret("dbx.example.com", db))
    val work = s"$base/work"

    // round 1 crashes AFTER bodies+manifest are published but BEFORE
    // the watermark/registry snapshots advance — the exact window where
    // an append-based loop double-pushes on restart
    intercept[RuntimeException] {
      CollectorLoop.runRound(spark, secrets, work, 1L, failpoint = "before-advance")
    }
    assert(spark.read.parquet(s"$work/bodies").count() == 4,
      "the crashed round's bodies were published (2 scraped + up + samples)")
    // "restart": the loop replays the SAME round (its tick was never
    // committed); outputs must REPLACE, not append
    CollectorLoop.runRound(spark, secrets, work, 1L)
    val bodies = spark.read.parquet(s"$work/bodies")
      .select("round", "source_id", "metric_name", "n_series").collect()
    assert(bodies.length == 4, s"replayed round must not duplicate bodies: ${bodies.toSeq}")
    val scrapedBodies = bodies.filterNot(b =>
      Set("up", "scrape_samples_scraped")(b.getAs[String]("metric_name")))
    assert(scrapedBodies.length == 2 && scrapedBodies.map(_.getAs[Long]("n_series")).sum == 2,
      "each scraped sample ships exactly once")
    val manifest = spark.read.parquet(s"$work/manifest").collect()
    assert(manifest.length == 1, "one manifest row total: the replay replaced the crashed round's")
    assert(manifest.head.getAs[Long]("new_watermark") == 100)

    // and the next round is a clean increment on the once-advanced state
    CollectorLoop.runRound(spark, secrets, work, 2L)
    val m2 = spark.read.parquet(s"$work/manifest")
      .filter(col("round") === 2).head()
    assert(m2.getAs[Long]("old_watermark") == 100 && m2.getAs[Long]("n_new") == 0)
  }

  test("per-family watermarks: a lagging scraper family's late rows are not skipped by a faster family's advance") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_wm").toString
    val db = s"$base/my"
    // round 1: global_status has captured up to 100, innodb_cmp only to
    // 90 — the families of ONE source are at different capture points
    mkDb(db, mysqlDdl ++ Seq(
      "INSERT INTO global_status VALUES ('Uptime', 5000.0, 100)",
      "INSERT INTO innodb_cmp VALUES ('compress_ops', 1.0, 90)"))
    val secrets = Seq(engineSecret("wm1.example.com", "mysql", db))
    val work = s"$base/work"
    CollectorLoop.runRound(spark, secrets, work, 1L)

    // the stored watermarks are per (source_id, scraper): 100 for
    // global_status, 90 for innodb_cmp — NOT one shared max
    val wms = spark.read.parquet(s"$work/watermarks")
      .collect().map(r => r.getAs[String]("scraper") -> r.getAs[Long]("watermark")).toMap
    assert(wms("global_status") == 100 && wms("innodb_cmp") == 90,
      s"per-family watermarks expected, got $wms")

    // between rounds the lagging family's sample at ts 95 arrives —
    // INSIDE (90, 100]: a per-source watermark at max(100) would skip
    // it forever; the per-family watermark at 90 must ship it
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO innodb_cmp VALUES ('compress_ops_ok', 2.0, 95)")
      st.close()
    } finally c.close()
    val m2 = CollectorLoop.runRound(spark, secrets, work, 2L).head()
    assert(m2.getAs[Long]("n_new") == 1, "the late innodb_cmp sample ships in round 2")
    val r2names = spark.read.parquet(s"$work/bodies")
      .filter(col("round") === 2).select("metric_name")
      .collect().map(_.getString(0)).toSet
    assert(r2names == Set("mysql_info_schema_innodb_cmp_compress_ops_ok",
      "up", "scrape_samples_scraped"))
    // and the families' watermarks advanced independently again
    val wms2 = spark.read.parquet(s"$work/watermarks")
      .collect().map(r => r.getAs[String]("scraper") -> r.getAs[Long]("watermark")).toMap
    assert(wms2("global_status") == 100 && wms2("innodb_cmp") == 95)
  }

  test("a down source does not fail the round: up=0 for it, healthy sources ship, watermark holds for retry") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_dn").toString
    val good = s"$base/good"
    mkDb(good, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m1', 1.0, 100)"))
    // the bad source points at a database that does not exist (and
    // cannot be created: no ;create=true in the loop's DSN) — the JDBC
    // construction fails, the daemon must keep going
    val secrets = Seq(
      secret("good.example.com", good),
      secret("down.example.com", s"$base/nonexistent"))
    val work = s"$base/work"
    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L)
      .collect().map(r => r.getAs[String]("source_id") -> r).toMap
    assert(manifest.size == 2, "both sources appear in the manifest")
    assert(manifest("good.example.com:1527").getAs[Long]("n_new") == 1)
    assert(manifest("good.example.com:1527").getAs[Int]("n_failed_scrapers") == 0)
    assert(manifest("down.example.com:1527").getAs[Long]("n_new") == 0)
    assert(manifest("down.example.com:1527").getAs[Int]("n_failed_scrapers") == 1)

    // self-observability: up=1 for the healthy source, up=0 for the
    // down one — both decodable frames in the round's bodies
    val ups = spark.read.parquet(s"$work/bodies")
      .filter(col("metric_name") === "up")
      .selectExpr("source_id", "graft_unsnappy(body_snappy) AS body")
      .collect().map { r =>
        val ts = lenFields(r.getAs[Array[Byte]]("body"), 1).head
        val sample = lenFields(ts, 2).head
        // Sample field 1 (fixed64 value) omitted when 0 (proto3 rule)
        val hasValue = sample.nonEmpty && (sample(0) & 0xff) == 0x09
        r.getAs[String]("source_id") -> hasValue
      }.toMap
    assert(ups("good.example.com:1527"), "healthy source: up carries value 1")
    assert(!ups("down.example.com:1527"), "down source: up value 0 (omitted field)")

    // no watermark entry for the down source: the next round retries
    // the full range once the database is back
    val wmSrc = spark.read.parquet(s"$work/watermarks")
      .select("source_id").collect().map(_.getString(0)).toSet
    assert(wmSrc == Set("good.example.com:1527"))
  }

  test("partitioned scrape: bounds-planned split read returns the same rows as the serial read") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_par").toString
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES " +
        (1 to 40).map(i => s"('m$i', $i.0, ${100 + i})").mkString(", ")))

    // the registry read itself fans out: 4 range partitions on ts_sec
    val par = graft.sources.SourceRegistry.read(spark, Map(
      "engine" -> "derby", "format" -> "jdbc", "path" -> db,
      "username" -> "u", "password" -> "p",
      "dbtable" -> s"(SELECT name, val, ts_sec FROM ${CollectorLoop.ScrapeTable}) scrape",
      "numPartitions" -> "4", "partitionColumn" -> "ts_sec",
      "lowerBound" -> "101", "upperBound" -> "141"))
    assert(par.rdd.getNumPartitions == 4, "the planned bounds drive a real split read")
    assert(par.count() == 40)

    // and the loop consumes the same plan end-to-end via `partitions`
    val secrets = Seq(
      engineSecret("dbp.example.com", "derby", db, extra = ""","partitions":"4"""")
        .replace(s""""jdbc_url":"jdbc:derby:$db"""", s""""path":"$db","jdbc_url":"jdbc:derby:$db""""))
    val work = s"$base/work"
    val manifest = CollectorLoop.runRound(spark, secrets, work, 1L).head()
    assert(manifest.getAs[Long]("n_new") == 40)
    assert(manifest.getAs[Long]("new_watermark") == 140)
    assert(spark.read.parquet(s"$work/bodies")
      .filter(!col("metric_name").isin("up", "scrape_samples_scraped"))
      .agg(sum("n_series")).head().getLong(0) == 40)
    // self-observability: one healthy up=1 series and the row count
    val self = spark.read.parquet(s"$work/bodies")
      .filter(col("metric_name").isin("up", "scrape_samples_scraped"))
    assert(self.count() == 2)
  }

  // ------------------------------------------------------ SQL dialects

  test("dialect rendering: MySQL spells CONCAT, ANSI spells ||, dispatch follows the connection") {
    import CollectorLoop._
    // exact pinned strings for the flagship scraper in both dialects
    val gs = scraperDefs("mysql").head
    assert(renderScraper(gs, AnsiDialect) ==
      "SELECT 'mysql_global_status_' || LOWER(variable_name) AS name, " +
        "variable_value AS val, captured_sec AS ts_sec FROM global_status")
    assert(renderScraper(gs, MySqlDialect) ==
      "SELECT CONCAT('mysql_global_status_', LOWER(variable_name)) AS name, " +
        "variable_value AS val, captured_sec AS ts_sec FROM global_status")
    // dialect comes from the CONNECTION's subprotocol, never the engine:
    // a mysql-enrolled source backed by embedded Derby speaks ANSI, a
    // real jdbc:mysql connection gets CONCAT
    assert(SqlDialect.forUrl("jdbc:mysql://db1.example.com:3306/prod") == MySqlDialect)
    assert(SqlDialect.forUrl("jdbc:derby:/tmp/sandbox") == AnsiDialect)
    assert(SqlDialect.forUrl("jdbc:postgresql://db2.example.com:5432/appdb") == AnsiDialect)
    assert(SqlDialect.forUrl(null) == AnsiDialect)
    assert(scrapersFor("mysql", "jdbc:mysql://h:3306/d").forall(_._2.startsWith("SELECT CONCAT(")))
    assert(scrapersFor("mysql", "jdbc:derby:/tmp/x").forall(_._2.contains(" || ")))
    // every prefixed scraper of every engine renders to the exact
    // per-dialect shape — the defs are the single source of truth
    for ((_, defs) <- scraperDefs; sd <- defs if sd.prefix.nonEmpty) {
      assert(renderScraper(sd, MySqlDialect) ==
        s"SELECT CONCAT('${sd.prefix}', LOWER(${sd.nameCol})) AS name, " +
          s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}")
      assert(renderScraper(sd, AnsiDialect) ==
        s"SELECT '${sd.prefix}' || LOWER(${sd.nameCol}) AS name, " +
          s"${sd.valCol} AS val, captured_sec AS ts_sec FROM ${sd.table}")
    }
  }

  // -------------------------------------------------- one-shot (Lambda)

  test("runOnce: one-shot artifacts equal one loop tick; a second invocation is incremental") {
    val base = java.nio.file.Files.createTempDirectory("graft_loop_once").toString
    val db = s"$base/src"
    mkDb(db, Seq(
      s"CREATE TABLE ${CollectorLoop.ScrapeTable} (name VARCHAR(64), val DOUBLE, ts_sec BIGINT)",
      s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 1.0, 100), ('threads', 7.0, 100)"))
    val secrets = Seq(secret("one.example.com", db))

    // arm A: one stream tick into workA; arm B: one runOnce into workB
    val workA = s"$base/workA"; val workB = s"$base/workB"
    import spark.implicits._
    val ticks = MemoryStream[Long]
    val q = CollectorLoop.stream(ticks.toDS(), () => secrets, workA)
      .option("checkpointLocation", s"$base/ckpt").start()
    try { ticks.addData(1L); q.processAllAvailable() } finally q.stop()
    val once1 = CollectorLoop.runOnce(spark, secrets, workB).collect()
    assert(once1.length == 1 && once1.head.getAs[Long]("n_new") == 2)

    def manifestKey(dir: String) = spark.read.parquet(s"$dir/manifest")
      .selectExpr("CAST(round AS BIGINT) AS round", "source_id", "engine",
        "status", "old_watermark", "new_watermark", "n_new")
      .collect().map(_.toString).sorted.toSeq
    assert(manifestKey(workA) == manifestKey(workB),
      "one runOnce publishes the same manifest as one stream tick")
    def bodyKey(dir: String) = spark.read.parquet(s"$dir/bodies")
      .selectExpr("CAST(round AS BIGINT)", "source_id", "metric_name", "n_series",
        "md5(CAST(body_snappy AS STRING))")
      .collect().map(_.toString).sorted.toSeq
    assert(bodyKey(workA) == bodyKey(workB),
      "one runOnce pushes byte-identical bodies to one stream tick")

    // the source grows; runOnce again on workB → round 2, incremental
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:$db", "u", "p")
    try {
      val st = c.createStatement()
      st.executeUpdate(s"INSERT INTO ${CollectorLoop.ScrapeTable} VALUES ('m_up', 2.0, 220)")
      st.close()
    } finally c.close()
    val once2 = CollectorLoop.runOnce(spark, secrets, workB).head()
    assert(once2.getAs[String]("status") == "kept")
    assert(once2.getAs[Long]("old_watermark") == 100,
      "second invocation resumes from the stored watermark")
    assert(once2.getAs[Long]("n_new") == 1, "only the post-round-1 row ships")
    assert(once2.getAs[Long]("new_watermark") == 220)
    val rounds = spark.read.parquet(s"$workB/manifest")
      .selectExpr("CAST(round AS BIGINT) AS r").collect().map(_.getLong(0)).sorted.toSeq
    assert(rounds == Seq(1L, 2L), "runOnce numbers rounds from the stored manifest")

    // third invocation with nothing new: watermark holds, zero rows
    val once3 = CollectorLoop.runOnce(spark, secrets, workB).head()
    assert(once3.getAs[Long]("n_new") == 0 && once3.getAs[Long]("new_watermark") == 220)
  }
}
