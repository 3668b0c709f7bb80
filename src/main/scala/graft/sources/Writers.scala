package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-side surface: bucketed and partitioned parquet sinks, each
  * proven by reading its own output back through a query whose result
  * is oracle-checked against the ORIGINAL tables (the sink must be
  * lossless) and whose plan is shape-asserted in WritersSpec.
  *
  * - Bucketed tables are the co-located-join answer at 100 TB: both
  *   fact tables pre-hashed into the same bucket count on the join key
  *   → SortMergeJoin with ZERO Exchange (no shuffle at query time, for
  *   every future join on that key).
  * - Partitioned layout is the scan-pruning answer: a date filter
  *   touches only matching directories (`PartitionFilters` in the
  *   plan), the 100-TB equivalent of not reading 99 of 100 days.
  */
object Writers {

  type Q = (SparkSession, String) => DataFrame

  val Buckets = 8

  private[graft] def sfx(d: String): String =
    java.lang.Integer.toHexString(d.hashCode).takeRight(6)

  /** Idempotent re-create: drop the catalog entry AND its location —
    * a fresh session's in-memory catalog forgets the table while the
    * warehouse directory survives, which makes a bare overwrite fail
    * with LOCATION_ALREADY_EXISTS. */
  private def dropTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val dir = new java.io.File(wh, name)
    if (dir.exists()) {
      // recursive: a leftover _temporary subdir from a crashed write
      // would make a flat delete() silently fail → LOCATION_ALREADY_EXISTS
      rm(dir)
      require(!dir.exists(), s"failed to clean table location $dir")
    }
  }

  /** Delete a file or a directory tree, best effort. */
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  /** Bucketed sink + co-located join: orders and lineitem bucketed by
    * order key into the session warehouse, joined back bucket-to-bucket
    * (merge hint → SMJ; no Exchange: asserted in WritersSpec). Result
    * is checked against the unbucketed originals by the oracle. */
  def bucketedJoin: Q = (s, d) => {
    val ot = s"graft_ord_${sfx(d)}"
    val lt = s"graft_li_${sfx(d)}"
    dropTable(s, ot)
    dropTable(s, lt)
    // repartition on the bucket key with numPartitions == numBuckets:
    // HashPartitioning's partition id IS the bucket id, so each write
    // task holds exactly one bucket → Buckets output files instead of
    // (scan tasks × Buckets) small files (guide §6: aim for few,
    // well-sized files; the join read is bucket-parallel either way)
    Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
      .repartition(Buckets, col("o_orderkey"))
      .write.mode("overwrite")
      .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ot)
    Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      .repartition(Buckets, col("l_orderkey"))
      .write.mode("overwrite")
      .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(lt)
    s.table(lt).hint("merge")
      .join(s.table(ot).hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("l_extendedprice")), 2).as("total_price"))
  }

  val bucketedJoinSql: String =
    """SELECT o_orderstatus, count(*) AS n_lines,
              round(sum(l_extendedprice), 2) AS total_price
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Partitioned sink + pruned scan: events written partitionBy(date),
    * read back with a one-month filter that prunes to matching
    * directories (PartitionFilters: asserted in WritersSpec). */
  def partitionedScan: Q = (s, d) => {
    val path = s"/tmp/graft_events_part_${sfx(d)}"
    Tables.events(s, d)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(path)
    s.read.parquet(path)
      .filter(col("event_date") >= lit("2024-01-08") && col("event_date") < lit("2024-01-15"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
  }

  val partitionedScanSql: String =
    """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS value_sum
       FROM events
       WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'
       GROUP BY event_type ORDER BY event_type"""

  /** CSV sink round-trip: customer written as headered CSV, read back
    * with an explicit schema, aggregated — oracle runs the same query
    * on the parquet original, so the sink must be lossless (doubles
    * survive via round-trip-exact formatting). */
  def csvRoundtrip: Q = (s, d) => {
    val path = s"/tmp/graft_cust_csv_${sfx(d)}"
    val src = Tables.customer(s, d)
    src.write.mode("overwrite").option("header", "true").csv(path)
    s.read.option("header", "true").schema(src.schema).csv(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("bal_sum"))
  }

  val csvRoundtripSql: String =
    """SELECT c_mktsegment, count(*) AS n_cust, round(sum(c_acctbal), 2) AS bal_sum
       FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  /** JSON-lines sink round-trip: same contract for the json format. */
  def jsonRoundtrip: Q = (s, d) => {
    val path = s"/tmp/graft_supp_json_${sfx(d)}"
    val src = Tables.supplier(s, d)
    src.write.mode("overwrite").json(path)
    s.read.schema(src.schema).json(path)
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_supp"), round(sum(col("s_acctbal")), 2).as("bal_sum"))
  }

  val jsonRoundtripSql: String =
    """SELECT s_nationkey, count(*) AS n_supp, round(sum(s_acctbal), 2) AS bal_sum
       FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey"""

  /** Multi-column bucketed pipeline: lineitem bucketed by (l_partkey,
    * l_suppkey); the part-supplier rollup (partsupp analog) is computed
    * FROM the bucketed table — groupBy on exactly the bucket keys needs
    * no Exchange — and written back with the same bucketing, so the
    * final fact⋈rollup join is also Exchange-free (asserted in
    * WritersSpec). The composite-key version of the co-located-join
    * answer at 100 TB. */
  def bucketedMultiJoin: Q = (s, d) => {
    val lt = s"graft_li2_${sfx(d)}"
    val pt = s"graft_ps_${sfx(d)}"
    dropTable(s, lt)
    dropTable(s, pt)
    // same one-file-per-bucket discipline as bucketedJoin: partition id
    // == bucket id, so the fact write emits Buckets files, not
    // (scan tasks × Buckets)
    Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey", "l_returnflag", "l_quantity", "l_extendedprice")
      .repartition(Buckets, col("l_partkey"), col("l_suppkey"))
      .write.mode("overwrite")
      .bucketBy(Buckets, "l_partkey", "l_suppkey").sortBy("l_partkey", "l_suppkey")
      .saveAsTable(lt)
    s.table(lt)
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(sum(col("l_quantity")).as("t_qty"))
      .write.mode("overwrite")
      .bucketBy(Buckets, "ps_partkey", "ps_suppkey").sortBy("ps_partkey", "ps_suppkey")
      .saveAsTable(pt)
    s.table(lt).hint("merge")
      .join(s.table(pt).hint("merge"),
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"))
      .filter(col("t_qty") > 100)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("l_extendedprice")), 2).as("revenue"))
  }

  val bucketedMultiJoinSql: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS t_qty
                   FROM lineitem GROUP BY l_partkey, l_suppkey)
       SELECT l.l_returnflag, count(*) AS n_lines, round(sum(l.l_extendedprice), 2) AS revenue
       FROM lineitem l JOIN ps
         ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
       WHERE ps.t_qty > 100
       GROUP BY l.l_returnflag ORDER BY l.l_returnflag"""

  /** Small-file compaction: documents scattered into 64 tiny files
    * (the small-file problem a long-running ingest accumulates), then
    * compacted with a range repartition on doc_id — contiguous,
    * size-balanced output files whose min/max doc_id stats stay
    * prunable. Read back through the compacted layout; the aggregate
    * must match the original table (file counts asserted in
    * WritersSpec). */
  val CompactTargetFiles = 4

  /** Dynamic partition overwrite — the idempotent backfill sink: a
    * correction batch replaces ONLY the day-partitions it contains
    * (`partitionOverwriteMode=dynamic`), leaving every other partition
    * untouched — the 100 TB restatement pattern (re-run one bad day
    * without rewriting the table, and without the read-modify-write a
    * MERGE would cost). Here days 2–3 arrive restated with doubled
    * values; the read-back proves day 1/4/5 kept their original rows
    * while 2–3 carry only the correction. WritersSpec additionally
    * asserts the untouched partitions' files survived the second
    * write. */
  def partitionOverwrite: Q = (s, d) => {
    val dir = s"/tmp/graft_events_po_${sfx(d)}"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .filter(col("day") < lit("2024-01-06").cast("date"))
    ev.write.mode("overwrite").partitionBy("day").parquet(dir)
    val correction = ev
      .filter(col("day").between(lit("2024-01-02").cast("date"),
        lit("2024-01-03").cast("date")))
      .withColumn("v_c", col("v_c") * 2)
    correction.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("v_c")).as("cents_sum"))
  }

  val partitionOverwriteSql: String =
    """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
              CAST(SUM(CAST(floor(value * 100) AS BIGINT)
                       * CASE WHEN CAST(ts AS DATE) BETWEEN DATE '2024-01-02'
                                  AND DATE '2024-01-03' THEN 2 ELSE 1 END) AS BIGINT)
                AS cents_sum
       FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-06'
       GROUP BY 1 ORDER BY day"""

  def compactionScan: Q = (s, d) => {
    val small = s"/tmp/graft_docs_small_${sfx(d)}"
    val packed = s"/tmp/graft_docs_packed_${sfx(d)}"
    Tables.documents(s, d)
      .repartition(64)
      .write.mode("overwrite").parquet(small)
    s.read.parquet(small)
      .repartitionByRange(CompactTargetFiles, col("doc_id"))
      .write.mode("overwrite").parquet(packed)
    s.read.parquet(packed)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  val compactionScanSql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
       FROM documents GROUP BY lang ORDER BY lang"""

  /** Bit-interleave two columns already normalized to [0, 2^bits)
    * into a Morton z-value: consecutive z-ranges map to bounded
    * rectangles in (a, b) space. Normalization to EQUAL bit widths
    * matters — interleaving raw values whose significant widths differ
    * (8-bit custkey vs 12-bit day) degenerates to a sort on the wider
    * dimension's high bits. */
  def zvalue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 8): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))

  /** Z-order (Morton) multi-column layout: orders range-partitioned
    * and sorted by the interleaved (o_custkey, order-day) z-value, so
    * every output file — and every parquet row group inside it — covers
    * a bounded rectangle in BOTH dimensions. A 2-D box predicate
    * (customer range × date range) then skips files/row groups on
    * min/max stats in either dimension, where a single-column sort
    * leaves the second dimension unprunable (per-file spans asserted
    * against a linear layout in WritersSpec). Both dims are min/max
    * normalized to 8-bit grid cells before interleaving (the min/max
    * comes from one stats pass — at 100 TB, from table statistics).
    * Read back through the layout; the aggregate must match the raw
    * table (oracle). */
  def zorderScan: Q = (s, d) => {
    val path = s"/tmp/graft_orders_zorder_${sfx(d)}"
    val src = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
      .withColumn("day_nr", datediff(col("o_orderdate"), lit("1992-01-01")))
    val bounds = src.agg(
      min(col("o_custkey")).as("ck0"), max(col("o_custkey")).as("ck1"),
      min(col("day_nr")).as("d0"), max(col("day_nr")).as("d1"))
    src.crossJoin(broadcast(bounds))
      .withColumn("ckn", floor((col("o_custkey") - col("ck0")) * 256 /
        (col("ck1") - col("ck0") + 1)).cast("long"))
      .withColumn("dn", floor((col("day_nr") - col("d0")) * 256 /
        (col("d1") - col("d0") + 1)).cast("long"))
      .withColumn("z", zvalue(col("ckn"), col("dn")))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions(col("z"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path)
      .filter(col("o_custkey").between(40, 120) &&
        col("o_orderdate").between(lit("1995-01-01"), lit("1996-12-31")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  val zorderScanSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
              round(sum(o_totalprice), 2) AS total_price
       FROM orders
       WHERE o_custkey BETWEEN 40 AND 120
         AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Bucket-pruned point lookup — the index-style read a bucketed
    * layout buys beyond exchange-free joins: an equality predicate on
    * the bucket key scans ONLY the matching bucket
    * (`SelectedBucketsCount 1/8`, asserted in WritersSpec), i.e. 1/N
    * of the files, no shuffle, no full scan. At 100 TB this is the
    * "fetch one order's lines" OLTP-ish read served straight off the
    * analytic layout. Keys chosen deterministically (3 smallest order
    * keys with >2 lines at any SF); oracle = the same lookup on the
    * raw table. */
  /** Build the orderkey-bucketed lineitem table if this session hasn't
    * yet — the one-time layout cost that read-side entries must NOT
    * absorb into their timing. Bench calls this during untimed warmup
    * so `sink_bucket_lookup` measures the pruned read, not the build.
    * Its own table: no other entry rewrites it. */
  def ensureBucketedLineitem(s: SparkSession, d: String): String = {
    val lt = s"graft_li_lookup_${sfx(d)}"
    if (!s.catalog.tableExists(lt)) {
      dropTable(s, lt)
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
    }
    lt
  }

  /** Deterministic lookup keys for `sink_bucket_lookup` (3 smallest
    * order keys with >2 lines — the oracle recomputes the same rule).
    * Memoized per data dir: key selection is test scaffolding that
    * picks stable targets, not part of the lookup being measured.
    * Computed FROM the bucketed table — groupBy on the bucket key
    * needs no Exchange. */
  private val lookupKeys =
    new scala.collection.concurrent.TrieMap[String, Array[Long]]

  private def ensureLookupKeys(s: SparkSession, d: String): Array[Long] =
    lookupKeys.getOrElseUpdate(d, {
      val lt = ensureBucketedLineitem(s, d)
      s.table(lt).groupBy(col("l_orderkey")).count()
        .filter(col("count") > 2).orderBy(col("l_orderkey")).limit(3)
        .collect().map(_.getLong(0))
    })

  /** Untimed setup for read-side sink entries (currently just the
    * bucketed lineitem + lookup keys behind `sink_bucket_lookup`; the
    * other sink entries time their own writes by design — that cost is
    * the operator). */
  def prewarm(s: SparkSession, d: String): Unit = {
    ensureLookupKeys(s, d)
    ensureIdxProbeKeys(s, d)
    ()
  }

  def bucketLookup: Q = (s, d) => {
    val lt = ensureBucketedLineitem(s, d)
    val keys = ensureLookupKeys(s, d)
    s.table(lt)
      .filter(col("l_orderkey").isin(keys: _*))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("l_extendedprice")), 2).as("total_price"))
  }

  val bucketLookupSql: String =
    """WITH keys AS (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING count(*) > 2 ORDER BY l_orderkey LIMIT 3)
       SELECT l_orderkey, count(*) AS n_lines,
              round(sum(l_extendedprice), 2) AS total_price
       FROM lineitem WHERE l_orderkey IN (SELECT l_orderkey FROM keys)
       GROUP BY l_orderkey ORDER BY l_orderkey"""

  /** Partition count for the secondary-index fact layout: the fact is
    * directory-partitioned by `okb = l_orderkey % IdxParts`, the
    * coarse key-space bucketing the index resolves probes into. */
  val IdxParts = 32

  /** Build the secondary-index pair once per data dir:
    * - fact: lineitem partitioned by `okb` (the primary-key bucket a
    *   row lives in — at 100 TB, the file-group a row can be found in);
    * - index: DISTINCT (l_partkey → l_orderkey, okb) rows, bucketed by
    *   l_partkey so an index probe is itself a bucket-pruned read.
    * The index answers "which primary-key buckets contain value V"
    * without touching the fact — the value→key lookup table of a
    * classic secondary index, expressed as tables + DPP instead of a
    * storage-engine structure. */
  private val idxBuilt = new scala.collection.concurrent.TrieMap[String, (String, String)]

  def ensureSecondaryIndex(s: SparkSession, d: String): (String, String) =
    idxBuilt.getOrElseUpdate(d, {
      val factPath = s"/tmp/graft_li_byok_${sfx(d)}"
      val idxTable = s"graft_idx_${sfx(d)}"
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("okb", pmod(col("l_orderkey"), lit(IdxParts)).cast("int"))
        .write.mode("overwrite").partitionBy("okb").parquet(factPath)
      dropTable(s, idxTable)
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"),
          pmod(col("l_orderkey"), lit(IdxParts)).cast("int").as("okb"))
        .distinct()
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_partkey").sortBy("l_partkey")
        .saveAsTable(idxTable)
      (factPath, idxTable)
    })

  /** Deterministic probe values (3 smallest part keys with >5 lines;
    * the oracle recomputes the same rule) — scaffolding, memoized. */
  private val idxProbeKeys = new scala.collection.concurrent.TrieMap[String, Array[Long]]

  private def ensureIdxProbeKeys(s: SparkSession, d: String): Array[Long] =
    idxProbeKeys.getOrElseUpdate(d, {
      val (_, idxTable) = ensureSecondaryIndex(s, d)
      s.table(idxTable).groupBy(col("l_partkey")).count()
        .filter(col("count") > 5).orderBy(col("l_partkey")).limit(3)
        .collect().map(_.getLong(0))
    })

  /** Secondary-index join: answer a selective predicate on a NON-key
    * column without scanning the fact. The probe hits the index table
    * (bucket-pruned on l_partkey), and the broadcast join on the
    * fact's PARTITION column `okb` triggers Dynamic Partition Pruning
    * — the fact scan reads only the directories whose key-buckets the
    * index says contain the probed values (plan-asserted in
    * WritersSpec). At 100 TB: an index probe measured in KB decides
    * which of thousands of fact file-groups are read; every other
    * engine's secondary index does exactly this with pages instead of
    * partitions. l_partkey joins alongside (okb, l_orderkey) so
    * co-located orders of OTHER parts drop in the join, not in a
    * post-filter. */
  def secondaryIndexLookup: Q = (s, d) => {
    val (factPath, idxTable) = ensureSecondaryIndex(s, d)
    val keys = ensureIdxProbeKeys(s, d)
    val probe = s.table(idxTable).filter(col("l_partkey").isin(keys: _*))
    s.read.parquet(factPath)
      .join(broadcast(probe), Seq("okb", "l_orderkey", "l_partkey"))
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("total_price"))
  }

  val secondaryIndexLookupSql: String =
    """WITH keys AS (SELECT l_partkey FROM lineitem GROUP BY l_partkey
                     HAVING count(*) > 5 ORDER BY l_partkey LIMIT 3)
       SELECT l_partkey, count(*) AS n_lines,
              round(sum(l_extendedprice), 2) AS total_price
       FROM lineitem WHERE l_partkey IN (SELECT l_partkey FROM keys)
       GROUP BY l_partkey ORDER BY l_partkey"""

  /** Schema evolution across snapshots — the source capability every
    * long-lived dataset needs: an early snapshot written with the
    * original schema, a later one with an added metric column, read
    * back as ONE table via mergeSchema (old rows surface NULL for the
    * new column — no backfill, no rewrite). The aggregate proves the
    * union semantics: per-type counts/sums over both vintages plus
    * non-null counts isolating the new column to the new snapshot.
    * Oracle replicates the vintage split with a day predicate over the
    * original events. At 100 TB this is the additive-column evolution
    * contract: new files carry the new column, old files stay put,
    * readers see one schema. */
  def schemaEvolution: Q = (s, d) => {
    val path = s"/tmp/graft_evo_${sfx(d)}"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    ev.filter(dayofmonth(col("ts")) <= 15)
      .write.mode("overwrite").parquet(s"$path/v1")
    ev.filter(dayofmonth(col("ts")) > 15)
      .withColumn("value2", round(col("value") * 2, 2))
      .write.mode("overwrite").parquet(s"$path/v2")
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("value_sum"),
        count(col("value2")).as("n_v2"),
        round(sum(col("value2")), 2).as("value2_sum"))
  }

  val schemaEvolutionSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS value_sum,
              count(*) FILTER (WHERE day(ts) > 15) AS n_v2,
              round(sum(CASE WHEN day(ts) > 15 THEN round(value * 2, 2) END), 2) AS value2_sum
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** Merge-on-read with deletion vectors — the lakehouse delete path
    * (Delta/Iceberg MoR): deletes land as a small keyed tombstone file,
    * the base stays immutable, and the READ reconstructs current state
    * as base ANTI JOIN tombstones — no rewrite of base files at delete
    * time; compaction folds them in later. Tombstones here are every
    * third order (deterministic o_orderkey rule); the read-back
    * aggregate hash-matches an oracle that applies the same predicate
    * to the original table, proving base ∖ deletes ≡ filtered source.
    * At 100 TB the tombstone side broadcasts (deletes are ≪ base) and
    * the anti join costs one broadcast probe per row. */
  def mergeOnRead: Q = (s, d) => {
    val path = s"/tmp/graft_mor_${sfx(d)}"
    val src = Tables.orders(s, d)
    src.write.mode("overwrite").parquet(s"$path/base")
    src.filter(col("o_orderkey") % 3 === 0).select(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$path/deletes")
    val base = s.read.parquet(s"$path/base")
    val dels = s.read.parquet(s"$path/deletes")
    base.join(broadcast(dels), Seq("o_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_live"),
        round(sum(col("o_totalprice")), 2).as("live_total"))
  }

  val mergeOnReadSql: String =
    """SELECT o_orderstatus, count(*) AS n_live,
              round(sum(o_totalprice), 2) AS live_total
       FROM orders WHERE o_orderkey % 3 <> 0
       GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** Write–Audit–Publish (the staging discipline behind Iceberg's WAP
    * branch / the classic `_staging` + atomic-rename pattern): the
    * batch lands in a STAGING dir, an audit recomputes row count and
    * an order-independent content checksum (sum of 52-bit row hashes
    * in DECIMAL(38,0) — commutative, any partitioning yields the same
    * digest, the `pipeline_repro_ledger` idiom) from the STAGED files
    * and compares both against the same audit run on the source;
    * only a full match publishes through [[Publish.swap]], so readers
    * going through [[Publish.current]] see the old snapshot or the new
    * one, never a half-write or none; a failed rename reports
    * `published` = false. The
    * emitted ledger carries both audits and the publish verdict; the
    * oracle recomputes the source-side audit, so the hash also
    * certifies that staging round-trips bytes. */
  def writeAuditPublish: Q = (s, d) => {
    val root = s"/tmp/graft_wap_${sfx(d)}"
    val src = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val staging = s"$root/staging"
    src.write.mode("overwrite").parquet(staging)
    def audit(df: DataFrame, side: String) = df
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(conv(substring(md5(concat_ws(":",
          col("o_orderkey").cast("string"), col("o_custkey").cast("string"),
          col("cents").cast("string"))), 1, 13), 16, 10)
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("digest"))
      .select(lit(side).as("side"), col("n_rows"),
        col("digest").cast("string").as("digest"))
    val srcAudit = audit(src, "source")
    val stAudit = audit(s.read.parquet(staging), "staged")
    val verdict = srcAudit.select(col("n_rows").as("sn"), col("digest").as("sd"))
      .crossJoin(stAudit.select(col("n_rows").as("tn"), col("digest").as("td")))
      .select((col("sn") === col("tn") && col("sd") === col("td")).as("published"))
    // publish on a clean audit; a failed rename must not report
    // published=true over a stale or missing dir
    val auditOk = verdict.collect().head.getBoolean(0)
    val published = auditOk &&
      (try { Publish.swap(s, staging, s"$root/published", s"$root/retired"); true }
       catch { case _: java.io.IOException => false })
    // on a clean publish read back the published snapshot; on any failure
    // (bad audit OR failed rename) re-emit the staged audit with
    // published=false instead of reading a possibly nonexistent dir
    val thirdSide =
      if (published) audit(s.read.parquet(s"$root/published"), "published")
      else stAudit.select(lit("published").as("side"), col("n_rows"), col("digest"))
    srcAudit.unionByName(thirdSide)
      .withColumn("published", lit(published))
  }

  val writeAuditPublishSql: String =
    """WITH src AS (
         SELECT o_orderkey, o_custkey,
                CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
         FROM orders WHERE o_orderstatus = 'F'),
       a AS (
         SELECT count(*) AS n_rows,
                CAST(COALESCE(sum(CAST(('0x' || substr(md5(
                  CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)
                    || ':' || CAST(cents AS VARCHAR)), 1, 13))::BIGINT AS HUGEINT)), 0)
                  AS VARCHAR) AS digest
         FROM src)
       SELECT side, n_rows, digest, true AS published FROM (
         SELECT 'source' AS side, n_rows, digest FROM a
         UNION ALL SELECT 'published', n_rows, digest FROM a) t
       ORDER BY side"""

  /** Partition-skew audit of the layout `sink_partitioned_scan`'s
    * writer produces (partitionBy(source)) — the pre-write planning
    * read that decides whether a 100 TB write needs salting or AQE
    * coalescing BEFORE paying for it: per partition rows and bytes
    * (the text payload is what lands in parquet), 1e6-grid share, the
    * skew ratio vs the mean partition, and the Gini coefficient of
    * partition byte sizes appended on every row (exact trapezoid form
    * G = (2·Σᵢ i·wᵢ − (n+1)·Σwᵢ)·1e6 div (n·Σwᵢ) over size-ranked
    * partitions — pure integers; the q_gini_revenue arithmetic on the
    * |partitions|-row aggregate). */
  def partitionSkew: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val per = graft.sources.Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(octet_length(col("text")).cast("long")).as("bytes"))
    val wRank = Window.orderBy(col("bytes"), col("source"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("i", row_number().over(wRank).cast("long"))
      .withColumn("n_parts", count(lit(1)).over(wAll))
      .withColumn("tot_bytes", sum(col("bytes")).over(wAll))
      .withColumn("share_x1e6",
        expr("cast(cast(bytes as decimal(38,0)) * 1000000 div tot_bytes as bigint)"))
      .withColumn("skew_x100",
        expr("cast(cast(bytes as decimal(38,0)) * n_parts * 100 div tot_bytes as bigint)"))
      .withColumn("gini_x1e6", expr(
        """cast((2 * sum(cast(i as decimal(38,0)) * bytes) over ()
             - (n_parts + 1) * cast(tot_bytes as decimal(38,0)) )
           * 1000000 div (cast(n_parts as decimal(38,0)) * tot_bytes) as bigint)"""))
      .select(col("source"), col("n_rows"), col("bytes"), col("share_x1e6"),
        col("skew_x100"), col("gini_x1e6"))
  }

  val partitionSkewSql: String =
    """WITH per AS (
         SELECT source, count(*) AS n_rows,
                CAST(sum(strlen(text)) AS BIGINT) AS bytes
         FROM documents GROUP BY source),
       r AS (
         SELECT *, CAST(row_number() OVER (ORDER BY bytes, source) AS BIGINT) AS i,
                count(*) OVER () AS n_parts,
                CAST(sum(bytes) OVER () AS BIGINT) AS tot_bytes
         FROM per)
       SELECT source, n_rows, bytes,
              CAST(CAST(bytes AS HUGEINT) * 1000000 // tot_bytes AS BIGINT)
                AS share_x1e6,
              CAST(CAST(bytes AS HUGEINT) * n_parts * 100 // tot_bytes AS BIGINT)
                AS skew_x100,
              CAST((2 * sum(CAST(i AS HUGEINT) * bytes) OVER ()
                    - (n_parts + 1) * CAST(tot_bytes AS HUGEINT))
                * 1000000 // (CAST(n_parts AS HUGEINT) * tot_bytes) AS BIGINT)
                AS gini_x1e6
       FROM r ORDER BY source"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("sink_partition_skew", partitionSkew, Some(partitionSkewSql)),
    ("sink_write_audit_publish", writeAuditPublish, Some(writeAuditPublishSql)),
    ("sink_merge_on_read", mergeOnRead, Some(mergeOnReadSql)),
    ("source_schema_evolution", schemaEvolution, Some(schemaEvolutionSql)),
    ("sink_bucket_lookup", bucketLookup, Some(bucketLookupSql)),
    ("idx_secondary_lookup", secondaryIndexLookup, Some(secondaryIndexLookupSql)),
    ("sink_zorder_scan", zorderScan, Some(zorderScanSql)),
    ("sink_bucketed_join", bucketedJoin, Some(bucketedJoinSql)),
    ("sink_bucketed_multi", bucketedMultiJoin, Some(bucketedMultiJoinSql)),
    ("sink_partitioned_scan", partitionedScan, Some(partitionedScanSql)),
    ("sink_compaction_scan", compactionScan, Some(compactionScanSql)),
    ("sink_partition_overwrite", partitionOverwrite, Some(partitionOverwriteSql)),
    ("sink_csv_roundtrip", csvRoundtrip, Some(csvRoundtripSql)),
    ("sink_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql)))
}
