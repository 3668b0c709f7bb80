package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan-reduction operators: ship less into the shuffle.
  *
  * At 100 TB the dominant cost of a selective fact⋈dim join is
  * shuffling fact rows that the dim side will discard. The fix is a
  * semi-join reduction: build a compact membership sketch of the dim
  * keys, broadcast it, and drop non-members BEFORE the exchange —
  * Spark's own runtime row-level filters do exactly this when
  * statistics trigger them; `bloomJoinPrune` makes the plan explicit
  * and deterministic.
  */
object Prune {

  type Q = (SparkSession, String) => DataFrame

  /** Bloom-filter semi-join reduction: urgent high-value orders (the
    * small side) → Bloom filter over their keys → fact rows filtered
    * map-side before the join shuffle. False positives only cost a
    * few extra shuffled rows — the exact join after the filter keeps
    * the result identical to the plain join (that plain join IS the
    * oracle). The filter is built by Spark's own `bloom_filter_agg`
    * as a scalar subquery and probed by the native runtime-filter
    * expression (`graft_might_contain` = BloomFilterMightContain):
    * everything stays inside one job and whole-stage codegen — no
    * driver-side count/collect, no UDF boxing on the fact scan. At
    * 1000 executors the 1 MiB sketch rides the subquery broadcast,
    * and the shuffle carries ~|matching lineitem| instead of
    * |lineitem|. */
  def bloomJoinPrune: Q = (s, d) => {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000)
      .select(col("o_orderkey"), col("o_orderdate"))
    // 2^20 capacity / 2^23 bits = 8 bits/key (~2% fpp at capacity);
    // oversubscription degrades fpp, never correctness.
    val bf = dim
      .agg(expr("graft_bloom_agg(xxhash64(o_orderkey), 1048576L, 8388608L)").as("bf"))
      .scalar()
    val pruned = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .filter(call_function("graft_might_contain", bf, xxhash64(col("l_orderkey"))))
    pruned.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  val bloomJoinPruneSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n_lines,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
       GROUP BY 1 ORDER BY o_year"""

  /** Set-operator cohorting: customers who ordered in 1995 EXCEPT
    * 1996 (churned) vs INTERSECT (retained), counted per market
    * segment. INTERSECT/EXCEPT plan as hash aggregations + joins —
    * each input is a distinct key set, so the exchanges carry
    * |distinct customers|, not |orders|. */
  def setOps: Q = (s, d) => {
    val byYear = Tables.orders(s, d)
      .select(col("o_custkey"), year(col("o_orderdate")).as("y"))
    val y95 = byYear.filter(col("y") === 1995).select("o_custkey").distinct()
    val y96 = byYear.filter(col("y") === 1996).select("o_custkey").distinct()
    val cohorts = y95.except(y96).withColumn("cohort", lit("churned"))
      .unionByName(y95.intersect(y96).withColumn("cohort", lit("retained")))
    cohorts
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("cohort"), col("c_mktsegment"))
      .agg(count(lit(1)).as("customers"))
  }

  val setOpsSql: String =
    """WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
            y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
            u AS (
              SELECT 'churned' AS cohort, o_custkey
              FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
              UNION ALL
              SELECT 'retained' AS cohort, o_custkey
              FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96))
       SELECT cohort, c_mktsegment, count(*) AS customers
       FROM u JOIN customer ON o_custkey = c_custkey
       GROUP BY 1, 2 ORDER BY cohort, c_mktsegment"""

  val PruneFiles = 64L

  /** Zone-map / manifest file-skipping ledger (the Iceberg/Delta/
    * parquet-footer pruning arithmetic, relationally): assign each
    * order to a synthetic data file under two layouts — content-HASH
    * placement (the anti-pattern: every file spans the full date
    * range) vs date-CLUSTERED placement (30-day file windows, what a
    * time-partitioned or Z-ordered writer produces) — build each
    * layout's manifest (per-file min/max/rowcount), and replay a
    * 30-day predicate against the manifests: files whose [min,max]
    * misses the range are skipped without being opened. Emits per
    * layout the file/row scan shares and the read amplification
    * (rows opened per matching row) — the number that justifies
    * clustering at 100 TB, where the clustered layout reads ~1/12 of
    * what hash placement reads for the same query. Two bounded
    * aggregations + a 1-row predicate broadcast; the manifest is
    * |files| rows, exactly like the real thing. */
  def manifestPrune: Q = (s, d) => {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      unix_timestamp(col("o_orderdate")).as("sec"))
    val pred = o.agg(min(col("sec")).as("t0"))
      .select((col("t0") + 180L * 86400L).as("lo"),
        (col("t0") + 210L * 86400L).as("hi"))
    val placed = o.select(col("sec"),
      (conv(substring(md5(concat(lit("file:"), col("o_orderkey").cast("string"))), 1, 4),
        16, 10).cast("long") % PruneFiles).as("file_hash"),
      expr("sec div 86400 div 30").as("file_clustered"))
    def ledger(layout: String, fileCol: String) = {
      val manifest = placed.crossJoin(broadcast(pred))
        .groupBy(col(fileCol).as("file_id"))
        .agg(count(lit(1)).as("n_rows"), min(col("sec")).as("mn"),
          max(col("sec")).as("mx"),
          sum(when(col("sec") >= col("lo") && col("sec") < col("hi"), 1L)
            .otherwise(0L)).as("n_match"),
          min(col("lo")).as("lo"), min(col("hi")).as("hi"))
      manifest.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("mn") < col("hi") && col("mx") >= col("lo"), 1L).otherwise(0L))
          .as("files_scanned"),
        sum(col("n_rows")).as("rows_total"),
        sum(when(col("mn") < col("hi") && col("mx") >= col("lo"), col("n_rows"))
          .otherwise(0L)).as("rows_scanned"),
        sum(col("n_match")).as("rows_matched"))
        .select(lit(layout).as("layout"), col("n_files"), col("files_scanned"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          (floor(col("rows_scanned").cast("double") / col("rows_total").cast("double")
            * 1e4) / 1e4).as("scan_share"),
          when(col("rows_matched") > 0,
            floor(col("rows_scanned").cast("double") / col("rows_matched").cast("double")
              * 1e4) / 1e4).as("read_amplification"))
    }
    ledger("clustered", "file_clustered").unionByName(ledger("hash", "file_hash"))
  }

  val manifestPruneSql: String = {
    def arm(layout: String, fileExpr: String) =
      s"""SELECT '$layout' AS layout, count(*) AS n_files,
                 CAST(sum(CASE WHEN mn < hi AND mx >= lo THEN 1 ELSE 0 END) AS BIGINT)
                   AS files_scanned,
                 CAST(sum(n_rows) AS BIGINT) AS rows_total,
                 CAST(sum(CASE WHEN mn < hi AND mx >= lo THEN n_rows ELSE 0 END)
                   AS BIGINT) AS rows_scanned,
                 CAST(sum(n_match) AS BIGINT) AS rows_matched,
                 floor(CAST(sum(CASE WHEN mn < hi AND mx >= lo THEN n_rows ELSE 0 END)
                         AS DOUBLE) / CAST(sum(n_rows) AS DOUBLE) * 1e4) / 1e4
                   AS scan_share,
                 CASE WHEN sum(n_match) > 0 THEN
                   floor(CAST(sum(CASE WHEN mn < hi AND mx >= lo THEN n_rows ELSE 0 END)
                           AS DOUBLE) / CAST(sum(n_match) AS DOUBLE) * 1e4) / 1e4
                 END AS read_amplification
          FROM (
            SELECT $fileExpr AS file_id, count(*) AS n_rows, min(sec) AS mn,
                   max(sec) AS mx,
                   CAST(sum(CASE WHEN sec >= lo AND sec < hi THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_match,
                   min(lo) AS lo, min(hi) AS hi
            FROM placed GROUP BY 1) m"""
    s"""WITH o AS (
          SELECT o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS sec FROM orders),
        pred AS (
          SELECT min(sec) + 180 * 86400 AS lo, min(sec) + 210 * 86400 AS hi FROM o),
        placed AS (
          SELECT sec,
                 ('0x' || substr(md5('file:' || CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
                   % $PruneFiles AS file_hash,
                 sec // 86400 // 30 AS file_clustered,
                 lo, hi
          FROM o, pred)
        ${arm("clustered", "file_clustered")}
        UNION ALL
        ${arm("hash", "file_hash")}
        ORDER BY layout"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("sink_manifest_prune", manifestPrune, Some(manifestPruneSql)),
    ("bloom_join_prune", bloomJoinPrune, Some(bloomJoinPruneSql)),
    ("q_set_ops", setOps, Some(setOpsSql))
  )
}
