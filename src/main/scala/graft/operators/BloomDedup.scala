package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-filter dedup PREFILTER with a measured error budget — the
  * at-scale pattern where a compact bit set built from the base corpus
  * screens a candidate batch before the expensive exact/fuzzy pass
  * (`bloom_join_prune` applies the same idea to join pruning; this
  * entry applies it to cross-corpus dedup and MEASURES the false-
  * positive cost instead of assuming it). Base = sources src0..src9,
  * candidates = src10..src19, key = the first-4-token content prefix.
  *
  * The filter is m=2048 bits, k=3 positions per key, each position an
  * independent md5 substring reduced mod m (the suite's engine-portable
  * md5 idiom). A candidate is bloom-positive iff ALL k of its positions
  * are set. Per candidate source: bloom positives vs exact key matches
  * — the difference is the measured false-positive count, and the spec
  * pins the no-false-NEGATIVE guarantee (every exact match must be
  * bloom-positive).
  *
  * Scale design (100 TB): the bit set is |base-distinct-keys|·k
  * positions at most (2048 rows here, ≤m always after distinct) — a
  * broadcast at any corpus size by construction, because the position
  * table cannot exceed m rows. The candidate side is one projection +
  * one broadcast probe; the exact-match check is a key-distinct
  * broadcast too.
  */
object BloomDedup {

  type Q = (SparkSession, String) => DataFrame

  private val M = 2048
  private val K = 3

  /** first-4-token content key */
  private val keyExpr =
    s"array_join(slice(${TextAnalysis.toksExpr}, 1, 4), ' ')"
  private val keySql =
    s"array_to_string((${TextAnalysis.toksSqlExpr})[1:4], ' ')"

  def bloomPrefilter: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), expr(keyExpr).as("key"),
        expr("cast(substr(source, 4, 10) as int)").as("src_num"))
    val positions = (0 until K).map(i =>
      expr(s"cast(conv(substr(md5(key), ${i * 8 + 1}, 8), 16, 10) as bigint) % $M")
        .as(s"p$i"))
    val base = docs.filter(col("src_num") < 10)
    val cand = docs.filter(col("src_num") >= 10)
    val bits = base.select(explode(array(positions: _*)).as("pos")).distinct()
    val baseKeys = base.select(col("key")).distinct()
    val candPos = cand.select((col("doc_id") +: col("source") +: col("key") +: positions): _*)
      .select(col("doc_id"), col("source"), col("key"),
        explode(array(col("p0"), col("p1"), col("p2"))).as("pos"))
    val probed = candPos
      .join(broadcast(bits.withColumn("hit", lit(1))), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("source"), col("key"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("bloom_pos", col("n_hits") === K)
    val withExact = probed
      .join(broadcast(baseKeys.withColumn("exact", lit(1))), Seq("key"), "left")
    withExact.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("bloom_pos"), 1)).as("n_bloom_pos"),
        count(when(col("exact") === 1, 1)).as("n_true_dup"),
        count(when(col("bloom_pos") && col("exact").isNull, 1)).as("n_false_pos"))
  }

  val bloomPrefilterSql: String =
    s"""WITH docs AS (
         SELECT doc_id, source, $keySql AS key,
                CAST(substr(source, 4, 10) AS INT) AS src_num
         FROM documents),
       base AS (SELECT * FROM docs WHERE src_num < 10),
       cand AS (SELECT * FROM docs WHERE src_num >= 10),
       bits AS (
         SELECT DISTINCT unnest([
           ('0x' || substr(md5(key), 1, 8))::BIGINT % $M,
           ('0x' || substr(md5(key), 9, 8))::BIGINT % $M,
           ('0x' || substr(md5(key), 17, 8))::BIGINT % $M]) AS pos
         FROM base),
       base_keys AS (SELECT DISTINCT key FROM base),
       cand_pos AS (
         SELECT doc_id, source, key, unnest([
           ('0x' || substr(md5(key), 1, 8))::BIGINT % $M,
           ('0x' || substr(md5(key), 9, 8))::BIGINT % $M,
           ('0x' || substr(md5(key), 17, 8))::BIGINT % $M]) AS pos
         FROM cand),
       probed AS (
         SELECT c.doc_id, c.source, c.key,
                CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hits
         FROM cand_pos c LEFT JOIN bits b USING (pos)
         GROUP BY 1, 2, 3),
       flagged AS (
         SELECT p.source, p.n_hits = $K AS bloom_pos,
                (k.key IS NOT NULL) AS exact
         FROM probed p LEFT JOIN base_keys k USING (key))
       SELECT source, count(*) AS n_docs,
              count(*) FILTER (WHERE bloom_pos) AS n_bloom_pos,
              count(*) FILTER (WHERE exact) AS n_true_dup,
              count(*) FILTER (WHERE bloom_pos AND NOT exact) AS n_false_pos
       FROM flagged GROUP BY source ORDER BY source"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("dedup_bloom_prefilter", bloomPrefilter, Some(bloomPrefilterSql)))
}
