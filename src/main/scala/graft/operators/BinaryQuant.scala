package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 1-bit (sign) embedding quantization with a MEASURED recall budget —
  * the other standard quantization next to the shipped SQ8
  * (`ann_sq8_topk`): each 64-d vector compresses to two 32-bit sign
  * words (64× smaller than float32), candidate ranking is XOR+popcount
  * Hamming distance, and the audit scores the binary index's top-5
  * against the exact-cosine top-5 per query — the recall\@k number that
  * decides whether 64× cheaper scans are worth it.
  *
  * Two 32-bit words per vector, NOT one 64-bit word: bit 63 of a
  * single-word packing is the BIGINT sign bit, where the engines'
  * overflow behavior forks (Spark shiftleft wraps, DuckDB raises) —
  * the split keeps every intermediate comfortably positive in both.
  *
  * Scale: sign-packing is one projection; the 8-query probe broadcasts;
  * ranking windows partition by query. The packed table is 16 bytes a
  * vector — 4 billion vectors fit in 64 GB, the point of the exercise.
  */
object BinaryQuant {

  type Q = (SparkSession, String) => DataFrame

  /** Same probe set and depth as the rest of the ANN family — the
    * recall audit must score against the SAME truth convention
    * (Similarity.bruteForceTopK), so the constants are references,
    * not parallel definitions. */
  val NumQueries: Int = Similarity.NumQueries
  val K: Int = Similarity.TopK

  /** sign words over a double[] column `v`: bits j..j+31 (1-based list
    * index i = j+1). */
  private def wordExpr(lo: Int): String =
    s"""aggregate(sequence(0, 31), 0L,
          (acc, i) -> acc + CASE WHEN element_at(v, i + ${lo + 1}) > 0D
                                 THEN shiftleft(1L, i) ELSE 0L END)"""
  private def wordSql(col: String, lo: Int): String =
    s"""CAST(list_sum(list_transform(range(0, 32),
          i -> CASE WHEN $col[i + ${lo + 1}] > 0 THEN (1::BIGINT << i)
                    ELSE 0 END)) AS BIGINT)"""

  def binaryRecall: Q = (s, d) => {
    val packed = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("w0", expr(wordExpr(0)))
      .withColumn("w1", expr(wordExpr(32)))
      .withColumn("n2", expr("graft_norm2(v)"))
    val q = packed.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("w0").as("qw0"), col("w1").as("qw1"), col("n2").as("qn2"))
    val pairs = packed.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1"))))
      .withColumn("cos", expr("graft_dot(qv, v)") / (sqrt(col("qn2")) * sqrt(col("n2"))))
    val hamTop = pairs.withColumn("hrank", row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("vec_id"))).cast("long"))
      .filter(col("hrank") <= K)
    val cosTop = pairs.withColumn("crank", row_number().over(
      Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .filter(col("crank") <= K)
      .select(col("query_id"), col("vec_id"), lit(1).as("in_truth"))
    hamTop.join(cosTop, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        count(col("in_truth")).as("n_overlap"),
        min(col("hamming")).cast("long").as("best_hamming"),
        max(col("hamming")).cast("long").as("worst_top_hamming"))
  }

  val binaryRecallSql: String =
    s"""WITH packed AS (
         SELECT vec_id, embedding::DOUBLE[] AS v,
                ${wordSql("embedding", 0)} AS w0,
                ${wordSql("embedding", 32)} AS w1
         FROM embeddings),
       q AS (SELECT vec_id AS query_id, v AS qv, w0 AS qw0, w1 AS qw1
             FROM packed WHERE vec_id < $NumQueries),
       pairs AS (
         SELECT p.vec_id, q.query_id,
                bit_count(xor(p.w0, q.qw0)) + bit_count(xor(p.w1, q.qw1))
                  AS hamming,
                list_cosine_similarity(p.v, q.qv) AS cos
         FROM packed p JOIN q ON p.vec_id <> q.query_id),
       ham AS (
         SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY hamming, vec_id) AS hrank
         FROM pairs),
       cosr AS (
         SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, vec_id) AS crank
         FROM pairs)
       SELECT h.query_id, count(*) AS k,
              count(c.vec_id) AS n_overlap,
              CAST(min(h.hamming) AS BIGINT) AS best_hamming,
              CAST(max(h.hamming) AS BIGINT) AS worst_top_hamming
       FROM ham h LEFT JOIN cosr c
         ON h.query_id = c.query_id AND h.vec_id = c.vec_id AND c.crank <= $K
       WHERE h.hrank <= $K
       GROUP BY h.query_id ORDER BY h.query_id"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("ann_binary_quant_recall", binaryRecall, Some(binaryRecallSql)))
}
