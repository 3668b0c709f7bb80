package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-run preparation transforms from the published LLM-data
  * playbook, beyond the shipped mixing/packing families:
  *
  *   - `mix_doremi_step` — one DoReMi reweighting step (Xie et al.
  *     2023): domain weights move as wᵢ' ∝ wᵢ·exp(η·excess-lossᵢ) from
  *     a uniform prior. The loss proxy is each domain's exact mean
  *     char count; the exp argument is span-normalized to [0,1]. The
  *     exponential is evaluated as the FIXED-PRECISION approximant
  *     1 + x + x²/2 + x³/6 — basic IEEE ops only, bit-identical in
  *     both engines (a native exp would be libm-vs-JVM and only
  *     ulp-accurate: flooring to an exact integer column could fork at
  *     a grid boundary; the approximant keeps DoReMi's monotone
  *     positive multiplicative update and removes the transcendental
  *     from the output path entirely). Each term floors to the 1e-6
  *     grid BEFORE the cross-domain sum (the q_cramers_v discipline —
  *     the total is an exact integer, no float-order hazard).
  *   - `pack_fim_transform` — fill-in-the-middle splits (Bavarian et
  *     al. 2022): a deterministic md5 gate FIM-transforms half the
  *     docs; two md5-derived cut points split each into
  *     prefix/middle/suffix (PSM layout); per-source token accounting
  *     proves the split loses nothing.
  *
  * Scale: doremi is two aggregations (corpus → |domains| → one-row
  * bounds broadcast); FIM is one projection + one aggregation — cut
  * points are hash arithmetic, never a second scan.
  */
object TrainPrep {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------ DoReMi step

  def doremiStep: Q = (s, d) => {
    val dom = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("loss", expr("sum_chars div n_docs"))
    val bounds = dom.agg(min(col("loss")).as("lo"), max(col("loss")).as("hi"))
    val terms = dom.crossJoin(broadcast(bounds))
      .withColumn("x",
        when(col("hi") === col("lo"), lit(0.0))
          .otherwise((col("loss") - col("lo")).cast("double") /
            (col("hi") - col("lo")).cast("double")))
      .withColumn("term_u",
        floor((lit(1.0) + col("x") + col("x") * col("x") / 2.0
          + col("x") * col("x") * col("x") / 6.0) * 1e6).cast("long"))
    val total = terms.agg(sum(col("term_u")).as("sum_u"))
    terms.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("loss"), col("term_u"),
        expr("term_u * 1000000 div sum_u").as("w_new_x1e6"))
  }

  val doremiStepSql: String =
    """WITH dom AS (
         SELECT source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) // count(*) AS loss
         FROM documents GROUP BY 1),
       bounds AS (SELECT min(loss) AS lo, max(loss) AS hi FROM dom),
       xs AS (
         SELECT source, n_docs, loss,
                CASE WHEN hi = lo THEN 0.0
                     ELSE CAST(loss - lo AS DOUBLE)
                          / CAST(hi - lo AS DOUBLE) END AS x
         FROM dom, bounds),
       terms AS (
         SELECT source, n_docs, loss,
                CAST(floor((1.0 + x + x * x / 2.0 + x * x * x / 6.0) * 1e6)
                     AS BIGINT) AS term_u
         FROM xs),
       total AS (SELECT CAST(sum(term_u) AS BIGINT) AS sum_u FROM terms)
       SELECT source, n_docs, loss, term_u,
              term_u * 1000000 // sum_u AS w_new_x1e6
       FROM terms, total ORDER BY source"""

  // ------------------------------------------------ FIM transform

  def fimTransform: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        expr(s"size(${TextAnalysis.toksExpr})").cast("long").as("n_tok"))
      .withColumn("h", md5(col("doc_id").cast("string")))
      .withColumn("fim",
        expr("cast(conv(substr(h, 1, 4), 16, 10) as bigint) % 2 = 0") &&
          col("n_tok") >= 2)
      .withColumn("c1",
        when(col("fim"),
          lit(1L) + expr("cast(conv(substr(h, 5, 8), 16, 10) as bigint)") % (col("n_tok") - 1)))
      .withColumn("c2",
        when(col("fim"),
          col("c1") + expr("cast(conv(substr(h, 13, 8), 16, 10) as bigint)") % (col("n_tok") - col("c1") + 1)))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("fim"), 1)).as("n_fim"),
        coalesce(sum(when(col("fim"), col("c1"))), lit(0L)).as("prefix_tokens"),
        coalesce(sum(when(col("fim"), col("c2") - col("c1"))), lit(0L)).as("middle_tokens"),
        coalesce(sum(when(col("fim"), col("n_tok") - col("c2"))), lit(0L)).as("suffix_tokens"),
        coalesce(sum(when(col("fim"), col("n_tok"))), lit(0L)).as("fim_tokens"))
  }

  val fimTransformSql: String = {
    val toks = TextAnalysis.toksSqlExpr
    s"""WITH docs AS (
         SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tok,
                md5(CAST(doc_id AS VARCHAR)) AS h
         FROM documents),
       cut1 AS (
         SELECT source, n_tok, h,
                (('0x' || substr(h, 1, 4))::BIGINT % 2 = 0 AND n_tok >= 2)
                  AS fim,
                CASE WHEN ('0x' || substr(h, 1, 4))::BIGINT % 2 = 0
                      AND n_tok >= 2
                     THEN 1 + ('0x' || substr(h, 5, 8))::BIGINT % (n_tok - 1)
                END AS c1
         FROM docs),
       cut2 AS (
         SELECT *,
                CASE WHEN fim THEN
                  c1 + ('0x' || substr(h, 13, 8))::BIGINT % (n_tok - c1 + 1)
                END AS c2
         FROM cut1)
       SELECT source, count(*) AS n_docs,
              count(*) FILTER (WHERE fim) AS n_fim,
              CAST(coalesce(sum(c1) FILTER (WHERE fim), 0) AS BIGINT)
                AS prefix_tokens,
              CAST(coalesce(sum(c2 - c1) FILTER (WHERE fim), 0) AS BIGINT)
                AS middle_tokens,
              CAST(coalesce(sum(n_tok - c2) FILTER (WHERE fim), 0) AS BIGINT)
                AS suffix_tokens,
              CAST(coalesce(sum(n_tok) FILTER (WHERE fim), 0) AS BIGINT)
                AS fim_tokens
       FROM cut2 GROUP BY source ORDER BY source"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("mix_doremi_step", doremiStep, Some(doremiStepSql)),
    ("pack_fim_transform", fimTransform, Some(fimTransformSql)))
}
