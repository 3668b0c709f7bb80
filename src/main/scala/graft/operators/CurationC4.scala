package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C4-style line-level deduplication (Raffel et al. 2020: any three-
  * sentence span occurring more than once in the corpus is kept ONCE,
  * at its first occurrence, and removed everywhere else). The corpus
  * has no sentence punctuation, so the "line" unit is the same
  * 10-token segment grid dedup_boilerplate uses — but the semantics
  * differ: boilerplate drops every copy of a frequent segment, C4 keeps
  * exactly the first occurrence in (doc_id, position) order and drops
  * the rest.
  *
  * Scale design (100 TB): one explode to the segment grain, one
  * aggregate per distinct segment (the keeper key is a single min of
  * an integer position key — no sort of the occurrence lists), one
  * join back on the segment hash. Identical shape to the shipped
  * boilerplate/minhash pipelines, which hold their ratio at the 10×
  * probe.
  */
object CurationC4 {

  type Q = (SparkSession, String) => DataFrame

  private val Seg = 10
  /** Position key: doc_id·10⁶ + seg_idx. seg_idx < 10⁶ ⇔ docs under
    * 10M tokens — beyond that the key would bleed into the next
    * doc_id's key space and keep-first could pick a keeper from the
    * WRONG document, so the key expression fails loudly instead of
    * mis-keying (the embPcaPower guard discipline; TsdbAlertSpec
    * drives the guard expression over and under the bound). Past the
    * bound, switch the key to a (doc_id, seg_idx) struct min. */
  val KeyBase = 1000000L

  /** Guarded position key over columns (doc_id, seg_idx). */
  val posKeyExpr: String =
    s"""CASE WHEN seg_idx >= ${KeyBase}L THEN
          raise_error(concat('text_line_dedup: seg_idx ', CAST(seg_idx AS STRING),
            ' >= KeyBase $KeyBase - switch the keeper key to a (doc_id, seg_idx) struct'))
        ELSE doc_id * ${KeyBase}L + seg_idx END"""

  def lineDedup: Q = (s, d) => {
    val toks = TextAnalysis.toksExpr
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), expr(toks).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        posexplode(expr(
          s"""CASE WHEN size(toks) >= $Seg
                THEN transform(sequence(0, size(toks) DIV $Seg - 1),
                               i -> array_join(slice(toks, i * $Seg + 1, $Seg), ' '))
                ELSE array() END""")))
      .withColumnRenamed("pos", "seg_idx").withColumnRenamed("col", "seg")
      .withColumn("pos_key", expr(posKeyExpr))
    val keeper = segs.groupBy(col("seg"))
      .agg(min(col("pos_key")).as("keeper_key"))
    segs.join(keeper, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_segments"),
        count(when(col("pos_key") =!= col("keeper_key"), 1)).as("n_removed"))
      .withColumn("kept_tokens", col("n_tokens") - col("n_removed") * Seg)
  }

  /** Order-free body (composable as a CTE); the entry's oracle adds
    * the presentation sort, consumers like dedupMixShift use the body
    * directly — no string surgery on ORDER BY anywhere. */
  val lineDedupBodySql: String = {
    val toksSql = TextAnalysis.toksSqlExpr
    s"""WITH segs AS (
          SELECT doc_id, len(toks) AS n_tokens,
                 unnest(range(0, len(toks) // $Seg)) AS seg_idx,
                 unnest(list_transform(range(0, len(toks) // $Seg),
                   i -> array_to_string(toks[i * $Seg + 1 : i * $Seg + $Seg], ' ')))
                   AS seg
          FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
        pk AS (
          -- the Spark posKeyExpr guard, mirrored: past KeyBase the key
          -- would bleed into the next doc_id's space and keep-first
          -- could mis-key, so BOTH engines fail loudly instead — safe
          -- for standalone reuse of this body (dedupMixShift does)
          SELECT doc_id, n_tokens, seg,
                 CASE WHEN seg_idx >= $KeyBase THEN
                        error('text_line_dedup: seg_idx ' || CAST(seg_idx AS VARCHAR)
                          || ' >= KeyBase $KeyBase - switch the keeper key to a (doc_id, seg_idx) struct')
                      ELSE doc_id * $KeyBase + seg_idx END AS pos_key
          FROM segs),
        keeper AS (SELECT seg, min(pos_key) AS keeper_key FROM pk GROUP BY seg)
        SELECT p.doc_id, CAST(max(p.n_tokens) AS INT) AS n_tokens,
               count(*) AS n_segments,
               count(*) FILTER (WHERE p.pos_key <> k.keeper_key) AS n_removed,
               CAST(max(p.n_tokens) AS INT)
                 - count(*) FILTER (WHERE p.pos_key <> k.keeper_key) * $Seg
                 AS kept_tokens
        FROM pk p JOIN keeper k USING (seg)
        GROUP BY p.doc_id"""
  }

  val lineDedupSql: String = s"$lineDedupBodySql ORDER BY doc_id"

  // ------------------------------------------------ mix shift

  /** What line-dedup does to the DOMAIN MIX — the question a data lead
    * actually asks after any dedup pass ("which sources lose share?"):
    * per source, total tokens before vs kept after the keep-first pass,
    * and the corpus-share movement on the exact 1e6 grid. Sources whose
    * content repeats across the corpus (boilerplate-heavy domains) lose
    * share; pristine sources gain it without changing a byte. Reuses
    * the lineDedup frame joined back to the source label — a plain
    * equi-join on doc_id (BOTH sides are |docs|-sized, so a forced
    * broadcast would ship the corpus to every executor for nothing;
    * the only broadcast here is the one-row totals). */
  def dedupMixShift: Q = (s, d) => {
    val perDoc = lineDedup(s, d)
    val withSrc = perDoc.join(
      Tables.documents(s, d).select(col("doc_id"), col("source")),
      Seq("doc_id"))
    val perSrc = withSrc.groupBy(col("source"))
      .agg(sum(col("n_tokens").cast("long")).as("orig_tokens"),
        sum(col("kept_tokens")).as("kept_tokens"))
    val totals = perSrc.agg(sum(col("orig_tokens")).as("tot_orig"),
      sum(col("kept_tokens")).as("tot_kept"))
    // share cross-multiplication in decimal(38,0) (DuckDB: HUGEINT):
    // a source past ~9.2e12 tokens — plausible at the 100 TB design
    // point — would wrap the plain-BIGINT ×1e6 silently on Spark where
    // DuckDB raises (the model_calibration widening discipline)
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("orig_tokens"), col("kept_tokens"),
        expr("cast(cast(orig_tokens as decimal(38,0)) * 1000000 div tot_orig as bigint)")
          .as("share_before_x1e6"),
        expr("cast(cast(kept_tokens as decimal(38,0)) * 1000000 div tot_kept as bigint)")
          .as("share_after_x1e6"),
        (expr("cast(cast(kept_tokens as decimal(38,0)) * 1000000 div tot_kept as bigint)")
          - expr("cast(cast(orig_tokens as decimal(38,0)) * 1000000 div tot_orig as bigint)"))
          .as("shift_x1e6"))
  }

  val dedupMixShiftSql: String =
    s"""WITH perdoc AS ($lineDedupBodySql),
       src AS (
         SELECT p.*, d.source
         FROM perdoc p JOIN documents d USING (doc_id)),
       persrc AS (
         SELECT source,
                CAST(sum(n_tokens) AS BIGINT) AS orig_tokens,
                CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens
         FROM src GROUP BY 1),
       totals AS (
         SELECT sum(orig_tokens) AS tot_orig, sum(kept_tokens) AS tot_kept
         FROM persrc)
       SELECT source, orig_tokens, kept_tokens,
              CAST(CAST(orig_tokens AS HUGEINT) * 1000000 // tot_orig AS BIGINT)
                AS share_before_x1e6,
              CAST(CAST(kept_tokens AS HUGEINT) * 1000000 // tot_kept AS BIGINT)
                AS share_after_x1e6,
              CAST(CAST(kept_tokens AS HUGEINT) * 1000000 // tot_kept
                - CAST(orig_tokens AS HUGEINT) * 1000000 // tot_orig AS BIGINT)
                AS shift_x1e6
       FROM persrc, totals ORDER BY source"""

  /** A segment this many distinct docs share is boilerplate. */
  val BoilerDf = 5L

  /** Corpus-level BOILERPLATE detection — the cross-document question
    * `text_line_dedup` (positional keep-first) does not answer: which
    * segment CONTENT recurs across ≥ [[BoilerDf]] distinct documents
    * (navigation chrome, cookie banners, license footers), and what
    * share of each source's segment mass that contamination is. The
    * C4/RefinedWeb "frequent-line removal" pass as a measured ledger:
    * segment df from one (segment → distinct-doc) aggregation, the
    * flag joined back by segment hash, per-source shares on the exact
    * 1e6 grid. Same segment grid and cost class as line_dedup — two
    * hash aggregations and one equi-join, linear at any corpus size. */
  def boilerplateShare: Q = (s, d) => {
    val toks = TextAnalysis.toksExpr
    val segs = graft.sources.Tables.documents(s, d)
      .select(col("doc_id"), col("source"), expr(toks).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          s"""CASE WHEN size(toks) >= $Seg
                THEN transform(sequence(0, size(toks) DIV $Seg - 1),
                               i -> array_join(slice(toks, i * $Seg + 1, $Seg), ' '))
                ELSE array() END""")).as("seg"))
    val df = segs.select(col("seg"), col("doc_id")).distinct()
      .groupBy(col("seg")).agg(count(lit(1)).as("seg_df"))
    segs.join(df, Seq("seg"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"),
        count(when(col("seg_df") >= BoilerDf, 1)).as("n_boiler_segments"),
        expr(s"count(distinct CASE WHEN seg_df >= $BoilerDf THEN seg END)")
          .as("n_boiler_distinct"))
      .withColumn("boiler_share_x1e6",
        expr("n_boiler_segments * 1000000 div n_segments"))
  }

  val boilerplateShareSql: String = {
    val toksSql = TextAnalysis.toksSqlExpr
    s"""WITH segs AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(0, len(toks) // $Seg),
                   i -> array_to_string(toks[i * $Seg + 1 : i * $Seg + $Seg], ' ')))
                   AS seg
          FROM (SELECT doc_id, source, $toksSql AS toks FROM documents)),
        df AS (
          SELECT seg, count(*) AS seg_df FROM (
            SELECT DISTINCT seg, doc_id FROM segs) t
          GROUP BY seg)
        SELECT source, count(*) AS n_segments,
               count(*) FILTER (WHERE seg_df >= $BoilerDf) AS n_boiler_segments,
               count(DISTINCT CASE WHEN seg_df >= $BoilerDf THEN s2.seg END)
                 AS n_boiler_distinct,
               count(*) FILTER (WHERE seg_df >= $BoilerDf) * 1000000 // count(*)
                 AS boiler_share_x1e6
        FROM segs s2 JOIN df USING (seg)
        GROUP BY source ORDER BY source"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("text_line_dedup", lineDedup, Some(lineDedupSql)),
    ("curate_dedup_mix_shift", dedupMixShift, Some(dedupMixShiftSql)),
    ("curate_boilerplate_share", boilerplateShare, Some(boilerplateShareSql)))
}
