package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over the documents table: the
  * dataset-assembly steps an LLM pretraining pipeline runs after
  * dedup/quality scoring — deterministic splits, weighted corpus
  * mixing (down- AND up-sampling), token-budget sequence packing, and
  * quality-band curation.
  *
  * Determinism contract: every sampling decision is a pure function of
  * the row's key via md5 (engine-portable, seedless) — re-running the
  * pipeline on the same snapshot reproduces the exact same dataset, on
  * any number of executors, with no RNG state to coordinate. That is
  * the property that matters at 100 TB: `rand(seed)` changes with
  * partitioning; a content hash never does.
  *
  * Scale shape: splits and mixing are pure narrow maps (zero shuffle);
  * packing is one shuffle (window per language shard); curation is one
  * window pass per language. No collect, no driver loops.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  import TextAnalysis.trunc4

  /** Engine-portable uniform bucket in [0, 100): first 8 hex chars of
    * md5 over a key string. Spark side. */
  private[operators] def hashBucket(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long") % 100

  /** Same bucket in DuckDB. */
  private[operators] def hashBucketSql(key: String): String =
    s"('0x' || substring(md5($key), 1, 8))::BIGINT % 100"

  // ---------------------------------------------------------------- split

  /** Deterministic train/val/test split (80/10/10) keyed on doc_id.
    * Assignment is a narrow map — at 100 TB this is a zero-shuffle
    * pass, and any later run (or any other team) recomputes the same
    * membership from the key alone. */
  def splitTrainTest: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        hashBucket(concat(lit("split:"), col("doc_id").cast("string"))).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
  }

  val splitTrainTestSql: String = {
    val b = hashBucketSql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, $b AS bucket,
          CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
        FROM documents ORDER BY doc_id"""
  }

  // ----------------------------------------------------------------- mix

  /** Weighted corpus mixture: per-source sampling weights where even
    * sources are downsampled (w=0.6) and odd sources upsampled (w=1.8).
    * copies(doc) = floor(w) + (bucket < frac·100) — the standard
    * epoch-mixing rule: a weight of 1.8 repeats every doc once and a
    * deterministic 80% of docs twice. Expansion is `explode(sequence)`,
    * a narrow generator (no shuffle); only the report aggregation
    * shuffles. */
  def mixCorpora: Q = (s, d) => {
    val b = hashBucket(concat(lit("mix:"), col("source"), lit(":"), col("doc_id").cast("string")))
    val isOdd = expr("cast(substring(source, 4) as int)") % 2 === 1
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), b.as("bucket"))
      .withColumn("copies",
        when(isOdd, lit(1) + when(col("bucket") < 80, 1).otherwise(0))
          .otherwise(when(col("bucket") < 60, 1).otherwise(0)))
      .filter(col("copies") > 0)
      .select(col("doc_id"), col("source"), col("n_chars"),
        explode(expr("sequence(1, copies)")).as("copy_no"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_out"),
        countDistinct(col("doc_id")).as("n_unique"),
        sum(col("n_chars")).as("chars_out"))
  }

  val mixCorporaSql: String = {
    val b = hashBucketSql("'mix:' || source || ':' || CAST(doc_id AS VARCHAR)")
    s"""SELECT source, CAST(sum(copies) AS BIGINT) AS n_out,
          count(DISTINCT doc_id) AS n_unique,
          CAST(sum(copies * n_chars) AS BIGINT) AS chars_out
        FROM (SELECT doc_id, source, n_chars,
                CASE WHEN CAST(substring(source, 4) AS INT) % 2 = 1
                     THEN 1 + (CASE WHEN $b < 80 THEN 1 ELSE 0 END)
                     ELSE (CASE WHEN $b < 60 THEN 1 ELSE 0 END) END AS copies
              FROM documents) t
        WHERE copies > 0 GROUP BY source ORDER BY source"""
  }

  // ---------------------------------------------------------------- pack

  val PackBudget = 2048

  /** Token-budget sequence packing ("concat and chunk"): per language,
    * docs in doc_id order are laid head-to-tail and cut into packs of
    * ~2048 estimated tokens (chars/4). pack = floor(exclusive-cumsum /
    * budget) — one window shuffle keyed by language; at 100 TB the key
    * becomes (lang, shard) so no single partition holds a language. */
  def packTokenBudget: Q = (s, d) => {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok_est"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("tok_est")).over(w), lit(0L)) / PackBudget).cast("long"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok_est")).as("pack_tokens"))
  }

  val packTokenBudgetSql: String =
    s"""SELECT lang, CAST(floor(coalesce(cum_excl, 0) / $PackBudget) AS BIGINT) AS pack_id,
          count(*) AS n_docs, CAST(sum(tok_est) AS BIGINT) AS pack_tokens
        FROM (SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok_est,
                sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum_excl
              FROM documents) t
        GROUP BY lang, pack_id ORDER BY lang, pack_id"""

  /** The attention-mask companion to `pack_token_budget`: per packed
    * window, the token offset where each document STARTS inside the
    * window — exactly what a trainer needs to build the block-diagonal
    * attention mask (and position-id resets) for packed sequences, so
    * cross-document attention never leaks. Offsets are the in-pack
    * exclusive prefix sums of the same deterministic token estimate
    * the packer used; emitted as a comma-joined string (engine-exact,
    * ≤ docs-per-pack elements — bounded by the budget, not the
    * corpus). Same single (lang-keyed) window pass as the packer: one
    * shuffle, no joins. */
  def packBoundaryOffsets: Q = (s, d) => {
    val wCum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPack = Window.partitionBy(col("lang"), col("pack_id")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok_est"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("tok_est")).over(wCum), lit(0L)) / PackBudget).cast("long"))
      .withColumn("off", coalesce(sum(col("tok_est")).over(wPack), lit(0L)))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_est")).as("pack_tokens"),
        expr("array_join(transform(array_sort(collect_list(off)), x -> CAST(x AS STRING)), ',')")
          .as("boundaries"))
  }

  /** Block-diagonal attention-mask DENSITY per pack — the cost read a
    * trainer does before choosing packed vs padded batches: with
    * per-document masking, only Σ dᵢ² of the L² attention matrix is
    * valid, so `mask_valid_x1e6 = Σdᵢ²·1e6 div L²` is the fraction of
    * full-attention FLOPs a block-diagonal kernel actually needs (and
    * 1e6 − it is what naive full attention would waste on cross-doc
    * pairs the mask zeroes anyway). Exact integers on the 1e6 grid;
    * same single lang-keyed window pass as the packer — one shuffle,
    * no joins, mirrors `pack_token_budget`'s pack assignment so the
    * three pack ledgers (packs, boundaries, density) describe the SAME
    * batches. */
  def packMaskDensity: Q = (s, d) => {
    val wCum = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok_est"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("tok_est")).over(wCum), lit(0L)) / PackBudget).cast("long"))
      .groupBy(col("lang"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_est")).as("pack_tokens"),
        sum(col("tok_est") * col("tok_est")).as("sum_sq_tokens"))
      .withColumn("mask_valid_x1e6",
        expr("sum_sq_tokens * 1000000 div (pack_tokens * pack_tokens)"))
  }

  val packMaskDensitySql: String =
    s"""WITH t AS (
          SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok_est,
                 CAST(floor(coalesce(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / $PackBudget) AS BIGINT) AS pack_id
          FROM documents)
        SELECT lang, pack_id, count(*) AS n_docs,
               CAST(sum(tok_est) AS BIGINT) AS pack_tokens,
               CAST(sum(tok_est * tok_est) AS BIGINT) AS sum_sq_tokens,
               CAST(sum(tok_est * tok_est) * 1000000
                    // (sum(tok_est) * sum(tok_est)) AS BIGINT) AS mask_valid_x1e6
        FROM t GROUP BY lang, pack_id ORDER BY lang, pack_id"""

  /** Padded-batch WASTE per language — the other half of the
    * packed-vs-padded decision `pack_mask_density` prices: without
    * packing, every document occupies its own max-length sequence and
    * the padding share is (n·L − Σ min(dᵢ, L)) / (n·L); with packing
    * the same tokens need only ⌈Σ/L⌉ sequences. Emits both numbers
    * plus the sequence-count ratio on the 1e6 grid — the FLOPs-budget
    * argument for packing as one measured row per language. One
    * aggregate, exact integers. */
  def packPaddingWaste: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("lang"),
        least(ceil(col("n_chars") / 4.0).cast("long"), lit(PackBudget.toLong)).as("tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"))
      .select(col("lang"), col("n_docs"), col("sum_tokens"),
        expr(s"(n_docs * $PackBudget - sum_tokens) * 1000000 div (n_docs * $PackBudget)")
          .as("padding_waste_x1e6"),
        expr(s"cast(ceil(sum_tokens / $PackBudget.0) as bigint)").as("n_packed_seqs"),
        expr(s"cast(ceil(sum_tokens / $PackBudget.0) as bigint) * 1000000 div n_docs")
          .as("packed_to_padded_x1e6"))
  }

  val packPaddingWasteSql: String =
    s"""WITH t AS (
          SELECT lang, least(CAST(ceil(n_chars / 4.0) AS BIGINT), $PackBudget) AS tok
          FROM documents),
        c AS (SELECT lang, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS sum_tokens
              FROM t GROUP BY lang)
        SELECT lang, n_docs, sum_tokens,
               CAST((n_docs * $PackBudget - sum_tokens) * 1000000
                    // (n_docs * $PackBudget) AS BIGINT) AS padding_waste_x1e6,
               CAST(ceil(sum_tokens / $PackBudget.0) AS BIGINT) AS n_packed_seqs,
               CAST(CAST(ceil(sum_tokens / $PackBudget.0) AS BIGINT) * 1000000
                    // n_docs AS BIGINT) AS packed_to_padded_x1e6
        FROM c ORDER BY lang"""

  val packBoundaryOffsetsSql: String =
    s"""WITH t AS (
          SELECT doc_id, lang, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok_est,
                 CAST(floor(coalesce(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / $PackBudget) AS BIGINT) AS pack_id
          FROM documents),
        o AS (
          SELECT lang, pack_id, doc_id, tok_est,
                 coalesce(sum(tok_est) OVER (
                   PARTITION BY lang, pack_id ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM t)
        SELECT lang, pack_id, count(*) AS n_docs,
               CAST(sum(tok_est) AS BIGINT) AS pack_tokens,
               string_agg(CAST(off AS VARCHAR), ',' ORDER BY off) AS boundaries
        FROM o GROUP BY lang, pack_id ORDER BY lang, pack_id"""

  // -------------------------------------------------------------- curate

  /** Quality-band curation: keep each language's middle half by
    * quality score (percent_rank ∈ [0.25, 0.75]) — drop both junk and
    * the suspiciously-perfect tail. percent_rank is rank arithmetic
    * over a deterministic total order (score, doc_id): engine-stable
    * where comparing against an interpolated quantile value is not.
    * (At 100 TB with unbounded groups the same band comes from
    * approx_percentile thresholds instead of a full per-group sort.) */
  /** Per-doc quality-band membership — THE labeler `curate_quality_band`
    * aggregates and `text_annotation_agreement` scores against; one
    * definition so the band can never silently fork. */
  def qualityBandDocs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        expr(TextAnalysis.toksExpr).as("toks"))
      .select(col("doc_id"), col("lang"), TextAnalysis.qualityScoreCol.as("score"))
      .withColumn("pr", percent_rank().over(w))
      .select(col("doc_id"), col("lang"), col("score"),
        (col("pr") >= 0.25 && col("pr") <= 0.75).as("in_band"))
  }

  /** The identical per-doc band as a composable SQL body. */
  val qualityBandDocsSql: String =
    s"""SELECT doc_id, lang, score, pr >= 0.25 AND pr <= 0.75 AS in_band
        FROM (SELECT doc_id, lang, score,
                percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
              FROM (SELECT doc_id, lang, ${TextAnalysis.qualityScoreSqlExpr} AS score
                    FROM documents) s) r"""

  def curateQualityBand: Q = (s, d) => {
    qualityBandDocs(s, d)
      .filter(col("in_band"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("score")).as("lo_score"), max(col("score")).as("hi_score"))
  }

  val curateQualityBandSql: String =
    s"""SELECT lang, count(*) AS n_kept, min(score) AS lo_score, max(score) AS hi_score
        FROM ($qualityBandDocsSql) b
        WHERE in_band
        GROUP BY lang ORDER BY lang"""

  // --------------------------------------------------------------- tfidf

  val NumLangs = 5

  /** TF-IDF top terms per language: tf = term occurrences within the
    * language, df = number of languages containing the term, idf =
    * ln(5/df). One count shuffle; df comes from a window over the
    * (already tiny) distinct (lang, term) set — no second aggregation
    * against the corpus. Top-5 per language, deterministic tiebreak. */
  def tfidfTopk: Q = (s, d) => {
    val counts = Tables.documents(s, d)
      .select(col("lang"), explode(expr(TextAnalysis.toksExpr)).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("tf"))
    val withDf = counts.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("term"))))
    withDf
      .withColumn("tfidf", trunc4(col("tf") * log(lit(NumLangs * 1.0) / col("df"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("term"), col("tf"), col("df"), col("tfidf"), col("rn"))
  }

  val tfidfTopkSql: String =
    s"""WITH counts AS (
          SELECT lang, unnest(${TextAnalysis.toksSqlExpr}) AS term
          FROM documents),
        tfs AS (SELECT lang, term, count(*) AS tf FROM counts GROUP BY lang, term),
        wd AS (SELECT lang, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tfs)
        SELECT lang, term, tf, df,
               floor(tf * ln($NumLangs * 1.0 / df) * 10000) / 10000.0 AS tfidf,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY floor(tf * ln($NumLangs * 1.0 / df) * 10000) / 10000.0 DESC, term) AS INT) AS rn
        FROM wd QUALIFY rn <= 5 ORDER BY lang, rn"""

  // -------------------------------------------------------------- sample

  /** Per-language sampling fractions: downsample the high-resource
    * language, keep the low-resource tail — the rebalancing step of a
    * multilingual training mix. */
  val StratFractions: Seq[(String, Int)] =
    Seq("en" -> 25, "de" -> 50, "fr" -> 50, "es" -> 50, "zh" -> 100)

  /** Stratified sampling with deterministic membership: keep a doc iff
    * its content-hash bucket clears the stratum's fraction. Same
    * zero-shuffle narrow map as the split — and unlike `sampleBy`, the
    * sample is stable under repartitioning and re-runs. */
  def sampleStratified: Q = (s, d) => {
    val frac = StratFractions.foldLeft(lit(0)) { case (acc, (l, p)) =>
      when(col("lang") === l, p).otherwise(acc)
    }
    Tables.documents(s, d)
      .withColumn("bucket", hashBucket(concat(lit("strat:"), col("doc_id").cast("string"))))
      .filter(col("bucket") < frac)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars_sampled"))
  }

  val sampleStratifiedSql: String = {
    val b = hashBucketSql("'strat:' || CAST(doc_id AS VARCHAR)")
    val frac = StratFractions.map { case (l, p) => s"WHEN lang = '$l' THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS chars_sampled
        FROM documents WHERE $b < $frac
        GROUP BY lang ORDER BY lang"""
  }

  val ReservoirK = 10

  /** Fixed-size uniform sample per stratum (distributed reservoir
    * equivalent): the k docs with the smallest content hash — "bottom-k
    * by hash" is the parallel, mergeable form of reservoir sampling
    * (union two samples, keep the k smallest — exactly what the
    * bounded `graft_topk` aggregate does map-side, shipping ≤k rows
    * per partition instead of sorting the stratum). 13 hex chars = 52
    * bits: exact in a double. */
  def sampleReservoir: Q = (s, d) => {
    val h = conv(substring(md5(concat(lit("resv:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("double")
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), (-h).as("neg_h"))
      .groupBy(col("lang"))
      .agg(expr(s"graft_topk(neg_h, doc_id, $ReservoirK)").as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), col("col.id").as("doc_id"), (col("pos") + 1).cast("int").as("rk"))
  }

  val sampleReservoirSql: String =
    s"""SELECT lang, doc_id, rk FROM (
          SELECT lang, doc_id,
                 CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY ('0x' || substring(md5('resv:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT,
                            doc_id) AS INT) AS rk
          FROM documents) t
        WHERE rk <= $ReservoirK ORDER BY lang, rk"""

  // ---------------------------------------------------------- end-to-end

  /** The flagship composition: the whole curation pipeline as ONE
    * declarative plan — fingerprint dedup (keep min doc_id per
    * canonical-token fingerprint) → per-language quality band
    * (percent_rank ∈ [0.25, 0.75] on the survivors) → deterministic
    * 80/10/10 hash split → per-(split, language) dataset report.
    * Each stage is the already-verified operator's logic; composing
    * them in one DataFrame lets Catalyst plan the whole thing — two
    * window shuffles (fingerprint, language band) and one final
    * aggregation, with the split as a zero-shuffle narrow map in
    * between. This is the "documents in, training mix out" query a
    * 100 TB curation run executes. */
  def endToEnd: Q = (s, d) => {
    val wFp = Window.partitionBy(col("fp"))
    val deduped = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        expr(TextAnalysis.toksExpr).as("toks"),
        md5(expr(s"array_join(array_sort(array_distinct(${TextAnalysis.toksExpr})), ' ')")).as("fp"))
      .withColumn("canonical", min(col("doc_id")).over(wFp))
      .filter(col("doc_id") === col("canonical"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        TextAnalysis.qualityScoreCol.as("score"))
    val wBand = Window.partitionBy(col("lang")).orderBy(col("score"), col("doc_id"))
    deduped
      .withColumn("pr", percent_rank().over(wBand))
      .filter(col("pr") >= 0.25 && col("pr") <= 0.75)
      .withColumn("bucket", hashBucket(concat(lit("split:"), col("doc_id").cast("string"))))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(ceil(col("n_chars") / 4.0).cast("long")).as("tok_est"),
        min(col("score")).as("lo_score"), max(col("score")).as("hi_score"))
  }

  val endToEndSql: String = {
    val b = hashBucketSql("'split:' || CAST(doc_id AS VARCHAR)")
    s"""WITH fp AS (
          SELECT doc_id, lang, n_chars, text,
                 md5(array_to_string(list_sort(list_distinct(${TextAnalysis.toksSqlExpr})), ' ')) AS fp
          FROM documents),
        dedup AS (
          SELECT doc_id, lang, n_chars,
                 ${TextAnalysis.qualityScoreSqlExpr} AS score
          FROM (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS canonical FROM fp) t
          WHERE doc_id = canonical),
        banded AS (
          SELECT * FROM (
            SELECT doc_id, lang, n_chars, score,
                   percent_rank() OVER (PARTITION BY lang ORDER BY score, doc_id) AS pr
            FROM dedup) r
          WHERE pr >= 0.25 AND pr <= 0.75),
        splits AS (
          SELECT lang, n_chars, score,
                 CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END AS split
          FROM banded)
        SELECT split, lang, count(*) AS n_docs,
               CAST(sum(CAST(ceil(n_chars / 4.0) AS BIGINT)) AS BIGINT) AS tok_est,
               min(score) AS lo_score, max(score) AS hi_score
        FROM splits GROUP BY split, lang ORDER BY split, lang"""
  }

  /** Sample size for weighted sampling. */
  val WeightedK = 50

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis):
    * inclusion probability ∝ document length, the "sample long docs
    * more" curation knob. Each doc draws a deterministic uniform
    * u = h/2^52 from its md5-derived hash (52 bits: exact in a double) and gets key ln(u)/w — the
    * log-space ES exponential race; the k largest keys are the sample.
    * Distributed as ONE bounded `graft_topk` aggregate (each map task
    * ships ≤ k pairs — no corpus sort, no per-row state), and fully
    * deterministic: the same doc set yields the same sample on any
    * partitioning, which is what makes the sample reproducible AND
    * oracle-checkable (DuckDB replays the same race; the key is
    * excluded from the output so the compare is on integer columns).
    * Weights must be ≥ 1 (n_chars is); u = 0 has probability 2^-52. */
  def sampleWeighted: Q = (s, d) => {
    val u = conv(substring(md5(concat(lit("wsmp:"), col("doc_id").cast("string"))), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496e0)
    Tables.documents(s, d)
      .select(col("doc_id"), (log(u) / col("n_chars")).as("key"))
      .agg(expr(s"graft_topk(key, doc_id, $WeightedK)").as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"), col("col.id").as("doc_id"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("n_chars"))
  }

  val sampleWeightedSql: String =
    s"""WITH k AS (
         SELECT doc_id, n_chars,
                ln(('0x' || substr(md5('wsmp:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   / 4503599627370496e0) / n_chars AS key
         FROM documents),
       r AS (
         SELECT doc_id, n_chars,
                CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rk
         FROM k)
       SELECT rk, doc_id, n_chars FROM r WHERE rk <= $WeightedK ORDER BY rk"""

  /** Shared FFD core: first-fit-decreasing bin packing of (doc_id,
    * tok_est) pairs into bins of `budget` capacity — docs sorted by
    * (tokens desc, doc_id), each placed in the FIRST bin with room,
    * oversized docs get their own bin. Deterministic; exposed for the
    * spec's driver-side replay. */
  def ffdPack(budget: Long, docs: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val bins = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (n_docs, tokens)
    docs.sortBy { case (id, t) => (-t, id) }.foreach { case (_, t) =>
      val i = bins.indexWhere { case (_, used) => used + t <= budget }
      if (i >= 0) bins(i) = (bins(i)._1 + 1, bins(i)._2 + t)
      else bins += ((1L, t))
    }
    bins.zipWithIndex.map { case ((n, tok), i) => (i.toLong, n, tok) }.toSeq
  }

  /** First-fit-decreasing sequence packing — the STRICT-capacity
    * alternative to `pack_token_budget`'s concat-and-chunk (which lets
    * a pack overflow when a doc straddles the boundary): no bin ever
    * exceeds the budget unless a single doc alone does. Packing is a
    * sequential fold, so it runs per language via `flatMapGroups` (the
    * session-fold shape); at 100 TB the key becomes (lang, shard) so no
    * task holds a language. Hash-checked since round 5: the oracle
    * replays the greedy fold as a per-language recursive CTE whose
    * state is the bin-load list (one doc placed per recursion step,
    * first fit via `list_position`) — FFD is sequential, not
    * SQL-aggregable, but it IS SQL-recursable. Validity, determinism,
    * and the driver-side replay stay asserted in PipelineSpec. */
  def packBestFit: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok_est"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (lang, it) =>
        ffdPack(PackBudget, it.map(t => (t._2, t._3)).toSeq)
          .iterator.map { case (bin, n, tok) => (lang, bin, n, tok) }
      }
      .toDF("lang", "bin_id", "n_docs", "bin_tokens")
      .withColumn("utilization", trunc4(col("bin_tokens") * lit(1.0) / PackBudget))
  }

  /** Class-balanced downsampling — equalize label counts to the
    * rarest class (the class-imbalance fix before training a
    * classifier): per class, keep the bottom-n_min documents by
    * content hash (deterministic, partitioning-independent — the same
    * rank-by-hash rule as `sample_reservoir`, applied per class). The
    * rank window partitions by class (bounded cardinality); n_min is
    * one tiny aggregate broadcast back. Output is the per-class
    * audit: counts plus an order-free BIGINT checksum of kept ids
    * proving both engines selected the SAME documents. */
  def sampleClassBalanced: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      conv(substring(md5(concat(lit("bal:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
    val nMin = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      .agg(min(col("n_orig")).as("n_min"))
    val ranked = docs.crossJoin(broadcast(nMin))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
    ranked
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_orig"), max(col("n_min")).as("n_kept"),
        sum(when(col("rk") <= col("n_min"), col("doc_id"))).as("kept_id_sum"))
  }

  val sampleClassBalancedSql: String =
    """WITH docs AS (
         SELECT doc_id, lang,
                ('0x' || substr(md5('bal:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
         FROM documents),
       m AS (SELECT min(n) AS n_min FROM (SELECT count(*) AS n FROM docs GROUP BY lang)),
       r AS (SELECT doc_id, lang, n_min,
                    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk
             FROM docs CROSS JOIN m)
       SELECT lang, count(*) AS n_orig, CAST(max(n_min) AS BIGINT) AS n_kept,
              CAST(sum(CASE WHEN rk <= n_min THEN doc_id END) AS BIGINT) AS kept_id_sum
       FROM r GROUP BY lang ORDER BY lang"""

  val KFolds = 5

  /** Hash k-fold assignment — the cross-validation / sharded-eval
    * split: every doc lands in exactly one of K folds by content hash
    * (same seedless-md5 contract as `split_train_test`: reproducible
    * on any cluster layout, no RNG state, stable under re-runs).
    * Output is the fold manifest (count, id-checksum, share) — the
    * checksum pins MEMBERSHIP, not just sizes, so any engine can audit
    * its own assignment against it. One narrow map + one aggregation. */
  def splitKfold: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        (conv(substring(md5(concat(lit("fold:"), col("doc_id"))), 1, 8), 16, 10)
          .cast("long") % KFolds).as("fold"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_checksum"))
      .crossJoin(broadcast(Tables.documents(s, d).agg(count(lit(1)).as("total"))))
      .select(col("fold").cast("int").as("fold"), col("n_docs"), col("id_checksum"),
        trunc4(col("n_docs").cast("double") / col("total").cast("double")).as("share"))
  }

  val splitKfoldSql: String =
    s"""WITH f AS (
          SELECT doc_id,
                 ('0x' || substring(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % $KFolds AS fold
          FROM documents),
        t AS (SELECT count(*) AS total FROM documents)
        SELECT CAST(fold AS INT) AS fold, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum,
               floor(CAST(count(*) AS DOUBLE) / CAST(t.total AS DOUBLE) * 10000) / 10000.0
                 AS share
        FROM f CROSS JOIN t
        GROUP BY fold, t.total ORDER BY fold"""

  val DomainCap = 10

  /** Per-domain document cap — the web-curation counterweight to
    * global quality filtering (RefinedWeb/C4 keep at most N pages per
    * domain so one mega-site cannot dominate the corpus): keep the
    * DomainCap longest documents per source, ranked (n_chars DESC,
    * doc_id ASC). The cut runs through the bounded `graft_topk`
    * aggregate, NOT a per-domain row_number window — map-side partials
    * ship ≤ cap rows per (partition, domain), so a mega-domain costs
    * the same shuffle volume as a tiny one and no per-domain sort ever
    * materializes. That asymmetry is the whole point at crawl scale:
    * domain cardinality is huge AND domain size is power-law. */
  def curateDomainCap: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .groupBy(col("source"))
      .agg(expr(s"graft_topk(cast(n_chars as double), doc_id, $DomainCap)").as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"), col("col.id").as("doc_id"),
        col("col.score").cast("long").as("n_chars"),
        (col("pos") + 1).cast("int").as("domain_rank"))
  }

  val curateDomainCapSql: String =
    s"""SELECT source, doc_id, n_chars, domain_rank FROM (
          SELECT source, doc_id, n_chars,
                 CAST(row_number() OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id) AS INT) AS domain_rank
          FROM documents) t
        WHERE domain_rank <= $DomainCap ORDER BY source, domain_rank"""

  val ApportionBudget = 1000000L

  /** Token-budget apportionment — turning corpus weights into an
    * integer token allocation that sums EXACTLY to the budget
    * (largest-remainder / Hamilton method): base_i = ⌊B·w_i/ΣW⌋, the
    * leftover goes +1 each to the largest remainders (ties by source).
    * Floating shares can't do this — rounding ½-up drifts the total;
    * apportionment is the integer-exact answer every mixture config
    * (`mix_corpora`, `mix_temperature`) ultimately needs when the
    * budget is a hard token count. Weights here are per-source token
    * volumes (one aggregation); the apportionment itself runs on the
    * corpus-count-sized weight table — control-plane data, the window
    * is bounded by |corpora|. */
  def budgetApportion: Q = (s, d) => {
    val w = Tables.documents(s, d)
      .select(col("source"), expr(s"size(${TextAnalysis.toksExpr})").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("tokens_w"))
    val tot = w.agg(sum(col("tokens_w")).as("tw"))
    val quoted = w.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($ApportionBudget * tokens_w) DIV tw"))
      .withColumn("rem", expr(s"($ApportionBudget * tokens_w) % tw"))
    val leftover = quoted
      .withColumn("leftover",
        lit(ApportionBudget) - sum(col("base")).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
    leftover
      .withColumn("extra", (col("rk") <= col("leftover")).cast("long"))
      .select(col("source"), col("tokens_w"), col("base"), col("extra"),
        (col("base") + col("extra")).as("alloc"),
        (floor((col("base") + col("extra")).cast("double")
          / lit(ApportionBudget.toDouble) * 1e6) / 1e6).as("achieved_share"))
  }

  val budgetApportionSql: String =
    s"""WITH w AS (
          SELECT source, CAST(sum(len(${TextAnalysis.toksSqlExpr})) AS BIGINT) AS tokens_w
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(tokens_w) AS BIGINT) AS tw FROM w),
        q AS (
          SELECT source, tokens_w,
                 ($ApportionBudget * tokens_w) // tw AS base,
                 ($ApportionBudget * tokens_w) % tw AS rem
          FROM w CROSS JOIN tot),
        l AS (
          SELECT *,
                 $ApportionBudget - CAST(sum(base) OVER () AS BIGINT) AS leftover,
                 CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rk
          FROM q)
        SELECT source, tokens_w, CAST(base AS BIGINT) AS base,
               CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
               CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc,
               floor(CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS DOUBLE)
                     / ${ApportionBudget}.0 * 1e6) / 1e6 AS achieved_share
        FROM l ORDER BY source"""

  /** First-fit index into the recursion's bin-load list (0 = no fit:
    * DuckDB's list_position returns 0, not NULL, on no match). */
  private val ffdFitExpr: String =
    s"list_position(list_transform(p.loads, x -> x + d.t <= $PackBudget), true)"

  /** The FFD fold as a recursive CTE: docs sorted (tokens DESC, id)
    * per language, one placed per step, bin state carried as two
    * parallel lists. Recursion width = |langs|, depth = max docs per
    * language — the oracle-side mirror of the flatMapGroups fold. */
  val packBestFitSql: String =
    s"""WITH RECURSIVE docs AS (
          SELECT lang, doc_id, CAST(ceil(n_chars / 4.0) AS BIGINT) AS t,
                 CAST(row_number() OVER (PARTITION BY lang
                      ORDER BY CAST(ceil(n_chars / 4.0) AS BIGINT) DESC, doc_id) AS INT) AS rk
          FROM documents),
        cnts AS (SELECT lang, max(rk) AS n FROM docs GROUP BY lang),
        pack(lang, i, loads, ndocs) AS (
          SELECT lang, 0, CAST([] AS BIGINT[]), CAST([] AS BIGINT[]) FROM cnts
          UNION ALL
          SELECT p.lang, p.i + 1,
                 CASE WHEN $ffdFitExpr = 0
                      THEN list_append(p.loads, d.t)
                      ELSE p.loads[1:$ffdFitExpr-1] || [p.loads[$ffdFitExpr] + d.t]
                           || p.loads[$ffdFitExpr+1:len(p.loads)] END,
                 CASE WHEN $ffdFitExpr = 0
                      THEN list_append(p.ndocs, CAST(1 AS BIGINT))
                      ELSE p.ndocs[1:$ffdFitExpr-1] || [p.ndocs[$ffdFitExpr] + 1]
                           || p.ndocs[$ffdFitExpr+1:len(p.ndocs)] END
          FROM pack p JOIN docs d ON d.lang = p.lang AND d.rk = p.i + 1)
        SELECT p.lang AS lang, CAST(gs - 1 AS BIGINT) AS bin_id,
               p.ndocs[gs] AS n_docs, p.loads[gs] AS bin_tokens,
               floor((CAST(p.loads[gs] AS DOUBLE) * 1.0e0 / $PackBudget) * 10000) / 10000.0
                 AS utilization
        FROM pack p JOIN cnts c ON c.lang = p.lang AND p.i = c.n
        CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(p.loads))) AS gs) g
        ORDER BY lang, bin_id"""

  /** Dataset card — the per-source datasheet a corpus release ships
    * (docs, token volume, mean quality, duplicate exposure, dominant
    * language): ONE scan computes tokens + quality + fingerprint per
    * doc, one window marks cross-corpus duplicate membership, one
    * aggregation folds the card. The mean quality sums exact 1e4-scale
    * integers (the score is already 4-dp truncated) and divides once —
    * no float accumulation; dominant language is a lexicographic
    * `max(struct(cnt, lang))` argmax, total and engine-exact. */
  def datasetCard: Q = (s, d) => {
    import TextAnalysis.{qualityScoreCol, toksExpr}
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        expr(toksExpr).as("toks"))
      .select(col("doc_id"), col("source"), col("lang"),
        expr("size(toks)").as("n_toks"),
        floor(qualityScoreCol * 1e4).cast("long").as("q4"),
        md5(expr("array_join(array_sort(array_distinct(toks)), ' ')")).as("fp"))
      .withColumn("is_dup",
        (count(lit(1)).over(Window.partitionBy(col("fp"))) > 1).cast("long"))
    val langTop = scored.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(max(struct(col("cnt"), col("lang"))).as("m"))
      .select(col("source"), col("m.lang").as("top_lang"))
    scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("tokens_total"),
        (floor(sum(col("q4")).cast("double") / count(lit(1)).cast("double")) / 1e4)
          .as("mean_quality"),
        sum(col("is_dup")).as("n_dup_docs"))
      .join(langTop, "source")
  }

  val datasetCardSql: String = {
    import TextAnalysis.{qualityScoreSqlExpr, toksSqlExpr}
    s"""WITH scored AS (
          SELECT doc_id, source, lang,
                 len($toksSqlExpr) AS n_toks,
                 CAST(floor(($qualityScoreSqlExpr) * 1e4) AS BIGINT) AS q4,
                 md5(array_to_string(list_sort(list_distinct($toksSqlExpr)), ' ')) AS fp
          FROM documents),
        dup AS (
          SELECT *, CASE WHEN count(*) OVER (PARTITION BY fp) > 1 THEN 1 ELSE 0 END AS is_dup
          FROM scored),
        card AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_toks) AS BIGINT) AS tokens_total,
                 floor(CAST(sum(q4) AS DOUBLE) / CAST(count(*) AS DOUBLE)) / 1e4
                   AS mean_quality,
                 CAST(sum(is_dup) AS BIGINT) AS n_dup_docs
          FROM dup GROUP BY source),
        lt AS (
          SELECT source, (max({'c': cnt, 'l': lang})).l AS top_lang
          FROM (SELECT source, lang, count(*) AS cnt FROM scored GROUP BY 1, 2) t
          GROUP BY source)
        SELECT c.source, c.n_docs, c.tokens_total, c.mean_quality, c.n_dup_docs,
               lt.top_lang
        FROM card c JOIN lt USING (source)
        ORDER BY c.source"""
  }

  /** Temporal split boundaries: train < 2024-01-20, a 2-day embargo
    * gap, test ≥ 2024-01-22 (events span 2024-01). */
  private val TrainEndDay = "2024-01-20"
  private val TestStartDay = "2024-01-22"

  /** Purged walk-forward CV geometry: fold k trains on days
    * [0, 5k), purges 1 day, tests on the next 4 days (events span
    * 2024-01, day 0 = 2024-01-01). */
  val CvFolds = 4
  val CvPurgeDays = 1
  val CvTestDays = 4

  /** Purged walk-forward (rolling-origin) cross-validation — the K-fold
    * ladder a time-series model needs where plain `split_kfold` leaks
    * future into past and a single `split_temporal` wastes data: fold k
    * trains on everything before its cutoff, skips a purge day (labels
    * computed over a horizon at train time can't peek into test —
    * the purged-CV discipline of López de Prado 2018), and tests on
    * the next window; successive folds reuse the history ladder-style.
    * Per fold: event counts per role and how many users appear in both
    * train and test (reported, not hidden — entity overlap is expected
    * in walk-forward splits and belongs in the datasheet).
    *
    * Scale shape: fold membership is pure day arithmetic. Event counts
    * come from the ≤|days|-row day histogram (one aggregation), NOT a
    * corpus×folds explode; user overlap is ONE user-keyed aggregation
    * computing all K train/test flags as conditional max's (the
    * shuffle carries |users| rows once, independent of K), folded to a
    * K-row ledger by a second tiny aggregation. All exact integers. */
  def splitPurgedCv: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
    def trainEnd(k: Int) = k * (CvPurgeDays + CvTestDays)
    // per-fold event counts over the bounded day histogram
    val dayCounts = base.groupBy(col("day")).agg(count(lit(1)).as("n"))
    val foldCounts = dayCounts
      .select(col("day"), col("n"), explode(expr(s"sequence(1, $CvFolds)")).as("fold"))
      .withColumn("train_end", col("fold") * (CvPurgeDays + CvTestDays))
      .groupBy(col("fold"))
      .agg(max(col("train_end")).as("train_days"),
        coalesce(sum(when(col("day") < col("train_end"), col("n"))), lit(0L)).as("n_train"),
        coalesce(sum(when(col("day") >= col("train_end")
          && col("day") < col("train_end") + CvPurgeDays, col("n"))), lit(0L)).as("n_purged"),
        coalesce(sum(when(col("day") >= col("train_end") + CvPurgeDays
          && col("day") < col("train_end") + CvPurgeDays + CvTestDays, col("n"))), lit(0L))
          .as("n_test"))
    // per-user train/test membership for ALL folds in one pass
    val flagAggs = (1 to CvFolds).flatMap { k =>
      val ts0 = trainEnd(k) + CvPurgeDays
      Seq(
        max(when(col("day") < trainEnd(k), 1).otherwise(0)).as(s"tr_$k"),
        max(when(col("day") >= ts0 && col("day") < ts0 + CvTestDays, 1).otherwise(0))
          .as(s"te_$k"))
    }
    val stackArgs = (1 to CvFolds).map(k => s"$k, ov_$k").mkString(", ")
    val overlap = base.groupBy(col("user_id"))
      .agg(flagAggs.head, flagAggs.tail: _*)
      .agg((1 to CvFolds).map(k =>
        sum(col(s"tr_$k") * col(s"te_$k")).as(s"ov_$k")).head,
        (1 to CvFolds).map(k =>
          sum(col(s"tr_$k") * col(s"te_$k")).as(s"ov_$k")).tail: _*)
      .selectExpr(s"stack($CvFolds, $stackArgs) as (fold, n_users_overlap)")
    foldCounts.join(broadcast(overlap), Seq("fold"))
      .select(col("fold").cast("int").as("fold"), col("train_days").cast("int").as("train_days"),
        col("n_train"), col("n_purged"), col("n_test"),
        col("n_users_overlap").cast("long").as("n_users_overlap"))
  }

  val splitPurgedCvSql: String = {
    val w = CvPurgeDays + CvTestDays
    s"""WITH base AS (
          SELECT user_id,
                 date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
          FROM events),
        f AS (
          SELECT CAST(fold AS INT) AS fold, CAST(fold * $w AS INT) AS train_end
          FROM (SELECT unnest(range(1, ${CvFolds + 1})) AS fold)),
        counts AS (
          SELECT f.fold, max(f.train_end) AS train_days,
                 count(*) FILTER (WHERE b.day < f.train_end) AS n_train,
                 count(*) FILTER (WHERE b.day >= f.train_end
                   AND b.day < f.train_end + $CvPurgeDays) AS n_purged,
                 count(*) FILTER (WHERE b.day >= f.train_end + $CvPurgeDays
                   AND b.day < f.train_end + $CvPurgeDays + $CvTestDays) AS n_test
          FROM f, base b GROUP BY f.fold),
        uo AS (
          SELECT f.fold, b.user_id,
                 max(CASE WHEN b.day < f.train_end THEN 1 ELSE 0 END) AS tr,
                 max(CASE WHEN b.day >= f.train_end + $CvPurgeDays
                      AND b.day < f.train_end + $CvPurgeDays + $CvTestDays
                      THEN 1 ELSE 0 END) AS te
          FROM f, base b GROUP BY 1, 2),
        ov AS (SELECT fold, CAST(sum(tr * te) AS BIGINT) AS n_users_overlap
               FROM uo GROUP BY fold)
        SELECT c.fold, c.train_days, c.n_train, c.n_purged, c.n_test, o.n_users_overlap
        FROM counts c JOIN ov o USING (fold) ORDER BY c.fold"""
  }

  /** Leakage-safe TEMPORAL train/test split with an embargo gap — the
    * split a time-series / recommendation corpus needs where the hash
    * split (`split_train_test`) would leak future information into
    * training. The embargo strip between the two boundaries absorbs
    * label lookahead (a target computed over a 2-day horizon at train
    * time never peeks into test). Output per split: event count,
    * distinct users, and how many of those users also appear in train
    * — the USER overlap is reported, not hidden, because temporal
    * splits intentionally share users (that's entity leakage only if
    * the model memorizes ids; the datasheet read makes it auditable).
    * Shape: one narrow projection, one (user, split) agg, one
    * user-partitioned window over the per-user split list, one 3-group
    * agg — no broadcast of a corpus-sized user set. */
  def splitTemporal: Q = (s, d) => {
    val tagged = Tables.events(s, d)
      .select(col("user_id"),
        when(to_date(col("ts")) < lit(TrainEndDay).cast("date"), "train")
          .when(to_date(col("ts")) < lit(TestStartDay).cast("date"), "embargo")
          .otherwise("test").as("split"))
    val perUser = tagged.groupBy(col("user_id"), col("split"))
      .agg(count(lit(1)).as("n"))
      .withColumn("in_train",
        max(when(col("split") === "train", 1).otherwise(0))
          .over(Window.partitionBy(col("user_id"))))
    perUser.groupBy(col("split"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(col("in_train")).cast("long").as("n_users_in_train"))
  }

  val splitTemporalSql: String =
    s"""WITH t AS (
          SELECT user_id,
                 CASE WHEN CAST(ts AS DATE) < DATE '$TrainEndDay' THEN 'train'
                      WHEN CAST(ts AS DATE) < DATE '$TestStartDay' THEN 'embargo'
                      ELSE 'test' END AS split
          FROM events),
        pu AS (SELECT user_id, split, count(*) AS n FROM t GROUP BY user_id, split),
        pu2 AS (SELECT *,
                  max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id) AS in_train
                FROM pu)
        SELECT split, CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_users,
               CAST(sum(in_train) AS BIGINT) AS n_users_in_train
        FROM pu2 GROUP BY split ORDER BY split"""

  /** Curriculum phasing — order training data easy→hard: per-language
    * quality tertiles (percent_rank DESC over score, the language
    * partition keeps the window scale-correct AND the curriculum
    * language-balanced) assign each document to phase 1 (highest
    * quality), 2, or 3; per phase: documents, whitespace tokens, token
    * share, score range, languages covered. Tertile predicates compare
    * the same IEEE doubles in both engines, so boundary rows land
    * identically. Same shape as `curate_quality_band` plus one 3-group
    * agg. */
  def packCurriculum: Q = (s, d) => {
    val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"),
        expr(TextAnalysis.toksExpr).as("toks"))
      .select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScoreCol.as("score"),
        expr("size(toks)").cast("long").as("n_toks"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("phase",
        when(col("pr") < 1.0 / 3, 1).when(col("pr") < 2.0 / 3, 2).otherwise(3))
      .groupBy(col("phase"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        TextAnalysis.trunc4(min(col("score"))).as("min_score"),
        TextAnalysis.trunc4(max(col("score"))).as("max_score"),
        countDistinct(col("lang")).as("n_langs"))
      .withColumn("token_share",
        TextAnalysis.trunc4(col("n_tokens").cast("double")
          / sum(col("n_tokens")).over().cast("double")))
      .select(col("phase"), col("n_docs"), col("n_tokens"), col("token_share"),
        col("min_score"), col("max_score"), col("n_langs"))
  }

  val packCurriculumSql: String =
    s"""WITH sc AS (
          SELECT doc_id, lang, ${TextAnalysis.qualityScoreSqlExpr} AS score,
                 CAST(len(${TextAnalysis.toksSqlExpr}) AS BIGINT) AS n_toks
          FROM documents),
        pr AS (
          SELECT *, percent_rank() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS pr
          FROM sc),
        ph AS (
          SELECT *, CASE WHEN pr < 1.0/3 THEN 1 WHEN pr < 2.0/3 THEN 2 ELSE 3 END AS phase
          FROM pr),
        agg AS (
          SELECT phase, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 floor(min(score) * 10000) / 10000.0 AS min_score,
                 floor(max(score) * 10000) / 10000.0 AS max_score,
                 count(DISTINCT lang) AS n_langs
          FROM ph GROUP BY phase)
        SELECT CAST(phase AS INT) AS phase, n_docs, n_tokens,
               floor(CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE)
                     * 10000) / 10000.0 AS token_share,
               min_score, max_score, n_langs
        FROM agg ORDER BY phase"""

  /** Per-source-tier Poisson rates for epoch resampling (tier =
    * numeric source suffix mod 4 — a stand-in for the per-domain
    * weight table a real mixing config carries). */
  val PoissonLams = Seq(0.5, 1.0, 1.5, 2.5)
  val PoissonCap = 8

  /** Poisson CDF thresholds t_j = P(X ≤ j), j = 0..cap−1, computed
    * ONCE driver-side. Both engines compare the hash-uniform against
    * these IDENTICAL double literals (Spark via lit(), DuckDB by
    * parsing the round-tripping toString), so no runtime exp/libm
    * call exists in either engine — the parity surface is literal
    * equality. */
  def poissonThresholds(lam: Double): Seq[Double] = {
    var p = math.exp(-lam)
    var cdf = p
    val out = scala.collection.mutable.ArrayBuffer(cdf)
    for (j <- 1 until PoissonCap) { p = p * lam / j; cdf += p; out += cdf }
    out.toSeq
  }

  /** Deterministic Poisson epoch resampling (sampling WITH
    * replacement at fractional rates — the standard way to hit a
    * target token budget when per-domain weights aren't integers):
    * each doc draws u from its content hash and replicates
    * n_copies = inverse-CDF(u) times, λ set by its source tier.
    * Zero shuffle, zero RNG state, partitioning-independent — the
    * same doc set yields the same epoch on any cluster layout. */
  def samplePoisson: Q = (s, d) => {
    val u = conv(substring(md5(concat(lit("psmp:"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("double") / lit(4503599627370496e0)
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        (substring(col("source"), 4, 10).cast("int") % PoissonLams.length).as("lam_idx"),
        u.as("u"))
    val nCopies = PoissonLams.indices.map { li =>
      val ts = poissonThresholds(PoissonLams(li))
      li -> ts.map(t => when(col("u") > lit(t), 1).otherwise(0)).reduce(_ + _)
    }.foldLeft(lit(-1)) { case (acc, (li, e)) =>
      when(col("lam_idx") === li, e).otherwise(acc)
    }
    base.select(col("doc_id"), col("source"), col("lam_idx"),
      element_at(array(PoissonLams.map(lit): _*), col("lam_idx") + 1).as("lam"),
      nCopies.cast("int").as("n_copies"))
  }

  val samplePoissonSql: String = {
    val cases = PoissonLams.indices.map { li =>
      val sumExpr = poissonThresholds(PoissonLams(li))
        .map(t => s"(CASE WHEN u > ${t} THEN 1 ELSE 0 END)").mkString(" + ")
      s"WHEN $li THEN $sumExpr"
    }.mkString("\n                 ")
    val lamCases = PoissonLams.indices
      .map(li => s"WHEN $li THEN ${PoissonLams(li)}").mkString(" ")
    s"""WITH t AS (
          SELECT doc_id, source,
                 CAST(substr(source, 4, 10) AS INT) % ${PoissonLams.length} AS lam_idx,
                 ('0x' || substr(md5('psmp:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   / 4503599627370496e0 AS u
          FROM documents)
        SELECT doc_id, source, lam_idx,
               CAST(CASE lam_idx $lamCases END AS DOUBLE) AS lam,
               CAST(CASE lam_idx
                 $cases
               END AS INT) AS n_copies
        FROM t ORDER BY doc_id"""
  }

  /** Reproducibility ledger for the curation pipeline: per stage
    * (raw → rule-kept → exact-dedup survivors → train split), the row
    * count plus an ORDER-INDEPENDENT content checksum — the sum of
    * 52-bit content hashes in DECIMAL(38,0)/HUGEINT (commutative, so
    * any partitioning/execution order yields the same digest). A
    * re-run — on another cluster, another day — proves stage-level
    * byte identity by comparing four (count, digest) pairs instead
    * of diffing terabytes. */
  def reproLedger: Q = (s, d) => {
    val h = conv(substring(md5(concat(lit("led:"), col("doc_id").cast("string"))), 1, 13),
      16, 10).cast("decimal(38,0)")
    val docs = Tables.documents(s, d)
    val raw = docs.select(col("doc_id"))
    val kept = TextAnalysis.gopherRules(s, d).filter(col("keep")).select(col("doc_id"))
    // exact-dedup survivors among the kept: min doc_id per text hash
    val survivors = docs.join(kept, Seq("doc_id"))
      .groupBy(md5(col("text")).as("th")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val train = survivors.filter(
      conv(substring(md5(concat(lit("spl:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("long") % 10 < 8)
    def stage(name: String, order: Int, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"), coalesce(sum(h), lit(0).cast("decimal(38,0)"))
        .as("digest"))
        .select(lit(order).as("stage_idx"), lit(name).as("stage"), col("n_rows"),
          col("digest").cast("string").as("digest"))
    stage("raw", 0, raw)
      .unionByName(stage("rule_kept", 1, kept))
      .unionByName(stage("dedup_survivors", 2, survivors))
      .unionByName(stage("train_split", 3, train))
  }

  val reproLedgerSql: String = {
    val h = "('0x' || substr(md5('led:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT"
    s"""WITH kept AS (
          SELECT doc_id FROM (${TextAnalysis.gopherRulesBodySql})
          WHERE keep),
        survivors AS (
          SELECT CAST(min(doc_id) AS BIGINT) AS doc_id
          FROM documents JOIN kept USING (doc_id)
          GROUP BY md5(text)),
        train AS (
          SELECT doc_id FROM survivors
          WHERE ('0x' || substr(md5('spl:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                % 10 < 8),
        ledger AS (
          SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_rows,
                 COALESCE(sum(CAST($h AS HUGEINT)), 0) AS dg FROM documents
          UNION ALL
          SELECT 1, 'rule_kept', count(*), COALESCE(sum(CAST($h AS HUGEINT)), 0) FROM kept
          UNION ALL
          SELECT 2, 'dedup_survivors', count(*),
                 COALESCE(sum(CAST($h AS HUGEINT)), 0) FROM survivors
          UNION ALL
          SELECT 3, 'train_split', count(*),
                 COALESCE(sum(CAST($h AS HUGEINT)), 0) FROM train)
        SELECT CAST(stage_idx AS INT) AS stage_idx, stage, n_rows,
               CAST(dg AS VARCHAR) AS digest
        FROM ledger ORDER BY stage_idx"""
  }

  /** Power-of-two sequence-length ladder for batch bucketing. */
  val LengthBuckets = Seq(16L, 32L, 64L, 128L, 256L, 512L)

  /** Sequence-length bucketing ledger — the padding-efficiency read
    * behind bucketed batching (group samples of similar length so a
    * batch pads to its bucket cap, not the corpus max): each doc
    * lands in the smallest power-of-two bucket ≥ its token count,
    * and per bucket the ledger reports docs, real tokens, padded
    * capacity and the waste ratio. All integers except the one
    * waste division; one narrow pass + one 6-group aggregation. */
  def lengthBuckets: Q = (s, d) => {
    val nt = expr(s"size(${graft.operators.TextAnalysis.toksExpr})").cast("long")
    val bucket = LengthBuckets.init.reverse
      .foldLeft(lit(LengthBuckets.last)) { (acc, b) =>
        when(col("n_tokens") <= b, lit(b)).otherwise(acc)
      }
    Tables.documents(s, d)
      .select(nt.as("n_tokens"))
      .select(col("n_tokens"), bucket.as("bucket"))
      .withColumn("padded", least(col("n_tokens"), col("bucket")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("padded")).as("sum_tokens"))
      .withColumn("capacity", col("n_docs") * col("bucket"))
      .withColumn("waste_ratio",
        floor((col("capacity") - col("sum_tokens")).cast("double")
          / col("capacity").cast("double") * 1e4) / 1e4)
      .select(col("bucket"), col("n_docs"), col("sum_tokens"), col("capacity"),
        col("waste_ratio"))
  }

  val lengthBucketsSql: String = {
    val nt = s"CAST(len(${graft.operators.TextAnalysis.toksSqlExpr}) AS BIGINT)"
    val cases = LengthBuckets.init
      .map(b => s"WHEN n_tokens <= $b THEN $b").mkString(" ")
    s"""WITH t AS (SELECT $nt AS n_tokens FROM documents),
        b AS (SELECT n_tokens,
                     CAST(CASE $cases ELSE ${LengthBuckets.last} END AS BIGINT) AS bucket
              FROM t),
        g AS (SELECT bucket, count(*) AS n_docs,
                     CAST(sum(least(n_tokens, bucket)) AS BIGINT) AS sum_tokens
              FROM b GROUP BY 1)
        SELECT bucket, n_docs, sum_tokens,
               n_docs * bucket AS capacity,
               floor(CAST(n_docs * bucket - sum_tokens AS DOUBLE)
                     / CAST(n_docs * bucket AS DOUBLE) * 1e4) / 1e4 AS waste_ratio
        FROM g ORDER BY bucket"""
  }

  /** Group-aware (here: source/domain-aware) split audit — the
    * leakage control `split_train_test` can't give: hashing per DOC
    * scatters every domain across train AND test, so near-duplicate
    * pages from one site straddle the boundary (the classic eval
    * contamination channel `split_leakage_audit` then has to catch
    * pair by pair); hashing per SOURCE keeps each domain whole on one
    * side BY CONSTRUCTION. This entry runs both strategies and emits
    * the side-by-side ledger — docs/chars/sources per split plus the
    * leaked-source count (sources with feet in both splits): >0 for
    * by_doc, provably 0 for by_source. Decisions are pure content
    * hashes (zero shuffle, partitioning-independent); only the audit
    * aggregations shuffle, and those are split×strategy-bounded. */
  def splitGrouped: Q = (s, d) => {
    val tagged = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("split_doc",
        when(hashBucket(concat(lit("split:"), col("doc_id").cast("string"))) < 80,
          "train").otherwise("test"))
      .withColumn("split_src",
        when(hashBucket(concat(lit("gsplit:"), col("source"))) < 80, "train")
          .otherwise("test"))
    def audit(strategy: String, splitCol: String) = {
      val leaked = tagged.groupBy(col("source"))
        .agg(countDistinct(col(splitCol)).as("n_splits"))
        .filter(col("n_splits") > 1)
        .agg(count(lit(1)).as("n_leaked_sources"))
      tagged.groupBy(col(splitCol).as("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
          countDistinct(col("source")).as("n_sources"))
        .crossJoin(broadcast(leaked))
        .select(lit(strategy).as("strategy"), col("split"), col("n_docs"),
          col("n_chars"), col("n_sources"), col("n_leaked_sources"))
    }
    audit("by_doc", "split_doc").unionByName(audit("by_source", "split_src"))
  }

  val splitGroupedSql: String = {
    val bDoc = hashBucketSql("'split:' || CAST(doc_id AS VARCHAR)")
    val bSrc = hashBucketSql("'gsplit:' || source")
    def arm(strategy: String, splitCol: String) =
      s"""SELECT '$strategy' AS strategy, $splitCol AS split, count(*) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 count(DISTINCT source) AS n_sources,
                 (SELECT count(*) FROM (
                    SELECT source FROM t GROUP BY source
                    HAVING count(DISTINCT $splitCol) > 1)) AS n_leaked_sources
          FROM t GROUP BY 2"""
    s"""WITH t AS (
          SELECT doc_id, source, n_chars,
                 CASE WHEN $bDoc < 80 THEN 'train' ELSE 'test' END AS split_doc,
                 CASE WHEN $bSrc < 80 THEN 'train' ELSE 'test' END AS split_src
          FROM documents)
        ${arm("by_doc", "split_doc")}
        UNION ALL
        ${arm("by_source", "split_src")}
        ORDER BY strategy, split"""
  }

  val NeymanBudget = 1000

  /** Neyman-allocation stratified sampling design: with a fixed audit
    * budget of $NeymanBudget docs, allocate to each source stratum
    * n_h ∝ N_h·σ_h (minimum-variance allocation for estimating the
    * corpus mean; Neyman 1934) — vs the proportional n_h ∝ N_h
    * baseline ledgered beside it. σ_h comes from exact integer sums
    * (n, Σx, Σx² with the wide product in DECIMAL(38,0)/HUGEINT);
    * the allocation itself is INTEGER arithmetic end to end — each
    * stratum's mass floor(N_h·σ_h·1e4) is a BIGINT, so the shares
    * divide exactly the same way on any engine (no float-sum-order
    * surface across strata). One corpus aggregation; everything
    * after runs on the |sources|-row ledger. */
  def sampleNeyman: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars")).as("sxx"))
    val m = per.withColumn("sd",
        when(col("n") > 1,
          sqrt((col("n").cast("decimal(38,0)") * col("sxx")
              - col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
            / (col("n") * (col("n") - 1)).cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("mass", floor(col("n").cast("double") * col("sd") * 1e4).cast("long"))
    val tot = m.agg(sum(col("mass")).as("tmass"), sum(col("n")).as("n_total"))
    m.crossJoin(broadcast(tot))
      .select(col("source"), col("n"),
        (floor(col("sd") * 1e4) / 1e4).as("sd_chars"), col("mass"),
        // tmass=0 is reachable (all strata single-doc or constant-length):
        // Spark's `div` by zero yields NULL but DuckDB's `//` raises, so
        // guard both engines to an explicit NULL allocation
        expr(s"CASE WHEN tmass > 0 THEN (mass * $NeymanBudget) div tmass END")
          .as("neyman_alloc"),
        expr(s"(n * $NeymanBudget) div n_total").as("prop_alloc"))
  }

  val sampleNeymanSql: String =
    s"""WITH per AS (
          SELECT source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sx,
                 sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
          FROM documents GROUP BY 1),
        m AS (
          SELECT source, n,
                 CASE WHEN n > 1
                      THEN sqrt(CAST(CAST(n AS HUGEINT) * sxx
                                     - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                                / CAST(n * (n - 1) AS DOUBLE))
                      ELSE 0.0 END AS sd
          FROM per),
        w AS (
          SELECT source, n, sd,
                 CAST(floor(CAST(n AS DOUBLE) * sd * 1e4) AS BIGINT) AS mass
          FROM m),
        tot AS (SELECT CAST(sum(mass) AS BIGINT) AS tmass,
                       CAST(sum(n) AS BIGINT) AS n_total FROM w)
        SELECT source, n, floor(sd * 1e4) / 1e4 AS sd_chars, mass,
               CASE WHEN tmass > 0 THEN (mass * $NeymanBudget) // tmass END
                 AS neyman_alloc,
               (n * $NeymanBudget) // n_total AS prop_alloc
        FROM w, tot ORDER BY source"""

  /** Achieved-vs-target mixture report with per-source KL
    * contributions — the drift check a data-mixing pipeline runs
    * after `mix_corpora`: the hash-bucket rule only approximates the
    * fractional weights (w=1.8 delivers ~1.8 copies, not exactly), so
    * this ledger compares the DELIVERED copy distribution p against
    * the weight-implied target q (q_mass = 10·w·N_src, exact BIGINT)
    * and emits each source's share, lift p/q, and KL term p·ln(p/q).
    * The log argument is ONE exact integer ratio (copies·Σq)/(Σc·q)
    * — the `events_cooccur_pmi` parity idiom — and the KL total is
    * left to the reader (per-row terms, no order-dependent float
    * sum, the `graph_modularity` discipline). Two bounded
    * aggregations + two 1-row total broadcasts. */
  def mixKlDivergence: Q = (s, d) => {
    val b = hashBucket(concat(lit("mix:"), col("source"), lit(":"),
      col("doc_id").cast("string")))
    val isOdd = expr("cast(substring(source, 4) as int)") % 2 === 1
    val per = Tables.documents(s, d)
      .select(col("source"), b.as("bucket"), isOdd.as("odd"))
      .withColumn("copies",
        when(col("odd"), lit(1) + when(col("bucket") < 80, 1).otherwise(0))
          .otherwise(when(col("bucket") < 60, 1).otherwise(0)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("copies")).as("copies"),
        (count(lit(1)) * when(min(col("odd")), 18L).otherwise(6L)).as("q_mass"))
    val tot = per.agg(sum(col("copies")).as("ctot"), sum(col("q_mass")).as("qtot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("copies"), col("q_mass"),
        (floor(col("copies").cast("double") / col("ctot").cast("double") * 1e4) / 1e4)
          .as("p_share"),
        (floor(col("q_mass").cast("double") / col("qtot").cast("double") * 1e4) / 1e4)
          .as("q_share"),
        // copies=0 is possible on small/skewed corpora (every even-source
        // doc hashing >= 60): ln(0) is NULL on Spark but an out-of-range
        // ERROR on DuckDB, so guard BOTH engines to an explicit NULL
        when(col("copies") > 0,
          floor((col("copies").cast("decimal(38,0)") * col("qtot")).cast("double")
            / (col("q_mass").cast("decimal(38,0)") * col("ctot")).cast("double")
            * 1e4) / 1e4).as("lift"),
        when(col("copies") > 0,
          floor(col("copies").cast("double") / col("ctot").cast("double")
            * log((col("copies").cast("decimal(38,0)") * col("qtot")).cast("double")
              / (col("q_mass").cast("decimal(38,0)") * col("ctot")).cast("double"))
            * 1e6) / 1e6).as("kl_term"))
  }

  val mixKlDivergenceSql: String = {
    val bkt = hashBucketSql("'mix:' || source || ':' || CAST(doc_id AS VARCHAR)")
    s"""WITH t AS (
          SELECT source, CAST(substr(source, 4) AS INT) % 2 = 1 AS odd,
                 $bkt AS bucket
          FROM documents),
        per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN odd THEN 1 + (CASE WHEN bucket < 80 THEN 1 ELSE 0 END)
                          ELSE (CASE WHEN bucket < 60 THEN 1 ELSE 0 END) END) AS BIGINT)
                   AS copies,
                 CAST(count(*) * (CASE WHEN min(odd) THEN 18 ELSE 6 END) AS BIGINT)
                   AS q_mass
          FROM t GROUP BY 1),
        tot AS (SELECT CAST(sum(copies) AS BIGINT) AS ctot,
                       CAST(sum(q_mass) AS BIGINT) AS qtot FROM per)
        SELECT source, n_docs, copies, q_mass,
               floor(CAST(copies AS DOUBLE) / CAST(ctot AS DOUBLE) * 1e4) / 1e4
                 AS p_share,
               floor(CAST(q_mass AS DOUBLE) / CAST(qtot AS DOUBLE) * 1e4) / 1e4
                 AS q_share,
               CASE WHEN copies > 0 THEN
                 floor(CAST(CAST(copies AS HUGEINT) * qtot AS DOUBLE)
                       / CAST(CAST(q_mass AS HUGEINT) * ctot AS DOUBLE) * 1e4) / 1e4
                 END AS lift,
               CASE WHEN copies > 0 THEN
                 floor(CAST(copies AS DOUBLE) / CAST(ctot AS DOUBLE)
                       * ln(CAST(CAST(copies AS HUGEINT) * qtot AS DOUBLE)
                            / CAST(CAST(q_mass AS HUGEINT) * ctot AS DOUBLE))
                       * 1e6) / 1e6 END AS kl_term
        FROM per, tot ORDER BY source"""
  }

  /** Epoch-shuffle interleaving quality: training order matters — a
    * corpus read source-by-source gives the optimizer long
    * single-domain stretches — and the deterministic fix is ordering
    * by a content hash (reproducible on any cluster, no RNG state:
    * the same discipline as every split/sample entry). This ledger
    * MEASURES the fix: same-source run lengths under the hash order
    * vs the source-sorted baseline (n_runs, max_run, mean_run — the
    * sorted arm degenerates to one run per source, the shuffled arm
    * should sit near mean_run ≈ 1/(1−Σp²)). Run segmentation is
    * adjacency in a TOTAL order, but a PREFIX of the order key is a
    * valid partition of that order: breaks inside a prefix bucket come
    * from a bucket-partitioned lag (balanced — md5-prefix buckets
    * don't skew, source buckets are the sorted arm's natural runs),
    * and breaks at bucket seams from one lag over the per-bucket
    * (first,last)-source endpoints — |buckets| rows, KBs at any
    * corpus size. No unpartitioned corpus window; the sum of inner
    * and seam breaks is exactly the global lag's count. */
  def shuffleQuality: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
      .withColumn("h", md5(concat(lit("ep0:"), col("doc_id").cast("string"))))
    def arm(layout: String, bkt: Column, order: Seq[Column]) = {
      val w = Window.partitionBy(col("bkt")).orderBy(order: _*)
      // ONE corpus pass per arm: the break lag and the per-bucket order
      // endpoints share the same bucket-hash exchange (the groupBy(bkt)
      // directly after a bkt-partitioned window adds no shuffle)
      val perB = docs.withColumn("bkt", bkt)
        .withColumn("brk",
          when(lag(col("source"), 1).over(w).isNotNull &&
            lag(col("source"), 1).over(w) =!= col("source"), 1L).otherwise(0L))
        .groupBy(col("bkt")).agg(
          count(lit(1)).as("n_docs_b"), sum(col("brk")).as("inner_b"),
          min(struct(order :+ col("source").as("src"): _*)).getField("src")
            .as("first_src"),
          max(struct(order :+ col("source").as("src"): _*)).getField("src")
            .as("last_src"))
      val wB = Window.orderBy(col("bkt"))
      perB.withColumn("sbrk",
          when(lag(col("last_src"), 1).over(wB).isNull ||
            lag(col("last_src"), 1).over(wB) =!= col("first_src"), 1L).otherwise(0L))
        .agg(sum(col("n_docs_b")).as("n_docs"),
          (sum(col("inner_b")) + sum(col("sbrk"))).as("n_runs"))
        .select(lit(layout).as("layout"), col("n_docs"), col("n_runs"),
          (floor(col("n_docs").cast("double") / col("n_runs").cast("double") * 1e4)
            / 1e4).as("mean_run"))
    }
    val sorted = arm("source_sorted", col("source"), Seq(col("doc_id")))
    val shuffled = arm("hash_shuffled", substring(col("h"), 1, 2),
      Seq(col("h"), col("doc_id")))
    sorted.unionByName(shuffled)
  }

  val shuffleQualitySql: String = {
    def arm(layout: String, order: String) =
      s"""SELECT '$layout' AS layout, count(*) AS n_docs,
                 CAST(sum(brk) AS BIGINT) AS n_runs,
                 floor(CAST(count(*) AS DOUBLE) / CAST(sum(brk) AS DOUBLE) * 1e4) / 1e4
                   AS mean_run
          FROM (
            SELECT CASE WHEN lag(source) OVER (ORDER BY $order) IS NULL
                          OR lag(source) OVER (ORDER BY $order) <> source
                        THEN 1 ELSE 0 END AS brk
            FROM t) x"""
    s"""WITH t AS (
          SELECT doc_id, source,
                 md5('ep0:' || CAST(doc_id AS VARCHAR)) AS h
          FROM documents)
        ${arm("source_sorted", "source, doc_id")}
        UNION ALL
        ${arm("hash_shuffled", "h, doc_id")}
        ORDER BY layout"""
  }

  // -------------------------------------------------------------- coreset

  /** Centers selected by the farthest-point pass. */
  val CoresetK = 8

  /** Decision-key quantization for the maximin argmax: squared L2
    * distances floor to a 1e-6 integer grid before ranking, so the
    * ONLY float surface in the selection decision is a quantity both
    * engines compute with the identical left-fold op sequence
    * (graft_dot == a DuckDB list_reduce replay, 0.0-seeded ascending),
    * then ties break on vec_id. */
  private def coresetDq = "CAST(floor((graft_dot(v, v) + graft_dot(cv, cv) - " +
    "2 * graft_dot(v, cv)) * 1e6) AS BIGINT)"

  /** Diverse coreset selection — greedy farthest-point (k-center /
    * Gonzalez) sampling over the embedding space: start from the min
    * vec_id, then [[CoresetK]]−1 times pick the point FARTHEST from its
    * nearest already-chosen center (maximin). The classic diverse-
    * subset pass of a data-selection pipeline (coverage, not density —
    * the complement of `sample_stratified`), and the 2-approximation to
    * the optimal k-center cover. Emits the center ledger with each
    * pick's maximin radius — the radius sequence is non-increasing and
    * IS the k-center cost curve.
    *
    * Scale shape: each of the K−1 rounds is one narrow pass over the
    * embeddings (crossJoin with a BROADCAST 1-row new-center frame, a
    * running elementwise `least` against the materialized previous
    * min-distance column, lineage cut per round) + one bounded
    * TakeOrdered pick — K corpus passes total, no corpus×corpus
    * distance matrix, no unbounded collect (the driver holds K
    * vectors, the IVF-codebook bounded class). */
  def sampleCoreset: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val first = emb.orderBy(col("vec_id")).limit(1).collect()(0)
    var centers = Vector[(Int, Long, Seq[Double], Long)](
      (1, first.getLong(0), first.getSeq[Double](1), 0L))
    var mind: DataFrame = null
    for (k <- 2 to CoresetK) {
      val cDf = Seq(Tuple1(centers.last._3)).toDF("cv")
      val dNew = emb.crossJoin(broadcast(cDf))
        .select(col("vec_id"), expr(coresetDq).as("dnew"))
      mind = graft.Checkpoints.cut(
        if (mind == null) dNew.select(col("vec_id"), col("dnew").as("mind"))
        else mind.join(dNew, "vec_id")
          .select(col("vec_id"), least(col("mind"), col("dnew")).as("mind")))
      val pick = mind.orderBy(col("mind").desc, col("vec_id")).limit(1).collect()(0)
      val (pid, pd) = (pick.getLong(0), pick.getLong(1))
      val pv = emb.filter(col("vec_id") === pid)
        .select(col("v")).collect()(0).getSeq[Double](0)
      centers :+= ((k, pid, pv, pd))
    }
    centers.map { case (k, id, _, dq) => (k, id, dq / 1e6) }
      .toDF("k", "vec_id", "radius")
  }

  /** DuckDB replay: the same K−1 unrolled rounds; the dot product is a
    * 0.0-seeded ascending list_reduce — the exact op sequence of the
    * graft_dot loop, so the quantized decision keys are bit-equal. */
  val sampleCoresetSql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0e0, list_transform(range(1, len($a) + 1), " +
        s"i -> $a[i] * $b[i])), (acc, x) -> acc + x)"
    def dq(ev: String, cv: String) =
      s"CAST(floor((${dot(ev, ev)} + ${dot(cv, cv)} - 2 * ${dot(ev, cv)}) * 1e6) AS BIGINT)"
    val rounds = (2 to CoresetK).map { k =>
      val (p, c, dPrev, dCur) = (s"p$k", s"c$k", s"d${k - 1}", s"d$k")
      val base =
        s"""$p AS (SELECT vec_id, mind FROM $dPrev ORDER BY mind DESC, vec_id LIMIT 1),
           $c AS (SELECT e.vec_id AS cid, e.v AS cv, q.mind FROM emb e JOIN $p q USING (vec_id))"""
      if (k == CoresetK) base
      else base + s""",
           $dCur AS (SELECT x.vec_id, least(x.mind, ${dq("e.v", "c.cv")}) AS mind
                     FROM $dPrev x JOIN emb e USING (vec_id) CROSS JOIN $c c)"""
    }.mkString(",\n         ")
    val outs = (2 to CoresetK)
      .map(k => s"SELECT $k AS k, cid AS vec_id, mind / 1e6 AS radius FROM c$k")
      .mkString("\n         UNION ALL ")
    s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         c1 AS (SELECT vec_id AS cid, v AS cv FROM emb ORDER BY vec_id LIMIT 1),
         d1 AS (SELECT e.vec_id, ${dq("e.v", "c.cv")} AS mind FROM emb e CROSS JOIN c1 c),
         $rounds
         SELECT 1 AS k, cid AS vec_id, 0.0e0 AS radius FROM c1
         UNION ALL $outs
         ORDER BY k"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("sample_coreset", sampleCoreset, Some(sampleCoresetSql)),
    ("pack_shuffle_quality", shuffleQuality, Some(shuffleQualitySql)),
    ("mix_kl_divergence", mixKlDivergence, Some(mixKlDivergenceSql)),
    ("split_grouped", splitGrouped, Some(splitGroupedSql)),
    ("sample_neyman", sampleNeyman, Some(sampleNeymanSql)),
    ("pack_length_buckets", lengthBuckets, Some(lengthBucketsSql)),
    ("sample_poisson", samplePoisson, Some(samplePoissonSql)),
    ("pipeline_repro_ledger", reproLedger, Some(reproLedgerSql)),
    ("pack_curriculum", packCurriculum, Some(packCurriculumSql)),
    ("split_temporal", splitTemporal, Some(splitTemporalSql)),
    ("pack_best_fit", packBestFit, Some(packBestFitSql)),
    ("sample_weighted", sampleWeighted, Some(sampleWeightedSql)),
    ("pipeline_end_to_end", endToEnd, Some(endToEndSql)),
    ("split_train_test", splitTrainTest, Some(splitTrainTestSql)),
    ("mix_corpora", mixCorpora, Some(mixCorporaSql)),
    ("pack_token_budget", packTokenBudget, Some(packTokenBudgetSql)),
    ("pack_boundary_offsets", packBoundaryOffsets, Some(packBoundaryOffsetsSql)),
    ("pack_mask_density", packMaskDensity, Some(packMaskDensitySql)),
    ("pack_padding_waste", packPaddingWaste, Some(packPaddingWasteSql)),
    ("curate_quality_band", curateQualityBand, Some(curateQualityBandSql)),
    ("curate_domain_cap", curateDomainCap, Some(curateDomainCapSql)),
    ("pipeline_dataset_card", datasetCard, Some(datasetCardSql)),
    ("mix_budget_apportion", budgetApportion, Some(budgetApportionSql)),
    ("split_kfold", splitKfold, Some(splitKfoldSql)),
    ("split_purged_cv", splitPurgedCv, Some(splitPurgedCvSql)),
    ("text_tfidf_topk", tfidfTopk, Some(tfidfTopkSql)),
    ("sample_stratified", sampleStratified, Some(sampleStratifiedSql)),
    ("sample_class_balanced", sampleClassBalanced, Some(sampleClassBalancedSql)),
    ("sample_reservoir", sampleReservoir, Some(sampleReservoirSql)))


}
