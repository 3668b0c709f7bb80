package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-hygiene operators — the cross-document cleaning passes a
  * pretraining pipeline runs between dedup and mixing: boilerplate
  * segment removal (C4-style "repeated line" dedup), benchmark
  * decontamination (n-gram overlap against an eval split), within-doc
  * repetition scoring (the Gopher/MassiveText repetition filter), and
  * temperature-based multilingual rebalancing (the mC4/XLM-R α-sampling
  * rule).
  *
  * The reference collector has no text surface; these extend the
  * LLM-data-pipeline block the engine mandates (SURVEY §2 third block).
  *
  * Scale shape: segment/n-gram generation is a narrow
  * explode; document frequencies take ONE count shuffle keyed by the
  * segment string (heavy-hitter segments are exactly the boilerplate
  * being hunted, and they collapse to one row per segment in the
  * map-side combine). Decontamination broadcasts the eval side's
  * distinct n-grams (eval suites are MBs, corpora are TBs — the
  * asymmetry IS the design). Repetition scoring is per-row narrow math.
  * Temperature rebalancing broadcasts a |languages|-row rate table.
  * Everything is integer arithmetic except one sqrt, so every entry is
  * oracle-exact.
  */
object Curation {

  type Q = (SparkSession, String) => DataFrame

  import TextAnalysis.{toksExpr, toksSqlExpr, trunc4}

  // ---------------------------------------------------------- boilerplate

  /** Segment width for boilerplate detection: non-overlapping 5-token
    * chunks stand in for "lines" (the corpus carries no newlines). */
  val SegTokens = 5

  /** C4-style boilerplate dedup: a segment that appears in ≥ 2 distinct
    * documents is boilerplate (nav bars, license headers, repeated
    * footers at web scale); every document reports how much of it
    * survives. Two shuffles total — one count by segment (map-side
    * combine collapses repeats), one count by document — joined on the
    * (distinct-segment-sized, not corpus-sized) frequency table. All
    * counts are integers: engine-exact. */
  def dedupBoilerplate: Q = (s, d) => {
    val segs = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode(expr(
          s"""CASE WHEN size(toks) >= $SegTokens
                THEN transform(sequence(0, size(toks) DIV $SegTokens - 1),
                               i -> array_join(slice(toks, i * $SegTokens + 1, $SegTokens), ' '))
                ELSE array() END""")).as("seg"))
    val freq = segs.groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
    segs.join(freq, Seq("seg"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_segments"),
        count(when(col("df") >= 2, 1)).as("n_boiler_segments"))
      .withColumn("kept_tokens",
        col("n_tokens") - col("n_boiler_segments") * SegTokens)
  }

  val dedupBoilerplateSql: String =
    s"""WITH segs AS (
          SELECT doc_id, len(toks) AS n_tokens,
                 unnest(list_transform(range(0, len(toks) // $SegTokens),
                        i -> array_to_string(toks[i * $SegTokens + 1 : i * $SegTokens + $SegTokens], ' '))) AS seg
          FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents)),
        freq AS (SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY seg)
        SELECT s.doc_id, CAST(max(s.n_tokens) AS INT) AS n_tokens,
               count(*) AS n_segments,
               count(*) FILTER (WHERE f.df >= 2) AS n_boiler_segments,
               CAST(max(s.n_tokens) - count(*) FILTER (WHERE f.df >= 2) * $SegTokens AS BIGINT) AS kept_tokens
        FROM segs s JOIN freq f USING (seg)
        GROUP BY s.doc_id ORDER BY s.doc_id"""

  // -------------------------------------------------------- contamination

  /** Overlap n-gram width (GPT-3 used 13, The Pile 8 — 8 fits the test
    * corpus' 10-token minimum). */
  val ContamN = 8

  /** Benchmark decontamination: which training documents share any
    * 8-token span with the held-out eval source (`src0` plays the eval
    * suite)? The eval side's distinct n-grams are BROADCAST — an eval
    * suite is MBs while the corpus is TBs, so the corpus-side pass is
    * one narrow explode + broadcast semi-match + one count by doc_id,
    * never a corpus×corpus join. Output = the contaminated doc list a
    * decontamination pass would drop. Pure string/int: engine-exact. */
  def textContamination: Q = (s, d) => {
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("source"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        s"""CASE WHEN size(toks) >= $ContamN
              THEN transform(sequence(0, size(toks) - $ContamN),
                             i -> array_join(slice(toks, i + 1, $ContamN), ' '))
              ELSE array() END""")).as("gram"))
    val docs = Tables.documents(s, d)
    val evalGrams = grams(docs.filter(col("source") === "src0"))
      .select(col("gram")).distinct()
    grams(docs.filter(col("source") =!= "src0"))
      .select(col("doc_id"), col("source"), col("gram")).distinct()
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_shared_ngrams"))
  }

  val textContaminationSql: String =
    s"""WITH g AS (
          SELECT doc_id, source,
                 unnest(list_transform(range(0, len(toks) - ${ContamN - 1}),
                        i -> array_to_string(toks[i + 1 : i + $ContamN], ' '))) AS gram
          FROM (SELECT doc_id, source, $toksSqlExpr AS toks FROM documents)),
        ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
        tr AS (SELECT DISTINCT doc_id, source, gram FROM g WHERE source <> 'src0')
        SELECT tr.doc_id, tr.source, count(*) AS n_shared_ngrams
        FROM tr JOIN ev USING (gram)
        GROUP BY tr.doc_id, tr.source ORDER BY tr.doc_id"""

  // ----------------------------------------------------------- repetition

  /** Within-document repetition score (the Gopher quality filter):
    * fraction of duplicate tokens and duplicate 3-grams inside each
    * document. Pure narrow per-row math over the token array — zero
    * shuffle at any corpus size. Ratios floor-truncated at 4dp (the
    * engine-stable rounding); the pass flag applies Gopher's
    * "fraction of duplicate 3-grams ≤ 0.75"-style threshold, adapted
    * to the synthetic corpus' small vocabulary. */
  def textRepetition: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct_tokens"),
        expr("""CASE WHEN size(toks) >= 3
                  THEN transform(sequence(0, size(toks) - 3),
                                 i -> array_join(slice(toks, i + 1, 3), ' '))
                  ELSE array() END""").as("g3"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        size(col("g3")).as("n_3grams"),
        size(array_distinct(col("g3"))).as("n_distinct_3grams"))
      .withColumn("dup_token_frac",
        trunc4((col("n_tokens") - col("n_distinct_tokens")) * lit(1.0) /
          greatest(col("n_tokens"), lit(1))))
      .withColumn("dup_3gram_frac",
        trunc4((col("n_3grams") - col("n_distinct_3grams")) * lit(1.0) /
          greatest(col("n_3grams"), lit(1))))
      .withColumn("pass_filter", col("dup_3gram_frac") <= 0.2)
  }

  val textRepetitionSql: String =
    s"""WITH g AS (
          SELECT doc_id, len(toks) AS n_tokens,
                 len(list_distinct(toks)) AS n_distinct_tokens,
                 list_transform(range(0, len(toks) - 2),
                                i -> array_to_string(toks[i + 1 : i + 3], ' ')) AS g3
          FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents))
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               CAST(n_distinct_tokens AS INT) AS n_distinct_tokens,
               CAST(len(g3) AS INT) AS n_3grams,
               CAST(len(list_distinct(g3)) AS INT) AS n_distinct_3grams,
               floor((n_tokens - n_distinct_tokens) * 1.0 / greatest(n_tokens, 1) * 10000) / 10000.0 AS dup_token_frac,
               floor((len(g3) - len(list_distinct(g3))) * 1.0 / greatest(len(g3), 1) * 10000) / 10000.0 AS dup_3gram_frac,
               floor((len(g3) - len(list_distinct(g3))) * 1.0 / greatest(len(g3), 1) * 10000) / 10000.0 <= 0.2 AS pass_filter
        FROM g ORDER BY doc_id"""

  // ---------------------------------------------------------- temperature

  /** Sampling temperature α: keep rate per language ∝ p_lang^(α-1),
    * normalized so the smallest language keeps 100%. */
  val TempAlpha = 0.5

  /** Temperature-based multilingual rebalancing (mC4/XLM-R): flatten
    * the language distribution by keeping each document of language l
    * with probability (n_min/n_l)^(1-α) = sqrt(n_min/n_l) at α = 0.5 —
    * the high-resource language is downsampled hardest, the rarest
    * keeps everything. The rate table is |languages| rows, computed in
    * one aggregation and BROADCAST back onto the corpus; membership is
    * the same content-hash bucket rule as the split/stratified ops
    * (deterministic, partitioning-independent, re-runnable). Float
    * surface is one sqrt of one division (both correctly-rounded IEEE
    * ops) floored into an integer threshold — engine-exact. */
  def mixTemperature: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // n_min via an unpartitioned window — it runs over the |languages|-row
    // AGGREGATE (≤ a few hundred rows at any corpus size), not the corpus,
    // so the single-partition window is free and the corpus is scanned once.
    val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_orig"))
      .withColumn("n_min", min(col("n_orig")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("keep_per_10k",
        floor(sqrt(col("n_min").cast("double") / col("n_orig").cast("double")) * 10000)
          .cast("long"))
      .select(col("lang"), col("n_orig"), col("keep_per_10k"))
    val bucket = conv(substring(md5(concat(lit("temp:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 10000
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(broadcast(rates), Seq("lang"))
      .filter(bucket < col("keep_per_10k"))
      .groupBy(col("lang"))
      .agg(max(col("n_orig")).as("n_orig"),
        max(col("keep_per_10k")).as("keep_per_10k"),
        count(lit(1)).as("n_kept"),
        sum(ceil(col("n_chars") / 4.0).cast("long")).as("tok_est"))
  }

  val mixTemperatureSql: String =
    """WITH rates AS (
         SELECT lang, count(*) AS n_orig,
                CAST(floor(sqrt(CAST(min(count(*)) OVER () AS DOUBLE)
                                / CAST(count(*) AS DOUBLE)) * 10000) AS BIGINT) AS keep_per_10k
         FROM documents GROUP BY lang)
       SELECT d.lang, max(r.n_orig) AS n_orig, max(r.keep_per_10k) AS keep_per_10k,
              count(*) AS n_kept,
              CAST(sum(CAST(ceil(d.n_chars / 4.0) AS BIGINT)) AS BIGINT) AS tok_est
       FROM documents d JOIN rates r ON d.lang = r.lang
       WHERE ('0x' || substring(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000
             < r.keep_per_10k
       GROUP BY d.lang ORDER BY d.lang"""

  // ----------------------------------------------------------- perplexity

  /** Vocabulary cap for the LM scorers. The model tables broadcast to
    * every executor, so their size must be bounded BY CONSTRUCTION,
    * not by luck of the corpus: the top-K terms by count keep their
    * own probability mass and everything else folds into one OOV
    * bucket carrying the whole tail's mass. 64Ki terms is a few MB of
    * broadcast at any corpus size; the top-K itself is a bounded
    * TakeOrderedAndProject over the term-count aggregate (terms ≪
    * tokens), never a sort of the corpus. */
  val LmVocabK = 65536

  /** OOV sentinel — `toksExpr` lowercases, so an uppercase sentinel
    * cannot collide with a real term. */
  val OovTerm = "<OOV>"

  /** Unigram LM cross-entropy scoring (the CCNet-style quality filter):
    * score each document by the mean surprisal −ln p(token) of its
    * tokens under the CORPUS unigram distribution — low = head-like
    * text, high = rare-token soup. The language model is one count
    * aggregation capped to [[LmVocabK]] terms + an OOV bucket and
    * broadcast back onto the corpus; the per-document sum is an
    * order-FIXED fold over the sorted surprisal list, so engines
    * accumulate the identical IEEE sequence (summation order is the
    * parity hazard, not ln itself — both engines' ln are
    * correctly-rounded on these few-hundred distinct rationals, the
    * same contract `text_tfidf_topk` already relies on). */
  def textPerplexity: Q = textPerplexityAt(LmVocabK)

  /** Train the capped unigram model in ONE corpus pass: `rollup(term)`
    * emits per-term counts PLUS the grand-total row (term IS NULL), so
    * ordering the total row first lets a single bounded
    * TakeOrderedAndProject (limit K+2) carry the whole model — top-K
    * terms, corpus size, and (via the K+1-th sentinel row) whether a
    * tail exists. The K+2-row collect is the broadcastable LM itself
    * (same bounded-collect class as the IVF codebook): returns
    * (total, top-K (term, cnt) pairs, tail-exists flag). */
  private[graft] def lmVocabModel(s: SparkSession, d: String, k: Int)
      : (Long, Array[(String, Long)], Boolean) = {
    val rows = Tables.documents(s, d)
      .select(explode(expr(toksExpr)).as("term"))
      .rollup(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("term").isNull.desc, col("cnt").desc, col("term"))
      .limit(k + 2)
      .collect()
    // an empty corpus rolls up to no row at all, not a zero total
    if (rows.isEmpty) (0L, Array.empty, false)
    else {
      val terms = rows.tail.map(r => (r.getString(0), r.getLong(1)))
      (rows.head.getLong(1), terms.take(k), terms.length > k)
    }
  }

  /** The capped unigram model as a broadcastable (term, surprisal)
    * table plus the surprisal of the OOV bucket (0 when no tail was
    * cut): the model `text_perplexity` and `text_ccnet_buckets` both
    * score with. */
  private def unigramSurprisal(s: SparkSession, d: String, k: Int): (DataFrame, Double) = {
    import s.implicits._
    val (total, topk, _) = lmVocabModel(s, d, k)
    val kept = topk.map(_._2).sum
    // driver-side Math.log is the same correctly-rounded ln the Spark
    // `log` codegen calls — cross-engine parity unchanged
    val vocab = topk.toSeq
      .map { case (t, c) => (t, -math.log(c.toDouble / total.toDouble)) }
      .toDF("term", "surprisal")
    val oovSurprisal =
      if (total > kept) -math.log((total - kept).toDouble / total.toDouble) else 0.0
    (vocab, oovSurprisal)
  }

  /** The per-document fold every LM scorer ends in: per `keys` group,
    * the unit count `n` and the surprisal sum `total` over the SORTED
    * surprisal list, so both engines accumulate the identical IEEE
    * sequence. */
  private def sortedSurprisalSum(scored: DataFrame, keys: Seq[String], n: String,
      total: String): DataFrame =
    scored.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(n),
        expr("aggregate(array_sort(collect_list(surprisal)), 0.0e0, (a, x) -> a + x)")
          .as(total))

  /** Per-document cross-entropy (mean surprisal over `n` units, floored
    * to 4 dp) and the `pass_filter` flag at `passMax`. */
  private def crossEntropy(scored: DataFrame, n: String, passMax: Double): DataFrame =
    sortedSurprisalSum(scored, Seq("doc_id"), n, "sum_surprisal")
      .select(col("doc_id"), col(n),
        (floor(col("sum_surprisal") / col(n) * 1e4) / 1e4).as("cross_entropy"))
      .withColumn("pass_filter", col("cross_entropy") <= passMax)

  /** Cap-parameterized body — `CurationSpec` exercises a tiny K so the
    * OOV path is tested even though the default cap is larger than the
    * test corpus' vocabulary (at which point the output is bit-equal
    * to the uncapped model). */
  private[graft] def textPerplexityAt(k: Int): Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
    val (vocab, oovSurprisal) = unigramSurprisal(s, d, k)
    crossEntropy(toks.join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"),
        coalesce(col("surprisal"), lit(oovSurprisal)).as("surprisal")), "n_tokens", 4.0)
  }

  val textPerplexitySql: String =
    s"""WITH toks AS (
          SELECT doc_id, unnest($toksSqlExpr) AS term FROM documents),
        counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        topk AS (SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT $LmVocabK),
        tot AS (SELECT sum(cnt) AS total FROM counts),
        kept AS (SELECT sum(cnt) AS kept FROM topk),
        vocab AS (
          SELECT term, -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) AS surprisal
          FROM topk CROSS JOIN tot),
        oov AS (
          SELECT CASE WHEN total > kept
                      THEN -ln(CAST(total - kept AS DOUBLE) / CAST(total AS DOUBLE))
                      ELSE 0.0e0 END AS oov_surprisal
          FROM tot CROSS JOIN kept),
        docs AS (
          SELECT t.doc_id, count(*) AS n_tokens,
                 list_reduce(list_prepend(0.0e0,
                   list_sort(list(coalesce(v.surprisal, o.oov_surprisal)))),
                             (a, x) -> a + x) AS sum_surprisal
          FROM toks t LEFT JOIN vocab v USING (term) CROSS JOIN oov o
          GROUP BY t.doc_id)
        SELECT doc_id, n_tokens,
               floor(sum_surprisal / n_tokens * 1e4) / 1e4 AS cross_entropy,
               floor(sum_surprisal / n_tokens * 1e4) / 1e4 <= 4.0 AS pass_filter
        FROM docs ORDER BY doc_id"""

  // -------------------------------------------------------------- novelty

  /** Content novelty — what does each document ADD to the corpus
    * already ingested before it (doc_id order = ingestion order)?
    * novelty = fraction of the doc's distinct 8-grams whose FIRST
    * corpus occurrence is this doc. The dedup-adjacent curation signal
    * ("is this doc new information or a remix"): low novelty + not an
    * exact dup = heavy overlap with earlier docs.
    *
    * Shape (r16): ONE linear pipeline — explode the per-doc distinct
    * grams hashed to their 128-bit md5 (the gram STRING never crosses
    * the wire, the dedup_substring discipline: ~50 raw bytes → 32 hex
    * chars, collision-immeasurable and replayed identically by the
    * oracle), then `min(doc_id) OVER (PARTITION BY gram)` on the one
    * gram-keyed exchange, then the per-doc count aggregation. The
    * former groupBy(gram) + join-back re-derived the corpus explode
    * twice and paid a third corpus-sized exchange + sort-merge join;
    * the window form needs two exchanges total and no join. Integers +
    * one floored division. */
  def textNovelty: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $ContamN
              THEN array_distinct(transform(sequence(0, size(toks) - $ContamN),
                             i -> md5(array_join(slice(toks, i + 1, $ContamN), ' '))))
              ELSE array() END""")).as("gram"))
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
      .withColumn("novelty",
        floor(col("n_novel") * 1e4 / col("n_grams")) / 1e4)
  }

  val textNoveltySql: String =
    s"""WITH g AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(0, len(toks) - ${ContamN - 1}),
                        i -> md5(array_to_string(toks[i + 1 : i + $ContamN], ' ')))) AS gram
          FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents)),
        f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        SELECT g.doc_id, count(*) AS n_grams,
               count(*) FILTER (WHERE f.first_doc = g.doc_id) AS n_novel,
               floor(count(*) FILTER (WHERE f.first_doc = g.doc_id) * 1e4 / count(*)) / 1e4
                 AS novelty
        FROM g JOIN f USING (gram)
        GROUP BY g.doc_id ORDER BY g.doc_id"""

  // --------------------------------------------------- substring dedup

  /** Duplicate-span window width (tokens). */
  val SpanW = 8

  /** Span-level (substring) deduplication — the scalable re-expression
    * of suffix-array dedup (Lee et al. 2021, "Deduplicating Training
    * Data Makes Language Models Better"): a suffix array does not
    * distribute, but its product — "which ≥W-token spans occur more
    * than once in the corpus" — is exactly the set of W-token sliding
    * windows with corpus frequency ≥ 2 (every duplicated span of
    * length ≥ W contains only duplicated windows, and maximal runs of
    * duplicated windows reconstruct the spans). So: one narrow
    * positional window explode, ONE count shuffle keyed by the 128-bit
    * md5 of the window text (the window STRING never crosses the wire —
    * at 100 TB the two window shuffles are each several× the corpus if
    * keyed on the raw ~W·avg_token bytes, vs a flat 32-hex-char
    * signature here; 128 bits is collision-safe at any corpus scale),
    * then per-document interval-union of the flagged windows via
    * a gaps-and-islands pass (never a ×W position explode). Output per
    * document: how many tokens sit inside some corpus-duplicated span.
    * All integers — engine-exact (both engines key on identical md5
    * hex). Contract note: duplicate detection is exact MODULO md5
    * collisions — a colliding pair of distinct windows would falsely
    * flag a unique window as duplicated; at 128 bits the probability
    * is ~n²/2^129 (immeasurable at any real corpus size), and the
    * oracle replays the same hash, so the two engines cannot disagree
    * about it. */
  def dedupSubstring: Q = (s, d) => {
    // referenced three times below (frequency pass, dup join, per-doc
    // totals): one cut = one tokenize+window+md5 pass, not three
    val wins = graft.Checkpoints.cutLazy(Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode(expr(
          s"""CASE WHEN size(toks) >= $SpanW
                THEN transform(sequence(0, size(toks) - $SpanW),
                               i -> struct(i AS pos, md5(array_join(slice(toks, i + 1, $SpanW), ' ')) AS sig))
                ELSE array() END""")).as("w"))
      .select(col("doc_id"), col("n_tokens"), col("w.pos").as("pos"), col("w.sig").as("sig")))
    val freq = wins.groupBy(col("sig")).agg(count(lit(1)).as("occ"))
    val dup = wins.join(freq.filter(col("occ") >= 2), Seq("sig"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = dup
      .withColumn("prev_end", max(col("pos") + SpanW).over(
        wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") > col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        wDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_wins"),
        (max(col("pos") + SpanW) - min(col("pos"))).as("covered"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(sum(col("n_wins")).as("n_dup_windows"),
        sum(col("covered")).as("dup_covered_tokens"))
    val totals = wins.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_windows"))
    totals.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_covered_tokens"), lit(0L)).as("dup_covered_tokens"))
      .withColumn("dup_frac",
        floor(col("dup_covered_tokens") * 1e4 / col("n_tokens")) / 1e4)
  }

  val dedupSubstringSql: String =
    s"""WITH wins AS (
          SELECT doc_id, len(toks) AS n_tokens, w.i AS pos,
                 md5(w.win) AS sig
          FROM (SELECT doc_id, toks,
                       unnest(list_transform(range(0, len(toks) - ${SpanW - 1}),
                              i -> {'i': i, 'win': array_to_string(toks[i + 1 : i + $SpanW], ' ')})) AS w
                FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents))),
        freq AS (SELECT sig, count(*) AS occ FROM wins GROUP BY sig),
        dup AS (SELECT wins.* FROM wins JOIN freq USING (sig) WHERE freq.occ >= 2),
        isl AS (
          SELECT doc_id, island, count(*) AS n_wins,
                 max(pos + $SpanW) - min(pos) AS covered
          FROM (
            SELECT doc_id, pos,
                   sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT doc_id, pos,
                         max(pos + $SpanW) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                  FROM dup))
          GROUP BY doc_id, island),
        per_doc AS (
          SELECT doc_id, CAST(sum(n_wins) AS BIGINT) AS n_dup_windows,
                 CAST(sum(covered) AS BIGINT) AS dup_covered_tokens
          FROM isl GROUP BY doc_id),
        totals AS (SELECT doc_id, max(n_tokens) AS nt, count(*) AS n_windows FROM wins GROUP BY doc_id)
        SELECT t.doc_id, CAST(t.nt AS BIGINT) AS n_tokens, t.n_windows,
               coalesce(p.n_dup_windows, 0) AS n_dup_windows,
               coalesce(p.dup_covered_tokens, 0) AS dup_covered_tokens,
               floor(coalesce(p.dup_covered_tokens, 0) * 1e4 / t.nt) / 1e4 AS dup_frac
        FROM totals t LEFT JOIN per_doc p USING (doc_id)
        ORDER BY t.doc_id"""

  // ------------------------------------------------------ bigram LM

  /** Bigram language model with add-one smoothing, scoring each
    * document's cross-entropy under the corpus-trained model — the
    * next step up from `text_perplexity`'s unigram scorer (CCNet-style
    * quality signal that penalizes improbable token SEQUENCES, not
    * just rare tokens). Tokens outside the top-[[LmVocabK]] unigram
    * vocabulary fold into [[OovTerm]] BEFORE pairing, so the history
    * table is ≤ K+1 rows by construction (broadcastable at any corpus
    * size) and the bigram table ≤ (K+1)². Training is two count
    * aggregations (bigram and history); scoring joins each document's
    * bigrams to the count table — a shuffle join, because at 100 TB
    * the bigram table is corpus-sized and must NOT be broadcast (the
    * history table is vocabulary-sized and is). Surprisal
    * ln((c1+V)/(c12+1)) is one IEEE log of one exact integer ratio;
    * the per-doc sum uses the order-fixed sorted fold, so it is
    * bit-identical cross-engine. */
  def textBigramLm: Q = textBigramLmAt(LmVocabK)

  /** Cap-parameterized body; V under the cap is min(|vocab|, K+1) —
    * the K kept terms plus the OOV bucket when a tail exists. The
    * history table c1 re-aggregates the (K+1)²-bounded bigram table
    * instead of re-scanning the corpus. */
  private[graft] def textBigramLmAt(k: Int): Q = (s, d) => {
    val (_, topk, hasTail) = lmVocabModel(s, d, k)
    val v = topk.length.toLong + (if (hasTail) 1L else 0L)
    val (bigrams, c2) = foldedBigrams(s, d, topk)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val scored = c2.join(broadcast(c1), Seq("w1"))
      .select(col("w1"), col("w2"),
        log((col("c1") + lit(v)).cast("double") / (col("c12") + 1).cast("double"))
          .as("surprisal"))
    crossEntropy(bigrams.join(scored, Seq("w1", "w2")), "n_bigrams", 5.0)
  }

  /** The corpus bigrams with both tokens folded into the `topk`
    * vocabulary ([[OovTerm]] outside it), and their (w1, w2, c12) count
    * table: the model both bigram LMs train on and score. Both frames
    * are cut: `bigrams` is read twice (training and scoring), so the
    * corpus explode + vocab fold runs one pass, not two; `c2` is the
    * (K+1)²-bounded model table, cut so its consumers re-aggregate the
    * small table instead of the corpus (guide §2.4). */
  private def foldedBigrams(s: SparkSession, d: String, topk: Array[(String, Long)])
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val vocabDf = topk.toSeq.map(_._1).toDF("t")
    val rawBigrams = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> struct(toks[i] AS w1, toks[i + 1] AS w2))
             ELSE array() END""")).as("b"))
      .select(col("doc_id"), col("b.w1").as("rw1"), col("b.w2").as("rw2"))
    val bigrams = graft.Checkpoints.cutLazy(rawBigrams
      .join(broadcast(vocabDf.select(col("t").as("rw1"), lit(1).as("in1"))),
        Seq("rw1"), "left")
      .join(broadcast(vocabDf.select(col("t").as("rw2"), lit(1).as("in2"))),
        Seq("rw2"), "left")
      .select(col("doc_id"),
        when(col("in1").isNotNull, col("rw1")).otherwise(lit(OovTerm)).as("w1"),
        when(col("in2").isNotNull, col("rw2")).otherwise(lit(OovTerm)).as("w2")))
    val c2 = graft.Checkpoints.cutLazy(
      bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    (bigrams, c2)
  }

  val textBigramLmSql: String =
    s"""WITH b0 AS (
          SELECT doc_id, p.w1 AS rw1, p.w2 AS rw2
          FROM (SELECT doc_id,
                       unnest(list_transform(range(0, len(toks) - 1),
                              i -> {'w1': toks[i + 1], 'w2': toks[i + 2]})) AS p
                FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents))),
        terms AS (SELECT unnest($toksSqlExpr) AS t FROM documents),
        topk AS (SELECT t FROM (SELECT t, count(*) AS cnt FROM terms GROUP BY t)
                 ORDER BY cnt DESC, t LIMIT $LmVocabK),
        b AS (SELECT doc_id,
                     CASE WHEN k1.t IS NOT NULL THEN rw1 ELSE '$OovTerm' END AS w1,
                     CASE WHEN k2.t IS NOT NULL THEN rw2 ELSE '$OovTerm' END AS w2
              FROM b0 LEFT JOIN topk k1 ON b0.rw1 = k1.t
                      LEFT JOIN topk k2 ON b0.rw2 = k2.t),
        c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
        v AS (SELECT least(count(DISTINCT t), $LmVocabK + 1) AS v FROM terms),
        scored AS (
          SELECT w1, w2, ln(CAST(c1 + v AS DOUBLE) / CAST(c12 + 1 AS DOUBLE)) AS surprisal
          FROM c2 JOIN c1 USING (w1) CROSS JOIN v),
        docs AS (
          SELECT b.doc_id, count(*) AS n_bigrams,
                 list_reduce(list_prepend(0.0e0, list_sort(list(s.surprisal))),
                             (a, x) -> a + x) AS sum_surprisal
          FROM b JOIN scored s USING (w1, w2)
          GROUP BY b.doc_id)
        SELECT doc_id, n_bigrams,
               floor(sum_surprisal / n_bigrams * 1e4) / 1e4 AS cross_entropy,
               floor(sum_surprisal / n_bigrams * 1e4) / 1e4 <= 5.0 AS pass_filter
        FROM docs ORDER BY doc_id"""

  // ----------------------------------------------- Kneser-Ney bigram LM

  /** Absolute discount for the Kneser-Ney smoother — the standard 0.75
    * (Chen & Goodman 1999). Rendered as the exact IEEE literal 0.75e0
    * in the shared probability expression. */
  val KnDiscount = "0.75e0"

  /** The interpolated-KN probability expression, evaluated VERBATIM by
    * both engines over identically-named count columns — the same
    * generated-SQL parity discipline as the wire-encoding entries. All
    * inputs are exact integers cast to double at the leaves; both
    * engines then execute the identical IEEE op sequence, so the result
    * (and its ln) is bit-identical. c12 ≥ 1 for every scored bigram
    * (the model trains on the corpus it scores), so c12 − d > 0 and no
    * max(·, 0) clamp is needed. */
  private val knSurprisalExpr: String =
    s"-ln(((CAST(c12 AS DOUBLE) - $KnDiscount) / CAST(c1 AS DOUBLE)) + " +
      s"((($KnDiscount * CAST(n1f AS DOUBLE)) / CAST(c1 AS DOUBLE)) * " +
      "(CAST(n1p AS DOUBLE) / CAST(nbb AS DOUBLE))))"

  /** Bigram LM with interpolated Kneser-Ney smoothing — the n-gram
    * smoother that held the pre-neural SOTA (Chen & Goodman 1999) and
    * the natural upgrade to `text_bigram_lm`'s add-one: instead of one
    * pseudo-count everywhere, KN discounts every seen bigram by a fixed
    * d = 0.75 and redistributes the held-out mass through a CONTINUATION
    * unigram — P_cont(w) = |distinct histories preceding w| / |distinct
    * bigram types| — so "francisco" (frequent but only ever after "san")
    * stops inflating unseen-context probabilities.
    *
    * P_KN(w₂|w₁) = (c(w₁,w₂) − d)/c(w₁) + (d·N₁₊(w₁,•)/c(w₁)) · P_cont(w₂)
    *
    * Scale shape is identical to the add-one sibling: tokens fold to
    * the top-[[LmVocabK]]+OOV vocabulary BEFORE pairing, so every model
    * table (c1/N₁₊(w₁,•) by history, N₁₊(•,w₂) by continuation, the
    * 1-row bigram-type count) derives from the (K+1)²-bounded c2 table
    * with NO extra corpus pass; history/continuation tables are ≤ K+1
    * rows and broadcast; scoring joins the corpus bigrams to c2 with a
    * shuffle join (c2 is (K+1)²-bounded but NOT broadcastable at
    * K = 64Ki). Per-doc sum uses the order-fixed sorted fold. */
  def textBigramLmKn: Q = textBigramLmKnAt(LmVocabK)

  /** Cap-parameterized body — CurationSpec-style tiny-K exercises the
    * OOV fold; at K ≥ |vocab| the model is the uncapped KN exactly. */
  private[graft] def textBigramLmKnAt(k: Int): Q = (s, d) => {
    val (_, topk, _) = lmVocabModel(s, d, k)
    // the c2 cut is MORE load-bearing here than in the add-one sibling:
    // c2 feeds FOUR consumers (c1, n1p, nbb, scored) — uncut, each
    // re-ran the corpus explode + bigram aggregation
    val (bigrams, c2) = foldedBigrams(s, d, topk)
    // history table: total count AND distinct-continuation count per w1
    val c1 = c2.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    // continuation table: distinct-history count per w2
    val n1p = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val nbb = c2.agg(count(lit(1)).as("nbb"))
    val scored = c2
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(n1p), Seq("w2"))
      .crossJoin(broadcast(nbb))
      .select(col("w1"), col("w2"), expr(knSurprisalExpr).as("surprisal"))
    crossEntropy(bigrams.join(scored, Seq("w1", "w2")), "n_bigrams", 4.5)
  }

  val textBigramLmKnSql: String =
    s"""WITH b0 AS (
          SELECT doc_id, p.w1 AS rw1, p.w2 AS rw2
          FROM (SELECT doc_id,
                       unnest(list_transform(range(0, len(toks) - 1),
                              i -> {'w1': toks[i + 1], 'w2': toks[i + 2]})) AS p
                FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents))),
        terms AS (SELECT unnest($toksSqlExpr) AS t FROM documents),
        topk AS (SELECT t FROM (SELECT t, count(*) AS cnt FROM terms GROUP BY t)
                 ORDER BY cnt DESC, t LIMIT $LmVocabK),
        b AS (SELECT doc_id,
                     CASE WHEN k1.t IS NOT NULL THEN rw1 ELSE '$OovTerm' END AS w1,
                     CASE WHEN k2.t IS NOT NULL THEN rw2 ELSE '$OovTerm' END AS w2
              FROM b0 LEFT JOIN topk k1 ON b0.rw1 = k1.t
                      LEFT JOIN topk k2 ON b0.rw2 = k2.t),
        c2 AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1, count(*) AS n1f
               FROM c2 GROUP BY 1),
        n1p AS (SELECT w2, count(*) AS n1p FROM c2 GROUP BY 1),
        nbb AS (SELECT count(*) AS nbb FROM c2),
        scored AS (
          SELECT w1, w2, $knSurprisalExpr AS surprisal
          FROM c2 JOIN c1 USING (w1) JOIN n1p USING (w2) CROSS JOIN nbb),
        docs AS (
          SELECT b.doc_id, count(*) AS n_bigrams,
                 list_reduce(list_prepend(0.0e0, list_sort(list(s.surprisal))),
                             (a, x) -> a + x) AS sum_surprisal
          FROM b JOIN scored s USING (w1, w2)
          GROUP BY b.doc_id)
        SELECT doc_id, n_bigrams,
               floor(sum_surprisal / n_bigrams * 1e4) / 1e4 AS cross_entropy,
               floor(sum_surprisal / n_bigrams * 1e4) / 1e4 <= 4.5 AS pass_filter
        FROM docs ORDER BY doc_id"""

  // -------------------------------------------------- chunking w/ overlap

  /** Chunk width and stride (overlap = [[ChunkW]] − [[ChunkStride]] =
    * 16 tokens) — the sliding-window tokenizer discipline used to cut
    * long documents into training sequences / RAG passages without
    * losing cross-boundary context. */
  val ChunkW = 64
  val ChunkStride = 48

  /** Sliding-window chunking with overlap: each document is cut into
    * [[ChunkW]]-token windows starting every [[ChunkStride]] tokens;
    * the last window starts at the smallest multiple of the stride
    * that reaches the document's end (so nothing is dropped and no
    * fully-redundant tail chunk is emitted). Emits one row per chunk
    * with its offsets and an md5 fingerprint — the downstream
    * dedup/packing key.
    *
    * Scale shape: a pure map-side explode — ZERO shuffles at any
    * corpus size. Chunk count is start-arithmetic, computed
    * identically by both engines in exact integers. */
  def textChunkOverlap: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CASE WHEN size(toks) <= $ChunkW THEN 0
              ELSE CAST((size(toks) - $ChunkW + $ChunkStride - 1) DIV $ChunkStride AS INT) END),
            i -> struct(i AS chunk_id, i * $ChunkStride AS start_tok,
                        slice(toks, i * $ChunkStride + 1, $ChunkW) AS ctoks))""")).as("c"))
      .select(col("doc_id"),
        col("c.chunk_id").cast("long").as("chunk_id"),
        col("c.start_tok").cast("long").as("start_tok"),
        size(col("c.ctoks")).as("n_tok"),
        md5(array_join(col("c.ctoks"), " ")).as("sig"))
  }

  val textChunkOverlapSql: String =
    s"""WITH docs AS (SELECT doc_id, $toksSqlExpr AS toks FROM documents),
        c AS (
          SELECT doc_id,
                 unnest(list_transform(range(0, 1 + CASE WHEN len(toks) <= $ChunkW THEN 0
                        ELSE (len(toks) - $ChunkW + ${ChunkStride - 1}) // $ChunkStride END),
                        i -> {'chunk_id': i, 'start_tok': i * $ChunkStride,
                              'ctoks': toks[i * $ChunkStride + 1 : i * $ChunkStride + $ChunkW]})) AS u
          FROM docs)
        SELECT doc_id, u.chunk_id AS chunk_id, u.start_tok AS start_tok,
               CAST(len(u.ctoks) AS INT) AS n_tok,
               md5(array_to_string(u.ctoks, ' ')) AS sig
        FROM c ORDER BY doc_id, chunk_id"""

  // ------------------------------------------- CCNet perplexity buckets

  /** CCNet-style quality bucketing (Wenzek et al. 2020): score every
    * document by unigram-LM cross-entropy (the `text_perplexity`
    * scorer), then split EACH LANGUAGE into head / middle / tail
    * terciles by score — the published recipe keeps "head" (and
    * sometimes "middle") per language so low-resource languages are
    * never starved by a global threshold.
    *
    * The tercile boundaries are found WITHOUT any corpus sort: scores
    * quantize to an integer 1e-4 grid (the same trunc4 the scorer
    * already emits), one (lang, grid-cell) count aggregation builds a
    * bounded histogram (≤ |grid| rows per language at ANY corpus
    * size), prefix-sum windows over that histogram find the cut
    * points, and a |languages|-row boundary table broadcasts back —
    * the `q_weighted_percentile` two-pass discipline applied to
    * curation. Cumulative counts are exact integers (`3·cum ≥ n`
    * avoids division entirely), so bucket assignment is engine-exact. */
  def textCcnetBuckets: Q = textCcnetBucketsAt(LmVocabK)

  private[graft] def textCcnetBucketsAt(k: Int): Q = (s, d) => {
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(expr(toksExpr)).as("term"))
    val (vocab, oovSurprisal) = unigramSurprisal(s, d, k)
    val docCe = sortedSurprisalSum(toks.join(broadcast(vocab), Seq("term"), "left")
        .select(col("doc_id"), col("lang"),
          coalesce(col("surprisal"), lit(oovSurprisal)).as("surprisal")),
        Seq("doc_id", "lang"), "n_tokens", "ss")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("ss") / col("n_tokens") * 1e4).cast("long").as("ce_q"))
    // grid is the bounded per-language histogram, but it is referenced
    // twice (cum→bounds and the final bucket join) and each reference
    // re-derives the CORPUS-sized docCe pass (token explode + vocab
    // join + sorted-surprisal aggregate). One lazy cut = one corpus
    // pass (guide §2.4); the materialized frame is ≤ |langs|·|grid|
    // rows (SPINE class).
    val grid = graft.Checkpoints.cutLazy(docCe.groupBy(col("lang"), col("ce_q"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens")))
    // prefix sums over the BOUNDED per-language histogram, never the corpus
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("ce_q"))
    val cum = grid
      .withColumn("cum", sum(col("n_docs")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("n_lang", sum(col("n_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
    val bounds = cum.groupBy(col("lang")).agg(
      min(when(col("cum") * 3 >= col("n_lang"), col("ce_q"))).as("b1"),
      min(when(col("cum") * 3 >= col("n_lang") * 2, col("ce_q"))).as("b2"))
    grid.join(broadcast(bounds), Seq("lang"))
      .withColumn("bucket",
        when(col("ce_q") <= col("b1"), "head")
          .when(col("ce_q") <= col("b2"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (min(col("ce_q")) / 1e4).as("ce_min"),
        (max(col("ce_q")) / 1e4).as("ce_max"))
  }

  val textCcnetBucketsSql: String =
    s"""WITH toks AS (
          SELECT doc_id, lang, unnest($toksSqlExpr) AS term FROM documents),
        counts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        topk AS (SELECT term, cnt FROM counts ORDER BY cnt DESC, term LIMIT $LmVocabK),
        tot AS (SELECT sum(cnt) AS total FROM counts),
        kept AS (SELECT sum(cnt) AS kept FROM topk),
        vocab AS (
          SELECT term, -ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) AS surprisal
          FROM topk CROSS JOIN tot),
        oov AS (
          SELECT CASE WHEN total > kept
                      THEN -ln(CAST(total - kept AS DOUBLE) / CAST(total AS DOUBLE))
                      ELSE 0.0e0 END AS oov_surprisal
          FROM tot CROSS JOIN kept),
        doc_ce AS (
          SELECT t.doc_id, t.lang, count(*) AS n_tokens,
                 CAST(floor(list_reduce(list_prepend(0.0e0,
                        list_sort(list(coalesce(v.surprisal, o.oov_surprisal)))),
                        (a, x) -> a + x) / count(*) * 1e4) AS BIGINT) AS ce_q
          FROM toks t LEFT JOIN vocab v USING (term) CROSS JOIN oov o
          GROUP BY t.doc_id, t.lang),
        grid AS (SELECT lang, ce_q, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
                 FROM doc_ce GROUP BY 1, 2),
        cum AS (SELECT lang, ce_q, n_docs, n_tokens,
                       sum(n_docs) OVER (PARTITION BY lang ORDER BY ce_q
                         ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(n_docs) OVER (PARTITION BY lang) AS n_lang
                FROM grid),
        bounds AS (SELECT lang,
                          min(CASE WHEN cum * 3 >= n_lang THEN ce_q END) AS b1,
                          min(CASE WHEN cum * 3 >= n_lang * 2 THEN ce_q END) AS b2
                   FROM cum GROUP BY lang)
        SELECT g.lang,
               CASE WHEN g.ce_q <= b.b1 THEN 'head'
                    WHEN g.ce_q <= b.b2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(sum(g.n_docs) AS BIGINT) AS n_docs,
               CAST(sum(g.n_tokens) AS BIGINT) AS n_tokens,
               min(g.ce_q) / 1e4 AS ce_min, max(g.ce_q) / 1e4 AS ce_max
        FROM grid g JOIN bounds b USING (lang)
        GROUP BY 1, 2 ORDER BY lang, bucket"""

  // ------------------------------------------------------- BPE training

  /** Merge rounds for the BPE ledger. Each round = one count pass +
    * one merge-apply pass over the word-TYPE table. */
  val BpeRounds = 3

  /** BPE vocabulary learning (Sennrich et al. 2016) — the tokenizer-
    * induction step of a training-data pipeline, re-expressed on the
    * classic discipline that makes it tractable at corpus scale: train
    * on the WORD-FREQUENCY VOCABULARY, not on corpus positions. One
    * corpus pass builds the (word type, count) table; every merge round
    * then touches only that types table (types ≪ tokens at any corpus
    * size). Per round: adjacent-pair counts weighted by word frequency
    * (overlapping occurrences counted, as `get_stats` does), the top
    * pair picked by (count desc, pair lexicographic) — a 1-row
    * bounded collect, same audited class as the LM vocab model — and
    * the merge applied greedily left-to-right. Greedy application is
    * window-expressible: for x ≠ y two matches can never be adjacent
    * (a match at i+1 would force y = x), and for x == y matches come in
    * consecutive runs where greedy keeps the EVEN offsets — so islands
    * of consecutive matches (gaps-and-islands) + offset parity replay
    * the sequential scan exactly, with no recursion. Emits the merge
    * ledger: (round, pair, weighted count, weighted symbol mass after).
    *
    * Scale shape: one corpus count shuffle, then [[BpeRounds]] rounds
    * of types-table windows all partitioned by word (one partitioning
    * reused across every window) — never a corpus-sized window, never
    * an unbounded collect. */
  def textBpeTrain: Q = (s, d) => {
    import s.implicits._
    val types = Tables.documents(s, d)
      .select(explode(expr(toksExpr)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val t0 = types.select(col("word"), col("freq"),
      posexplode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")))
      .withColumnRenamed("pos", "pos").withColumnRenamed("col", "sym")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("word")).orderBy(col("pos"))
    def round(t: org.apache.spark.sql.DataFrame): (org.apache.spark.sql.DataFrame, String, String, Long) = {
      val top = t.withColumn("nxt", lead(col("sym"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("x"), col("nxt").as("y"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y"))
        .limit(1).collect()(0)
      val (x, y, cnt) = (top.getString(0), top.getString(1), top.getLong(2))
      val merged = t
        .withColumn("nxt", lead(col("sym"), 1).over(w))
        .withColumn("m", col("sym") === x && col("nxt") === y)
        .withColumn("island", sum(when(col("m"), 0).otherwise(1)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .withColumn("off", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("word"), col("island"), col("m")).orderBy(col("pos"))) - 1)
        .withColumn("start", col("m") && col("off") % 2 === 0)
        .withColumn("drop_me", coalesce(lag(col("start"), 1).over(w), lit(false)))
        .filter(!col("drop_me"))
        .select(col("word"), col("freq"),
          row_number().over(w).as("pos"),
          when(col("start"), lit(x + y)).otherwise(col("sym")).as("sym"))
      (merged, x, y, cnt)
    }
    // lineage cut per round (the Pregel idiom): each round's top-pair
    // collect and mass aggregate read the materialized previous state
    // instead of re-executing every earlier round's windows
    var t = graft.Checkpoints.cut(
      t0.select(col("word"), col("freq"), (col("pos") + 1).as("pos"), col("sym")))
    val rows = (1 to BpeRounds).map { r =>
      val (merged, x, y, cnt) = round(t)
      t = graft.Checkpoints.cut(merged)
      val mass = t.agg(sum(col("freq"))).collect()(0).getLong(0)
      (r, x, y, cnt, mass)
    }
    rows.toDF("round", "w1", "w2", "pair_freq", "n_symbols_after")
  }

  /** The DuckDB replay unrolls the same [[BpeRounds]] rounds as CTEs;
    * each round's state table is referenced twice (top pick + next
    * state), so inlining costs ≤ 2^rounds evaluations of the TYPES
    * table — small at gate scale, and the Spark side reuses the
    * shuffle instead. */
  val textBpeTrainSql: String = {
    def roundCtes(r: Int): String = {
      val t = s"t$r"; val top = s"top$r"; val nt = s"t${r + 1}"
      s"""$top AS (
            SELECT sym AS x, nxt AS y, cnt, CAST($r AS INT) AS round
            FROM (SELECT sym, nxt, CAST(sum(freq) AS BIGINT) AS cnt
                  FROM (SELECT sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt, freq
                        FROM $t)
                  WHERE nxt IS NOT NULL GROUP BY 1, 2)
            ORDER BY cnt DESC, x, y LIMIT 1),
          $nt AS (
            SELECT word, freq, row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
                   CASE WHEN start THEN x || y ELSE sym END AS sym
            FROM (
              SELECT word, freq, pos, sym, x, y, start,
                     coalesce(lag(start) OVER (PARTITION BY word ORDER BY pos), false) AS drop_me
              FROM (
                SELECT word, freq, pos, sym, x, y,
                       m AND (row_number() OVER (PARTITION BY word, island, m ORDER BY pos) - 1) % 2 = 0 AS start
                FROM (
                  SELECT word, freq, pos, sym, x, y, m,
                         sum(CASE WHEN m THEN 0 ELSE 1 END)
                           OVER (PARTITION BY word ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
                  FROM (SELECT word, freq, pos, sym, x, y,
                               sym = x AND lead(sym) OVER (PARTITION BY word ORDER BY pos) = y AS m
                        FROM $t CROSS JOIN $top))))
            WHERE NOT drop_me)"""
    }
    val ctes = (1 to BpeRounds).map(roundCtes).mkString(",\n        ")
    val outs = (1 to BpeRounds).map { r =>
      s"""SELECT round, x AS w1, y AS w2, cnt AS pair_freq,
             (SELECT CAST(sum(freq) AS BIGINT) FROM t${r + 1}) AS n_symbols_after
          FROM top$r"""
    }.mkString("\n        UNION ALL\n        ")
    s"""WITH types AS (
          SELECT word, count(*) AS freq
          FROM (SELECT unnest($toksSqlExpr) AS word FROM documents)
          GROUP BY word),
        t1 AS (
          SELECT word, freq, u.i AS pos, u.s AS sym
          FROM (SELECT word, freq,
                       unnest(list_transform(range(1, len(word) + 1),
                              i -> {'i': i, 's': word[i:i]})) AS u
                FROM types)),
        $ctes
        $outs
        ORDER BY round"""
  }

  // ----------------------------------------------------------- DSIR

  /** Feature-hash buckets for DSIR (2^11 — the published recipe hashes
    * bigrams into a fixed bucket space so the model is bounded by
    * construction, like the LM vocab cap). */
  val DsirBuckets = 2048

  /** Selected fraction: keep the top quarter by importance weight. */
  val DsirKeepNum = 1
  val DsirKeepDen = 4

  /** DSIR — Data Selection with Importance Resampling (Xie et al.
    * 2023): score every raw document by how much more likely its
    * hashed-bigram features are under the TARGET distribution (the
    * `src0` corpus, the same eval-suite convention `text_contamination`
    * uses) than under the raw pool, then keep the top quarter.
    * log-importance(doc) = Σ_features ln p̂_target(b) − ln p̂_raw(b)
    * with add-one smoothing over the [[DsirBuckets]] bucket space.
    *
    * Scale shape: both feature models are ≤ 2048-row aggregates
    * (broadcast); scoring is one narrow pass over raw-doc bigrams +
    * a per-doc order-fixed sorted fold; the selection threshold comes
    * from the `q_weighted_percentile` grid discipline — weights
    * quantize to the 1e-4 integer grid, one histogram aggregation +
    * a descending TWO-LEVEL prefix sum (per-cell running sums on a
    * ≤4096-cell grid, cross-cell carry over the per-cell totals — the
    * distinct-weight histogram grows with the pool, so it never meets
    * an unpartitioned window) find the smallest weight with ≥ 25% of
    * docs above it (4·cum ≥ n, division-free), and a 1-row threshold
    * broadcasts back. No corpus sort, no unbounded state; ties at the
    * threshold are kept (deterministic over-selection). */
  def mixDsir: Q = (s, d) => {
    // referenced three times below (target model, raw model, scoring):
    // one lineage cut = one tokenize+bigram+bucket pass, not three
    val bigrams = graft.Checkpoints.cutLazy(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks) - 2),
                            i -> concat(toks[i], ' ', toks[i + 1]))
             ELSE array() END""")).as("bg"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("dsir:"), col("bg"))), 1, 8), 16, 10)
          .cast("long") % DsirBuckets)
      .select(col("doc_id"), col("source"), col("bucket")))
    def model(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("bucket")).agg(count(lit(1)).as("c"))
    val grid = s.range(DsirBuckets).select(col("id").as("bucket"))
    val tgt = model(bigrams.filter(col("source") === "src0"))
    val raw = model(bigrams.filter(col("source") =!= "src0"))
    val nt = tgt.agg(sum(col("c")).as("nt"))
    val nr = raw.agg(sum(col("c")).as("nr"))
    val logratio = grid
      .join(broadcast(tgt.withColumnRenamed("c", "ct")), Seq("bucket"), "left")
      .join(broadcast(raw.withColumnRenamed("c", "cr")), Seq("bucket"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("bucket"), expr(
        s"""ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE)) -
            ln(CAST(coalesce(cr, 0) + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE))""")
        .as("lr"))
    val docW = bigrams.filter(col("source") =!= "src0")
      .join(broadcast(logratio), Seq("bucket"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_feats"),
        expr("aggregate(array_sort(collect_list(lr)), 0.0e0, (a, x) -> a + x)").as("wsum"))
      .select(col("doc_id"), col("source"), col("n_feats"),
        floor(col("wsum") * 1e4).cast("long").as("wq"))
    // descending prefix sum over the weight histogram via the two-level
    // decomposition (`q_concurrency` discipline): a (lo,hi,n) aggregate
    // fixes a ≤4096-cell grid over the quantized-weight range, per-cell
    // running sums shuffle-partition by cell, and the cross-cell carry is
    // one window over the ≤4097-row per-cell totals — the histogram is
    // corpus-derived (distinct quantized weights grow with the pool), so
    // no unpartitioned window may see it whole.
    val W = org.apache.spark.sql.expressions.Window
    // one corpus pass: docW (the expensive bigram/log-ratio pipeline)
    // feeds the histogram chain AND the final per-source aggregation —
    // a lazy plan cut makes every consumer read the same materialized
    // blocks instead of re-deriving the pipeline per Catalyst branch
    val docWCut = graft.Checkpoints.cutLazy(docW)
    val hist = graft.Checkpoints.cutLazy(
      docWCut.groupBy(col("wq")).agg(count(lit(1)).as("n_docs")))
    val bounds = hist.agg(min(col("wq")).as("lo"), max(col("wq")).as("hi"),
      sum(col("n_docs")).as("n"))
    val cells = hist.crossJoin(broadcast(bounds))
      .withColumn("cell", expr("(wq - lo) div greatest(1L, (hi - lo) div 4096 + 1)"))
    val inCell = cells.withColumn("wcum", sum(col("n_docs")).over(
      W.partitionBy(col("cell")).orderBy(col("wq").desc)
        .rowsBetween(W.unboundedPreceding, 0)))
    val carry = cells.groupBy(col("cell")).agg(sum(col("n_docs")).as("cdocs"))
      .withColumn("carry", coalesce(sum(col("cdocs")).over(
        W.orderBy(col("cell").desc).rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("cell"), col("carry"))
    val thr = inCell.join(broadcast(carry), Seq("cell"))
      .agg(max(when((col("carry") + col("wcum")) * DsirKeepDen >= col("n") * DsirKeepNum,
        col("wq"))).as("thr"))
    docWCut.crossJoin(broadcast(thr))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("wq") >= col("thr"), 1)).as("n_selected"),
        coalesce(sum(when(col("wq") >= col("thr"), col("n_feats"))), lit(0L)).as("sel_feats"),
        (max(col("thr")) / 1e4).as("w_threshold"))
  }

  val mixDsirSql: String =
    s"""WITH bg AS (
          SELECT doc_id, source,
                 ('0x' || substring(md5('dsir:' || b), 1, 8))::BIGINT % $DsirBuckets AS bucket
          FROM (SELECT doc_id, source,
                       unnest(list_transform(range(0, len(toks) - 1),
                              i -> toks[i + 1] || ' ' || toks[i + 2])) AS b
                FROM (SELECT doc_id, source, $toksSqlExpr AS toks FROM documents))),
        tgt AS (SELECT bucket, count(*) AS ct FROM bg WHERE source = 'src0' GROUP BY 1),
        raw AS (SELECT bucket, count(*) AS cr FROM bg WHERE source <> 'src0' GROUP BY 1),
        nt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tgt),
        nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM raw),
        logratio AS (
          SELECT g.bucket,
                 ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE) / CAST(nt + $DsirBuckets AS DOUBLE)) -
                 ln(CAST(coalesce(cr, 0) + 1 AS DOUBLE) / CAST(nr + $DsirBuckets AS DOUBLE)) AS lr
          FROM (SELECT unnest(range(0, $DsirBuckets)) AS bucket) g
          LEFT JOIN tgt ON g.bucket = tgt.bucket
          LEFT JOIN raw ON g.bucket = raw.bucket
          CROSS JOIN nt CROSS JOIN nr),
        doc_w AS (
          SELECT b.doc_id, b.source, count(*) AS n_feats,
                 CAST(floor(list_reduce(list_prepend(0.0e0, list_sort(list(l.lr))),
                            (a, x) -> a + x) * 1e4) AS BIGINT) AS wq
          FROM bg b JOIN logratio l USING (bucket)
          WHERE b.source <> 'src0'
          GROUP BY b.doc_id, b.source),
        hist AS (SELECT wq, count(*) AS n_docs FROM doc_w GROUP BY wq),
        thr AS (
          SELECT max(CASE WHEN cum * $DsirKeepDen >= n * $DsirKeepNum THEN wq END) AS thr
          FROM (SELECT wq, sum(n_docs) OVER (ORDER BY wq DESC ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(n_docs) OVER () AS n
                FROM hist))
        SELECT source, count(*) AS n_docs,
               count(*) FILTER (WHERE wq >= thr) AS n_selected,
               CAST(coalesce(sum(n_feats) FILTER (WHERE wq >= thr), 0) AS BIGINT) AS sel_feats,
               max(thr) / 1e4 AS w_threshold
        FROM doc_w CROSS JOIN thr
        GROUP BY source ORDER BY source"""

  // ------------------------------------------------- epoch upsampling

  /** Epoch cap for the smallest sources. */
  val MaxEpochs = 4

  /** Epoch-based upsampling — the mixing rule LLM data recipes publish
    * as "source × epochs" tables: each source is repeated
    * ceil(max_source_tokens / source_tokens) times (capped) so small
    * high-value sources approach token parity with the largest. The
    * rate table is one |sources|-row aggregate (the n_min window trick
    * from `mix_temperature`); replication is a broadcast join + one
    * `explode(sequence(1, epochs))` — a narrow, shuffle-free fanout
    * that at 100 TB writes each copy with a distinct epoch tag instead
    * of physically re-reading the source. Integer arithmetic
    * throughout (integer ceil-division) — engine-exact. */
  def mixEpochUpsample: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        ceil(col("n_chars") / 4.0).cast("long").as("tok"))
    val rates = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_src"))
      .withColumn("tok_max", max(col("tok_src")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("epochs",
        least(lit(MaxEpochs),
          expr("(tok_max + tok_src - 1) DIV tok_src")).cast("int"))
      .select(col("source"), col("n_docs"), col("tok_src"), col("epochs"))
    docs.join(broadcast(rates), Seq("source"))
      .select(col("source"), col("tok"), col("epochs"),
        explode(expr("sequence(1, epochs)")).as("epoch"))
      .groupBy(col("source"), col("epoch"))
      .agg(max(col("epochs")).as("epochs"),
        count(lit(1)).as("n_rows"), sum(col("tok")).as("tok_out"))
  }

  val mixEpochUpsampleSql: String =
    s"""WITH docs AS (
          SELECT doc_id, source, CAST(ceil(n_chars / 4.0) AS BIGINT) AS tok FROM documents),
        rates AS (
          SELECT source, count(*) AS n_docs, sum(tok) AS tok_src,
                 CAST(least($MaxEpochs,
                   (max(sum(tok)) OVER () + sum(tok) - 1) // sum(tok)) AS INT) AS epochs
          FROM docs GROUP BY source)
        SELECT d.source, CAST(e.epoch AS INT) AS epoch, max(r.epochs) AS epochs,
               count(*) AS n_rows, CAST(sum(d.tok) AS BIGINT) AS tok_out
        FROM docs d JOIN rates r USING (source),
             LATERAL (SELECT unnest(generate_series(1, r.epochs)) AS epoch) e
        GROUP BY d.source, e.epoch
        ORDER BY d.source, e.epoch"""

  // --------------------------------------------------- anneal schedule

  /** Total token budget; the final 1/5 is the anneal phase. */
  val AnnealBudget = 1000000L
  val AnnealPhase2Den = 5L
  /** Up-weight applied to top-half-quality sources in the anneal. */
  val AnnealUpWeight = 2L

  /** Two-phase data-mixing schedule — the published mid-training
    * "anneal" practice (spend the last slice of the token budget
    * re-weighted toward the highest-quality sources): phase 1 (4/5 of
    * [[AnnealBudget]]) apportions tokens proportional to each source's
    * volume; phase 2 (the last 1/5) multiplies the top half of sources
    * BY QUALITY by [[AnnealUpWeight]] before apportioning. Quality
    * ranking needs no float mean: per-doc scores are already on the
    * 1e-4 grid (the shared `curate_quality_band` labeler), so sources
    * rank by the integer quotient (Σ quantized score ·1e6) DIV n_docs,
    * ties by source name. Both phases use the exact largest-remainder
    * integer apportionment (`mix_budget_apportion` discipline, same
    * budget·weight < 2^63 headroom contract). One corpus pass; every
    * window runs over the |sources|-row (or 2·|sources|-row) quota
    * table. */
  def mixAnneal: Q = (s, d) => {
    val W = org.apache.spark.sql.expressions.Window
    val per = Tables.documents(s, d)
      .select(col("source"), col("text"), expr(TextAnalysis.toksExpr).as("toks"))
      .select(col("source"), expr("size(toks)").cast("long").as("nt"),
        TextAnalysis.qualityScoreCol.as("score"))
      .select(col("source"), col("nt"),
        // the score is already on the 1e-4 grid (trunc4'd) — round()
        // recovers the exact integer against the ±ulp of k/1e4·1e4
        expr("CAST(round(score * 10000) AS BIGINT)").as("sq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok"),
        sum(col("sq")).as("sqsum"))
    val tiered = per
      .withColumn("q_rank", row_number().over(
        W.orderBy(expr("(sqsum * 1000000) DIV n_docs").desc, col("source"))))
      .withColumn("n_src", count(lit(1)).over(W.partitionBy()))
      .withColumn("weight",
        when(col("q_rank") * 2 <= col("n_src"), lit(AnnealUpWeight)).otherwise(lit(1L)))
    val p2Budget = AnnealBudget / AnnealPhase2Den
    val phases = tiered
      .select(lit(1).as("phase"), col("source"), col("weight"), col("tok").as("wtok"))
      .unionByName(tiered.select(lit(2).as("phase"), col("source"), col("weight"),
        (col("tok") * col("weight")).as("wtok")))
      .withColumn("budget",
        when(col("phase") === 1, lit(AnnealBudget - p2Budget)).otherwise(lit(p2Budget)))
    val wP = W.partitionBy(col("phase"))
    phases
      .withColumn("tw", sum(col("wtok")).over(wP))
      .withColumn("base", expr("(budget * wtok) DIV tw"))
      .withColumn("rem", expr("(budget * wtok) % tw"))
      .withColumn("leftover", col("budget") - sum(col("base")).over(wP))
      .withColumn("rk", row_number().over(
        wP.orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc", col("base") + (col("rk") <= col("leftover")).cast("long"))
      .select(col("phase").cast("int").as("phase"), col("source"),
        col("weight"), col("alloc"),
        (floor(col("alloc") * lit(1000000) / col("budget")) / 1e6).as("phase_share"))
  }

  val mixAnnealSql: String = {
    val p2 = AnnealBudget / AnnealPhase2Den
    val p1 = AnnealBudget - p2
    s"""WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(nt) AS BIGINT) AS tok,
                 CAST(sum(sq) AS BIGINT) AS sqsum
          FROM (SELECT source,
                       CAST(len(${TextAnalysis.toksSqlExpr}) AS BIGINT) AS nt,
                       CAST(round((${TextAnalysis.qualityScoreSqlExpr}) * 10000) AS BIGINT) AS sq
                FROM documents) t
          GROUP BY source),
        tiered AS (
          SELECT *,
                 row_number() OVER (ORDER BY (sqsum * 1000000) // n_docs DESC, source)
                   AS q_rank,
                 count(*) OVER () AS n_src
          FROM per),
        tw AS (
          SELECT CASE WHEN q_rank * 2 <= n_src THEN ${AnnealUpWeight}::BIGINT
                      ELSE 1::BIGINT END AS weight, *
          FROM tiered),
        phases AS (
          SELECT 1 AS phase, source, weight, tok AS wtok, ${p1}::BIGINT AS budget FROM tw
          UNION ALL
          SELECT 2 AS phase, source, weight, tok * weight AS wtok, ${p2}::BIGINT FROM tw),
        sized AS (
          SELECT *, CAST(sum(wtok) OVER (PARTITION BY phase) AS BIGINT) AS twsum
          FROM phases),
        based AS (
          SELECT *, (budget * wtok) // twsum AS base
          FROM sized),
        ranked AS (
          SELECT *,
                 CAST(sum(base) OVER (PARTITION BY phase) AS BIGINT) AS basesum,
                 row_number() OVER (PARTITION BY phase
                   ORDER BY (budget * wtok) % twsum DESC, source) AS rk
          FROM based)
        SELECT CAST(phase AS INT) AS phase, source, weight,
               CAST(base + (CASE WHEN rk <= budget - basesum THEN 1 ELSE 0 END) AS BIGINT)
                 AS alloc,
               floor((base + (CASE WHEN rk <= budget - basesum THEN 1 ELSE 0 END))
                     * 1000000 / budget) / 1e6 AS phase_share
        FROM ranked ORDER BY phase, source"""
  }

  // ------------------------------------------- labeler agreement (κ)

  /** The κ staging, generated once and evaluated verbatim by both
    * engines over exact integer counts (the staged-expression
    * discipline): observed agreement, chance agreement from the
    * marginals, then Cohen's kappa. */
  private val kappaStages: Seq[(String, String)] = Seq(
    "po" -> "CAST(n_both + n_neither AS DOUBLE) / CAST(n_docs AS DOUBLE)",
    "pe" -> ("(CAST(n_both + n_a_only AS DOUBLE) * CAST(n_both + n_b_only AS DOUBLE)" +
      " + CAST(n_b_only + n_neither AS DOUBLE) * CAST(n_a_only + n_neither AS DOUBLE))" +
      " / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))"),
    "kappa" -> ("CASE WHEN pe = 1.0e0 THEN CAST(NULL AS DOUBLE)" +
      " ELSE floor((po - pe) / (1.0e0 - pe) * 1e4) / 1e4 END"))

  /** Inter-labeler agreement between the two heuristic quality
    * labelers every curation pipeline runs in parallel — the Gopher
    * rule battery (`text_gopher_rules`, keep = all 5 rules pass) and
    * the per-language quality band (`curate_quality_band`, keep =
    * percent_rank ∈ [0.25, 0.75]) — as the per-language confusion
    * matrix + Cohen's κ. Low κ means the cheap filter and the scored
    * band disagree systematically and the corpus needs a human look;
    * it's the rater-agreement read (Landis–Koch scale) applied to
    * automated labelers. Both labelers are one corpus pass each,
    * joined on doc_id; the κ arithmetic runs on the ≤|langs|-row
    * confusion table. */
  def annotationAgreement: Q = (s, d) => {
    val a = TextAnalysis.gopherRules(s, d).select(col("doc_id"), col("keep").as("keep_a"))
    // labeler B IS curate_quality_band's shared per-doc band — one
    // definition (Pipeline.qualityBandDocs), so the κ ledger can never
    // drift from the shipped band
    val b = Pipeline.qualityBandDocs(s, d)
      .select(col("doc_id"), col("lang"), col("in_band").as("keep_b"))
    val g = b.join(a, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("keep_a") && col("keep_b"), 1)).as("n_both"),
        count(when(col("keep_a") && !col("keep_b"), 1)).as("n_a_only"),
        count(when(!col("keep_a") && col("keep_b"), 1)).as("n_b_only"),
        count(when(!col("keep_a") && !col("keep_b"), 1)).as("n_neither"))
    kappaStages.foldLeft(g) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
      .select(col("lang"), col("n_docs"), col("n_both"), col("n_a_only"),
        col("n_b_only"), col("n_neither"),
        expr("floor(po * 1e4) / 1e4").as("observed_agreement"), col("kappa"))
  }

  val annotationAgreementSql: String = {
    val staged = kappaStages.map { case (n, e) => s"$e AS $n" }.mkString(",\n               ")
    s"""WITH a AS (
          SELECT doc_id, keep AS keep_a
          FROM (${TextAnalysis.gopherRulesBodySql})),
        b AS (
          SELECT doc_id, lang, in_band AS keep_b
          FROM (${Pipeline.qualityBandDocsSql}) qb),
        j AS (
          SELECT b.lang, a.keep_a, b.keep_b
          FROM b JOIN a USING (doc_id)),
        g AS (
          SELECT lang, count(*) AS n_docs,
                 count(*) FILTER (WHERE keep_a AND keep_b) AS n_both,
                 count(*) FILTER (WHERE keep_a AND NOT keep_b) AS n_a_only,
                 count(*) FILTER (WHERE NOT keep_a AND keep_b) AS n_b_only,
                 count(*) FILTER (WHERE NOT keep_a AND NOT keep_b) AS n_neither
          FROM j GROUP BY lang),
        f AS (
          SELECT *, $staged
          FROM g)
        SELECT lang, n_docs, n_both, n_a_only, n_b_only, n_neither,
               floor(po * 1e4) / 1e4 AS observed_agreement, kappa
        FROM f ORDER BY lang"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("text_annotation_agreement", annotationAgreement, Some(annotationAgreementSql)),
    ("dedup_substring", dedupSubstring, Some(dedupSubstringSql)),
    ("text_bigram_lm", textBigramLm, Some(textBigramLmSql)),
    ("text_bigram_lm_kn", textBigramLmKn, Some(textBigramLmKnSql)),
    ("text_chunk_overlap", textChunkOverlap, Some(textChunkOverlapSql)),
    ("text_ccnet_buckets", textCcnetBuckets, Some(textCcnetBucketsSql)),
    ("text_bpe_train", textBpeTrain, Some(textBpeTrainSql)),
    ("mix_dsir", mixDsir, Some(mixDsirSql)),
    ("mix_epoch_upsample", mixEpochUpsample, Some(mixEpochUpsampleSql)),
    ("text_novelty", textNovelty, Some(textNoveltySql)),
    ("text_perplexity", textPerplexity, Some(textPerplexitySql)),
    ("dedup_boilerplate", dedupBoilerplate, Some(dedupBoilerplateSql)),
    ("text_contamination", textContamination, Some(textContaminationSql)),
    ("text_repetition", textRepetition, Some(textRepetitionSql)),
    ("mix_temperature", mixTemperature, Some(mixTemperatureSql)),
    ("mix_anneal_schedule", mixAnneal, Some(mixAnnealSql)))
}
