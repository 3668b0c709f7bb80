package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the documents table: language ID,
  * quality scoring, token counting, fingerprinting.
  *
  * Everything is built from codegen'd `functions._` / higher-order
  * array functions — no UDFs — so the whole block stays inside
  * whole-stage codegen and scales as a single narrow map over the
  * corpus (no shuffle at all except explicit aggregations).
  *
  * Cross-engine float parity: ratios are floor-truncated to 4dp
  * (`trunc4`) instead of round(): floor of an identical IEEE double is
  * engine-stable, round-half differs (Spark HALF_UP on decimal repr vs
  * DuckDB binary rounding).
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  def trunc4(c: Column): Column = floor(c * 10000) / 10000.0

  /** Non-empty lowercase whitespace tokens as a SQL expr string.
    * The whitespace class is spelled EXPLICITLY — Java's `\s` matches
    * vertical tab (\x0B) where RE2/DuckDB's does not, so a bare `\s+`
    * would tokenize a \x0B-bearing document differently per engine (a
    * silent oracle fork on correct code). `[ \t\n\r\f]+` is the RE2
    * set, identical in both. */
  val toksExpr = "filter(split(lower(trim(text)), '[ \\\\t\\\\n\\\\r\\\\f]+'), t -> t != '')"
  /** Same tokenization in DuckDB. */
  val toksSqlExpr = "list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\r\\f]+'), t -> t <> '')"

  private[operators] val stop = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"))

  private[operators] def inList(words: Seq[String]) = words.map("'" + _ + "'").mkString("(", ",", ")")

  /** quality_score as a Spark Column over `text` plus a precomputed
    * `toks` column (tokenize once, score once) — the same combined
    * [0,1] score `quality` emits, exposed for reuse (e.g. the curation
    * band operator). */
  def qualityScoreCol: Column = {
    val nt = expr("size(toks)")
    val nc = greatest(length(col("text")), lit(1))
    val np = expr("size(regexp_extract_all(text, '[.,;:!?]', 0))")
    val sw = expr(s"size(filter(toks, t -> t in ${inList(stop("en"))}))")
    trunc4(
      least(lit(1.0), nt / lit(100.0)) *
        (lit(1.0) - np * lit(1.0) / nc) *
        (lit(0.5) + lit(0.5) * sw * lit(1.0) / greatest(nt, lit(1))))
  }

  /** The same quality score as a DuckDB SQL expression over documents. */
  val qualityScoreSqlExpr: String = {
    val nt = s"len($toksSqlExpr)"
    val np = "len(regexp_extract_all(text, '[.,;:!?]'))"
    val sw = s"len(list_filter($toksSqlExpr, t -> t in ${inList(stop("en"))}))"
    s"floor((least(1.0, $nt / 100.0) * (1.0 - $np * 1.0 / greatest(length(text), 1))" +
      s" * (0.5 + 0.5 * $sw * 1.0 / greatest($nt, 1))) * 10000) / 10000.0"
  }

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single punctuation). */
  def tokens: Q = (s, d) => {
    Tables.documents(s, d).select(
      col("doc_id"),
      expr(s"size($toksExpr)").as("n_ws_tokens"),
      expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
        .as("n_bpe_tokens"))
  }

  val tokensSql: String =
    s"""SELECT doc_id, CAST(len($toksSqlExpr) AS INT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id"""

  /** Language ID: stopword-hit counts per language, deterministic
    * argmax (fixed comparison order), 'und' when nothing hits. */
  def langid: Q = (s, d) => {
    def hits(lang: String) =
      expr(s"size(filter(toks, t -> t in ${inList(stop(lang))}))")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), col("lang").as("lang_declared"),
        hits("en").as("hits_en"), hits("de").as("hits_de"),
        hits("fr").as("hits_fr"), hits("es").as("hits_es"))
      .withColumn("lang_pred",
        when(col("hits_en") + col("hits_de") + col("hits_fr") + col("hits_es") === 0, "und")
          .when(col("hits_en") >= col("hits_de") && col("hits_en") >= col("hits_fr") &&
            col("hits_en") >= col("hits_es"), "en")
          .when(col("hits_de") >= col("hits_fr") && col("hits_de") >= col("hits_es"), "de")
          .when(col("hits_fr") >= col("hits_es"), "fr")
          .otherwise("es"))
  }

  val langidSql: String = {
    def h(lang: String) =
      s"CAST(len(list_filter($toksSqlExpr, t -> t in ${inList(stop(lang))})) AS INT)"
    s"""SELECT doc_id, lang AS lang_declared,
        ${h("en")} AS hits_en, ${h("de")} AS hits_de, ${h("fr")} AS hits_fr, ${h("es")} AS hits_es,
        CASE WHEN ${h("en")} + ${h("de")} + ${h("fr")} + ${h("es")} = 0 THEN 'und'
             WHEN ${h("en")} >= ${h("de")} AND ${h("en")} >= ${h("fr")} AND ${h("en")} >= ${h("es")} THEN 'en'
             WHEN ${h("de")} >= ${h("fr")} AND ${h("de")} >= ${h("es")} THEN 'de'
             WHEN ${h("fr")} >= ${h("es")} THEN 'fr'
             ELSE 'es' END AS lang_pred
        FROM documents ORDER BY doc_id"""
  }

  /** Code-ish keyword list for the code/prose heuristic. */
  val CodeKeywords: Seq[String] = Seq(
    "def", "class", "return", "import", "var", "function", "const", "void")

  /** Code-vs-prose detection — the corpus-curation filter that keeps
    * source code out of (or routes it into) a text corpus: symbol
    * density (braces/operators per char), digit density, and
    * code-keyword hits, each an integer count with one floored
    * division; the verdict is a pure boolean rule over the ratios.
    * One narrow pass, no shuffle at any corpus size. */
  def codeDetect: Q = (s, d) => {
    val kwList = CodeKeywords.map(k => s"'$k'").mkString(", ")
    Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        expr("size(regexp_extract_all(text, '[{}();=<>\\\\[\\\\]]', 0))").as("n_sym"),
        expr("size(regexp_extract_all(text, '[0-9]', 0))").as("n_digit"),
        expr(s"size(filter($toksExpr, t -> t in ($kwList)))").as("n_kw"))
      .select(col("doc_id"), col("n_chars"), col("n_sym"), col("n_digit"), col("n_kw"),
        (floor(col("n_sym") * 1e4 / greatest(col("n_chars"), lit(1))) / 1e4).as("sym_density"),
        (floor(col("n_digit") * 1e4 / greatest(col("n_chars"), lit(1))) / 1e4).as("digit_density"))
      .withColumn("is_code", col("sym_density") > 0.02 || col("n_kw") >= 2)
  }

  val codeDetectSql: String = {
    val kwList = CodeKeywords.map(k => s"'$k'").mkString(", ")
    s"""SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
          CAST(len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) AS INT) AS n_sym,
          CAST(len(regexp_extract_all(text, '[0-9]')) AS INT) AS n_digit,
          CAST(len(list_filter($toksSqlExpr, t -> t IN ($kwList))) AS INT) AS n_kw,
          floor(len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) * 1e4
                / greatest(length(text), 1)) / 1e4 AS sym_density,
          floor(len(regexp_extract_all(text, '[0-9]')) * 1e4
                / greatest(length(text), 1)) / 1e4 AS digit_density,
          (floor(len(regexp_extract_all(text, '[{}();=<>\\[\\]]')) * 1e4
                / greatest(length(text), 1)) / 1e4 > 0.02
           OR len(list_filter($toksSqlExpr, t -> t IN ($kwList))) >= 2) AS is_code
        FROM documents ORDER BY doc_id"""
  }

  /** Classifier evaluation as a query: the confusion matrix of
    * `text_langid`'s stopword-voting predictor against the corpus'
    * declared labels, with per-label recall — the eval harness a
    * pipeline runs after every heuristic change, expressed over the
    * SAME plan as the scorer itself (compose the entry, aggregate on
    * top; the optimizer fuses it into one pass). Counts are integers;
    * recall is one floored division. */
  def langConfusion: Q = (s, d) => {
    val scored = langid(s, d)
    val totals = scored.groupBy(col("lang_declared"))
      .agg(count(lit(1)).as("n_declared"))
    scored.groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), Seq("lang_declared"))
      .select(col("lang_declared"), col("lang_pred"), col("n"),
        (floor(col("n") * lit(10000) / col("n_declared")) / 1e4).as("share"))
  }

  val langConfusionSql: String =
    s"""WITH scored AS (${langidSql.replace("ORDER BY doc_id", "")}),
        t AS (SELECT lang_declared, count(*) AS n_declared FROM scored GROUP BY 1)
        SELECT s.lang_declared, s.lang_pred, count(*) AS n,
               floor(count(*) * 10000 / max(t.n_declared)) / 1e4 AS share
        FROM scored s JOIN t USING (lang_declared)
        GROUP BY s.lang_declared, s.lang_pred
        ORDER BY s.lang_declared, s.lang_pred"""

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean
    * word length, and a combined score in [0,1]. */
  def quality: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))
      .select(col("doc_id"),
        length(col("text")).as("nc"),
        expr("size(toks)").as("nt"),
        expr("size(regexp_extract_all(text, '[.,;:!?]', 0))").as("np"),
        expr("aggregate(transform(toks, t -> length(t)), 0, (a, x) -> a + x)").as("sl"),
        expr(s"size(filter(toks, t -> t in ${inList(stop("en"))}))").as("sw"))
      .select(col("doc_id"),
        col("nc").as("n_chars_measured"),
        col("nt").as("n_tokens"),
        trunc4(col("np") * lit(1.0) / greatest(col("nc"), lit(1))).as("punct_ratio"),
        trunc4(col("sw") * lit(1.0) / greatest(col("nt"), lit(1))).as("stopword_ratio"),
        trunc4(col("sl") * lit(1.0) / greatest(col("nt"), lit(1))).as("mean_word_len"),
        trunc4(
          least(lit(1.0), col("nt") / lit(100.0)) *
            (lit(1.0) - col("np") * lit(1.0) / greatest(col("nc"), lit(1))) *
            (lit(0.5) + lit(0.5) * col("sw") * lit(1.0) / greatest(col("nt"), lit(1))))
          .as("quality_score"))
  }

  val qualitySql: String = {
    val nc = "length(text)"
    val nt = s"len($toksSqlExpr)"
    val np = "len(regexp_extract_all(text, '[.,;:!?]'))"
    val sl = s"list_sum(list_transform($toksSqlExpr, t -> length(t)))"
    val sw = s"len(list_filter($toksSqlExpr, t -> t in ${inList(stop("en"))}))"
    def t4(x: String) = s"floor(($x) * 10000) / 10000.0"
    s"""SELECT doc_id,
        CAST($nc AS INT) AS n_chars_measured,
        CAST($nt AS INT) AS n_tokens,
        ${t4(s"$np * 1.0 / greatest($nc, 1)")} AS punct_ratio,
        ${t4(s"$sw * 1.0 / greatest($nt, 1)")} AS stopword_ratio,
        ${t4(s"coalesce($sl, 0) * 1.0 / greatest($nt, 1)")} AS mean_word_len,
        ${t4(s"least(1.0, $nt / 100.0) * (1.0 - $np * 1.0 / greatest($nc, 1)) * (0.5 + 0.5 * $sw * 1.0 / greatest($nt, 1))")} AS quality_score
        FROM documents ORDER BY doc_id"""
  }

  /** Document fingerprint: md5 over the canonical form (sorted distinct
    * tokens) — a deterministic rolling-hash-style content signature. */
  def fingerprint: Q = (s, d) => {
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(expr(s"array_join(array_sort(array_distinct($toksExpr)), ' ')")).as("fingerprint"))
  }

  val fingerprintSql: String =
    s"""SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct($toksSqlExpr)), ' ')) AS fingerprint
        FROM documents ORDER BY doc_id"""

  /** Top-5 bigrams per declared language — the counting primitive of
    * an n-gram language model: explode bigrams (narrow), ONE count
    * shuffle, per-language top-k window over the (tiny) distinct-bigram
    * set. */
  def bigramTopk: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bi = Tables.documents(s, d)
      .select(col("lang"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
    val counts = bi.groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("bigram"))))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("bigram"), col("n"), col("rn"))
  }

  val bigramTopkSql: String =
    s"""WITH bi AS (
          SELECT lang, unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM (SELECT lang, $toksSqlExpr AS toks FROM documents)
          WHERE len(toks) >= 2),
        counts AS (SELECT lang, bigram, count(*) AS n FROM bi GROUP BY lang, bigram)
        SELECT lang, bigram, n,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INT) AS rn
        FROM counts QUALIFY rn <= 5 ORDER BY lang, rn"""

  /** Vocabulary budgets for the coverage curve. */
  val CoverageKs = Seq(32, 128, 512, 2048)

  /** Tokenizer-design read: what share of the corpus' bigram
    * occurrences does a top-K vocabulary cover (the OOV-rate curve a
    * BPE/vocab-size decision is made from)? ONE count shuffle builds
    * the n-gram frequency table; the rank/cum-sum window runs over at
    * most max(K) survivors of a TakeOrderedAndProject (bounded, never
    * the corpus — same shape as `text_zipf_profile`), and each budget
    * row joins its cumulative mass at rank min(K, vocab). Coverage is
    * exact-integer occurrence counts with one final IEEE division. */
  def ngramCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bi = Tables.documents(s, d)
      .select(expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
    val counts = bi.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(count(lit(1)).as("vocab_size"), sum(col("n")).as("total"))
    val ord = Window.orderBy(col("n").desc, col("bigram"))
    val ranked = counts.orderBy(col("n").desc, col("bigram")).limit(CoverageKs.max)
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum_n", sum(col("n"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val ks = { import s.implicits._; CoverageKs.toDF("k") }
    ks.crossJoin(broadcast(stats))
      .join(broadcast(ranked.select(col("rank"), col("cum_n"))),
        least(col("k").cast("long"), col("vocab_size")) === col("rank"))
      .select(col("k"), col("vocab_size"), col("total"), col("cum_n").as("covered"),
        trunc4(col("cum_n").cast("double") / col("total").cast("double")).as("coverage"))
  }

  val ngramCoverageSql: String =
    s"""WITH bi AS (
          SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM (SELECT $toksSqlExpr AS toks FROM documents)
          WHERE len(toks) >= 2),
        counts AS (SELECT bigram, count(*) AS n FROM bi GROUP BY 1),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
                         CAST(sum(n) AS BIGINT) AS total FROM counts),
        top AS (SELECT bigram, n FROM counts
                ORDER BY n DESC, bigram LIMIT ${CoverageKs.max}),
        ranked AS (
          SELECT CAST(row_number() OVER (ORDER BY n DESC, bigram) AS BIGINT) AS rank,
                 CAST(sum(n) OVER (ORDER BY n DESC, bigram
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
          FROM top),
        ks AS (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k)
        SELECT CAST(k AS INT) AS k, vocab_size, total, cum_n AS covered,
               floor(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) * 10000) / 10000.0
                 AS coverage
        FROM ks CROSS JOIN stats
        JOIN ranked ON least(CAST(k AS BIGINT), vocab_size) = ranked.rank
        ORDER BY k"""

  /** PII pattern redaction — the scrub pass every training corpus
    * runs. The test corpus carries no real PII, so the query derives a
    * deterministic contact block per row (email/phone presence keyed
    * off doc_id parity) and then redacts it with the same regexes a
    * production scrub uses. Pure codegen'd regexp_replace /
    * regexp_extract_all — a narrow map, no shuffle, linear at any
    * scale. */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+1-555-[0-9]{4}"

  def piiRedact: Q = (s, d) => {
    val raw = concat(
      substring(col("text"), 1, 60),
      when(pmod(col("doc_id"), lit(3)) =!= 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(2)) === 0,
        concat(lit(" tel +1-555-"),
          lpad(pmod(col("n_chars"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(lit("")),
      lit(" via "), col("source"), lit("@corp.example.org"))
    Tables.documents(s, d)
      .withColumn("raw", raw)
      .select(col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(emailPat), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(phonePat), lit(0))).as("n_phones"),
        substring(regexp_replace(regexp_replace(col("raw"), emailPat, "<EMAIL>"),
          phonePat, "<PHONE>"), 1, 100).as("redacted_prefix"))
  }

  val piiRedactSql: String =
    """WITH r AS (
         SELECT doc_id,
                substr(text, 1, 60)
                || CASE WHEN doc_id % 3 <> 0
                        THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
                        ELSE '' END
                || CASE WHEN doc_id % 2 = 0
                        THEN ' tel +1-555-' || lpad(CAST(n_chars % 10000 AS VARCHAR), 4, '0')
                        ELSE '' END
                || ' via ' || source || '@corp.example.org' AS raw
         FROM documents)
       SELECT doc_id,
              CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
              CAST(len(regexp_extract_all(raw, '\+1-555-[0-9]{4}')) AS INT) AS n_phones,
              substr(regexp_replace(regexp_replace(raw,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                     '\+1-555-[0-9]{4}', '<PHONE>', 'g'), 1, 100) AS redacted_prefix
       FROM r ORDER BY doc_id"""

  /** Document-length survival curve over power-of-two buckets — the
    * corpus profile read before choosing packing/sequence lengths
    * (what share of documents survives a minimum-length cutoff?).
    * Bucket = bit-length of n_chars (`length(bin(x))`, the same
    * no-floating-log trick as `metrics_gap_log2_histogram`, so bucket
    * k holds lengths in [2^(k-1), 2^k)); survival counts are a
    * cumulative suffix sum over the ≤64-row bucket table (bounded by
    * the bit width of LONG — this unpartitioned window can never see
    * more than 64 rows, unlike a per-document one). Shares are exact
    * integer ratios truncated once. */
  def lengthSurvival: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .groupBy(expr("length(bin(n_chars))").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("n_ge", sum(col("n_docs")).over(w))
      .crossJoin(broadcast(Tables.documents(s, d).agg(count(lit(1)).as("total"))))
      .select(col("bucket").cast("int").as("bucket"),
        expr("cast(pow(2, bucket - 1) as bigint)").as("lo_chars"),
        col("n_docs"), col("n_ge"),
        trunc4(col("n_ge").cast("double") / col("total").cast("double")).as("survival"))
  }

  val lengthSurvivalSql: String =
    """WITH b AS (
         SELECT CAST(length(bin(n_chars)) AS INT) AS bucket, count(*) AS n_docs
         FROM documents GROUP BY 1),
       t AS (SELECT count(*) AS total FROM documents)
       SELECT b.bucket, CAST(pow(2, b.bucket - 1) AS BIGINT) AS lo_chars,
              b.n_docs,
              CAST(sum(b.n_docs) OVER (ORDER BY b.bucket DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge,
              floor(CAST(sum(b.n_docs) OVER (ORDER BY b.bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                    / CAST(t.total AS DOUBLE) * 10000) / 10000.0 AS survival
       FROM b CROSS JOIN t
       ORDER BY bucket"""

  val ZipfTopK = 20

  /** Zipf head profile: the top-K tokens by frequency with their
    * cumulative share of ALL token occurrences — the vocabulary-
    * concentration read (how much of the corpus do 20 words cover?)
    * that sizes stopword lists and LM vocab caps. The head cut is
    * `orderBy().limit()` — Spark plans a distributed
    * TakeOrderedAndProject (each partition ships its local top-K, the
    * driver merges K·P rows), never a global sort; the cumulative
    * window then runs over K rows by construction. */
  def zipfProfile: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d).select(explode(expr(toksExpr)).as("tok"))
    val total = toks.agg(count(lit(1)).as("total"))
    val ord = Window.orderBy(col("n").desc, col("tok"))
    toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(ZipfTopK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(ord).cast("int"))
      .withColumn("cum_n",
        sum(col("n")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rank"), col("tok"), col("n"),
        trunc4(col("cum_n").cast("double") / col("total").cast("double")).as("cum_share"))
  }

  val zipfProfileSql: String =
    s"""WITH t AS (SELECT unnest($toksSqlExpr) AS tok FROM documents),
        tot AS (SELECT count(*) AS total FROM t),
        top AS (
          SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok) AS INT) AS rank
          FROM (SELECT tok, count(*) AS n FROM t GROUP BY tok) c
          ORDER BY n DESC, tok LIMIT $ZipfTopK)
        SELECT rank, tok, n,
               floor(CAST(sum(n) OVER (ORDER BY rank
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / CAST(tt.total AS DOUBLE) * 10000) / 10000.0 AS cum_share
        FROM top CROSS JOIN tot tt
        ORDER BY rank"""

  val KeywordsPerDoc = 3

  /** Per-document keyword extraction — top-3 terms by in-doc TF ×
    * corpus IDF (the doc-level sibling of the per-language
    * `text_tfidf_topk`; what a retrieval/tagging pipeline stores per
    * document). df counts come from a window over the already-grouped
    * (doc, term) pairs — no second corpus scan; ranking uses the
    * TRUNCATED tfidf (the same floored value both engines emit) with a
    * term tiebreak, so rank boundaries are engine-exact. Per-doc
    * window is partitioned by doc_id — embarrassingly parallel. */
  def keywords: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    pairs
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        trunc4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))).cast("int"))
      .filter(col("rn") <= KeywordsPerDoc)
      .select(col("doc_id"), col("term").as("keyword"), col("tf"), col("df"),
        col("tfidf"), col("rn"))
  }

  val keywordsSql: String =
    s"""WITH pairs AS (
          SELECT doc_id, term, count(*) AS tf
          FROM (SELECT doc_id, unnest($toksSqlExpr) AS term FROM documents) t
          GROUP BY doc_id, term),
        tot AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, term, tf,
                 count(*) OVER (PARTITION BY term) AS df,
                 floor(tf * ln(CAST(tt.n_docs AS DOUBLE)
                               / count(*) OVER (PARTITION BY term)) * 10000) / 10000.0
                   AS tfidf
          FROM pairs CROSS JOIN tot tt)
        SELECT doc_id, term AS keyword, tf, df, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY tfidf DESC, term) AS INT) AS rn
        FROM scored QUALIFY rn <= $KeywordsPerDoc
        ORDER BY doc_id, rn"""

  /** Number of equal-width doc-id slices the corpus is cut into for
    * the vocabulary-growth curve. */
  val VocabGrowthBuckets = 8

  /** Heaps-law vocabulary growth — the tokenizer-sizing read: how many
    * NEW bigram types each successive slice of the corpus contributes,
    * against the bigram-occurrence mass of that slice. A type's slice
    * is its FIRST occurrence (min bucket over the one bigram-count
    * shuffle); cumulative sums run over the 8-row bucket spine. All
    * masses exact BIGINTs — there is no floating point anywhere.
    * At 100 TB: two aggregations over the exploded bigrams (one keyed
    * by bucket, one by bigram), nothing corpus-sized is sorted or
    * collected; the curve itself is 8 rows. */
  def vocabGrowth: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val maxd = docs.agg(max(col("doc_id")).as("maxd"))
    val bi = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bigram"))
      .crossJoin(broadcast(maxd))
      .select(expr(s"(doc_id * $VocabGrowthBuckets) div (maxd + 1)").as("bucket"),
        col("bigram"))
    // one (bigram, bucket) pre-aggregation feeds BOTH reads: the two
    // downstream groupBys consume the identical exchange (Spark's
    // ReuseExchange), so the corpus is tokenized and exploded ONCE
    val bb = bi.groupBy(col("bigram"), col("bucket")).agg(count(lit(1)).as("n"))
    val occ = bb.groupBy(col("bucket")).agg(sum(col("n")).as("n_occ"))
    val firsts = bb.groupBy(col("bigram")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    occ.join(firsts, Seq("bucket"), "left")
      .select(col("bucket").cast("long").as("bucket"), col("n_occ"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_occ", sum(col("n_occ")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
  }

  val vocabGrowthSql: String =
    s"""WITH maxd AS (SELECT max(doc_id) AS maxd FROM documents),
        bi AS (
          SELECT (doc_id * $VocabGrowthBuckets) // (maxd + 1) AS bucket,
                 unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
          FROM (SELECT doc_id, $toksSqlExpr AS toks FROM documents) CROSS JOIN maxd
          WHERE len(toks) >= 2),
        occ AS (SELECT bucket, count(*) AS n_occ FROM bi GROUP BY bucket),
        firsts AS (
          SELECT bucket, count(*) AS new_types FROM (
            SELECT bigram, min(bucket) AS bucket FROM bi GROUP BY bigram)
          GROUP BY bucket)
        SELECT CAST(o.bucket AS BIGINT) AS bucket, o.n_occ,
               CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
               CAST(sum(o.n_occ) OVER (ORDER BY o.bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ,
               CAST(sum(COALESCE(f.new_types, 0)) OVER (ORDER BY o.bucket
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
        FROM occ o LEFT JOIN firsts f ON o.bucket = f.bucket
        ORDER BY bucket"""

  /** Gopher-style rule bounds (Rae et al. 2021 §A1.1 re-expressed for
    * this corpus; the rules are the public curation recipe, the
    * thresholds are knobs). */
  val GopherMinTokens = 20L
  val GopherMaxTokens = 100000L

  /** Rule-based curation ledger (Gopher/Dolma-style): five boolean
    * rules per document — token count bounds, mean word length in
    * [3,10], ≥80% alphabetic tokens, ≥2 distinct stopword types,
    * symbol-to-word ratio ≤ 0.1 — each evaluated in INTEGER
    * arithmetic (3·nt ≤ Σlen ≤ 10·nt, never a float division), plus
    * the failure count and the keep verdict. One narrow pass, no
    * shuffle; at 100 TB this is the classic map-only filter stage. */
  def gopherRules: Q = (s, d) => {
    val stopArr = "array(" + stop("en").map("'" + _ + "'").mkString(", ") + ")"
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))
      .select(col("doc_id"),
        expr("size(toks)").cast("long").as("n_tokens"),
        expr("aggregate(transform(toks, t -> length(t)), 0L, (a, x) -> a + x)").as("sum_len"),
        expr("size(filter(toks, t -> t rlike '[a-z]'))").cast("long").as("n_alpha"),
        expr(s"size(filter($stopArr, w -> array_contains(toks, w)))").cast("long")
          .as("n_stop_types"),
        expr("size(regexp_extract_all(text, '[#…]', 0))").cast("long").as("n_sym"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= GopherMinTokens && col("n_tokens") <= GopherMaxTokens).as("r_len"),
        (col("sum_len") >= lit(3) * col("n_tokens")
          && col("sum_len") <= lit(10) * col("n_tokens")).as("r_mwl"),
        (lit(5) * col("n_alpha") >= lit(4) * col("n_tokens")).as("r_alpha"),
        (col("n_stop_types") >= 2).as("r_stop"),
        (lit(10) * col("n_sym") <= col("n_tokens")).as("r_sym"))
      .withColumn("n_failed",
        (when(col("r_len"), 0).otherwise(1) + when(col("r_mwl"), 0).otherwise(1)
          + when(col("r_alpha"), 0).otherwise(1) + when(col("r_stop"), 0).otherwise(1)
          + when(col("r_sym"), 0).otherwise(1)).cast("int"))
      .withColumn("keep", col("n_failed") === 0)
  }

  /** Order-free body of `gopherRulesSql`, exposed so dependent oracles
    * (Curation.annotationAgreementSql) can embed it as a subquery and
    * SELECT the existing `keep` column — never re-derive the verdict or
    * strip the ORDER BY by string surgery, which would silently fork
    * the oracle from the Spark labeler if either ever changed. */
  val gopherRulesBodySql: String = {
    val stopList = "[" + stop("en").map("'" + _ + "'").mkString(", ") + "]"
    s"""WITH t AS (SELECT doc_id, text, $toksSqlExpr AS toks FROM documents),
        m AS (SELECT doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS BIGINT) AS sum_len,
                CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                  AS BIGINT) AS n_alpha,
                CAST(len(list_filter($stopList, w -> list_contains(toks, w)))
                  AS BIGINT) AS n_stop_types,
                CAST(len(regexp_extract_all(text, '[#…]', 0)) AS BIGINT) AS n_sym
              FROM t),
        r AS (SELECT doc_id, n_tokens,
                n_tokens >= $GopherMinTokens AND n_tokens <= $GopherMaxTokens AS r_len,
                sum_len >= 3 * n_tokens AND sum_len <= 10 * n_tokens AS r_mwl,
                5 * n_alpha >= 4 * n_tokens AS r_alpha,
                n_stop_types >= 2 AS r_stop,
                10 * n_sym <= n_tokens AS r_sym
              FROM m)
        SELECT doc_id, n_tokens, r_len, r_mwl, r_alpha, r_stop, r_sym,
               CAST((CASE WHEN r_len THEN 0 ELSE 1 END)
                    + (CASE WHEN r_mwl THEN 0 ELSE 1 END)
                    + (CASE WHEN r_alpha THEN 0 ELSE 1 END)
                    + (CASE WHEN r_stop THEN 0 ELSE 1 END)
                    + (CASE WHEN r_sym THEN 0 ELSE 1 END) AS INT) AS n_failed,
               (CASE WHEN r_len THEN 0 ELSE 1 END)
                 + (CASE WHEN r_mwl THEN 0 ELSE 1 END)
                 + (CASE WHEN r_alpha THEN 0 ELSE 1 END)
                 + (CASE WHEN r_stop THEN 0 ELSE 1 END)
                 + (CASE WHEN r_sym THEN 0 ELSE 1 END) = 0 AS keep
        FROM r"""
  }

  val gopherRulesSql: String = s"$gopherRulesBodySql ORDER BY doc_id"

  /** Tokenizer fertility per language — the metric that decides a
    * tokenizer (how many subword tokens per word, how many bytes per
    * token, per language): fertility disparity across languages is a
    * documented training-equity concern, and this is the aggregate
    * read that surfaces it. Exact integer sums per language; the two
    * emitted reals are single divisions, display-floored. One narrow
    * pass + a |languages|-group aggregation. */
  def tokenizerFertility: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("lang"),
        expr(s"size($toksExpr)").cast("long").as("ws"),
        expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast("long").as("bpe"),
        expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("bytes"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("bytes")).as("text_bytes"))
      .withColumn("fertility",
        floor(col("bpe_tokens").cast("double") / col("ws_tokens").cast("double") * 1e4) / 1e4)
      .withColumn("bytes_per_token",
        floor(col("text_bytes").cast("double") / col("bpe_tokens").cast("double") * 1e4) / 1e4)
  }

  val tokenizerFertilitySql: String =
    s"""WITH t AS (
          SELECT lang,
                 CAST(len($toksSqlExpr) AS BIGINT) AS ws,
                 CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))
                   AS BIGINT) AS bpe,
                 CAST(octet_length(encode(text)) AS BIGINT) AS bytes
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               CAST(sum(bytes) AS BIGINT) AS text_bytes,
               floor(CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) * 1e4) / 1e4
                 AS fertility,
               floor(CAST(sum(bytes) AS DOUBLE) / CAST(sum(bpe) AS DOUBLE) * 1e4) / 1e4
                 AS bytes_per_token
        FROM t GROUP BY lang ORDER BY lang"""

  /** Per-document character-class Shannon entropy — the cheap
    * gibberish/boilerplate signal every curation stack keeps beside
    * the Gopher rules (a page of one repeated char scores ~0; mixed
    * prose sits near the ~2-bit ceiling of the 5-class alphabet).
    * Classes are FIXED (lower / upper / digit / whitespace / other),
    * so H = −Σ p·ln p is five explicit terms added in one fixed
    * order — no float aggregation anywhere; counts come from the
    * same regexp_extract_all discipline as `text_tokens` and the
    * only irrational surface is ln over identical doubles (the
    * `events_cooccur_pmi` parity idiom), display-floored at 1e4.
    * Zero shuffle: one narrow pass over documents. */
  def charEntropy: Q = (s, d) => {
    def cnt(re: String) = expr(s"size(regexp_extract_all(text, '$re', 0))")
    val base = Tables.documents(s, d).select(
      col("doc_id"), length(col("text")).as("n"),
      cnt("[a-z]").as("c_lower"), cnt("[A-Z]").as("c_upper"),
      cnt("[0-9]").as("c_digit"), cnt("\\\\s").as("c_space"))
      .withColumn("c_other",
        col("n") - col("c_lower") - col("c_upper") - col("c_digit") - col("c_space"))
    def term(c: String) =
      when(col(c) > 0,
        (col(c).cast("double") / col("n").cast("double"))
          * log(col(c).cast("double") / col("n").cast("double")))
        .otherwise(lit(0.0))
    base.filter(col("n") > 0)
      .select(col("doc_id"), col("n"), col("c_lower"), col("c_upper"),
        col("c_digit"), col("c_space"), col("c_other"),
        trunc4(-(term("c_lower") + term("c_upper") + term("c_digit")
          + term("c_space") + term("c_other"))).as("entropy"))
  }

  val charEntropySql: String = {
    def cnt(re: String) = s"len(regexp_extract_all(text, '$re'))"
    def term(c: String) =
      s"""CASE WHEN $c > 0
            THEN (CAST($c AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST($c AS DOUBLE) / CAST(n AS DOUBLE))
            ELSE 0.0 END"""
    s"""WITH base AS (
          SELECT doc_id, length(text) AS n,
                 ${cnt("[a-z]")} AS c_lower, ${cnt("[A-Z]")} AS c_upper,
                 ${cnt("[0-9]")} AS c_digit, ${cnt("\\s")} AS c_space
          FROM documents),
        t AS (
          SELECT doc_id, n, c_lower, c_upper, c_digit, c_space,
                 n - c_lower - c_upper - c_digit - c_space AS c_other
          FROM base WHERE n > 0)
        SELECT doc_id, CAST(n AS INT) AS n, CAST(c_lower AS INT) AS c_lower,
               CAST(c_upper AS INT) AS c_upper, CAST(c_digit AS INT) AS c_digit,
               CAST(c_space AS INT) AS c_space, CAST(c_other AS INT) AS c_other,
               floor(-(${term("c_lower")} + ${term("c_upper")} + ${term("c_digit")}
                 + ${term("c_space")} + ${term("c_other")}) * 10000) / 10000.0
                 AS entropy
        FROM t ORDER BY doc_id"""
  }

  // ------------------------------------------- segmental type-token

  /** STTR segment width (tokens). */
  val SttrSeg = 50

  /** Segmental type-token ratio (STTR) — the lexical-diversity score
    * corpus linguists use INSTEAD of raw TTR because TTR falls with
    * document length (Herdan); fixing the window at [[SttrSeg]] tokens
    * makes documents comparable. Per doc: distinct-count each FULL
    * 50-token segment (a narrow `transform` over the token array — no
    * explode, no shuffle), mean the segment TTRs on the exact 1e6 grid
    * (Σdistinct·1e6 div (50·nseg) — one floored division); per source:
    * the doc-mean and the band counts a curation gate would threshold
    * on. Docs under one full segment carry no STTR and are counted
    * separately (the standard STTR treatment). */
  def sttr: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .select(col("source"), expr(toksExpr).as("toks"))
      .withColumn("nseg", expr(s"size(toks) DIV $SttrSeg"))
      .withColumn("dsum", expr(
        s"""aggregate(transform(sequence(0, nseg - 1),
              i -> size(array_distinct(slice(toks, i * $SttrSeg + 1, $SttrSeg)))),
            0L, (acc, x) -> acc + x)"""))
      .select(col("source"), col("nseg"),
        when(col("nseg") > 0,
          expr(s"dsum * 1000000 div (nseg * $SttrSeg)")).as("sttr_x1e6"))
    per.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("sttr_x1e6")).as("n_scored"),
        sum(coalesce(col("sttr_x1e6"), lit(0L))).as("sttr_sum"))
      .select(col("source"), col("n_docs"), col("n_scored"),
        expr("sttr_sum div nullif(n_scored, 0)").as("mean_sttr_x1e6"))
  }

  val sttrSql: String =
    s"""WITH per AS (
          SELECT source, len(toks) // $SttrSeg AS nseg,
                 CASE WHEN len(toks) // $SttrSeg > 0 THEN
                   list_sum(list_transform(range(0, len(toks) // $SttrSeg),
                     i -> len(list_distinct(toks[i * $SttrSeg + 1 : i * $SttrSeg + $SttrSeg]))))
                   * 1000000 // ((len(toks) // $SttrSeg) * $SttrSeg)
                 END AS sttr_x1e6
          FROM (SELECT source, $toksSqlExpr AS toks FROM documents) t)
        SELECT source, count(*) AS n_docs,
               count(sttr_x1e6) AS n_scored,
               CAST(sum(coalesce(sttr_x1e6, 0)) // nullif(count(sttr_x1e6), 0)
                 AS BIGINT) AS mean_sttr_x1e6
        FROM per GROUP BY source ORDER BY source"""

  // ------------------------------------------------ hapax richness

  /** Hapax legomena profile — the OTHER lexical-richness axis (how
    * much of the vocabulary occurs exactly once), the classic
    * complement to `text_zipf_profile`'s rank-frequency fit and a
    * quick OCR/boilerplate tell (garbage inflates hapax share;
    * templated text deflates it). Per source: vocabulary size, hapax
    * count, token total, and both shares on the 1e6 grid. One token
    * explode (the langid cost class — corpus-token-sized but linear
    * and perfectly parallel) + two hash aggregations keyed by
    * (source, token) then source. */
  def hapax: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("source"), explode(expr(toksExpr)).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("freq"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        count(when(col("freq") === 1, 1)).as("n_hapax"),
        sum(col("freq")).as("n_tokens"))
      .select(col("source"), col("vocab"), col("n_hapax"), col("n_tokens"),
        expr("n_hapax * 1000000 div vocab").as("hapax_vocab_share_x1e6"),
        expr("n_hapax * 1000000 div n_tokens").as("hapax_token_share_x1e6"))
  }

  val hapaxSql: String =
    s"""WITH tf AS (
          SELECT source, tok, count(*) AS freq
          FROM (SELECT source, unnest($toksSqlExpr) AS tok FROM documents) t
          GROUP BY 1, 2),
        g AS (
          SELECT source, count(*) AS vocab,
                 count(*) FILTER (WHERE freq = 1) AS n_hapax,
                 CAST(sum(freq) AS BIGINT) AS n_tokens
          FROM tf GROUP BY source)
        SELECT source, vocab, n_hapax, n_tokens,
               n_hapax * 1000000 // vocab AS hapax_vocab_share_x1e6,
               n_hapax * 1000000 // n_tokens AS hapax_token_share_x1e6
        FROM g ORDER BY source"""

  // ------------------------------------------------ term burstiness

  /** Terms reported by the burstiness ledger. */
  val BurstTopK = 20

  /** Term burstiness (Church & Gale's overdispersion read): for the
    * top-[[BurstTopK]] document-frequency terms, the variance-to-mean
    * ratio of per-document counts INCLUDING zeros — VMR = 1 for a
    * Poisson (topic-neutral) term, ≫1 for bursty content terms that
    * pile into few documents. The whole statistic is one exact integer
    * ratio: VMR = (N·Σc² − T²)/(N·T) on the 1e4 grid (population
    * variance over mean, zeros contributing only through N), so no
    * float accumulates anywhere. Term selection is a TakeOrdered head
    * (df desc, term asc — bounded, no global window); N is a one-row
    * corpus-count broadcast. */
  def termBurstiness: Q = (s, d) => {
    val perDocTerm = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(toksExpr)).as("tok"))
      .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("c"))
    val perTerm = perDocTerm.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("t_total"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sum_c2"))
      .orderBy(col("df").desc, col("tok")).limit(BurstTopK)
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    perTerm.crossJoin(broadcast(nDocs))
      .select(col("tok").as("term"), col("df"), col("t_total"), col("n_docs"),
        expr("cast((cast(n_docs as decimal(38,0)) * sum_c2 - cast(t_total as decimal(38,0)) * t_total) * 10000 div (cast(n_docs as decimal(38,0)) * t_total) as bigint)")
          .as("vmr_x1e4"))
  }

  val termBurstinessSql: String =
    s"""WITH pdt AS (
          SELECT tok, doc_id, count(*) AS c
          FROM (SELECT doc_id, unnest($toksSqlExpr) AS tok FROM documents) t
          GROUP BY 1, 2),
        pt AS (
          SELECT tok, count(*) AS df, CAST(sum(c) AS BIGINT) AS t_total,
                 sum(CAST(c AS HUGEINT) * c) AS sum_c2
          FROM pdt GROUP BY tok
          ORDER BY df DESC, tok LIMIT $BurstTopK),
        nd AS (SELECT count(*) AS n_docs FROM documents)
        SELECT tok AS term, df, t_total, CAST(n_docs AS BIGINT) AS n_docs,
               CAST((CAST(n_docs AS HUGEINT) * sum_c2
                     - CAST(t_total AS HUGEINT) * t_total) * 10000
                 // (CAST(n_docs AS HUGEINT) * t_total) AS BIGINT) AS vmr_x1e4
        FROM pt, nd ORDER BY df DESC, term"""

  // ------------------------------------------------ Flesch readability

  /** Flesch reading-ease per source — the readability feature every
    * web-corpus quality model carries (C4's successors filter on it):
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    * sentences counted as terminal-punctuation runs (min 1) and
    * syllables as vowel-group runs per token (min 1/word — the
    * standard heuristic; no dictionary). All three counts are exact
    * integers from narrow array/regex passes (`regexp_extract_all` is
    * codegen'd in both engines), the per-doc score ONE fixed double
    * sequence floored to the 1e-2 grid, and the per-source mean an
    * integer division — so the whole feature is hash-verifiable. */
  def readabilityFlesch: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .select(col("source"), col("text"), expr(toksExpr).as("toks"))
      .select(col("source"),
        size(col("toks")).cast("long").as("w"),
        greatest(lit(1L),
          expr("cast(size(regexp_extract_all(text, '[.!?]+', 0)) as bigint)"))
          .as("sent"),
        expr("""cast(aggregate(transform(toks,
                 t -> greatest(1, size(regexp_extract_all(t, '[aeiouy]+', 0)))),
               0L, (acc, x) -> acc + x) as bigint)""").as("syl"))
      .filter(col("w") > 0)
      .withColumn("score_x100", expr(
        """cast(floor((206.835
             - 1.015 * (cast(w as double) / cast(sent as double))
             - 84.6 * (cast(syl as double) / cast(w as double))) * 100)
           as bigint)"""))
    per.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(score_x100) div count(1)").as("mean_flesch_x100"),
        min(col("score_x100")).as("min_flesch_x100"),
        max(col("score_x100")).as("max_flesch_x100"))
  }

  val readabilityFleschSql: String =
    s"""WITH per AS (
          SELECT source,
                 CAST(len(toks) AS BIGINT) AS w,
                 greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
                   AS sent,
                 CAST(list_sum(list_transform(toks,
                     t -> greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))))
                   AS BIGINT) AS syl
          FROM (SELECT source, text, $toksSqlExpr AS toks FROM documents) t0
          WHERE len(toks) > 0),
        sc AS (
          SELECT source,
                 CAST(floor((206.835
                     - 1.015 * (CAST(w AS DOUBLE) / CAST(sent AS DOUBLE))
                     - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))) * 100)
                   AS BIGINT) AS score_x100
          FROM per)
        SELECT source, count(*) AS n_docs,
               CAST(sum(score_x100) // count(*) AS BIGINT) AS mean_flesch_x100,
               min(score_x100) AS min_flesch_x100,
               max(score_x100) AS max_flesch_x100
        FROM sc GROUP BY source ORDER BY source"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("text_readability_flesch", readabilityFlesch, Some(readabilityFleschSql)),
    ("text_term_burstiness", termBurstiness, Some(termBurstinessSql)),
    ("text_sttr", sttr, Some(sttrSql)),
    ("text_hapax", hapax, Some(hapaxSql)),
    ("text_char_entropy", charEntropy, Some(charEntropySql)),
    ("text_tokenizer_fertility", tokenizerFertility, Some(tokenizerFertilitySql)),
    ("text_gopher_rules", gopherRules, Some(gopherRulesSql)),
    ("text_vocab_growth", vocabGrowth, Some(vocabGrowthSql)),
    ("text_keywords", keywords, Some(keywordsSql)),
    ("text_zipf_profile", zipfProfile, Some(zipfProfileSql)),
    ("text_length_survival", lengthSurvival, Some(lengthSurvivalSql)),
    ("text_pii_redact", piiRedact, Some(piiRedactSql)),
    ("text_tokens", tokens, Some(tokensSql)),
    ("text_code_detect", codeDetect, Some(codeDetectSql)),
    ("text_lang_confusion", langConfusion, Some(langConfusionSql)),
    ("text_langid", langid, Some(langidSql)),
    ("text_quality", quality, Some(qualitySql)),
    ("text_fingerprint", fingerprint, Some(fingerprintSql)),
    ("text_bigram_topk", bigramTopk, Some(bigramTopkSql)),
    ("text_ngram_coverage", ngramCoverage, Some(ngramCoverageSql)))
}
