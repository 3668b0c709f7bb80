package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the documents table.
  *
  * Scale design (the point of each variant at 100 TB):
  * - exact: one hash-groupBy shuffle on md5(text) — embarrassingly
  *   parallel, no pairwise anything.
  * - ngram-Jaccard: candidate pairs only via shared-shingle equi-join
  *   (never a cross join); a document-frequency cap on shingles kills
  *   the heavy-hitter skew bomb before the join.
  * - minhash-LSH: fixed-width signature (16 mins in ONE groupBy pass
  *   over exploded shingles), banded bucket join — candidate count
  *   scales with bucket collisions, not n².
  * - simhash: 64-bit signature, 4×16-bit band join is EXACT for
  *   Hamming distance ≤ 3 (pigeonhole), so no recall loss.
  * - embedding cosine: blocked pair join (label here; an IVF cell id
  *   at real scale) — never all-pairs.
  *
  * Minhash values are md5 hex strings: fixed-length hex compares
  * lexicographically exactly like the unsigned number it encodes, and
  * md5 exists bit-identically in every engine → the DuckDB oracle can
  * run the *same* pipeline, so correctness is checked end-to-end.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  import TextAnalysis.{toksExpr, toksSqlExpr, trunc4}

  val shinglesSqlExpr: String =
    s"""CASE WHEN len($toksSqlExpr) >= 3 THEN list_distinct(list_transform(
          range(1, len($toksSqlExpr) - 1),
          i -> $toksSqlExpr[i] || ' ' || $toksSqlExpr[i+1] || ' ' || $toksSqlExpr[i+2]))
        ELSE [] END"""

  /** (doc_id, shingles array, n_shingles) — the base for the Jaccard
    * family. Tokens are materialized as a column first so the shingle
    * lambda doesn't re-tokenize per element.
    *
    * PERF NOTE: the empty-set filter MUST be `size(toks) >= 3` (cheap,
    * pre-derivation) and not `size(shingles) > 0`: a filter on the
    * derived array gets pushed below the projections with the whole
    * shingle lambda inlined into the predicate, and every `toks[i]`
    * reference then re-runs the regex tokenizer per element — a 40×
    * slowdown measured at sf0.1. Same predicate, same rows. */
  private[operators] def shingleSets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 3) // ⇔ n_sh > 0, but cheap to push down
      .select(col("doc_id"),
        graft.functions.TextUdfs.shingle3(col("toks")).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))

  /** Exact dedup: group by content hash; keeper = min doc_id. */
  def exact: Q = (s, d) => {
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc_id"))
  }

  val exactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
       FROM documents GROUP BY md5(text) ORDER BY keep_doc_id"""

  /** Normalization-impact audit — the C4-style "soft exact" pass that
    * runs BEFORE near-dup: casefold, strip sentence punctuation,
    * collapse whitespace runs, trim, THEN hash. Per source, compares
    * the byte-exact group count with the normalized group count: the
    * difference is exactly how many groups only the normalized pass can
    * merge (formatting-only duplicates — trailing spaces, case drift,
    * punctuation variants). A per-source summary rather than a group
    * list, so the read is non-empty on ANY corpus — including one like
    * this, whose generated texts are already canonical (n_merged = 0
    * everywhere is the AUDIT RESULT, not an empty frame). Same
    * one-shuffle cost class as `dedup_exact`. Regex parity note:
    * Spark's regexp_replace is global by default, DuckDB's needs the
    * 'g' flag — the two spellings below are semantically identical. */
  def normalizedExact: Q = (s, d) => {
    // punctuation deletion via translate (a codegen char-map pass, no
    // regex engine) — the r12 10× probe flagged this entry as the
    // suite's worst grower (6.8×, CPU-bound on full-text regex); the
    // one remaining regex is the whitespace collapse, with an explicit
    // class because Java \s matches \x0B where RE2's does not
    val canon = expr(
      "md5(trim(regexp_replace(translate(lower(text), '.,;:!?', ''), '[ \\\\t\\\\n\\\\r\\\\f]+', ' ')))")
    // two-level aggregation: the double count-distinct EXPAND (3× row
    // multiplication) runs over the pre-deduped (source, raw, canon)
    // triples, not the full corpus — at 100 TB the triple table is
    // |distinct docs|-sized, the corpus pass a plain hash aggregate
    val per = Tables.documents(s, d)
      .select(col("source"), canon.as("canon_hash"), md5(col("text")).as("raw_hash"))
      .groupBy(col("source"), col("raw_hash"), col("canon_hash"))
      .agg(count(lit(1)).as("n"))
    per.groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        countDistinct(col("raw_hash")).as("n_raw_groups"),
        countDistinct(col("canon_hash")).as("n_canon_groups"))
      .withColumn("n_merged_by_normalization",
        col("n_raw_groups") - col("n_canon_groups"))
  }

  val normalizedExactSql: String =
    """WITH per AS (
         SELECT source, md5(text) AS raw_hash,
                md5(trim(regexp_replace(translate(lower(text), '.,;:!?', ''),
                  '[ \t\n\r\f]+', ' ', 'g'))) AS canon_hash,
                count(*) AS n
         FROM documents GROUP BY 1, 2, 3)
       SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
              count(DISTINCT raw_hash) AS n_raw_groups,
              count(DISTINCT canon_hash) AS n_canon_groups,
              count(DISTINCT raw_hash) - count(DISTINCT canon_hash)
                AS n_merged_by_normalization
       FROM per GROUP BY source ORDER BY source"""

  /** Hard budget on candidate-pair OCCURRENCES scored by the pair-
    * scoring family (`dedup_ngram_jaccard`, `dedup_containment`,
    * `dedup_minhash_calibration`, `dedup_lsh_tuning`). The r13 three-
    * decade probe measured e(1→3) = 2.19 on `dedup_containment`: per-
    * pair cost is flat, but candidate-pair VOLUME is density-dependent
    * (a corpus where every doc has r near-copies generates ∝ r²·N
    * shared-shingle pairs — 33.6M at sf1 → 257.4M at sf3 on the
    * synthetic replicas), so any entry that scores every candidate is
    * unbounded in duplicate density no matter how the pairs are found.
    * The fix is a deterministic content-hash DOC sample with a volume-
    * adaptive rate, applied BEFORE pair generation: measure the exact
    * candidate volume V from bucket sizes (one cheap aggregate —
    * Σ C(n,2), never materializing a pair), derive the doc rate
    * q = min(1, ⌈1e6·√(PairBudget/V)⌉/1e6), and keep a doc iff
    * md5("dk:"+id) lands under q on the ppm grid. A pair survives iff
    * BOTH endpoints survive (rate q²), so EXPECTED GENERATED
    * occurrences — not merely scored ones — are ≈ PairBudget at any
    * corpus size or duplicate density; surviving pairs keep exact
    * intersection counts because whole docs are dropped, never
    * individual doc–shingle rows. (The r14 form sampled PAIRS with a
    * per-pair hash: correct results, but the filter itself had to
    * enumerate all V occurrences to test them — the r15
    * density-stressed decade measured e(dense10→dense30) = 1.4–1.7 on
    * exactly that with the budget fully engaged. Doc sampling moves
    * the cut ahead of the explosion.) While V ≤ PairBudget (both
    * driver gate scales) the rate saturates at 100% — results
    * byte-identical to the unsampled semantics. The rule hashes doc
    * CONTENT ids, so the oracle replays the sample exactly, and every
    * consumer publishes the effective pair rate as a `sample_ppm`
    * column (1000000 = exhaustive) so a reader can tell a census from
    * an estimate. */
  val PairBudget = 2000000L

  /** Deterministic per-DOC keep statistic on the parts-per-million
    * grid: md5 is bit-identical in every engine and the 15-hex-digit
    * prefix is a uniform 60-bit integer, so `% 1e6` is an unbiased ppm
    * coordinate the DuckDB oracle reproduces exactly.
    *
    * The budget samples DOCS, not pairs — the load-bearing difference
    * (r15): a per-pair predicate must still ENUMERATE every candidate
    * occurrence to test it, so its cost grows with the candidate
    * volume V no matter how few pairs survive — the r15
    * density-stressed decade measured e(dense10→dense30) = 1.4–1.7 on
    * exactly that with the budget fully engaged. Sampling docs at rate
    * q = √(budget/V) BEFORE pair generation keeps pair survival at q²
    * (both endpoints must survive) ⇒ expected generated occurrences
    * ≈ budget at ANY density, while the filter itself costs one hash
    * per doc occurrence — linear. Surviving pairs keep EXACT
    * intersection counts: whole docs are dropped, never individual
    * doc–shingle rows. */
  private def docPpm(d: Column): Column =
    conv(substring(md5(concat(lit("dk:"), d.cast("string"))), 1, 15), 16, 10)
      .cast("long") % lit(1000000L)

  def docPpmSql(d: String): String =
    s"('0x' || substr(md5('dk:' || CAST($d AS VARCHAR)), 1, 15))::BIGINT % 1000000"

  /** 1-row (v) → 1-row (doc_keep_ppm, sample_ppm): the doc rate is
    * ceil(1e6·√(budget/v)) clamped to [1, 1e6] — v ≤ budget saturates
    * at 1e6 (exhaustive — exactly what both gate SFs hit, so their
    * hashes are unchanged) — and `sample_ppm` publishes the EFFECTIVE
    * pair rate dq²/1e6 (= 1e6 when exhaustive) so a reader can still
    * tell a census from an estimate. √ over an IEEE double division is
    * correctly rounded in both engines, so the grid point is
    * engine-exact. */
  private def docCutFromVolume(vol: DataFrame): DataFrame =
    vol.select(
      when(col("v") <= PairBudget, lit(1000000L))
        .otherwise(least(lit(1000000L),
          expr(s"cast(ceil(1000000 * sqrt(cast($PairBudget as double) / v)) as bigint)")))
        .as("doc_keep_ppm"))
      .withColumn("sample_ppm", expr("doc_keep_ppm * doc_keep_ppm div 1000000"))

  /** The cut CTE body over a 1-row volume CTE exposing column `v`. */
  def docCutSql(volCte: String): String =
    s"""SELECT doc_keep_ppm, doc_keep_ppm * doc_keep_ppm // 1000000 AS sample_ppm FROM (
          SELECT CAST(CASE WHEN v <= $PairBudget THEN 1000000
                 ELSE least(1000000, CAST(ceil(1000000 * sqrt(CAST($PairBudget AS DOUBLE) / v)) AS BIGINT))
                 END AS BIGINT) AS doc_keep_ppm FROM $volCte)"""

  /** Bucket doc-list under the doc sample, SATURATED case
    * short-circuited: when `doc_keep_ppm` = 1e6 the filter is provably
    * a no-op and the array passes through untouched (no per-element
    * hash — the r14 lesson: both gate SFs sit below budget, so any
    * always-on per-element work is pure gate-scale overhead). */
  private def sampledDocs(ds: Column): Column =
    when(col("doc_keep_ppm") === 1000000L, ds)
      .otherwise(filter(ds, d => docPpm(d) < col("doc_keep_ppm")))

  /** Row-level doc-sample predicate for SQL mirrors (and Spark
    * row-form consumers): saturated-case Or short-circuit first. */
  def docKeepSql(d: String): String =
    s"((SELECT doc_keep_ppm FROM cut) = 1000000 OR ${docPpmSql(d)} < (SELECT doc_keep_ppm FROM cut))"

  /** Shared-shingle pair intersections: (da < db, |A∩B|, |A|, |B|) —
    * the base both overlap measures (Jaccard, containment) rank from.
    * The candidate join runs on a 60-bit integer hash of the shingle,
    * not the raw text: 8-byte fixed-width shuffle keys and integer
    * equality; the oracle applies the identical mapping so parity is
    * exact (collisions would only add a verified-anyway candidate).
    * ONE aggregation gathers each shingle's (sorted) doc list; pairs
    * are generated from the list by a compiled combo kernel. Two
    * shuffles total (by shingle, by pair) vs four for the df-cap +
    * self-join formulation. The 500-doc frequency cap doubles as the
    * skew guard: heavy-hitter shingles (the LSH skew bomb at corpus
    * scale) are dropped before any pair explosion. The bucket table is
    * lineage-cut once (it feeds both the volume measurement and the
    * pair stream), the volume-adaptive [[PairBudget]] keep rule runs
    * BEFORE the pair shuffle, and the surviving rate rides along as
    * `sample_ppm`. Set sizes come from a lineage-cut (doc_id, n_sh)
    * aggregate of the SAME exploded hash table — `shingles` is
    * list_distinct, so rows-per-doc IS the set size — rather than
    * re-joining `sets`, which would re-run the regex tokenizer over
    * the full corpus once per join side (tokenize is the dominant
    * linear cost of this family). */
  private def pairIntersections(s: SparkSession, d: String): DataFrame =
    pairIntersectionsFrom(graft.Checkpoints.cutLazy(shingleSets(s, d)))

  /** Same pipeline over an ALREADY LINEAGE-CUT `sets` frame, so an
    * entry that needs both the pair stream and another sets-derived
    * branch (signatures, band lists) tokenizes the corpus ONCE — the
    * r15 piecewise profile put one tokenize pass at ~0.5 s of the
    * 2.7 s dedup_ngram_jaccard steady state, and the regex pass is the
    * dominant linear CPU cost at any scale (guide §2.4: share the
    * materialization instead of re-running the pass). Set sizes come
    * straight off the cut frame's `n_sh` column (`size(shingles)` —
    * identical to the old exploded `count(*)` per doc because
    * `shingles` is list_distinct) instead of a second full
    * explode+groupBy pass over the corpus. */
  private def pairIntersectionsFrom(sets: DataFrame): DataFrame =
    pairIntersectionsParts(hashed60(hashedShingles(sets)),
      sets.select(col("doc_id"), col("n_sh")))

  /** (doc_id, h = md5(shingle)) — ONE md5 pass that both the signature
    * chain (full hex string) and the pair chain (60-bit prefix via
    * [[hashed60]]) read, so an entry needing both cuts e0 once instead
    * of exploding + hashing the shingle arrays twice (guide §2.4). */
  private def hashedShingles(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("h"))

  /** The pair chain's 60-bit integer hash, read off [[hashedShingles]]
    * (identical value to the old direct conv(substring(md5(raw)))). */
  private def hashed60(e0: DataFrame): DataFrame =
    e0.select(col("doc_id"),
      conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("sh"))

  /** [[pairIntersectionsFrom]] body over pre-derived parts: `e` =
    * (doc_id, sh 60-bit), `nsh` = (doc_id, n_sh). */
  private def pairIntersectionsParts(e: DataFrame, nsh: DataFrame): DataFrame = {
    val bySh = graft.Checkpoints.cutLazy(
      e.groupBy(col("sh")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 500)))
    val vol = bySh.agg(coalesce(sum(expr("size(ds) * (size(ds) - 1) div 2")), lit(0L)).as("v"))
    val cut = docCutFromVolume(vol)
    // doc sample applied to the bucket ARRAYS in place (no second
    // shuffle): pairCombos then only ever generates pairs among
    // surviving docs, so generation cost — not just scoring cost — is
    // capped at ~PairBudget occurrences at any density
    bySh
      .crossJoin(broadcast(cut))
      .select(explode(graft.functions.TextUdfs.pairCombos(sampledDocs(col("ds")))).as("p"),
        col("sample_ppm"))
      .groupBy(col("p._1").as("da"), col("p._2").as("db"))
      .agg(count(lit(1)).as("inter"), max(col("sample_ppm")).as("sample_ppm"))
      .join(nsh.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(nsh.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
  }

  /** The pair-stage CTE chain every budget-sampled SQL mirror shares:
    * sets → hashed occurrences → df-capped buckets → measured volume →
    * keep_ppm cutoff → sampled (da, db, i) intersections. */
  /** MATERIALIZED on every multiply-referenced expensive CTE: DuckDB
    * inlines CTEs PER REFERENCE, so without the hint each scalar
    * `(SELECT … FROM cut)` re-derives the whole tokenize→signature
    * chain (the r15 doc-sample cut made dedup_lsh_tuning's mirror
    * 402 s on exactly this). The keyword is DuckDB-only SQL — these
    * strings never reach Spark's parser. */
  private def pairCtesSql: String =
    s"""sets AS MATERIALIZED (
          SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
            SELECT doc_id, $shinglesSqlExpr AS shingles FROM documents)
          WHERE len(shingles) > 0),
        e AS MATERIALIZED (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh FROM sets),
        df AS MATERIALIZED (SELECT sh, count(*) AS n FROM e GROUP BY sh HAVING count(*) BETWEEN 2 AND 500),
        vol AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS v FROM df),
        cut AS MATERIALIZED (${docCutSql("vol")}),
        ec AS MATERIALIZED (SELECT e.doc_id, e.sh FROM e JOIN df USING (sh)
               WHERE ${docKeepSql("e.doc_id")}),
        inter AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          FROM ec a JOIN ec b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2)"""

  /** The pair-budget mechanism's own audit row — what a 100 TB dedup
    * rollout publishes next to its results so a reader can tell a
    * census from an estimate without re-deriving the math: the
    * measured candidate volume, the cutoff the volume produced, and
    * the occurrences/pairs that actually got scored under it. The
    * oracle hash certifies the mechanism end-to-end: at gate scale
    * `sample_ppm` = 1e6 forces `n_scored_occurrences ==
    * candidate_volume` (exhaustive ⇒ nothing dropped — an equality the
    * DuckDB replay must reproduce exactly), and above budget it
    * certifies the deterministic doc sample (occurrences concentrate
    * near sample_ppm·V/1e6). Costs one volume aggregate plus the
    * sampled pair stream — the same bounded work as any budget
    * consumer. */
  def pairBudgetAudit: Q = (s, d) => {
    val sets = shingleSets(s, d)
    val e = sets.select(col("doc_id"), explode(col("shingles")).as("raw"))
      .select(col("doc_id"),
        conv(substring(md5(col("raw")), 1, 15), 16, 10).cast("long").as("sh"))
    val bySh = graft.Checkpoints.cutLazy(
      e.groupBy(col("sh")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 500)))
    val vol = bySh.agg(coalesce(sum(expr("size(ds) * (size(ds) - 1) div 2")), lit(0L)).as("v"))
    val cut = docCutFromVolume(vol)
    // count + countDistinct in ONE agg makes Catalyst Expand the
    // exploded pair stream ×2 before the shuffle; grouping by pair
    // first (map-side combine) and folding the tiny grouped table
    // computes the same two numbers from one un-expanded pass
    // (n_scored_pairs = rows, n_scored_occurrences = Σcnt — exactly the
    // oracle's `inter`-based formulation)
    val scored = bySh
      .crossJoin(broadcast(cut))
      .select(explode(graft.functions.TextUdfs.pairCombos(sampledDocs(col("ds")))).as("p"))
      .groupBy(col("p._1"), col("p._2")).agg(count(lit(1)).as("cnt"))
      .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_scored_occurrences"),
        count(lit(1)).as("n_scored_pairs"))
    vol.select(col("v").as("candidate_volume"))
      .crossJoin(broadcast(cut))
      .crossJoin(broadcast(scored))
      .select(col("candidate_volume"), col("doc_keep_ppm"), col("sample_ppm"),
        col("n_scored_pairs"), col("n_scored_occurrences"),
        (col("sample_ppm") === 1000000L).as("exhaustive"))
  }

  val pairBudgetAuditSql: String =
    s"""WITH $pairCtesSql,
        scored AS (
          SELECT coalesce(sum(i), 0) AS occ, count(*) AS prs FROM inter)
        SELECT CAST(v AS BIGINT) AS candidate_volume, c.doc_keep_ppm, c.sample_ppm,
               CAST(prs AS BIGINT) AS n_scored_pairs,
               CAST(occ AS BIGINT) AS n_scored_occurrences,
               c.sample_ppm = 1000000 AS exhaustive
        FROM vol CROSS JOIN cut c CROSS JOIN scored"""

  /** Corpus fractions the saturation curve evaluates (percent). */
  val SaturationPcts: Seq[Int] = Seq(25, 50, 75, 100)

  /** Dedup SATURATION curve — the forecast a pilot runs before
    * committing to dedup at full scale: exact-duplicate share on
    * nested content-hash fractions of the corpus (25/50/75/100% by a
    * doc_id-hash bucket — content-INDEPENDENT, so each fraction is an
    * unbiased subsample, and nested, so the curve is monotone in
    * coverage, not resample noise). A rising curve means duplicate
    * share grows with corpus size (cross-document duplication — the
    * 100 TB yield will EXCEED the pilot's); a flat one means
    * within-batch duplication only. ONE aggregate computes every
    * fraction (conditional distinct counts over the same hash pass);
    * no joins, no windows. */
  def saturationCurve: Q = (s, d) => {
    val h = Tables.documents(s, d).select(
      expr("cast(conv(substring(md5(concat('sat:', cast(doc_id as string))), 1, 8), 16, 10) as bigint) % 100")
        .as("bucket"),
      md5(col("text")).as("th"))
    val aggs = SaturationPcts.flatMap(p => Seq(
      count(when(col("bucket") < p, 1)).as(s"n$p"),
      countDistinct(when(col("bucket") < p, col("th"))).as(s"u$p")))
    val stackArgs = SaturationPcts.map(p => s"$p, n$p, u$p").mkString(", ")
    h.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${SaturationPcts.size}, $stackArgs) as (pct, n_docs, n_unique)")
      .withColumn("dup_share_x1e6",
        expr("CASE WHEN n_docs > 0 THEN (n_docs - n_unique) * 1000000 div n_docs ELSE 0 END"))
  }

  val saturationCurveSql: String = {
    val cols = SaturationPcts.flatMap(p => Seq(
      s"count(CASE WHEN bucket < $p THEN 1 END) AS n$p",
      s"count(DISTINCT CASE WHEN bucket < $p THEN th END) AS u$p")).mkString(", ")
    val rows = SaturationPcts
      .map(p => s"SELECT $p AS pct, n$p AS n_docs, u$p AS n_unique FROM c")
      .mkString(" UNION ALL ")
    s"""WITH h AS (
          SELECT ('0x' || substring(md5('sat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
                   AS bucket,
                 md5(text) AS th
          FROM documents),
        c AS (SELECT $cols FROM h),
        t AS ($rows)
        SELECT CAST(pct AS INT) AS pct, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_unique AS BIGINT) AS n_unique,
               CAST(CASE WHEN n_docs > 0
                    THEN (n_docs - n_unique) * 1000000 // n_docs
                    ELSE 0 END AS BIGINT) AS dup_share_x1e6
        FROM t ORDER BY pct"""
  }

  /** n-gram Jaccard near-dup pairs: shared-shingle candidate join
    * (df-capped), exact Jaccard ≥ 0.5, candidate volume bounded by the
    * [[PairBudget]] keep rule (`sample_ppm` = 1e6 ⇒ exhaustive — both
    * gate SFs; above budget the output is the exact result restricted
    * to the deterministic content-hash pair sample). */
  def ngramJaccard: Q = (s, d) => {
    pairIntersections(s, d)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        trunc4(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))).as("jaccard"),
        col("sample_ppm"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Asymmetric containment: |A∩B|/|A| and |A∩B|/|B| — catches the
    * quotation/inclusion case Jaccard misses (a short document fully
    * contained in a long one scores high containment but low Jaccard,
    * because the union is dominated by the long side). Same two-
    * shuffle candidate pipeline as the Jaccard entry; only the final
    * ranking expression differs. The r13 probe's worst super-linear
    * tail (e(1→3) = 2.19, pure pair-volume growth) — now bounded by
    * the [[PairBudget]] volume-adaptive keep rule: exhaustive
    * (`sample_ppm` = 1e6) at both gate SFs, a deterministic content-
    * hash pair sample of the exact ≥-threshold result above budget. */
  def containment: Q = (s, d) => {
    pairIntersections(s, d)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        trunc4(col("inter") * lit(1.0) / col("na")).as("containment_a_in_b"),
        trunc4(col("inter") * lit(1.0) / col("nb")).as("containment_b_in_a"),
        col("sample_ppm"))
      .filter(greatest(col("containment_a_in_b"), col("containment_b_in_a")) >= 0.5)
  }

  val containmentSql: String =
    s"""WITH $pairCtesSql
        SELECT da AS doc_a, db AS doc_b,
               floor((i * 1.0 / sa.n_sh) * 10000) / 10000.0 AS containment_a_in_b,
               floor((i * 1.0 / sb.n_sh) * 10000) / 10000.0 AS containment_b_in_a,
               c.sample_ppm AS sample_ppm
        FROM inter JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id
             CROSS JOIN cut c
        WHERE greatest(floor((i * 1.0 / sa.n_sh) * 10000) / 10000.0,
                       floor((i * 1.0 / sb.n_sh) * 10000) / 10000.0) >= 0.5
        ORDER BY doc_a, doc_b"""

  val ngramJaccardSql: String =
    s"""WITH $pairCtesSql
        SELECT da AS doc_a, db AS doc_b,
               floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000) / 10000.0 AS jaccard,
               c.sample_ppm AS sample_ppm
        FROM inter JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id
             CROSS JOIN cut c
        WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000) / 10000.0 >= 0.5
        ORDER BY doc_a, doc_b"""

  val NumHashes = 16
  val BandSize = 4
  val NumBands: Int = NumHashes / BandSize

  /** MinHash + banded LSH via ONE-PERMUTATION HASHING (Li, Owen &
    * Zhang, NIPS 2012): each shingle is hashed ONCE (md5), routed to
    * one of 16 signature slots by its first hex digit, and each slot
    * keeps the min hash seen. 16× less hashing than 16 independent
    * permutations, same banding guarantees; empty slots densify to a
    * sentinel. All candidates are verified with exact Jaccard ≥ 0.4,
    * so the LSH layer only affects recall — and the oracle runs the
    * identical pipeline, keeping parity end-to-end. */
  /** (doc_id, band_idx, bh) — the one-permutation-hashing signature
    * exploded to one row per LSH band, shared by `dedup_minhash_lsh`
    * and `dedup_incremental`. */
  private def sigTable(sets: DataFrame): DataFrame =
    sigTableFromHashes(hashedShingles(sets))

  /** The one-permutation signature aggregation over an already-derived
    * [[hashedShingles]] frame. */
  private def sigTableFromHashes(e0: DataFrame): DataFrame = {
    val sigCols = (0 until NumHashes).map { i =>
      val slot = Integer.toHexString(i)
      coalesce(min(when(substring(col("h"), 1, 1) === slot, col("h"))), lit("e" + slot)).as(s"s$i")
    }
    e0.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  /** Band the 16-slot signature at `rows` hashes per band (bands =
    * 16/rows) — the (b, r) knob the tuning entry sweeps. */
  private def bandListFor(sig: DataFrame, rows: Int): DataFrame = {
    val bands = NumHashes / rows
    val bandCols = (0 until bands).map(b =>
      md5(concat((b * rows until (b + 1) * rows).map(i => col(s"s$i")): _*)).as(s"band$b"))
    val banded = sig.select(col("doc_id") +: bandCols: _*)
    val stackArgs = (0 until bands).map(b => s"'$b', band$b").mkString(", ")
    banded.selectExpr("doc_id", s"stack($bands, $stackArgs) as (band_idx, bh)")
  }

  private[operators] def bandList(sets: DataFrame): DataFrame =
    bandListFor(sigTable(sets), BandSize)

  def minhashLsh: Q = (s, d) => {
    // sets is referenced three times (signature build + both verify
    // joins): cut it once so the tokenizer runs one pass, not three.
    // r16 adjudication of VERDICT item 1 (the driver's 1.755→2.387 s /
    // 0.49-scaling reading): a piecewise profile puts the wide cut's
    // materialization at 0.33-0.46 s (tokenize included) with the sig
    // aggregation dominating, and BOTH prescribed alternatives measured
    // SLOWER at 32 cores in interleaved A/Bs — narrow band-list cut +
    // candidate-only re-tokenize: 2.02 vs 1.48 s panel median (serial
    // broadcast/semi-join stages cost more than the saved tokenize);
    // two-phase / slot-column sig rewrites: flat to worse (0.80 vs
    // 0.86/0.91 s). The r15 shape stands; the driver panel number was
    // window noise, as VERDICT itself suspected.
    val sets = graft.Checkpoints.cutLazy(shingleSets(s, d))
    val bl = bandList(sets)
    val cand = bl.select(col("doc_id").as("da"), col("band_idx"), col("bh"))
      .join(bl.select(col("doc_id").as("db"), col("band_idx"), col("bh")),
        Seq("band_idx", "bh"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
    cand
      .join(sets.select(col("doc_id").as("da"), col("shingles").as("sha"), col("n_sh").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shingles").as("shb"), col("n_sh").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        trunc4(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.4)
  }

  /** SQL fragments of the one-permutation signature → band-list chain
    * (CTE names `e`/`sig`/`banded`), shared by every oracle that
    * rebuilds the banded index. */
  private[operators] val sigSqlExprs: String = (0 until NumHashes)
    .map { i =>
      val slot = Integer.toHexString(i)
      s"coalesce(min(CASE WHEN substr(h, 1, 1) = '$slot' THEN h END), 'e$slot') AS s$i"
    }.mkString(", ")
  private[operators] val bandSqlExprs: String = (0 until NumBands)
    .map(b => s"md5(${(b * BandSize until (b + 1) * BandSize).map(i => s"s$i").mkString(" || ")}) AS band$b")
    .mkString(", ")
  private[operators] val blSqlSelects: String = (0 until NumBands)
    .map(b => s"SELECT doc_id, '$b' AS band_idx, band$b AS bh FROM banded")
    .mkString(" UNION ALL ")

  val minhashLshSql: String = {
    val sigExprs = sigSqlExprs
    val bandExprs = bandSqlExprs
    val blSelects = blSqlSelects
    s"""WITH sets AS (
          SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
            SELECT doc_id, $shinglesSqlExpr AS shingles FROM documents)
          WHERE len(shingles) > 0),
        e AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sets),
        sig AS (SELECT doc_id, $sigExprs FROM e GROUP BY doc_id),
        banded AS (SELECT doc_id, $bandExprs FROM sig),
        bl AS ($blSelects),
        cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bl a JOIN bl b ON a.band_idx = b.band_idx AND a.bh = b.bh
            AND a.doc_id < b.doc_id)
        SELECT da AS doc_a, db AS doc_b,
               floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                 (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles)))) * 10000) / 10000.0
                 AS jaccard
        FROM cand JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id
        WHERE floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles)))) * 10000) / 10000.0 >= 0.4
        ORDER BY doc_a, doc_b"""
  }

  /** Hex first-chars of md5(text) that route a document into the
    * incremental DELTA batch (~2/16 ≈ 12.5% of the corpus) — the same
    * content-hash membership idiom the split family uses, so the
    * batch is partitioning- and arrival-order-independent. */
  val IncDeltaHex: Seq[String] = Seq("0", "1")

  /** Incremental near-dedup — the ingestion-time shape of
    * `dedup_minhash_lsh`: only the DELTA batch probes the banded LSH
    * index; base×base pairs are never generated (that work belongs to
    * the round that ingested the base). At 100 TB the base band list
    * is a stored index and the probe cost is ∝ |delta|, not |corpus|.
    * Each delta doc reports its verified duplicate count and best
    * match (highest Jaccard, ties to the higher partner id — one
    * lexicographic struct max). The oracle rebuilds the identical
    * index + probe in SQL, so the hash match certifies the
    * incremental semantics ≡ full recompute restricted to delta. */
  def incremental: Q = (s, d) => {
    // four references (band list + two verify joins + delta filter):
    // one cut = one tokenize pass. (r16: the narrow band-list-cut +
    // candidate-only re-tokenize variant was measured and REJECTED —
    // see the minhashLsh comment; same 1.37× panel regression here.)
    val sets = graft.Checkpoints.cutLazy(shingleSets(s, d))
    val side = Tables.documents(s, d).select(col("doc_id"),
      substring(md5(col("text")), 1, 1).isin(IncDeltaHex: _*).as("is_delta"))
    val bl = bandList(sets).join(side, Seq("doc_id"))
    val probe = bl.filter(col("is_delta"))
      .select(col("doc_id").as("da"), col("band_idx"), col("bh"))
    val index = bl.select(col("doc_id").as("db"), col("band_idx"), col("bh"))
    val cand = probe.join(index, Seq("band_idx", "bh"))
      .filter(col("da") =!= col("db"))
      .select("da", "db").distinct()
    val verified = cand
      .join(sets.select(col("doc_id").as("da"), col("shingles").as("sha"), col("n_sh").as("na")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shingles").as("shb"), col("n_sh").as("nb")), "db")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jaccard",
        trunc4(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))))
      .filter(col("jaccard") >= 0.4)
    val agg = verified.groupBy(col("da"))
      .agg(count(lit(1)).as("n_dups"),
        max(struct(col("jaccard"), col("db"))).as("best"))
    side.filter(col("is_delta"))
      .join(sets.select(col("doc_id")), Seq("doc_id"))
      .join(agg.withColumnRenamed("da", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_dups").isNull, lit("unique")).otherwise(lit("dup")).as("status"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("best.db"), lit(-1L)).as("best_partner"),
        coalesce(col("best.jaccard"), lit(0.0)).as("best_jaccard"))
  }

  val incrementalSql: String = {
    val sigExprs = (0 until NumHashes)
      .map { i =>
        val slot = Integer.toHexString(i)
        s"coalesce(min(CASE WHEN substr(h, 1, 1) = '$slot' THEN h END), 'e$slot') AS s$i"
      }.mkString(", ")
    val bandExprs = (0 until NumBands)
      .map(b => s"md5(${(b * BandSize until (b + 1) * BandSize).map(i => s"s$i").mkString(" || ")}) AS band$b")
      .mkString(", ")
    val blSelects = (0 until NumBands)
      .map(b => s"SELECT doc_id, '$b' AS band_idx, band$b AS bh FROM banded")
      .mkString(" UNION ALL ")
    val deltaIn = IncDeltaHex.map(h => s"'$h'").mkString(", ")
    s"""WITH sets AS (
          SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
            SELECT doc_id, $shinglesSqlExpr AS shingles FROM documents)
          WHERE len(shingles) > 0),
        side AS (SELECT doc_id, substr(md5(text), 1, 1) IN ($deltaIn) AS is_delta
                 FROM documents),
        e AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sets),
        sig AS (SELECT doc_id, $sigExprs FROM e GROUP BY doc_id),
        banded AS (SELECT doc_id, $bandExprs FROM sig),
        bl AS ($blSelects),
        bls AS (SELECT bl.doc_id, band_idx, bh, is_delta
                FROM bl JOIN side USING (doc_id)),
        cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bls a JOIN bls b ON a.band_idx = b.band_idx AND a.bh = b.bh
            AND a.is_delta AND a.doc_id <> b.doc_id),
        ver AS (
          SELECT da, db,
                 floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                   (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles))))
                   * 10000) / 10000.0 AS jaccard
          FROM cand JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id
          WHERE floor((len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                  (sa.n_sh + sb.n_sh - len(list_intersect(sa.shingles, sb.shingles))))
                  * 10000) / 10000.0 >= 0.4),
        agg AS (SELECT da, count(*) AS n_dups FROM ver GROUP BY da),
        best AS (
          SELECT da, db, jaccard,
                 row_number() OVER (PARTITION BY da
                                    ORDER BY jaccard DESC, db DESC) AS rn
          FROM ver)
        SELECT s.doc_id,
               CASE WHEN a.n_dups IS NULL THEN 'unique' ELSE 'dup' END AS status,
               CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
               CAST(COALESCE(b.db, -1) AS BIGINT) AS best_partner,
               COALESCE(b.jaccard, 0.0) AS best_jaccard
        FROM (SELECT side.doc_id FROM side JOIN sets USING (doc_id)
              WHERE is_delta) s
        LEFT JOIN agg a ON s.doc_id = a.da
        LEFT JOIN best b ON s.doc_id = b.da AND b.rn = 1
        ORDER BY s.doc_id"""
  }

  /** SimHash near-dup pairs: 60-bit signature from md5-prefix token
    * hashes (60 bits = 15 hex chars: portable AND exact in a BIGINT on
    * every engine — xxhash64 would be Spark-only); 4×16-bit bands →
    * candidate join is EXACT for Hamming ≤ 3 (pigeonhole: 3 flipped
    * bits leave ≥1 band clean). DuckDB oracle runs the identical
    * pipeline bit-for-bit; brute-force parity also in DedupSpec. */
  def simhash: Q = (s, d) => {
    // signature packed into ONE BIGINT, computed per-doc with no shuffle:
    // bit k set iff more than half the distinct-token hashes have bit k set
    // (identical to the sum(+1/-1) vote > 0 formulation).
    val sig = Tables.documents(s, d)
      .filter(trim(col("text")) =!= "") // ⇔ has tokens; cheap + scan-pushable
      .select(col("doc_id"),
        expr(s"transform(array_distinct($toksExpr), t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))")
          .as("hs"))
      .select(col("doc_id"), graft.functions.TextUdfs.packSimhash(col("hs")).as("sig"))
      // both sides of the band self-join derive from sig: one cut =
      // one tokenize+pack pass, not two
      .transform(graft.Checkpoints.cutLazy)
    // 4×16-bit integer bands; hamming via bit_count(xor) — all codegen'd
    // integer ops, no strings anywhere in the candidate path.
    val bandCols = (0 until 4).map(b =>
      shiftright(col("sig"), b * 16).bitwiseAND(lit(65535L)).as(s"band$b"))
    val banded = sig.select(col("doc_id") +: col("sig") +: bandCols: _*)
    val stackArgs = (0 until 4).map(b => s"$b, band$b").mkString(", ")
    val bl = banded.selectExpr("doc_id", "sig", s"stack(4, $stackArgs) as (band_idx, bv)")
    bl.select(col("doc_id").as("da"), col("sig").as("sig_a"), col("band_idx"), col("bv"))
      .join(bl.select(col("doc_id").as("db"), col("sig").as("sig_b"), col("band_idx"), col("bv")),
        Seq("band_idx", "bv"))
      .filter(col("da") < col("db"))
      .withColumn("hamming", expr("CAST(bit_count(sig_a ^ sig_b) AS INT)"))
      .filter(col("hamming") <= 3) // filter BEFORE distinct: dedup only survivors
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("hamming"))
      .distinct()
  }

  /** The same simhash pipeline in DuckDB: 60-bit md5-prefix hashes,
    * per-bit majority vote (2·ones > n), 4×16-bit band join, Hamming
    * via bit_count(xor). */
  val simhashSql: String =
    s"""WITH toks AS (
          SELECT doc_id, unnest(list_distinct($toksSqlExpr)) AS t
          FROM documents WHERE trim(text) <> ''),
        hs AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
        votes AS (
          SELECT doc_id, k,
                 count(*) FILTER (WHERE ((h >> k) & 1) = 1) AS ones, count(*) AS n
          FROM hs CROSS JOIN (SELECT unnest(range(0, 60)) AS k) ks
          GROUP BY doc_id, k),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS sig
          FROM votes GROUP BY doc_id),
        bl AS (
          SELECT doc_id, sig, b AS band_idx, (sig >> (b * 16)) & 65535 AS bv
          FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) bs),
        cand AS (
          SELECT DISTINCT a.doc_id AS da, a.sig AS sa, b.doc_id AS db, b.sig AS sb
          FROM bl a JOIN bl b ON a.band_idx = b.band_idx AND a.bv = b.bv
            AND a.doc_id < b.doc_id)
        SELECT da AS doc_a, db AS doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        ORDER BY doc_a, doc_b"""

  /** Embedding near-dup pairs: (label, semantic-cell)-blocked join
    * with top-2 multi-probe, cosine ≥ 0.4. The cells come from the
    * CORPUS-SCALED coarse quantizer shared with `dedup_semantic`
    * ([[Similarity.semProbe]]: K = max(16, ceil(N/125)), so E|cell|
    * stays flat and the pair stage is linear in the corpus — a
    * label-only block has a FIXED key count, which made this entry
    * quadratic (the r9 sf1 probe's 6.7×). Each vector probes its 2
    * nearest cells, so pairs straddling a Voronoi boundary stay
    * candidates (the standard multi-probe recall repair); within-cell
    * cosines are exact, a pair sharing both cells dedups via the
    * scalar-column distinct. */
  def embeddingCosine: Q = (s, d) => {
    // the probe table feeds both join sides — cut the lineage so the
    // quantizer scoring runs once
    val probes = graft.Checkpoints.cut(Similarity.semProbe(s, d, 2))
    val a = probes.select(col("vec_id").as("vec_a"), col("label"), col("cell"),
      col("v").as("va"), col("n2").as("n2a"))
    val b = probes.select(col("vec_id").as("vec_b"), col("label"), col("cell"),
      col("v").as("vb"), col("n2").as("n2b"))
    a.join(b, Seq("label", "cell")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", expr("graft_dot(va, vb)"))
      .select(col("vec_a"), col("vec_b"), col("label"),
        trunc4(col("dot") / (sqrt(col("n2a")) * sqrt(col("n2b")))).as("cosine"))
      .filter(col("cosine") >= 0.4)
      .distinct()
  }

  val embeddingCosineSql: String =
    s"""WITH ${Similarity.semCtes},
       ${Similarity.semProbeSql(2)},
       pp AS (
         SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, ea.label,
                floor(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * 10000) / 10000.0 AS cosine
         FROM sem_probe a JOIN sem_probe b
           ON b.cell = a.cell AND b.vec_id > a.vec_id
         JOIN embeddings ea ON ea.vec_id = a.vec_id
         JOIN embeddings eb ON eb.vec_id = b.vec_id AND eb.label = ea.label)
       SELECT vec_a, vec_b, label, cosine FROM pp
       WHERE cosine >= 0.4 ORDER BY vec_a, vec_b"""

  /** The ACTION side of dedup: the drop-list. Docs sharing a canonical
    * fingerprint (sorted distinct tokens — catches shuffled/reordered
    * copies exact-hash misses) are collapsed to the smallest doc_id;
    * every other member is emitted as (dup → canonical). One shuffle
    * (window over fingerprint), no join back to the corpus. */
  def keepCanonical: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(expr(s"array_join(array_sort(array_distinct($toksExpr)), ' ')")).as("fp"))
      .withColumn("canonical_doc_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") =!= col("canonical_doc_id"))
      .select(col("doc_id").as("dup_doc_id"), col("canonical_doc_id"), col("fp").as("fingerprint"))
  }

  val keepCanonicalSql: String =
    s"""SELECT doc_id AS dup_doc_id, canonical_doc_id, fp AS fingerprint FROM (
          SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS canonical_doc_id
          FROM (SELECT doc_id,
                  md5(array_to_string(list_sort(list_distinct($toksSqlExpr)), ' ')) AS fp
                FROM documents) t) m
        WHERE doc_id <> canonical_doc_id ORDER BY dup_doc_id"""

  val FuzzyBand = 40
  val FuzzyPrefix = 60

  /** Block-population cap for `dedup_fuzzy_edit`: a (lang, band)
    * block bigger than this is deterministically sharded by a content
    * hash into ceil(|block|/FuzzyCap) pieces, so the pair stage is
    * Σ|shard|² ≈ N·FuzzyCap — linear in the corpus instead of the
    * unbounded Σ|block|² quadratic (the r9 sf1 probe's 16.9×; with
    * the cap the measured sf0.1→sf1 wall-clock ratio is ~3× at 10×
    * data, pair volume ratio 17×→plateau ~c/2 per doc). 64 keeps
    * every gate-scale block (≤25 docs at sf0.01) far under the cap —
    * sharding only ever activates where the quadratic would bite —
    * and halves the per-doc pair plateau vs the original 128 (the r12
    * probe measured the linear pair term at ~0.8 s of the entry's
    * 1.9 s at sf0.1; halving it moves the 10× ratio from 4.7× toward
    * the fixed-cost floor while the nearest neighbor stays exact for
    * every block ≤64). */
  val FuzzyCap = 64

  /** Fuzzy near-dup by edit distance: each document's nearest
    * neighbor (smallest levenshtein over a fixed 60-char normalized
    * prefix) within its (lang, 40-char length-band, content-shard)
    * block. Threshold-free — ranking instead of a tuned cutoff — so
    * the operator is well-defined at every corpus scale. Cost control
    * is explicit: blocks are CAPPED — a block past FuzzyCap docs is
    * sharded by md5 of the prefix's 12-char head into
    * ceil(|block|/FuzzyCap) pieces (content-correlated, so docs whose
    * prefixes agree on the head stay comparable; the same hash rule
    * runs in both engines), the DP runs over the fixed prefix, and
    * each unordered pair runs the DP ONCE (a_id < b_id,
    * localCheckpoint so the union doesn't recompute it) before
    * symmetrizing — the argmin then picks the per-probe minimum.
    * Below the cap the shard key is constant 0 and the result is
    * EXACTLY the uncapped in-block nearest neighbor (DedupSpec proves
    * the equivalence; the uncapped exact form survives there as the
    * brute-force verifier). The production prefilter→verify
    * composition is its sibling `dedup_fuzzy_lsh`. */
  def fuzzyEdit: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val blockW = Window.partitionBy(col("lang"), col("band"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / FuzzyBand).as("band"),
        substring(col("text"), 1, FuzzyPrefix).as("prefix"))
      .withColumn("shard", pmod(
        conv(substring(md5(substring(col("prefix"), 1, 12)), 1, 15), 16, 10)
          .cast("long"),
        ceil(count(lit(1)).over(blockW) / lit(FuzzyCap.toDouble)).cast("long")))
    val a = docs.select(col("doc_id").as("a_id"), col("lang"), col("band"),
      col("shard"), col("prefix").as("a_prefix"))
    val b = docs.select(col("doc_id").as("b_id"), col("lang"), col("band"),
      col("shard"), col("prefix").as("b_prefix"))
    val half = a.join(b, Seq("lang", "band", "shard")).filter(col("a_id") < col("b_id"))
      // the block join has few keys (|langs|×|bands|) — rebalance the
      // candidate pairs across all cores BEFORE the DP runs, or the
      // biggest language's blocks serialize on a handful of tasks
      .repartition(col("a_id"))
      .withColumn("edit_distance", levenshtein(col("a_prefix"), col("b_prefix")))
      .select(col("lang"), col("a_id"), col("b_id"), col("edit_distance"))
      // registry-tracked cut (release-sweepable), LAZY: the union below
      // must not re-run the DP — lazy blocks are still computed once at
      // the action, without the extra eager blocking job
      .transform(graft.Checkpoints.cutLazy)
    val sym = half.unionByName(half.select(col("lang"), col("b_id").as("a_id"),
      col("a_id").as("b_id"), col("edit_distance")))
    // arg-min as ONE aggregation with map-side combine — min of
    // struct(dist, id) is the (dist, id) lexicographic minimum, the
    // same tie-break a row_number window would pick without its
    // per-partition full sort
    sym
      .groupBy(col("a_id").as("doc_id"))
      .agg(min(struct(col("edit_distance"), col("b_id"))).as("m"),
        first(col("lang")).as("lang"))
      .select(col("doc_id"), col("m").getField("b_id").as("nn_doc_id"),
        col("lang"), col("m").getField("edit_distance").as("edit_distance"))
  }

  val fuzzyEditSql: String =
    s"""WITH d0 AS (
         SELECT doc_id, lang, CAST(floor(n_chars / $FuzzyBand) AS BIGINT) AS band,
                substr(text, 1, $FuzzyPrefix) AS prefix
         FROM documents),
       docs AS (
         SELECT *, ('0x' || substr(md5(substr(prefix, 1, 12)), 1, 15))::BIGINT
                   % CAST(ceil(count(*) OVER (PARTITION BY lang, band)
                               / ${FuzzyCap}.0) AS BIGINT) AS shard
         FROM d0),
       h AS (
         SELECT a.lang, a.doc_id AS a_id, b.doc_id AS b_id,
                CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
         FROM docs a JOIN docs b
           ON a.lang = b.lang AND a.band = b.band AND a.shard = b.shard
          AND a.doc_id < b.doc_id),
       p AS (
         SELECT * FROM h
         UNION ALL SELECT lang, b_id AS a_id, a_id AS b_id, edit_distance FROM h)
       SELECT a_id AS doc_id, b_id AS nn_doc_id, lang, edit_distance FROM (
         SELECT *, row_number() OVER (
           PARTITION BY a_id ORDER BY edit_distance, b_id) AS rn
         FROM p) t
       WHERE rn = 1 ORDER BY doc_id"""

  /** LSH quality evaluation as a query — the recall curve every LSH
    * deployment must publish: among EXACT-Jaccard ground-truth pairs
    * (the `dedup_ngram_jaccard` pipeline), what fraction does the
    * banded MinHash candidate stage catch, per similarity band? The
    * (16 hashes, 4 bands × 4 rows) S-curve predicts low recall near
    * the 0.5 threshold and near-certain recall at 0.9+ — this entry
    * measures it on the corpus, composing the two oracle-proven
    * pipelines into one plan (shared shingle scan, fused by Catalyst).
    * Integer counts, one floored division. */
  def lshRecall: Q = (s, d) => {
    // one cut sets frame feeds the exact-Jaccard truth pipeline AND
    // the LSH candidate chain (one tokenize pass instead of three+);
    // r16: the shared md5 pass is cut too — truth's 60-bit pair hashes
    // and the signature chain both read the one e0 materialization
    // instead of exploding + hashing the arrays once each (guide §2.4)
    val sets = graft.Checkpoints.cutLazy(shingleSets(s, d))
    val e0 = graft.Checkpoints.cutLazy(hashedShingles(sets))
    val truth = pairIntersectionsParts(hashed60(e0), sets.select(col("doc_id"), col("n_sh")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        trunc4(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .withColumn("band_lo",
        when(col("jaccard") >= 0.9, 0.9).when(col("jaccard") >= 0.7, 0.7).otherwise(0.5))
    // the LSH candidate stage, pre-verification (minhashLsh's front half)
    val bl = bandListFor(sigTableFromHashes(e0), BandSize)
    val cand = bl.select(col("doc_id").as("doc_a"), col("band_idx"), col("bh"))
      .join(bl.select(col("doc_id").as("doc_b"), col("band_idx"), col("bh")),
        Seq("band_idx", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .withColumn("caught", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("band_lo"))
      .agg(count(lit(1)).as("n_truth"), count(col("caught")).as("n_caught"))
      .withColumn("recall", floor(col("n_caught") * lit(10000) / col("n_truth")) / 1e4)
  }

  val lshRecallSql: String = {
    val sigExprs = (0 until NumHashes)
      .map { i =>
        val slot = Integer.toHexString(i)
        s"coalesce(min(CASE WHEN substr(h2, 1, 1) = '$slot' THEN h2 END), 'e$slot') AS s$i"
      }.mkString(", ")
    val bandExprs = (0 until NumBands)
      .map(b => s"md5(${(b * BandSize until (b + 1) * BandSize).map(i => s"s$i").mkString(" || ")}) AS band$b")
      .mkString(", ")
    val blSelects = (0 until NumBands)
      .map(b => s"SELECT doc_id, '$b' AS band_idx, band$b AS bh FROM banded2")
      .mkString(" UNION ALL ")
    s"""WITH truth AS (
          SELECT doc_a, doc_b, jaccard,
                 CASE WHEN jaccard >= 0.9 THEN 0.9
                      WHEN jaccard >= 0.7 THEN 0.7 ELSE 0.5 END AS band_lo
          FROM (${ngramJaccardSql.replace("ORDER BY doc_a, doc_b", "")}) t),
        sets2 AS (
          SELECT doc_id, shingles FROM (
            SELECT doc_id, $shinglesSqlExpr AS shingles FROM documents)
          WHERE len(shingles) > 0),
        e2 AS (SELECT doc_id, md5(unnest(shingles)) AS h2 FROM sets2),
        sig2 AS (SELECT doc_id, $sigExprs FROM e2 GROUP BY doc_id),
        banded2 AS (SELECT doc_id, $bandExprs FROM sig2),
        bl2 AS ($blSelects),
        cand2 AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bl2 a JOIN bl2 b ON a.band_idx = b.band_idx AND a.bh = b.bh
            AND a.doc_id < b.doc_id)
        SELECT t.band_lo, count(*) AS n_truth,
               count(c.doc_a) AS n_caught,
               floor(count(c.doc_a) * 10000 / count(*)) / 1e4 AS recall
        FROM truth t LEFT JOIN cand2 c USING (doc_a, doc_b)
        GROUP BY t.band_lo ORDER BY t.band_lo"""
  }

  /** Cross-corpus dedup with source priority — the dedup-across-dumps
    * rule (CCNet keeps the copy from the earliest crawl; here lower
    * source index = higher priority): docs sharing a canonical
    * fingerprint collapse to the copy from the highest-priority
    * source (tie → lowest doc_id), and the group's spread (copies,
    * distinct sources) is the audit trail. Where `dedup_keep_canonical`
    * picks min doc_id, this picks by POLICY — the two differ exactly
    * when a dup's preferred-source copy is not its oldest. One
    * aggregation, winner via lexicographic `min(struct(...))` (total
    * order, engine-exact); no window, no join-back. */
  def crossSource: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        md5(expr(s"array_join(array_sort(array_distinct($toksExpr)), ' ')")).as("fp"),
        expr("cast(substring(source, 4, 10) as int)").as("prio"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(struct(col("prio"), col("doc_id"), col("source"))).as("w"))
      .filter(col("n_copies") > 1)
      .select(col("fp").as("fingerprint"), col("n_copies"), col("n_sources"),
        col("w.doc_id").as("keep_doc_id"), col("w.source").as("keep_source"))
  }

  val crossSourceSql: String =
    s"""SELECT fp AS fingerprint, n_copies, n_sources,
               (w).d AS keep_doc_id, (w).s AS keep_source FROM (
          SELECT fp, count(*) AS n_copies,
                 count(DISTINCT source) AS n_sources,
                 min({'p': prio, 'd': doc_id, 's': source}) AS w
          FROM (SELECT doc_id, source,
                  md5(array_to_string(list_sort(list_distinct($toksSqlExpr)), ' ')) AS fp,
                  CAST(substring(source, 4, 10) AS INT) AS prio
                FROM documents) t
          GROUP BY fp) g
        WHERE n_copies > 1 ORDER BY keep_doc_id"""

  /** The LSH S-curve — the tuning read behind `dedup_minhash_lsh`'s
    * (bands, rows) choice: P(candidate | similarity s) = 1−(1−s^r)^b
    * for THIS pipeline's configuration, tabulated over a similarity
    * grid with the detection threshold marked. Powers are explicit
    * left-associated multiply chains (s*s*s*s), not `pow()` — libm
    * pow rounding differs across engines, a fixed multiply sequence
    * cannot. Pure math table (no corpus scan): the planning read a
    * dedup rollout consults before paying for a full run. */
  def lshScurve: Q = (s, d) => {
    s.range(1, 20).toDF("i")
      .withColumn("s_x100", (col("i") * 5).cast("int"))
      .withColumn("sim", col("i").cast("double") / 20.0)
      .withColumn("p_band", expr("sim * sim * sim * sim"))
      .withColumn("miss", expr("cast(1.0 as double) - p_band"))
      .withColumn("p_candidate",
        expr("cast(1.0 as double) - miss * miss * miss * miss"))
      .select(col("s_x100"), lit(NumBands).as("n_bands"), lit(BandSize).as("band_size"),
        (floor(col("p_band") * 1e6) / 1e6).as("p_band"),
        (floor(col("p_candidate") * 1e6) / 1e6).as("p_candidate"),
        (col("p_candidate") >= 0.5).as("detected"))
  }

  val lshScurveSql: String =
    s"""SELECT CAST(i * 5 AS INT) AS s_x100,
               $NumBands AS n_bands, $BandSize AS band_size,
               floor((sim * sim * sim * sim) * 1e6) / 1e6 AS p_band,
               floor((CAST(1.0 AS DOUBLE)
                      - miss * miss * miss * miss) * 1e6) / 1e6 AS p_candidate,
               (CAST(1.0 AS DOUBLE) - miss * miss * miss * miss) >= 0.5 AS detected
        FROM (SELECT i, sim, CAST(1.0 AS DOUBLE) - sim * sim * sim * sim AS miss
              FROM (SELECT i, CAST(i AS DOUBLE) / 20.0 AS sim
                    FROM range(1, 20) t(i)) a) b
        ORDER BY s_x100"""

  /** Eval-set decontamination audit — the check run after every split:
    * do near-duplicate pairs (the `dedup_minhash_lsh` candidates,
    * Jaccard ≥ 0.4) CROSS the train/val/test boundary? A near-dup of a
    * training document sitting in the eval split silently inflates
    * eval scores; this surfaces every (split_a, split_b) cell of the
    * near-dup pair matrix with counts, an example pair anchor, and the
    * worst Jaccard — `leaks_eval` marks the cross-split cells. Splits
    * are the same seedless md5 rule as `split_train_test`, so the
    * audit is a pure composition: LSH candidate generation (bucketed,
    * never all-pairs) plus a constant-width projection. */
  def splitLeakageAudit: Q = (s, d) => {
    def splitCol(c: Column): Column = {
      val b = Pipeline.hashBucket(concat(lit("split:"), c.cast("string")))
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    minhashLsh(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        splitCol(col("doc_a")).as("split_a"), splitCol(col("doc_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("doc_a")).as("example_doc_a"),
        max(col("jaccard")).as("max_jaccard"))
      .withColumn("leaks_eval", col("split_a") =!= col("split_b"))
  }

  val splitLeakageAuditSql: String = {
    def sp(idc: String) = {
      val b = Pipeline.hashBucketSql(s"'split:' || CAST($idc AS VARCHAR)")
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    }
    s"""WITH pairs AS ($minhashLshSql)
        SELECT ${sp("doc_a")} AS split_a, ${sp("doc_b")} AS split_b,
               count(*) AS n_pairs,
               CAST(min(doc_a) AS BIGINT) AS example_doc_a,
               max(jaccard) AS max_jaccard,
               ${sp("doc_a")} <> ${sp("doc_b")} AS leaks_eval
        FROM pairs
        GROUP BY 1, 2, 6 ORDER BY split_a, split_b"""
  }

  /** Winnowing window width (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting"): any
    * match of length ≥ w+k−1 tokens is guaranteed to share a selected
    * fingerprint. */
  val WinnowW = 4

  /** Winnowing fingerprint selection — the MOSS-style dedup
    * fingerprinting discipline beside MinHash/SimHash: positional
    * 3-gram hashes, one min per sliding window of W consecutive
    * grams, distinct selected set per doc. Unlike MinHash (a global
    * sample of the set), winnowing's guarantee is LOCAL: any shared
    * run of ≥ W+2 tokens must share a fingerprint, which is what
    * plagiarism/quotation detection needs. Per-doc windows partition
    * on doc (parallel, bounded by doc length); the cross-doc sharing
    * join is an equi-join on the fingerprint — never all-pairs. */
  def winnow: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2]))")))
      .select(col("doc_id"), col("pos"),
        conv(substring(md5(col("col")), 1, 13), 16, 10).cast("long").as("h"))
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, WinnowW - 1)
    val sel = grams
      .withColumn("n_grams", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("wmin", min(col("h")).over(wWin))
      .filter(col("pos") <= col("n_grams") - WinnowW) // full windows only
      .select(col("doc_id"), col("n_grams"), col("wmin"))
      .distinct()
      // referenced twice (fingerprint counts + the join back): one cut
      // = one tokenize+window pass, not two
      .transform(graft.Checkpoints.cutLazy)
    val byFp = sel.groupBy(col("wmin")).agg(count(lit(1)).as("n_docs"))
    sel.join(byFp, Seq("wmin"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_selected"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_shared"),
        min(col("wmin")).as("min_fp"))
  }

  val winnowSql: String =
    s"""WITH t AS (
          SELECT doc_id, $toksSqlExpr AS toks FROM documents),
        g AS (
          SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]),
                   1, 13))::BIGINT AS h
          FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 2)) AS i
                FROM t WHERE len(toks) >= 3) x),
        m AS (
          SELECT doc_id, pos,
                 count(*) OVER (PARTITION BY doc_id) AS n_grams,
                 min(h) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN CURRENT ROW
                              AND ${WinnowW - 1} FOLLOWING) AS wmin
          FROM g),
        sel AS (
          SELECT DISTINCT doc_id, n_grams, wmin
          FROM m WHERE pos <= n_grams - $WinnowW),
        fp AS (SELECT wmin, count(*) AS n_docs FROM sel GROUP BY 1)
        SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, count(*) AS n_selected,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
               CAST(min(wmin) AS BIGINT) AS min_fp
        FROM sel JOIN fp USING (wmin)
        GROUP BY doc_id, n_grams ORDER BY doc_id"""

  /** Rows-per-band configs swept by the tuning ledger (bands = 16/r). */
  val TuneRows = Seq(2, 4, 8)

  /** LSH index-design sweep — THE MinHash deployment decision (how
    * many bands × rows) quantified on the corpus itself: from ONE
    * shared 16-slot signature table, band at r ∈ {2,4,8} hashes per
    * band and report candidate volume, truth coverage (vs the exact
    * df-capped Jaccard ≥ 0.5 pairs) and precision per config. More
    * bands → higher recall, more candidates to verify; the ledger
    * makes the S-curve tradeoff a measured number instead of a
    * formula guess. Signature and truth build once (lineage cut);
    * each config is one band equi-join + three bounded aggregates.
    *
    * The r13 probe measured e(1→3) = 1.68 here (80 s at sf3) — all-
    * candidate scoring across three band configs. Tuning needs the
    * recall/precision CURVE, not every pair, so all four pair
    * universes (truth + the three configs) now share ONE volume-
    * adaptive [[PairBudget]] DOC sample, derived from the LARGEST
    * measured universe and applied as the identical content-hash doc
    * predicate everywhere — BEFORE pair generation (truth: the bucket
    * arrays are filtered in place; configs: the band lists are
    * row-filtered ahead of the self-join), so generation cost itself
    * is capped, not just scoring (the r15 density-stressed decade
    * measured e = 1.7 on the per-pair-predicate form with the budget
    * fully engaged — enumerating V occurrences to test a per-pair
    * hash IS the superlinear term). One shared doc sample means a
    * sampled candidate set is compared against the identically-
    * sampled truth set — recall and precision stay unbiased estimates
    * of the exhaustive ledger (which both gate SFs still compute
    * exactly: their volumes sit far under budget,
    * `sample_ppm` = 1e6). */
  def lshTuning: Q = (s, d) => {
    // ONE lineage-cut sets frame feeds the signature branch, the
    // bucket branch, and the set-size lookup: one tokenize pass
    // instead of three (the regex pass is ~0.5 s/pass at sf0.1 and the
    // dominant linear CPU cost at scale). Set sizes come off the cut
    // frame's n_sh column, dropping the old exploded count(*) pass.
    val sets = graft.Checkpoints.cutLazy(shingleSets(s, d))
    // r16: one cut md5 pass (e0) feeds the signature chain AND the
    // bucket chain's 60-bit hashes — previously each exploded + hashed
    // the shingle arrays separately
    val e0 = graft.Checkpoints.cutLazy(hashedShingles(sets))
    val sig = graft.Checkpoints.cutLazy(sigTableFromHashes(e0))
    val bySh = graft.Checkpoints.cutLazy(
      hashed60(e0).groupBy(col("sh")).agg(sort_array(collect_list(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 500)))
    val nsh = sets.select(col("doc_id"), col("n_sh"))
    // the three band configs ride ONE unpivoted frame (cfg = rows per
    // band): one lineage cut, one volume aggregate, one filtered
    // self-join keyed (cfg, band_idx, bh) instead of the whole chain
    // ×3 — same pairs per config (a pair can only form inside one
    // cfg), a third of the jobs (guide §2.4: share the exchange)
    val bl = graft.Checkpoints.cutLazy(
      TuneRows.map(r => bandListFor(sig, r).withColumn("cfg", lit(r)))
        .reduce(_ unionByName _))
    val volTruth = bySh
      .agg(coalesce(sum(expr("size(ds) * (size(ds) - 1) div 2")), lit(0L)).as("v"))
    val volConfigs = bl.groupBy(col("cfg"), col("band_idx"), col("bh"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cfg"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("v"))
      .select(col("v"))
    val cstar = docCutFromVolume(
      volTruth.unionByName(volConfigs).agg(max(col("v")).as("v")))
    val truth = graft.Checkpoints.cutLazy(
      bySh.crossJoin(broadcast(cstar))
        .select(explode(graft.functions.TextUdfs.pairCombos(sampledDocs(col("ds")))).as("p"))
        .groupBy(col("p._1").as("da"), col("p._2").as("db"))
        .agg(count(lit(1)).as("inter"))
        .join(nsh.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
        .join(nsh.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
        .filter(trunc4(col("inter") * lit(1.0) /
          (col("na") + col("nb") - col("inter"))) >= 0.5)
        .select(col("da"), col("db")))
    // band rows of sampled docs only: the self-join then generates
    // ~q² of each band bucket's pairs — never materializing (or even
    // enumerating) the unsampled volume
    val blf = bl.crossJoin(broadcast(cstar))
      .filter(col("doc_keep_ppm") === 1000000L ||
        docPpm(col("doc_id")) < col("doc_keep_ppm"))
    val cand = graft.Checkpoints.cutLazy(
      blf.select(col("cfg").as("cf"), col("doc_id").as("da"),
          col("band_idx").as("bi"), col("bh").as("ba"))
        .join(blf.select(col("cfg"), col("doc_id").as("db"), col("band_idx"), col("bh")),
          col("cf") === col("cfg") && col("bi") === col("band_idx") &&
            col("ba") === col("bh") && col("da") < col("db"))
        .select("cf", "da", "db").distinct())
    val nCand = cand.groupBy(col("cf")).agg(count(lit(1)).as("n_candidates"))
    val nCaught = cand.join(truth, Seq("da", "db"), "left_semi")
      .groupBy(col("cf")).agg(count(lit(1)).as("n_caught"))
    // literal config spine: a config whose candidate set is EMPTY must
    // still emit its row (count 0), exactly like the old per-config
    // global aggregates did
    val cfgs = TuneRows
      .map(r => s.range(1).select(
        lit(NumHashes / r).as("bands"), lit(r).as("rows_per_band")))
      .reduce(_ unionByName _)
    cfgs
      .join(nCand.withColumnRenamed("cf", "rows_per_band"), Seq("rows_per_band"), "left")
      .join(nCaught.withColumnRenamed("cf", "rows_per_band"), Seq("rows_per_band"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(cstar))
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_caught"), lit(0L)).as("n_caught"),
        col("n_truth"), col("sample_ppm"))
      .withColumn("recall",
        when(col("n_truth") > 0,
          floor(col("n_caught").cast("double") / col("n_truth").cast("double") * 1e4) / 1e4)
          .otherwise(lit(0.0)))
      .withColumn("precision",
        when(col("n_candidates") > 0,
          floor(col("n_caught").cast("double") / col("n_candidates").cast("double") * 1e4)
            / 1e4)
          .otherwise(lit(0.0)))
  }

  lazy val lshTuningSql: String = {
    val sigExprs = (0 until NumHashes)
      .map { i =>
        val slot = Integer.toHexString(i)
        s"coalesce(min(CASE WHEN substr(h, 1, 1) = '$slot' THEN h END), 'e$slot') AS s$i"
      }.mkString(", ")
    // band lists + per-config pair volumes come BEFORE the shared
    // cutoff; candidates and the stat rows come after it
    val bandCtes = TuneRows.map { r =>
      val bands = NumHashes / r
      val bandExprs = (0 until bands)
        .map(b => s"md5(${(b * r until (b + 1) * r).map(i => s"s$i").mkString(" || ")}) AS band$b")
        .mkString(", ")
      val blSelects = (0 until bands)
        .map(b => s"SELECT doc_id, '$b' AS band_idx, band$b AS bh FROM banded_$r")
        .mkString(" UNION ALL ")
      s"""banded_$r AS (SELECT doc_id, $bandExprs FROM sig),
          bl_$r AS MATERIALIZED ($blSelects),
          vol_$r AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS v FROM (
            SELECT count(*) AS n FROM bl_$r GROUP BY band_idx, bh) x)"""
    }.mkString(",\n")
    val volUnion = (Seq("SELECT v FROM vol_truth") ++
      TuneRows.map(r => s"SELECT v FROM vol_$r")).mkString(" UNION ALL ")
    val candCtes = TuneRows.map { r =>
      val bands = NumHashes / r
      s"""blf_$r AS MATERIALIZED (SELECT doc_id, band_idx, bh FROM bl_$r
                     WHERE ${docKeepSql("doc_id")}),
          cand_$r AS MATERIALIZED (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM blf_$r a JOIN blf_$r b ON a.band_idx = b.band_idx AND a.bh = b.bh
              AND a.doc_id < b.doc_id),
          st_$r AS (
            SELECT CAST($bands AS INT) AS bands, CAST($r AS INT) AS rows_per_band,
                   (SELECT count(*) FROM cand_$r) AS n_candidates,
                   (SELECT count(*) FROM cand_$r c SEMI JOIN truth t
                      ON c.da = t.da AND c.db = t.db) AS n_caught,
                   (SELECT count(*) FROM truth) AS n_truth,
                   (SELECT sample_ppm FROM cut) AS sample_ppm)"""
    }.mkString(",\n")
    val union = TuneRows.map(r => s"SELECT * FROM st_$r").mkString(" UNION ALL ")
    s"""WITH sets AS MATERIALIZED (
          SELECT doc_id, shingles, len(shingles) AS n_sh FROM (
            SELECT doc_id, $shinglesSqlExpr AS shingles FROM documents)
          WHERE len(shingles) > 0),
        e AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sets),
        sig AS MATERIALIZED (SELECT doc_id, $sigExprs FROM e GROUP BY doc_id),
        esh AS MATERIALIZED (SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS sh FROM sets),
        dfx AS MATERIALIZED (SELECT sh, count(*) AS n FROM esh GROUP BY sh HAVING count(*) BETWEEN 2 AND 500),
        vol_truth AS (SELECT coalesce(sum(n * (n - 1) // 2), 0) AS v FROM dfx),
        $bandCtes,
        vmax AS (SELECT max(v) AS v FROM ($volUnion) u),
        cut AS MATERIALIZED (${docCutSql("vmax")}),
        ec AS MATERIALIZED (SELECT esh.doc_id, esh.sh FROM esh JOIN dfx USING (sh)
               WHERE ${docKeepSql("esh.doc_id")}),
        interx AS (
          SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
          FROM ec a JOIN ec b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS MATERIALIZED (
          SELECT da, db
          FROM interx JOIN sets sa ON da = sa.doc_id JOIN sets sb ON db = sb.doc_id
          WHERE floor((i * 1.0 / (sa.n_sh + sb.n_sh - i)) * 10000) / 10000.0 >= 0.5),
        $candCtes
        SELECT bands, rows_per_band, n_candidates, n_caught, n_truth, sample_ppm,
               CASE WHEN n_truth > 0
                    THEN floor(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE) * 1e4) / 1e4
                    ELSE 0.0 END AS recall,
               CASE WHEN n_candidates > 0
                    THEN floor(CAST(n_caught AS DOUBLE)
                               / CAST(n_candidates AS DOUBLE) * 1e4) / 1e4
                    ELSE 0.0 END AS precision
        FROM ($union) u ORDER BY rows_per_band"""
  }

  /** Source-to-source overlap matrix — dataset-level dedup
    * diagnostics ("which sources are mirrors of each other"): exact
    * shingle-set Jaccard per source pair, computed from one
    * (shingle → distinct sources) aggregation whose pair fanout is
    * bounded by |sources|² per shingle — sources are a config-bounded
    * registry (here 20, in production maybe hundreds), never the
    * corpus, so this is the rare all-pairs that is actually safe.
    * The per-pair intersection rides the same compiled combo kernel
    * as the doc-level Jaccard family. */
  def sourceOverlap: Q = (s, d) => {
    // NOT cut (r15 A/B: 1.14x): the second reference is a cheap
    // per-source count over the hash pass — re-deriving it beats
    // persisting the corpus-sized distinct frame.
    // r16: the standalone `.distinct()` exchange is FUSED into each
    // consumer's aggregation instead (guide §2.4: one exchange where
    // two keyed the same data): the per-source branch counts DISTINCT
    // sh inside its own agg, and the bucket branch's collect_set
    // already deduplicates — both see exactly the distinct
    // (source, sh) universe, one corpus-sized exchange each instead of
    // distinct + re-agg per branch.
    val sh = (Tables.documents(s, d)
      .select(col("source"), expr(toksExpr).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        explode(graft.functions.TextUdfs.shingle3(col("toks"))).as("raw"))
      .select(col("source"),
        conv(substring(md5(col("raw")), 1, 15), 16, 10).cast("long").as("sh")))
    val perSource = sh.groupBy(col("source")).agg(countDistinct(col("sh")).as("n_sh"))
    val pairs = sh.groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        "flatten(transform(srcs, (a, i) -> transform(slice(srcs, i + 2, size(srcs)), " +
          "b -> struct(a, b))))")).as("p"))
      .groupBy(col("p.a").as("source_a"), col("p.b").as("source_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(broadcast(perSource.select(col("source").as("source_a"),
        col("n_sh").as("na"))), Seq("source_a"))
      .join(broadcast(perSource.select(col("source").as("source_b"),
        col("n_sh").as("nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("inter"), col("na"), col("nb"),
        trunc4(col("inter") * lit(1.0) / (col("na") + col("nb") - col("inter")))
          .as("jaccard"))
  }

  val sourceOverlapSql: String =
    s"""WITH sh AS (
          SELECT DISTINCT source,
                 ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
          FROM (SELECT source, unnest($shinglesSqlExpr) AS g FROM documents) t),
        per AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY 1),
        inter AS (
          SELECT a.source AS source_a, b.source AS source_b, count(*) AS inter
          FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b, inter,
               pa.n_sh AS na, pb.n_sh AS nb,
               floor(inter * 1.0 / (pa.n_sh + pb.n_sh - inter) * 10000) / 10000.0
                 AS jaccard
        FROM inter JOIN per pa ON pa.source = source_a
                   JOIN per pb ON pb.source = source_b
        ORDER BY source_a, source_b"""

  /** LSH-prefiltered edit-distance dedup — the SCALE path for
    * `dedup_fuzzy_edit`: that entry's contract is the exact
    * nearest-neighbor within (lang, length-band) blocks, which is
    * Σ|block|² pairs by construction (the sf1 probe's one declared
    * superlinear entry). This one gets its candidates from the banded
    * MinHash join instead — candidate volume ∝ bucket collisions, not
    * block populations — and runs the character-level Levenshtein
    * verdict ONLY on those candidates: per doc, its nearest verified
    * near-dup by (prefix edit distance, id) plus how many candidates
    * LSH surfaced for it. The production pipeline composition
    * (prefilter → exact verify) as one entry; at 100 TB the pair
    * stage is the same bounded LSH machinery `dedup_minhash_lsh`
    * ships. */
  def fuzzyLsh: Q = (s, d) => {
    // materialize the candidate pairs ONCE (the dedup_cluster
    // discipline): the two prefix joins below would otherwise each
    // re-derive the whole minhash pipeline under their own branch
    val cand = graft.Checkpoints.cut(
      minhashLsh(s, d).select(col("doc_a"), col("doc_b")))
    val pref = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, FuzzyPrefix).as("prefix"))
    val half = cand
      .join(pref.select(col("doc_id").as("doc_a"), col("prefix").as("pa")), "doc_a")
      .join(pref.select(col("doc_id").as("doc_b"), col("prefix").as("pb")), "doc_b")
      .withColumn("edit_distance", levenshtein(col("pa"), col("pb")))
      .select(col("doc_a"), col("doc_b"), col("edit_distance"))
    val sym = half.unionByName(half.select(col("doc_b").as("doc_a"),
      col("doc_a").as("doc_b"), col("edit_distance")))
    sym.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("n_cands"),
        min(struct(col("edit_distance"), col("doc_b"))).as("m"))
      .select(col("doc_id"), col("n_cands"),
        col("m").getField("doc_b").as("nn_doc_id"),
        col("m").getField("edit_distance").as("edit_distance"))
  }

  val fuzzyLshSql: String =
    s"""WITH cand AS ($minhashLshSql),
       p AS (SELECT doc_id, substr(text, 1, $FuzzyPrefix) AS prefix FROM documents),
       h AS (
         SELECT c.doc_a, c.doc_b,
                CAST(levenshtein(pa.prefix, pb.prefix) AS INT) AS edit_distance
         FROM cand c
         JOIN p pa ON c.doc_a = pa.doc_id
         JOIN p pb ON c.doc_b = pb.doc_id),
       sym AS (
         SELECT * FROM h
         UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b, edit_distance FROM h)
       SELECT doc_id, n_cands, nn_doc_id, edit_distance FROM (
         SELECT doc_a AS doc_id, doc_b AS nn_doc_id, edit_distance,
                CAST(count(*) OVER (PARTITION BY doc_a) AS BIGINT) AS n_cands,
                row_number() OVER (
                  PARTITION BY doc_a ORDER BY edit_distance, doc_b) AS rn
         FROM sym) t
       WHERE rn = 1 ORDER BY doc_id"""

  /** MinHash-estimator CALIBRATION against exact Jaccard — the
    * measurement a dedup rollout runs before trusting signature
    * agreement as a similarity proxy: over every candidate pair that
    * shares ≥1 (df-capped) shingle, bucket by the number of agreeing
    * signature slots (0..16, the one-permutation estimator's raw
    * statistic) and report the exact-Jaccard distribution per bucket.
    * The estimator column est_x1e4 = slots·1e4/16 next to the measured
    * mean makes the bias of the empty-slot densification VISIBLE as a
    * number (both-empty slots agree spuriously on short docs — the
    * known one-permutation caveat). Everything is integer (exact
    * Jaccard on the 1e4 grid via ONE floored division per pair); the
    * pair stage is the shared df≤500-capped shingle join under the
    * [[PairBudget]] volume-adaptive keep rule — at 100 TB you
    * calibrate an estimator on a sample, and the deterministic
    * content-hash rule makes that sample replayable (and exhaustive,
    * `sample_ppm` = 1e6, at both gate SFs). */
  def minhashCalibration: Q = (s, d) => {
    // one lineage-cut sets frame feeds BOTH the signature branch and
    // the pair stream (one tokenize pass instead of three), and r16
    // additionally cuts the shared md5 pass: the signature and pair
    // chains both exploded + hashed the shingle arrays — e0 now
    // materializes (doc_id, md5) once and each chain reads it
    // (guide §2.4: one pass, two consumers)
    val sets = graft.Checkpoints.cutLazy(shingleSets(s, d))
    val e0 = graft.Checkpoints.cutLazy(hashedShingles(sets))
    val sig = sigTableFromHashes(e0).select(col("doc_id"),
      array((0 until NumHashes).map(i => col(s"s$i")): _*).as("sig"))
    pairIntersectionsParts(hashed60(e0), sets.select(col("doc_id"), col("n_sh")))
      .join(sig.select(col("doc_id").as("da"), col("sig").as("sig_a")), "da")
      .join(sig.select(col("doc_id").as("db"), col("sig").as("sig_b")), "db")
      .withColumn("n_match",
        expr("cast(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) as bigint)"))
      .withColumn("exact_x1e4", expr("inter * 10000 div (na + nb - inter)"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(exact_x1e4) div count(1)").as("mean_exact_x1e4"),
        min(col("exact_x1e4")).as("min_exact_x1e4"),
        max(col("exact_x1e4")).as("max_exact_x1e4"),
        max(col("sample_ppm")).as("sample_ppm"))
      .withColumn("est_x1e4", expr(s"n_match * 10000 div $NumHashes"))
      .select(col("n_match"), col("n_pairs"), col("est_x1e4"),
        col("mean_exact_x1e4"), col("min_exact_x1e4"), col("max_exact_x1e4"),
        col("sample_ppm"))
  }

  val minhashCalibrationSql: String = {
    val slotCols = (0 until NumHashes).map { i =>
      val hx = Integer.toHexString(i)
      s"coalesce(min(CASE WHEN substr(h, 1, 1) = '$hx' THEN h END), 'e$hx') AS s$i"
    }.mkString(",\n                 ")
    val matchSum = (0 until NumHashes)
      .map(i => s"CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $pairCtesSql,
        eh AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sets),
        slots AS (
          SELECT doc_id,
                 $slotCols
          FROM eh GROUP BY doc_id),
        pj AS (
          SELECT CAST($matchSum AS BIGINT) AS n_match,
                 CAST(i * 10000 // (sa2.n_sh + sb2.n_sh - i) AS BIGINT) AS exact_x1e4
          FROM inter
          JOIN slots sa ON inter.da = sa.doc_id
          JOIN slots sb ON inter.db = sb.doc_id
          JOIN sets sa2 ON inter.da = sa2.doc_id
          JOIN sets sb2 ON inter.db = sb2.doc_id)
        SELECT n_match, count(*) AS n_pairs,
               n_match * 10000 // $NumHashes AS est_x1e4,
               CAST(sum(exact_x1e4) // count(*) AS BIGINT) AS mean_exact_x1e4,
               min(exact_x1e4) AS min_exact_x1e4,
               max(exact_x1e4) AS max_exact_x1e4,
               c.sample_ppm AS sample_ppm
        FROM pj CROSS JOIN cut c
        GROUP BY n_match, c.sample_ppm ORDER BY n_match"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("dedup_minhash_calibration", minhashCalibration, Some(minhashCalibrationSql)),
    ("dedup_pair_budget_audit", pairBudgetAudit, Some(pairBudgetAuditSql)),
    ("dedup_saturation_curve", saturationCurve, Some(saturationCurveSql)),
    ("dedup_fuzzy_lsh", fuzzyLsh, Some(fuzzyLshSql)),
    ("dedup_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    ("dedup_lsh_tuning", lshTuning, Some(lshTuningSql)),
    ("dedup_winnow", winnow, Some(winnowSql)),
    ("split_leakage_audit", splitLeakageAudit, Some(splitLeakageAuditSql)),
    ("dedup_lsh_scurve", lshScurve, Some(lshScurveSql)),
    ("dedup_cross_source", crossSource, Some(crossSourceSql)),
    ("dedup_lsh_recall", lshRecall, Some(lshRecallSql)),
    ("dedup_fuzzy_edit", fuzzyEdit, Some(fuzzyEditSql)),
    ("dedup_exact", exact, Some(exactSql)),
    ("dedup_normalized_exact", normalizedExact, Some(normalizedExactSql)),
    ("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardSql)),
    ("dedup_containment", containment, Some(containmentSql)),
    ("dedup_minhash_lsh", minhashLsh, Some(minhashLshSql)),
    ("dedup_incremental", incremental, Some(incrementalSql)),
    ("dedup_simhash", simhash, Some(simhashSql)),
    ("dedup_embedding_cosine", embeddingCosine, Some(embeddingCosineSql)),
    ("dedup_keep_canonical", keepCanonical, Some(keepCanonicalSql)))
}
