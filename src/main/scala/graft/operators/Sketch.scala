package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketching (KMV / theta family) — the
  * sketch the reference's metric rollups would need for distinct
  * counts that keep composing after aggregation: per-group sketches
  * roll up to any coarser grouping (group → global here; hour → day,
  * region → world in general) WITHOUT revisiting the raw keys, which
  * is the only viable distinct-count shape at 100 TB with billions of
  * keys — count(distinct) over the union re-shuffles every key,
  * merging k-long sketches moves k longs per group.
  *
  * The whole pipeline is deterministic: the 60-bit hash is md5-derived
  * (both engines produce identical hashes from identical keys) and the
  * KMV estimator is plain IEEE arithmetic on the k-th smallest hash,
  * so the oracle replays it bit-for-bit — including the MERGE: Spark's
  * global row is produced by unioning the five per-group sketches
  * (`graft_theta` over their retained hashes), while DuckDB's global
  * row is computed directly from the raw keys. They hash-match only
  * because sketch-of-union == union-of-sketches, exactly — the
  * mergeability identity, checked cross-engine.
  */
object Sketch {

  type Q = (SparkSession, String) => DataFrame

  val K = 64

  /** Deterministic 60-bit hash of a namespaced key: md5 → first 15 hex
    * chars → BIGINT. Uniform on [0, 2^60); replicated verbatim by the
    * oracle via `('0x'||substr(md5(...),1,15))::BIGINT`. */
  def hash60(prefix: String, key: String): String =
    s"CAST(conv(substring(md5(concat('$prefix', CAST($key AS STRING))), 1, 15), 16, 10) AS BIGINT)"

  /** KMV estimate from a sketch array `sk`: exact size below K (the
    * sketch holds the whole distinct set), else (K-1)·2^60 / h_K. The
    * float-math text is IDENTICAL in the oracle (63e0 · 2^60e0 / kth)
    * so integer hashes in → bit-identical doubles out; floor pins the
    * last ulp. */
  def estExpr(sk: String): String = estFromSketch(sk)

  private def estFromSketch(sk: String): String =
    s"""CASE WHEN size($sk) < $K THEN CAST(size($sk) AS DOUBLE)
             ELSE floor(${K - 1}e0 * 1152921504606846976e0 /
                        CAST(element_at($sk, $K) AS DOUBLE)) END"""

  /** Per-event-type distinct-user estimates plus a global `__all__`
    * row obtained by MERGING the per-type sketches (not by rescanning
    * events — the per-group frame is 5 sketch rows, localCheckpointed
    * so the union reuses it). */
  def thetaDistinct: Q = (s, d) => {
    val perGroup = Tables.events(s, d)
      .select(col("event_type"), expr(hash60("u", "user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(expr(s"graft_theta(h, $K)").as("sk"))
      .transform(graft.Checkpoints.cut) // 5 rows; union below must not rescan events
    val globalSk = perGroup
      .select(explode(col("sk")).as("h"))
      .agg(expr(s"graft_theta(h, $K)").as("sk"))
      .select(lit("__all__").as("scope"), col("sk"))
    perGroup.select(col("event_type").as("scope"), col("sk"))
      .unionByName(globalSk)
      .select(col("scope"), expr(estFromSketch("sk")).as("est_distinct"))
  }

  val thetaDistinctSql: String =
    s"""WITH d AS (SELECT DISTINCT event_type,
                     ('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                   FROM events),
         r AS (SELECT event_type, h,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS cnt
               FROM d),
         g AS (SELECT event_type AS scope,
                      CASE WHEN max(cnt) < $K THEN CAST(max(cnt) AS DOUBLE)
                           ELSE floor(${K - 1}e0 * 1152921504606846976e0 /
                                      CAST(max(CASE WHEN rn = $K THEN h END) AS DOUBLE)) END
                        AS est_distinct
               FROM r GROUP BY event_type),
         dg AS (SELECT DISTINCT ('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM events),
         rg AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, count(*) OVER () AS cnt FROM dg),
         gg AS (SELECT '__all__' AS scope,
                       CASE WHEN max(cnt) < $K THEN CAST(max(cnt) AS DOUBLE)
                            ELSE floor(${K - 1}e0 * 1152921504606846976e0 /
                                       CAST(max(CASE WHEN rn = $K THEN h END) AS DOUBLE)) END
                         AS est_distinct
                FROM rg)
       SELECT scope, est_distinct FROM (SELECT * FROM g UNION ALL SELECT * FROM gg) t
       ORDER BY scope"""

  /** Sample size for the quantile sketch. */
  val SampleK = 512

  /** Nearest-rank quantile from the sketch's sampled values: sort the
    * sample, pick index floor(p·(n−1)) — selection, not interpolation,
    * so the result is a stored double both engines reproduce exactly
    * (the same rule `metrics_quantile_over_time` uses). */
  private[graft] def qFromSample(sk: String, p: String): String =
    s"""element_at(array_sort(transform($sk, x -> x.v)),
                   CAST(floor($p * (size($sk) - 1)) AS INT) + 1)"""

  /** Mergeable sample-based quantiles: per-group p50/p90 from a
    * bottom-k-by-hash uniform sample, plus a global `__all__` row from
    * MERGING the per-group samples. The oracle takes the global sample
    * directly from the raw rows — hash-matching proves
    * sample-of-union == union-of-samples, the property that lets
    * quantile estimates roll up (group → global, day → month) without
    * revisiting data. Exact when a group is smaller than the sample. */
  def sampleQuantile: Q = (s, d) => {
    val perGroup = Tables.events(s, d)
      .select(col("event_type"), expr(hash60("e", "event_id")).as("h"), col("value"))
      .groupBy(col("event_type"))
      .agg(expr(s"graft_sample(h, value, $SampleK)").as("sk"))
      .transform(graft.Checkpoints.cut) // 5 rows; the union below must not rescan events
    val globalSk = perGroup
      .select(explode(col("sk")).as("p"))
      .select(col("p.h").as("h"), col("p.v").as("value"))
      .agg(expr(s"graft_sample(h, value, $SampleK)").as("sk"))
      .select(lit("__all__").as("scope"), col("sk"))
    perGroup.select(col("event_type").as("scope"), col("sk"))
      .unionByName(globalSk)
      .select(col("scope"),
        expr(qFromSample("sk", "0.5e0")).as("p50"),
        expr(qFromSample("sk", "0.9e0")).as("p90"))
  }

  val sampleQuantileSql: String =
    s"""WITH h AS (SELECT event_type,
                     ('0x' || substr(md5('e' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h,
                     value
                   FROM events),
         r AS (SELECT event_type, h, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
         smp AS (SELECT event_type, value FROM r WHERE rn <= $SampleK),
         q AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY value) AS vr,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM smp),
         g AS (SELECT event_type AS scope,
                      max(CASE WHEN vr = CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p50,
                      max(CASE WHEN vr = CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p90
               FROM q GROUP BY event_type),
         rg AS (SELECT h, value, row_number() OVER (ORDER BY h) AS rn FROM h),
         sg AS (SELECT value FROM rg WHERE rn <= $SampleK),
         qg AS (SELECT value, row_number() OVER (ORDER BY value) AS vr, count(*) OVER () AS n FROM sg),
         gg AS (SELECT '__all__' AS scope,
                       max(CASE WHEN vr = CAST(floor(0.5e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p50,
                       max(CASE WHEN vr = CAST(floor(0.9e0 * (n - 1)) AS BIGINT) + 1 THEN value END) AS p90
                FROM qg)
       SELECT scope, p50, p90 FROM (SELECT * FROM g UNION ALL SELECT * FROM gg) t
       ORDER BY scope"""

  /** Counter budget for the heavy-hitters sketch. */
  val HhK = 32

  /** Exact heavy hitters by two-pass Misra–Gries: pass 1 sketches the
    * token stream into ≤ k-1 candidates (every item with true freq >
    * n/k is guaranteed retained) while counting n in the same
    * aggregation; pass 2 recounts ONLY the candidates (broadcast
    * membership filter) and thresholds at freq·k > n — integer
    * arithmetic, no floats anywhere. The output is exactly the items
    * with true frequency > n/k, independent of how the sketch pass was
    * partitioned, which is why a plain GROUP BY/HAVING oracle can
    * hash-match it. Corpus is scanned twice; the shuffle carries k
    * counters (pass 1) and |candidates| groups (pass 2) — never the
    * full token vocabulary. */
  def heavyHitters: Q = (s, d) => {
    def toks = Tables.documents(s, d)
      .select(explode(expr(TextAnalysis.toksExpr)).as("tok"))
    val sketch = toks.agg(expr(s"graft_mg(tok, $HhK)").as("cand"),
      count(lit(1)).as("n"))
    toks.crossJoin(broadcast(sketch))
      .filter(array_contains(col("cand"), col("tok")))
      .groupBy(col("tok"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HhK > col("n"))
      .select(col("tok"), col("cnt"))
  }

  val heavyHittersSql: String =
    s"""WITH t AS (SELECT unnest(${TextAnalysis.toksSqlExpr}) AS tok FROM documents),
         n AS (SELECT count(*) AS n FROM t)
       SELECT tok, count(*) AS cnt
       FROM t, n
       GROUP BY tok, n.n
       HAVING count(*) * $HhK > n.n
       ORDER BY tok"""

  /** Sketches under CUBE: distinct-user estimates for every grouping
    * of (event_type, day) — the two-dim rollup lattice — in ONE pass.
    * This is the OLAP payoff of a mergeable distinct sketch: a plain
    * count(DISTINCT) cannot be computed once and rolled up the
    * lattice, so engines either rescan per grouping or expand rows;
    * with graft_theta the cube's Expand feeds each grouping's sketch
    * in the same aggregation, and any FURTHER rollup (day → month)
    * would merge the stored sketches instead of touching data. The
    * oracle recomputes all four groupings' KMV estimates directly
    * from raw keys — one hash match covers the whole lattice. */
  def cubeDistinct: Q = (s, d) => {
    val all = lit("(all)")
    Tables.events(s, d)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr(hash60("u", "user_id")).as("h"))
      .cube(col("event_type"), col("day"))
      .agg(expr(s"graft_theta(h, $K)").as("sk"))
      .select(coalesce(col("event_type"), all).as("event_type"),
        coalesce(col("day"), all).as("day"),
        expr(estExpr("sk")).as("est_distinct"))
  }

  val cubeDistinctSql: String = {
    def grouping(keys: Seq[String]): String = {
      val keyCols = if (keys.isEmpty) "" else keys.mkString(", ") + ","
      val part =
        if (keys.isEmpty) "" else s"PARTITION BY ${keys.mkString(", ")}"
      val et = if (keys.contains("event_type")) "event_type" else "'(all)'"
      val dy = if (keys.contains("day")) "day" else "'(all)'"
      s"""SELECT $et AS event_type, $dy AS day,
                 CASE WHEN max(cnt) < $K THEN CAST(max(cnt) AS DOUBLE)
                      ELSE floor(${K - 1}e0 * 1152921504606846976e0 /
                                 CAST(max(CASE WHEN rn = $K THEN h END) AS DOUBLE)) END
                   AS est_distinct
          FROM (SELECT $keyCols h,
                       row_number() OVER ($part ORDER BY h) AS rn,
                       count(*) OVER ($part) AS cnt
                FROM (SELECT DISTINCT $keyCols h FROM base) dk) rk
          ${if (keys.isEmpty) "" else s"GROUP BY ${keys.mkString(", ")}"}"""
    }
    s"""WITH base AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                        ('0x' || substr(md5('u' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                      FROM events)
       SELECT event_type, day, est_distinct FROM (
         ${grouping(Seq("event_type", "day"))}
         UNION ALL ${grouping(Seq("event_type"))}
         UNION ALL ${grouping(Seq("day"))}
         UNION ALL ${grouping(Seq.empty)}
       ) t ORDER BY event_type, day"""
  }

  /** Theta-sketch SET ALGEBRA — the reason the "theta" family exists
    * at all: union AND intersection estimates between sets that were
    * sketched independently. Demo read: shared vocabulary between
    * document sources ("how much does src_i overlap src_j") — the
    * corpus-contamination / source-similarity check an LLM data
    * pipeline runs source-pairwise, where exact answers would mean
    * re-shuffling every token per pair.
    *
    * Estimators (deterministic, the declared contract): union = the
    * KMV estimate over the merged retained-hash set (k-th smallest of
    * the union); intersection = c·U/θ where θ = min(θ_A, θ_B) is the
    * pair's common sampling threshold and c counts retained hashes
    * both sketches hold below θ — every term an integer, the one float
    * division shared verbatim with the oracle, so DuckDB replays both
    * estimates bit-for-bit. Sets smaller than k degrade to EXACT
    * union/intersection (θ = U). Pairing is a non-equi join of 5
    * sketch ROWS (k longs each) — the corpus is scanned once,
    * per-source, never per-pair. */
  private val U = "1152921504606846976"

  private def thetaOf(sk: String): String =
    s"CASE WHEN size($sk) < $K THEN CAST($U AS BIGINT) ELSE element_at($sk, $K) END"

  def setOps: Q = (s, d) => {
    val srcs = Tables.documents(s, d)
      .filter(col("source").isin("src0", "src1", "src2", "src3", "src4"))
      .select(col("source"), explode(expr(TextAnalysis.toksExpr)).as("tok"))
      .select(col("source"), expr(hash60("t", "tok")).as("h"))
      .groupBy(col("source"))
      .agg(expr(s"graft_theta(h, $K)").as("sk"))
      .transform(graft.Checkpoints.cut) // 5 sketch rows; the pair join must not rescan docs
    val a = srcs.select(col("source").as("src_a"), col("sk").as("ska"))
    val b = srcs.select(col("source").as("src_b"), col("sk").as("skb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("theta", expr(s"least(${thetaOf("ska")}, ${thetaOf("skb")})"))
      .withColumn("usk", expr("array_sort(array_union(ska, skb))"))
      .withColumn("est_union", expr(estExpr("usk")))
      .withColumn("c", expr("size(filter(array_intersect(ska, skb), x -> x < theta))"))
      .withColumn("est_intersection",
        expr(s"CAST(floor(CAST(c AS DOUBLE) * (${U}e0 / CAST(theta AS DOUBLE))) AS DOUBLE)"))
      .select(col("src_a"), col("src_b"), col("est_union"), col("est_intersection"))
  }

  val setOpsSql: String =
    s"""WITH toks AS (
         SELECT DISTINCT source,
                ('0x' || substr(md5('t' || tok), 1, 15))::BIGINT AS h
         FROM (SELECT source, unnest(${TextAnalysis.toksSqlExpr}) AS tok
               FROM documents
               WHERE source IN ('src0','src1','src2','src3','src4')) t),
       r AS (SELECT source, h,
                    row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
                    count(*) OVER (PARTITION BY source) AS cnt
             FROM toks),
       sk AS (SELECT * FROM r WHERE rn <= $K),
       th AS (SELECT source,
                     CASE WHEN max(cnt) < $K THEN CAST($U AS BIGINT)
                          ELSE max(CASE WHEN rn = $K THEN h END) END AS theta
              FROM sk GROUP BY source),
       prs AS (SELECT ta.source AS src_a, tb.source AS src_b,
                      least(ta.theta, tb.theta) AS theta
               FROM th ta JOIN th tb ON ta.source < tb.source),
       uv AS (SELECT p.src_a, p.src_b, s.h FROM prs p JOIN sk s ON s.source = p.src_a
              UNION
              SELECT p.src_a, p.src_b, s.h FROM prs p JOIN sk s ON s.source = p.src_b),
       ur AS (SELECT src_a, src_b, h,
                     row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn,
                     count(*) OVER (PARTITION BY src_a, src_b) AS cnt
              FROM uv),
       un AS (SELECT src_a, src_b,
                     CASE WHEN max(cnt) < $K THEN CAST(max(cnt) AS DOUBLE)
                          ELSE floor(${K - 1}e0 * ${U}e0 /
                                     CAST(max(CASE WHEN rn = $K THEN h END) AS DOUBLE)) END
                       AS est_union
              FROM ur GROUP BY 1, 2),
       cm AS (SELECT p.src_a, p.src_b, count(*) AS c
              FROM prs p
              JOIN sk sa ON sa.source = p.src_a
              JOIN sk sb ON sb.source = p.src_b AND sb.h = sa.h
              WHERE sa.h < p.theta
              GROUP BY 1, 2)
       SELECT p.src_a, p.src_b, un.est_union,
              CAST(floor(CAST(coalesce(cm.c, 0) AS DOUBLE)
                    * (${U}e0 / CAST(p.theta AS DOUBLE))) AS DOUBLE) AS est_intersection
       FROM prs p
       JOIN un ON un.src_a = p.src_a AND un.src_b = p.src_b
       LEFT JOIN cm ON cm.src_a = p.src_a AND cm.src_b = p.src_b
       ORDER BY p.src_a, p.src_b"""

  /** EXACT mergeable distinct counts via bitmaps — the dense-domain
    * sibling of the theta sketch (ClickHouse `groupBitmap`, Druid's
    * bitmap indexes): each (group, word) holds a 32-bit chunk of the
    * membership bitmap, built by one integer `bit_or` aggregation
    * (map-side combine collapses a partition's events into ≤ |domain|/32
    * words BEFORE the shuffle — event volume never crosses the wire),
    * then popcount-summed per group. The bitmap is mergeable by OR, so
    * per-day/per-shard bitmaps roll up without rescanning — exact where
    * theta is approximate, at the cost of domain-bounded (not
    * constant) state. Pure integer arithmetic: oracle-exact. */
  def bitmapDistinct: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"), expr("user_id DIV 32").as("word_idx"))
      .agg(bit_or(expr("shiftleft(1L, cast(user_id % 32 as int))")).as("word"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_words"),
        sum(bit_count(col("word")).cast("long")).as("n_users"))
  }

  val bitmapDistinctSql: String =
    """WITH words AS (
         SELECT event_type, user_id // 32 AS word_idx,
                bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS word
         FROM events GROUP BY 1, 2)
       SELECT event_type, count(*) AS n_words,
              CAST(sum(bit_count(word)) AS BIGINT) AS n_users
       FROM words GROUP BY event_type ORDER BY event_type"""

  // ------------------------------------------------------ HyperLogLog

  /** HLL registers (p = 8 ⇒ m = 256) — the industry-standard distinct
    * sketch itself (the theta entry covers the OTHER sketch family). */
  val HllM = 256
  /** α₂₅₆ = 0.7213/(1 + 1.079/m), driver-computed, embedded as one
    * round-trip literal in both engines. */
  private val HllAlpha: String =
    java.lang.Double.toString(0.7213 / (1.0 + 1.079 / HllM))

  /** HyperLogLog distinct-user estimate per series (Flajolet et al.
    * 2007; the sketch behind every `approx_count_distinct`), built
    * from scratch so the ARITHMETIC is oracle-checkable: 60-bit
    * content hash → top 8 bits pick a register, the remaining 52 carry
    * the rank (leading-zero count + 1, via the binary-string length —
    * no loops); each register keeps its max rank. The harmonic sum is
    * kept EXACT by scaling: Σ2^(−r) · 2⁵³ makes every term the integer
    * 2^(53−r), so register merge order cannot perturb a float sum —
    * the one place textbook HLL is non-deterministic under parallel
    * merge. Small-range (linear counting) branch applied exactly as
    * published: raw ≤ 2.5m with empty registers ⇒ m·ln(m/V), one IEEE
    * log of an exact integer ratio. The ledger carries the exact
    * distinct count and the 1e4-grid relative error — the accuracy
    * contract (±1.04/√m ≈ 6.5%) as a measured number per series.
    * State is 256 registers per series at ANY event volume. */
  def hllDistinct: Q = (s, d) => {
    val h = Tables.events(s, d)
      .select(col("event_type"), col("user_id"))
      .distinct() // hash once per (series, user): the sketch input
      .withColumn("h", conv(substring(md5(
        concat(lit("hll:"), col("user_id").cast("string"))), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("reg", expr("h div 4503599627370496")) // 2^52
      .withColumn("rest", expr("h % 4503599627370496"))
      .withColumn("rank", expr(
        "cast(CASE WHEN rest = 0 THEN 53 ELSE 53 - length(bin(rest)) END as int)"))
    val regs = h.groupBy(col("event_type"), col("reg"))
      .agg(max(col("rank")).as("rmax"))
    val per = regs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("v_hit"),
        sum(expr("shiftleft(cast(1 as bigint), cast(53 - rmax as int))"))
          .as("s_hit"))
      .withColumn("zeros", lit(HllM.toLong) - col("v_hit"))
      .withColumn("s_scaled",
        col("s_hit") + col("zeros") * expr("shiftleft(cast(1 as bigint), 53)"))
      .withColumn("raw_est", expr(
        s"cast($HllAlpha as double) * ${HllM.toLong * HllM} " +
          s"* cast(shiftleft(cast(1 as bigint), 53) as double) / cast(s_scaled as double)"))
      .withColumn("est", expr(
        s"""cast(CASE WHEN raw_est <= ${2.5 * HllM} AND zeros > 0
               THEN floor($HllM * ln(cast($HllM as double) / cast(zeros as double)))
               ELSE floor(raw_est) END as bigint)"""))
    val exact = Tables.events(s, d).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    per.join(exact, Seq("event_type"))
      .select(col("event_type"), col("v_hit").as("n_registers_hit"),
        col("zeros").as("n_registers_empty"), col("est"), col("exact_distinct"),
        expr("abs(est - exact_distinct) * 10000 div exact_distinct").as("err_x1e4"))
  }

  val hllDistinctSql: String =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        hh AS (
          SELECT event_type,
                 ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM du),
        rk AS (
          SELECT event_type, h // 4503599627370496 AS reg,
                 CASE WHEN h % 4503599627370496 = 0 THEN 53
                      ELSE 53 - strlen(bin(h % 4503599627370496)) END AS rank
          FROM hh),
        regs AS (
          SELECT event_type, reg, max(rank) AS rmax
          FROM rk GROUP BY 1, 2),
        per AS (
          SELECT event_type, count(*) AS v_hit,
                 CAST(sum(CAST(1 AS BIGINT) << CAST(53 - rmax AS INT)) AS BIGINT)
                   AS s_hit
          FROM regs GROUP BY event_type),
        est AS (
          SELECT event_type, v_hit, $HllM - v_hit AS zeros,
                 s_hit + ($HllM - v_hit) * (CAST(1 AS BIGINT) << 53) AS s_scaled
          FROM per),
        e2 AS (
          SELECT event_type, v_hit, zeros,
                 CAST($HllAlpha AS DOUBLE) * ${HllM.toLong * HllM}
                   * CAST(CAST(1 AS BIGINT) << 53 AS DOUBLE)
                   / CAST(s_scaled AS DOUBLE) AS raw_est
          FROM est),
        e3 AS (
          SELECT event_type, v_hit, zeros,
                 CAST(CASE WHEN raw_est <= ${2.5 * HllM} AND zeros > 0
                        THEN floor($HllM * ln(CAST($HllM AS DOUBLE) / CAST(zeros AS DOUBLE)))
                        ELSE floor(raw_est) END AS BIGINT) AS est
          FROM e2),
        ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_distinct
          FROM events GROUP BY 1)
        SELECT e3.event_type, CAST(v_hit AS BIGINT) AS n_registers_hit,
               CAST(zeros AS BIGINT) AS n_registers_empty, est, exact_distinct,
               abs(est - exact_distinct) * 10000 // exact_distinct AS err_x1e4
        FROM e3 JOIN ex ON ex.event_type = e3.event_type
        ORDER BY e3.event_type"""

  val BloomM = 65536L
  val BloomK = 4

  /** Bloom-filter false-positive-rate CALIBRATION — the measurement a
    * rollout runs before trusting a bloom prefilter's miss rate (the
    * same discipline `dedup_minhash_calibration` applies to MinHash):
    * build an m-bit, k-hash bloom from one content-hash half of the
    * distinct user set, probe it with the DISJOINT other half (so
    * every full-hit probe is a certain false positive), and report the
    * measured FPP next to the standard fill-fraction theory
    * ((set_bits/m)^k). Everything is deterministic integer hashing —
    * bit positions are md5-prefix mod m, the same 60-bit idiom the
    * theta sketch uses — so the DuckDB oracle replays filter
    * construction, probe, and both rates exactly. Scale shape: the bit
    * set is bounded by m (config, never corpus), broadcast to the
    * probe join; build and probe are one distinct + one explode each. */
  def bloomFpp: Q = (s, d) => {
    def posExpr(i: Int) =
      s"CAST(conv(substring(md5(concat('bf$i:', CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % $BloomM"
    val users = Tables.events(s, d).select(col("user_id")).distinct()
      .withColumn("is_build",
        expr("substring(md5(concat('bf:', CAST(user_id AS STRING))), 1, 1) < '8'"))
    val withPos = users.select(col("user_id"), col("is_build"),
      explode(array((1 to BloomK).map(i => expr(posExpr(i))): _*)).as("pos"))
    val bits = graft.Checkpoints.cutLazy(
      withPos.filter(col("is_build")).select("pos").distinct())
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    val probe = withPos.filter(!col("is_build"))
      .select(col("user_id"), col("pos")).distinct()
    val perUser = probe
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pos"), count(col("hit")).as("n_hit"))
    val fp = perUser.agg(coalesce(
      sum(when(col("n_hit") === col("n_pos"), 1L).otherwise(0L)), lit(0L))
      .as("n_false_positives"))
    val counts = users.agg(
      sum(when(col("is_build"), 1L).otherwise(0L)).as("n_build"),
      sum(when(!col("is_build"), 1L).otherwise(0L)).as("n_probe"))
    counts.crossJoin(broadcast(nBits)).crossJoin(broadcast(fp))
      .select(col("n_build"), col("n_probe"), col("n_bits_set"),
        expr(s"n_bits_set * 1000000 div $BloomM").as("fill_x1e6"),
        col("n_false_positives"),
        expr("CASE WHEN n_probe > 0 THEN n_false_positives * 1000000 div n_probe ELSE 0 END")
          .as("fpp_measured_x1e6"),
        expr(s"CAST(floor($fillPowKExpr * 1000000) AS BIGINT)")
          .as("fpp_theory_x1e6"))
  }

  /** (set_bits/m)^k as a product GENERATED from [[BloomK]] — the k
    * factors were hardcoded ×4 before, so changing BloomK would have
    * silently desynchronized the theory column from the measured
    * filter (r14 ADVICE). Shared verbatim by the Spark expr and the
    * DuckDB mirror (the fragment is engine-neutral SQL). */
  private def fillPowKExpr: String =
    Seq.fill(BloomK)(s"(CAST(n_bits_set AS DOUBLE) / $BloomM)").mkString("(", " * ", ")")

  val bloomFppSql: String = {
    def posExpr(i: Int) =
      s"('0x' || substr(md5('bf$i:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % $BloomM"
    val posList = (1 to BloomK).map(posExpr).mkString("[", ", ", "]")
    s"""WITH users AS (SELECT DISTINCT user_id FROM events),
        u2 AS (SELECT user_id,
                 substr(md5('bf:' || CAST(user_id AS VARCHAR)), 1, 1) < '8' AS is_build
               FROM users),
        pos AS (SELECT user_id, is_build, unnest($posList) AS pos FROM u2),
        bits AS (SELECT DISTINCT pos FROM pos WHERE is_build),
        nb AS (SELECT count(*) AS n_bits_set FROM bits),
        probe AS (SELECT DISTINCT user_id, pos FROM pos WHERE NOT is_build),
        pu AS (SELECT p.user_id, count(*) AS n_pos, count(b.pos) AS n_hit
               FROM probe p LEFT JOIN bits b ON p.pos = b.pos
               GROUP BY p.user_id),
        fp AS (SELECT coalesce(sum(CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END), 0)
                 AS n_false_positives FROM pu),
        c AS (SELECT CAST(sum(CASE WHEN is_build THEN 1 ELSE 0 END) AS BIGINT) AS n_build,
                     CAST(sum(CASE WHEN is_build THEN 0 ELSE 1 END) AS BIGINT) AS n_probe
              FROM u2)
        SELECT n_build, n_probe, CAST(n_bits_set AS BIGINT) AS n_bits_set,
               CAST(n_bits_set * 1000000 // $BloomM AS BIGINT) AS fill_x1e6,
               CAST(n_false_positives AS BIGINT) AS n_false_positives,
               CAST(CASE WHEN n_probe > 0
                    THEN n_false_positives * 1000000 // n_probe
                    ELSE 0 END AS BIGINT) AS fpp_measured_x1e6,
               CAST(floor($fillPowKExpr * 1000000) AS BIGINT)
                 AS fpp_theory_x1e6
        FROM c CROSS JOIN nb CROSS JOIN fp"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("sketch_hll_distinct", hllDistinct, Some(hllDistinctSql)),
    ("sketch_bloom_fpp", bloomFpp, Some(bloomFppSql)),
    ("q_bitmap_distinct", bitmapDistinct, Some(bitmapDistinctSql)),
    ("sketch_set_ops", setOps, Some(setOpsSql)),
    ("sketch_theta_distinct", thetaDistinct, Some(thetaDistinctSql)),
    ("sketch_sample_quantile", sampleQuantile, Some(sampleQuantileSql)),
    ("sketch_heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    ("sketch_cube_distinct", cubeDistinct, Some(cubeDistinctSql)))
}
