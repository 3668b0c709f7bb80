package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence (funnel) analysis — the MATCH_RECOGNIZE-shaped
  * read product analytics runs on every event stream: how far did each
  * user get through view → click → purchase, where each stage must
  * happen strictly AFTER the previous stage's first qualifying event.
  *
  * Spark-first shape: NOT per-stage join-backs (three shuffles) — one
  * entity-keyed shuffle, one sort, two chained window passes over the
  * same ordering:
  *   pass 1: running min of view-times over the strict-past frame
  *           marks each click that has a view before it;
  *   pass 2: running min of qualified-click-times marks each purchase
  *           that completes the chain.
  * "Strictly after" is row order (ts, event_id), so ties are resolved
  * identically in both engines; all times are second-truncated
  * integers — no float surface. The frame state is a single running
  * min: memory O(1) per partition at any event volume.
  */
object Funnel {

  type Q = (SparkSession, String) => DataFrame

  def funnelStages: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val strictPast = w.rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type"))
      .withColumn("v_before",
        min(when(col("event_type") === "view", col("sec"))).over(strictPast))
      .withColumn("qual_click",
        when(col("event_type") === "click" && col("v_before").isNotNull, col("sec")))
      .withColumn("c_before", min(col("qual_click")).over(strictPast))
      .withColumn("qual_purchase",
        when(col("event_type") === "purchase" && col("c_before").isNotNull, col("sec")))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("sec"))).as("first_view"),
        min(col("qual_click")).as("first_qual_click"),
        min(col("qual_purchase")).as("first_qual_purchase"))
      .withColumn("stage",
        when(col("first_qual_purchase").isNotNull, lit(3))
          .when(col("first_qual_click").isNotNull, lit(2))
          .when(col("first_view").isNotNull, lit(1))
          .otherwise(lit(0)))
      .select(col("user_id"), col("stage"), col("first_view"),
        col("first_qual_click"), col("first_qual_purchase"))
  }

  val funnelStagesSql: String =
    """WITH e AS (
         SELECT user_id, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_type
         FROM events),
       p1 AS (
         SELECT *,
                min(CASE WHEN event_type = 'view' THEN sec END)
                  OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_before
         FROM e),
       p2 AS (
         SELECT *,
                CASE WHEN event_type = 'click' AND v_before IS NOT NULL
                     THEN sec END AS qual_click
         FROM p1),
       p3 AS (
         SELECT *,
                min(qual_click)
                  OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c_before
         FROM p2),
       agg AS (
         SELECT user_id,
                min(CASE WHEN event_type = 'view' THEN sec END) AS first_view,
                min(qual_click) AS first_qual_click,
                min(CASE WHEN event_type = 'purchase' AND c_before IS NOT NULL
                         THEN sec END) AS first_qual_purchase
         FROM p3 GROUP BY user_id)
       SELECT user_id,
              CAST(CASE WHEN first_qual_purchase IS NOT NULL THEN 3
                        WHEN first_qual_click IS NOT NULL THEN 2
                        WHEN first_view IS NOT NULL THEN 1
                        ELSE 0 END AS INT) AS stage,
              first_view, first_qual_click, first_qual_purchase
       FROM agg ORDER BY user_id"""

  /** Attribution lookback window (seconds). */
  val LookbackSec = 86400L

  /** Linear multi-touch attribution — the marketing-analytics read
    * beside the funnel: each purchase splits its credit equally across
    * the user's clicks in the prior 24 h (credit 1/n per touch; zero
    * touches = unattributed). ONE user-keyed shuffle and ONE RANGE
    * window over integer seconds (frame state = a running conditional
    * count, no pair explosion — the naive formulation is a purchase ×
    * click interval join). RANGE semantics include same-second peers
    * identically in both engines; credit is a single division of two
    * exact integers, floored at 4dp. */
  def attributionLinear: Q = (s, d) =>
    purchaseTouches(s, d)
      .withColumn("credit_per_touch",
        when(col("n_touches") > 0,
          floor(lit(1.0) / col("n_touches").cast("double") * 1e4) / 1e4))
      .select(col("user_id"), col("event_id"), col("sec"),
        col("n_touches"), col("credit_per_touch"))

  /** Purchase rows (user_id, event_id, sec, event_type) with
    * `n_touches`, the user's clicks in the [[LookbackSec]] before: the
    * one body of `attribution_linear` and `attribution_position`. */
  private def purchaseTouches(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"))
      .rangeBetween(-LookbackSec, 0)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("sec"), col("event_type"))
      .withColumn("n_touches",
        count(when(col("event_type") === "click", 1)).over(w))
      .filter(col("event_type") === "purchase")
  }

  val attributionLinearSql: String =
    s"""WITH e AS (
         SELECT user_id, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_type
         FROM events),
       t AS (
         SELECT *,
                count(*) FILTER (WHERE event_type = 'click')
                  OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN $LookbackSec PRECEDING AND CURRENT ROW) AS n_touches
         FROM e)
       SELECT user_id, event_id, sec, n_touches,
              CASE WHEN n_touches > 0
                   THEN floor(1.0e0 / CAST(n_touches AS DOUBLE) * 1e4) / 1e4 END
                AS credit_per_touch
       FROM t WHERE event_type = 'purchase'
       ORDER BY user_id, sec, event_id"""

  /** Top event PATHS — the user-journey n-gram read (which 3-step
    * sequences dominate): per user, events in (sec, event_id) order
    * yield consecutive type-trigrams; one count shuffle over the tiny
    * distinct-path set and a bounded top-k window. The collect_list is
    * per-user and ordered by the SAME total order both engines use, so
    * the path multiset is engine-exact. At 100 TB the per-user
    * sequence is bounded by retention (like the fold entries), and
    * paths could be windowed per session to cap it further. */
  def topPaths: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val paths = Tables.events(s, d)
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
      .groupBy(col("user_id"))
      .agg(expr("transform(sort_array(collect_list(struct(sec, event_id, event_type))), p -> p.event_type)")
        .as("seq"))
      .select(col("user_id"), explode(expr(
        """CASE WHEN size(seq) >= 3
             THEN transform(sequence(0, size(seq) - 3),
                            i -> concat(seq[i], '>', seq[i + 1], '>', seq[i + 2]))
             ELSE array() END""")).as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .filter(col("rk") <= 10)
      .select(col("rk").cast("int").as("rk"), col("path"), col("n"), col("n_users"))
  }

  val topPathsSql: String =
    """WITH seqs AS (
         SELECT user_id,
                list_transform(
                  list_sort(list(struct_pack(sec := CAST(epoch(date_trunc('second', ts)) AS BIGINT),
                                             event_id := event_id, event_type := event_type))),
                  p -> p.event_type) AS seq
         FROM events GROUP BY user_id),
       p AS (
         SELECT user_id,
                unnest(list_transform(range(0, len(seq) - 2),
                       i -> seq[i + 1] || '>' || seq[i + 2] || '>' || seq[i + 3])) AS path
         FROM seqs WHERE len(seq) >= 3),
       c AS (SELECT path, count(*) AS n, count(DISTINCT user_id) AS n_users
             FROM p GROUP BY path)
       SELECT CAST(row_number() OVER (ORDER BY n DESC, path) AS INT) AS rk,
              path, n, n_users
       FROM c QUALIFY rk <= 10 ORDER BY rk"""

  /** Position-based (U-shaped, 40/20/40) multi-touch attribution —
    * the martech companion to `attribution_linear`: the first and last
    * click before a conversion each earn 40%, the middle touches split
    * the remaining 20%. Credit is INTEGER basis points with the
    * integer-division remainder folded into the first touch (a total,
    * engine-exact rule — float splits would drift across engines):
    * n=1 → 10000; n=2 → 5000/5000; n≥3 → 4000/4000 + 2000 DIV (n−2)
    * each, remainder to first. Same one RANGE window as linear — the
    * per-purchase credit VECTOR is described by (n, first, last, mid),
    * no pair explosion. */
  def attributionPosition: Q = (s, d) =>
    purchaseTouches(s, d)
      .withColumn("mid_each_bp",
        when(col("n_touches") >= 3, expr("2000 DIV (n_touches - 2)")).otherwise(lit(0L)))
      .withColumn("last_bp",
        when(col("n_touches") >= 3, lit(4000L))
          .when(col("n_touches") === 2, lit(5000L)).otherwise(lit(0L)))
      .withColumn("first_bp",
        when(col("n_touches") === 0, lit(null).cast("long"))
          .otherwise(lit(10000L) - col("last_bp")
            - col("mid_each_bp") * greatest(col("n_touches") - 2, lit(0L))))
      .select(col("user_id"), col("event_id"), col("sec"), col("n_touches"),
        col("first_bp"), col("last_bp"), col("mid_each_bp"))

  val attributionPositionSql: String =
    s"""WITH e AS (
         SELECT user_id, event_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec, event_type
         FROM events),
       t AS (
         SELECT *,
                count(*) FILTER (WHERE event_type = 'click')
                  OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN $LookbackSec PRECEDING AND CURRENT ROW) AS n_touches
         FROM e),
       p AS (
         SELECT user_id, event_id, sec, n_touches,
                CASE WHEN n_touches >= 3 THEN 2000 // (n_touches - 2) ELSE 0 END AS mid_each_bp,
                CASE WHEN n_touches >= 3 THEN 4000
                     WHEN n_touches = 2 THEN 5000 ELSE 0 END AS last_bp
         FROM t WHERE event_type = 'purchase')
       SELECT user_id, event_id, sec, n_touches,
              CAST(CASE WHEN n_touches = 0 THEN NULL
                   ELSE 10000 - last_bp - mid_each_bp * greatest(n_touches - 2, 0)
              END AS BIGINT) AS first_bp,
              CAST(last_bp AS BIGINT) AS last_bp,
              CAST(mid_each_bp AS BIGINT) AS mid_each_bp
       FROM p ORDER BY user_id, sec, event_id"""

  /** Sequence-pattern matching over per-user event journeys — the
    * MATCH_RECOGNIZE-style read: each user's time-ordered event-type
    * initials become one string (c/e/p/s/v — the five types have
    * distinct initials), and regular expressions do the pattern work:
    * `v.*c.*p` = the view→click→purchase funnel in order (any
    * interleaving), and non-overlapping `cp` occurrences = direct
    * click→purchase conversions with nothing in between. Per-user
    * strings are session-sized (bounded by per-user activity), built
    * with one grouped sort — the standard journey-analysis shape; the
    * regex scan is per-row CPU on a compact string, no joins. */
  def sequenceMatch: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        substring(col("event_type"), 1, 1).as("ini"))
      .groupBy(col("user_id"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(ts, event_id, ini))), x -> x.ini), '')")
        .as("seq"))
      .select(col("user_id"),
        length(col("seq")).as("seq_len"),
        col("seq").rlike("v.*c.*p").as("funnel_match"),
        expr("CAST((length(seq) - length(replace(seq, 'cp', ''))) div 2 AS INT)")
          .as("n_quick_convert"))
  }

  val sequenceMatchSql: String =
    """WITH seqs AS (
         SELECT user_id,
                string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
         FROM events GROUP BY user_id)
       SELECT user_id, CAST(length(seq) AS INT) AS seq_len,
              regexp_matches(seq, 'v.*c.*p') AS funnel_match,
              CAST((length(seq) - length(replace(seq, 'cp', ''))) // 2 AS INT) AS n_quick_convert
       FROM seqs ORDER BY user_id"""

  /** Channel universe for Markov attribution — the four non-purchase
    * event types act as marketing channels; purchase is conversion. */
  val AttrChannels: Seq[String] = Seq("click", "error", "signup", "view")
  private val AttrStates = "start" +: AttrChannels :+ "conv" :+ "null"
  private val AttrPScale = 1000000L      // 10^6 fixed-point row probabilities
  private val AttrUScale = 1000000000000L // 10^12 fixed-point absorption prob
  val AttrIters = 16

  /** Journey transition rows shared by Spark and the oracle: per event,
    * from = prev type ('start' when none or after a purchase — a
    * conversion ends the journey), to = type ('conv' for purchase);
    * plus a terminal (last_type → 'null') row per user whose trail
    * doesn't end in a purchase. */
  private def attrTransitions(s: SparkSession, d: String): DataFrame = {
    val wAsc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wDesc = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wAsc))
      .withColumn("rn_last", row_number().over(wDesc))
    val steps = e.select(
      when(col("prev").isNull || col("prev") === "purchase", "start")
        .otherwise(col("prev")).as("f"),
      when(col("event_type") === "purchase", "conv")
        .otherwise(col("event_type")).as("t"))
    val terms = e.filter(col("rn_last") === 1 && col("event_type") =!= "purchase")
      .select(col("event_type").as("f"), lit("null").as("t"))
    steps.unionByName(terms)
  }

  /** Markov removal-effect attribution (Anderl et al. 2016 — the
    * data-driven multi-touch model beside the positional heuristics):
    * fit a first-order journey chain (start → channels → conv|null),
    * then credit each channel by how much the conversion probability
    * DROPS when that channel is knocked out (entering it becomes a
    * loss — equivalent to redirecting its inbound mass to null).
    * Absorption probabilities come from AttrIters fixed-point integer
    * iterations of u ← P·u with u(conv) pinned — the `events_markov_
    * steady` discipline: the transition matrix is a BOUNDED
    * (≤|states|²) collect, iteration is exact BIGINT arithmetic
    * replayed term-for-term by unrolled oracle CTEs, so the hash
    * certifies every arm's trajectory. One user-keyed shuffle + one
    * bounded aggregation; at 100 TB the corpus cost is the journey
    * scan, the chain solve is constant-size. */
  def attributionMarkov: Q = (s, d) => {
    import s.implicits._
    val counts = attrTransitions(s, d)
      .groupBy(col("f"), col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val p = counts.map { case (f, t, n) => (f, t, n * AttrPScale / totals(f)) }
    // absorption u(s) = P(conv | start at s), with `removed` forced to 0
    def absorb(removed: Option[String]): Long = {
      var u: Map[String, Long] =
        AttrStates.map(s0 => s0 -> (if (s0 == "conv") AttrUScale else 0L)).toMap
      for (_ <- 1 to AttrIters) {
        val next = scala.collection.mutable.Map(AttrStates.map(_ -> 0L): _*)
        p.foreach { case (f, t, pfp) => next(f) = next(f) + u(t) * pfp / AttrPScale }
        next("conv") = AttrUScale
        next("null") = 0L
        removed.foreach(c => next(c) = 0L)
        u = next.toMap
      }
      u("start")
    }
    val pFull = absorb(None)
    val res = AttrChannels.map { c =>
      val pc = absorb(Some(c))
      (c, pc, math.max(0L, pFull - pc))
    }
    val reSum = res.map(_._3).sum
    res.map { case (c, pc, re) =>
      (c,
        math.floor(pFull.toDouble / AttrUScale * 1e4) / 1e4,
        math.floor(pc.toDouble / AttrUScale * 1e4) / 1e4,
        math.floor(re.toDouble / AttrUScale * 1e4) / 1e4,
        if (reSum > 0) (re * 10000L / reSum) / 10000.0 else 0.0)
    }.toDF("channel", "p_conv_full", "p_conv_removed", "removal_effect", "attribution")
  }

  /** DuckDB oracle; `p` is MATERIALIZED, else every unrolled iteration re-runs its window pass. */
  lazy val attributionMarkovSql: String = {
    val statesVals = AttrStates.map(s0 => s"('$s0')").mkString(", ")
    def arm(name: String, removed: Option[String]): String = {
      val pin = removed.map(c => s"WHEN st.s = '$c' THEN 0").getOrElse("")
      val iters = (1 to AttrIters).map { i =>
        s"""u${i}_$name AS (
             SELECT st.s,
                    CASE WHEN st.s = 'conv' THEN $AttrUScale
                         WHEN st.s = 'null' THEN 0
                         $pin
                         ELSE COALESCE(x.r, 0) END AS r
             FROM states st LEFT JOIN (
               SELECT p.f AS s, CAST(sum((u.r * p.pfp) // $AttrPScale) AS BIGINT) AS r
               FROM p JOIN u${i - 1}_$name u ON u.s = p.t GROUP BY 1) x
               ON x.s = st.s)"""
      }.mkString(",\n")
      s"""u0_$name AS (
           SELECT s, CASE WHEN s = 'conv' THEN $AttrUScale ELSE 0 END AS r
           FROM states),
         $iters,
         p_$name AS (SELECT r FROM u${AttrIters}_$name WHERE s = 'start')"""
    }
    val arms = (arm("full", None) +:
      AttrChannels.map(c => arm(c, Some(c)))).mkString(",\n")
    val resRows = AttrChannels.map { c =>
      s"""SELECT '$c' AS channel, (SELECT r FROM p_full) AS pf,
                 (SELECT r FROM p_$c) AS pc"""
    }.mkString(" UNION ALL ")
    s"""WITH e AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn_last
          FROM events),
        trans AS (
          SELECT CASE WHEN prev IS NULL OR prev = 'purchase' THEN 'start'
                      ELSE prev END AS f,
                 CASE WHEN event_type = 'purchase' THEN 'conv'
                      ELSE event_type END AS t
          FROM e
          UNION ALL
          SELECT event_type, 'null' FROM e
          WHERE rn_last = 1 AND event_type <> 'purchase'),
        c AS (SELECT f, t, count(*) AS n FROM trans GROUP BY 1, 2),
        tot AS (SELECT f, sum(n) AS tn FROM c GROUP BY 1),
        p AS MATERIALIZED (SELECT c.f, c.t, (c.n * $AttrPScale) // tot.tn AS pfp
              FROM c JOIN tot USING (f)),
        states(s) AS (VALUES $statesVals),
        $arms,
        res AS ($resRows),
        re AS (SELECT channel, pf, pc, greatest(0, pf - pc) AS re FROM res),
        s AS (SELECT CAST(sum(re) AS BIGINT) AS re_sum FROM re)
        SELECT channel,
               floor(CAST(pf AS DOUBLE) / $AttrUScale * 1e4) / 1e4 AS p_conv_full,
               floor(CAST(pc AS DOUBLE) / $AttrUScale * 1e4) / 1e4 AS p_conv_removed,
               floor(CAST(re AS DOUBLE) / $AttrUScale * 1e4) / 1e4 AS removal_effect,
               CASE WHEN s.re_sum > 0 THEN ((re * 10000) // s.re_sum) / 10000.0
                    ELSE 0.0 END AS attribution
        FROM re, s ORDER BY channel"""
  }

  /** Wilson 95% score interval for a stage conversion — shared
    * EXPRESSION TEXT between engines so the double op sequence is
    * identical (z = 1.96 enters only as the pre-folded literals
    * z² = 3.8416, z²/2 = 1.9208, z²/4 = 0.9604); floor-pinned at 6dp. */
  private def wilsonExpr(k: String, n: String, sign: String): String =
    s"""CASE WHEN $n > 0 THEN floor((
          ((CAST($k AS DOUBLE) / $n) + 1.9208 / $n $sign
           1.96 * sqrt((CAST($k AS DOUBLE) / $n) * (1.0 - CAST($k AS DOUBLE) / $n) / $n
                       + 0.9604 / (CAST($n AS DOUBLE) * $n)))
          / (1.0 + 3.8416 / $n)) * 1e6) / 1e6 END"""

  /** Funnel conversion rates WITH uncertainty — the Wilson 95% score
    * interval per stage transition (view→click, click→purchase,
    * view→purchase), the read that stops a team shipping a "conversion
    * moved 2%" conclusion off 40 users. Wilson beats the normal
    * approximation at small n and never leaves [0,1] — exactly the
    * regime funnel tails live in. One pass over `funnel_stages`'
    * per-user stage (the monotone stage counts n₁ ≥ n₂ ≥ n₃ are three
    * conditional sums of ONE aggregate), three output rows via stack —
    * no joins, no windows beyond the funnel's own. */
  def conversionCi: Q = (s, d) => {
    funnelStages(s, d)
      .agg(sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n2"),
        sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n3"))
      .selectExpr("stack(3, 'click_to_purchase', n2, n3, " +
        "'view_to_click', n1, n2, 'view_to_purchase', n1, n3) as (transition, n, k)")
      .selectExpr("transition", "n", "k",
        "CASE WHEN n > 0 THEN floor(CAST(k AS DOUBLE) / n * 1e6) / 1e6 END AS p_hat",
        s"${wilsonExpr("k", "n", "-")} AS wilson_lo",
        s"${wilsonExpr("k", "n", "+")} AS wilson_hi")
  }

  lazy val conversionCiSql: String =
    s"""WITH fs AS ($funnelStagesSql),
        c AS (
          SELECT CAST(sum(CASE WHEN stage >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                 CAST(sum(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                 CAST(sum(CASE WHEN stage >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
          FROM fs),
        t AS (
          SELECT 'click_to_purchase' AS transition, n2 AS n, n3 AS k FROM c
          UNION ALL SELECT 'view_to_click', n1, n2 FROM c
          UNION ALL SELECT 'view_to_purchase', n1, n3 FROM c)
        SELECT transition, n, k,
               CASE WHEN n > 0 THEN floor(CAST(k AS DOUBLE) / n * 1e6) / 1e6 END AS p_hat,
               ${wilsonExpr("k", "n", "-")} AS wilson_lo,
               ${wilsonExpr("k", "n", "+")} AS wilson_hi
        FROM t ORDER BY transition"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("funnel_conversion_ci", conversionCi, Some(conversionCiSql)),
    ("attribution_markov", attributionMarkov, Some(attributionMarkovSql)),
    ("events_sequence_match", sequenceMatch, Some(sequenceMatchSql)),
    ("attribution_position", attributionPosition, Some(attributionPositionSql)),
    ("funnel_stages", funnelStages, Some(funnelStagesSql)),
    ("attribution_linear", attributionLinear, Some(attributionLinearSql)),
    ("events_top_paths", topPaths, Some(topPathsSql)))
}
