package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Co-occurrence / segmentation analytics: market-basket pair mining,
  * event-transition (Markov) matrices, RFM customer segmentation,
  * session-concurrency curves, equi-depth histograms, and item-item
  * Jaccard similarity. The behavioural-analytics layer every event
  * warehouse runs on top of the collector's fact streams.
  *
  * Scale notes (100 TB): pair generation is always WITHIN a bounded
  * group (an order's basket, a user's page set) — fanout is
  * |group|², never corpus², and a group-size cap guards the
  * heavy-hitter tail exactly like Dedup's shingle document-frequency
  * cap. Segmentation thresholds (quartiles, deciles) are computed as
  * ONE tiny exact-percentile aggregate and broadcast back — never an
  * unpartitioned corpus-wide window. Concurrency uses the two-level
  * prefix-sum decomposition: per-hour running sums shuffle-partition
  * by hour; cross-hour carry is a cumulative window over the
  * |hours|-row aggregate, which is KBs at any data size.
  */
object Affinity {

  type Q = (SparkSession, String) => DataFrame

  import TextAnalysis.trunc4

  // --------------------------------------------------------- basket pairs

  /** Basket-size cap: orders with more distinct parts than this are
    * dropped before pairing (data-entry artifacts / resellers would
    * otherwise contribute |basket|² candidate pairs each — the exact
    * skew guard Dedup applies to shingle document frequency). Inactive
    * at test scale (max basket = 13) but load-bearing at 100 TB. */
  val MaxBasket = 50

  /** Minimum pair support to report. */
  val MinSupport = 2

  /** Market-basket pair mining: distinct part pairs co-purchased in one
    * order, with support count and lift. The pair join is an equi-join
    * on l_orderkey (pair fanout bounded by MaxBasket²), the item and
    * order totals are one aggregate each, and lift is exact integer
    * arithmetic until a single floored division — engine-exact. */
  def basketPairs: Q = (s, d) => {
    // ONE groupBy builds the per-order distinct-part BASKET ARRAY
    // (collect_set, capped at MaxBasket) and everything else — order
    // count, item counts, pair stream — reads off the cut arrays.
    // Replaces the r15 shape (distinct → basket-size agg → join-back →
    // l_orderkey SELF-JOIN: four derivations of the kept item table and
    // two extra shuffles; its lineage cut was the one r15 change with
    // no positive A/B evidence — VERDICT item 5). Pairs come from the
    // compiled combo kernel over the sorted list, exactly the Dedup
    // pair-family shape (guide §2.4: remove shuffles outright — the
    // orderkey-pair self-join shuffle is gone; the combo kernel's
    // output is the same (part_a < part_b) pair stream).
    val baskets = graft.Checkpoints.cutLazy(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
        .filter(size(col("parts")) <= MaxBasket)
        .select(col("parts")))
    val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCnt = baskets.select(explode(col("parts")).as("l_partkey"))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("item_cnt"))
    val pairs = baskets
      .select(explode(graft.functions.TextUdfs.pairCombos(col("parts"))).as("p"))
      .groupBy(col("p._1").as("part_a"), col("p._2").as("part_b"))
      .agg(count(lit(1)).as("support_cnt"))
      .filter(col("support_cnt") >= MinSupport)
    pairs
      .join(broadcast(itemCnt.withColumnRenamed("l_partkey", "part_a")
        .withColumnRenamed("item_cnt", "cnt_a")), Seq("part_a"))
      .join(broadcast(itemCnt.withColumnRenamed("l_partkey", "part_b")
        .withColumnRenamed("item_cnt", "cnt_b")), Seq("part_b"))
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("support_cnt"),
        (floor(col("support_cnt") * col("n_orders") * lit(10000) /
          (col("cnt_a") * col("cnt_b"))) / 10000.0).as("lift"))
  }

  val basketPairsSql: String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        kept AS (
          SELECT i.* FROM items i JOIN (
            SELECT l_orderkey FROM items GROUP BY 1 HAVING count(*) <= $MaxBasket) s
          USING (l_orderkey)),
        n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM kept),
        ic AS (SELECT l_partkey, count(*) AS item_cnt FROM kept GROUP BY 1),
        p AS (
          SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support_cnt
          FROM kept a JOIN kept b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING count(*) >= $MinSupport)
        SELECT part_a, part_b, support_cnt,
               floor(support_cnt * n.n_orders * 10000 / (ca.item_cnt * cb.item_cnt)) / 10000.0 AS lift
        FROM p JOIN ic ca ON ca.l_partkey = p.part_a
               JOIN ic cb ON cb.l_partkey = p.part_b
               CROSS JOIN n
        ORDER BY part_a, part_b"""

  // --------------------------------------------------- transition matrix

  /** First-order Markov transition matrix over each user's event
    * sequence: lag over the per-user (ts, event_id) total order, one
    * count by (from, to), probabilities normalized per source state.
    * The row-total join is |states|²-row — broadcast. At 100 TB this
    * is one series-keyed window + one tiny aggregation, the same shape
    * as `metrics_counter_rate`. */
  def transitionMatrix: Q = (s, d) => {
    val steps = transitionCounts(s, d)
    val totals = steps.groupBy(col("from_type")).agg(sum(col("n")).as("row_total"))
    steps.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (floor(col("n") * lit(10000) / col("row_total")) / 10000.0).as("prob"))
  }

  /** (from_type, to_type, n): each user's consecutive event-type
    * transitions over the per-user (ts, event_id) order, counted. */
  private def transitionCounts(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  val transitionMatrixSql: String =
    """WITH steps AS (
         SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
                event_type AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, count(*) AS n FROM steps
             WHERE from_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
              floor(n * 10000 / sum(n) OVER (PARTITION BY from_type)) / 10000.0 AS prob
       FROM c ORDER BY from_type, to_type"""

  // ------------------------------------------------- Markov steady state

  private val MarkovBase = 1000000000000L // 10^12 fixed-point mass
  private val MarkovPScale = 1000000L     // 10^6 fixed-point row probabilities
  private val MarkovIters = 16

  /** Steady-state distribution of the event-type Markov chain (the
    * long-run "where does a user journey spend its time" read over
    * `events_transition_matrix`): power iteration in EXACT integer
    * fixed point, the `graph_pagerank` scheme. Row probabilities are
    * pre-normalized to 10^6 fixed point (so v·p stays under 2^63 for
    * ANY corpus size — the raw-count product would overflow at ~10^9
    * transitions per pair), and every iteration is integer
    * multiply-sum-floor — order-independent under any partitioning,
    * replayed by 16 unrolled DuckDB CTEs bit-for-bit. The transition
    * counts are a |types|²-row model (bounded by the event vocabulary,
    * the LM-vocab/codebook collect idiom): counting is the only
    * corpus-sized pass; iterating the tiny chain is driver arithmetic. */
  def markovSteady: Q = (s, d) => {
    import s.implicits._
    val counts = transitionCounts(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val totals = counts.groupBy(_._1).map { case (f, rs) => f -> rs.map(_._3).sum }
    val p = counts.map { case (f, t, n) => (f, t, n * MarkovPScale / totals(f)) }
    // Full type universe: a type that only ever appears as a transition
    // TARGET (terminal per user) must still hold a row of the vector, and
    // a pure-source type keeps its rank_fp=0 row — mirrored in the oracle.
    val types = (counts.map(_._1) ++ counts.map(_._2)).distinct.sorted
    // A type with no outgoing transitions would otherwise LEAK its mass
    // each round (the chain can drain to an all-zero vector and a
    // divide-by-zero share). PageRank's dangling-node rule, in its
    // simplest deterministic form: a dangling type holds its mass
    // (implicit self-loop) — a no-op on corpora where every type emits.
    val dangling = types.filterNot(p.map(_._1).toSet)
    var v: Map[String, Long] = types.map(_ -> MarkovBase / types.length).toMap
    for (_ <- 1 to MarkovIters) {
      val next = scala.collection.mutable.Map(types.map(_ -> 0L): _*)
      p.foreach { case (f, t, pfp) =>
        next(t) = next(t) + v(f) * pfp / MarkovPScale
      }
      dangling.foreach(t => next(t) = next(t) + v(t))
      v = next.toMap
    }
    val totalR = types.map(v).sum
    types.toSeq.map(t => (t, v(t), (v(t) * 10000L / totalR) / 10000.0))
      .toDF("event_type", "rank_fp", "share")
  }

  val markovSteadySql: String = {
    val prologue =
      s"""WITH steps AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
                  event_type AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, count(*) AS n FROM steps
               WHERE from_type IS NOT NULL GROUP BY 1, 2),
         t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1),
         types AS (SELECT DISTINCT from_type AS ty FROM c
                   UNION SELECT DISTINCT to_type FROM c),
         p AS (SELECT c.from_type, c.to_type, (c.n * $MarkovPScale) // t.tot AS pfp
               FROM c JOIN t USING (from_type)
               UNION ALL
               SELECT ty, ty, $MarkovPScale FROM types
               WHERE ty NOT IN (SELECT from_type FROM c)),
         nt AS (SELECT count(*) AS k FROM types),
         v0 AS (SELECT ty, $MarkovBase // k AS r FROM types CROSS JOIN nt)"""
    val iters = (1 to MarkovIters).map { i =>
      s"""v$i AS (
           SELECT ty.ty, COALESCE(s.r, 0) AS r
           FROM types ty LEFT JOIN (
             SELECT p.to_type AS ty, CAST(sum((v.r * p.pfp) // $MarkovPScale) AS BIGINT) AS r
             FROM v${i - 1} v JOIN p ON v.ty = p.from_type GROUP BY 1) s
           ON ty.ty = s.ty)"""
    }
    (Seq(prologue) ++ iters).mkString(",\n") +
      s""",
        tot_r AS (SELECT sum(r) AS sr FROM v$MarkovIters)
        SELECT v.ty AS event_type, v.r AS rank_fp,
               ((v.r * 10000) // t.sr) / 10000.0 AS share
        FROM v$MarkovIters v CROSS JOIN tot_r t ORDER BY v.ty"""
  }

  // ------------------------------------------------------- RFM segments

  /** RFM segmentation: recency (days since last order), frequency
    * (order count), monetary (lifetime cents — `floor(price*100)` is
    * one exact IEEE multiply+floor per order, then BIGINT sums) per
    * customer; quartile BOUNDARIES via one exact-percentile aggregate
    * broadcast back (never an ntile over the full customer set — that
    * is an unpartitioned corpus-wide sort at scale); bucket = 1 +
    * count of boundaries strictly below. Quartiles of integers
    * interpolate on exact .25/.5/.75 fractions, so both engines agree
    * bit-for-bit. */
  def rfmSegments: Q = (s, d) => {
    val cust = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(max(to_date(col("o_orderdate"))).as("last_order"),
        count(lit(1)).as("f"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("m_cents"))
    val gmax = Tables.orders(s, d).agg(max(to_date(col("o_orderdate"))).as("gmax"))
    val rfm = cust.crossJoin(broadcast(gmax))
      .select(col("o_custkey"), datediff(col("gmax"), col("last_order")).cast("long").as("r"),
        col("f"), col("m_cents"))
    val bounds = rfm.agg(
      expr("percentile(r, array(0.25e0, 0.5e0, 0.75e0))").as("rq"),
      expr("percentile(f, array(0.25e0, 0.5e0, 0.75e0))").as("fq"),
      expr("percentile(m_cents, array(0.25e0, 0.5e0, 0.75e0))").as("mq"))
    def bucket(c: String, b: String) =
      (lit(1) + when(col(c) > col(b)(0), 1).otherwise(0)
        + when(col(c) > col(b)(1), 1).otherwise(0)
        + when(col(c) > col(b)(2), 1).otherwise(0)).cast("int")
    rfm.crossJoin(broadcast(bounds))
      .select(bucket("r", "rq").as("r_q"), bucket("f", "fq").as("f_q"),
        bucket("m_cents", "mq").as("m_q"), col("m_cents"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        expr("sum(m_cents) DIV count(*)").as("avg_monetary_cents"))
  }

  val rfmSegmentsSql: String =
    """WITH cust AS (
         SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_order,
                count(*) AS f,
                sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS m_cents
         FROM orders GROUP BY 1),
       g AS (SELECT max(CAST(o_orderdate AS DATE)) AS gmax FROM orders),
       rfm AS (
         SELECT o_custkey, CAST(datediff('day', last_order, gmax) AS BIGINT) AS r,
                f, m_cents
         FROM cust CROSS JOIN g),
       b AS (
         SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rq,
                quantile_cont(f, [0.25, 0.5, 0.75]) AS fq,
                quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mq
         FROM rfm)
       SELECT CAST(1 + (r > rq[1])::INT + (r > rq[2])::INT + (r > rq[3])::INT AS INT) AS r_q,
              CAST(1 + (f > fq[1])::INT + (f > fq[2])::INT + (f > fq[3])::INT AS INT) AS f_q,
              CAST(1 + (m_cents > mq[1])::INT + (m_cents > mq[2])::INT + (m_cents > mq[3])::INT AS INT) AS m_q,
              count(*) AS n_customers,
              CAST(sum(m_cents) // count(*) AS BIGINT) AS avg_monetary_cents
       FROM rfm CROSS JOIN b
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ------------------------------------------------- RFM tier migration

  /** Customer value-tier MIGRATION between two periods — the read that
    * turns a static RFM snapshot into a retention story: monetary
    * quartile tiers computed independently per period (each period's
    * own boundaries, so the matrix shows RELATIVE movement, not
    * inflation), then a full-outer per-customer join → 5×5 transition
    * matrix with tier 0 = absent (row 0·× = acquired, ×·0 = churned).
    * Same single-row boundary broadcast as `q_rfm_segments`; the only
    * corpus-sized work is two grouped aggregations and one customer-
    * keyed join. */
  def rfmMigration: Q = (s, d) => {
    val CutDate = "1998-01-01"
    def tiers(o: DataFrame): DataFrame = {
      // NOT cut (r15 A/B: 1.18x): the per-period aggregate is small and
      // cheap to re-derive; a lineage cut costs more than the recompute
      val cust = o.groupBy(col("o_custkey"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("m_cents"))
      val bounds = cust.agg(
        expr("percentile(m_cents, array(0.25e0, 0.5e0, 0.75e0))").as("mq"))
      cust.crossJoin(broadcast(bounds))
        .select(col("o_custkey"),
          (lit(1) + when(col("m_cents") > col("mq")(0), 1).otherwise(0)
            + when(col("m_cents") > col("mq")(1), 1).otherwise(0)
            + when(col("m_cents") > col("mq")(2), 1).otherwise(0)).cast("int").as("tier"))
    }
    // raw timestamp comparison (o_orderdate values are exact midnights,
    // so this equals the date comparison) — reaches the parquet scan as
    // a PushedFilter, where to_date(o_orderdate) < ... would not
    val o = Tables.orders(s, d)
    val a = tiers(o.filter(col("o_orderdate") < lit(s"$CutDate 00:00:00").cast("timestamp")))
      .withColumnRenamed("tier", "tier_a")
    val b = tiers(o.filter(col("o_orderdate") >= lit(s"$CutDate 00:00:00").cast("timestamp")))
      .withColumnRenamed("tier", "tier_b")
    a.join(b, Seq("o_custkey"), "full_outer")
      .select(coalesce(col("tier_a"), lit(0)).as("tier_a"),
        coalesce(col("tier_b"), lit(0)).as("tier_b"))
      .groupBy(col("tier_a"), col("tier_b"))
      .agg(count(lit(1)).as("n_customers"))
  }

  val rfmMigrationSql: String =
    """WITH ca AS (
         SELECT o_custkey, sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS m_cents
         FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01' GROUP BY 1),
       ba AS (SELECT quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mq FROM ca),
       ta AS (
         SELECT o_custkey,
                CAST(1 + (m_cents > mq[1])::INT + (m_cents > mq[2])::INT
                       + (m_cents > mq[3])::INT AS INT) AS tier_a
         FROM ca CROSS JOIN ba),
       cb AS (
         SELECT o_custkey, sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS m_cents
         FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1998-01-01' GROUP BY 1),
       bb AS (SELECT quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mq FROM cb),
       tb AS (
         SELECT o_custkey,
                CAST(1 + (m_cents > mq[1])::INT + (m_cents > mq[2])::INT
                       + (m_cents > mq[3])::INT AS INT) AS tier_b
         FROM cb CROSS JOIN bb)
       SELECT COALESCE(ta.tier_a, 0) AS tier_a, COALESCE(tb.tier_b, 0) AS tier_b,
              count(*) AS n_customers
       FROM ta FULL OUTER JOIN tb USING (o_custkey)
       GROUP BY 1, 2 ORDER BY 1, 2"""

  // -------------------------------------------------------- concurrency

  /** Peak concurrent sessions per hour — the capacity-planning curve.
    * Sessions (30-min gap rule, same as `sessionize`) become ±1 deltas
    * at their bounds; the classic single-sorted-pass prefix sum is
    * decomposed for scale: (1) per-hour running sums, shuffled by hour
    * (balanced — hours don't skew); (2) cross-hour carry-in as a
    * cumulative window over the |hours|-row per-hour totals (KBs at
    * any size); (3) an hour spine generated from one min/max aggregate
    * so hours fully inside a long session still report its concurrency.
    * Ties at one timestamp order starts (+1) before ends (−1): sessions
    * touching at an instant count as overlapping (inclusive ends).
    * Pure integer arithmetic — engine-exact. */
  def concurrency: Q = (s, d) => {
    // sess is consumed three times below (start deltas, end deltas, the
    // hour-spine min/max) — r16: ONE events scan+window pass behind a
    // lazy cut (narrow CORPUS-PROJECTED frame), both ±1 deltas emitted
    // by a single explode instead of a union of two derivations, and
    // the spine bounds read off sess (min session start == min ts,
    // max session end == max ts — sessions tile the event set).
    val sess = graft.Checkpoints.cutLazy(userSessions(s, d)
      .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts")))
    val deltas = sess.select(explode(expr(
        "array(struct(start_ts AS ts, 1 AS delta), struct(end_ts AS ts, -1 AS delta))"))
        .as("x"))
      .select(col("x.ts").as("ts"), col("x.delta").as("delta"))
      .withColumn("hour", date_trunc("hour", col("ts")))
    val wRun = Window.partitionBy(col("hour"))
      .orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hourly = deltas
      .withColumn("run", sum(col("delta")).over(wRun))
      .groupBy(col("hour"))
      .agg(max(col("run")).as("peak_in_hour"), sum(col("delta")).as("hour_delta"))
    val wCum = Window.orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val carried = hourly
      .withColumn("carry", coalesce(sum(col("hour_delta")).over(wCum), lit(0L)))
    val spine = sess
      .agg(date_trunc("hour", min(col("start_ts"))).as("lo"),
        date_trunc("hour", max(col("end_ts"))).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("hour"))
    spine.join(carried, Seq("hour"), "left")
      .select(col("hour"),
        greatest(
          coalesce(col("carry"), last(col("carry") + col("hour_delta"), ignoreNulls = true)
            .over(Window.orderBy(col("hour"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))),
          coalesce(col("carry") + col("peak_in_hour"), lit(0L))).as("peak_concurrency"))
  }

  val concurrencySql: String =
    s"""WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > ${AsOf.GapSeconds}
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT user_id, session_idx, min(ts) AS start_ts, max(ts) AS end_ts
          FROM (SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM e)
          GROUP BY 1, 2),
        deltas AS (
          SELECT start_ts AS ts, 1 AS delta, date_trunc('hour', start_ts) AS hour FROM sess
          UNION ALL
          SELECT end_ts, -1, date_trunc('hour', end_ts) FROM sess),
        hourly AS (
          SELECT hour, max(run) AS peak_in_hour, sum(delta) AS hour_delta
          FROM (SELECT hour, sum(delta) OVER (PARTITION BY hour ORDER BY ts, delta DESC
                  ROWS UNBOUNDED PRECEDING) AS run, delta
                FROM deltas)
          GROUP BY 1),
        carried AS (
          SELECT hour, peak_in_hour, hour_delta,
                 coalesce(sum(hour_delta) OVER (ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
          FROM hourly),
        spine AS (
          SELECT unnest(generate_series(date_trunc('hour', min(ts)),
                                        date_trunc('hour', max(ts)),
                                        INTERVAL 1 HOUR)) AS hour
          FROM events)
        SELECT s.hour,
               CAST(greatest(
                 coalesce(c.carry, last_value(c.carry + c.hour_delta IGNORE NULLS)
                   OVER (ORDER BY s.hour ROWS UNBOUNDED PRECEDING)),
                 coalesce(c.carry + c.peak_in_hour, 0)) AS BIGINT) AS peak_concurrency
        FROM spine s LEFT JOIN carried c ON c.hour = s.hour
        ORDER BY s.hour"""

  // ------------------------------------------------ equi-depth histogram

  val EqDepthBuckets = 10

  /** Equi-depth (decile) histogram of order value — the sibling of
    * `q_histogram_totalprice`'s equi-width bins: bin EDGES come from
    * one exact-percentile aggregate over integer cents (broadcast, not
    * an ntile sort), each bucket then reports count and exact bounds.
    * Boundary interpolation lands on .1/.2/… fractions of integers —
    * representable is NOT guaranteed (0.1 is inexact) but both engines
    * compute (n-1)p with one multiply and interpolate with the same
    * two IEEE ops on the same integers, so the results are identical
    * doubles either way. */
  def equidepthHistogram: Q = (s, d) => {
    val cents = Tables.orders(s, d)
      .select(floor(col("o_totalprice") * 100).cast("long").as("cents"))
    val qs = (1 until EqDepthBuckets).map(i => i.toDouble / EqDepthBuckets)
    val bounds = cents.agg(
      expr(s"percentile(cents, array(${qs.map(q => s"${q}e0").mkString(", ")}))").as("b"))
    val bucket = (lit(1) +: (0 until EqDepthBuckets - 1)
      .map(i => when(col("cents") > col("b")(i), 1).otherwise(0)))
      .reduce(_ + _).cast("int")
    cents.crossJoin(broadcast(bounds))
      .select(bucket.as("bucket"), col("cents"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
  }

  val equidepthHistogramSql: String = {
    val qs = (1 until EqDepthBuckets).map(i => i.toDouble / EqDepthBuckets)
    val terms = (1 until EqDepthBuckets).map(i => s"(cents > b[$i])::INT").mkString(" + ")
    s"""WITH c AS (
          SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        b AS (SELECT quantile_cont(cents, [${qs.mkString(", ")}]) AS b FROM c)
        SELECT CAST(1 + $terms AS INT) AS bucket,
               count(*) AS n, min(cents) AS lo_cents, max(cents) AS hi_cents
        FROM c CROSS JOIN b
        GROUP BY 1 ORDER BY 1"""
  }

  // -------------------------------------------------- item-item Jaccard

  /** Per-user distinct-page cap — the heavy-hitter guard: a crawler
    * user visiting every page contributes |pages|² co-occurrence pairs
    * and pure noise. Active at bench scale (sf0.1 has users covering
    * 60+ of the 100 pages). */
  val MaxUserPages = 50
  val SimTopK = 100

  /** Item-item Jaccard similarity from co-visitation: distinct
    * (user, page) pairs, per-user page-pair generation (≤ cap² each),
    * Jaccard = co / (|a| + |b| − co) in exact integers until one
    * floored division, global top-100 by similarity. The final top-k
    * is `orderBy().limit(k)` — Spark plans `TakeOrderedAndProject`,
    * a per-partition bounded heap merged on the driver, never a
    * single-partition sort of the pair aggregate; the rank column is
    * a window over the ≤ k surviving rows only. */
  def nodeSimilarity: Q = (s, d) => {
    // visits is referenced twice (degree filter + kept) and kept three
    // times (page counts + both sides of the co-visitation self-join):
    // one cut each = one scan+distinct and one capped-join pass, shared
    // by every consumer — including the graph_* entries built on the
    // pageEdges graph this entry derives
    val visits = graft.Checkpoints.cutLazy(Tables.events(s, d)
      .select(col("user_id"), get_json_object(col("props"), "$.k").cast("int").as("page"))
      .distinct())
    val degs = visits.groupBy(col("user_id")).agg(count(lit(1)).as("n_pages"))
      .filter(col("n_pages") <= MaxUserPages).select(col("user_id"))
    val kept = graft.Checkpoints.cutLazy(visits.join(degs, Seq("user_id")))
    val pageCnt = kept.groupBy(col("page")).agg(count(lit(1)).as("n_users"))
    val co = kept.select(col("user_id"), col("page").as("page_a"))
      .join(kept.select(col("user_id"), col("page").as("page_b")), Seq("user_id"))
      .filter(col("page_a") < col("page_b"))
      .groupBy(col("page_a"), col("page_b"))
      .agg(count(lit(1)).as("co"))
    val sim = co
      .join(broadcast(pageCnt.withColumnRenamed("page", "page_a")
        .withColumnRenamed("n_users", "na")), Seq("page_a"))
      .join(broadcast(pageCnt.withColumnRenamed("page", "page_b")
        .withColumnRenamed("n_users", "nb")), Seq("page_b"))
      .select(col("page_a"), col("page_b"), col("co"),
        (floor(col("co") * lit(10000) / (col("na") + col("nb") - col("co"))) / 10000.0)
          .as("jaccard"))
    sim.orderBy(col("jaccard").desc, col("page_a"), col("page_b"))
      .limit(SimTopK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("page_a"), col("page_b"))).cast("int"))
      .select(col("page_a"), col("page_b"), col("co"), col("jaccard"), col("rk"))
  }

  val nodeSimilaritySql: String =
    s"""WITH v AS (
          SELECT DISTINCT user_id, json_extract(props, '$$.k')::INT AS page FROM events),
        kept AS (
          SELECT v.* FROM v JOIN (
            SELECT user_id FROM v GROUP BY 1 HAVING count(*) <= $MaxUserPages) u
          USING (user_id)),
        pc AS (SELECT page, count(*) AS n_users FROM kept GROUP BY 1),
        co AS (
          SELECT a.page AS page_a, b.page AS page_b, count(*) AS co
          FROM kept a JOIN kept b ON a.user_id = b.user_id AND a.page < b.page
          GROUP BY 1, 2),
        sim AS (
          SELECT page_a, page_b, co,
                 floor(co * 10000 / (ca.n_users + cb.n_users - co)) / 10000.0 AS jaccard
          FROM co JOIN pc ca ON ca.page = co.page_a
                  JOIN pc cb ON cb.page = co.page_b)
        SELECT page_a, page_b, co, jaccard,
               CAST(rk AS INT) AS rk
        FROM (SELECT *, row_number() OVER (ORDER BY jaccard DESC, page_a, page_b) AS rk
              FROM sim) t
        WHERE rk <= $SimTopK ORDER BY rk"""

  // ---------------------------------------------- interval coverage

  /** Each user's events grouped by (user_id, session_idx): a session
    * ends where the gap to the user's previous event exceeds
    * [[AsOf.GapSeconds]]. */
  private def userSessions(s: SparkSession, d: String): RelationalGroupedDataset = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_session",
        when(unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)) >
          AsOf.GapSeconds || lag(col("ts"), 1).over(w).isNull, 1).otherwise(0))
      .withColumn("session_idx", sum(col("new_session")).over(w))
      .groupBy(col("user_id"), col("session_idx"))
  }

  /** Daily covered-time: the union length of all session intervals per
    * day — "how many seconds of the day had ANY activity" (uptime /
    * utilization from overlapping windows, where summing durations
    * would double-count overlaps). Sessions crossing midnight split
    * into per-day segments first (a bounded `sequence` explode — a
    * session spans few days), then one gaps-and-islands pass per day:
    * running max of segment ends, a new island when a segment starts
    * past it, island lengths summed. Partitioned by day — balanced at
    * any scale. Integer epoch-seconds throughout. */
  def intervalCoverage: Q = (s, d) => {
    val sess = userSessions(s, d)
      .agg(unix_timestamp(date_trunc("second", min(col("ts")))).as("lo"),
        unix_timestamp(date_trunc("second", max(col("ts")))).as("hi"))
    val segs = sess
      .select(explode(expr("sequence(lo DIV 86400, hi DIV 86400)")).as("day_nr"),
        col("lo"), col("hi"))
      .select(col("day_nr"),
        greatest(col("lo"), col("day_nr") * 86400).as("seg_lo"),
        least(col("hi"), (col("day_nr") + 1) * 86400 - 1).as("seg_hi"))
    val wDay = Window.partitionBy(col("day_nr")).orderBy(col("seg_lo"), col("seg_hi"))
    segs
      .withColumn("prev_hi", max(col("seg_hi")).over(
        wDay.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_hi").isNull || col("seg_lo") > col("prev_hi"), 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        wDay.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("day_nr"), col("island"))
      .agg((max(col("seg_hi")) - min(col("seg_lo")) + 1).as("len"),
        count(lit(1)).as("n_segs"))
      .groupBy(col("day_nr"))
      .agg(sum(col("n_segs")).as("n_intervals"), sum(col("len")).as("covered_sec"))
      .withColumn("coverage_frac", floor(col("covered_sec") * 1e4 / 86400) / 1e4)
  }

  val intervalCoverageSql: String =
    s"""WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > ${AsOf.GapSeconds}
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
          SELECT CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS lo,
                 CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) AS hi
          FROM (SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_idx
                FROM e)
          GROUP BY user_id, session_idx),
        segs AS (
          SELECT d.day_nr,
                 greatest(lo, d.day_nr * 86400) AS seg_lo,
                 least(hi, (d.day_nr + 1) * 86400 - 1) AS seg_hi
          FROM sess, LATERAL (SELECT unnest(generate_series(lo // 86400, hi // 86400)) AS day_nr) d),
        isl AS (
          SELECT day_nr, island, max(seg_hi) - min(seg_lo) + 1 AS len, count(*) AS n_segs
          FROM (
            SELECT day_nr, seg_lo, seg_hi,
                   sum(CASE WHEN prev_hi IS NULL OR seg_lo > prev_hi THEN 1 ELSE 0 END)
                     OVER (PARTITION BY day_nr ORDER BY seg_lo, seg_hi
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT day_nr, seg_lo, seg_hi,
                         max(seg_hi) OVER (PARTITION BY day_nr ORDER BY seg_lo, seg_hi
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_hi
                  FROM segs))
          GROUP BY day_nr, island)
        SELECT CAST(day_nr AS BIGINT) AS day_nr,
               CAST(sum(n_segs) AS BIGINT) AS n_intervals,
               CAST(sum(len) AS BIGINT) AS covered_sec,
               floor(CAST(sum(len) AS BIGINT) * 1e4 / 86400) / 1e4 AS coverage_frac
        FROM isl GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------ weighted percentile

  /** Quantity-weighted price percentiles per return flag — the
    * "weighted median" Spark has no built-in for: the smallest value v
    * whose cumulative weight reaches p·W. One per-group cumulative-sum
    * window + one conditional-min aggregation; the crossing test
    * (cum·100 ≥ p·W) stays in integers, and the answer is
    * tie-order-invariant (if any row of an equal-value run crosses,
    * the run's value is the min — and whether the run crosses depends
    * only on its last row's cumulative, which order can't change). */
  def weightedPercentile: Q = (s, d) => {
    // distributed two-pass exact weighted percentile — the round-8 KS
    // prefix-sum discipline instead of a row-level cumulative window:
    // the old shape sorted the WHOLE corpus inside |returnflags|=3
    // partitions (the sf1 probe measured it 8× at 10× data). Pass 1
    // aggregates weights onto a ≤~110-slot arithmetic cents-bucket grid
    // and finds each quantile's covering bucket; pass 2 runs the exact
    // row-level cumulative ONLY inside that one covering bucket
    // (~1/|buckets| of the corpus), seeded with the grid's prefix sum.
    // Identical result: bucket order refines cents order, and the
    // within-bucket tiebreak (orderkey, linenumber) never crosses a
    // bucket boundary.
    val BucketCents = 100000L // $1000 grid over the price domain
    val li = Tables.lineitem(s, d).select(col("l_returnflag"),
      floor(col("l_extendedprice") * 100).cast("long").as("cents"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
      .withColumn("bkt", expr(s"cents div $BucketCents"))
    val bsum = li.groupBy(col("l_returnflag"), col("bkt")).agg(sum(col("w")).as("bw"))
    val cumB = bsum
      .withColumn("cumb", sum(col("bw")).over(Window.partitionBy(col("l_returnflag"))
        .orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum(col("bw")).over(Window.partitionBy(col("l_returnflag"))))
    val covering = cumB
      .select(col("l_returnflag"), col("bkt"), col("bw"), col("cumb"), col("tot"),
        explode(array(lit(50L), lit(90L))).as("q"))
      .filter(col("cumb") * 100 >= col("q") * col("tot") &&
        (col("cumb") - col("bw")) * 100 < col("q") * col("tot"))
      .select(col("l_returnflag"), col("q"), col("bkt"),
        (col("cumb") - col("bw")).as("cum0"), col("tot"))
    val wIn = Window.partitionBy(col("l_returnflag"), col("q"))
      .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(covering), Seq("l_returnflag", "bkt"))
      .withColumn("cum", col("cum0") + sum(col("w")).over(wIn))
      .groupBy(col("l_returnflag"), col("q"))
      .agg(min(when(col("cum") * 100 >= col("q") * col("tot"), col("cents"))).as("wc"),
        max(col("tot")).as("tot"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("tot")).as("total_weight"),
        max(when(col("q") === 50, col("wc"))).as("w50_cents"),
        max(when(col("q") === 90, col("wc"))).as("w90_cents"))
  }

  val weightedPercentileSql: String =
    """WITH li AS (
         SELECT l_returnflag, CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents,
                CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
         FROM lineitem),
       c AS (
         SELECT l_returnflag, cents,
                sum(w) OVER (PARTITION BY l_returnflag
                  ORDER BY cents, l_orderkey, l_linenumber
                  ROWS UNBOUNDED PRECEDING) AS cum,
                sum(w) OVER (PARTITION BY l_returnflag) AS tot
         FROM li)
       SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_weight,
              min(CASE WHEN cum * 100 >= 50 * tot THEN cents END) AS w50_cents,
              min(CASE WHEN cum * 100 >= 90 * tot THEN cents END) AS w90_cents
       FROM c GROUP BY 1 ORDER BY 1"""

  // -------------------------------------------------- time to convert

  /** Signup→purchase conversion-lag distribution per weekly signup
    * cohort: each user's FIRST signup, their first purchase at or
    * after it, exact p50/p90 of the lag. Two aggregations + one
    * equi-join by user — no windows, no corpus-wide sort; the
    * percentile runs per cohort (bounded group count, the declared
    * exact-percentile contract). Lags are integer seconds; the
    * interpolated percentiles do the same two IEEE ops on the same
    * integers in both engines. */
  def timeToConvert: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("sec")).as("s0"))
    val d0 = signup.agg(min(col("s0")).as("d0"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(signup, Seq("user_id"))
      .filter(col("sec") >= col("s0"))
      .groupBy(col("user_id")).agg(max(col("s0")).as("s0"), min(col("sec")).as("p0"))
    conv.crossJoin(broadcast(d0))
      .select(expr("(s0 - d0) DIV 604800").as("cohort_week"),
        (col("p0") - col("s0")).as("lag_sec"))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_converted"),
        expr("percentile(lag_sec, 0.5e0)").as("p50_sec"),
        expr("percentile(lag_sec, 0.9e0)").as("p90_sec"))
  }

  val timeToConvertSql: String =
    """WITH ev AS (
         SELECT user_id, event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
         FROM events),
       signup AS (SELECT user_id, min(sec) AS s0 FROM ev
                  WHERE event_type = 'signup' GROUP BY 1),
       d0 AS (SELECT min(s0) AS d0 FROM signup),
       conv AS (
         SELECT e.user_id, max(s.s0) AS s0, min(e.sec) AS p0
         FROM ev e JOIN signup s USING (user_id)
         WHERE e.event_type = 'purchase' AND e.sec >= s.s0
         GROUP BY 1)
       SELECT (s0 - d0) // 604800 AS cohort_week,
              count(*) AS n_converted,
              quantile_cont(p0 - s0, 0.5) AS p50_sec,
              quantile_cont(p0 - s0, 0.9) AS p90_sec
       FROM conv CROSS JOIN d0
       GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------------ bot scoring

  /** Rate rule: flag above this many events/hour of active span. */
  val BotMaxPerHour = 40L

  /** Traffic-hygiene bot scoring — the abuse filter a training-data
    * pipeline runs before any behavioural signal is trusted: per user,
    * (a) event rate over the active span, (b) page-sweep breadth
    * (distinct pages ≈ events — crawler signature), (c) inter-arrival
    * REGULARITY via the moment n·Σg² − (Σg)² compared against (Σg/10)²
    * — variance below (mean/10)² means machine-timed traffic. The
    * moment products run in doubles (BIGINT wraps once gap sums reach
    * ~1e10; exact below 2⁵³ anyway), the rate/sweep rules in integer
    * cross-multiplication, and all three rules need ≥ 3 events of
    * history before they may fire — a one-event user has a 0-second
    * span and 1 page / 1 event, which would trip rate AND sweep
    * vacuously. One window (gaps) + one aggregation, keyed by user.
    * Emits the full per-user report (verdict = ≥2 rules), not just
    * hits, so the output is stable for auditing. */
  def botScore: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"),
        get_json_object(col("props"), "$.k").cast("int").as("page"))
      .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
    val perUser = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("active_sec"),
        countDistinct(col("page")).as("n_pages"),
        count(col("gap")).as("n_gaps"),
        sum(col("gap")).as("g_sum"),
        sum(col("gap") * col("gap")).as("g_sum2"))
    perUser
      // rate and sweep need history to mean anything: a single-event
      // user has active_sec = 0 (rate trivially true) and 1 page / 1
      // event (sweep trivially true) — gate both on >= 3 events, the
      // same minimum-history guard regular_flag puts on n_gaps
      .withColumn("rate_flag",
        col("n_events") >= 3 &&
          col("n_events") * 3600 > col("active_sec") * BotMaxPerHour)
      .withColumn("sweep_flag",
        col("n_events") >= 3 && col("n_pages") * 100 > col("n_events") * 90)
      // variance moment in doubles: n·Σg² and (Σg)² overflow BIGINT once
      // gap sums reach ~1e10 (Spark wraps silently, DuckDB raises); the
      // integer DIV 10 tolerance runs first, products never stay integer
      .withColumn("regular_flag",
        col("n_gaps") >= 3 &&
          (col("n_gaps").cast("double") * col("g_sum2").cast("double")
            - col("g_sum").cast("double") * col("g_sum").cast("double")) <
            expr("CAST(g_sum DIV 10 AS DOUBLE) * CAST(g_sum DIV 10 AS DOUBLE)"))
      .withColumn("is_bot",
        (col("rate_flag").cast("int") + col("sweep_flag").cast("int")
          + col("regular_flag").cast("int")) >= 2)
      .select(col("user_id"), col("n_events"), col("active_sec"), col("n_pages"),
        col("rate_flag"), col("sweep_flag"), col("regular_flag"), col("is_bot"))
  }

  val botScoreSql: String =
    s"""WITH ev AS (
          SELECT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                 json_extract(props, '$$.k')::INT AS page,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                   - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          FROM events),
        u AS (
          SELECT user_id, count(*) AS n_events,
                 max(sec) - min(sec) AS active_sec,
                 count(DISTINCT page) AS n_pages,
                 count(gap) AS n_gaps,
                 CAST(sum(gap) AS BIGINT) AS g_sum,
                 CAST(sum(gap * gap) AS BIGINT) AS g_sum2
          FROM ev GROUP BY 1),
        f AS (
          SELECT user_id, n_events, active_sec, n_pages,
                 n_events >= 3 AND n_events * 3600 > active_sec * $BotMaxPerHour AS rate_flag,
                 n_events >= 3 AND n_pages * 100 > n_events * 90 AS sweep_flag,
                 n_gaps >= 3 AND
                   n_gaps::DOUBLE * g_sum2::DOUBLE - g_sum::DOUBLE * g_sum::DOUBLE
                     < (g_sum // 10)::DOUBLE * (g_sum // 10)::DOUBLE
                   AS regular_flag
          FROM u)
        SELECT user_id, n_events, active_sec, n_pages,
               rate_flag, sweep_flag, regular_flag,
               rate_flag::INT + sweep_flag::INT + regular_flag::INT >= 2 AS is_bot
        FROM f ORDER BY user_id"""

  // ------------------------------------------- sliding distinct users

  val SlideDays = 7

  /** Trailing-7-day distinct users per day — `COUNT(DISTINCT) OVER
    * (RANGE 6 PRECEDING)`, which Spark (and most engines) cannot
    * evaluate natively — via interval decomposition: a user active on
    * day t is counted on days [t, t+6], so per user the active-day set
    * becomes MERGED contribution intervals (gaps ≤ 6 fuse — one
    * user-keyed gaps-and-islands pass), each interval one ±1 delta
    * pair, and the answer is a prefix sum over the day spine. Work is
    * O(|user-days|), never |days|×|users|, and the only non-keyed
    * state is the |days|-row delta table. Pure integers. */
  def slidingDistinctUsers: Q = (s, d) =>
    trailingDistinctUsers(userDays(s, d), SlideDays, "distinct_users_7d")
      .select(col("day_nr"), col("distinct_users_7d"))

  /** Distinct (user_id, day_nr) pairs of the events table. */
  private def userDays(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("day_nr"))
      .distinct()

  /** Trailing-`days` distinct users per day over the user-days `ud`,
    * in column `out` beside (day_nr, delta): user-days → merged
    * islands → ±1 deltas → prefix sum over the day spine. The one body
    * of `q_sliding_distinct_users` and the MAU of `events_stickiness`. */
  private def trailingDistinctUsers(ud: DataFrame, days: Int, out: String): DataFrame = {
    val w = days - 1
    val wU = Window.partitionBy(col("user_id")).orderBy(col("day_nr"))
    val intervals = ud
      .withColumn("prev_max", max(col("day_nr")).over(
        wU.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max").isNull || col("day_nr") > col("prev_max") + w, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("day_nr")).as("lo"), (max(col("day_nr")) + w).as("hi"))
    val deltas = intervals.select(col("lo").as("day_nr"), lit(1L).as("delta"))
      .unionByName(intervals.select((col("hi") + 1).as("day_nr"), lit(-1L).as("delta")))
      .groupBy(col("day_nr")).agg(sum(col("delta")).as("delta"))
    val spine = ud.agg(min(col("day_nr")).as("d0"), max(col("day_nr")).as("d1"))
      .select(explode(expr("sequence(d0, d1)")).as("day_nr"))
    spine.join(deltas, Seq("day_nr"), "left")
      .withColumn(out, sum(coalesce(col("delta"), lit(0L))).over(
        Window.orderBy(col("day_nr")).rowsBetween(Window.unboundedPreceding, 0)))
  }

  val slidingDistinctUsersSql: String = {
    val w = SlideDays - 1
    s"""WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day_nr
          FROM events),
        isl AS (
          SELECT user_id, island, min(day_nr) AS lo, max(day_nr) + $w AS hi
          FROM (
            SELECT user_id, day_nr,
                   sum(CASE WHEN prev_max IS NULL OR day_nr > prev_max + $w
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY day_nr
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT user_id, day_nr,
                         max(day_nr) OVER (PARTITION BY user_id ORDER BY day_nr
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
                  FROM ud))
          GROUP BY user_id, island),
        deltas AS (
          SELECT day_nr, CAST(sum(delta) AS BIGINT) AS delta FROM (
            SELECT lo AS day_nr, 1 AS delta FROM isl
            UNION ALL SELECT hi + 1, -1 FROM isl)
          GROUP BY 1),
        spine AS (
          SELECT unnest(generate_series(min(day_nr), max(day_nr))) AS day_nr FROM ud)
        SELECT s.day_nr,
               CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY s.day_nr
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS distinct_users_7d
        FROM spine s LEFT JOIN deltas d USING (day_nr)
        ORDER BY s.day_nr"""
  }

  /** Inter-purchase interval distribution — the replenishment-cycle
    * read behind reorder reminders and churn prediction: per customer,
    * gaps between consecutive orders (one customer-keyed lag window);
    * the distribution reports exact p25/p50/p75/p90 over integer day
    * gaps plus the share of customers who ordered more than once.
    * Quantiles of integers interpolate on exact quarter fractions —
    * engine-identical. */
  def purchaseIntervals: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"), col("o_orderkey"))
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_timestamp(o_orderdate) DIV 86400").as("day"))
      .withColumn("gap_days", col("day") - lag(col("day"), 1).over(w))
      .filter(col("gap_days").isNotNull)
    val custTotal = Tables.orders(s, d)
      .select(col("o_custkey")).distinct().agg(count(lit(1)).as("n_cust"))
    gaps.agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("o_custkey")).as("n_repeat_customers"),
        expr("percentile(gap_days, array(0.25e0, 0.5e0, 0.75e0, 0.9e0))").as("p"))
      .crossJoin(broadcast(custTotal))
      .select(col("n_gaps"), col("n_repeat_customers"),
        (floor(col("n_repeat_customers") * lit(10000) / col("n_cust")) / 1e4)
          .as("repeat_rate"),
        col("p")(0).as("p25_days"), col("p")(1).as("p50_days"),
        col("p")(2).as("p75_days"), col("p")(3).as("p90_days"))
  }

  val purchaseIntervalsSql: String =
    """WITH o AS (
         SELECT o_custkey, o_orderkey,
                CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
         FROM orders),
       g AS (
         SELECT o_custkey,
                day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey)
                  AS gap_days
         FROM o),
       c AS (SELECT count(DISTINCT o_custkey) AS n_cust FROM o)
       SELECT count(*) AS n_gaps,
              count(DISTINCT o_custkey) AS n_repeat_customers,
              floor(count(DISTINCT o_custkey) * 10000 / max(c.n_cust)) / 1e4 AS repeat_rate,
              quantile_cont(gap_days, 0.25) AS p25_days,
              quantile_cont(gap_days, 0.5) AS p50_days,
              quantile_cont(gap_days, 0.75) AS p75_days,
              quantile_cont(gap_days, 0.9) AS p90_days
       FROM g CROSS JOIN c WHERE gap_days IS NOT NULL"""

  /** Daily new-vs-returning user split — acquisition vs retention in
    * one curve: a user's first active day comes from one min-agg
    * (users cross the shuffle once, as in `q_cumulative_users`), then
    * each active (user, day) is "new" iff day == first day. Pure
    * integer counts. */
  def newVsReturning: Q = (s, d) => {
    val ud = userDays(s, d)
    val first = ud.groupBy(col("user_id")).agg(min(col("day_nr")).as("first_day"))
    ud.join(first, Seq("user_id"))
      .groupBy(col("day_nr"))
      .agg(count(when(col("day_nr") === col("first_day"), 1)).as("n_new"),
        count(when(col("day_nr") =!= col("first_day"), 1)).as("n_returning"))
      .withColumn("returning_frac",
        floor(col("n_returning") * lit(10000) / (col("n_new") + col("n_returning"))) / 1e4)
  }

  val newVsReturningSql: String =
    """WITH ud AS (
         SELECT DISTINCT user_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day_nr
         FROM events),
       f AS (SELECT user_id, min(day_nr) AS first_day FROM ud GROUP BY 1)
       SELECT ud.day_nr,
              count(*) FILTER (WHERE ud.day_nr = f.first_day) AS n_new,
              count(*) FILTER (WHERE ud.day_nr <> f.first_day) AS n_returning,
              floor(count(*) FILTER (WHERE ud.day_nr <> f.first_day) * 10000
                    / count(*)) / 1e4 AS returning_frac
       FROM ud JOIN f USING (user_id)
       GROUP BY 1 ORDER BY 1"""

  val MauDays = 30

  /** DAU/MAU stickiness — the canonical engagement ratio: daily active
    * users over trailing-30-day active users, per day. DAU is one
    * distinct count; MAU is the `q_sliding_distinct_users`
    * interval decomposition at a 30-day horizon (COUNT(DISTINCT) OVER
    * RANGE without the quadratic explode). Ratio is one floored
    * division of integers. */
  def stickiness: Q = (s, d) => {
    val ud = userDays(s, d)
    val dau = ud.groupBy(col("day_nr")).agg(count(lit(1)).as("dau"))
    trailingDistinctUsers(ud, MauDays, "mau")
      .join(dau, Seq("day_nr"), "left")
      .select(col("day_nr"), coalesce(col("dau"), lit(0L)).as("dau"), col("mau"),
        (floor(coalesce(col("dau"), lit(0L)) * lit(10000) / col("mau")) / 1e4)
          .as("stickiness"))
  }

  val stickinessSql: String = {
    val w = MauDays - 1
    s"""WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day_nr
          FROM events),
        dau AS (SELECT day_nr, count(*) AS dau FROM ud GROUP BY 1),
        isl AS (
          SELECT user_id, island, min(day_nr) AS lo, max(day_nr) + $w AS hi
          FROM (
            SELECT user_id, day_nr,
                   sum(CASE WHEN prev_max IS NULL OR day_nr > prev_max + $w
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY day_nr
                       ROWS UNBOUNDED PRECEDING) AS island
            FROM (SELECT user_id, day_nr,
                         max(day_nr) OVER (PARTITION BY user_id ORDER BY day_nr
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
                  FROM ud))
          GROUP BY user_id, island),
        deltas AS (
          SELECT day_nr, CAST(sum(delta) AS BIGINT) AS delta FROM (
            SELECT lo AS day_nr, 1 AS delta FROM isl
            UNION ALL SELECT hi + 1, -1 FROM isl)
          GROUP BY 1),
        spine AS (
          SELECT unnest(generate_series(min(day_nr), max(day_nr))) AS day_nr FROM ud),
        m AS (
          SELECT s.day_nr,
                 CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY s.day_nr
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mau
          FROM spine s LEFT JOIN deltas d USING (day_nr))
        SELECT m.day_nr, CAST(coalesce(a.dau, 0) AS BIGINT) AS dau, m.mau,
               floor(coalesce(a.dau, 0) * 10000 / m.mau) / 1e4 AS stickiness
        FROM m LEFT JOIN dau a USING (day_nr)
        ORDER BY m.day_nr"""
  }

  // ------------------------------------------------------ Pareto curve

  val ParetoBuckets = 10

  /** Activity concentration (Lorenz/Pareto): users bucketed into
    * deciles of per-user event count, cumulative event share per
    * decile — the "top 10% of users drive X% of traffic" read. Decile
    * BOUNDARIES come from one exact-percentile aggregate broadcast
    * back (same shape as `q_rfm_segments`) — never an `ntile` over the
    * full user set, which is one unpartitioned sort of every account
    * at scale. Bucket 1 is the heaviest decile; ties on n share a
    * bucket, so populations are near- rather than exactly equal — the
    * scale-correct trade. Shares are integers until one floored
    * division, and the cumulative sum is a window over ≤ 10 rows. */
  def paretoShare: Q = (s, d) => {
    val perUser = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val qs = (1 until ParetoBuckets).map(i => s"${i.toDouble / ParetoBuckets}e0")
    // one combined aggregate: decile boundaries + grand total (a single
    // extra pass over the per-user aggregate, broadcast as one row)
    val stats = perUser.agg(
      expr(s"percentile(n, array(${qs.mkString(", ")}))").as("bq"),
      sum(col("n")).as("total"))
    val bucket = (lit(ParetoBuckets) - (0 until ParetoBuckets - 1)
      .map(i => when(col("n") > col("bq")(i), 1).otherwise(0)).reduce(_ + _)).cast("int")
    perUser.crossJoin(broadcast(stats))
      .select(bucket.as("bucket"), col("n"), col("total"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"),
        max(col("total")).as("total"))
      .withColumn("cum_events", sum(col("n_events")).over(
        Window.orderBy(col("bucket")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bucket"), col("n_users"), col("n_events"),
        (floor(col("cum_events") * lit(10000) / col("total")) / 1e4).as("cum_share"))
  }

  val paretoShareSql: String = {
    val qs = (1 until ParetoBuckets).map(i => i.toDouble / ParetoBuckets)
    val terms = (1 until ParetoBuckets).map(i => s"(n > bq[$i])::INT").mkString(" + ")
    s"""WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        bnd AS (SELECT quantile_cont(n, [${qs.mkString(", ")}]) AS bq FROM u),
        r AS (SELECT n, CAST($ParetoBuckets - ($terms) AS INT) AS bucket
              FROM u CROSS JOIN bnd),
        b AS (SELECT bucket, count(*) AS n_users, CAST(sum(n) AS BIGINT) AS n_events
              FROM r GROUP BY 1),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM u)
        SELECT bucket, n_users, n_events,
               floor(CAST(sum(n_events) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) * 10000 / total) / 1e4 AS cum_share
        FROM b CROSS JOIN t
        ORDER BY bucket"""
  }

  // ------------------------------------------------- null-skew join

  /** Outer join with a null-heavy key, rewritten for scale: a LEFT
    * JOIN hashes every row by key, so at 100 TB the null rows — here
    * half the fact table, in real telemetry often most of it — all
    * land on ONE reducer. The rewrite routes null-key rows around the
    * join entirely (they can never match) and unions them back; each
    * side's filter pushes into its scan. The oracle runs the plain
    * LEFT JOIN, so the hash match proves rewrite ≡ naive join. */
  def nullSkewJoin: Q = (s, d) => {
    // fact feeds both the matched branch and the null branch: one cut
    // = one events scan + json extraction, not two
    val fact = graft.Checkpoints.cutLazy(Tables.events(s, d)
      .select(col("event_id"),
        when(get_json_object(col("props"), "$.k").cast("int") < 50,
          get_json_object(col("props"), "$.k").cast("int")).as("k_null"),
        floor(col("value") * 100).cast("long").as("cents")))
    val dim = Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("int").as("page")).distinct()
      .filter(col("page") < 50)
      .select(col("page"), (col("page") % 7).as("page_group"))
    val matched = fact.filter(col("k_null").isNotNull)
      .join(broadcast(dim), col("k_null") === col("page"), "left")
      .select(col("event_id"), col("k_null"), col("page_group"), col("cents"))
    val nulls = fact.filter(col("k_null").isNull)
      .select(col("event_id"), col("k_null"), lit(null).cast("int").as("page_group"),
        col("cents"))
    matched.unionByName(nulls)
  }

  val nullSkewJoinSql: String =
    """WITH fact AS (
         SELECT event_id,
                CASE WHEN json_extract(props, '$.k')::INT < 50
                     THEN json_extract(props, '$.k')::INT END AS k_null,
                CAST(floor(value * 100) AS BIGINT) AS cents
         FROM events),
       dim AS (
         SELECT page, CAST(page % 7 AS INT) AS page_group FROM (
           SELECT DISTINCT json_extract(props, '$.k')::INT AS page FROM events)
         WHERE page < 50)
       SELECT f.event_id, f.k_null, d.page_group, f.cents
       FROM fact f LEFT JOIN dim d ON f.k_null = d.page
       ORDER BY f.event_id"""

  // ------------------------------------------------ chi-square test

  /** Shared contingency frame for the χ² family (this module's
    * chi2Independence AND RankStats.bhFdr): per (event_type, dow) cell
    * the observed count, the three margins, and m = |cells| — one
    * definition so the overflow discipline below can never fork. */
  def chi2CellMargins(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), dayofweek(col("ts")).as("dow"))
      .agg(count(lit(1)).as("o"))
    val wAll = Window.partitionBy()
    cells
      .withColumn("t", sum(col("o")).over(wAll))
      .withColumn("r", sum(col("o")).over(Window.partitionBy(col("event_type"))))
      .withColumn("c", sum(col("o")).over(Window.partitionBy(col("dow"))))
      .withColumn("m", count(lit(1)).over(wAll))
  }

  /** The per-cell χ² term (o·t − r·c)²/(r·c·t) as ONE double sequence,
    * every factor cast to double BEFORE any product — o·t alone exceeds
    * BIGINT range once t ≳ 1e10 (Spark would wrap silently where DuckDB
    * raises), so no intermediate may stay integer. Below 2⁵³ the double
    * products are exact, so both engines agree bit-for-bit at any test
    * scale; above it the terms degrade gracefully instead of wrapping. */
  val chi2TermCol: org.apache.spark.sql.Column = {
    val num = col("o").cast("double") * col("t").cast("double") -
      col("r").cast("double") * col("c").cast("double")
    val den = col("r").cast("double") * col("c").cast("double") * col("t").cast("double")
    num * num / den
  }

  /** Oracle twin of chi2CellMargins: a CTE chain ending in `margins`. */
  val chi2CellMarginsSql: String =
    """cells AS (
         SELECT event_type, CAST(dayofweek(ts) + 1 AS INT) AS dow, count(*) AS o
         FROM events GROUP BY 1, 2),
       margins AS (
         SELECT event_type, dow, o,
                CAST(sum(o) OVER () AS BIGINT) AS t,
                CAST(sum(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
                CAST(sum(o) OVER (PARTITION BY dow) AS BIGINT) AS c,
                count(*) OVER () AS m
         FROM cells)"""

  /** Oracle twin of chi2TermCol. */
  val chi2TermSqlExpr: String =
    """(o::DOUBLE * t::DOUBLE - r::DOUBLE * c::DOUBLE)
       * (o::DOUBLE * t::DOUBLE - r::DOUBLE * c::DOUBLE)
       / (r::DOUBLE * c::DOUBLE * t::DOUBLE)"""

  /** Chi-square independence test (event type × day of week) — "is
    * traffic mix stable across weekdays". Per-cell output, no
    * cross-cell float sum to order; margins come from windows over the
    * |types|×|dows| aggregate — KBs at any scale. */
  def chi2Independence: Q = (s, d) =>
    chi2CellMargins(s, d)
      .select(col("event_type"), col("dow"), col("o"),
        (floor(chi2TermCol * 1e6) / 1e6).as("chi2_term"))

  val chi2IndependenceSql: String =
    s"""WITH $chi2CellMarginsSql
       SELECT event_type, dow, o,
              floor($chi2TermSqlExpr * 1e6) / 1e6 AS chi2_term
       FROM margins ORDER BY event_type, dow"""

  /** Pairwise day-overlap matrix — the return-visit structure behind
    * every retention curve (J(day_a, day_b) = |users active both| /
    * |users active either|): distinct (user, day) pairs self-join on
    * user — fanout is Σ_u d_u² with d_u bounded by the window's day
    * count, never |users|² — then one count per day pair and a
    * broadcast day-size join. Jaccard is one exact integer ratio
    * truncated once. The matrix itself is days²/2 rows: analysis-plane
    * data at any corpus size. */
  def dayOverlap: Q = (s, d) => {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"))
      .distinct()
    val sizes = ud.groupBy(col("day")).agg(count(lit(1)).as("n"))
    val common = ud.join(ud.select(col("user_id"), col("day").as("day_b")), "user_id")
      .filter(col("day") < col("day_b"))
      .groupBy(col("day").as("day_a"), col("day_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(broadcast(sizes.select(col("day").as("day_a"), col("n").as("na"))), "day_a")
      .join(broadcast(sizes.select(col("day").as("day_b"), col("n").as("nb"))), "day_b")
      .select(col("day_a"), col("day_b"), col("n_common"),
        (floor(col("n_common") * lit(10000.0) / (col("na") + col("nb") - col("n_common")))
          / 10000.0).as("jaccard"))
  }

  val dayOverlapSql: String =
    """WITH ud AS (
         SELECT DISTINCT user_id,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day
         FROM events),
       sizes AS (SELECT day, count(*) AS n FROM ud GROUP BY day),
       common AS (
         SELECT a.day AS day_a, b.day AS day_b, count(*) AS n_common
         FROM ud a JOIN ud b ON a.user_id = b.user_id AND a.day < b.day
         GROUP BY 1, 2)
       SELECT c.day_a, c.day_b, c.n_common,
              floor(c.n_common * 1e4 / (sa.n + sb.n - c.n_common)) / 1e4 AS jaccard
       FROM common c
       JOIN sizes sa ON sa.day = c.day_a
       JOIN sizes sb ON sb.day = c.day_b
       ORDER BY c.day_a, c.day_b"""

  /** Audience overlap between every pair of event types: the
    * "do clickers also sign up" read — Jaccard and overlap
    * coefficient of the two user SETS (complementing
    * `events_day_overlap`'s temporal overlap and `events_cooccur_pmi`'s
    * context counts). One distinct (type, user) aggregation, then a
    * user-keyed self-join bounded by |types| per user; per-type
    * totals broadcast back onto the |types|² pair table. All counts
    * exact; two floored divisions per pair. */
  def audienceOverlap: Q = (s, d) => {
    val tu = Tables.events(s, d).select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        (floor(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")).cast("double") * 1e4) / 1e4)
          .as("jaccard"),
        (floor(col("n_both").cast("double")
          / least(col("n_a"), col("n_b")).cast("double") * 1e4) / 1e4)
          .as("overlap_coef"))
  }

  val audienceOverlapSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
       sizes AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
       pairs AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
         FROM tu a JOIN tu b
           ON b.user_id = a.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2)
       SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
              floor(CAST(n_both AS DOUBLE)
                    / CAST(sa.n + sb.n - n_both AS DOUBLE) * 1e4) / 1e4 AS jaccard,
              floor(CAST(n_both AS DOUBLE)
                    / CAST(least(sa.n, sb.n) AS DOUBLE) * 1e4) / 1e4 AS overlap_coef
       FROM pairs JOIN sizes sa ON sa.event_type = type_a
                  JOIN sizes sb ON sb.event_type = type_b
       ORDER BY type_a, type_b"""

  /** Power-law exponent of the user-activity distribution — the
    * heavy-tail check behind capacity planning and bot triage (is
    * activity Zipf-like, and how steep?): events-per-user counts
    * collapse to the bounded (activity-level k, #users) histogram,
    * and the slope comes from OLS of ln(n_k) on ln(k). Because ln
    * outputs are irrational, the five OLS sums CANNOT ride a
    * relational float aggregate (partial-merge order varies with
    * partitioning) — they fold in FIXED ascending-k order over the
    * sorted histogram array (the `metrics_smooth_ewma` discipline),
    * so every addition is one identical IEEE sequence and the oracle
    * replays it with a recursive CTE. Corpus cost: one groupBy(user)
    * + one groupBy(k); the fold runs on the bounded level set. */
  def powerLawFit: Q = (s, d) => {
    val hist = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_k"))
    hist.agg(sort_array(collect_list(struct(col("k"), col("n_k")))).as("seq"))
      .withColumn("a", expr(
        """aggregate(seq,
             named_struct('n', 0L, 'sx', 0.0e0, 'sy', 0.0e0,
                          'sxy', 0.0e0, 'sxx', 0.0e0),
             (a, p) -> named_struct(
               'n', a.n + 1L,
               'sx', a.sx + ln(cast(p.k as double)),
               'sy', a.sy + ln(cast(p.n_k as double)),
               'sxy', a.sxy + ln(cast(p.k as double)) * ln(cast(p.n_k as double)),
               'sxx', a.sxx + ln(cast(p.k as double)) * ln(cast(p.k as double))))"""))
      .selectExpr("a.n as n_levels",
        """floor((cast(a.n as double) * a.sxy - a.sx * a.sy)
             / (cast(a.n as double) * a.sxx - a.sx * a.sx) * 1e4) / 1e4 as slope""",
        """floor((a.sy - (cast(a.n as double) * a.sxy - a.sx * a.sy)
               / (cast(a.n as double) * a.sxx - a.sx * a.sx) * a.sx)
             / cast(a.n as double) * 1e4) / 1e4 as intercept""")
  }

  val powerLawFitSql: String =
    """WITH RECURSIVE pk AS (SELECT user_id, count(*) AS k FROM events GROUP BY 1),
       hist AS (SELECT k, count(*) AS n_k FROM pk GROUP BY 1),
       idx AS (SELECT k, n_k, row_number() OVER (ORDER BY k) AS rn FROM hist),
       rec AS (
         SELECT rn, CAST(1 AS BIGINT) AS n,
                ln(CAST(k AS DOUBLE)) AS sx, ln(CAST(n_k AS DOUBLE)) AS sy,
                ln(CAST(k AS DOUBLE)) * ln(CAST(n_k AS DOUBLE)) AS sxy,
                ln(CAST(k AS DOUBLE)) * ln(CAST(k AS DOUBLE)) AS sxx
         FROM idx WHERE rn = 1
         UNION ALL
         SELECT i.rn, rec.n + 1,
                rec.sx + ln(CAST(i.k AS DOUBLE)),
                rec.sy + ln(CAST(i.n_k AS DOUBLE)),
                rec.sxy + ln(CAST(i.k AS DOUBLE)) * ln(CAST(i.n_k AS DOUBLE)),
                rec.sxx + ln(CAST(i.k AS DOUBLE)) * ln(CAST(i.k AS DOUBLE))
         FROM idx i JOIN rec ON i.rn = rec.rn + 1),
       last AS (SELECT * FROM rec ORDER BY rn DESC LIMIT 1)
       SELECT n AS n_levels,
              floor((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx) * 1e4) / 1e4 AS slope,
              floor((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                    / CAST(n AS DOUBLE) * 1e4) / 1e4 AS intercept
       FROM last"""

  // -------------------------------------- audience overlap, sketched

  /** MinHash seeds. 64 gives σ ≈ √(J(1−J)/64) ≤ 0.063 — segment-triage
    * accuracy at 1/|audience| of the exact join's state. */
  val AmhSeeds = 64

  /** The SKETCH path for `events_audience_overlap`: estimate pairwise
    * audience Jaccard from k=64 classic MinHash signatures instead of
    * the exact distinct-user self-join. Per audience the state is 64
    * longs REGARDLESS of corpus size — at 100 TB the exact path's
    * user-level equi-join shuffles the whole distinct (type, user) set,
    * while this shuffles |types| × 64 rows; signatures are mergeable
    * (min is abelian), so map-side combine does almost all the work.
    * The exact Jaccard rides along as the measured-error ledger (the
    * `ann_recall_eval` discipline): at production scale you'd ship only
    * the signature columns. Hash = md5-derived 60-bit integers shared
    * textually with the oracle (the repo-wide cross-engine idiom). */
  def audienceMinhash: Q = (s, d) => {
    // high-value audiences (any event ≥ 150): partial overlaps, so the
    // estimate has something real to estimate — unfiltered audiences
    // are identical here (every user touches every type).
    // localCheckpoint: the distinct audience set feeds FIVE consumers
    // (two signature sides, two exact sides, sizes) — materialize the
    // one filter-pushed scan + distinct once instead of 6 corpus reads
    // (the dedup_lsh_tuning shared-table discipline).
    val tu = Tables.events(s, d).filter(col("value") >= 150)
      .select(col("event_type"), col("user_id")).distinct()
      .transform(graft.Checkpoints.cutLazy)
    val sig = tu
      .withColumn("seed", explode(sequence(lit(0), lit(AmhSeeds - 1))))
      .withColumn("h", conv(substring(md5(concat(lit("amh:"),
        col("seed").cast("string"), lit(":"), col("user_id").cast("string"))),
        1, 15), 16, 10).cast("long"))
      .groupBy(col("event_type"), col("seed"))
      .agg(min(col("h")).as("mh"))
    val est = sig.select(col("event_type").as("type_a"), col("seed"), col("mh").as("mh_a"))
      .join(sig.select(col("event_type").as("type_b"), col("seed"), col("mh").as("mh_b")),
        "seed")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).as("n_match"))
      .withColumn("est_jaccard",
        floor(col("n_match").cast("double") / AmhSeeds * 1e4) / 1e4)
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val exact = tu.select(col("event_type").as("type_a"), col("user_id"))
      .join(tu.select(col("event_type").as("type_b"), col("user_id")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        "type_b")
      .select(col("type_a"), col("type_b"),
        (floor(col("n_both").cast("double")
          / (col("n_a") + col("n_b") - col("n_both")).cast("double") * 1e4) / 1e4)
          .as("jaccard_exact"))
    // LEFT join: a pair with zero true overlap has no exact row — but
    // that's exactly where MinHash false positives live, so the error
    // ledger must keep it (exact Jaccard = 0)
    est.join(exact, Seq("type_a", "type_b"), "left")
      .withColumn("jaccard_exact", coalesce(col("jaccard_exact"), lit(0.0)))
      .select(col("type_a"), col("type_b"), col("n_match"),
        col("est_jaccard"), col("jaccard_exact"),
        (floor(abs(col("est_jaccard") - col("jaccard_exact")) * 1e4) / 1e4)
          .as("abs_err"))
  }

  val audienceMinhashSql: String =
    s"""WITH tu AS (SELECT DISTINCT event_type, user_id FROM events WHERE value >= 150),
       seeds AS (SELECT unnest(range($AmhSeeds)) AS seed),
       sig AS (
         SELECT event_type, seed,
                min(('0x' || substring(md5('amh:' || CAST(seed AS VARCHAR) || ':'
                     || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT) AS mh
         FROM tu, seeds GROUP BY 1, 2),
       est AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         FROM sig a JOIN sig b ON b.seed = a.seed AND a.event_type < b.event_type
         GROUP BY 1, 2),
       sizes AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
       pairs AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
         FROM tu a JOIN tu b
           ON b.user_id = a.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2),
       ex AS (
         SELECT type_a, type_b,
                floor(CAST(n_both AS DOUBLE)
                      / CAST(sa.n + sb.n - n_both AS DOUBLE) * 1e4) / 1e4 AS jaccard_exact
         FROM pairs JOIN sizes sa ON sa.event_type = type_a
                    JOIN sizes sb ON sb.event_type = type_b),
       j AS (
         SELECT est.type_a, est.type_b, n_match,
                floor(CAST(n_match AS DOUBLE) / $AmhSeeds * 1e4) / 1e4 AS est_jaccard,
                COALESCE(jaccard_exact, 0.0) AS jaccard_exact
         FROM est LEFT JOIN ex ON ex.type_a = est.type_a AND ex.type_b = est.type_b)
       SELECT type_a, type_b, n_match, est_jaccard, jaccard_exact,
              floor(abs(est_jaccard - jaccard_exact) * 1e4) / 1e4 AS abs_err
       FROM j ORDER BY type_a, type_b"""

  // ------------------------------------------------ Markov entropy rate

  /** Entropy rate of the user-journey Markov chain — how PREDICTABLE
    * the next event is (the information-theoretic summary a
    * personalization team reads off the `events_transition_matrix`):
    * per from-state the conditional entropy H_i = −Σⱼ p_ij·ln p_ij,
    * then the chain rate as the empirical-frequency-weighted mean.
    * Float discipline (the Cramér/mix_kl contract): every ln is one
    * IEEE op over an exact integer ratio, each (i,j) term floors to
    * the 1e-6 grid FIRST, so per-state sums and the weighted rate are
    * exact integer arithmetic (decimal-widened) — no cross-cell float
    * summation order to diverge on. Cell table is |types|² — value
    * domain, not corpus. */
  def entropyRate: Q = (s, d) => {
    val perI = transitionCounts(s, d)
      .withColumn("row_total", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("term_x1e6",
        floor(col("n").cast("double") / col("row_total").cast("double")
          * log(col("row_total").cast("double") / col("n").cast("double")) * 1e6)
          .cast("long"))
      .groupBy(col("from_type"))
      .agg(max(col("row_total")).as("n_from"), sum(col("term_x1e6")).as("h_x1e6"))
    perI
      .withColumn("entropy_rate_x1e6",
        expr("cast(sum(cast(n_from as decimal(38,0)) * h_x1e6) over () div sum(n_from) over () as bigint)"))
      .select(col("from_type"), col("n_from"), col("h_x1e6"),
        col("entropy_rate_x1e6"))
  }

  val entropyRateSql: String =
    """WITH steps AS (
         SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS from_type,
                event_type AS to_type
         FROM events),
       c AS (SELECT from_type, to_type, count(*) AS n FROM steps
             WHERE from_type IS NOT NULL GROUP BY 1, 2),
       t AS (
         SELECT from_type, n,
                sum(n) OVER (PARTITION BY from_type) AS row_total
         FROM c),
       terms AS (
         SELECT from_type, row_total,
                CAST(floor(n::DOUBLE / row_total::DOUBLE
                  * ln(row_total::DOUBLE / n::DOUBLE) * 1e6) AS BIGINT)
                  AS term_x1e6
         FROM t),
       peri AS (
         SELECT from_type, CAST(max(row_total) AS BIGINT) AS n_from,
                CAST(sum(term_x1e6) AS BIGINT) AS h_x1e6
         FROM terms GROUP BY from_type)
       SELECT from_type, n_from, h_x1e6,
              CAST(sum(CAST(n_from AS HUGEINT) * h_x1e6) OVER ()
                // sum(n_from) OVER () AS BIGINT) AS entropy_rate_x1e6
       FROM peri ORDER BY from_type"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("events_entropy_rate", entropyRate, Some(entropyRateSql)),
    ("events_power_law_fit", powerLawFit, Some(powerLawFitSql)),
    ("events_audience_overlap", audienceOverlap, Some(audienceOverlapSql)),
    ("events_audience_minhash", audienceMinhash, Some(audienceMinhashSql)),
    ("events_day_overlap", dayOverlap, Some(dayOverlapSql)),
    ("q_null_skew_join", nullSkewJoin, Some(nullSkewJoinSql)),
    ("q_chi2_independence", chi2Independence, Some(chi2IndependenceSql)),
    ("q_sliding_distinct_users", slidingDistinctUsers, Some(slidingDistinctUsersSql)),
    ("events_pareto_share", paretoShare, Some(paretoShareSql)),
    ("events_stickiness", stickiness, Some(stickinessSql)),
    ("events_new_vs_returning", newVsReturning, Some(newVsReturningSql)),
    ("q_purchase_intervals", purchaseIntervals, Some(purchaseIntervalsSql)),
    ("events_bot_score", botScore, Some(botScoreSql)),
    ("q_weighted_percentile", weightedPercentile, Some(weightedPercentileSql)),
    ("q_time_to_convert", timeToConvert, Some(timeToConvertSql)),
    ("q_interval_coverage", intervalCoverage, Some(intervalCoverageSql)),
    ("q_basket_pairs", basketPairs, Some(basketPairsSql)),
    ("events_markov_steady", markovSteady, Some(markovSteadySql)),
    ("events_transition_matrix", transitionMatrix, Some(transitionMatrixSql)),
    ("q_rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    ("cohort_rfm_migration", rfmMigration, Some(rfmMigrationSql)),
    ("q_concurrency", concurrency, Some(concurrencySql)),
    ("q_equidepth_histogram", equidepthHistogram, Some(equidepthHistogramSql)),
    ("graph_node_similarity", nodeSimilarity, Some(nodeSimilaritySql)))
}
