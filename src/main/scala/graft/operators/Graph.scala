package graft.operators

import graft.Checkpoints.cut
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames — PageRank over the
  * bipartite customer↔supplier trade graph (who transacts with whom,
  * from orders⋈lineitem). Complements `dedup_cluster`'s connected
  * components: that one converges a labeling, this one iterates a
  * fixed-point score.
  *
  * Scale design (100 TB): the Pregel-on-DataFrame shape — each of the
  * 10 iterations is ONE shuffle join (ranks ⋈ edges on src) + ONE
  * aggregation (sum of contributions per dst), with `Checkpoints.cut`
  * (localCheckpoint, or reliable `checkpoint` under the opt-in
  * `spark.graft.reliableCheckpoints` flag for clusters that must
  * survive executor loss mid-loop) cutting lineage every SECOND round —
  * two joined rounds per materialization halves the eager-job count
  * without letting the plan grow with total iteration count. No
  * driver-side graph state: the only driver values are the node count
  * and the loop counter. Edge and rank partitioning reuse the same
  * key, so AQE coalesces and skew-splits per round.
  *
  * Cross-engine determinism is the interesting part: float PageRank is
  * NOT portable (per-dst summation order differs), so ranks live in
  * INTEGER micro-units (BASE = 1e12 spread over N nodes) and every
  * step is integer arithmetic — contribution = r DIV outdeg, damping =
  * (85·Σ) DIV 100, teleport = (15·(BASE DIV N)) DIV 100. Integer sums
  * are order-independent, so the oracle (the same 10 iterations
  * unrolled as plain SQL CTEs) matches bit-for-bit. The truncation is
  * part of the operator's declared contract.
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  private val Base = 1000000000000L // 1e12 rank micro-units
  private val Iters = 10

  /** Node-count ceiling for broadcasting the rank/frontier table into
    * the per-round edge join (~50 bytes/row → ≤ ~100 MB broadcast).
    * Above it the loop reverts to the shuffle join on the
    * co-partitioned key — the right plan for cluster-scale graphs. */
  private val RankBroadcastMax = 2000000L

  /** Row-count ceiling for broadcasting the slim (orderkey, custkey)
    * projection into the edge build (~16 bytes/row → ≤ ~160 MB). The
    * alternative is shuffling/sorting the MUCH larger lineitem side:
    * the r15 sf3 probe measured the edge build at 14.8 s shuffle-join
    * vs 8.6 s with the dimension broadcast. Past the ceiling
    * (cluster-scale order counts) the build reverts to the shuffle
    * equi-join. */
  private val OrdersBroadcastMax = 10000000L

  /** The trade graph's distinct (customer, supplier) pairs, projected
    * by `c` and `sup` over o_custkey and l_suppkey, cut once. The slim
    * (orderkey, custkey) projection broadcasts into the lineitem scan
    * while its count (parquet stats, one cheap job) fits. */
  private def tradePairs(sp: SparkSession, d: String, c: Column, sup: Column): DataFrame = {
    val ordKeys = Tables.orders(sp, d).select(col("o_orderkey"), col("o_custkey"))
    val ordSide =
      if (ordKeys.count() <= OrdersBroadcastMax) broadcast(ordKeys) else ordKeys
    cut(Tables.lineitem(sp, d)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(ordSide, col("l_orderkey") === col("o_orderkey"))
      .select(c, sup)
      .distinct())
  }

  /** [[tradePairs]] keyed by the raw customer and supplier keys. */
  private def custSuppPairs(sp: SparkSession, d: String): DataFrame =
    tradePairs(sp, d, col("o_custkey").as("c"), col("l_suppkey").as("sup"))

  def pagerank: Q = (sp, d) => {
    // Loop state is keyed by LONG node ids (customer c → 2·custkey,
    // supplier s → 2·suppkey+1), rendered to the public string ids only
    // at output: 10 rounds of joins and aggregations over integer keys
    // hash, compare and shuffle several times cheaper than 10-char
    // string keys, and the rendered set is identical (the id map is a
    // bijection), so the unrolled-SQL oracle keeps its string form.
    val pairsL = tradePairs(sp, d, (col("o_custkey").cast("long") * 2).as("c"),
      (col("l_suppkey").cast("long") * 2 + 1).as("sup"))
    val e = pairsL.select(col("c").as("src"), col("sup").as("dst"))
      .unionByName(pairsL.select(col("sup").as("src"), col("c").as("dst")))
    // distinct column names end-to-end: deg derives from e, so reusing
    // `src` would make the deg join self-referential (ambiguous refs)
    val deg = cut(e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .withColumnRenamed("src", "dnode"))
    val n = deg.count() // every node in this graph has an out-edge
    val r0 = if (n == 0) 0L else Base / n // an empty graph ranks no node
    val teleport = (15L * r0) / 100L
    // Round shape (the r15 rework of the r14 38.8 s sf3 reading —
    // measured phase-by-phase: the old pre-joined eDeg table cost
    // 10.7 s of 35M-row materialization that the loop never needed):
    //  - outdeg rides IN the rank state (node-sized), so the edge list
    //    is the raw (src, dst) union straight off the pairsL
    //    checkpoint blocks — no second edge-sized build, no
    //    degree-widened shuffle;
    //  - every node's zero row is UNIONed into the contribution
    //    aggregate instead of left-joining a nodes table afterwards —
    //    one shuffle per round, no second per-round broadcast, and the
    //    union row carries the dst's outdeg into the next round's
    //    state (max() picks it up; contributions carry null);
    //  - the rank table broadcasts into the edge scan when the node
    //    count fits (known exactly: n was just counted — the cuts
    //    erase stats, so AQE can never discover this on its own). Past
    //    the threshold the loop reverts to a shuffle join against an
    //    edge list hash-partitioned ONCE on the join key
    //    (localCheckpoint preserves outputPartitioning, so only the
    //    node-sized rank side moves per round).
    // Per-round wall time is scheduler latency, not data volume — so
    // every round's frontier gets a LAZY plan cut (per-round Catalyst
    // plans stay flat, materialization rides the one final action; the
    // reliable-checkpoint flag restores eager mid-loop recoverability).
    val useBroadcast = n <= RankBroadcastMax
    val edgeTab =
      if (useBroadcast) e
      else cut(e.repartition(col("src")))
    def small(df: DataFrame): DataFrame = if (useBroadcast) broadcast(df) else df
    var ranks = deg.select(col("dnode").as("node"), col("outdeg"), lit(r0).as("r"))
    for (i <- 1 to Iters) {
      val contrib = edgeTab
        .join(small(ranks), col("src") === col("node"))
        .select(col("dst"), lit(null).cast("long").as("odeg"),
          expr("r DIV outdeg").as("cb")) // integer div: Spark DIV == DuckDB //
        .unionByName(deg.select(col("dnode").as("dst"),
          col("outdeg").as("odeg"), lit(0L).as("cb")))
        .groupBy(col("dst"))
        .agg(sum(col("cb")).as("s"), max(col("odeg")).as("outdeg"))
      ranks = graft.Checkpoints.cutLazy(
        contrib.select(col("dst").as("node"), col("outdeg"),
          expr(s"$teleport + ((85 * s) DIV 100)").as("r")))
    }
    ranks
      .select(expr(
        "CASE WHEN node % 2 = 0 THEN concat('c', CAST(node DIV 2 AS STRING)) " +
          "ELSE concat('s', CAST(node DIV 2 AS STRING)) END").as("node"),
        col("r"))
  }

  /** The same computation as plain SQL: 10 unrolled CTE iterations. */
  val pagerankSql: String = {
    val prologue =
      s"""WITH pairs AS (
           SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                  's' || CAST(l_suppkey AS VARCHAR) AS sup
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         e AS (SELECT c AS src, sup AS dst FROM pairs
               UNION ALL SELECT sup AS src, c AS dst FROM pairs),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         consts AS (SELECT $Base // count(*) AS r0 FROM deg),
         r0 AS (SELECT d.src AS node, c.r0 AS r FROM deg d, consts c)"""
    val iters = (1 to Iters).map { i =>
      s"""r$i AS (
           SELECT p.node,
                  (15 * c.r0) // 100
                    + (85 * coalesce(s.s, 0)) // 100 AS r
           FROM (SELECT node FROM r0) p
           LEFT JOIN (
             SELECT e.dst AS node, CAST(sum(pr.r // dg.outdeg) AS BIGINT) AS s
             FROM r${i - 1} pr
             JOIN e ON pr.node = e.src
             JOIN deg dg ON pr.node = dg.src
             GROUP BY e.dst) s ON p.node = s.node
           CROSS JOIN consts c)"""
    }
    (Seq(prologue) ++ iters).mkString(",\n") +
      s"\nSELECT node, r FROM r$Iters ORDER BY node"
  }

  /** Degree distribution of the trade graph — the first profiling read
    * on any graph (skew detection before choosing a partitioning): two
    * integer aggregations (node degree, then degree histogram). The
    * second groupBy runs over ≤ |distinct degrees| rows. Engine-exact.
    *
    * r16 shape (was: the string-keyed `edges()` union): the histogram
    * never emits node NAMES, so the 'c'/'s' string ids are pure
    * overhead — and customer/supplier namespaces are disjoint, so the
    * both-directions union is just (customer degrees) ∪ (supplier
    * degrees) of ONE distinct integer pair table. Same
    * dimension-broadcast edge build as pagerank/hits (the slim orders
    * projection ships to the lineitem scan when it fits), the pair
    * table cut once and aggregated per side — halves the first
    * aggregate's input vs the doubled edge list and drops every string
    * concat/hash (guide §2.3: narrower keys, fewer bytes). */
  def degreeHistogram: Q = (s, d) => {
    val pairs = custSuppPairs(s, d)
    pairs.groupBy(col("c")).agg(count(lit(1)).as("degree")).select(col("degree"))
      .unionByName(
        pairs.groupBy(col("sup")).agg(count(lit(1)).as("degree")).select(col("degree")))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  val degreeHistogramSql: String =
    """WITH pairs AS (
         SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS sup
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       e AS (
         SELECT c AS src, sup AS dst FROM pairs
         UNION ALL
         SELECT sup AS src, c AS dst FROM pairs),
       deg AS (SELECT src, count(*) AS degree FROM e GROUP BY src)
       SELECT degree, count(*) AS n_nodes
       FROM deg GROUP BY degree ORDER BY degree"""

  /** Undirected page-similarity edges: the top-100 co-visitation pairs
    * from `graph_node_similarity`, both directions — a small derived
    * graph whose construction is itself oracle-proven. */
  private def pageEdges(s: SparkSession, d: String): DataFrame = {
    val pairs = Affinity.nodeSimilarity(s, d)
      .select(col("page_a").cast("long").as("a"), col("page_b").cast("long").as("b"))
    pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The same edge set in SQL, for the unrolled oracles. */
  private val pageEdgesCte: String =
    s"""sim AS (${graft.operators.Affinity.nodeSimilaritySql.replace("ORDER BY rk", "")}),
        e AS (SELECT CAST(page_a AS BIGINT) AS src, CAST(page_b AS BIGINT) AS dst FROM sim
              UNION ALL
              SELECT CAST(page_b AS BIGINT), CAST(page_a AS BIGINT) FROM sim)"""

  val LpaRounds = 5

  /** Synchronous label propagation communities (Raghavan 2007) over
    * the page-similarity graph: labels start as node ids; each round
    * every node adopts the most frequent label among its neighbors
    * (tie → smallest label — `max(struct(cnt, −label))` makes the
    * argmax total and engine-exact). Pregel-on-DataFrame like
    * `graph_pagerank`: each round is ONE join + TWO aggregations on
    * the node key, `Checkpoints.cut` cuts lineage every second round;
    * all integers. The oracle unrolls the same 5 rounds as plain
    * CTEs. */
  /** The LPA label fold, shared by `graph_communities_lpa` (which
    * emits the labels) and `graph_modularity` (which scores them). */
  private def lpaLabels(e: DataFrame): DataFrame = {
    var labels = e.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
    for (i <- 1 to LpaRounds) {
      labels = labels
        .join(e, col("node") === col("src"))
        .groupBy(col("dst"), col("lab")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst")).agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("lab"))
      // EAGER on purpose (r15 A/B: lazy measured 1.08x): the converged
      // labels are read by up to three downstream branches (modularity),
      // and a lazy cut lets those branches race-compute the same blocks
      if (i % 2 == 0 || i == LpaRounds) labels = cut(labels)
    }
    labels
  }

  def communitiesLpa: Q = (sp, d) => {
    val e = cut(pageEdges(sp, d))
    val labels = lpaLabels(e)
    val sizes = labels.groupBy(col("lab")).agg(count(lit(1)).as("community_size"))
    labels.join(broadcast(sizes), Seq("lab"))
      .select(col("node").as("page"), col("lab").as("community"), col("community_size"))
  }

  /** The unrolled LPA rounds as CTEs (l0..l5), shared by the two
    * oracles that need the converged labels. */
  private val lpaCteChain: String = {
    val clean = (1 to LpaRounds).map { i =>
      s"""l$i AS (
            SELECT dst AS node, -(max({'c': cnt, 'nl': -lab})).nl AS lab
            FROM (SELECT e.dst, l.lab, count(*) AS cnt
                  FROM l${i - 1} l JOIN e ON l.node = e.src
                  GROUP BY e.dst, l.lab)
            GROUP BY dst)"""
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
        $clean"""
  }

  val communitiesLpaSql: String =
    s"""WITH $pageEdgesCte,
        $lpaCteChain,
        sizes AS (SELECT lab, count(*) AS community_size FROM l$LpaRounds GROUP BY lab)
        SELECT l.node AS page, l.lab AS community, s.community_size
        FROM l$LpaRounds l JOIN sizes s USING (lab)
        ORDER BY page"""

  /** Newman modularity of the LPA partition, decomposed per
    * community: with E2 the directed-double edge list (|E2| = 2m),
    * each community contributes intra_c/|E2| − (deg_c/|E2|)². Every
    * count is exact (the only floats are two divisions and one
    * product per community row, display-floored at 1e6), and the
    * total is left to the reader rather than emitted as an
    * order-dependent float sum. Costs one degree aggregation + two
    * label joins over the edge list — no new shuffle shape beyond
    * what LPA itself runs. */
  def modularity: Q = (sp, d) => {
    val e = cut(pageEdges(sp, d))
    val labels = lpaLabels(e)
    val deg = e.groupBy(col("src").as("dnode")).agg(count(lit(1)).as("deg"))
    val nd = labels.join(deg, col("node") === col("dnode"))
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val ls = labels.select(col("node").as("sn"), col("lab").as("sl"))
    val ld = labels.select(col("node").as("dn"), col("lab").as("dl"))
    val intra = e.join(ls, col("src") === col("sn"))
      .join(ld, col("dst") === col("dn"))
      .filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("community")).agg(count(lit(1)).as("intra_edges"))
    val tot = e.agg(count(lit(1)).as("e2"))
    nd.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("intra_edges"))
      .crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("degree_sum"), col("intra_edges"),
        (floor((col("intra_edges").cast("double") / col("e2").cast("double")
          - (col("degree_sum").cast("double") / col("e2").cast("double"))
            * (col("degree_sum").cast("double") / col("e2").cast("double"))) * 1e6) / 1e6)
          .as("q_contrib"))
  }

  val modularitySql: String =
    s"""WITH $pageEdgesCte,
        $lpaCteChain,
        deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        nd AS (
          SELECT l.lab AS community, count(*) AS n_nodes,
                 CAST(sum(deg) AS BIGINT) AS degree_sum
          FROM l$LpaRounds l JOIN deg d ON l.node = d.node GROUP BY 1),
        intra AS (
          SELECT ls.lab AS community, count(*) AS intra_edges
          FROM e JOIN l$LpaRounds ls ON e.src = ls.node
                 JOIN l$LpaRounds ld ON e.dst = ld.node
          WHERE ls.lab = ld.lab GROUP BY 1),
        tot AS (SELECT count(*) AS e2 FROM e),
        j AS (
          SELECT community, n_nodes, degree_sum,
                 COALESCE(intra_edges, 0) AS intra_edges, e2
          FROM nd LEFT JOIN intra USING (community), tot)
        SELECT community, n_nodes, degree_sum, intra_edges,
               floor((CAST(intra_edges AS DOUBLE) / CAST(e2 AS DOUBLE)
                      - (CAST(degree_sum AS DOUBLE) / CAST(e2 AS DOUBLE))
                        * (CAST(degree_sum AS DOUBLE) / CAST(e2 AS DOUBLE))) * 1e6) / 1e6
                 AS q_contrib
        FROM j ORDER BY community"""

  val BfsMaxHops = 6

  /** Single-source BFS shortest paths (≤ 6 hops) from the graph's
    * smallest node id — frontier expansion as iterative DataFrame
    * joins with a min-dist fold per round (dedup keeps the frontier
    * ≤ |nodes|, so rounds cost one join + one agg each regardless of
    * path multiplicity). The oracle enumerates bounded walks with a
    * recursive CTE and takes min(hops) — path-explosion is fine at
    * oracle scale and proves the iterative fold equals the textbook
    * definition. */
  def bfsDistance: Q = (sp, d) => {
    val e = cut(pageEdges(sp, d))
    val src0 = e.agg(min(col("src")).as("s")).head.getLong(0)
    var dist = e.sparkSession.range(1).select(lit(src0).as("node"), lit(0L).as("dist"))
    for (i <- 1 to BfsMaxHops) {
      val next = dist.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      dist = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % 2 == 0 || i == BfsMaxHops) dist = cut(dist)
    }
    dist
  }

  val bfsDistanceSql: String =
    s"""WITH RECURSIVE $pageEdgesCte,
        s0 AS (SELECT min(src) AS s FROM e),
        walk AS (
          SELECT s AS node, CAST(0 AS BIGINT) AS d FROM s0
          UNION ALL
          SELECT e.dst, walk.d + 1
          FROM walk JOIN e ON e.src = walk.node
          WHERE walk.d < $BfsMaxHops)
        SELECT node, CAST(min(d) AS BIGINT) AS dist
        FROM walk GROUP BY node ORDER BY node"""

  /** Per-node triangle counts on the page-similarity graph — the
    * local-clustering read (a node in many triangles sits inside a
    * tight community; bridges sit in none). Edge-orientation algorithm:
    * orient every undirected edge low→high id, build wedges by joining
    * oriented edges head-to-tail, close each wedge with a third
    * equi-join — all hash joins, total work Σ out-deg², never |V|².
    * (Production orients by (degree, id) so hubs get low out-degree,
    * bounding wedge fanout by √|E| per node; id-orientation is the
    * same plan shape.) Counting is one explode + integer aggregation.
    * The oracle states the same three-way join declaratively. */
  def triangleCount: Q = (sp, d) => {
    val uv = cut(pageEdges(sp, d).filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b")).distinct())
    val wedges = uv.join(uv.toDF("b", "c"), "b")
    val tri = wedges.join(uv.toDF("a", "c"), Seq("a", "c"))
      .select(col("a"), col("b"), col("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("page"))
      .groupBy(col("page")).agg(count(lit(1)).as("n_triangles"))
  }

  val triangleCountSql: String =
    s"""WITH $pageEdgesCte,
        uv AS (SELECT DISTINCT src AS a, dst AS b FROM e WHERE src < dst),
        tri AS (
          SELECT u1.a, u1.b, u2.b AS c
          FROM uv u1
          JOIN uv u2 ON u2.a = u1.b
          JOIN uv u3 ON u3.a = u1.a AND u3.b = u2.b),
        nodes AS (
          SELECT a AS page FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        SELECT page, count(*) AS n_triangles
        FROM nodes GROUP BY page ORDER BY page"""

  val KCoreK = 2
  val KCoreRounds = 4

  /** K-core peel (bounded rounds) — the community-strength filter
    * (nodes that survive repeated removal of degree-<k vertices form
    * the graph's cohesive core; spam/bridge nodes peel off first).
    * Each round is one degree aggregation + two ANTI-joins against the
    * REMOVED set (degree < k) — the complement of the survivor
    * semi-join, valid because `pageEdges` is symmetrized so every
    * endpoint owns a degree row. The removed set collapses after the
    * first peel (and is always ≤ |V|, never |E|), so AQE turns both
    * endpoint checks into broadcast joins: the edge set is shuffled
    * once per round (the degree count), not three times. Pregel-shaped
    * like LPA, `Checkpoints.cut` per round. The contract is the
    * R-ROUND peel, not the fixpoint: deterministic at any scale, and
    * the oracle unrolls the same R rounds as CTEs. */
  def kcore: Q = (sp, d) => {
    var e = cut(pageEdges(sp, d))
    for (i <- 1 to KCoreRounds) {
      // bad feeds BOTH anti-joins: a lazy cut computes the degree
      // aggregate once per round, not twice; the per-2-round edge cut
      // is lazy too — the loop has no convergence read, so nothing
      // needs an eager blocking job (materialization rides the final
      // action; plans stay flat either way)
      val bad = graft.Checkpoints.cutLazy(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") < KCoreK).select(col("src").as("bad")))
      e = e.join(bad, col("src") === col("bad"), "left_anti")
        .join(bad, col("dst") === col("bad"), "left_anti")
      if (i % 2 == 0 || i == KCoreRounds) e = graft.Checkpoints.cutLazy(e)
    }
    e.groupBy(col("src").as("page")).agg(count(lit(1)).as("core_degree"))
  }

  val kcoreSql: String = {
    val rounds = (1 to KCoreRounds).map { i =>
      s"""k$i AS (SELECT src FROM (SELECT src, count(*) AS deg FROM e${i - 1}
                  GROUP BY src) t WHERE deg >= $KCoreK),
          e$i AS (SELECT x.src, x.dst FROM e${i - 1} x
                  JOIN k$i a ON x.src = a.src JOIN k$i b ON x.dst = b.src)"""
    }.mkString(",\n")
    s"""WITH $pageEdgesCte,
        e0 AS (SELECT src, dst FROM e),
        $rounds
        SELECT src AS page, count(*) AS core_degree
        FROM e$KCoreRounds GROUP BY src ORDER BY page"""
  }

  /** Degree assortativity (Newman 2002, Phys. Rev. Lett. 89.208701):
    * Pearson correlation of endpoint degrees over the DIRECTED
    * symmetric edge list. Because the list contains both directions,
    * Σx = Σy and Σx² = Σy², so r reduces to
    * (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — no square roots, one IEEE
    * division over exact integer moments (DECIMAL(38,0) here, HUGEINT
    * in the oracle). Negative r = hubs link to leaves (typical for
    * trade/bipartite graphs). At 100 TB: degree join is two
    * co-partitioned equi-joins, the moments are one total aggregation
    * — nothing iterative, nothing collected. */
  def assortativity: Q = (sp, d) => {
    // The symmetric edge list never has to materialize: over the
    // UNDIRECTED pair list, each directed-edge moment is an algebraic
    // fold — M = 2·|pairs|, Σx = Σ(xc+xs), Σxy = 2·Σxc·xs,
    // Σx² = Σ(xc²+xs²) — so the plan joins the pair list to the two
    // per-side degree tables once each and aggregates once (vs 6
    // rebuilds of the edge union for the naive formulation).
    // pairs is referenced THREE times (both degree tables + the moment
    // join); it is cut once
    val pairs = custSuppPairs(sp, d)
    val degC = pairs.groupBy(col("c")).agg(count(lit(1)).as("xc"))
    val degS = pairs.groupBy(col("sup")).agg(count(lit(1)).as("xs"))
    pairs.join(degC, Seq("c")).join(degS, Seq("sup"))
      .select(col("xc").cast("decimal(38,0)").as("xc"),
        col("xs").cast("decimal(38,0)").as("xs"))
      .agg((count(lit(1)) * 2).as("m"),
        sum(col("xc") + col("xs")).as("sx"),
        (sum(col("xc") * col("xs")) * 2).as("sxy"),
        sum(col("xc") * col("xc") + col("xs") * col("xs")).as("sxx"))
      .select(col("m"), col("sx").cast("long").as("sum_deg"),
        col("sxy").cast("long").as("sum_xy"), col("sxx").cast("long").as("sum_xx"),
        (floor((col("m").cast("decimal(38,0)") * col("sxy") - col("sx") * col("sx")).cast("double")
          / (col("m").cast("decimal(38,0)") * col("sxx") - col("sx") * col("sx")).cast("double")
          * 1e4) / 1e4).as("assortativity"))
  }

  val assortativitySql: String =
    """WITH pairs AS (
         SELECT DISTINCT o_custkey AS c, l_suppkey AS sup
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       degc AS (SELECT c, count(*) AS xc FROM pairs GROUP BY c),
       degs AS (SELECT sup, count(*) AS xs FROM pairs GROUP BY sup),
       xy AS (
         SELECT CAST(xc AS HUGEINT) AS xc, CAST(xs AS HUGEINT) AS xs
         FROM pairs JOIN degc USING (c) JOIN degs USING (sup)),
       mom AS (
         SELECT count(*) * 2 AS m,
                sum(xc + xs) AS sx,
                sum(xc * xs) * 2 AS sxy,
                sum(xc * xc + xs * xs) AS sxx
         FROM xy)
       SELECT m,
              CAST(sx AS BIGINT) AS sum_deg,
              CAST(sxy AS BIGINT) AS sum_xy,
              CAST(sxx AS BIGINT) AS sum_xx,
              floor(CAST(m * sxy - sx * sx AS DOUBLE)
                    / CAST(m * sxx - sx * sx AS DOUBLE)
                    * 1e4) / 1e4 AS assortativity
       FROM mom"""

  val LinkPredK = 20

  /** Jaccard common-neighbor link prediction — "which edges are
    * missing": candidate pairs are nodes at distance 2 (generated
    * through their shared neighbor, an EQUI-join keyed on the middle
    * node — fanout Σdeg(v)², the same bound as triangle counting,
    * never |V|²), existing edges are anti-joined away, and each
    * candidate scores |N(a)∩N(b)| / |N(a)∪N(b)| from exact integer
    * counts with one final division. Top-K selection runs on the
    * scored candidate set (TakeOrderedAndProject), not the corpus. */
  def linkPred: Q = (sp, d) => {
    val e = cut(pageEdges(sp, d))
    val deg = e.groupBy(col("src").as("dnode")).agg(count(lit(1)).as("deg"))
    val pairs = e.select(col("src").as("v"), col("dst").as("a"))
      .join(e.select(col("src").as("v2"), col("dst").as("b")),
        col("v") === col("v2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val candidates = pairs
      .join(e.select(col("src").as("ea"), col("dst").as("eb")),
        col("a") === col("ea") && col("b") === col("eb"), "left_anti")
      .join(deg.select(col("dnode").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("dnode").as("b"), col("deg").as("db")), Seq("b"))
      .withColumn("jaccard",
        floor(col("inter").cast("double")
          / (col("da") + col("db") - col("inter")).cast("double") * 1e4) / 1e4)
    candidates
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(LinkPredK)
      .select(col("a").as("node_a"), col("b").as("node_b"), col("inter"),
        col("da"), col("db"), col("jaccard"))
  }

  val linkPredSql: String =
    s"""WITH $pageEdgesCte,
        deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY 1),
        pairs AS (
          SELECT x.dst AS a, y.dst AS b, count(*) AS inter
          FROM e x JOIN e y ON x.src = y.src AND x.dst < y.dst
          GROUP BY 1, 2),
        cand AS (
          SELECT p.a, p.b, p.inter
          FROM pairs p ANTI JOIN e ON e.src = p.a AND e.dst = p.b),
        scored AS (
          SELECT c.a AS node_a, c.b AS node_b, c.inter,
                 CAST(dda.deg AS BIGINT) AS da, CAST(ddb.deg AS BIGINT) AS db,
                 floor(CAST(c.inter AS DOUBLE)
                       / CAST(dda.deg + ddb.deg - c.inter AS DOUBLE) * 1e4) / 1e4
                   AS jaccard
          FROM cand c JOIN deg dda ON dda.node = c.a
                      JOIN deg ddb ON ddb.node = c.b)
        SELECT node_a, node_b, inter, da, db, jaccard
        FROM scored ORDER BY jaccard DESC, node_a, node_b LIMIT $LinkPredK"""

  val WalkLen = 4

  /** Deterministic random-walk sampling — the DeepWalk/node2vec
    * corpus-generation stage (walks become "sentences" for a graph
    * embedding): one walk per node, each step choosing the neighbor
    * ranked hash(start, step, node) mod degree in the sorted
    * adjacency — an RNG-free choice both engines replay exactly, and
    * reproducible across cluster layouts like every sampler here.
    * Each step is ONE equi-join of the |V|-row frontier against the
    * rank-indexed edge list (the rank condition rides the src
    * equi-join as a residual); the oracle unrolls the steps as CTEs,
    * so the hash certifies every trajectory. */
  def walkSample: Q = (sp, d) => {
    val e = cut(pageEdges(sp, d))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val idx = e
      .withColumn("rank", row_number().over(wIdx).cast("long"))
      .withColumn("outdeg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    var cur = e.select(col("src")).distinct()
      .select(col("src").as("start"), lit(0).as("step"), col("src").as("node"))
    var acc = cur
    for (t <- 1 to WalkLen) {
      val pick = expr(
        s"cast(conv(substring(md5(concat('wk:', cast(start as string), ':$t:', " +
          s"cast(node as string))), 1, 13), 16, 10) as bigint)")
      val next = cur.join(idx,
          col("node") === col("src") && col("rank") === pick % col("outdeg") + 1)
        .select(col("start"), lit(t).as("step"), col("dst").as("node"))
      acc = acc.unionByName(next)
      cur = next
    }
    acc
  }

  lazy val walkSampleSql: String = {
    val steps = (1 to WalkLen).map { t =>
      s"""w$t AS (
            SELECT w.start, $t AS step, i.dst AS node
            FROM w${t - 1} w JOIN idx i ON i.src = w.node
              AND i.rank = (('0x' || substr(md5('wk:' || CAST(w.start AS VARCHAR)
                || ':$t:' || CAST(w.node AS VARCHAR)), 1, 13))::BIGINT
                % i.outdeg) + 1)"""
    }.mkString(",\n")
    val union = (0 to WalkLen).map(t => s"SELECT * FROM w$t").mkString(" UNION ALL ")
    s"""WITH $pageEdgesCte,
        idx AS (
          SELECT src, dst,
                 CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS rank,
                 count(*) OVER (PARTITION BY src) AS outdeg
          FROM e),
        w0 AS (SELECT DISTINCT src AS start, 0 AS step, src AS node FROM e),
        $steps
        SELECT start, CAST(step AS INT) AS step, node
        FROM ($union) u ORDER BY start, step, node"""
  }

  /** 4 full h/a rounds: each round costs two joins + two aggregations
    * + two node-sized window rescales (structurally 4× a pagerank
    * round), and the top-20 ranking on this graph is already stable
    * after round 2 — 8 rounds measured ~2× the wall-clock for an
    * identical panel. */
  private val HitsIters = 4
  private val HitsTopK = 20

  /** HITS hubs/authorities (Kleinberg 1999) on the DIRECTED bipartite
    * trade graph (customer → supplier): authority(s) = Σ hub scores of
    * its buyers, hub(c) = Σ authority scores of its suppliers, each
    * side rescaled to total mass BASE after every round (L1
    * normalization — the power iteration on AᵀA without materializing
    * it). Companion fixed-point to `graph_pagerank`, same portability
    * discipline: scores are INTEGER micro-units, rescale is
    * (raw·BASE) div Σraw with the wide product in DECIMAL(38,0)/
    * HUGEINT, so per-node sums are order-independent and the oracle's
    * unrolled CTEs match bit-for-bit. Each round is two equi-joins +
    * two aggregations + two 1-row total broadcasts; `cut` every
    * second round holds the plan flat. Output is the top-20 of each
    * side via the bounded `graft_topk` aggregate — never a
    * corpus-wide sort. */
  def hits: Q = (sp, d) => {
    val pairs = tradePairs(sp, d, col("o_custkey").as("hub"), col("l_suppkey").as("auth"))
    val nHubs = pairs.select(col("hub")).distinct().count()
    // L1 rescale via a GLOBAL WINDOW over the node-sized raw-score
    // aggregate — `sum(raw) OVER ()` — instead of the former 1-row
    // total crossJoin(broadcast(...)): the window reads the frame
    // once in place (one single-partition pass over |side| rows, the
    // same data movement the broadcast build paid), so each round
    // drops two blocking broadcast exchanges and the raw aggregate is
    // no longer read twice. The frame is node-sized aggregate output,
    // and the shape now matches the SQL oracle's own `sum(raw) OVER ()`.
    def rescale(df: DataFrame, node: String): DataFrame =
      df.select(col(node).as("node"),
        expr(s"cast(cast(raw as decimal(38,0)) * ${Base}L div (sum(raw) over ()) as bigint)").as("r"))
    // score tables are node-sized and edge-partitioning is static: when
    // a SIDE'S node count fits a broadcast (each counted exactly — hub
    // and authority cardinalities are independent; nothing ties them
    // outside this graph's shape), ship that side's scores to the edges
    // each round — the cuts erase stats, so AQE cannot discover this on
    // its own (same reasoning as pagerank's hint)
    val nAuths = pairs.select(col("auth")).distinct().count()
    def small(df: DataFrame, n: Long): DataFrame =
      if (n <= RankBroadcastMax) broadcast(df) else df
    var h = pairs.select(col("hub")).distinct()
      .select(col("hub").as("node"), lit(if (nHubs == 0) 0L else Base / nHubs).as("r"))
    var a: DataFrame = null
    for (_ <- 1 to HitsIters) {
      // cutLazy() each RAW aggregate: the window rescale reads it once,
      // but the cut still holds every round's Catalyst plan flat (the
      // next round plans against a LogicalRDD instead of the whole
      // prior-round chain) at zero eager-job cost
      val aRaw = graft.Checkpoints.cutLazy(
        pairs.join(small(h, nHubs), col("hub") === col("node"))
          .groupBy(col("auth")).agg(sum(col("r")).as("raw")))
      a = rescale(aRaw, "auth")
      val hRaw = graft.Checkpoints.cutLazy(
        pairs.join(small(a, nAuths), col("auth") === col("node"))
          .groupBy(col("hub")).agg(sum(col("r")).as("raw")))
      h = rescale(hRaw, "hub")
    }
    def top(df: DataFrame, side: String) = df
      .groupBy().agg(expr(s"graft_topk(cast(r as double), node, $HitsTopK)").as("tk"))
      .select(posexplode(col("tk")))
      .select(lit(side).as("side"), col("col.id").as("node_id"),
        col("col.score").cast("long").as("score_fp"),
        (col("pos") + 1).cast("int").as("rank"))
    top(h, "hub").unionByName(top(a, "authority"))
  }

  lazy val hitsSql: String = {
    // Each CTE references its predecessor exactly ONCE (round totals
    // ride a sum() OVER () window, not a separate aggregate CTE): under
    // a CTE-inlining planner a twice-referenced chain would expand
    // 4^rounds copies of the edge scan — enough to exhaust file
    // descriptors — while this shape stays linear in the round count.
    val rounds = (1 to HitsIters).map { i =>
      s"""a$i AS (
           SELECT auth AS node,
                  CAST((CAST(raw AS HUGEINT) * $Base)
                       // CAST(sum(raw) OVER () AS BIGINT) AS BIGINT) AS r
           FROM (SELECT e.auth, CAST(sum(h.r) AS BIGINT) AS raw
                 FROM e JOIN h${i - 1} h ON h.node = e.hub GROUP BY 1) ar),
         h$i AS (
           SELECT hub AS node,
                  CAST((CAST(raw AS HUGEINT) * $Base)
                       // CAST(sum(raw) OVER () AS BIGINT) AS BIGINT) AS r
           FROM (SELECT e.hub, CAST(sum(a.r) AS BIGINT) AS raw
                 FROM e JOIN a$i a ON a.node = e.auth GROUP BY 1) hr)"""
    }.mkString(",\n")
    s"""WITH e AS (
          SELECT DISTINCT o_custkey AS hub, l_suppkey AS auth
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        hubs AS (SELECT DISTINCT hub FROM e),
        h0 AS (SELECT hub AS node,
                      $Base // (SELECT count(*) FROM hubs) AS r FROM hubs),
        $rounds,
        ranked AS (
          SELECT 'hub' AS side, node AS node_id, r AS score_fp,
                 CAST(row_number() OVER (ORDER BY r DESC, node) AS INT) AS rank
          FROM h$HitsIters
          UNION ALL
          SELECT 'authority', node, r,
                 CAST(row_number() OVER (ORDER BY r DESC, node) AS INT)
          FROM a$HitsIters)
        SELECT side, node_id, score_fp, rank FROM ranked
        WHERE rank <= $HitsTopK ORDER BY side, rank"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("graph_hits", hits, Some(hitsSql)),
    ("graph_walk_sample", walkSample, Some(walkSampleSql)),
    ("graph_linkpred_jaccard", linkPred, Some(linkPredSql)),
    ("graph_assortativity", assortativity, Some(assortativitySql)),
    ("graph_kcore", kcore, Some(kcoreSql)),
    ("graph_triangle_count", triangleCount, Some(triangleCountSql)),
    ("graph_pagerank", pagerank, Some(pagerankSql)),
    ("graph_communities_lpa", communitiesLpa, Some(communitiesLpaSql)),
    ("graph_modularity", modularity, Some(modularitySql)),
    ("graph_bfs_distance", bfsDistance, Some(bfsDistanceSql)),
    ("graph_degree_histogram", degreeHistogram, Some(degreeHistogramSql)))
}
