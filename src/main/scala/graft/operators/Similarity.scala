package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table.
  *
  * Brute-force top-k is the baseline: broadcast the (small) query
  * side, one narrow pass over the corpus, per-query top-k via window —
  * at 100 TB this is the "score every vector once" plan, which is
  * optimal when the query set is small and the corpus is scanned
  * anyway. The LSH variant is the scale path: random-hyperplane
  * signatures bucket the corpus so each query only scores its bucket
  * collisions (multiple tables to recover recall).
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  import TextAnalysis.trunc4

  /** (vec_id, label, v double[], n2) with squared norm precomputed.
    * Cast + norm are codegen'd (native `graft_norm2` expression); no
    * interpreted lambdas on the per-vector path. */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", expr("graft_norm2(v)"))

  private val dotExpr = "graft_dot(qv, v)"

  val NumQueries = 8
  val TopK = 5

  /** Exact cosine top-k for query vectors (vec_id < 8): broadcast
    * queries × one corpus pass, bounded `graft_topk` aggregate — the
    * map-side partial agg ships at most k rows per (partition, query)
    * over the shuffle, vs a window's corpus-wide sort. */
  def bruteForceTopK: Q = (s, d) => {
    val all = emb(s, d)
    cosineTopK(all.join(broadcast(queryVecs(all)), col("vec_id") =!= col("query_id")))
  }

  /** The query side (query_id, qv, qn2): the vectors with id below
    * [[NumQueries]]. */
  private def queryVecs(all: DataFrame): DataFrame =
    all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))

  /** The exact top-k tail of the ANN top-k entries: cosine of each
    * (query_id, qv, qn2) × (vec_id, v, n2) pair, the bounded
    * `graft_topk` per query, exploded to (query_id, neighbor_id,
    * cosine, rank). */
  private def cosineTopK(pairs: DataFrame): DataFrame =
    pairs
      .withColumn("cos", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cos, vec_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("cosine"), (col("pos") + 1).cast("int").as("rank"))

  /** Exact re-rank of approximate (query_id, vec_id) candidates — the
    * candidate-then-refine step: re-attach both vectors, then the exact
    * cosine top-k over the candidates only. */
  private def exactReRank(cands: DataFrame, all: DataFrame): DataFrame =
    cosineTopK(cands.join(broadcast(queryVecs(all)), "query_id")
      .join(all.select(col("vec_id"), col("v"), col("n2")), "vec_id"))

  val bruteForceTopKSql: String =
    s"""SELECT query_id, neighbor_id, floor(cos * 10000) / 10000.0 AS cosine, rank FROM (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos,
                 CAST(row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                            e.vec_id) AS INT) AS rank
          FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries) t
        WHERE rank <= $TopK ORDER BY query_id, rank"""

  val NumTables = 8
  val BitsPerTable = 3

  /** Deterministic random hyperplanes (seeded) — the projection basis
    * is code, broadcast implicitly as literals. */
  lazy val hyperplanes: Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(NumTables)(Seq.fill(BitsPerTable)(Seq.fill(64)(rnd.nextGaussian())))
  }

  /** LSH-bucketed ANN: sign-of-projection signature per table, bucket
    * equi-join, exact cosine re-rank inside buckets. Rows-only (recall
    * vs brute force asserted in SimilaritySpec). */
  def lshTopK: Q = (s, d) => {
    val all = emb(s, d)
    def sigCol(t: Int) = concat(
      (0 until BitsPerTable).map { b =>
        when(expr(s"graft_dot(v, ${planeSql(t, b)})") > 0, "1").otherwise("0")
      }: _*)
    val withSigs = all.select(
      col("vec_id") +: col("v") +: col("n2") +:
        (0 until NumTables).map(t => sigCol(t).as(s"sig$t")): _*)
    val stackArgs = (0 until NumTables).map(t => s"'$t', sig$t").mkString(", ")
    val buckets = withSigs.selectExpr("vec_id", s"stack($NumTables, $stackArgs) as (tbl, sig)")
    val q = buckets.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("tbl"), col("sig"))
    // candidate ids only through the bucket join; vectors re-attached after
    val candIds = buckets.join(broadcast(q), Seq("tbl", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    exactReRank(candIds, all)
  }

  /** Hyperplane (t, b) as a SQL array literal. */
  private def planeSql(t: Int, b: Int): String =
    hyperplanes(t)(b).map(x => s"cast($x as double)").mkString("array(", ", ", ")")

  /** Hyperplane (t, b) as a DuckDB array literal — the SAME
    * shortest-repr double literals the Spark expression bakes in, so
    * both engines project against bit-identical planes. */
  private def planeSqlDuck(t: Int, b: Int): String =
    hyperplanes(t)(b).map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")

  /** Full DuckDB replay of the LSH path (signature → bucket join →
    * exact re-rank), promoting the entry from rows-only to
    * hash-checked. Parity rests on three already-proven contracts:
    * sequential left-to-right dot products (`graft_dot` loop ==
    * `list_inner_product`), float→double widening being exact on both
    * engines, and rank ties broken (score DESC, id ASC) like
    * `graft_topk`. */
  lazy val lshTopKSql: String = {
    val sigCols = (0 until NumTables).map { t =>
      val bits = (0 until BitsPerTable).map { b =>
        s"CASE WHEN list_inner_product(v, ${planeSqlDuck(t, b)}) > 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      s"($bits) AS sig$t"
    }.mkString(", ")
    val arms = (0 until NumTables)
      .map(t => s"SELECT vec_id, '$t' AS tbl, sig$t AS sig FROM sigs")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sigs AS (SELECT vec_id, $sigCols FROM e),
        buckets AS ($arms),
        cand AS (SELECT DISTINCT q.vec_id AS query_id, b.vec_id
                 FROM buckets b JOIN buckets q ON b.tbl = q.tbl AND b.sig = q.sig
                 WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
        scored AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 list_inner_product(qe.v, ne.v)
                   / (sqrt(list_inner_product(qe.v, qe.v))
                      * sqrt(list_inner_product(ne.v, ne.v))) AS cos
          FROM cand c JOIN e qe ON qe.vec_id = c.query_id
                      JOIN e ne ON ne.vec_id = c.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, floor(cos * 10000) / 10000.0 AS cosine, rank
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""
  }

  val NumCells = 16
  val NProbe = 6
  private val SeedBase = 100L

  /** IVF-style ANN: the corpus is partitioned into `NumCells` Voronoi
    * cells around k-means centroids; each query probes its `NProbe`
    * nearest cells and re-ranks only those candidates — a query scans
    * ~NProbe/NumCells of the corpus instead of all of it, the standard
    * inverted-file trade at billion-vector scale (cells become
    * partition keys; probing = partition pruning).
    *
    * Centroids: deterministic seed vectors at fixed ids refined by
    * `LloydIters` distributed k-means steps (assign → element-wise
    * mean per cell; K×dim means collect to the driver like any model
    * broadcast). Rows-only: recall vs brute force is asserted in
    * SimilaritySpec, like the LSH variant. */
  val LloydIters = 1

  /** Centroids as a broadcastable table (cell, vector, |c|²/2) — NOT
    * literals baked into an expression: a K×dim literal array forces
    * seconds of Janino compilation per distinct centroid set and stops
    * scaling past tiny K. The join form is the same plan IVF uses at
    * K=4096: broadcast the codebook, score per (vector, centroid),
    * argmax/top-probe via the bounded `graft_topk` aggregate. */
  private def centroidDf(s: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i + 1L, c.toSeq, c.map(x => x * x).sum / 2.0) }
      .toSeq.toDF("cell", "cv", "chalf")
  }

  /** Score every (vector, centroid) pair: argmin L2 == argmax
    * (dot - |c|²/2). */
  private def scored(all: DataFrame, cdf: DataFrame): DataFrame =
    all.crossJoin(broadcast(cdf))
      .withColumn("score", expr("graft_dot(v, cv)") - col("chalf"))

  /** Hard assignment: best cell per vector (topk k=1 → deterministic
    * tie-break by lower cell id). */
  private def assign(all: DataFrame, cdf: DataFrame): DataFrame =
    scored(all, cdf)
      .groupBy(col("vec_id"))
      .agg(
        element_at(expr("graft_topk(score, cell, 1)"), 1).getField("id").as("cell"),
        first(col("v")).as("v"), first(col("n2")).as("n2"))

  /** Fixed-point scale for Lloyd means: 2^40. Component means are
    * computed as exact integer sums of floor(x·2^40) — order-
    * independent (a float `avg` would make the trained centroids
    * depend on partition/merge order, i.e. nondeterministic across
    * cluster layouts) and exactly replayable by the DuckDB oracle.
    * decimal(38,0) keeps the sum exact at any corpus size (a BIGINT
    * wraps past ~8e18 ≈ 2^23 vectors per cell at |x|≤1); the
    * sub-2^-40 truncation is part of the training contract. */
  private val FixedScale = 1099511627776.0
  private val fixedSumExpr =
    s"sum(cast(floor(col * ${FixedScale}d) as decimal(38,0)))"
  private def fixedMean(s: java.math.BigDecimal, cnt: Long): Double =
    s.doubleValue() / cnt.toDouble / FixedScale

  /** One Lloyd step: assign, element-wise fixed-point mean per cell.
    * (At larger dims the posexplode becomes a vector-sum aggregate —
    * same shuffle shape.) */
  private def lloydStep(all: DataFrame, cents: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = cents.head.length
    val means = assign(all, centroidDf(all.sparkSession, cents))
      .select(col("cell"), posexplode(col("v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr(fixedSumExpr).as("s"), count(lit(1)).as("cnt"))
      .collect()
      .groupBy(_.getLong(0))
    cents.indices.map { i =>
      means.get(i + 1L) match {
        case Some(rows) =>
          val m = new Array[Double](dim)
          rows.foreach(r => m(r.getInt(1)) = fixedMean(r.getDecimal(2), r.getLong(3)))
          m
        case None => cents(i) // empty cell keeps its centroid
      }
    }.toArray
  }

  /** Trained-codebook memo, keyed by data dir: codebooks are
    * deterministic functions of the corpus (fixed seeds + Lloyd), so
    * entries sharing a dir share the training job instead of each
    * re-running it (ann_ivf / ann_pq / ann_ivf_pq in one session).
    * Values are codebook-sized local tables (K×dim), not corpus data. */
  private val codebookMemo =
    new scala.collection.concurrent.TrieMap[(String, String), DataFrame]

  /** Seed + Lloyd-train the IVF coarse quantizer, return the codebook
    * as a broadcastable table. */
  private def ivfCentroidDf(s: SparkSession, d: String, all: DataFrame): DataFrame =
      codebookMemo.getOrElseUpdate((d, "ivf"), {
    val seeds = all.filter(col("vec_id") >= SeedBase && col("vec_id") < SeedBase + NumCells)
      .select(col("vec_id"), col("v"), col("n2"))
      .collect()
      .sortBy(_.getLong(0))
      .map(r => r.getSeq[Double](1).toArray)
    require(seeds.length == NumCells, s"need $NumCells seed vectors at ids $SeedBase+")
    val cents = (1 to LloydIters).foldLeft(seeds)((c, _) => lloydStep(all, c))
    centroidDf(s, cents)
  })

  def ivfTopK: Q = (s, d) => {
    val all = emb(s, d)
    val cdf = ivfCentroidDf(s, d, all)
    val corpus = assign(all, cdf)
    // queries probe their NProbe best cells
    val q = scored(all.filter(col("vec_id") < NumQueries), cdf)
      .groupBy(col("vec_id"))
      .agg(expr(s"graft_topk(score, cell, $NProbe)").as("pc"),
        first(col("v")).as("qv"), first(col("n2")).as("qn2"))
      .select(col("vec_id").as("query_id"), col("qv"), col("qn2"),
        explode(col("pc")).as("p"))
      .select(col("query_id"), col("qv"), col("qn2"), col("p").getField("id").as("cell"))
    cosineTopK(corpus.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id")))
  }

  /** IVF index-health profile — the first read run against any trained
    * ANN index before serving it: per-cell population, corpus share,
    * and mean vector energy. Cell-population skew IS probe-cost
    * variance (a 10× hot cell makes every probe touching it 10×
    * slower), so this is the skew detector for the `ann_ivf_topk`
    * partition layout. One pass: assign (broadcast codebook argmax) +
    * one integer aggregation; the mean norm² uses the same fixed-point
    * sum as Lloyd training, so it is order-independent and replayed
    * exactly by the oracle. Empty cells surface with zero counts (a
    * dead centroid wastes a probe everywhere) via the codebook
    * left join. */
  def ivfStats: Q = (s, d) => {
    val all = emb(s, d)
    val cdf = ivfCentroidDf(s, d, all)
    val perCell = assign(all, cdf)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        expr("sum(cast(floor(n2 * 1048576.0d) as decimal(38,0)))").as("s"))
    val total = all.agg(count(lit(1)).as("total"))
    cdf.select(col("cell"))
      .join(perCell, Seq("cell"), "left")
      .crossJoin(broadcast(total))
      .select(col("cell"),
        coalesce(col("n_vectors"), lit(0L)).as("n_vectors"),
        trunc4(coalesce(col("n_vectors"), lit(0L)).cast("double") / col("total").cast("double"))
          .as("pop_share"),
        trunc4(col("s").cast("double") / col("n_vectors").cast("double") / 1048576.0)
          .as("avg_norm2"))
  }

  lazy val ivfStatsSql: String =
    s"""WITH $ivfCtes,
        per_cell AS (
          SELECT a.cell, count(*) AS n_vectors,
                 CAST(SUM(CAST(floor(n.n2 * 1048576.0) AS BIGINT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) / 1048576.0 AS raw_avg
          FROM ivf_assign a JOIN norms n USING (vec_id)
          GROUP BY a.cell),
        tot AS (SELECT count(*) AS total FROM e)
        SELECT c.cell,
               COALESCE(p.n_vectors, 0) AS n_vectors,
               floor(CAST(COALESCE(p.n_vectors, 0) AS DOUBLE) / CAST(t.total AS DOUBLE)
                     * 10000) / 10000.0 AS pop_share,
               floor(p.raw_avg * 10000) / 10000.0 AS avg_norm2
        FROM ivf_cent c LEFT JOIN per_cell p USING (cell) CROSS JOIN tot t
        ORDER BY c.cell"""

  val RangeTau = 0.25

  /** Radius (range) search: ALL neighbors with cosine ≥ τ per query —
    * the fixed-threshold sibling of top-k (retrieval dedup / near-match
    * audit). Same broadcast-queries single-corpus-pass shape as brute
    * force; the filter replaces the bounded aggregate, so output size
    * is data-dependent and no per-query state is held at all. */
  def rangeSearch: Q = (s, d) => {
    val all = emb(s, d)
    all.join(broadcast(queryVecs(all)), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), trunc4(col("cos")).as("cosine"))
  }

  val rangeSearchSql: String =
    s"""SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
          floor(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) * 10000) / 10000.0 AS cosine
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < $NumQueries
          AND list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) >= $RangeTau
        ORDER BY query_id, neighbor_id"""

  val PqM = 8          // subspaces
  val PqSubDim = 8     // 64 / PqM dims per subspace
  val PqK = 16         // centroids per subspace → 8×4-bit codes/vector
  val PqSeedBase = 200L
  val PqCandidates = 32

  /** ADC sum as a left fold in ascending-m order: 0.0 + c_0 + … + c_7.
    * Identical to the packed variant's sequence fold and to the
    * oracle's `list_reduce(list(contrib ORDER BY m), +)`. */
  private val orderedAdcFold: String =
    "aggregate(array_sort(collect_list(struct(m, contrib))), " +
      "cast(0.0 as double), (a, x) -> a + x.contrib)"

  /** Explode a 64-d vector into (m, sub) subspace rows. */
  private val subsExpr: String =
    (0 until PqM).map(m => s"$m, slice(v, ${m * PqSubDim + 1}, $PqSubDim)")
      .mkString(s"stack($PqM, ", ", ", ") as (m, sub)")

  /** Per-subspace codebook as a broadcastable table (m, cell, cv,
    * |cv|²/2) — same join form as the IVF codebook (literals would
    * Janino-compile for seconds at real K). */
  private def pqCodebookDf(s: SparkSession, cents: Array[Array[Array[Double]]]): DataFrame = {
    import s.implicits._
    (for {
      (subs, m) <- cents.zipWithIndex
      (c, cell) <- subs.zipWithIndex
    } yield (m, cell.toLong, c.toSeq, c.map(x => x * x).sum / 2.0))
      .toSeq.toDF("m", "cell", "cv", "chalf")
  }

  /** Nearest sub-centroid per (vector, subspace): the PQ encoder.
    * Returns (vec_id, m, code, sub, n2). */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.join(broadcast(cb), "m")
      .withColumn("score", expr("graft_dot(sub, cv)") - col("chalf"))
      .groupBy(col("vec_id"), col("m"))
      .agg(element_at(expr("graft_topk(score, cell, 1)"), 1).getField("id").as("code"),
        first(col("sub")).as("sub"), first(col("n2")).as("n2"))

  /** Product-quantization ANN with asymmetric distance (ADC): per-
    * subspace k-means codebooks (seed vectors + one distributed Lloyd
    * step, like IVF), corpus encoded once as M codes per vector, and
    * each query scored via a broadcast lookup table — approx dot =
    * Σ_m LUT[query][m][code_m] — then a bounded exact re-rank of the
    * top candidates. At 100 TB the scan phase reads CODES (M bytes a
    * vector, a 32× compression over floats) instead of vectors, and
    * the relational sum-over-m below becomes a per-partition LUT loop
    * over packed codes — same shuffle shape, bounded per-query state
    * via `graft_topk` either way. Rows-only: recall vs brute force is
    * asserted in SimilaritySpec. */
  /** Seed + Lloyd-train the per-subspace PQ codebooks, return them as
    * one broadcastable table. */
  private def pqTrainedCodebookDf(s: SparkSession, d: String, all: DataFrame, subs: DataFrame): DataFrame =
      codebookMemo.getOrElseUpdate((d, "pq"), {
    // seed codebook: slices of PqK fixed corpus vectors
    val seeds = all.filter(col("vec_id") >= PqSeedBase && col("vec_id") < PqSeedBase + PqK)
      .select(col("vec_id"), col("v")).collect().sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    require(seeds.length == PqK, s"need $PqK seed vectors at ids $PqSeedBase+")
    val init: Array[Array[Array[Double]]] = Array.tabulate(PqM, PqK) { (m, k) =>
      seeds(k).slice(m * PqSubDim, (m + 1) * PqSubDim)
    }
    // one Lloyd step per subspace, all subspaces in one distributed
    // job; fixed-point means like the IVF trainer (order-independent,
    // oracle-replayable)
    val means = pqAssign(subs, pqCodebookDf(s, init))
      .select(col("m"), col("code"), posexplode(col("sub")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg(expr(fixedSumExpr).as("s"), count(lit(1)).as("cnt"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getLong(1)))
    val cents: Array[Array[Array[Double]]] = Array.tabulate(PqM, PqK) { (m, k) =>
      means.get((m, k.toLong)) match {
        case Some(rows) =>
          val c = new Array[Double](PqSubDim)
          rows.foreach(r => c(r.getInt(2)) = fixedMean(r.getDecimal(3), r.getLong(4)))
          c
        case None => init(m)(k) // empty cell keeps its seed
      }
    }
    pqCodebookDf(s, cents)
  })

  def pqTopK: Q = (s, d) => {
    val all = emb(s, d)
    val subs = all.selectExpr("vec_id", "n2", subsExpr)
    val cb = pqTrainedCodebookDf(s, d, all, subs)
    val codes = pqAssign(subs, cb).select("vec_id", "m", "code", "n2")
    // scan codes × broadcast LUT: approx dot per (query, vector).
    // The 8 per-subspace contributions fold in FIXED m order (bounded
    // 8-element list, not a float `sum` whose partial-merge order
    // varies with partitioning) — approx scores are bit-identical
    // across layouts AND engines, so the candidate-set boundary is
    // deterministic and the DuckDB oracle can replay it.
    val cands = pqCandidates(codes.join(broadcast(adcLut(subs, cb)), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(expr(orderedAdcFold).as("adot"),
        first(col("n2")).as("n2"), first(col("qn2")).as("qn2")))
    // bounded exact re-rank of the PqCandidates survivors
    exactReRank(cands, all)
  }

  /** ADC lookup table keyed (query_id, m, code): the contribution
    * <q_sub, cv> of each query subvector and codebook cell, beside the
    * query's squared norm `qn2`. */
  private def adcLut(subs: DataFrame, cb: DataFrame): DataFrame =
    subs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("sub"), col("n2").as("qn2"))
      .join(broadcast(cb), "m")
      .select(col("query_id"), col("m"), col("cell").as("code"), col("qn2"),
        expr("graft_dot(sub, cv)").as("contrib"))

  /** The [[PqCandidates]] best (query_id, vec_id) pairs per query by
    * approximate cosine, from (query_id, vec_id, adot, n2, qn2) ADC
    * dot products. */
  private def pqCandidates(adc: DataFrame): DataFrame =
    adc
      .withColumn("approx_cos", col("adot") / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(approx_cos, vec_id, $PqCandidates)").as("cand"))
      .select(col("query_id"), explode(col("cand")).as("c"))
      .select(col("query_id"), col("c").getField("id").as("vec_id"))

  /** PQ over a BIT-PACKED codes column: the 8 per-subspace 4-bit codes
    * of each vector packed into ONE BIGINT — the scan-time layout a
    * 100 TB deployment stores (8 bytes/vector vs 512 for raw doubles, a
    * 64× scan compression; the relational (vec, m) code rows of
    * `ann_pq_topk` would be 8 rows/vector). Scoring reads the packed
    * column directly: each query's 128-entry ADC table is broadcast as
    * one flat array and the approximate dot is a single codegen'd fold
    * that unpacks `(packed >> 4m) & 15` inline — no per-subspace
    * explode, no join against the codes, the classic FAISS ADC loop as
    * one narrow expression over the compressed scan. Candidates then
    * get the same bounded exact re-rank as `ann_pq_topk`. Rows-only:
    * pack/unpack identity and recall are asserted in SimilaritySpec. */
  def pqPackedTopK: Q = (s, d) => {
    val all = emb(s, d)
    val subs = all.selectExpr("vec_id", "n2", subsExpr)
    val cb = pqTrainedCodebookDf(s, d, all, subs)
    val packed = pqAssign(subs, cb)
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(code, m * 4)")).as("packed"), first(col("n2")).as("n2"))
    val qSubs = subs.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("sub"), col("n2").as("qn2"))
    val lut = qSubs.join(broadcast(cb), "m")
      .select(col("query_id"), col("qn2"),
        (col("m") * PqK + col("cell")).as("slot"),
        expr("graft_dot(sub, cv)").as("contrib"))
      .groupBy(col("query_id"))
      .agg(first(col("qn2")).as("qn2"),
        expr("transform(sort_array(collect_list(struct(slot, contrib))), p -> p.contrib)")
          .as("lut"))
    val cands = pqCandidates(packed.join(broadcast(lut), col("vec_id") =!= col("query_id"))
      .withColumn("adot", expr(
        s"""aggregate(sequence(0, ${PqM - 1}), 0.0e0,
              (acc, m) -> acc + element_at(lut,
                CAST(m * $PqK + (shiftright(packed, m * 4) & 15) AS INT) + 1))""")))
    exactReRank(cands, all)
  }

  /** The packed codes table alone (vec_id, packed) — exposed for the
    * pack/unpack identity assertion in SimilaritySpec. */
  def pqPackedCodes(s: SparkSession, d: String): DataFrame = {
    val all = emb(s, d)
    val subs = all.selectExpr("vec_id", "n2", subsExpr)
    val cb = pqTrainedCodebookDf(s, d, all, subs)
    pqAssign(subs, cb)
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(code, m * 4)")).as("packed"))
  }

  /** IVF-PQ with ADC re-rank — the production ANN index shape (what
    * FAISS calls IVFPQ): the coarse quantizer prunes the corpus to the
    * query's NProbe cells, PQ codes score the SURVIVORS via the
    * broadcast lookup table, and a bounded exact re-rank fixes the
    * final order. Composition is where the 100 TB story completes:
    * IVF alone still reads full vectors in probed cells; PQ alone
    * still scans every code. Together the scan touches only probed
    * cells' CODES (M bytes/vector over |corpus|/K·NProbe rows), and
    * every per-query structure (probe list, LUT, candidate heap) is
    * bounded — broadcast joins + `graft_topk` aggregates, no windows,
    * no corpus sort. Rows-only: recall vs brute force asserted in
    * SimilaritySpec (candidate generation changes, so IVF-PQ recall is
    * its own contract, bounded below by the intersection of the two). */
  def ivfPqTopK: Q = (s, d) => {
    val all = emb(s, d)
    val cdf = ivfCentroidDf(s, d, all)
    val coarse = assign(all, cdf).select(col("vec_id"), col("cell"))
    val subs = all.selectExpr("vec_id", "n2", subsExpr)
    val cb = pqTrainedCodebookDf(s, d, all, subs)
    val codes = pqAssign(subs, cb).select("vec_id", "m", "code", "n2")
    // queries probe their NProbe best coarse cells
    val probes = scored(all.filter(col("vec_id") < NumQueries), cdf)
      .groupBy(col("vec_id"))
      .agg(expr(s"graft_topk(score, cell, $NProbe)").as("pc"))
      .select(col("vec_id").as("query_id"), explode(col("pc")).as("p"))
      .select(col("query_id"), col("p").getField("id").as("cell"))
    // candidates = corpus codes inside probed cells, scored by ADC
    // (fixed m-order fold — see ann_pq_topk)
    val cands = pqCandidates(codes.join(coarse, "vec_id")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(adcLut(subs, cb)), Seq("query_id", "m", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(expr(orderedAdcFold).as("adot"),
        first(col("n2")).as("n2"), first(col("qn2")).as("qn2")))
    // bounded exact re-rank of the surviving candidates
    exactReRank(cands, all)
  }

  /** FILTERED vector search — the hybrid predicate + ANN read every
    * vector store serves ("top-k among vectors WHERE label = X"):
    * the metadata predicate lands in the scan (label pushdown — the
    * candidate set shrinks BEFORE any distance math), then the same
    * broadcast-query / bounded-top-k plan as brute force scores only
    * the survivors. Each query's filter is its own label, so the
    * equi-condition rides the join (query.label = corpus.label) — a
    * hash join, not a nested loop. At IVF scale the same predicate
    * composes with cell pruning (filter ∧ probe). Deterministic —
    * fully oracle-checked, unlike the approximate ANN entries. */
  def filteredTopK: Q = (s, d) => {
    val all = emb(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label"),
        col("v").as("qv"), col("n2").as("qn2"))
    all.join(broadcast(q), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(first(col("label")).as("label"),
        expr(s"graft_topk(cos, vec_id, $TopK)").as("top"))
      .select(col("query_id"), col("label"), posexplode(col("top")))
      .select(col("query_id"), col("label"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  val filteredTopKSql: String =
    s"""SELECT query_id, label, neighbor_id, floor(cos * 10000) / 10000.0 AS cosine, rank FROM (
          SELECT q.vec_id AS query_id, q.label AS label, e.vec_id AS neighbor_id,
                 list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS cos,
                 CAST(row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
                            e.vec_id) AS INT) AS rank
          FROM embeddings q JOIN embeddings e
            ON e.label = q.label AND e.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries) t
        WHERE rank <= $TopK ORDER BY query_id, rank"""

  val KnnGraphK = 3

  /** Block-population cap for `ann_knn_graph` — the FuzzyCap discipline
    * (Dedup.fuzzyEdit): a label block past this many vectors is
    * deterministically sharded by a vec_id content hash into
    * ceil(|block|/KnnGraphCap) pieces, so the pair stage is Σ|shard|² ≈
    * N·Cap — LINEAR in the corpus where the uncapped block join grows
    * Σ|block|² (the r11 sf1 probe's 5.6×, the suite's worst grower).
    * 256 keeps every shipped SF single-shard (max label block: 63 at
    * sf0.001, 59 at sf0.01, 218 at sf0.1), so below the cap the result
    * is EXACTLY the uncapped in-block kNN — the same graph
    * SimilaritySpec's IVF-recall measurement uses as truth — and the
    * DuckDB oracle applies the identical hash rule at every scale. */
  val KnnGraphCap = 256

  /** Blocked kNN-graph construction — the similarity graph ANN-based
    * dedup/clustering pipelines consume (every vector's k nearest
    * in-block neighbors + edge mutuality). Candidate generation is an
    * EQUI-join on the block key (here the `label` partition; at 100 TB
    * the trained IVF cell from `ann_ivf_topk` plays this role), so the
    * pair fanout is Σ|block|², never corpus² — a global exact kNN graph
    * is quadratic and does not exist at scale — and blocks themselves
    * are population-capped ([[KnnGraphCap]]) so even a growing block
    * key stays linear. In-block scoring is the same bounded
    * `graft_topk` aggregate as brute force (≤ k rows per partition over
    * the shuffle); mutuality is one self-join of the k·|V|-row edge
    * list on the reversed key. */
  def knnGraph: Q = (s, d) => {
    val edges = knnShardPairs(s, d)
      .groupBy(col("vec_id"), col("label"))
      .agg(expr(s"graft_topk(cos, nb_id, $KnnGraphK)").as("top"))
      .select(col("vec_id"), col("label"), posexplode(col("top")))
      .select(col("vec_id"), col("label"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("cosine"), (col("pos") + 1).cast("int").as("rank"))
    val rev = edges.select(col("vec_id").as("r_nb"), col("neighbor_id").as("r_src"))
    edges.join(rev,
        col("vec_id") === col("r_src") && col("neighbor_id") === col("r_nb"), "left")
      .select(col("vec_id"), col("label"), col("neighbor_id"), col("cosine"), col("rank"),
        col("r_src").isNotNull.as("mutual"))
  }

  val knnGraphSql: String =
    s"""WITH sh AS (
          SELECT *, ('0x' || substr(md5('knn:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
                    % CAST(ceil(count(*) OVER (PARTITION BY label)
                                / ${KnnGraphCap}.0) AS BIGINT) AS shard
          FROM embeddings),
        edges AS (
          SELECT vec_id, label, neighbor_id,
                 floor(cos * 10000) / 10000.0 AS cosine, rank
          FROM (
            SELECT a.vec_id, a.label, b.vec_id AS neighbor_id,
                   list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) AS cos,
                   CAST(row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY list_cosine_similarity(b.embedding::DOUBLE[], a.embedding::DOUBLE[]) DESC,
                              b.vec_id) AS INT) AS rank
            FROM sh a JOIN sh b
              ON b.label = a.label AND b.shard = a.shard AND b.vec_id <> a.vec_id) t
          WHERE rank <= $KnnGraphK)
        SELECT e.vec_id, e.label, e.neighbor_id, e.cosine, e.rank,
               r.vec_id IS NOT NULL AS mutual
        FROM edges e LEFT JOIN edges r
          ON r.vec_id = e.neighbor_id AND r.neighbor_id = e.vec_id
        ORDER BY e.vec_id, e.rank"""

  /** The SHIPPED scale path for `ann_knn_graph`: candidates come from
    * the corpus-scaled IVF quantizer (nprobe=2 multi-probe — the
    * `dedup_embedding_cosine` blocking), not the label block, so the
    * pair fanout is Σ|cell∩label|² with per-cell population pinned at
    * `SemTargetCell` BY CONSTRUCTION (K grows with the corpus): where
    * the exact graph's label blocks grow 10× per 10× corpus (100× the
    * pairs — the sf1 probe measures it at 6.3×, the suite's worst
    * ratio), this stays linear. Multi-probe duplicate pairs are
    * deduped by a (va, vb) max before the bounded `graft_topk`;
    * SimilaritySpec measures recall@k against the exact graph and pins
    * the candidate discipline. Same scoring arithmetic as the exact
    * entry, so shared edges carry identical cosines. */
  def knnGraphIvf: Q = (s, d) => {
    val probes = graft.Checkpoints.cut(semProbe(s, d, 2))
    val a = probes.select(col("vec_id").as("va"), col("label"), col("cell"),
      col("v").as("qv"), col("n2").as("qn2"))
    val b = probes.select(col("vec_id").as("vb"), col("label").as("nb_label"),
      col("cell"), col("v"), col("n2"))
    a.join(b, Seq("cell"))
      .filter(col("label") === col("nb_label") && col("va") =!= col("vb"))
      .groupBy(col("va"), col("label"), col("vb"))
      .agg(max(expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2")))).as("cos"))
      .groupBy(col("va"), col("label"))
      .agg(expr(s"graft_topk(cos, vb, $KnnGraphK)").as("top"))
      .select(col("va").as("vec_id"), col("label"), posexplode(col("top")))
      .select(col("vec_id"), col("label"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  // lazy: forces semCtes, whose interpolands (fixedMeanSql et al.) are
  // strict vals declared later in this object — a strict val here would
  // snapshot them as "null" mid-initialization
  lazy val knnGraphIvfSql: String =
    s"""WITH $semCtes,
        ${semProbeSql(2)},
        cand AS (
          SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
          FROM sem_probe a JOIN sem_probe b
            ON b.cell = a.cell AND b.vec_id <> a.vec_id),
        scored AS (
          SELECT va AS vec_id, ea.label, vb AS neighbor_id,
                 list_cosine_similarity(eb.embedding::DOUBLE[], ea.embedding::DOUBLE[]) AS cos
          FROM cand JOIN embeddings ea ON ea.vec_id = va
                    JOIN embeddings eb ON eb.vec_id = vb AND eb.label = ea.label),
        r AS (
          SELECT vec_id, label, neighbor_id,
                 floor(cos * 10000) / 10000.0 AS cosine,
                 CAST(row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT vec_id, label, neighbor_id, cosine, rank FROM r
        WHERE rank <= $KnnGraphK ORDER BY vec_id, rank"""

  /** Matryoshka (MRL) prefix dims to audit: 8, 16, 32, full (64). */
  val MrlPrefixes = Seq(8, 16, 32, 64)

  /** Matryoshka-truncation QA — the read behind shipping MRL prefix
    * embeddings (Kusupati et al. 2022): for each prefix length, the
    * recall@k of prefix-cosine top-k against the full-dimension top-k,
    * over the fixed query set. The whole audit is ONE corpus pass: all
    * four prefix cosines ride the same (query, candidate) row (no
    * explode — `slice` + the shared dot arithmetic), four bounded
    * `graft_topk` aggregates share one shuffle keyed by query, and the
    * per-query overlap is driver-free array arithmetic on ≤k-element
    * lists. Queries are bounded (NumQueries), so corpus cost is
    * |queries| × N — linear, exactly the brute-force-baseline
    * discipline (`ann_bruteforce_topk`). */
  def matryoshkaTruncate: Q = (s, d) => {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = emb(s, d).select(col("vec_id").as("cid"), col("v").as("cv"))
    // zero-norm prefix guard: 0/0 would be NaN, which graft_topk drops
    // but SQL row_number ranks FIRST — the sentinel −2 (< any cosine)
    // ranks such candidates LAST identically in both engines
    def cosP(p: Int) = expr(
      s"CASE WHEN graft_dot(slice(qv, 1, $p), slice(qv, 1, $p)) * " +
        s"graft_dot(slice(cv, 1, $p), slice(cv, 1, $p)) = 0e0 THEN -2.0e0 " +
        s"ELSE graft_dot(slice(qv, 1, $p), slice(cv, 1, $p)) / " +
        s"(sqrt(graft_dot(slice(qv, 1, $p), slice(qv, 1, $p))) * " +
        s"sqrt(graft_dot(slice(cv, 1, $p), slice(cv, 1, $p)))) END").as(s"cos$p")
    val tops = q.join(c, col("qid") =!= col("cid"))
      .select(Seq(col("qid"), col("cid")) ++ MrlPrefixes.map(cosP): _*)
      .groupBy(col("qid"))
      .agg(expr(s"graft_topk(cos${MrlPrefixes.head}, cid, $TopK)")
        .as(s"t${MrlPrefixes.head}"),
        MrlPrefixes.tail.map(p =>
          expr(s"graft_topk(cos$p, cid, $TopK)").as(s"t$p")): _*)
      .select(Seq(col("qid")) ++ MrlPrefixes.map(p =>
        expr(s"transform(t$p, x -> x.id)").as(s"i$p")): _*)
    val stack = MrlPrefixes
      .map(p => s"$p, size(array_intersect(i$p, i${MrlPrefixes.last}))")
      .mkString(", ")
    tops
      .selectExpr("qid",
        s"stack(${MrlPrefixes.size}, $stack) AS (dim_prefix, n_match)")
      .groupBy(col("dim_prefix"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("n_match")).cast("long").as("n_matches"))
      .withColumn("recall", expr(
        s"floor(CAST(n_matches AS DOUBLE) / CAST(n_queries * $TopK AS DOUBLE) * 1e4) / 1e4"))
      .select(col("dim_prefix").cast("int").as("dim_prefix"), col("n_queries"),
        col("n_matches"), col("recall"))
  }

  val matryoshkaTruncateSql: String = {
    val cosCols = MrlPrefixes.map(p =>
      s"CASE WHEN list_inner_product(q.v[1:$p], q.v[1:$p]) * " +
        s"list_inner_product(c.v[1:$p], c.v[1:$p]) = 0 THEN -2.0 " +
        s"ELSE list_cosine_similarity(q.v[1:$p], c.v[1:$p]) END AS cos$p")
      .mkString(",\n                 ")
    val rankCols = MrlPrefixes.map(p =>
      s"CAST(row_number() OVER (PARTITION BY qid ORDER BY cos$p DESC, cid) AS INT) AS r$p")
      .mkString(",\n                 ")
    val listCols = MrlPrefixes.map(p =>
      s"list(cid ORDER BY r$p) FILTER (WHERE r$p <= $TopK) AS i$p").mkString(",\n                 ")
    val unions = MrlPrefixes.map(p =>
      s"SELECT $p AS dim_prefix, qid, len(list_intersect(i$p, i${MrlPrefixes.last})) AS n_match FROM t")
      .mkString("\n          UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
          SELECT q.vec_id AS qid, c.vec_id AS cid,
                 $cosCols
          FROM e q JOIN e c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries),
        r AS (
          SELECT qid, cid,
                 $rankCols
          FROM p),
        t AS (
          SELECT qid,
                 $listCols
          FROM r GROUP BY qid),
        u AS (
          $unions)
        SELECT dim_prefix, count(*) AS n_queries,
               CAST(sum(n_match) AS BIGINT) AS n_matches,
               floor(CAST(sum(n_match) AS DOUBLE)
                     / CAST(count(*) * $TopK AS DOUBLE) * 1e4) / 1e4 AS recall
        FROM u GROUP BY dim_prefix ORDER BY dim_prefix"""
  }

  // ---- DuckDB replays of the trained-quantizer paths -----------------
  //
  // The IVF/PQ entries were rows-only until the training step became
  // exactly replayable: Lloyd means are fixed-point integer sums
  // (order-independent) and ADC sums fold in fixed m order, so every
  // double the pipeline produces is a deterministic function of the
  // corpus — the oracle re-runs seed → assign → mean → encode → probe
  // → ADC → re-rank in SQL and must match bit-for-bit (cosines then
  // trunc4'd like every ANN entry).

  /** Σx²/2 of a SQL list, left-to-right like Scala's `.map(x*x).sum`. */
  private def halfNormSql(col: String): String =
    s"list_reduce(list_transform($col, x -> x*x), (a,b) -> a+b)/2.0"

  /** Fixed-point mean in SQL — mirrors `fixedMean` exactly:
    * (Σ floor(x·2^40) as exact int) → double / count / 2^40. */
  private val fixedMeanSql: String =
    "CAST(SUM(CAST(floor(x * 1099511627776.0) AS BIGINT)) AS DOUBLE)" +
      " / CAST(count(*) AS DOUBLE) / 1099511627776.0"

  /** CTE chain replaying the IVF coarse quantizer: seed centroids at
    * fixed corpus ids → one Lloyd step (assign, fixed-point mean) →
    * trained assignment + per-query NProbe probe list. */
  private lazy val ivfCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      norms AS (SELECT vec_id, list_inner_product(v, v) AS n2 FROM e),
      ivf_seed AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell, v AS cv
        FROM e WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + NumCells}),
      ivf_seed_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM ivf_seed),
      ivf_a0 AS (
        SELECT vec_id, cell, v FROM (
          SELECT e.vec_id, s.cell, e.v,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, s.cv) - s.chalf DESC, s.cell) AS rn
          FROM e CROSS JOIN ivf_seed_h s) t WHERE rn = 1),
      ivf_mean AS (
        SELECT cell, pos, $fixedMeanSql AS mv
        FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM ivf_a0) u
        GROUP BY cell, pos),
      ivf_cent AS (
        SELECT s.cell, COALESCE(t.cv, s.cv) AS cv
        FROM ivf_seed s LEFT JOIN
          (SELECT cell, list(mv ORDER BY pos) AS cv FROM ivf_mean GROUP BY cell) t
          USING (cell)),
      ivf_cent_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM ivf_cent),
      ivf_assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM e CROSS JOIN ivf_cent_h c) t WHERE rn = 1),
      ivf_probe AS (
        SELECT vec_id AS query_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM e CROSS JOIN ivf_cent_h c WHERE e.vec_id < $NumQueries) t
        WHERE rn <= $NProbe)"""

  /** Exact cosine re-rank of a (query_id, vec_id) candidate CTE —
    * shared epilogue of every trained-ANN replay. */
  private def rerankSql(candCte: String): String =
    s"""scored AS (
          SELECT c.query_id, c.vec_id AS neighbor_id,
                 list_inner_product(qe.v, ne.v)
                   / (sqrt(qn.n2) * sqrt(nn.n2)) AS cos
          FROM $candCte c
          JOIN e qe ON qe.vec_id = c.query_id
          JOIN e ne ON ne.vec_id = c.vec_id
          JOIN norms qn ON qn.vec_id = c.query_id
          JOIN norms nn ON nn.vec_id = c.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, floor(cos * 10000) / 10000.0 AS cosine, rank
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  lazy val ivfTopKSql: String =
    s"""WITH $ivfCtes,
        cand AS (
          SELECT DISTINCT p.query_id, a.vec_id
          FROM ivf_assign a JOIN ivf_probe p USING (cell)
          WHERE a.vec_id <> p.query_id),
        ${rerankSql("cand")}"""

  /** CTE chain replaying the PQ pipeline: per-subspace seed codebooks
    * → one Lloyd step → corpus codes + per-query ADC lookup table. */
  private lazy val pqCtes: String =
    s"""pq_sub AS (
        SELECT e.vec_id, t.m, e.v[t.m*$PqSubDim+1 : t.m*$PqSubDim+$PqSubDim] AS sub
        FROM e CROSS JOIN range(0, $PqM) t(m)),
      pq_seedvec AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) - 1 AS k, v
        FROM e WHERE vec_id >= $PqSeedBase AND vec_id < ${PqSeedBase + PqK}),
      pq_seed AS (
        SELECT t.m, s.k AS cell, s.v[t.m*$PqSubDim+1 : t.m*$PqSubDim+$PqSubDim] AS cv
        FROM pq_seedvec s CROSS JOIN range(0, $PqM) t(m)),
      pq_seed_h AS (SELECT m, cell, cv, ${halfNormSql("cv")} AS chalf FROM pq_seed),
      pq_a0 AS (
        SELECT vec_id, m, cell AS code, sub FROM (
          SELECT s.vec_id, s.m, c.cell, s.sub,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY list_inner_product(s.sub, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM pq_sub s JOIN pq_seed_h c USING (m)) t WHERE rn = 1),
      pq_mean AS (
        SELECT m, code, pos, $fixedMeanSql AS mv
        FROM (SELECT m, code, unnest(sub) AS x, generate_subscripts(sub, 1) AS pos
              FROM pq_a0) u
        GROUP BY m, code, pos),
      pq_cb AS (
        SELECT s.m, s.cell, COALESCE(t.cv, s.cv) AS cv
        FROM pq_seed s LEFT JOIN
          (SELECT m, code AS cell, list(mv ORDER BY pos) AS cv
           FROM pq_mean GROUP BY m, code) t
          ON s.m = t.m AND s.cell = t.cell),
      pq_cb_h AS (SELECT m, cell, cv, ${halfNormSql("cv")} AS chalf FROM pq_cb),
      pq_codes AS (
        SELECT vec_id, m, cell AS code FROM (
          SELECT s.vec_id, s.m, c.cell,
                 row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY list_inner_product(s.sub, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM pq_sub s JOIN pq_cb_h c USING (m)) t WHERE rn = 1),
      pq_lut AS (
        SELECT q.vec_id AS query_id, q.m, c.cell AS code,
               list_inner_product(q.sub, c.cv) AS contrib
        FROM pq_sub q JOIN pq_cb_h c USING (m) WHERE q.vec_id < $NumQueries)"""

  /** ADC scores + top-PqCandidates cut for a given candidate join —
    * `extraJoins` narrows the corpus side (empty for plain PQ, the
    * probed-cells join for IVFPQ). */
  private def pqCandSql(extraJoins: String): String =
    s"""pq_adot AS (
          SELECT l.query_id, c.vec_id,
                 list_reduce(list(l.contrib ORDER BY l.m), (a,b) -> a+b) AS adot
          FROM pq_codes c
          JOIN pq_lut l ON l.m = c.m AND l.code = c.code
          $extraJoins
          WHERE c.vec_id <> l.query_id
          GROUP BY l.query_id, c.vec_id),
        cand AS (
          SELECT query_id, vec_id FROM (
            SELECT a.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY a.query_id
                     ORDER BY a.adot / (sqrt(qn.n2) * sqrt(nn.n2)) DESC, a.vec_id) AS rn
            FROM pq_adot a
            JOIN norms qn ON qn.vec_id = a.query_id
            JOIN norms nn ON nn.vec_id = a.vec_id) t
          WHERE rn <= $PqCandidates)"""

  /** Plain PQ replay — also the oracle for `ann_pq_packed`: the packed
    * variant is the same function over a bit-packed codes layout (its
    * sequence fold and this entry's m-ordered fold add the identical
    * contribution sequence), so one replay certifies both. */
  lazy val pqTopKSql: String =
    s"""WITH $ivfHeaderCtes,
        $pqCtes,
        ${pqCandSql("")},
        ${rerankSql("cand")}"""

  /** IVFPQ replay: PQ ADC scoring restricted to the query's probed
    * coarse cells. */
  lazy val ivfPqTopKSql: String =
    s"""WITH $ivfCtes,
        $pqCtes,
        ${pqCandSql(
      """JOIN ivf_assign ia ON ia.vec_id = c.vec_id
          JOIN ivf_probe p ON p.cell = ia.cell AND p.query_id = l.query_id""")},
        ${rerankSql("cand")}"""

  /** Just the corpus/norm prologue of `ivfCtes`, for the PQ-only
    * replay (which needs no coarse quantizer). */
  private lazy val ivfHeaderCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      norms AS (SELECT vec_id, list_inner_product(v, v) AS n2 FROM e)"""

  val RrfDepth = 20
  val RrfK = 60
  val RrfTopK = 5

  /** Hybrid retrieval with reciprocal-rank fusion — the modern search
    * read (lexical recall + vector semantics, fused without score
    * calibration): rank candidates twice — exact cosine over
    * embeddings, token-overlap over the paired documents — and fuse as
    * Σ 1/(RrfK + rank), a function of RANKS only, which is why RRF
    * needs no per-modality score normalization. Both rankings are
    * bounded (`graft_topk` depth 20); the lexical candidate join is an
    * equi-join on tokens (at corpus scale the token lists get the same
    * document-frequency cap as `dedup_ngram_jaccard` — heavy tokens
    * pair everything and rank nothing). Missing from one list = that
    * term contributes 0. All divisions are 1/(60+smallint): a discrete
    * value set, deterministic cross-engine; ties break by doc id. */
  def hybridRrf: Q = (s, d) => {
    val all = emb(s, d)
    // vector ranking: exact cosine, depth RrfDepth
    val vecRanks = all.join(broadcast(queryVecs(all)), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cos, vec_id, $RrfDepth)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("vec_rank"))
    // lexical ranking: distinct-token overlap with the query document
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), explode(expr(s"array_distinct(${TextAnalysis.toksExpr})")).as("t"))
    val qToks = toks.filter(col("doc_id") < NumQueries)
      .select(col("doc_id").as("query_id"), col("t"))
    val lexRanks = toks.join(qToks, Seq("t"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cast(overlap as double), doc_id, $RrfDepth)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (col("pos") + 1).cast("long").as("lex_rank"))
    vecRanks.join(lexRanks, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("lex_rank")), lit(0.0)))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(rrf, doc_id, $RrfTopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("doc_id"),
        (floor(col("col.score") * 1e6) / 1e6).as("rrf_score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  lazy val hybridRrfSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        vec AS (
          SELECT query_id, doc_id, vec_rank FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY list_inner_product(q.v, c.v)
                              / (sqrt(list_inner_product(q.v, q.v))
                                 * sqrt(list_inner_product(c.v, c.v))) DESC,
                              c.vec_id) AS vec_rank
            FROM e q JOIN e c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < $NumQueries) t WHERE vec_rank <= $RrfDepth),
        toks AS (SELECT doc_id, unnest(list_distinct(${TextAnalysis.toksSqlExpr})) AS t
                 FROM documents),
        ov AS (
          SELECT q.doc_id AS query_id, c.doc_id, count(*) AS overlap
          FROM toks c JOIN (SELECT doc_id, t FROM toks WHERE doc_id < $NumQueries) q
            USING (t)
          WHERE c.doc_id <> q.doc_id
          GROUP BY 1, 2),
        lex AS (
          SELECT query_id, doc_id, lex_rank FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY overlap DESC, doc_id) AS lex_rank
            FROM ov) t WHERE lex_rank <= $RrfDepth),
        fused AS (
          SELECT COALESCE(v.query_id, l.query_id) AS query_id,
                 COALESCE(v.doc_id, l.doc_id) AS doc_id,
                 COALESCE(1.0e0 / ($RrfK + v.vec_rank), 0.0e0)
                   + COALESCE(1.0e0 / ($RrfK + l.lex_rank), 0.0e0) AS rrf
          FROM vec v FULL OUTER JOIN lex l
            ON v.query_id = l.query_id AND v.doc_id = l.doc_id),
        ranked AS (
          SELECT query_id, doc_id, rrf,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf DESC, doc_id) AS INT) AS rank
          FROM fused)
        SELECT query_id, doc_id, floor(rrf * 1e6) / 1e6 AS rrf_score, rank
        FROM ranked WHERE rank <= $RrfTopK ORDER BY query_id, rank"""

  /** Seed + Lloyd-train an IVF codebook over an arbitrary corpus
    * subset: seeds are the NumCells LOWEST vec_ids ≥ SeedBase present
    * in the subset (for the full corpus this is exactly the contiguous
    * id block `ivfCentroidDf` uses, so both spellings train the same
    * codebook). K-row collect; training shuffles are `lloydStep`'s. */
  private def trainCentroids(all: DataFrame, k: Int = NumCells): Array[Array[Double]] = {
    val seeds = all.filter(col("vec_id") >= SeedBase)
      .orderBy(col("vec_id")).limit(k)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.length == k, s"need $k seed vectors ≥ $SeedBase")
    (1 to LloydIters).foldLeft(seeds)((c, _) => lloydStep(all, c))
  }

  /** Index-drift profile between two corpus vintages — the staleness
    * read run before deciding whether a 100 TB ANN index needs a
    * rebuild: codebook OLD is trained on the previous vintage (here
    * the even-id half, standing in for "the corpus at last build"),
    * codebook NEW on the full corpus (shared with `ann_ivf_topk` via
    * the training memo — no extra training job). Every vector is
    * assigned under both; per cell: population under each codebook,
    * how many vectors kept their cell id, and the stay share. High
    * churn ⇒ the coarse quantizer no longer matches the data
    * distribution ⇒ probe recall degrades ⇒ rebuild. Both trainings
    * are the deterministic fixed-point Lloyd, so the DuckDB oracle
    * replays seed→assign→mean→assign for BOTH codebooks and
    * hash-matches the churn matrix exactly. Scale: two broadcast-
    * codebook argmax passes + one vec_id-keyed join + two K-row aggs. */
  def indexDrift: Q = (s, d) => {
    val all = emb(s, d)
    val oldCdf = codebookMemo.getOrElseUpdate((d, "ivf_old"),
      centroidDf(s, trainCentroids(all.filter(col("vec_id") % 2 === 0))))
    val newCdf = ivfCentroidDf(s, d, all)
    // referenced by both marginal aggregates below: one cut = the two
    // corpus×centroid assignment passes run once, not twice
    val j = graft.Checkpoints.cutLazy(
      assign(all, oldCdf).select(col("vec_id"), col("cell").as("cell_old"))
        .join(assign(all, newCdf).select(col("vec_id"), col("cell").as("cell_new")),
          Seq("vec_id")))
    val po = j.groupBy(col("cell_old").as("cell"))
      .agg(count(lit(1)).as("n_old"),
        count(when(col("cell_new") === col("cell_old"), 1)).as("n_stay"))
    val pn = j.groupBy(col("cell_new").as("cell")).agg(count(lit(1)).as("n_new"))
    newCdf.select(col("cell"))
      .join(broadcast(po), Seq("cell"), "left")
      .join(broadcast(pn), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_stay"), lit(0L)).as("n_stay"),
        when(coalesce(col("n_old"), lit(0L)) === 0, lit(null).cast("double"))
          .otherwise(trunc4(col("n_stay").cast("double") / col("n_old").cast("double")))
          .as("stay_share"))
  }

  lazy val indexDriftSql: String =
    s"""WITH $ivfCtes,
        old_corpus AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
        old_seed AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS cell, v AS cv
          FROM (SELECT vec_id, v FROM old_corpus WHERE vec_id >= $SeedBase
                ORDER BY vec_id LIMIT $NumCells) s),
        old_seed_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM old_seed),
        old_a0 AS (
          SELECT vec_id, cell, v FROM (
            SELECT c.vec_id, s.cell, c.v,
                   row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY list_inner_product(c.v, s.cv) - s.chalf DESC, s.cell) AS rn
            FROM old_corpus c CROSS JOIN old_seed_h s) t WHERE rn = 1),
        old_mean AS (
          SELECT cell, pos, $fixedMeanSql AS mv
          FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos
                FROM old_a0) u
          GROUP BY cell, pos),
        old_cent AS (
          SELECT s.cell, COALESCE(t.cv, s.cv) AS cv
          FROM old_seed s LEFT JOIN
            (SELECT cell, list(mv ORDER BY pos) AS cv FROM old_mean GROUP BY cell) t
            USING (cell)),
        old_cent_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM old_cent),
        old_assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
            FROM e CROSS JOIN old_cent_h c) t WHERE rn = 1),
        drift AS (
          SELECT o.vec_id, o.cell AS cell_old, n.cell AS cell_new
          FROM old_assign o JOIN ivf_assign n USING (vec_id)),
        po AS (SELECT cell_old AS cell, count(*) AS n_old,
                      count(*) FILTER (WHERE cell_new = cell_old) AS n_stay
               FROM drift GROUP BY 1),
        pn AS (SELECT cell_new AS cell, count(*) AS n_new FROM drift GROUP BY 1)
        SELECT c.cell,
               CAST(COALESCE(po.n_old, 0) AS BIGINT) AS n_old,
               CAST(COALESCE(pn.n_new, 0) AS BIGINT) AS n_new,
               CAST(COALESCE(po.n_stay, 0) AS BIGINT) AS n_stay,
               floor(CAST(COALESCE(po.n_stay, 0) AS DOUBLE)
                     / CAST(NULLIF(po.n_old, 0) AS DOUBLE) * 10000) / 10000.0 AS stay_share
        FROM ivf_cent c LEFT JOIN po USING (cell) LEFT JOIN pn USING (cell)
        ORDER BY c.cell"""

  /** Cosine threshold for semantic dedup — applied to the TRUNCATED
    * cosine so the keep/drop boundary is the same floored value in
    * both engines (the `dedup_embedding_cosine` idiom). */
  val SemTau = 0.35

  /** Corpus-row-count memo (per data dir) for the scaled quantizer —
    * one parquet-count action, a 1-row bound like the zorder stats. */
  private val corpusCountMemo = new scala.collection.concurrent.TrieMap[String, Long]

  /** SemDeDup cell budget: K = max(NumCells, ceil(N / SemTargetCell)),
    * so E|cell| stays ~SemTargetCell at ANY corpus size and the
    * within-cell pair stage is Σ|cell|² ≈ N·SemTargetCell — linear in
    * the corpus, which is the published SemDeDup recipe (K ∝ corpus).
    * A K fixed at test scale grows cells ∝ N and the pair stage ∝ N²
    * (the r9 sf1 probe's 4.2×/6.7× superlinear entries). At the gate
    * scales (N ≤ 2000) this reduces to NumCells and shares the ANN
    * entries' trained codebook. */
  val SemTargetCell = 125
  def semCellCount(n: Long): Int =
    math.max(NumCells, math.ceil(n.toDouble / SemTargetCell).toInt)

  /** The corpus-scaled coarse quantizer for the dedup entries. */
  private def semCentroidDf(s: SparkSession, d: String, all: DataFrame): DataFrame = {
    val k = semCellCount(corpusCountMemo.getOrElseUpdate(d, all.count()))
    if (k == NumCells) ivfCentroidDf(s, d, all)
    else codebookMemo.getOrElseUpdate((d, s"sem$k"),
      centroidDf(s, trainCentroids(all, k)))
  }

  /** (vec_id, cell, v, n2) under the corpus-scaled quantizer — the
    * blocking key `dedup_embedding_cosine` (Dedup.scala) shares. */
  def semAssign(s: SparkSession, d: String): DataFrame = {
    val all = emb(s, d)
    assign(all, semCentroidDf(s, d, all))
  }

  /** Multi-probe assignment under the corpus-scaled quantizer: one row
    * per (vector, cell) for the vector's `nprobe` best cells — the
    * standard recall repair for cell-blocked candidate generation
    * (boundary vectors appear in both neighboring cells, so near-dup
    * pairs straddling a Voronoi edge stay candidates). Candidate
    * volume grows by ≤ nprobe², still linear in the corpus. */
  def semProbe(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val all = emb(s, d)
    scored(all, semCentroidDf(s, d, all))
      .groupBy(col("vec_id"))
      .agg(expr(s"graft_topk(score, cell, $nprobe)").as("pc"),
        first(col("label")).as("label"), first(col("v")).as("v"),
        first(col("n2")).as("n2"))
      .select(col("vec_id"), col("label"), col("v"), col("n2"),
        explode(col("pc")).as("p"))
      .select(col("vec_id"), col("label"), col("p").getField("id").as("cell"),
        col("v"), col("n2"))
  }

  /** SQL replay of [[semProbe]] — compose after [[semCtes]]. */
  def semProbeSql(nprobe: Int): String =
    s"""sem_probe AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM e CROSS JOIN sem_cent_h c) t WHERE rn <= $nprobe)"""

  /** CTE chain replaying the corpus-scaled quantizer: K is computed IN
    * SQL from the same count/budget rule, so the oracle trains exactly
    * the K the engine picked at any corpus size (the seed rule "K
    * lowest vec_ids ≥ SeedBase" equals the fixed-window ivf_seed when
    * K = NumCells and seed ids are contiguous, which SimilaritySpec
    * asserts via the shared-codebook hash). */
  lazy val semCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      norms AS (SELECT vec_id, list_inner_product(v, v) AS n2 FROM e),
      kk AS (SELECT greatest($NumCells,
               CAST(ceil(count(*) / ${SemTargetCell}.0) AS BIGINT)) AS k FROM e),
      sem_seed AS (
        SELECT s.rn AS cell, s.cv FROM (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) AS BIGINT) AS rn, v AS cv
          FROM e WHERE vec_id >= $SeedBase) s CROSS JOIN kk WHERE s.rn <= kk.k),
      sem_seed_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM sem_seed),
      sem_a0 AS (
        SELECT vec_id, cell, v FROM (
          SELECT e.vec_id, s.cell, e.v,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, s.cv) - s.chalf DESC, s.cell) AS rn
          FROM e CROSS JOIN sem_seed_h s) t WHERE rn = 1),
      sem_mean AS (
        SELECT cell, pos, $fixedMeanSql AS mv
        FROM (SELECT cell, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM sem_a0) u
        GROUP BY cell, pos),
      sem_cent AS (
        SELECT s.cell, COALESCE(t.cv, s.cv) AS cv
        FROM sem_seed s LEFT JOIN
          (SELECT cell, list(mv ORDER BY pos) AS cv FROM sem_mean GROUP BY cell) t
          USING (cell)),
      sem_cent_h AS (SELECT cell, cv, ${halfNormSql("cv")} AS chalf FROM sem_cent),
      sem_assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cell,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
          FROM e CROSS JOIN sem_cent_h c) t WHERE rn = 1)"""

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with the
    * CORPUS-SCALED coarse quantizer (K = max(NumCells,
    * ceil(N/SemTargetCell)) — at gate scales this IS the trained IVF
    * codebook the ANN entries share, via the codebook memo), then mark
    * a vector a duplicate if some LOWER-id member of ITS OWN cell has
    * cosine ≥ τ. Candidate pairs are cell-bounded and K grows with the
    * corpus to hold E|cell| flat, so the pair stage is Σ|cell|² ≈
    * N·SemTargetCell — linear, exactly the published SemDeDup recipe
    * (k-means first, ε-dedup within cluster only). Keeper = lowest
    * id, like every dedup entry; output is one row per vector with
    * its cell, keep flag, canonical `dup_of`, and best within-cell
    * cosine. Everything after the (deterministic, fixed-point-Lloyd)
    * training is joins + one agg; the DuckDB oracle replays training —
    * INCLUDING the K rule, computed in SQL from the same count — and
    * the pair pass bit-for-bit. */
  def semanticDedup: Q = (s, d) => {
    // corpus-scaled K (see semCellCount) + a lineage cut: the
    // assignment feeds both pair sides and the final left join — three
    // consumers must not re-run the quantizer scoring
    val asg = graft.Checkpoints.cut(semAssign(s, d))
    val a = asg.select(col("cell"), col("vec_id").as("va"),
      col("v").as("av"), col("n2").as("an2"))
    val b = asg.select(col("cell").as("cell_b"), col("vec_id").as("vb"),
      col("v").as("bv"), col("n2").as("bn2"))
    val dup = a.join(b, col("cell") === col("cell_b") && col("vb") < col("va"))
      .withColumn("cos",
        trunc4(expr("graft_dot(av, bv)") / (sqrt(col("an2")) * sqrt(col("bn2")))))
      .filter(col("cos") >= SemTau)
      .groupBy(col("va").as("vec_id"))
      .agg(min(col("vb")).as("dup_of"), max(col("cos")).as("max_cos"))
    asg.select(col("vec_id"), col("cell"))
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("max_cos"))
  }

  lazy val semanticDedupSql: String =
    s"""WITH $semCtes,
        simp AS (
          SELECT a.vec_id AS va, b.vec_id AS vb,
                 floor(list_inner_product(ea.v, eb.v)
                       / (sqrt(na.n2) * sqrt(nb.n2)) * 10000) / 10000.0 AS cos
          FROM sem_assign a JOIN sem_assign b
            ON b.cell = a.cell AND b.vec_id < a.vec_id
          JOIN e ea ON ea.vec_id = a.vec_id
          JOIN e eb ON eb.vec_id = b.vec_id
          JOIN norms na ON na.vec_id = a.vec_id
          JOIN norms nb ON nb.vec_id = b.vec_id),
        dup AS (
          SELECT va AS vec_id, min(vb) AS dup_of, max(cos) AS max_cos
          FROM simp WHERE cos >= $SemTau GROUP BY va)
        SELECT g.vec_id, g.cell, d.vec_id IS NULL AS keep, d.dup_of, d.max_cos
        FROM sem_assign g LEFT JOIN dup d USING (vec_id)
        ORDER BY g.vec_id"""

  /** Recall@k evaluation of the LSH index against exact brute force —
    * the measurement loop any ANN deployment runs before trusting an
    * approximate index. Both arms are THIS engine's own entries
    * (`ann_bruteforce_topk` as ground truth, `ann_lsh_topk` as the
    * candidate), so the oracle composes their two already-verified SQL
    * bodies and the hash match certifies the recall arithmetic, not
    * just the arms. Counts are exact; recall is one floored division.
    * At 100 TB the truth arm runs on a sampled query set (here: the
    * fixed 8-query panel) — recall estimation never needs the full
    * corpus as queries. */
  def recallEval: Q = (s, d) => {
    val truth = bruteForceTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val approx = lshTopK(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        floor(col("n_hit").cast("double") / col("n_truth").cast("double") * 1e4) / 1e4)
  }

  lazy val recallEvalSql: String =
    s"""WITH truth AS (SELECT query_id, neighbor_id FROM ($bruteForceTopKSql)),
        approx AS (SELECT query_id, neighbor_id FROM ($lshTopKSql))
        SELECT t.query_id, count(*) AS n_truth,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hit,
               floor(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                       AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1e4) / 1e4 AS recall
        FROM truth t LEFT JOIN approx a
          ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
        GROUP BY t.query_id ORDER BY t.query_id"""

  val GsBeam = 8
  val GsHops = 4
  /** Search-graph degree: richer than the ann_knn_graph artifact's
    * K=3 (HNSW-style M) — recall@5 at these settings is 0.975 on the
    * sf0.01 panel vs 0.25 with the K=3/3-hop/beam-5 minimum. */
  val GsK = 8

  /** Greedy beam search over the kNN graph — the graph-index ANN
    * family (NSW/HNSW's base-layer search discipline) alongside the
    * IVF/PQ/LSH entries: start at a deterministic entry node (the
    * smallest corpus id in the query's block), then HOPS rounds of
    * expand-neighbors → score → keep the BEAM best per query. Each
    * round is one equi-join of the (queries × beam)-row frontier
    * against the edge list plus one bounded `graft_topk` aggregate —
    * at 100 TB the frontier stays Q×B rows regardless of corpus size.
    * The edge build is the ann_knn_graph shape at degree [[GsK]], and
    * uses the SAME [[KnnGraphCap]] (label, shard) population cap: a
    * label block past the cap is content-hash-sharded so the pair
    * stage stays Σ|shard|² ≈ N·Cap — LINEAR — where the uncapped
    * label-only self-join grows Σ|block|² (the r12 verdict's one
    * remaining quadratic; every shipped SF is single-shard below the
    * cap, so the graph — and the oracle hash — is EXACTLY the uncapped
    * in-block kNN there, and the oracle applies the identical hash
    * rule at every scale). The oracle unrolls the hops as CTEs with
    * the identical expand/score/row_number discipline, so the hash
    * certifies the whole search trajectory, not just the end state. */
  /** ann_graph_search's edge build, PRE-cut (src → dst at degree
    * [[GsK]]): the ann_knn_graph construction sharing knnGraph's cap
    * key (same "knn:" salt → same shards). Exposed so SimilaritySpec can
    * assert the (label, shard) equi-key on the edge plan — the eager
    * checkpoint cut inside [[graphSearch]] hides it from the entry's
    * own plan. */
  def gsEdges(s: SparkSession, d: String): DataFrame =
    knnShardPairs(s, d)
      .groupBy(col("vec_id"))
      .agg(expr(s"graft_topk(cos, nb_id, $GsK)").as("top"))
      .select(col("vec_id").as("src"), posexplode(col("top")))
      .select(col("src"), col("col.id").as("dst"))

  /** The kNN graph builds' candidate pairs with their cosine `cos`:
    * each vector against every other vector (nb_id, qv, qn2) of its
    * (label, shard), where the "knn:"-salted hash splits a label into
    * shards of at most [[KnnGraphCap]] vectors. */
  private def knnShardPairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val blockW = Window.partitionBy(col("label"))
    val sharded = emb(s, d).withColumn("shard", pmod(
      conv(substring(md5(concat(lit("knn:"), col("vec_id").cast("string"))), 1, 15), 16, 10)
        .cast("long"),
      ceil(count(lit(1)).over(blockW) / lit(KnnGraphCap.toDouble)).cast("long")))
    val right = sharded.select(col("label").as("nb_label"), col("shard").as("nb_shard"),
      col("vec_id").as("nb_id"), col("v").as("qv"), col("n2").as("qn2"))
    sharded.join(right,
        col("label") === col("nb_label") && col("shard") === col("nb_shard") &&
          col("vec_id") =!= col("nb_id"))
      .withColumn("cos", expr(dotExpr) / (sqrt(col("qn2")) * sqrt(col("n2"))))
  }

  def graphSearch: Q = (s, d) => {
    // r16 note: the eager→lazy cut switch (which paid on
    // graph_kcore/pagerank in r15) was implemented here and MEASURED
    // WORSE — interleaved A/B medians 6.25 vs 6.00 / 5.70 vs 5.17 s at
    // 32 cores (the one final mega-job peaks execution memory across
    // the edge build + all four hop frontiers at once, where the eager
    // per-hop jobs pipeline their memory). Kept eager; recorded per
    // guide §1.3.
    val all = emb(s, d)
    val edges = graft.Checkpoints.cut(gsEdges(s, d))
    val qp = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("pv"), col("n2").as("pn2"))
    val entry = all.select(col("vec_id"), col("label"))
      .join(broadcast(qp.select(col("query_id"), col("qlabel"))),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id")).agg(min(col("vec_id")).as("node"))
    val corpus = all.select(col("vec_id").as("cid"), col("v").as("cv"), col("n2").as("cn2"))
    var frontier = entry.select(col("query_id"), col("node"))
    var lastTop: DataFrame = null
    for (_ <- 1 to GsHops) {
      // r16 measured-and-rejected: explicit broadcast(frontier) /
      // broadcast(expanded) hints (the frontier is Q×B-bounded by
      // construction, so they are the scale-correct build sides where
      // the cut-erased stats make the planner sort-merge-join each hop)
      // ran 1.20× at sf0.1 AND 1.31× at sf1 — each hint's broadcast
      // subplan executes as its own blocking job, serializing the hop
      // pipeline, which costs more at local scales than the tiny
      // per-hop edge shuffle it removes. At cluster scale the right
      // lever is a statistics-bearing frontier (or AQE's runtime SMJ→
      // BHJ rewrite), not a hardcoded hint that taxes every scale this
      // harness can measure (guide §1.3: record the negative result).
      val expanded = frontier.join(edges, col("node") === col("src"))
        .select(col("query_id"), col("dst").as("node"))
        .unionByName(frontier)
        .filter(col("node") =!= col("query_id"))
        .distinct()
      val scored = expanded
        .join(corpus, col("node") === col("cid"))
        .join(broadcast(qp), Seq("query_id"))
        .withColumn("cos",
          expr("graft_dot(pv, cv)") / (sqrt(col("pn2")) * sqrt(col("cn2"))))
      lastTop = scored.groupBy(col("query_id"))
        .agg(expr(s"graft_topk(cos, node, $GsBeam)").as("top"))
      frontier = graft.Checkpoints.cut(
        lastTop.select(col("query_id"), posexplode(col("top")))
          .select(col("query_id"), col("col.id").as("node")))
    }
    lastTop.select(col("query_id"), posexplode(col("top")))
      .filter(col("pos") < TopK)
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("cosine"), (col("pos") + 1).cast("int").as("rank"))
  }

  lazy val graphSearchSql: String = {
    val hops = (1 to GsHops).map { h =>
      s"""x$h AS (
            SELECT DISTINCT query_id, node FROM (
              SELECT f.query_id, e.dst AS node
              FROM f${h - 1} f JOIN eg e ON f.node = e.src
              UNION ALL
              SELECT query_id, node FROM f${h - 1}) u
            WHERE node <> query_id),
          s$h AS (
            SELECT query_id, node, cos,
                   CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, node) AS INT) AS rk
            FROM (SELECT x.query_id, x.node,
                         list_cosine_similarity(q.qv, c.v) AS cos
                  FROM x$h x JOIN e0 c ON c.vec_id = x.node
                             JOIN q USING (query_id)) t),
          f$h AS (SELECT query_id, node FROM s$h WHERE rk <= $GsBeam)"""
    }.mkString(",\n")
    s"""WITH e0 AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v,
                 ('0x' || substr(md5('knn:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
                   % CAST(ceil(count(*) OVER (PARTITION BY label)
                               / ${KnnGraphCap}.0) AS BIGINT) AS shard
          FROM embeddings),
        eg AS (
          SELECT vec_id AS src, nb AS dst FROM (
            SELECT a.vec_id, b.vec_id AS nb,
                   row_number() OVER (PARTITION BY a.vec_id
                     ORDER BY list_cosine_similarity(b.v, a.v) DESC, b.vec_id) AS rank
            FROM e0 a JOIN e0 b ON b.label = a.label AND b.shard = a.shard
                               AND b.vec_id <> a.vec_id) t
          WHERE rank <= $GsK),
        q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
              FROM e0 WHERE vec_id < $NumQueries),
        entry AS (
          SELECT q.query_id, CAST(min(c.vec_id) AS BIGINT) AS node
          FROM q JOIN e0 c ON c.label = q.qlabel AND c.vec_id <> q.query_id
          GROUP BY 1),
        f0 AS (SELECT query_id, node FROM entry),
        $hops
        SELECT query_id, node AS neighbor_id,
               floor(cos * 10000) / 10000.0 AS cosine, rk AS rank
        FROM s$GsHops WHERE rk <= $TopK ORDER BY query_id, rank"""
  }

  val IvfTuneProbes = Seq(1, 2, 4, 8)

  /** IVF nprobe sweep — the OTHER index-design decision beside the
    * LSH (b,r) knob (`dedup_lsh_tuning`): from ONE trained quantizer,
    * probe at nprobe ∈ {1,2,4,8} and report candidate volume, the
    * scan share of the corpus each query actually touches (the cost
    * axis), and coverage of the exact top-k truth (the recall axis).
    * Probe lists NEST by construction (rank ≤ p), so volume and
    * coverage are provably monotone in nprobe; the ledger turns the
    * recall/latency S-curve into measured numbers against this
    * corpus's own cell-population skew. */
  def ivfTuning: Q = (s, d) => {
    val all = emb(s, d)
    val cdf = ivfCentroidDf(s, d, all)
    val corpus = graft.Checkpoints.cut(
      assign(all, cdf).select(col("cell"), col("vec_id")))
    val probes = graft.Checkpoints.cut(
      scored(all.filter(col("vec_id") < NumQueries), cdf)
        .groupBy(col("vec_id"))
        .agg(expr(s"graft_topk(score, cell, ${IvfTuneProbes.max})").as("pc"))
        .select(col("vec_id").as("query_id"), posexplode(col("pc")))
        .select(col("query_id"), col("col.id").as("cell"), (col("pos") + 1).as("prank")))
    val truth = graft.Checkpoints.cut(
      bruteForceTopK(s, d).select(col("query_id"),
        col("neighbor_id").as("vec_id")))
    val nCorpus = all.agg(count(lit(1)).as("n_corpus"))
    // the probe configs are NESTED (a pair is a candidate at probe p
    // iff its best probe rank ≤ p), so ONE candidate pass with
    // min(prank) per pair + conditional counts replaces the old
    // per-config join+distinct+three-broadcast chain ×4 — identical
    // counts, a quarter of the jobs (guide §2.4)
    val candm = graft.Checkpoints.cutLazy(
      corpus.join(probes, Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(min(col("prank")).as("mp")))
    def perProbe(df: DataFrame, name: String): DataFrame = df.agg(
      IvfTuneProbes.map(p => count(when(col("mp") <= p, 1)).as(s"${name}_$p")).head,
      IvfTuneProbes.map(p => count(when(col("mp") <= p, 1)).as(s"${name}_$p")).tail: _*)
    val counts = perProbe(candm, "nc")
    val caught = perProbe(candm.join(truth, Seq("query_id", "vec_id"), "left_semi"), "ng")
    val stackArgs = IvfTuneProbes.map(p => s"$p, nc_$p, ng_$p").mkString(", ")
    counts.crossJoin(broadcast(caught))
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .crossJoin(broadcast(nCorpus))
      .selectExpr(s"stack(${IvfTuneProbes.size}, $stackArgs) as (nprobe, n_candidates, n_caught)",
        "n_truth", "n_corpus")
      .select(col("nprobe"), col("n_candidates"), col("n_caught"), col("n_truth"),
        (floor(col("n_caught").cast("double") / col("n_truth").cast("double") * 1e4)
          / 1e4).as("coverage"),
        (floor(col("n_candidates").cast("double")
          / (lit(NumQueries) * (col("n_corpus") - 1)).cast("double") * 1e4) / 1e4)
          .as("scan_share"))
  }

  lazy val ivfTuningSql: String = {
    val pmax = IvfTuneProbes.max
    val configs = IvfTuneProbes.map { p =>
      s"""cand_$p AS (
            SELECT DISTINCT pr.query_id, a.vec_id
            FROM ivf_assign a JOIN ivf_probe_t pr USING (cell)
            WHERE pr.prank <= $p AND a.vec_id <> pr.query_id),
          st_$p AS (
            SELECT CAST($p AS INT) AS nprobe,
                   (SELECT count(*) FROM cand_$p) AS n_candidates,
                   (SELECT count(*) FROM cand_$p c SEMI JOIN truth t
                      ON c.query_id = t.query_id AND c.vec_id = t.vec_id) AS n_caught,
                   (SELECT count(*) FROM truth) AS n_truth)"""
    }.mkString(",\n")
    val union = IvfTuneProbes.map(p => s"SELECT * FROM st_$p").mkString(" UNION ALL ")
    s"""WITH $ivfCtes,
        ivf_probe_t AS (
          SELECT vec_id AS query_id, cell, rn AS prank FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY list_inner_product(e.v, c.cv) - c.chalf DESC, c.cell) AS rn
            FROM e CROSS JOIN ivf_cent_h c WHERE e.vec_id < $NumQueries) t
          WHERE rn <= $pmax),
        truth AS (
          SELECT query_id, neighbor_id AS vec_id FROM ($bruteForceTopKSql)),
        nc AS (SELECT count(*) AS n_corpus FROM e),
        $configs
        SELECT nprobe, n_candidates, n_caught, n_truth,
               floor(CAST(n_caught AS DOUBLE) / CAST(n_truth AS DOUBLE) * 1e4) / 1e4
                 AS coverage,
               floor(CAST(n_candidates AS DOUBLE)
                     / CAST($NumQueries * (nc.n_corpus - 1) AS DOUBLE) * 1e4) / 1e4
                 AS scan_share
        FROM ($union) u, nc ORDER BY nprobe"""
  }

  val SqDim = 64

  /** Scalar-quantization ANN (the FAISS SQ8 index shape): each of the
    * 64 dims is mapped to one uint8 code against per-dim [min, max]
    * trained from the corpus, and queries are quantized the SAME way so
    * the search distance is the SYMMETRIC integer Σ(qc−c)² — exact
    * BIGINT arithmetic end to end, no float in the ranking, which is
    * what makes this the one ANN entry whose FULL search (not just a
    * re-rank) is hash-certified. At 100 TB the codes column is
    * 64 B/vector vs 256 B of floats (4× scan compression, int8 SIMD on
    * a real executor), the per-dim stats are a 64-row broadcast model
    * (sampled in production), and the search is the same broadcast-
    * queries × one-corpus-pass shape as `ann_bruteforce_topk` with
    * `graft_topk`'s bounded per-partition state. Train/encode/search
    * replay exactly in the oracle: min/max are corpus-derived doubles
    * (float→double widening exact), the code formula is one fixed IEEE
    * sequence spelled identically in both engines, and every
    * comparison after encoding is integer. */
  def sq8TopK: Q = (s, d) => {
    val all = emb(s, d)
    // per-dim [min, max] folded into ONE broadcastable row of two
    // pos-ordered arrays (the bounded-model idiom, kept lazy)
    val stats = all.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, mn))), p -> p.mn)").as("mins"),
        expr("transform(sort_array(collect_list(struct(pos, mx))), p -> p.mx)").as("maxs"))
    val codeExpr =
      s"""transform(sequence(1, $SqDim), i ->
            CASE WHEN element_at(maxs, i) > element_at(mins, i)
                 THEN least(cast(255 as bigint), greatest(cast(0 as bigint),
                        cast(floor((element_at(v, i) - element_at(mins, i))
                               / (element_at(maxs, i) - element_at(mins, i))
                               * 255.0e0) as bigint)))
                 ELSE cast(0 as bigint) END)"""
    val coded = all.crossJoin(broadcast(stats))
      .select(col("vec_id"), expr(codeExpr).as("codes"))
    val q = coded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"))
    coded.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dist", expr(
        s"""aggregate(sequence(1, $SqDim), cast(0 as bigint),
              (acc, i) -> acc + (element_at(qc, i) - element_at(codes, i))
                              * (element_at(qc, i) - element_at(codes, i)))"""))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cast(-dist as double), vec_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        (-col("col.score")).cast("bigint").as("sq_dist"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  lazy val sq8TopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        dims AS (SELECT unnest(range(1, ${SqDim + 1})) AS i),
        stat AS (SELECT i, min(v[i]) AS mn, max(v[i]) AS mx FROM e, dims GROUP BY i),
        model AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs FROM stat),
        coded AS (
          SELECT vec_id,
                 list_transform(range(1, ${SqDim + 1}), i ->
                   CASE WHEN maxs[i] > mins[i]
                        THEN least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
                               CAST(floor((v[i] - mins[i]) / (maxs[i] - mins[i])
                                      * 255.0) AS BIGINT)))
                        ELSE CAST(0 AS BIGINT) END) AS codes
          FROM e, model),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, ${SqDim + 1}), i ->
                   (q.codes[i] - c.codes[i]) * (q.codes[i] - c.codes[i])))
                   AS BIGINT) AS dist
          FROM coded c JOIN coded q ON c.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries),
        ranked AS (
          SELECT query_id, neighbor_id, dist,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY dist, neighbor_id) AS INT) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, dist AS sq_dist, rank
        FROM ranked WHERE rank <= $TopK ORDER BY query_id, rank"""

  /** Exact maximum-inner-product top-k (MIPS) — the recommendation
    * retrieval read, where ranking by RAW dot product lets large-norm
    * items dominate (an untrained cosine index silently changes recsys
    * semantics; MIPS is its own problem class — Shrivastava & Li's
    * asymmetric-LSH line exists precisely because hyperplane LSH does
    * not solve it). Same broadcast-queries × one-corpus-pass shape and
    * float-parity contract as `ann_bruteforce_topk` (sequential
    * graft_dot == list_inner_product, ties score DESC id ASC); each
    * result row also carries whether that neighbor makes the COSINE
    * top-k — the divergence flag that tells a pipeline the two
    * rankings disagree and norm calibration matters. */
  def mipsTopK: Q = (s, d) => {
    val all = emb(s, d)
    val q = all.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val mips = all.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr(dotExpr))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(dot, vec_id, $TopK)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        trunc4(col("col.score")).as("dot"), (col("pos") + 1).cast("int").as("rank"))
    val cosSet = bruteForceTopK(s, d)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("in_cos"))
    mips.join(cosSet, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("dot"), col("rank"),
        coalesce(col("in_cos"), lit(false)).as("in_cosine_topk"))
  }

  lazy val mipsTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 list_inner_product(q.v, c.v) AS dot
          FROM e c JOIN e q ON c.vec_id <> q.vec_id
          WHERE q.vec_id < $NumQueries),
        ranked AS (
          SELECT query_id, neighbor_id, dot,
                 CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY dot DESC, neighbor_id) AS INT) AS rank
          FROM scored),
        cosk AS (SELECT query_id, neighbor_id FROM ($bruteForceTopKSql))
        SELECT r.query_id, r.neighbor_id,
               floor(r.dot * 10000) / 10000.0 AS dot, r.rank,
               k.neighbor_id IS NOT NULL AS in_cosine_topk
        FROM ranked r LEFT JOIN cosk k
          ON k.query_id = r.query_id AND k.neighbor_id = r.neighbor_id
        WHERE r.rank <= $TopK ORDER BY r.query_id, r.rank"""

  // ------------------------------------------- embedding-table QA

  /** Quantization grid for dimension statistics: values land on the
    * 1e-6 grid as exact BIGINTs, so corpus sums are commutative integer
    * arithmetic — no summation-order float surface at any partitioning.
    * Moments cross into decimal(38,0) (same discipline as
    * `metrics_histogram_stddev`) so n·Σq² − (Σq)² can't overflow even
    * at 10¹² vectors. */
  private val EmbStatGrid = "1e6"

  /** Per-dimension profile of the embeddings table — the QA read that
    * runs BEFORE any ANN index is built: mean/stddev/min/max per
    * dimension, plus the two defect flags that break downstream
    * indexes: DEAD dimensions (zero variance — wasted quantizer bits,
    * a truncated-export symptom) and dominant dimensions (|mean| >
    * 2·stddev — an uncentered export that skews cosine toward one
    * axis).
    *
    * Scale shape: one posexplode to (dim, q) pairs whose partial
    * aggregation reduces every partition to ≤|dims| rows BEFORE the
    * shuffle — the exchange carries |dims| × |partitions| rows, never
    * vector volume. All moments are exact integers; each output makes
    * one staged floored division/sqrt evaluated verbatim by both
    * engines. */
  def embDimStats: Q = (s, d) => {
    val pairs = Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"),
        expr(s"CAST(floor(x * $EmbStatGrid) AS BIGINT)").as("q"))
    pairs.groupBy(col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("q")).as("sq"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))")).as("sqq"),
        min(col("q")).as("min_q"), max(col("q")).as("max_q"))
      .withColumn("var_num", expr(
        "CAST(n_vecs AS DECIMAL(38,0)) * sqq - CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0))"))
      .select(col("dim").cast("int").as("dim"), col("n_vecs"),
        expr(s"floor(CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / $EmbStatGrid").as("mean"),
        expr(s"floor(sqrt(CAST(var_num AS DOUBLE)) / CAST(n_vecs AS DOUBLE)) / $EmbStatGrid")
          .as("stddev"),
        expr(s"CAST(min_q AS DOUBLE) / $EmbStatGrid").as("min_v"),
        expr(s"CAST(max_q AS DOUBLE) / $EmbStatGrid").as("max_v"),
        expr("var_num = 0").as("dead"),
        expr("abs(CAST(sq AS DOUBLE)) > 2 * sqrt(CAST(var_num AS DOUBLE))").as("dominant"))
  }

  val embDimStatsSql: String =
    s"""WITH pairs AS (
          SELECT CAST(pos AS INT) AS dim,
                 CAST(floor(x * $EmbStatGrid) AS BIGINT) AS q
          FROM (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS pos
                FROM embeddings)),
        g AS (
          SELECT dim, count(*) AS n_vecs, sum(q) AS sq,
                 sum(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))) AS sqq,
                 min(q) AS min_q, max(q) AS max_q
          FROM pairs GROUP BY dim),
        v AS (
          SELECT *, CAST(n_vecs AS DECIMAL(38,0)) * sqq
                    - CAST(sq AS DECIMAL(38,0)) * CAST(sq AS DECIMAL(38,0)) AS var_num
          FROM g)
        SELECT dim, n_vecs,
               floor(CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / $EmbStatGrid AS mean,
               floor(sqrt(CAST(var_num AS DOUBLE)) / CAST(n_vecs AS DOUBLE)) / $EmbStatGrid AS stddev,
               CAST(min_q AS DOUBLE) / $EmbStatGrid AS min_v,
               CAST(max_q AS DOUBLE) / $EmbStatGrid AS max_v,
               var_num = 0 AS dead,
               abs(CAST(sq AS DOUBLE)) > 2 * sqrt(CAST(var_num AS DOUBLE)) AS dominant
        FROM v ORDER BY dim"""

  // --------------------------------------------- PCA power iteration

  /** Power-iteration rounds. Eight doublings of the eigengap are
    * plenty for a dominant component; the per-round 1e-9 floor keeps
    * the iterate on a shared grid so both engines walk the identical
    * trajectory. */
  val PcaIters = 8
  private val PcaDim = SqDim // the embeddings table's width

  /** Leading principal component of the embedding table by power
    * iteration — the read behind PCA whitening, dominant-axis removal
    * (uncentered/anisotropic exports break cosine ANN), and "how much
    * of the table is one direction" triage. Emits the d loadings and
    * PC1's share of total variance.
    *
    * Scale shape: the covariance moments are ONE corpus pass — each
    * vector explodes to its d(d+1)/2 ordered coordinate pairs on the
    * 1e-6 integer grid, and partial aggregation reduces every
    * partition to ≤2,080 cells BEFORE the shuffle; n·Σqᵢqⱼ − ΣqᵢΣqⱼ
    * stays exact in decimal(38,0). The d×d matrix is a BOUNDED MODEL
    * (2,080 rows, corpus-independent — the `trainCentroids` collect
    * class); the driver's power iteration is pure deterministic
    * arithmetic mirrored op-for-op by the oracle's recursive CTE
    * (ordered left-folds for every float sum — the `list_reduce ∘
    * list_prepend` discipline). */
  def embPcaPower: Q = (s, d) => {
    import s.implicits._
    val D = PcaDim
    val nCells = D * (D + 1) / 2
    // One imperative pass per partition: a flat d(d+1)/2+d+1 long
    // accumulator (pair sums, coordinate sums, row count) — 2,080
    // multiply-adds per vector IS the arithmetic lower bound of a Gram
    // matrix, and a JVM loop runs it at that bound where an explode
    // materializes 2,080 structs per row (measured 4.0 s → see A/B in
    // SURVEY). This is the documented legitimate mapPartitions case:
    // genuine per-partition state, emitted as ≤2,145 partial rows per
    // flush. Flushing every 4M rows keeps |acc| ≤ 4e18 < 2^63 even
    // with |q| = 1e6 products; the decimal(38,0) re-aggregation of the
    // partials is exact and commutative at any partitioning.
    val partials = Tables.embeddings(s, d)
      .select(expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1e6) AS BIGINT))").as("q"))
      .as[Seq[Long]]
      .mapPartitions { it =>
        val acc = Array.ofDim[Long](nCells + D + 1)
        var rows = 0
        val out = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
        def flush(): Unit = {
          var c = 0
          while (c < acc.length) { if (acc(c) != 0L) out += ((c, acc(c))); acc(c) = 0L; c += 1 }
          rows = 0
        }
        while (it.hasNext) {
          val q = it.next().toArray
          var i = 0; var cell = 0
          while (i < D) {
            val qi = q(i)
            // The 4M-row flush cadence sizes |acc| ≤ 4e18 < 2^63 ONLY
            // under |q| ≤ 1e6 (|x| ≤ 1.0); an out-of-range embedding
            // would silently wrap Long between flushes, so fail loudly.
            if (qi > 1000000L || qi < -1000000L)
              throw new IllegalArgumentException(
                s"embPcaPower: |embedding value| > 1.0 at dim $i (q=$qi); " +
                  "normalize the table or lower the quantization grid")
            var j = i
            while (j < D) { acc(cell) += qi * q(j); cell += 1; j += 1 }
            acc(nCells + i) += qi
            i += 1
          }
          acc(nCells + D) += 1L
          rows += 1
          if (rows >= 4000000) flush()
        }
        flush()
        out.iterator
      }
      .toDF("slot", "v")
      .groupBy(col("slot"))
      .agg(sum(col("v").cast("decimal(38,0)")).as("sv"))
      .collect() // bounded model: ≤ d(d+1)/2 + d + 1 = 2,145 rows
    val bySlot = partials.map(r => r.getInt(0) ->
      r.getDecimal(1).toBigInteger).toMap
    def slotVal(i: Int): BigInt =
      bySlot.get(i).map(BigInt(_)).getOrElse(BigInt(0))
    val n = slotVal(nCells + D)
    val sums = Array.tabulate(D)(i => slotVal(nCells + i))
    val m = Array.ofDim[Double](PcaDim, PcaDim)
    var cell = 0
    for (i <- 0 until D; j <- i until D) {
      // n·Σqᵢqⱼ − Σqᵢ·Σqⱼ, exact in BigInt, then ONE nearest-double
      // cast — identical to the oracle's decimal(38,0)→DOUBLE cast
      val cd = (n * slotVal(cell) - sums(i) * sums(j)).toDouble
      m(i)(j) = cd; m(j)(i) = cd
      cell += 1
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(PcaDim)(i =>
        (0 until PcaDim).foldLeft(0.0)((a, j) => a + m(i)(j) * v(j)))
    var v = Array.fill(PcaDim)(1.0)
    for (_ <- 1 to PcaIters) {
      val w = matvec(v)
      val norm = math.sqrt(w.indices.foldLeft(0.0)((a, i) => a + w(i) * w(i)))
      v = w.map(x => math.floor(x / norm * 1e9) / 1e9)
    }
    val t = matvec(v)
    val lam = v.indices.foldLeft(0.0)((a, i) => a + v(i) * t(i))
    val vtv = v.indices.foldLeft(0.0)((a, i) => a + v(i) * v(i))
    val trace = (0 until PcaDim).foldLeft(0.0)((a, i) => a + m(i)(i))
    val share = math.floor(lam / vtv / trace * 1e6) / 1e6
    (1 to PcaDim).map(i => (i, v(i - 1), share))
      .toDF("dim", "loading", "pc1_var_share")
  }

  val embPcaPowerSql: String = {
    val D1 = PcaDim + 1
    def foldSum(items: String) =
      s"list_reduce(list_prepend(0.0e0, $items), (a, b) -> a + b)"
    s"""WITH RECURSIVE qv AS (
          SELECT list_transform(embedding, x -> CAST(floor(x * 1e6) AS BIGINT)) AS q
          FROM embeddings),
        cells AS (
          SELECT u.i AS i, u.j AS j, count(*) AS n,
                 sum(CAST(u.p AS DECIMAL(38,0))) AS sp,
                 sum(u.qi) AS si, sum(u.qj) AS sj
          FROM (SELECT unnest(flatten(list_transform(range(1, $D1), i ->
                       list_transform(range(i, $D1), j ->
                         {'i': i, 'j': j, 'qi': q[i], 'qj': q[j],
                          'p': q[i] * q[j]})))) AS u
                FROM qv)
          GROUP BY 1, 2),
        cov AS (
          SELECT i, j, CAST(CAST(n AS DECIMAL(38,0)) * sp
                   - CAST(si AS DECIMAL(38,0)) * CAST(sj AS DECIMAL(38,0)) AS DOUBLE) AS cd
          FROM cells),
        full_cov AS (
          SELECT i, j, cd FROM cov
          UNION ALL SELECT j, i, cd FROM cov WHERE i < j),
        mrows AS (SELECT i, list(cd ORDER BY j) AS mr FROM full_cov GROUP BY i),
        mcte AS (SELECT list(mr ORDER BY i) AS m FROM mrows),
        pw AS (
          SELECT 0 AS k, list_transform(range(1, $D1), x -> 1.0e0) AS v
          UNION ALL
          SELECT k + 1,
                 list_transform(w, x -> floor(x / sqrt(${foldSum("list_transform(w, y -> y * y)")}) * 1e9) / 1e9)
          FROM (SELECT k,
                  list_transform(range(1, $D1), i ->
                    ${foldSum(s"list_transform(range(1, $D1), j -> m[i][j] * v[j])")}) AS w
                FROM pw, mcte WHERE k < $PcaIters)),
        fin AS (SELECT v FROM pw WHERE k = $PcaIters),
        tv AS (
          SELECT v, list_transform(range(1, $D1), i ->
                   ${foldSum(s"list_transform(range(1, $D1), j -> m[i][j] * v[j])")}) AS t
          FROM fin, mcte),
        sc AS (
          SELECT v,
                 ${foldSum(s"list_transform(range(1, $D1), i -> v[i] * t[i])")} AS lam,
                 ${foldSum(s"list_transform(range(1, $D1), i -> v[i] * v[i])")} AS vtv,
                 (SELECT ${foldSum(s"list_transform(range(1, $D1), i -> m[i][i])")} FROM mcte) AS tr
          FROM tv)
        SELECT CAST(i AS INT) AS dim, v[i] AS loading,
               floor(lam / vtv / tr * 1e6) / 1e6 AS pc1_var_share
        FROM sc, (SELECT unnest(range(1, $D1)) AS i)
        ORDER BY dim"""
  }

  // ------------------------------------------------ HNSW level assign

  /** HNSW layer branching factor (P(level ≥ l) = M^−l). */
  val HnswM = 4
  /** Level cap (content-hash nibbles consumed; P(cap) = 4^−8 ≈ 1.5e-5). */
  val HnswMaxLevel = 8

  /** HNSW level assignment — the hierarchy half of the graph-index ANN
    * family (`ann_graph_search` walks the base layer; THIS is how the
    * upper layers get their population). HNSW draws each node's max
    * level from a geometric distribution (Malkov & Yashunin 2016,
    * `l = ⌊−ln(u)·mL⌋`); a distributed engine cannot use RNG state and
    * doesn't need to — the level is a pure CONTENT-HASH function:
    * level = max l ≤ [[HnswMaxLevel]] with h ≡ 0 (mod [[HnswM]]^l),
    * which is geometric with ratio 1/M, deterministic, partitioning-
    * independent, and identically computable by the oracle. Emits the
    * per-level census a graph-index planner sizes memory with: node
    * count, the ≥-level layer population (each node appears in every
    * layer up to its level), and the layer's entry node (min vec_id
    * among its members — the deterministic tiebreak of the max-level
    * entry-point rule). One scan + one |levels|-row aggregate. */
  def hnswLevels: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val lvls = (HnswMaxLevel to 1 by -1).map(l =>
      s"WHEN h % ${math.pow(HnswM, l).toLong}L = 0 THEN $l").mkString(" ")
    val assigned = emb(s, d)
      .withColumn("h", conv(
        substring(md5(concat(lit("hnsw:"), col("vec_id").cast("string"))), 1, 15),
        16, 10).cast("long"))
      .withColumn("level", expr(s"CASE $lvls ELSE 0 END").cast("long"))
    val w = Window.orderBy(col("level").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    assigned.groupBy(col("level"))
      .agg(count(lit(1)).as("n_nodes"), min(col("vec_id")).as("entry_vec_id"))
      .withColumn("layer_population", sum(col("n_nodes")).over(w))
  }

  val hnswLevelsSql: String = {
    val lvls = (HnswMaxLevel to 1 by -1).map(l =>
      s"WHEN h % ${math.pow(HnswM, l).toLong} = 0 THEN $l").mkString(" ")
    s"""WITH a AS (
          SELECT vec_id,
                 ('0x' || substr(md5('hnsw:' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
          FROM embeddings),
        lv AS (
          SELECT vec_id, CAST(CASE $lvls ELSE 0 END AS BIGINT) AS level FROM a),
        g AS (
          SELECT level, count(*) AS n_nodes,
                 CAST(min(vec_id) AS BIGINT) AS entry_vec_id
          FROM lv GROUP BY level)
        SELECT level, n_nodes, entry_vec_id,
               CAST(sum(n_nodes) OVER (ORDER BY level DESC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS layer_population
        FROM g ORDER BY level DESC"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("ann_hnsw_levels", hnswLevels, Some(hnswLevelsSql)),
    ("emb_pca_power", embPcaPower, Some(embPcaPowerSql)),
    ("emb_dim_stats", embDimStats, Some(embDimStatsSql)),
    ("ann_mips_topk", mipsTopK, Some(mipsTopKSql)),
    ("ann_sq8_topk", sq8TopK, Some(sq8TopKSql)),
    ("ann_ivf_tuning", ivfTuning, Some(ivfTuningSql)),
    ("ann_graph_search", graphSearch, Some(graphSearchSql)),
    ("ann_recall_eval", recallEval, Some(recallEvalSql)),
    ("dedup_semantic", semanticDedup, Some(semanticDedupSql)),
    ("ann_index_drift", indexDrift, Some(indexDriftSql)),
    ("ann_hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    ("ann_knn_graph", knnGraph, Some(knnGraphSql)),
    ("ann_knn_graph_ivf", knnGraphIvf, Some(knnGraphIvfSql)),
    ("emb_matryoshka_truncate", matryoshkaTruncate, Some(matryoshkaTruncateSql)),
    ("ann_filtered_topk", filteredTopK, Some(filteredTopKSql)),
    ("ann_bruteforce_topk", bruteForceTopK, Some(bruteForceTopKSql)),
    ("ann_lsh_topk", lshTopK, Some(lshTopKSql)),
    ("ann_ivf_topk", ivfTopK, Some(ivfTopKSql)),
    ("ann_ivf_stats", ivfStats, Some(ivfStatsSql)),
    ("ann_pq_topk", pqTopK, Some(pqTopKSql)),
    ("ann_pq_packed", pqPackedTopK, Some(pqTopKSql)),
    ("ann_ivf_pq_topk", ivfPqTopK, Some(ivfPqTopKSql)),
    ("ann_range_search", rangeSearch, Some(rangeSearchSql)))
}
