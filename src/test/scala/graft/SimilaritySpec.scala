package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN quality promises from SURVEY §2: LSH recall vs the exact
  * brute-force baseline, and baseline sanity. */
class SimilaritySpec extends SparkTestBase {

  test("knn graph: k edges per node, in-block only, ranked, mutuality symmetric") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    val df = Similarity.knnGraph(spark, sf).cache()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(df.count() == n * Similarity.KnnGraphK)
    // neighbors share the node's block (label)
    val labels = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id").as("neighbor_id"), col("label").as("nb_label"))
    assert(df.join(labels, Seq("neighbor_id"))
      .filter(col("label") =!= col("nb_label")).count() == 0)
    // rank 1 cosine >= rank k cosine per node
    val r1 = df.filter(col("rank") === 1).select(col("vec_id"), col("cosine").as("c1"))
    val rk = df.filter(col("rank") === Similarity.KnnGraphK)
      .select(col("vec_id"), col("cosine").as("ck"))
    assert(r1.join(rk, Seq("vec_id")).filter(col("c1") < col("ck")).count() == 0)
    // mutual edges really have a reverse edge
    val fwd = df.select(col("vec_id"), col("neighbor_id"), col("mutual"))
    val bad = fwd.filter(col("mutual"))
      .join(fwd.select(col("vec_id").as("neighbor_id"), col("neighbor_id").as("vec_id")),
        Seq("vec_id", "neighbor_id"), "left_anti")
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("lsh ANN achieves recall@5 >= 0.8 vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@${Similarity.TopK} = $recall " +
      s"(brute=${brute.size}, lsh=${lsh.size})")
  }

  test("ivf ANN achieves recall@5 >= 0.6 vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"ivf recall@${Similarity.TopK} = $recall " +
      s"(brute=${brute.size}, ivf=${ivf.size})")
  }

  test("pq ANN achieves recall@5 >= 0.6 vs brute force") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"pq recall@${Similarity.TopK} = $recall " +
      s"(brute=${brute.size}, pq=${pq.size})")
  }

  test("packed-pq ANN matches plain pq recall and the packed column round-trips every code") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val packed = Similarity.pqPackedTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect packed).size.toDouble / brute.size
    assert(recall >= 0.6, s"packed-pq recall@${Similarity.TopK} = $recall")
    // 8 bytes per vector, and every 4-bit field stays in [0, 16)
    val codes = Similarity.pqPackedCodes(spark, sf).collect()
    assert(codes.nonEmpty)
    codes.foreach { r =>
      val p = r.getLong(1)
      assert(p >= 0 && p < (1L << 32), s"8 x 4-bit codes must fit 32 bits: $p")
    }
  }

  test("ivf-pq ANN achieves recall@5 >= 0.5 vs brute force, bounded by ivf's candidates") {
    import spark.implicits._
    val brute = Similarity.bruteForceTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivfpq).size.toDouble / brute.size
    assert(recall >= 0.5, s"ivf-pq recall@${Similarity.TopK} = $recall " +
      s"(brute=${brute.size}, ivfpq=${ivfpq.size})")
    // the exact re-rank can only return vectors from probed cells:
    // every IVF-PQ hit must also be an IVF candidate-universe member
    val ivf = Similarity.ivfTopK(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val agreement = (ivf intersect ivfpq).size.toDouble / ivf.size
    assert(agreement >= 0.5, s"ivf-pq should largely agree with ivf: $agreement")
  }

  test("brute-force top-k is rank-ordered with valid cosines") {
    val rows = Similarity.bruteForceTopK(spark, sf).collect()
    assert(rows.length == Similarity.NumQueries * Similarity.TopK)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to Similarity.TopK))
      val cos = sorted.map(_.getDouble(2))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b - 1e-9 },
        s"not descending: ${cos.mkString(",")}")
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("IVF stats: one row per cell, populations partition the corpus") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Similarity.ivfStats(spark, sf).cache()
    assert(df.count() == graft.operators.Similarity.NumCells, "every cell reported, even empty")
    val total = graft.sources.Tables.embeddings(spark, sf).count()
    val assigned = df.agg(sum("n_vectors")).collect()(0).getLong(0)
    assert(assigned == total, "hard assignment partitions the corpus exactly")
    assert(df.filter(col("pop_share") < 0 || col("pop_share") > 1).count() == 0)
    assert(df.filter(col("n_vectors") > 0 && (col("avg_norm2").isNull || col("avg_norm2") <= 0))
      .count() == 0, "non-empty cells have positive mean energy")
    df.unpersist()
  }

  test("filtered top-k: every neighbor shares the query's label") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Similarity.filteredTopK(spark, sf)
    val labels = graft.sources.Tables.embeddings(spark, sf).select("vec_id", "label")
    val wrong = df.join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label"), Seq("neighbor_id"))
      .filter(col("label") =!= col("n_label"))
    assert(wrong.count() == 0, "predicate must constrain the candidate set")
    assert(df.count() > 0)
  }
  test("hybrid RRF: fused top-k is bounded and every hit has at least one ranking") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Similarity.hybridRrf(spark, sf).cache()
    assert(df.count() > 0)
    val perQ = df.groupBy("query_id").agg(count(lit(1)).as("k"))
    assert(perQ.filter(col("k") > graft.operators.Similarity.RrfTopK).count() == 0)
    // rrf score bounds: one list -> <= 1/61; both lists -> <= 2/61
    val hi = 2.0 / (graft.operators.Similarity.RrfK + 1)
    assert(df.filter(col("rrf_score") <= 0 || col("rrf_score") > hi + 1e-9).count() == 0)
    df.unpersist()
  }

  test("semantic dedup: one row per vector, keepers canonical, dup_of within cell and below id") {
    import org.apache.spark.sql.functions._
    val df = Similarity.semanticDedup(spark, sf).cache()
    val n = graft.sources.Tables.embeddings(spark, sf).count()
    assert(df.count() == n, "exactly one verdict per vector")
    // keep <=> no dup_of; dropped rows carry a qualifying cosine
    assert(df.filter(col("keep") && col("dup_of").isNotNull).count() == 0)
    assert(df.filter(!col("keep") &&
      (col("dup_of").isNull || col("max_cos") < Similarity.SemTau)).count() == 0)
    // dup_of points at a lower id in the SAME cell (cluster-bounded candidates)
    val cells = df.select(col("vec_id").as("dup_of"), col("cell").as("cell_of"))
    val bad = df.filter(!col("keep")).join(cells, Seq("dup_of"))
      .filter(col("cell_of") =!= col("cell") || col("dup_of") >= col("vec_id"))
    assert(bad.count() == 0)
    // the canonical target of every drop is itself kept OR has a still-lower dup
    assert(df.filter(!col("keep")).count() > 0, "threshold must actually drop rows")
    df.unpersist()
  }

  test("graph search: beam discipline holds and recall@5 vs in-block exact is high") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val got = Similarity.graphSearch(spark, sf)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == Similarity.NumQueries * Similarity.TopK)
    got.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to Similarity.TopK), s"q$q ranks")
      assert(sorted.sliding(2).forall { case Array(a, b) => a._3 >= b._3; case _ => true },
        s"q$q cosine must be non-increasing in rank")
      assert(rows.forall(_._2 != q), "query must not retrieve itself")
    }
    // exact in-block top-5 as truth (the same blocking the graph uses)
    val emb = graft.sources.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    val q = emb.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("qid"), col("label").as("ql"), col("v").as("qv"))
    val truth = emb.join(q, col("label") === col("ql") && col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("graft_dot(qv, v)")
        / (sqrt(expr("graft_norm2(qv)")) * sqrt(expr("graft_norm2(v)"))))
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.TopK)
      .select(col("qid"), col("vec_id")).as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val gotSets = got.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = truth.keys.toSeq.map { k =>
      (truth(k) intersect gotSets(k)).size.toDouble / Similarity.TopK
    }.sum / truth.size
    assert(recall >= 0.8, s"mean recall@5 $recall below bound")
  }

  test("ann_index_drift: both assignments cover the corpus; stays never exceed either side") {
    val df = run("ann_index_drift").cache()
    val corpus = graft.sources.Tables.embeddings(spark, sf).count()
    assert(df.agg(sum(col("n_old"))).head.getLong(0) == corpus)
    assert(df.agg(sum(col("n_new"))).head.getLong(0) == corpus)
    assert(df.filter(col("n_stay") > least(col("n_old"), col("n_new"))).count() == 0)
    df.unpersist()
  }

  test("ann_recall_eval: recall is a proper fraction of the exact top-k") {
    import spark.implicits._
    val rows = run("ann_recall_eval")
      .select("query_id", "n_truth", "n_hit", "recall")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == graft.operators.Similarity.NumQueries)
    rows.foreach { case (q, nt, nh, r) =>
      assert(nt == graft.operators.Similarity.TopK, s"q$q truth size")
      assert(nh >= 0 && nh <= nt, s"q$q hits out of range")
      assert(r >= 0.0 && r <= 1.0)
      assert(math.abs(r - math.floor(nh.toDouble / nt * 1e4) / 1e4) < 1e-12)
    }
    // the multi-table LSH index should not be useless on this corpus
    assert(rows.map(_._3).sum > 0, "zero total recall — index broken")
  }

  test("ann_ivf_tuning: nested probe lists make volume and coverage monotone") {
    import spark.implicits._
    val rows = run("ann_ivf_tuning").orderBy("nprobe")
      .select("nprobe", "n_candidates", "n_caught", "n_truth", "coverage", "scan_share")
      .as[(Int, Long, Long, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == graft.operators.Similarity.IvfTuneProbes)
    rows.foreach { case (_, nc, caught, truth, cov, share) =>
      assert(caught <= truth && caught <= nc)
      assert(cov == math.floor(caught.toDouble / truth * 1e4) / 1e4)
      assert(share > 0.0 && share <= 1.0)
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2, "candidates grow with nprobe")
        assert(b._3 >= a._3, "caught set is nested")
        assert(b._6 >= a._6 - 1e-12, "scan share grows with nprobe")
      case _ => ()
    }
    // the sweep is informative: more probes really buy coverage here
    assert(rows.last._5 > rows.head._5)
  }

  test("dedup_semantic: cell pair join is a hash/merge equi-join, never a product") {
    // the entry is skipped by the plan sweep (quantizer training runs
    // jobs at construction), so its scale contract is pinned here: the
    // only nested-loop shape allowed is the K-row centroid broadcast;
    // the within-cell pair generation must ride the cell equi-join
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"cell pair join must be an equi-join:\n${p.take(1500)}")
  }

  test("ann_sq8_topk: full result panel, ascending integer distances, nonzero exact overlap") {
    import spark.implicits._
    val rows = run("ann_sq8_topk")
      .select("query_id", "neighbor_id", "sq_dist", "rank")
      .as[(Long, Long, Long, Int)].collect()
    val k = graft.operators.Similarity.TopK
    assert(rows.length == graft.operators.Similarity.NumQueries * k)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._4).sorted.toSeq == (1 to k), s"q$q ranks")
      val byRank = rs.sortBy(_._4)
      assert(byRank.sliding(2).forall(p => p(0)._3 <= p(1)._3), s"q$q distances not ascending")
      assert(rs.forall(_._3 >= 0), s"q$q negative distance")
      assert(rs.forall(_._2 != q), s"q$q returned itself")
    }
    // the 8-bit quantizer must agree with the exact index on a decent share
    val truth = run("ann_bruteforce_topk").select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val overlap = rows.map(r => (r._1, r._2)).count(truth)
    assert(overlap >= truth.size / 2, s"SQ8 recall too low: $overlap/${truth.size}")
  }

  test("ann_mips_topk: dot ranking is descending and diverges measurably from cosine") {
    import spark.implicits._
    val rows = run("ann_mips_topk")
      .select("query_id", "neighbor_id", "dot", "rank", "in_cosine_topk")
      .as[(Long, Long, Double, Int, Boolean)].collect()
    val k = graft.operators.Similarity.TopK
    assert(rows.length == graft.operators.Similarity.NumQueries * k)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to k), s"q$q ranks")
      assert(byRank.sliding(2).forall(p => p(0)._3 >= p(1)._3), s"q$q dots not descending")
      assert(rs.forall(_._2 != q), s"q$q returned itself")
    }
    // the flag must agree with an independent recomputation of the cosine panel
    val cos = run("ann_bruteforce_topk").select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    rows.foreach { case (q, n, _, _, flag) =>
      assert(flag == cos((q, n)), s"($q,$n) cosine-membership flag wrong")
    }
  }

  test("semCellCount: NumCells floor at gate scale, K ∝ corpus past it") {
    assert(Similarity.semCellCount(500) == Similarity.NumCells)
    assert(Similarity.semCellCount(2000) == Similarity.NumCells)
    assert(Similarity.semCellCount(20000) == 160)
    assert(Similarity.semCellCount(200000) == 1600)
    // E|cell| stays ~SemTargetCell at any corpus size
    assert(200000 / Similarity.semCellCount(200000) == Similarity.SemTargetCell)
  }

  test("corpus-scaled quantizer: a >2000-vector corpus trains K>16 cells and every cell id is in range") {
    import spark.implicits._
    val dim = 8
    val nv = 2600 // → K = ceil(2600/125) = 21
    val rows = (0 until nv).map { i =>
      (i.toLong, s"l${i % 4}",
        Array.tabulate(dim)(j => (math.sin(i * 13 + j * 7) * 100).floor.toFloat / 100f))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_semk").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val k = Similarity.semCellCount(nv.toLong)
    assert(k == 21)
    val asg = Similarity.semAssign(spark, dir)
      .select("vec_id", "cell").as[(Long, Long)].collect()
    assert(asg.length == nv, "every vector assigned exactly once")
    val cells = asg.map(_._2).distinct
    assert(cells.forall(c => c >= 1 && c <= k), s"cell ids within 1..$k")
    assert(cells.length > Similarity.NumCells,
      s"scaled corpus must actually use more than ${Similarity.NumCells} cells, got ${cells.length}")
    // and dedup_semantic runs end-to-end on the scaled codebook
    val dd = Similarity.semanticDedup(spark, dir)
    assert(dd.count() == nv)
  }

  // ---------------------------------------------- emb_pca_power

  test("emb_pca_power recovers a planted dominant axis") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    // 40 vectors = t * axis + small deterministic off-axis wiggle;
    // axis concentrated on dims 1-2, dims 3+ near-dead
    val axis = Array.fill(64)(0.0f); axis(0) = 0.8f; axis(1) = 0.6f
    val vecs = (1 to 40).map { r =>
      val t = (r - 20) / 20.0f
      val v = axis.map(_ * t)
      v(2) = (if (r % 2 == 0) 0.01f else -0.01f)
      (r.toLong, v.toSeq, r % 3)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embPcaPower(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == 64)
    val v = got.sortBy(_._1).map(_._2)
    val n2 = v.map(x => x * x).sum
    assert(math.abs(n2 - 1.0) < 1e-6, s"loadings not unit-norm: $n2")
    val cosAxis = math.abs(v(0) * 0.8 + v(1) * 0.6) / math.sqrt(n2)
    assert(cosAxis > 0.999, s"planted axis not recovered: cos=$cosAxis, head=${v.take(3).toSeq}")
    assert(v.drop(3).forall(x => math.abs(x) < 0.01), "dead dims carry loading")
    val share = got.head._3
    assert(share > 0.99, s"PC1 share should dominate this rank-1-ish table: $share")
  }

  // ------------------------------------------------- emb_dim_stats

  test("emb_dim_stats finds dead and dominant dimensions exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_emb").toString
    // dim1: healthy centered; dim2: DEAD (constant); dim3: dominant
    // (mean far above spread); dim4: healthy wide
    val vecs = Seq(
      (1L, Seq(0.5f, 0.25f, 3.0f, -1.0f), 0),
      (2L, Seq(-0.5f, 0.25f, 3.1f, 1.0f), 1),
      (3L, Seq(0.25f, 0.25f, 2.9f, 0.0f), 0),
      (4L, Seq(-0.25f, 0.25f, 3.0f, 2.0f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embDimStats(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6), r.getBoolean(7)))).toMap

    val expected = (0 until 4).map { i =>
      val qs = vecs.map(v => math.floor(v._2(i).toDouble * 1e6).toLong)
      val n = qs.size.toLong
      val s = qs.sum; val ss = qs.map(q => BigInt(q) * BigInt(q)).sum
      val varNum = BigInt(n) * ss - BigInt(s) * BigInt(s)
      val mean = math.floor(s.toDouble / n.toDouble) / 1e6
      val std = math.floor(math.sqrt(varNum.toDouble) / n.toDouble) / 1e6
      (i + 1) -> ((n, mean, std, qs.min.toDouble / 1e6, qs.max.toDouble / 1e6,
        varNum == 0, math.abs(s.toDouble) > 2 * math.sqrt(varNum.toDouble)))
    }.toMap
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got(2)._6 && !got(1)._6, "dim2 dead, dim1 not")
    assert(got(3)._7 && !got(1)._7, "dim3 dominant, dim1 not")
  }

  test("emb_dim_stats aggregates before the shuffle (map-side combine on dims)") {
    // partial aggregation must appear below the exchange: the shuffle
    // carries |dims|-keyed partials, not exploded vector volume
    val p = plan("emb_dim_stats")
    assert(p.contains("hashpartitioning("), "no hash exchange for the dim aggregation")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side partial aggregation: the shuffle would carry exploded vector volume")
    assert(countNodes(p, "Exchange") <= 2, s"more shuffles than agg+sort:\n$p")
  }

  test("emb_pca_power fails loudly on out-of-range embeddings instead of wrapping") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca_guard").toString
    // one value beyond |1.0|: the 4M-row flush headroom proof no longer
    // holds, so the kernel must refuse rather than risk silent Long wrap
    val vecs = (1 to 8).map { r =>
      val v = Array.fill(64)(0.1f)
      if (r == 5) v(7) = 1.75f
      (r.toLong, v.toSeq, r % 2)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Similarity.embPcaPower(spark, dir).collect()
    }
    assert(messages(e).exists(_.contains("normalize the table")),
      s"expected the loud out-of-range error, got: ${messages(e).take(2)}")
  }

  test("ann_knn_graph_ivf recalls most exact neighbors and never invents cosines") {
    val exact = run("ann_knn_graph").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val approx = run("ann_knn_graph_ivf").collect()
    assert(approx.nonEmpty)
    // ranks are 1..k, unique per vec
    val byVec = approx.groupBy(_.getLong(0))
    byVec.foreach { case (v, es) =>
      val ranks = es.map(_.getInt(4)).sorted.toList
      assert(ranks == (1 to ranks.length).toList,
        s"ranks not dense for $v: $ranks")
      assert(ranks.length <= Similarity.KnnGraphK)
    }
    // shared edges carry the identical truncated cosine (same arithmetic)
    var shared = 0
    approx.foreach { r =>
      exact.get((r.getLong(0), r.getLong(2))).foreach { c =>
        shared += 1
        assert(c == r.getDouble(3),
          s"cosine disagrees on shared edge ${(r.getLong(0), r.getLong(2))}")
      }
    }
    assert(shared > 0, "approx graph shares no edge with the exact graph")
    // recall@k: fraction of exact edges the IVF candidates recovered.
    // nprobe=2 over corpus-scaled cells on this synthetic corpus — the
    // bound is a measured floor, not a tight target
    val exactByVec = exact.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val apprByVec = approx.groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = exactByVec.map { case (v, nbrs) =>
      val got = apprByVec.getOrElse(v, Set.empty)
      nbrs.intersect(got).size.toDouble / nbrs.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@${Similarity.KnnGraphK} = $mean%.3f over ${recalls.size} vecs")
    assert(mean >= 0.30, f"IVF kNN-graph recall collapsed: $mean%.3f")
  }

  test("emb_matryoshka_truncate: full dim recalls itself, prefixes bounded") {
    val rows = run("emb_matryoshka_truncate").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set(8, 16, 32, 64))
    val (nq, _, r64) = rows(64)
    assert(r64 == 1.0, "the full-dimension top-k must recall itself exactly")
    rows.foreach { case (p, (q, m, rec)) =>
      assert(q == nq)
      assert(m >= 0 && m <= q * graft.operators.Similarity.TopK)
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range at prefix $p")
    }
    assert(rows(8)._3 <= rows(64)._3, "prefix-8 recall cannot beat full dim")
  }

  test("ann_knn_graph cap: shipped SFs stay single-shard, and a sampled brute force confirms exactness") {
    import graft.operators.Similarity
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .selectExpr("vec_id", "label", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
    // claim pinned in the scaladoc: every shipped SF's label blocks fit
    // under KnnGraphCap, so shard = x % 1 = 0 and the capped graph IS
    // the uncapped exact in-block kNN (the truth the IVF
    // recall is measured against). If a testdata vintage ever exceeds
    // the cap, this fails and the exactness claims must be revisited.
    val maxBlock = raw.groupBy("label").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxBlock <= Similarity.KnnGraphCap,
      s"label block $maxBlock exceeds KnnGraphCap ${Similarity.KnnGraphCap}")

    // sampled brute-force verifier: for 5 vectors, every reported
    // neighbor's cosine recomputes to the reported value and no
    // in-block vector beats the reported k-th neighbor
    val vecs = raw.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val byLabel = vecs.groupBy(_._2)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val graph = run("ann_knn_graph")
      .collect().groupBy(_.getLong(0))
    val sample = vecs.sortBy(_._1).take(5)
    sample.foreach { case (id, label, v) =>
      val reported = graph(id).sortBy(_.getInt(4)) // by rank
      assert(reported.length == Similarity.KnnGraphK)
      val block = byLabel(label).filter(_._1 != id)
      val exact = block.map { case (nid, _, nv) => (nid, cos(v, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
      reported.zip(exact).foreach { case (rep, (eid, ecos)) =>
        val repCos = rep.getDouble(3) // trunc4'd
        assert(math.abs(math.floor(ecos * 1e4) / 1e4 - repCos) <= 1e-4 + 1e-9,
          s"vec $id: reported ${rep.getLong(2)}@$repCos vs exact $eid@$ecos")
      }
      // no in-block vector beats the k-th reported neighbor materially
      val kth = reported.last.getDouble(3)
      val beat = exact.drop(Similarity.KnnGraphK).headOption.map(_._2).getOrElse(-2.0)
      assert(beat <= kth + 1e-3, s"vec $id: unreported neighbor at $beat beats k-th $kth")
    }
  }

  test("ann_graph_search: edge build joins on the (label, shard) cap key") {
    // the pre-r13 killer was a label-only self-join (Σ|block|² pairs);
    // the capped build's equi-join must include the shard hash key.
    // The entry's own plan starts at the checkpoint cut, so assert on
    // the exposed pre-cut edge frame.
    val p = graft.operators.Similarity.gsEdges(spark, sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // formatted-mode detail section: the join's key lists name the
    // right-side columns, e.g. "Right keys [2]: [nb_label#…, nb_shard#…]"
    val keyLines = "(?m)^.*keys.*nb_label.*$".r.findAllIn(p).toSeq
    assert(keyLines.nonEmpty, s"no edge equi-join keys found in plan:\n$p")
    assert(keyLines.forall(_.contains("nb_shard")),
      s"edge join lacks the shard cap key: ${keyLines.mkString("\n")}")
  }

  test("ann_graph_search: single-shard at shipped SFs, so capped == uncapped edges") {
    import org.apache.spark.sql.functions._
    // every label block fits under KnnGraphCap here (the ann_knn_graph cap test pins
    // this for the shared embeddings table), so shard = x % 1 = 0 and
    // the capped edge list is EXACTLY the uncapped in-block kNN — the
    // exactness claim the oracle hash relies on
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
    val maxBlock = raw.groupBy("label").count().agg(max("count")).head().getLong(0)
    assert(maxBlock <= graft.operators.Similarity.KnnGraphCap)
    val shards = raw.selectExpr("label", "count(*) OVER (PARTITION BY label) AS n")
      .selectExpr(
        s"cast(ceil(n / ${graft.operators.Similarity.KnnGraphCap}.0) as bigint) AS k")
      .agg(max("k")).head().getLong(0)
    assert(shards == 1L, s"expected single-shard blocks at $sf, got $shards")
  }
}
