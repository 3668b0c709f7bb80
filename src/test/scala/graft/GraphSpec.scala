package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkTestBase {

  test("pagerank: one score per node, floored at teleport, mass approximately conserved") {
    val df = Graph.pagerank(spark, sf).cache()
    val n = df.count()
    assert(n > 0 && df.select("node").distinct().count() == n)
    // every node receives at least the teleport mass
    val minR = df.agg(min("r")).collect()(0).getLong(0)
    assert(minR >= (15L * (1000000000000L / n)) / 100L - 1)
    // integer truncation only LOSES mass, and at most ~(100 + outdeg)
    // micro-units per node per iteration — total stays within 1% of BASE
    val total = df.agg(sum("r")).collect()(0).getLong(0)
    assert(total <= 1000000000000L && total > 990000000000L, s"total=$total")
    // hubs win: the max-degree side (suppliers, 1:15 ratio to customers)
    // must average a higher rank than customers
    val bySide = df.groupBy(substring(col("node"), 1, 1).as("side"))
      .agg(avg(col("r")).as("ar")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(bySide("s") > bySide("c"), s"supplier hubs should outrank customers: $bySide")
    df.unpersist()
  }

  test("pagerank and hits return their columns and no rows on an empty graph") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_graph").toString
    for (t <- Seq("orders", "lineitem"))
      spark.read.parquet(s"$sf/$t.parquet").limit(0).write.parquet(s"$dir/$t.parquet")
    val columns = Map("graph_pagerank" -> Seq("node", "r"),
      "graph_hits" -> Seq("side", "node_id", "score_fp", "rank"))
    for (entry <- SparkEntry.pick(columns.keys.toSeq)) {
      val o = SparkEntry.run(spark, dir, entry)(df => (df.columns.toSeq, df.count()))
      assert(o.get == (columns(entry._1), 0L), entry._1)
    }
  }

  test("reliable-checkpoint mode: pagerank bit-identical under spark.graft.reliableCheckpoints") {
    val base = Graph.pagerank(spark, sf).orderBy("node").collect().map(r => (r.getString(0), r.getLong(1)))
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Checkpoints.Flag, "true")
    try {
      val reliable = Graph.pagerank(spark, sf).orderBy("node").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(reliable.sameElements(base), "checkpoint mode must not change results")
    } finally {
      spark.conf.set(Checkpoints.Flag, "false")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("degree histogram: node total matches the graph, degrees positive") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Graph.degreeHistogram(spark, sf).cache()
    assert(df.filter(col("degree") <= 0).count() == 0)
    val totalNodes = df.agg(sum("n_nodes")).collect()(0).getLong(0)
    val ranked = graft.operators.Graph.pagerank(spark, sf).count()
    assert(totalNodes == ranked, "every ranked node has a degree bucket")
    df.unpersist()
  }

  test("LPA communities: every node labeled with an existing node id, sizes consistent") {
    val df = Graph.communitiesLpa(spark, sf).cache()
    val nodes = df.select(col("page")).distinct().count()
    assert(df.count() == nodes, "one row per node")
    // labels are node ids from the same graph
    assert(df.join(df.select(col("page").as("community")).distinct(),
      Seq("community"), "left_anti").count() == 0)
    // reported sizes match actual community populations
    val sizes = df.groupBy(col("community")).agg(count(lit(1)).as("n"))
    assert(df.join(sizes, Seq("community"))
      .filter(col("community_size") =!= col("n")).count() == 0)
    df.unpersist()
  }

  test("BFS distances: triangle inequality over edges, source at zero") {
    val df = Graph.bfsDistance(spark, sf).cache()
    assert(df.filter(col("dist") === 0).count() == 1, "exactly one source")
    assert(df.filter(col("dist") < 0 || col("dist") > Graph.BfsMaxHops).count() == 0)
    // for every edge (u,v) with both endpoints reachable: |d(u)-d(v)| <= 1
    val sim = graft.operators.Affinity.nodeSimilarity(spark, sf)
      .select(col("page_a").cast("long").as("u"), col("page_b").cast("long").as("v"))
    val du = df.select(col("node").as("u"), col("dist").as("d_u"))
    val dv = df.select(col("node").as("v"), col("dist").as("d_v"))
    val bad = sim.join(du, Seq("u")).join(dv, Seq("v"))
      .filter(abs(col("d_u") - col("d_v")) > 1)
    assert(bad.count() == 0, "adjacent nodes differ by at most one hop")
    df.unpersist()
  }
  test("triangle count: every counted node closes at least one real triangle") {
    val df = Graph.triangleCount(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_triangles") <= 0).count() == 0)
    // brute-force check on the small page graph: adjacency as sets
    val adj = graft.operators.Affinity.nodeSimilarity(spark, sf)
      .select(col("page_a").cast("long").as("u"), col("page_b").cast("long").as("v"))
      .collect().flatMap(r => Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val want = adj.map { case (n, nbrs) =>
      n -> nbrs.toSeq.combinations(2).count { case Seq(x, y) => adj(x).contains(y) }
    }.filter(_._2 > 0)
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == want, s"diff=${(want.toSet diff got.toSet).take(3)}")
    df.unpersist()
  }

  test("k-core: surviving nodes keep degree >= k against the surviving subgraph") {
    val df = Graph.kcore(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("core_degree") < Graph.KCoreK).count() == 0,
      "after the final peel round every survivor has degree >= k IN the core")
    // the core is a subgraph of the full graph: degrees can only shrink
    val full = Graph.triangleCount(spark, sf) // reuse of pageEdges shape not needed; recompute
    val deg = graft.operators.Affinity.nodeSimilarity(spark, sf)
      .select(col("page_a").cast("long").as("u"), col("page_b").cast("long").as("v"))
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case (k, vs) => k -> vs.length.toLong }
    val bad = df.collect().filter(r => r.getLong(1) > deg(r.getLong(0)))
    assert(bad.isEmpty, s"core degree exceeded full degree: ${bad.take(3).mkString}")
    df.unpersist()
  }
}
