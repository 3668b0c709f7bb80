package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based coverage of the native `graft_*` kernel expressions:
  * randomized inputs (seeded — every run sees the same cases) checked
  * against driver-side models THROUGH the SQL surface, under explicit
  * repartitioning so partial-aggregation merge paths are exercised.
  * Complements the example-based suites: these pin the algebraic
  * contracts (top-k ordering, sketch retention, MG guarantee, codec
  * identity, pair expansion, LTTB selection invariants) across the
  * input space, not at hand-picked points. */
class KernelPropertySpec extends SparkTestBase {

  private def cases[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(seed + i)))

  // ------------------------------------------------------ graft_topk

  test("graft_topk equals the true (score desc, id asc) top-k under any partitioning") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.chooseNum(0, 60)
      scores <- Gen.listOfN(n, Gen.chooseNum(-100, 100).map(_ / 7.0))
      ids <- Gen.listOfN(n, Gen.chooseNum(1L, 25L)) // collisions on purpose
    } yield scores.zip(ids)
    val cs = cases(genCase, 40, 4242L).zipWithIndex
    val rows = cs.flatMap { case (ps, cid) => ps.map(p => (cid, p._1, p._2)) }
    val got = rows.toDF("cid", "score", "id")
      .repartition(7)
      .groupBy(col("cid")).agg(expr("graft_topk(score, id, 5)").as("top"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1))))
      .toMap
    cs.foreach { case (ps, cid) =>
      val want = ps.sortBy { case (s, id) => (-s, id) }.take(5)
      assert(got.getOrElse(cid, Nil) == want, s"case $cid: ${got.get(cid)} != $want")
    }
  }

  // ----------------------------------------------------- graft_theta

  test("graft_theta retains the k smallest distinct hashes; re-aggregation unions") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.chooseNum(0, 80)
      hs <- Gen.listOfN(n, Gen.chooseNum(0L, 999L)) // dup-heavy domain
    } yield hs
    val cs = cases(genCase, 40, 777L).zipWithIndex
    val rows = cs.flatMap { case (hs, cid) => hs.map(h => (cid, h)) }
    val df = rows.toDF("cid", "h").repartition(6)
    val got = df.groupBy(col("cid")).agg(expr("graft_theta(h, 8)").as("sk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cs.foreach { case (hs, cid) =>
      val want = hs.distinct.sorted.take(8)
      assert(got.getOrElse(cid, Nil) == want, s"case $cid")
    }
    // union-by-reaggregation: theta(theta(A) ++ theta(B)) == theta(A ++ B)
    val half = df.withColumn("side", col("h") % 2)
      .groupBy(col("cid"), col("side")).agg(expr("graft_theta(h, 8)").as("sk"))
      .select(col("cid"), explode(col("sk")).as("h"))
      .groupBy(col("cid")).agg(expr("graft_theta(h, 8)").as("sk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    cs.foreach { case (hs, cid) =>
      // halves retain their 8 smallest each; the union's 8 smallest
      // are among those 16, so the re-aggregation is exact
      assert(half.getOrElse(cid, Nil) == hs.distinct.sorted.take(8),
        s"case $cid: sketch union not exact")
    }
  }

  // -------------------------------------------------------- graft_mg

  test("graft_mg candidates include every item above the n/k guarantee, any partitioning") {
    import spark.implicits._
    // skewed draws: small alphabet with geometric-ish weights
    val genCase = for {
      n <- Gen.chooseNum(1, 300)
      xs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.const("hot"), 4 -> Gen.const("warm"),
        2 -> Gen.oneOf("a", "b", "c"), 1 -> Gen.oneOf("d", "e", "f", "g")))
    } yield xs
    val k = 6
    val cs = cases(genCase, 30, 90210L).zipWithIndex
    val rows = cs.flatMap { case (xs, cid) => xs.map(x => (cid, x)) }
    val got = rows.toDF("cid", "x").repartition(5)
      .groupBy(col("cid")).agg(expr(s"graft_mg(x, $k)").as("cand"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toSet).toMap
    cs.foreach { case (xs, cid) =>
      val n = xs.size
      val freq = xs.groupBy(identity).view.mapValues(_.size)
      val mustHave = freq.collect { case (x, c) if c * k > n => x }.toSet
      val cand = got.getOrElse(cid, Set.empty)
      assert(mustHave.subsetOf(cand),
        s"case $cid: guaranteed heavy hitters ${mustHave -- cand} missing (n=$n)")
      assert(cand.size <= k - 1, s"case $cid: ${cand.size} candidates > k-1")
    }
  }

  // ------------------------------------------- snappy codec identity

  test("graft_unsnappy(graft_snappy(b)) == b for arbitrary byte strings") {
    import spark.implicits._
    val genCase: Gen[Array[Byte]] = Gen.frequency(
      4 -> Gen.chooseNum(0, 400).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray)),
      1 -> Gen.const(Array.empty[Byte]),
      1 -> Gen.chooseNum(1, 2000).map(n => Array.fill[Byte](n)(7)), // hyper-compressible
      1 -> Gen.chooseNum(1, 64).map(n => (0 until n).map(_.toByte).toArray))
    val cs = cases(genCase, 40, 1337L).zipWithIndex
    val got = cs.map { case (b, cid) => (cid, b) }.toDF("cid", "b")
      .select(col("cid"), expr("graft_unsnappy(graft_snappy(b))").as("rt"),
        length(expr("graft_snappy(b)")).as("clen"))
      .collect().map(r => r.getInt(0) -> (r.getAs[Array[Byte]](1), r.getInt(2))).toMap
    cs.foreach { case (b, cid) =>
      val (rt, clen) = got(cid)
      assert(java.util.Arrays.equals(rt, b), s"case $cid: roundtrip differs")
      assert(clen >= 1, s"case $cid: empty frame")
    }
  }

  // ----------------------------------------------------- graft_pairs

  test("graft_pairs emits exactly the ordered i<j pair expansion") {
    import spark.implicits._
    val genCase = Gen.chooseNum(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 1000L)).map(_.distinct.sorted))
    val cs = cases(genCase, 40, 5150L).zipWithIndex
    val got = cs.map { case (ids, cid) => (cid, ids) }.toDF("cid", "ids")
      .select(col("cid"), expr("graft_pairs(ids)").as("ps"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1))))
      .toMap
    cs.foreach { case (ids, cid) =>
      val want = for { i <- ids.indices; j <- i + 1 until ids.size } yield (ids(i), ids(j))
      assert(got(cid) == want, s"case $cid")
    }
  }

  // --------------------------------------------------- graft_shingle3

  test("graft_shingle3 equals first-occurrence-distinct word 3-grams") {
    import spark.implicits._
    val word = Gen.oneOf("the", "fox", "dog", "run", "big", "was")
    val genCase = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word))
    val cs = cases(genCase, 40, 2001L).zipWithIndex
    val got = cs.map { case (ws, cid) => (cid, ws) }.toDF("cid", "toks")
      .select(col("cid"), expr("graft_shingle3(toks)").as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    cs.foreach { case (ws, cid) =>
      val want = ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq.distinct
      assert(got(cid) == want, s"case $cid: ${got(cid)} != $want")
    }
  }

  // ------------------------------------------------------ graft_lttb

  test("graft_lttb: endpoints kept, picks are input points in order, bucket count exact") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.chooseNum(3, 120)
      vs <- Gen.listOfN(n, Gen.chooseNum(-5000L, 5000L))
    } yield vs.zipWithIndex.map { case (v, i) => (i * 60L, i.toLong, v) }
    val k = 7 // bucket size
    val cs = cases(genCase, 40, 6060L).zipWithIndex
    val got = cs.map { case (pts, cid) => (cid, pts) }.toDF("cid", "pts")
      .select(col("cid"), expr(s"graft_lttb(pts, $k)").as("sel"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1))))
      .toMap
    cs.foreach { case (pts, cid) =>
      val sel = got(cid)
      val n = pts.size
      val nb = (n - 2 + k - 1) / k
      assert(sel.size == nb + 2, s"case $cid: ${sel.size} != ${nb + 2} (n=$n)")
      assert(sel.head == ((pts.head._1, pts.head._3)) &&
        sel.last == ((pts.last._1, pts.last._3)), s"case $cid: endpoints not kept")
      val inputSet = pts.map(p => (p._1, p._3)).toSet
      assert(sel.forall(inputSet), s"case $cid: invented points")
      assert(sel.map(_._1) == sel.map(_._1).sorted &&
        sel.map(_._1).distinct.size == sel.size, s"case $cid: picks out of order")
    }
  }

  // ------------------------------ graft_bloom_agg / graft_might_contain

  test("bloom filter: zero false negatives ever; false-positive rate sane") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.chooseNum(1, 400)
      xs <- Gen.listOfN(n, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    } yield xs.distinct
    cases(genCase, 10, 8086L).zipWithIndex.foreach { case (xs, ci) =>
      val bf = xs.toDF("x").repartition(3)
        .agg(expr("graft_bloom_agg(xxhash64(x), 1024L, 65536L)"))
        .collect()(0).getAs[Array[Byte]](0)
      val inserted = xs.toDF("x")
        .select(call_function("graft_might_contain", lit(bf), xxhash64(col("x"))).as("m"))
        .collect().map(_.getBoolean(0))
      assert(inserted.forall(identity),
        s"case $ci: a bloom filter may NEVER false-negative an inserted key")
      val absent = (1L to 2000L).map(i => i * 1000003L + 17L).filterNot(xs.toSet)
      val fps = absent.toDF("x")
        .select(call_function("graft_might_contain", lit(bf), xxhash64(col("x"))).as("m"))
        .collect().count(_.getBoolean(0))
      assert(fps < absent.size * 0.05,
        s"case $ci: $fps/${absent.size} false positives at 64 bits/item")
    }
  }

  // ----------------------------------------- graft_dot / graft_norm2

  test("graft_dot and graft_norm2 equal the in-order driver fold exactly") {
    import spark.implicits._
    val genCase = for {
      n <- Gen.chooseNum(1, 64)
      a <- Gen.listOfN(n, Gen.chooseNum(-1000, 1000).map(_ / 997.0))
      b <- Gen.listOfN(n, Gen.chooseNum(-1000, 1000).map(_ / 991.0))
    } yield (a, b)
    val cs = cases(genCase, 40, 31415L).zipWithIndex
    val got = cs.map { case ((a, b), cid) => (cid, a, b) }.toDF("cid", "a", "b")
      .select(col("cid"), expr("graft_dot(a, b)").as("d"), expr("graft_norm2(a)").as("n2"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    cs.foreach { case ((a, b), cid) =>
      val d = a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val n2 = a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * a(i))
      assert(got(cid) == ((d, n2)), s"case $cid: ${got(cid)} != ${(d, n2)}")
    }
  }

  test("graft_lttb kernel picks the hand-computable points on a tiny series") {
    import spark.implicits._
    // 8 points, k=3 → first + 2 interior buckets + last.
    // pts sorted by sec; values chosen so the largest-triangle pick is
    // unambiguous: bucket 1 = secs 1..3, bucket 2 = secs 4..6 (anchor
    // for b1 is b2's centroid; anchor for b2 is the final point).
    val pts = Seq(
      (0L, 0L, 10L), (1L, 1L, 10L), (2L, 2L, 90L), (3L, 3L, 10L),
      (4L, 4L, 10L), (5L, 5L, 5L), (6L, 6L, 80L), (7L, 7L, 20L))
    val df = pts.toDF("sec", "event_id", "v_c")
      .agg(org.apache.spark.sql.functions.sort_array(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct($"sec", $"event_id", $"v_c"))).as("pts"))
      .selectExpr("inline(graft_lttb(pts, 3))")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // first and last always kept; sec=2 (v=90) dominates bucket 1.
    // bucket 2 anchors on prev pick (2,90) and the final point (7,20):
    // areas are |(2-7)(v-90) - (2-s)(20-90)| = 260 / 215 / 230 for
    // s=4,5,6 — the deep DIP at (4,10) wins, not the (6,80) spike
    // (largest-triangle, not largest-value)
    assert(got == Seq((0L, 10L), (2L, 90L), (4L, 10L), (7L, 20L)), s"got $got")
  }

  test("graft_lttb output length is exact: first + ceil((n-2)/k) picks + last") {
    import spark.implicits._
    for (n <- Seq(3, 4, 7, 10, 23); k <- Seq(2, 3, 7)) {
      val pts = (0 until n).map(i => (i.toLong, i.toLong, (i * 37 % 101).toLong))
      val cnt = pts.toDF("sec", "event_id", "v_c")
        .agg(org.apache.spark.sql.functions.sort_array(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct($"sec", $"event_id", $"v_c"))).as("pts"))
        .selectExpr(s"size(graft_lttb(pts, $k)) AS m")
        .head().getInt(0)
      assert(cnt == 2 + (n - 2 + k - 1) / k, s"n=$n k=$k -> $cnt")
    }
  }

  test("graft_pairs: a block past 65536 ids fails loudly instead of mis-sizing") {
    val big = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(65537)(_.toLong.asInstanceOf[Any]))
    val e = intercept[IllegalArgumentException] {
      graft.functions.TextKernels.pairCombos(big)
    }
    assert(e.getMessage.contains("cap the block"))
    // and the boundary below still sizes exactly
    val ok = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate(200)(_.toLong.asInstanceOf[Any]))
    assert(graft.functions.TextKernels.pairCombos(ok).numElements() == 200 * 199 / 2)
  }
}
