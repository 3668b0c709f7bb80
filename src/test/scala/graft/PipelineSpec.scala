package graft

import graft.operators.Pipeline
import org.apache.spark.sql.functions._

/** Invariants of the training-data pipeline operators: deterministic
  * membership, mixture copy counts, pack-size bounds, band fractions. */
class PipelineSpec extends SparkTestBase {

  test("split is deterministic and ~80/10/10") {
    val a = Pipeline.splitTrainTest(spark, sf).orderBy("doc_id").collect()
    val b = Pipeline.splitTrainTest(spark, sf).orderBy("doc_id").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "split must be reproducible")
    val byS = a.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    val n = a.length.toDouble
    assert(byS("train") / n > 0.7 && byS("train") / n < 0.9, s"train frac off: $byS")
    assert(byS.getOrElse("val", 0) + byS.getOrElse("test", 0) > 0, s"missing splits: $byS")
    // every doc appears exactly once — splits partition the corpus
    assert(a.map(_.getLong(0)).distinct.length == a.length)
  }

  test("hash sampling membership is invariant under repartitioning") {
    import org.apache.spark.sql.functions._
    // the core determinism claim: unlike rand(seed)/sampleBy, membership
    // is a pure function of the key, so ANY physical layout agrees
    val base = graft.sources.Tables.documents(spark, sf)
    def sampled(parts: Int) =
      Pipeline.sampleStratified(spark, sf).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    // different shuffle layouts of the same op must agree — and the split
    // assignment per doc must match a single-partition recompute
    val a = Pipeline.splitTrainTest(spark, sf).orderBy("doc_id").collect().map(_.toSeq)
    val b = Pipeline.splitTrainTest(spark, sf)
      .repartition(7, col("split")).orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "split must not depend on physical layout")
    assert(sampled(3) == sampled(11), "stratified sample must not depend on layout")
  }

  test("weighted sample is k distinct docs, reproducible, and length-biased") {
    import org.apache.spark.sql.functions._
    val a = Pipeline.sampleWeighted(spark, sf).orderBy("rk").collect()
    val b = Pipeline.sampleWeighted(spark, sf).orderBy("rk").collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "sample must be reproducible")
    assert(a.length == Pipeline.WeightedK)
    assert(a.map(_.getLong(1)).distinct.length == a.length, "without replacement")
    // inclusion ∝ n_chars must pull the sample's mean length above the
    // corpus mean (deterministic given the fixed hash race — not flaky)
    val sampAvg = a.map(_.getLong(2)).sum.toDouble / a.length
    val corpusAvg = graft.sources.Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).collect()(0).getDouble(0)
    assert(sampAvg > corpusAvg, s"sample $sampAvg should exceed corpus $corpusAvg")
  }

  test("mix upsamples odd sources and downsamples even ones") {
    val rows = Pipeline.mixCorpora(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    rows.foreach { case (src, nOut, nUniq) =>
      val odd = src.stripPrefix("src").toInt % 2 == 1
      if (odd) {
        // w=1.8: every doc at least once, some twice
        assert(nOut >= nUniq, s"$src upsample lost docs")
      } else {
        // w=0.6: pure subsample, no copies
        assert(nOut == nUniq, s"$src downsample must not duplicate")
      }
    }
    // global: odd sources expand, even shrink (checked in aggregate to
    // dodge small-sample noise at sf0.001)
    val odds = rows.filter(_._1.stripPrefix("src").toInt % 2 == 1)
    assert(odds.map(_._2).sum > odds.map(_._3).sum, "odd sources should net-expand")
  }

  test("packs respect the token budget up to one document of overflow") {
    val rows = Pipeline.packTokenBudget(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val maxDocTok = graft.sources.Tables.documents(spark, sf)
      .selectExpr("max(cast(ceil(n_chars / 4.0) as bigint))").collect()(0).getLong(0)
    rows.foreach { case (lang, pack, _, tokens) =>
      assert(tokens < Pipeline.PackBudget + maxDocTok,
        s"pack $lang/$pack holds $tokens tokens (budget ${Pipeline.PackBudget}, maxdoc $maxDocTok)")
    }
    // pack ids are contiguous from 0 within each language
    rows.groupBy(_._1).foreach { case (lang, ps) =>
      val ids = ps.map(_._2).sorted.toList
      assert(ids == (0L until ids.length).toList, s"$lang packs not contiguous: $ids")
    }
  }

  test("curation keeps roughly the middle half per language") {
    val kept = Pipeline.curateQualityBand(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.sources.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val k = kept.getOrElse(lang, 0L).toDouble
      // percent_rank band [0.25, 0.75] keeps ~half (±1 boundary row each side)
      assert(k >= n * 0.5 - 2 && k <= n * 0.5 + 2, s"$lang kept $k of $n")
    }
  }

  test("tfidf ranks 5 terms per language, scores non-increasing") {
    val rows = Pipeline.tfidfTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getDouble(4), r.getInt(5)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.map(_._5).sorted.toSeq == (1 to rs.length), s"$lang ranks not 1..k")
      val scores = rs.sortBy(_._5).map(_._4)
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y }, s"$lang not sorted: ${scores.toSeq}")
      // df < 5 for every ranked term: a term in all languages has idf 0
      // and can only rank if nothing else is available
      rs.foreach { case (_, tf, df, tfidf, _) =>
        if (df < 5) assert(tfidf >= 0, s"negative tfidf at df=$df tf=$tf") }
    }
  }

  test("best-fit packing: strict capacity, all docs packed, matches the driver replay") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Pipeline.packBestFit(spark, sf).cache()
    val budget = graft.operators.Pipeline.PackBudget
    // strict capacity unless a single oversized doc owns the bin
    assert(df.filter(col("bin_tokens") > budget && col("n_docs") > 1).count() == 0)
    // every doc lands in exactly one bin
    val packed = df.agg(sum("n_docs")).collect()(0).getLong(0)
    assert(packed == graft.sources.Tables.documents(spark, sf).count())
    // the distributed fold equals a driver-side FFD replay per language
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        ceil(col("n_chars") / 4.0).cast("long").as("t"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = docs.groupBy(_._1).flatMap { case (lang, ds) =>
      graft.operators.Pipeline.ffdPack(budget.toLong, ds.map(x => (x._2, x._3)).toSeq)
        .map { case (bin, n, tok) => (lang, bin, n, tok) }
    }.toSet
    val got = df.select("lang", "bin_id", "n_docs", "bin_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"distributed FFD must equal the replay: diff=${(want diff got).take(3)}")
    df.unpersist()
  }

  test("class-balanced sample: every class keeps exactly the rarest class count") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Pipeline.sampleClassBalanced(spark, sf).cache()
    val kept = df.select(col("n_kept")).distinct().collect()
    assert(kept.length == 1, "all classes keep the same count")
    val nMin = df.agg(min(col("n_orig"))).head.getLong(0)
    assert(kept.head.getLong(0) == nMin)
    assert(df.filter(col("kept_id_sum") <= 0).count() == 0)
    df.unpersist()
  }
  test("domain cap: at most DomainCap docs per source, equal to the window formulation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = graft.operators.Pipeline.curateDomainCap(spark, sf).cache()
    val over = df.groupBy("source").agg(count(lit(1)).as("n"))
      .filter(col("n") > graft.operators.Pipeline.DomainCap)
    assert(over.count() == 0)
    // the bounded-aggregate cut equals the textbook row_number window
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))
    val want = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("domain_rank", row_number().over(w).cast("int"))
      .filter(col("domain_rank") <= graft.operators.Pipeline.DomainCap)
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == want)
    df.unpersist()
  }

  test("k-fold split: folds partition the corpus, assignment is hash-stable") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Pipeline.splitKfold(spark, sf).cache()
    assert(df.count() == graft.operators.Pipeline.KFolds)
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(df.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(df.agg(sum("id_checksum")).head.getLong(0) ==
      docs.agg(sum("doc_id")).head.getLong(0),
      "fold checksums partition the id space exactly")
    // stability: a second run produces the identical manifest
    val again = graft.operators.Pipeline.splitKfold(spark, sf).orderBy("fold").collect().map(_.toSeq)
    assert(df.orderBy("fold").collect().map(_.toSeq).sameElements(again))
    df.unpersist()
  }

  test("dataset card: one row per source, tokens and dups consistent with their sources") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Pipeline.datasetCard(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(df.count() == docs.select("source").distinct().count())
    assert(df.agg(sum("n_docs")).head.getLong(0) == docs.count())
    assert(df.filter(col("mean_quality") < 0 || col("mean_quality") > 1).count() == 0)
    assert(df.filter(col("n_dup_docs") > col("n_docs")).count() == 0)
    // token totals recompute per source
    val want = docs.select(col("source"),
        expr(s"size(${graft.operators.TextAnalysis.toksExpr})").as("nt"))
      .groupBy("source").agg(sum("nt").as("tt"))
    assert(df.join(want, "source").filter(col("tokens_total") =!= col("tt")).count() == 0)
    df.unpersist()
  }

  test("budget apportionment: allocations sum exactly to the budget, proportional") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Pipeline.budgetApportion(spark, sf).cache()
    assert(df.agg(sum("alloc")).head.getLong(0) == graft.operators.Pipeline.ApportionBudget,
      "largest-remainder must hit the budget exactly")
    assert(df.filter(col("extra") < 0 || col("extra") > 1).count() == 0)
    // Hamilton quota property: |alloc - exact quota| < 1
    val tw = df.agg(sum("tokens_w")).head.getLong(0).toDouble
    val bad = df.collect().filter { r =>
      val quota = graft.operators.Pipeline.ApportionBudget * r.getLong(1) / tw
      math.abs(r.getLong(4) - quota) >= 1.0
    }
    assert(bad.isEmpty, s"quota violation: ${bad.take(3).mkString}")
    df.unpersist()
  }

  test("sample_poisson: inverse-CDF replication matches a driver-side replay; mean ≈ λ") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val P = graft.operators.Pipeline
    val rows = P.samplePoisson(spark, sf)
      .select("doc_id", "lam_idx", "lam", "n_copies")
      .as[(Long, Int, Double, Int)].collect()
    assert(rows.nonEmpty)
    // thresholds are a proper CDF prefix (monotone, < 1, ends near 1)
    P.PoissonLams.foreach { lam =>
      val ts = P.poissonThresholds(lam)
      assert(ts.length == P.PoissonCap && ts.sliding(2).forall(p => p(0) < p(1)))
      assert(ts.last > 0.99 && ts.last < 1.0)
    }
    // per-doc replay of the same hash draw + threshold count
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.take(100).foreach { case (id, li, lam, k) =>
      assert(lam == P.PoissonLams(li))
      val hx = md.digest(s"psmp:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(hx.take(13), 16).toDouble / 4503599627370496.0
      val want = P.poissonThresholds(lam).count(_ < u)
      assert(k == want, s"doc $id: $k vs $want")
    }
    // law of large numbers, loose: overall mean within 35% of mean λ
    val meanCopies = rows.map(_._4.toDouble).sum / rows.length
    val meanLam = rows.map(_._3).sum / rows.length
    assert(math.abs(meanCopies - meanLam) < 0.35 * meanLam,
      s"mean copies $meanCopies vs mean lam $meanLam")
  }

  test("pipeline_repro_ledger: stages shrink monotonically, digests replay exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Pipeline.reproLedger(spark, sf)
      .as[(Int, String, Long, String)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("raw", "rule_kept", "dedup_survivors", "train_split"))
    assert(rows.sliding(2).forall { case Array(a, b) => b._3 <= a._3; case _ => true },
      "each stage can only drop rows")
    assert(rows.last._3 > 0, "train split must be non-empty")
    // digest replay for the raw stage: sum the same 52-bit hashes driver-side
    val md = java.security.MessageDigest.getInstance("MD5")
    val ids = graft.sources.Tables.documents(spark, sf)
      .select("doc_id").as[Long].collect()
    val want = ids.map { id =>
      val hx = md.digest(s"led:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      BigInt(java.lang.Long.parseLong(hx.take(13), 16))
    }.sum
    assert(BigInt(rows.head._4) == want, s"raw digest ${rows.head._4} vs $want")
    // determinism: a second run reproduces every digest
    val again = graft.operators.Pipeline.reproLedger(spark, sf)
      .as[(Int, String, Long, String)].collect().sortBy(_._1)
    assert(again.toSeq == rows.toSeq)
  }

  test("split_temporal: the three splits partition the corpus and the embargo is non-empty") {
    val rows = run("split_temporal").collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("embargo", "test", "train"))
    assert(rows.map(_.getLong(1)).sum ==
      graft.sources.Tables.events(spark, sf).count())
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("pack_curriculum: three phases spend the full token budget") {
    val rows = run("pack_curriculum").orderBy("phase").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    val s = rows.map(_.getDouble(3)).sum
    assert(s > 0.995 && s <= 1.0001)
    // curriculum is ordered: phase 1's floor is at least phase 3's
    assert(rows.head.getDouble(5) >= rows.last.getDouble(5))
  }

  test("split_grouped: source-keyed split provably leaks zero sources; doc counts conserve") {
    import spark.implicits._
    val rows = run("split_grouped")
      .select("strategy", "split", "n_docs", "n_sources", "n_leaked_sources")
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.length == 4)
    val total = graft.sources.Tables.documents(spark, sf).count()
    Seq("by_doc", "by_source").foreach { st =>
      val arm = rows.filter(_._1 == st)
      assert(arm.map(_._3).sum == total, s"$st docs don't conserve")
    }
    assert(rows.filter(_._1 == "by_source").forall(_._5 == 0), "source split leaked a source")
    // doc-keyed split scatters at least one source across both sides here
    assert(rows.filter(_._1 == "by_doc").forall(_._5 > 0), "by_doc unexpectedly leak-free")
  }

  test("sample_neyman: allocations respect the budget and integer-mass proportionality") {
    import spark.implicits._
    val rows = run("sample_neyman")
      .select("source", "n", "mass", "neyman_alloc", "prop_alloc")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val budget = graft.operators.Pipeline.NeymanBudget
    assert(rows.map(_._4).sum <= budget, "Neyman allocation over budget")
    assert(rows.map(_._5).sum <= budget, "proportional allocation over budget")
    assert(rows.forall(r => r._4 >= 0 && r._5 >= 0))
    // floor-share monotonicity: more mass never gets fewer slots
    val byMass = rows.sortBy(_._3)
    assert(byMass.sliding(2).forall(p => p(0)._4 <= p(1)._4), "allocation not monotone in mass")
  }

  test("mix_kl_divergence: shares are distributions; kl term signs follow lift") {
    import spark.implicits._
    val rows = run("mix_kl_divergence")
      .select("source", "n_docs", "copies", "q_mass", "p_share", "q_share", "lift", "kl_term")
      .as[(String, Long, Long, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    val pSum = rows.map(_._5).sum; val qSum = rows.map(_._6).sum
    assert(pSum > 0.98 && pSum <= 1.0 + 1e-9, s"p shares sum $pSum")
    assert(qSum > 0.98 && qSum <= 1.0 + 1e-9, s"q shares sum $qSum")
    rows.foreach { case (src, n, copies, qm, p, q, lift, kl) =>
      assert(copies >= 0 && copies <= 2 * n, s"$src copies outside [0, 2n]")
      assert(qm == n * 6 || qm == n * 18, s"$src target mass not weight-implied")
      assert(p >= 0 && q > 0 && lift >= 0)
      // floored values: a clearly down/up-delivered source signs its KL term
      if (lift > 1.01) assert(kl > 0, s"$src over-delivered but kl $kl")
      if (lift < 0.99 && p > 0) assert(kl < 0, s"$src under-delivered but kl $kl")
    }
  }

  test("pack_shuffle_quality: hash order interleaves, source order degenerates") {
    import spark.implicits._
    val rows = run("pack_shuffle_quality")
      .select("layout", "n_docs", "n_runs", "mean_run")
      .as[(String, Long, Long, Double)].collect()
    val byLayout = rows.map(r => r._1 -> r).toMap
    assert(byLayout.keySet == Set("source_sorted", "hash_shuffled"))
    val nSources = graft.sources.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(byLayout("source_sorted")._3 == nSources,
      "sorted layout must produce exactly one run per source")
    val sh = byLayout("hash_shuffled")
    assert(sh._3 > nSources, "hash order failed to interleave")
    assert(sh._4 < 3.0, s"hash-shuffled mean run ${sh._4} too long for ~uniform sources")
  }

  // ------------------------------------------------------------ coreset

  test("sample_coreset equals a driver-side greedy farthest-point replay") {
    import spark.implicits._
    // 40 vectors in 4 well-separated blobs + jitter: farthest-point
    // must visit all blobs before densifying any one of them
    val vecs = (0 until 40).map { i =>
      val blob = i % 4
      val base = Array.fill(8)(0.0f)
      base(blob * 2) = 10.0f * (blob + 1)
      base(7) = (i / 4).toFloat * 0.01f
      (i.toLong, base.toSeq, blob)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_coreset").toString
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def dq(e: Seq[Double], c: Seq[Double]): Long =
      math.floor((dot(e, e) + dot(c, c) - 2 * dot(e, c)) * 1e6).toLong
    val pts = vecs.map { case (id, v, _) => id -> v.map(_.toDouble) }
    var centers = Vector((1, pts.head._1, 0L))  // min vec_id = 0
    var mind = pts.map { case (id, v) => id -> dq(v, pts.head._2) }.toMap
    for (k <- 2 to graft.operators.Pipeline.CoresetK) {
      val (pid, pd) = mind.toSeq.maxBy { case (id, dd) => (dd, -id) }
      centers :+= ((k, pid, pd))
      val cv = pts.find(_._1 == pid).get._2
      mind = mind.map { case (id, dd) => id -> math.min(dd, dq(pts.find(_._1 == id).get._2, cv)) }
    }
    val got = graft.operators.Pipeline.sampleCoreset(spark, dir)
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = centers.map { case (k, id, dd) => (k, id, dd / 1e6) }
    assert(got.toSeq == want, s"got=${got.toSeq} want=$want")
    // radii non-increasing from k=2 on (the k-center cost curve)
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => a >= b })
    // the first 4 picks cover all 4 blobs (diversity, not density)
    assert(got.take(4).map(_._2 % 4).toSet.size == 4)
  }

  // ------------------------------------------------ split_purged_cv

  test("split_purged_cv replays the fold ladder and purge discipline") {
    // day d at epoch of 2024-01-01 + d days (the entry anchors there)
    val day0 = java.time.LocalDate.parse("2024-01-01")
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    def at(d: Int) = day0 + d * 86400L + 3600L
    // users: 1 active early+late (overlaps), 2 only early, 3 only late
    val raw = Seq(
      (1L, at(0), 1L), (2L, at(1), 2L), (3L, at(3), 1L), (4L, at(4), 2L),
      (5L, at(5), 3L), (6L, at(6), 1L), (7L, at(8), 3L),
      (8L, at(10), 2L), (9L, at(12), 1L), (10L, at(14), 3L),
      (11L, at(16), 1L), (12L, at(19), 2L), (13L, at(21), 1L), (14L, at(24), 3L))
    val dir = writeEvents(raw.map { case (id, ts, uid) => (id, ts, uid, "t", 1.0) })

    val got = Pipeline.splitPurgedCv(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val days = raw.map { case (id, ts, uid) => (uid, ((ts - day0) / 86400L).toInt) }
    val expected = (1 to Pipeline.CvFolds).map { k =>
      val te = k * (Pipeline.CvPurgeDays + Pipeline.CvTestDays)
      val ts0 = te + Pipeline.CvPurgeDays
      val nTrain = days.count(_._2 < te)
      val nPurge = days.count(d => d._2 >= te && d._2 < ts0)
      val nTest = days.count(d => d._2 >= ts0 && d._2 < ts0 + Pipeline.CvTestDays)
      val overlap = days.groupBy(_._1).count { case (_, ds) =>
        ds.exists(_._2 < te) && ds.exists(d => d._2 >= ts0 && d._2 < ts0 + Pipeline.CvTestDays)
      }
      k -> (te, nTrain.toLong, nPurge.toLong, nTest.toLong, overlap.toLong)
    }.toMap
    assert(got == expected, s"got $got\nexpected $expected")
    // ladder property: training sets only grow; roles are disjoint per fold
    val trains = (1 to Pipeline.CvFolds).map(k => got(k)._2)
    assert(trains == trains.sorted, "walk-forward training sets must be monotone")
    got.values.foreach { case (_, tr, pu, te2, _) =>
      assert(tr + pu + te2 <= raw.size, "fold roles overlap")
    }
  }

  test("pack_boundary_offsets agrees with pack_token_budget and starts at 0") {
    val packs = run("pack_token_budget").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val bounds = run("pack_boundary_offsets").collect()
    assert(bounds.nonEmpty)
    bounds.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val (nDocs, packTokens) = (r.getLong(2), r.getLong(3))
      assert(packs(key) == ((nDocs, packTokens)),
        s"boundary pack $key disagrees with the packer")
      val offs = r.getString(4).split(",").map(_.toLong)
      assert(offs.length == nDocs, s"one boundary per doc at $key")
      assert(offs.head == 0, s"first doc starts the window at $key")
      assert(offs.zip(offs.tail).forall { case (a, b) => a < b },
        s"offsets strictly increase at $key")
      assert(offs.last < packTokens, s"last boundary inside the window at $key")
    }
  }

  test("pack_mask_density describes the same packs as pack_token_budget") {
    val packs = run("pack_token_budget").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val dens = run("pack_mask_density").collect()
    assert(dens.nonEmpty)
    dens.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      assert(packs(key) == ((r.getLong(2), r.getLong(3))),
        s"pack $key diverged between the two ledgers")
      val valid = r.getLong(5)
      assert(valid >= 0 && valid <= 1000000L)
      if (r.getLong(2) == 1L)
        assert(valid == 1000000L, "a single-doc pack has a full mask")
    }
  }
}
