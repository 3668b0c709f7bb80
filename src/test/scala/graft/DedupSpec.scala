package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** dedup_cluster vs a driver-side union-find over the same pair graph:
  * the iterative min-label propagation must produce exactly the
  * canonical (min-id) component assignment. */
class ClusterSpec extends SparkTestBase {
  test("min-label propagation equals union-find components") {
    import spark.implicits._
    val pairs = graft.operators.Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = (pairs.flatMap(p => Seq(p._1, p._2)).distinct)
      .map(d => d -> find(d)).toMap
    val got = graft.operators.Cluster.dedupCluster(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(got == want,
      s"got=${got.size} want=${want.size} diff=${(want.toSet diff got.toSet).take(3)}")
  }

  test("soft-weight mass conservation: each component contributes ~one doc of ppm mass") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.operators.Cluster.softWeight(spark, sf).cache()
    val docs = graft.sources.Tables.documents(spark, sf)
    // one row per source, raw counts conserved
    assert(df.count() == docs.select("source").distinct().count())
    assert(df.agg(sum("docs")).as[Long].head() == docs.count())
    assert(df.agg(sum("chars")).as[Long].head() ==
      docs.agg(sum("n_chars")).as[Long].head())
    // effective doc mass: singletons contribute exactly 1e6 each;
    // every c-sized component sums to <= 1e6 with floor loss < c ppm.
    // Global check: n_components*1e6 >= sum(eff) > n_components*1e6 - total_docs
    val clusters = graft.operators.Cluster.dedupCluster(spark, sf)
    val nComp = clusters.select("cluster_id").distinct().count()
    val nClustered = clusters.count()
    val singles = docs.count() - nClustered
    val eff = df.agg(sum("eff_docs_ppm")).as[Long].head()
    val upper = (singles + nComp) * 1000000L
    assert(eff <= upper && eff > upper - docs.count(),
      s"eff=$eff upper=$upper")
    // weights never exceed 1: effective never exceeds raw
    assert(df.filter(col("eff_docs_ppm") > col("docs") * 1000000L).count() == 0)
    assert(df.filter(col("eff_chars_ppm") > col("chars") * 1000000L).count() == 0)
    assert(df.filter(col("dup_docs") > col("docs")).count() == 0)
    df.unpersist()
  }

  // --------------------------------------------------- dedup-aware split

  test("split_dedup_aware emits zero cross-split near-dup pairs where the naive split leaks") {
    val out = graft.operators.Cluster.splitDedupAware(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == 500, "all docs assigned")
    assert(out.forall(_.getLong(3) == 0L), "no near-dup pair may cross splits")
    // the naive per-doc split on the same pair graph: count leaks
    val pairs = graft.operators.Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "test corpus must contain near-dup pairs")
    def naiveSplit(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      val b = java.lang.Long.parseLong(h, 16) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val naiveCross = pairs.count { case (a, b) => naiveSplit(a) != naiveSplit(b) }
    assert(naiveCross > 0, "naive split should leak on this corpus (else the test is vacuous)")
  }

  test("bucket clustering coarsens verified-pair clustering (no component splits)") {
    import org.apache.spark.sql.functions._
    // every verified near-dup pair shares a band bucket by construction,
    // so the bucket components may MERGE verified components but can
    // never split one: both endpoints of every verified pair must land
    // in the same bucket cluster
    val bc = run("dedup_cluster_buckets")
    val pairs = run("dedup_minhash_lsh")
      .select(col("doc_a"), col("doc_b"))
    val split = pairs
      .join(bc.select(col("doc_id").as("doc_a"), col("cluster_id").as("ca")), "doc_a")
      .join(bc.select(col("doc_id").as("doc_b"), col("cluster_id").as("cb")), "doc_b")
      .filter(col("ca") =!= col("cb"))
      .count()
    assert(split == 0L, s"$split verified pairs split across bucket clusters")
    // and it is a genuine coarsening target: every verified-cluster doc
    // appears in the bucket clustering too
    val vc = run("dedup_cluster")
    val missing = vc.select("doc_id").exceptAll(bc.select("doc_id")).count()
    assert(missing == 0L, s"$missing verified-cluster docs missing from bucket clusters")
  }
}

/** Semantics checks for the dedup family beyond the DuckDB oracle:
  * LSH candidate generation vs brute-force ground truth. */
class DedupSpec extends SparkTestBase {

  test("simhash banded candidates equal brute-force hamming<=3 pairs") {
    // brute force: compute all-pairs hamming over the same signatures
    import spark.implicits._
    val banded = Dedup.simhash(spark, sf)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet

    // reconstruct signatures exactly as the operator does, then all pairs
    val toks = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(${graft.operators.TextAnalysis.toksExpr})")).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until 64).map(k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$k"))
    val sig = toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .withColumn("bits", concat((0 until 64).map(k =>
        when(col(s"v$k") > 0, "1").otherwise("0")): _*))
      .select("doc_id", "bits").as[(Long, String)].collect()
    val brute = (for {
      (a, ba) <- sig; (b, bb) <- sig if a < b
      ham = ba.zip(bb).count { case (x, y) => x != y } if ham <= 3
    } yield (a, b, ham)).toSet
    assert(banded == brute,
      s"banded=${banded.size} brute=${brute.size} diff=${(banded diff brute).take(5)} ${(brute diff banded).take(5)}")
  }

  test("minhash-LSH finds the strong near-dup pairs ngram-jaccard finds") {
    import spark.implicits._
    val lsh = Dedup.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val strong = Dedup.ngramJaccard(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // j>=0.9 pairs collide in a band with prob ~1-(1-0.9^4)^4 ≈ 0.98+;
    // the corpus' strong pairs are near-identical, so demand full recall
    assert(strong.subsetOf(lsh), s"missed: ${strong diff lsh}")
  }

  test("fuzzy-edit nearest neighbor is the true block minimum") {
    import spark.implicits._
    val out = Dedup.fuzzyEdit(spark, sf)
      .select("doc_id", "nn_doc_id", "edit_distance")
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty)
    assert(out.map(_._1).distinct.length == out.length, "one row per probe doc")
    // brute-force the same blocks on the driver and compare minima
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / Dedup.FuzzyBand).as("band"),
        substring(col("text"), 1, Dedup.FuzzyPrefix).as("prefix"))
      .as[(Long, String, Long, String)].collect()
    val byBlock = docs.groupBy(r => (r._2, r._3))
    val want = byBlock.values.flatMap { block =>
      if (block.length < 2) Nil
      else block.map { a =>
        val best = block.filter(_._1 != a._1)
          .map(b => (lev(a._4, b._4), b._1)).min
        (a._1, best._2, best._1)
      }
    }.toSet
    assert(out.toSet == want,
      s"got=${out.length} want=${want.size} diff=${(want diff out.toSet).take(3)}")
  }

  test("exact dedup groups sum to corpus size") {
    val g = Dedup.exact(spark, sf).agg(sum("n_docs")).head().getLong(0)
    val n = graft.sources.Tables.documents(spark, sf).count()
    assert(g == n)
  }

  test("lsh recall eval: caught bounded by truth, high band near-certain") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Dedup.lshRecall(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_caught") > col("n_truth")).count() == 0)
    assert(df.filter(col("recall") < 0 || col("recall") > 1).count() == 0)
    // the 0.9+ band must be caught essentially always (S-curve top end)
    val hi = df.filter(col("band_lo") === 0.9)
    if (hi.count() > 0)
      assert(hi.filter(col("recall") < 0.95).count() == 0,
        "LSH must catch nearly all 0.9+ jaccard pairs")
    df.unpersist()
  }
  test("cross-source dedup: winner has the group's best priority, groups are real dups") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Dedup.crossSource(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("n_copies") < 2).count() == 0)
    assert(df.filter(col("n_sources") > col("n_copies")).count() == 0)
    // the kept source's priority really is the group minimum: rejoin
    // docs by fingerprint and compare
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        md5(expr("array_join(array_sort(array_distinct(" +
          graft.operators.TextAnalysis.toksExpr + ")), ' ')")).as("fingerprint"),
        expr("cast(substring(source, 4, 10) as int)").as("prio"))
    val best = docs.groupBy(col("fingerprint")).agg(min(col("prio")).as("best_prio"))
    val bad = df.join(best, Seq("fingerprint"))
      .join(docs.select(col("doc_id").as("keep_doc_id"), col("prio")), Seq("keep_doc_id"))
      .filter(col("prio") =!= col("best_prio"))
    assert(bad.count() == 0, "kept copy must come from the highest-priority source")
    df.unpersist()
  }

  test("LSH S-curve: monotone, endpoints sane, threshold crossing marked once") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Dedup.lshScurve(spark, sf).cache()
    val rows = df.orderBy(col("s_x100")).collect()
    assert(rows.length == 19)
    val ps = rows.map(_.getDouble(4))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b }, "P(candidate) is monotone in s")
    assert(ps.head < 0.01 && ps.last > 0.95, s"endpoints: ${ps.head}, ${ps.last}")
    // detected flag flips exactly once, at the first p >= 0.5
    val flags = rows.map(_.getBoolean(5))
    assert(flags.zip(flags.tail).count { case (a, b) => a != b } == 1)
    df.unpersist()
  }

  test("dedup_incremental: delta-only probe equals the full pipeline restricted to delta") {
    import spark.implicits._
    val inc = run("dedup_incremental").cache()
    // every reported doc is a delta member by the content-hash rule
    val deltaDocs = graft.sources.Tables.documents(spark, sf)
      .filter(substring(md5(col("text")), 1, 1)
        .isin(graft.operators.Dedup.IncDeltaHex: _*))
      .select("doc_id")
    assert(inc.join(deltaDocs, Seq("doc_id"), "left_anti").count() == 0)
    // a 'dup' row must name a real partner with jaccard ≥ 0.4;
    // a 'unique' row must carry the sentinels
    assert(inc.filter(col("status") === "dup" &&
      (col("best_partner") < 0 || col("best_jaccard") < 0.4)).count() == 0)
    assert(inc.filter(col("status") === "unique" &&
      (col("best_partner") =!= -1L || col("best_jaccard") =!= 0.0 ||
        col("n_dups") =!= 0L)).count() == 0)
    // cross-check against the FULL minhash pair list: a delta doc is
    // 'dup' iff it appears in some full-pipeline pair (either side)
    val pairs = run("dedup_minhash_lsh")
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
    val full = deltaDocs.join(pairs, Seq("doc_id")).as[Long].collect().toSet
    val mine = inc.filter(col("status") === "dup").select("doc_id").as[Long].collect().toSet
    assert(mine == full, s"incremental dup set ${mine.size} != full-restricted ${full.size}")
    inc.unpersist()
  }

  test("dedup_winnow: selection bounds hold and a driver-side replay agrees") {
    import spark.implicits._
    val W = graft.operators.Dedup.WinnowW
    val rows = run("dedup_winnow")
      .select("doc_id", "n_grams", "n_selected", "n_shared", "min_fp")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, ng, sel, sh, _) =>
      assert(sel >= 1 && sel <= ng - W + 1, s"doc $id selection out of bounds")
      assert(sh >= 0 && sh <= sel)
    }
    // driver-side replay of the winnowing fold for a sample
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().take(30)
    val got = rows.map(r => r._1 -> r).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { case (id, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= W + 2) {
        val hs = toks.sliding(3).map(_.mkString(" ")).map { g =>
          val hx = md.digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
          java.lang.Long.parseLong(hx.take(13), 16)
        }.toArray
        val selected = (0 to hs.length - W).map(i => hs.slice(i, i + W).min).distinct
        val (_, ng, sel, _, minFp) = got(id)
        assert(ng == hs.length, s"doc $id gram count")
        assert(sel == selected.length, s"doc $id selected ${sel} vs ${selected.length}")
        assert(minFp == selected.min)
      }
    }
  }

  test("dedup_lsh_tuning: candidate volume falls and precision rises with rows per band") {
    import spark.implicits._
    val rows = run("dedup_lsh_tuning").orderBy("rows_per_band")
      .select("bands", "rows_per_band", "n_candidates", "n_caught", "n_truth",
        "recall", "precision")
      .as[(Int, Int, Long, Long, Long, Double, Double)].collect()
    assert(rows.map(_._2).toSeq == graft.operators.Dedup.TuneRows)
    rows.foreach { case (b, r, nc, caught, truth, rec, prec) =>
      assert(b * r == graft.operators.Dedup.NumHashes)
      assert(caught <= truth && caught <= nc)
      if (truth > 0) assert(rec == math.floor(caught.toDouble / truth * 1e4) / 1e4)
      if (nc > 0) assert(prec == math.floor(caught.toDouble / nc * 1e4) / 1e4)
    }
    // banding theory: the band boundaries nest (2 | 4 | 8), so wider
    // bands give a SUBSET of candidates — volume and recall can only
    // shrink as rows per band grow (precision usually rises but is
    // not a theorem, so it is reported, not asserted)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 <= a._3, "candidates must shrink as bands widen")
        assert(b._4 <= a._4, "caught set is nested")
        assert(b._6 <= a._6 + 1e-12, "recall cannot rise as bands widen")
      case _ => ()
    }
    // the sweep is non-trivial on this corpus: the widest-net config
    // pays real candidate overhead over the strictest
    assert(rows.head._3 > rows.last._3)
  }

  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  test("fuzzy-edit cap: an oversize block shards deterministically and NN is exact within each shard") {
    import spark.implicits._
    // ONE (lang, band) block of 300 docs — far past FuzzyCap, so the
    // entry must shard it into ceil(300/FuzzyCap) content pieces
    // (cap-derived below, so a retuned cap can't strand this test)
    val n = 300
    val rows = (0 until n).map { i =>
      val txt = f"doc$i%03d opening words diverge here ${"abcdefg".drop(i % 5)} then a shared tail $i"
      (i.toLong, txt, "xx", "syn", 400L + i % 5) // n_chars 400..404 → band 10
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_fuzzycap").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.fuzzyEdit(spark, dir)
      .select("doc_id", "nn_doc_id", "edit_distance")
      .as[(Long, Long, Int)].collect()

    // replicate the entry's shard rule on the driver: md5 of the
    // prefix's 12-char head, first 15 hex digits as int, mod ceil(n/cap)
    val nsh = math.ceil(n / Dedup.FuzzyCap.toDouble).toLong
    assert(nsh > 1, s"FuzzyCap=${Dedup.FuzzyCap} must shard a 300-doc block")
    def shard(prefix: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(prefix.take(12).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(h, 16) % nsh
    }
    val byShard = rows.map(r => (r._1, r._2.take(Dedup.FuzzyPrefix)))
      .groupBy(r => shard(r._2))
    assert(byShard.size > 1, "the hash must actually spread the block over shards")
    val want = byShard.values.flatMap { sh =>
      if (sh.length < 2) Nil
      else sh.map { a =>
        val best = sh.filter(_._1 != a._1).map(b => (lev(a._2, b._2), b._1)).min
        (a._1, best._2, best._1)
      }
    }.toSet
    assert(out.toSet == want,
      s"got=${out.length} want=${want.size} diff=${(want diff out.toSet).take(3)}")
  }

  test("dedup_normalized_exact: canonical groups never exceed raw groups; the rule itself merges formatting variants") {
    val rows = run("dedup_normalized_exact").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_canon_groups") <= r.getAs[Long]("n_raw_groups"))
      assert(r.getAs[Long]("n_raw_groups") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("n_merged_by_normalization") ==
        r.getAs[Long]("n_raw_groups") - r.getAs[Long]("n_canon_groups"))
    }
    // the canonicalization rule on literal formatting variants: case,
    // punctuation and whitespace-run differences hash identically —
    // with the EXPLICIT whitespace class (Java \s matches \x0B where
    // RE2 does not; the explicit class behaves like RE2 in both)
    val c = spark.sql(
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(x), '[.,;:!?]', ''),
                                        '[ \\t\\n\\r\\f]+', ' '))) AS h
         FROM VALUES ('The  quick, fox!'), ('the quick fox'), ('THE QUICK\tFOX.') v(x)""")
      .collect().map(_.getString(0)).distinct
    assert(c.length == 1, s"formatting variants must canonicalize to one hash, got $c")
    // vertical tab is NOT whitespace under the explicit class (the
    // RE2-compatible choice): a \x0B-joined variant must NOT merge
    val v = spark.sql(
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(x), '[.,;:!?]', ''),
                                        '[ \\t\\n\\r\\f]+', ' '))) AS h
         FROM VALUES ('a b'), (concat('a', char(11), 'b')) v(x)""")
      .collect().map(_.getString(0)).distinct
    assert(v.length == 2, "vertical tab must not collapse — RE2 parity")
  }

  test("pair budget: exhaustive at gate scale and self-consistent across consumers") {
    // r15 schema: (volume, doc_keep_ppm, sample_ppm, pairs, occ, exhaustive)
    val audit = run("dedup_pair_budget_audit").head()
    val volume = audit.getLong(0)
    val docPpm = audit.getLong(1)
    val samplePpm = audit.getLong(2)
    val occ = audit.getLong(4)
    assert(docPpm == 1000000L, s"gate scale must be doc-exhaustive, got $docPpm")
    assert(samplePpm == 1000000L, s"gate scale must be exhaustive, got $samplePpm")
    assert(occ == volume, s"exhaustive ⇒ occurrences ($occ) == volume ($volume)")
    assert(audit.getBoolean(5))
    // every budget consumer publishes the SAME rate
    for (name <- Seq("dedup_ngram_jaccard", "dedup_containment",
      "dedup_minhash_calibration", "dedup_lsh_tuning")) {
      val ppms = run(name)
        .select("sample_ppm").distinct().collect().map(_.getLong(0)).toSet
      assert(ppms == Set(1000000L), s"$name sample_ppm: $ppms")
    }
  }

  test("lsh tuning ledger: counts are a coherent confusion summary") {
    val rows = run("dedup_lsh_tuning").collect()
    assert(rows.length == graft.operators.Dedup.TuneRows.length)
    rows.foreach { r =>
      val (cand, caught, truth) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(caught <= math.min(cand, truth),
        s"caught $caught exceeds cand $cand or truth $truth")
      val recall = r.getDouble(6); val precision = r.getDouble(7)
      assert(recall >= 0.0 && recall <= 1.0 && precision >= 0.0 && precision <= 1.0)
    }
  }

  test("doc-sample budget: gate scale exhaustive, sample_ppm = doc rate squared") {
    val audit = run("dedup_pair_budget_audit").head()
    val docPpm = audit.getLong(1)
    val samplePpm = audit.getLong(2)
    assert(samplePpm == docPpm * docPpm / 1000000L,
      s"sample_ppm ($samplePpm) must be dq^2/1e6 of doc rate ($docPpm)")
    assert(docPpm == 1000000L && samplePpm == 1000000L,
      "gate scale must be exhaustive")
  }
}
