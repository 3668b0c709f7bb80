package graft

import org.apache.spark.sql.functions._
import graft.operators.Curation

class CurationSpec extends SparkTestBase {

  test("boilerplate: kept_tokens consistent and exact-dup docs are fully boilerplate") {
    val df = Curation.dedupBoilerplate(spark, sf).cache()
    assert(df.filter(col("n_boiler_segments") > col("n_segments")).count() == 0)
    assert(df.filter(col("kept_tokens") > col("n_tokens")).count() == 0)
    // every doc in an exact-duplicate group shares ALL its segments with
    // its twin, so all segments must be flagged as boilerplate
    val dupDocs = graft.sources.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), collect_list(col("doc_id")).as("ids"))
      .filter(col("n") >= 2)
      .select(explode(col("ids")).as("doc_id"))
    val notAllBoiler = df.join(dupDocs, Seq("doc_id"))
      .filter(col("n_boiler_segments") =!= col("n_segments"))
    assert(notAllBoiler.count() == 0,
      "exact duplicates must have every segment flagged")
    df.unpersist()
  }

  test("contamination: flagged docs really share an 8-gram with the eval source") {
    val flagged = Curation.textContamination(spark, sf).cache()
    assert(flagged.filter(col("source") === "src0").count() == 0,
      "eval docs must not flag themselves")
    assert(flagged.filter(col("n_shared_ngrams") <= 0).count() == 0)
    flagged.unpersist()
  }

  test("repetition: fractions bounded and distinct counts never exceed totals") {
    val df = Curation.textRepetition(spark, sf).cache()
    assert(df.count() == graft.sources.Tables.documents(spark, sf).count())
    assert(df.filter(col("dup_token_frac") < 0 || col("dup_token_frac") > 1).count() == 0)
    assert(df.filter(col("n_distinct_3grams") > col("n_3grams")).count() == 0)
    df.unpersist()
  }

  test("substring dedup: coverage bounded, exact-dup docs fully covered") {
    val df = Curation.dedupSubstring(spark, sf).cache()
    assert(df.filter(col("dup_covered_tokens") > col("n_tokens")).count() == 0,
      "interval union can't cover more tokens than the doc has")
    assert(df.filter(col("n_dup_windows") > col("n_windows")).count() == 0)
    assert(df.filter(col("dup_frac") < 0 || col("dup_frac") > 1).count() == 0)
    // a doc that is an exact duplicate of another has EVERY window duplicated
    val dupDocs = graft.sources.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), collect_list(col("doc_id")).as("ids"))
      .filter(col("n") >= 2)
      .select(explode(col("ids")).as("doc_id"))
    val notFull = df.join(dupDocs, Seq("doc_id"))
      .filter(col("n_dup_windows") =!= col("n_windows"))
    assert(notFull.count() == 0, "exact duplicates must be fully span-covered")
    df.unpersist()
  }

  test("bigram LM: cross-entropy positive and finite; rare sequences score higher than common") {
    val df = Curation.textBigramLm(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("cross_entropy") <= 0).count() == 0)
    // surprisal of any bigram is bounded by ln(maxC1 + V): spot upper bound
    val v = graft.sources.Tables.documents(spark, sf)
      .select(explode(expr(graft.operators.TextAnalysis.toksExpr)).as("t"))
    val bound = math.log(v.count().toDouble + v.distinct().count().toDouble)
    assert(df.filter(col("cross_entropy") > bound).count() == 0)
    df.unpersist()
  }

  test("epoch upsample: every source reaches its epoch count, rows multiply exactly") {
    val df = Curation.mixEpochUpsample(spark, sf).cache()
    assert(df.filter(col("epoch") < 1 || col("epoch") > Curation.MaxEpochs).count() == 0)
    // each (source, epoch) slice is an exact copy: same n_rows and tok_out per source
    val uneven = df.groupBy(col("source"))
      .agg(countDistinct(col("n_rows")).as("a"), countDistinct(col("tok_out")).as("b"),
        count(lit(1)).as("n_epochs"), max(col("epochs")).as("epochs"))
      .filter(col("a") =!= 1 || col("b") =!= 1 || col("n_epochs") =!= col("epochs"))
    assert(uneven.count() == 0)
    df.unpersist()
  }

  test("perplexity: cross-entropy is positive, bounded by the rarest token's surprisal") {
    val df = Curation.textPerplexity(spark, sf).cache()
    assert(df.count() == graft.sources.Tables.documents(spark, sf).count())
    assert(df.filter(col("cross_entropy") <= 0).count() == 0)
    // mean surprisal can't exceed max single-token surprisal = -ln(1/total)
    val total = graft.sources.Tables.documents(spark, sf)
      .select(explode(expr(graft.operators.TextAnalysis.toksExpr))).count()
    val maxH = math.log(total.toDouble)
    assert(df.filter(col("cross_entropy") > maxH).count() == 0)
    df.unpersist()
  }

  /** Tokenization replica of `TextAnalysis.toksExpr` for the vocab-cap
    * ground-truth computations below. */
  private def tokensOf(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  test("perplexity vocab cap: tiny-K OOV bucket matches a direct replica bit-for-bit") {
    val k = 3
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), tokensOf(r.getString(1))))
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (t, a) => (t, a.length.toLong) }
    val topk = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k)
    val total = counts.values.sum
    val kept = topk.map(_._2).sum
    assert(counts.size > k, "test corpus must overflow the tiny cap")
    val inVocab = topk.map { case (t, c) => (t, -math.log(c.toDouble / total.toDouble)) }.toMap
    val oov = -math.log((total - kept).toDouble / total.toDouble)
    val expected = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      val s = toks.map(t => inVocab.getOrElse(t, oov)).sorted.foldLeft(0.0)(_ + _)
      val ce = math.floor(s / toks.length * 1e4) / 1e4
      (id, toks.length.toLong, ce, ce <= 4.0)
    }.sortBy(_._1)
    val got = Curation.textPerplexityAt(k)(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("bigram LM vocab cap: tiny-K history table matches a direct replica bit-for-bit") {
    val k = 3
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), tokensOf(r.getString(1))))
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (t, a) => (t, a.length.toLong) }
    val topk = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(k).map(_._1).toSet
    assert(counts.size > k, "test corpus must overflow the tiny cap")
    val mapped = docs.map { case (id, toks) =>
      (id, toks.map(t => if (topk(t)) t else Curation.OovTerm)) }
    val bigrams = mapped.flatMap { case (id, toks) =>
      if (toks.length >= 2) toks.sliding(2).map(p => (id, p(0), p(1))).toSeq else Nil }
    val c12 = bigrams.groupBy(b => (b._2, b._3)).map { case (bg, a) => (bg, a.length.toLong) }
    val c1 = bigrams.groupBy(_._2).map { case (w, a) => (w, a.length.toLong) }
    val v = math.min(counts.size.toLong, k + 1L)
    val expected = bigrams.groupBy(_._1).map { case (id, bs) =>
      val s = bs.map { case (_, w1, w2) =>
        math.log((c1(w1) + v).toDouble / (c12((w1, w2)) + 1).toDouble)
      }.sorted.foldLeft(0.0)(_ + _)
      val ce = math.floor(s / bs.length * 1e4) / 1e4
      (id, bs.length.toLong, ce, ce <= 5.0)
    }.toSeq.sortBy(_._1)
    val got = Curation.textBigramLmAt(k)(spark, sf).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.toSeq == expected)
  }

  test("LM scorers on an empty corpus return no rows instead of throwing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_docs").toString
    graft.sources.Tables.documents(spark, sf).limit(0)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val lms = Seq("text_perplexity", "text_bigram_lm", "text_bigram_lm_kn", "text_ccnet_buckets")
    for (entry <- SparkEntry.pick(lms)) {
      val o = SparkEntry.run(spark, dir, entry)(_.count())
      assert(o.result == Right(0L), s"${o.name}: ${o.result}")
    }
  }

  test("temperature: rarest language keeps ~everything, largest is downsampled hardest") {
    val df = Curation.mixTemperature(spark, sf).cache()
    val rows = df.select(col("lang"), col("n_orig"), col("keep_per_10k"), col("n_kept"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val minLang = rows.minBy(_._2)
    val maxLang = rows.maxBy(_._2)
    assert(minLang._3 == 10000, "smallest language keeps 100%")
    assert(maxLang._3 < 10000, "largest language must be downsampled")
    // keep rate is monotone-decreasing in corpus share
    rows.sortBy(_._2).sliding(2).foreach {
      case Array(a, b) => assert(a._3 >= b._3, s"rate must fall with size: $a vs $b")
      case _ =>
    }
    rows.foreach { case (_, _, _, kept) => assert(kept > 0) }
    df.unpersist()
  }

  test("novelty: fractions in [0,1]; the first document is fully novel") {
    val df = graft.operators.Curation.textNovelty(spark, sf).cache()
    assert(df.filter(col("novelty") < 0 || col("novelty") > 1).count() == 0)
    val first = df.orderBy(col("doc_id")).limit(1).collect()(0)
    assert(first.getDouble(first.fieldIndex("novelty")) == 1.0,
      "doc 0 has no predecessors, every gram is first seen there")
    df.unpersist()
  }

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_docs").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // --------------------------------------------------------- Kneser-Ney

  /** Driver-side interpolated-KN replay: same vocabulary fold (top-k by
    * count desc / term asc), same count tables, the IDENTICAL IEEE op
    * order as the shared expression, the same sorted per-doc fold. */
  private def knBruteForce(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Double)] = {
    val allToks = docs.flatMap { case (_, t) => tokensOf(t) }
    val vocab = allToks.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(k).map(_._1).toSet
    def fold(w: String) = if (vocab(w)) w else "<OOV>"
    val docBigrams = docs.map { case (id, t) =>
      val ts = tokensOf(t).map(fold)
      id -> ts.zip(ts.drop(1))
    }
    val c2 = docBigrams.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1f = c2.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1p = c2.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nbb = c2.size.toDouble
    def surprisal(b: (String, String)): Double = {
      val s = ((c2(b).toDouble - 0.75) / c1(b._1).toDouble) +
        (((0.75 * n1f(b._1).toDouble) / c1(b._1).toDouble) * (n1p(b._2).toDouble / nbb))
      -math.log(s)
    }
    docBigrams.collect { case (id, bs) if bs.nonEmpty =>
      val ss = bs.map(surprisal).sorted.foldLeft(0.0)(_ + _)
      id -> (bs.size.toLong, math.floor(ss / bs.size * 1e4) / 1e4)
    }.toMap
  }

  private val knCorpus: Seq[(Long, String)] = Seq(
    1L -> "san francisco is by the bay and san francisco is foggy",
    2L -> "new york is by the hudson and new york never sleeps",
    3L -> "the bay and the hudson are rivers or bays near san francisco",
    4L -> "foggy mornings in san francisco feel like new york rain",
    5L -> "rivers sleep near the bay")

  // ---------------------------------------------------------- BPE train

  private def applyMerge(syms: Vector[String], x: String, y: String): Vector[String] = {
    val out = Vector.newBuilder[String]; var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) { out += x + y; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Classic BPE (Sennrich get_stats + greedy merge) on the word-type
    * table — the sequential reference the windowed entry must equal. */
  private def bpeBrute(texts: Seq[String], rounds: Int): Seq[(Int, String, String, Long, Long)] = {
    var vocab: Seq[(Vector[String], Long)] = texts.flatMap(tokensOf)
      .groupBy(identity).toSeq
      .map { case (w, g) => w.map(_.toString).toVector -> g.size.toLong }
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((x, y), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      vocab = vocab.map { case (syms, f) => applyMerge(syms, x, y) -> f }
      val mass = vocab.map { case (sy, f) => sy.length * f }.sum
      (r, x, y, cnt, mass)
    }
  }

  test("text_bigram_lm_kn matches a driver-side interpolated-KN replay (uncapped)") {
    val dir = writeDocs(knCorpus.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) })
    val got = Curation.textBigramLmKnAt(1000)(spark, dir)
      .select("doc_id", "n_bigrams", "cross_entropy")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val want = knBruteForce(knCorpus, 1000)
    assert(got.keySet == want.keySet)
    for ((id, (nb, ce)) <- want) {
      assert(got(id)._1 == nb, s"doc $id n_bigrams")
      assert(got(id)._2 == ce, s"doc $id cross_entropy got=${got(id)._2} want=$ce")
    }
  }

  test("text_bigram_lm_kn folds the tail into OOV under a tiny vocabulary cap") {
    val dir = writeDocs(knCorpus.map { case (id, t) => (id, t, "en", "s0", t.length.toLong) })
    val got = Curation.textBigramLmKnAt(3)(spark, dir)
      .select("doc_id", "cross_entropy")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = knBruteForce(knCorpus, 3)
    for ((id, (_, ce)) <- want)
      assert(got(id) == ce, s"doc $id capped-KN ce got=${got(id)} want=$ce")
    // and the cap actually bites: capped ≠ uncapped somewhere
    val full = knBruteForce(knCorpus, 1000)
    assert(want.exists { case (id, (_, ce)) => ce != full(id)._2 })
  }

  // ----------------------------------------------------------- chunking

  test("text_chunk_overlap emits the exact sliding-window start grid") {
    // doc lengths chosen around every boundary: empty, < W, == W, == W+1,
    // exactly 3 full strides, and one token past the last full window
    val lens = Seq(0, 10, 64, 65, 160, 161)
    val rows = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"t$j").mkString(" "), "en", "s0", 100L)
    }
    val dir = writeDocs(rows)
    val got = Curation.textChunkOverlap(spark, dir)
      .select("doc_id", "chunk_id", "start_tok", "n_tok", "sig")
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getLong(1))
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3), r.getString(4))).toSeq)
      .toMap
    val (w, st) = (Curation.ChunkW, Curation.ChunkStride)
    for ((n, i) <- lens.zipWithIndex) {
      val nStarts = if (n <= w) 1 else (n - w + st - 1) / st + 1
      val want = (0 until nStarts).map { c =>
        val start = c * st
        val ctoks = (start until math.min(start + w, n)).map(j => s"t$j")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(ctoks.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        (c.toLong, start.toLong, ctoks.size, md)
      }
      assert(got(i.toLong) == want, s"doc len $n")
      // coverage: the last window reaches the end; no window is redundant
      if (n > w) {
        assert((nStarts - 1) * st + w >= n)
        assert((nStarts - 2) * st + w < n)
      }
    }
  }

  // ------------------------------------------------------ CCNet buckets

  test("text_ccnet_buckets splits each language into exact terciles") {
    // two languages, 9 docs each, engineered so every doc has a distinct
    // cross-entropy (unique rare-word mix per doc)
    val rows = (0 until 18).map { i =>
      val lang = if (i < 9) "en" else "de"
      val rare = (0 to i % 9).map(j => s"rare_${lang}_${i}_$j").mkString(" ")
      val common = Seq.fill(10)("the common word run").mkString(" ")
      (i.toLong, s"$common $rare", lang, "s0", 100L)
    }
    val dir = writeDocs(rows)
    val got = Curation.textCcnetBuckets(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // 9 docs with distinct scores → exactly 3 per bucket in each language
    for (lang <- Seq("en", "de"); bucket <- Seq("head", "middle", "tail"))
      assert(got((lang, bucket))._1 == 3L, s"$lang/$bucket n_docs=${got((lang, bucket))._1}")
    // token mass adds back up to the whole language
    val enToks = rows.filter(_._3 == "en").map(r => tokensOf(r._2).size.toLong).sum
    assert(got.collect { case ((l, _), (_, t)) if l == "en" => t }.sum == enToks)
  }

  test("text_ccnet_buckets bucket boundaries are ordered head < middle < tail") {
    val dir = writeDocs((0 until 12).map { i =>
      val rare = (0 to i % 6).map(j => s"zq_${i}_$j").mkString(" ")
      (i.toLong, s"alpha beta gamma delta $rare", "en", "s0", 50L)
    })
    val rows = Curation.textCcnetBuckets(spark, dir)
      .collect().map(r => r.getString(1) -> (r.getDouble(4), r.getDouble(5))).toMap
    assert(rows("head")._2 <= rows("middle")._1)
    assert(rows("middle")._2 <= rows("tail")._1)
  }

  test("text_bpe_train equals classic greedy BPE, including overlapping same-symbol runs") {
    // 'aaaa'/'aaab' force the x==y run case: greedy must merge offsets
    // 0,2 (never the overlapping middle pair), and counting stays
    // overlapping (aaaa contributes 3 to (a,a))
    val texts = Seq(
      "aaaa aaab abab abab baaa",
      "aaab caaa abab aaaa aaaa",
      "the bay the bay aaab")
    val dir = writeDocs(texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s0", t.length.toLong) })
    val got = graft.operators.Curation.textBpeTrain(spark, dir)
      .orderBy("round").collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    val want = bpeBrute(texts, graft.operators.Curation.BpeRounds)
    assert(got == want, s"got=$got want=$want")
  }

  // --------------------------------------------------------------- DSIR

  test("mix_dsir reproduces a driver-side importance-weight replay") {
    val b = graft.operators.Curation.DsirBuckets
    // target (src0) talks about rivers; raw pool: srcA echoes the
    // target domain, srcB is off-domain — srcA should dominate selection
    val rows = (0 until 24).map { i =>
      val (src, txt) =
        if (i < 8) ("src0", s"the river flows to the sea gate $i")
        else if (i < 16) ("srcA", s"the river flows past the mill run $i")
        else ("srcB", s"quantum flux capacitors hum loudly unit $i")
      (i.toLong, txt, "en", src, txt.length.toLong)
    }
    val dir = writeDocs(rows)
    def bucket(bg: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dsir:$bg".getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(h, 16) % b
    }
    def feats(t: String): Seq[Long] = { val ts = tokensOf(t); ts.zip(ts.drop(1)).map { case (a, c) => bucket(s"$a $c") } }
    val tgtC = rows.filter(_._4 == "src0").flatMap(r => feats(r._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rawC = rows.filter(_._4 != "src0").flatMap(r => feats(r._2)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nt, nr) = (tgtC.values.sum, rawC.values.sum)
    def lr(bk: Long): Double =
      math.log((tgtC.getOrElse(bk, 0L) + 1).toDouble / (nt + b).toDouble) -
        math.log((rawC.getOrElse(bk, 0L) + 1).toDouble / (nr + b).toDouble)
    val docW = rows.filter(_._4 != "src0").map { r =>
      val fs = feats(r._2)
      val w = fs.map(lr).sorted.foldLeft(0.0)(_ + _)
      (r._1, r._4, fs.size.toLong, math.floor(w * 1e4).toLong)
    }
    val n = docW.size
    val thr = docW.map(_._4).distinct.sorted(Ordering[Long].reverse)
      .scanLeft((Long.MinValue, 0L)) { case ((_, cum), wq) =>
        (wq, cum + docW.count(_._4 == wq)) }
      .drop(1).filter { case (_, cum) => cum * 4 >= n }.map(_._1).max
    val want = docW.groupBy(_._2).map { case (src, ds) =>
      src -> (ds.size.toLong, ds.count(_._4 >= thr).toLong,
        ds.filter(_._4 >= thr).map(_._3).sum, math.floor(thr.toDouble) / 1e4)
    }
    val got = graft.operators.Curation.mixDsir(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == want.keySet)
    for ((src, w) <- want) assert(got(src) == w, s"$src got=${got(src)} want=$w")
    // the on-domain source must win the selection
    assert(got("srcA")._2 > got("srcB")._2)
  }

  test("text_annotation_agreement: confusion matrix partitions and κ replays") {
    val rows = run("text_annotation_agreement").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, both, aOnly, bOnly, neither) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(both + aOnly + bOnly + neither == n, "confusion cells partition the docs")
      val po = (both + neither).toDouble / n.toDouble
      val pe = ((both + aOnly).toDouble * (both + bOnly).toDouble
        + (bOnly + neither).toDouble * (aOnly + neither).toDouble) / (n.toDouble * n.toDouble)
      assert(r.getDouble(6) == math.floor(po * 1e4) / 1e4)
      if (pe != 1.0) {
        val kappa = math.floor((po - pe) / (1.0 - pe) * 1e4) / 1e4
        assert(r.getDouble(7) == kappa, s"κ mismatch for ${r.getString(0)}")
        assert(kappa >= -1.0 && kappa <= 1.0)
      } else assert(r.isNullAt(7), "degenerate marginals must yield NULL κ")
    }
  }

  test("mix_anneal_schedule: each phase apportions its exact budget; anneal up-weights the top quality half") {
    import graft.operators.Curation._
    val rows = run("mix_anneal_schedule").collect()
    val byPhase = rows.groupBy(_.getAs[Int]("phase"))
    assert(byPhase.keySet == Set(1, 2))
    val p2 = AnnealBudget / AnnealPhase2Den
    assert(byPhase(1).map(_.getAs[Long]("alloc")).sum == AnnealBudget - p2,
      "phase-1 allocations must sum exactly to the phase budget")
    assert(byPhase(2).map(_.getAs[Long]("alloc")).sum == p2)
    val weights = byPhase(2).map(r => r.getAs[Long]("weight")).sorted
    val nSrc = byPhase(2).length
    assert(weights.count(_ == AnnealUpWeight) == nSrc / 2,
      "exactly the top half (floor) of sources carries the anneal up-weight")
    assert(weights.forall(w => w == 1L || w == AnnealUpWeight))
    // phase 1 ignores the weight: allocations are volume-proportional
    // (largest remainder => off by at most 1 from the real quota)
    val toks = graft.sources.Tables.documents(spark, sf)
      .selectExpr("source", s"size(${graft.operators.TextAnalysis.toksExpr}) AS nt")
      .groupBy("source").sum("nt").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tw = toks.values.sum
    byPhase(1).foreach { r =>
      val exact = (AnnealBudget - p2).toDouble * toks(r.getAs[String]("source")) / tw
      assert(math.abs(r.getAs[Long]("alloc") - exact) <= 1.0,
        s"phase-1 alloc drifted from the volume quota: $r vs $exact")
    }
  }
}
