package graft

import graft.operators.{Curation, Scrapers}
import org.apache.spark.sql.functions._

/** Round-10 widening: Kneser-Ney bigram LM, sliding-window chunking,
  * CCNet per-language perplexity buckets, and the /federate read. Every
  * test checks SEMANTICS against an independent driver-side brute force
  * (the DuckDB gate separately checks engine parity). */
class Round10bSpec extends SparkTestBase {

  private def toks(text: String): Seq[String] =
    text.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  private def writeDocs(rows: Seq[(Long, String, String, String, Long)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r10b").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // --------------------------------------------------------- Kneser-Ney

  /** Driver-side interpolated-KN replay: same vocabulary fold (top-k by
    * count desc / term asc), same count tables, the IDENTICAL IEEE op
    * order as the shared expression, the same sorted per-doc fold. */
  private def knBruteForce(docs: Seq[(Long, String)], k: Int): Map[Long, (Long, Double)] = {
    val allToks = docs.flatMap { case (_, t) => toks(t) }
    val vocab = allToks.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(k).map(_._1).toSet
    def fold(w: String) = if (vocab(w)) w else "<OOV>"
    val docBigrams = docs.map { case (id, t) =>
      val ts = toks(t).map(fold)
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
    val enToks = rows.filter(_._3 == "en").map(r => toks(r._2).size.toLong).sum
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
    var vocab: Seq[(Vector[String], Long)] = texts.flatMap(toks)
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
    def feats(t: String): Seq[Long] = { val ts = toks(t); ts.zip(ts.drop(1)).map { case (a, c) => bucket(s"$a $c") } }
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

  // ------------------------------------------------------- late arrivals

  test("cdc_late_arriving retroactively splices intervals and equals the rebuild") {
    import spark.implicits._
    val hour = 3600L
    // user 1: batch-1 changes at h=1 (id 1) and h=5 (id 2); the LATE
    // batch-2 change (id 10, h=3) must close (1..5) into (1..3)(3..5)
    // user 2: batch-1 only (id 3) — untouched by the increment
    val rows = Seq(
      (1L, new java.sql.Timestamp(1 * hour * 1000), 1L, "update", 10.0, "{}"),
      (2L, new java.sql.Timestamp(5 * hour * 1000), 1L, "update", 20.0, "{}"),
      (3L, new java.sql.Timestamp(2 * hour * 1000), 2L, "update", 30.0, "{}"),
      (10L, new java.sql.Timestamp(3 * hour * 1000), 1L, "update", 15.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft_late").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.operators.Cdc.cdcLateArriving(spark, dir)
      .orderBy("entity_key", "from_sec", "event_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    val want = Seq(
      (1L, 1 * hour, 1L, 10.0, 3 * hour),   // spliced: to_sec moved 5h -> 3h
      (1L, 3 * hour, 10L, 15.0, 5 * hour),  // the late row's new interval
      (1L, 5 * hour, 2L, 20.0, -1L),        // still open
      (2L, 2 * hour, 3L, 30.0, -1L))        // unaffected entity untouched
    assert(got.toSeq == want, s"got=${got.toSeq}")
  }

  // ----------------------------------------------------------- federate

  test("prom_federate exposes the freshest sample per series, drops stale series, honors own labels") {
    import spark.implicits._
    val hour = 3600L
    def ev(id: Long, h: Long, uid: Long, typ: String) =
      (id, new java.sql.Timestamp(h * hour * 1000L), uid, typ, 1.0, "{}")
    // series (A, shard 0): hours 8,9,10 with 2 events at h=10 → latest (10, 2)
    // series (A, shard 1): fresh at h=7 (inside the 4h lookback vs horizon 10)
    // series (B, shard 2): latest h=5 → STALE (10 - 5 > 4) → dropped
    val rows =
      Seq(ev(1, 8, 0, "A"), ev(2, 9, 4, "A"), ev(3, 10, 8, "A"), ev(4, 10, 12, "A"),
        ev(5, 7, 1, "A"), ev(6, 6, 5, "A"),
        ev(7, 5, 2, "B"), ev(8, 4, 6, "B"))
    val dir = java.nio.file.Files.createTempDirectory("graft_fed").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Scrapers.promFederate(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        (r.getString(3), r.getBoolean(4), r.getLong(5), r.getDouble(6))).toMap
    assert(got.keySet == Set(("A", 0L), ("A", 1L)), s"stale series must drop: ${got.keySet}")
    // freshest sample wins, with the sample's own count
    assert(got(("A", 0L))._3 == 10 * hour && got(("A", 0L))._4 == 2.0)
    assert(got(("A", 1L))._3 == 7 * hour && got(("A", 1L))._4 == 1.0)
    // honor_labels: shard 0 keeps its own region, shard 1 gets the external
    assert(got(("A", 0L))._1 == "eu-west-1" && got(("A", 0L))._2)
    assert(got(("A", 1L))._1 == "us-east-1" && !got(("A", 1L))._2)
  }
}
