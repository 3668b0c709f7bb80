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
  private def tokensOf(text: String): Array[String] =
    text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

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
}
