package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Redaction must be complete: nothing matching the PII patterns
  * survives, and counts follow the deterministic injection rule. */
class TextAnalysisSpec extends SparkTestBase {

  test("pii redaction removes every email and phone") {
    val df = TextAnalysis.piiRedact(spark, sf).cache()
    assert(df.count() > 0)
    val leaked = df.filter(
      col("redacted_prefix").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}") ||
        col("redacted_prefix").rlike("\\+1-555-[0-9]{4}"))
    assert(leaked.count() == 0, "no PII pattern survives redaction")
    val wrongCounts = df.filter(
      col("n_phones") =!= when(pmod(col("doc_id"), lit(2)) === 0, 1).otherwise(0) ||
        col("n_emails") =!= when(pmod(col("doc_id"), lit(3)) =!= 0, 2).otherwise(1))
    assert(wrongCounts.count() == 0, "counts follow the injection parity rule")
    df.unpersist()
  }

  test("lang confusion: rows sum to corpus, shares normalize per declared label") {
    val df = TextAnalysis.langConfusion(spark, sf).cache()
    val total = df.agg(sum(col("n"))).head.getLong(0)
    assert(total == graft.sources.Tables.documents(spark, sf).count())
    val sums = df.groupBy(col("lang_declared")).agg(sum(col("share")).as("p"))
    assert(sums.filter(col("p") > 1.0 || col("p") < 0.98).count() == 0)
    // the stopword voter must at least get English mostly right
    val en = df.filter(col("lang_declared") === "en" && col("lang_pred") === "en")
      .agg(sum(col("share"))).head.getDouble(0)
    assert(en > 0.9, s"en recall $en")
    df.unpersist()
  }

  test("code detect: densities bounded, verdict follows the rule") {
    val df = TextAnalysis.codeDetect(spark, sf).cache()
    assert(df.count() == graft.sources.Tables.documents(spark, sf).count())
    assert(df.filter(col("sym_density") < 0 || col("sym_density") > 1).count() == 0)
    val bad = df.filter(col("is_code") =!=
      (col("sym_density") > 0.02 || col("n_kw") >= 2))
    assert(bad.count() == 0)
    df.unpersist()
  }
  test("length survival: buckets partition the corpus, survival is a CDF tail") {
    val df = TextAnalysis.lengthSurvival(spark, sf).cache()
    val total = graft.sources.Tables.documents(spark, sf).count()
    assert(df.agg(sum("n_docs")).head.getLong(0) == total)
    val rows = df.orderBy(col("bucket")).collect()
    assert(rows.head.getLong(3) == total, "smallest bucket sees everything above it")
    val nGe = rows.map(_.getLong(3))
    assert(nGe.zip(nGe.tail).forall { case (a, b) => a >= b }, "tail counts decrease")
    assert(rows.forall(r => r.getDouble(4) >= 0 && r.getDouble(4) <= 1))
    df.unpersist()
  }

  test("zipf profile: K rows, counts non-increasing, cumulative share monotone and <= 1") {
    val df = TextAnalysis.zipfProfile(spark, sf).cache()
    val rows = df.orderBy(col("rank")).collect()
    assert(rows.length == TextAnalysis.ZipfTopK)
    val ns = rows.map(_.getLong(2))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "head is sorted by frequency")
    val shares = rows.map(_.getDouble(3))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b }, "cumulative share grows")
    assert(shares.last <= 1.0 && shares.head > 0)
    df.unpersist()
  }

  test("keywords: 1-3 per doc, rarer term wins at equal tf") {
    val df = TextAnalysis.keywords(spark, sf).cache()
    val perDoc = df.groupBy("doc_id").agg(count(lit(1)).as("k"))
    assert(perDoc.filter(col("k") > TextAnalysis.KeywordsPerDoc).count() == 0)
    assert(df.filter(col("df") <= 0 || col("tf") <= 0).count() == 0)
    // idf ranking sanity: among a doc's keywords, rank never improves
    // with (lower tf AND higher df)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("rn"))
    val bad = df.withColumn("ptf", lag(col("tf"), 1).over(w))
      .withColumn("pdf", lag(col("df"), 1).over(w))
      .withColumn("ptfidf", lag(col("tfidf"), 1).over(w))
      .filter(col("ptf").isNotNull && col("tf") > col("ptf") && col("df") < col("pdf")
        && col("tfidf") > col("ptfidf"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("ngram coverage: monotone in k, saturates at full vocab, bounded by total") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = graft.operators.TextAnalysis.ngramCoverage(spark, sf)
      .orderBy("k").cache()
    val rows = df.select("k", "vocab_size", "total", "covered")
      .as[(Int, Long, Long, Long)].collect()
    assert(rows.length == graft.operators.TextAnalysis.CoverageKs.length)
    // covered is monotone non-decreasing in k and never exceeds total
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4, s"coverage must grow with k: $a -> $b") }
    assert(rows.forall(r => r._4 <= r._3))
    // a budget >= vocab covers everything exactly
    rows.filter(r => r._1 >= r._2).foreach(r =>
      assert(r._4 == r._3, s"k=${r._1} >= vocab=${r._2} must cover total"))
    // a budget < vocab must NOT cover everything (counts are positive)
    rows.filter(r => r._1 < r._2).foreach(r =>
      assert(r._4 < r._3, s"k=${r._1} < vocab=${r._2} cannot cover total"))
    df.unpersist()
  }

  test("text_vocab_growth: buckets partition occurrences, growth curve is monotone") {
    import spark.implicits._
    val rows = run("text_vocab_growth").orderBy("bucket")
      .select("bucket", "n_occ", "new_types", "cum_occ", "cum_types")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= graft.operators.TextAnalysis.VocabGrowthBuckets)
    // cumulative columns really are the running sums
    assert(rows.map(_._2).sum == rows.last._4)
    assert(rows.map(_._3).sum == rows.last._5)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._1 > a._1 && b._4 > a._4 && b._5 >= a._5)
    case _ => ()
    }
    // total distinct types equals the corpus-wide distinct bigram count
    val distinctBigrams = graft.sources.Tables.documents(spark, sf)
      .select(expr(graft.operators.TextAnalysis.toksExpr).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("b")).distinct().count()
    assert(rows.last._5 == distinctBigrams)
    // the (bigram, bucket) pre-aggregation is shared: at execution the
    // second consumer reuses the exchange instead of re-exploding
    assert(executedPlan("text_vocab_growth").contains("ReusedExchange"),
      "occ/firsts must consume one shared exchange")
  }

  test("text_gopher_rules: failure count consistent, rules match a driver-side replay") {
    import spark.implicits._
    val rows = run("text_gopher_rules")
      .select("doc_id", "n_tokens", "r_len", "r_mwl", "r_alpha", "r_stop", "r_sym",
        "n_failed", "keep")
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean, Int, Boolean)]
      .collect()
    assert(rows.length == graft.sources.Tables.documents(spark, sf).count())
    rows.foreach { case (id, _, a, b, c, dd, e, nf, keep) =>
      val expect = Seq(a, b, c, dd, e).count(!_)
      assert(nf == expect, s"doc $id n_failed")
      assert(keep == (nf == 0))
    }
    // the word-salad corpus is alphabetic and symbol-free: those rules never fire
    assert(rows.forall(_._5), "alphabetic rule should pass everywhere")
    assert(rows.forall(_._7), "symbol rule should pass everywhere")
    // but the ledger is not vacuous — some docs fail at least one rule
    assert(rows.exists(!_._9), "expected at least one dropped doc")
    assert(rows.exists(_._9), "expected at least one kept doc")
  }

  test("text_char_entropy: classes partition the chars; H within [0, ln 5]") {
    import spark.implicits._
    val rows = run("text_char_entropy")
      .select("n", "c_lower", "c_upper", "c_digit", "c_space", "c_other", "entropy")
      .as[(Int, Int, Int, Int, Int, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, cl, cu, cd, cs, co, h) =>
      assert(cl + cu + cd + cs + co == n, "class counts don't partition")
      assert(co >= 0, "negative other-class count")
      assert(h >= 0.0 && h <= math.log(5.0) + 1e-9, s"entropy $h out of range")
    }
  }
}
