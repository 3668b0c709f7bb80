package graft

import graft.streaming.EventsStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structural invariants for the third round-8 session's additions —
  * properties the hash oracle can't express (SQ8 recall vs exact,
  * bootstrap coverage, allocation budgets, rollup conservation). */
class Round8cSpec extends SparkTestBase {

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

  test("q_bootstrap_ci: replicate panel is complete and the CI ranks bracket the middle") {
    import spark.implicits._
    val rows = run("q_bootstrap_ci")
      .select("b", "n_eff", "mean_cents", "rank", "is_ci_lo", "is_ci_hi")
      .as[(Int, Long, Double, Int, Boolean, Boolean)].collect()
    val B = graft.operators.Stats.BootB
    assert(rows.length == B)
    assert(rows.map(_._4).sorted.toSeq == (1 to B), "ranks are not a permutation")
    assert(rows.count(_._5) == 1 && rows.count(_._6) == 1)
    val byRank = rows.sortBy(_._4)
    assert(byRank.sliding(2).forall(p => p(0)._3 <= p(1)._3), "means not ascending in rank")
    val lo = rows.find(_._5).get._3; val hi = rows.find(_._6).get._3
    assert(lo <= hi)
    // Poisson(1) replicate sizes concentrate around n
    val n = graft.sources.Tables.orders(spark, sf).count()
    rows.foreach { case (b, nEff, _, _, _, _) =>
      assert(math.abs(nEff - n) < 6 * math.sqrt(n.toDouble) + 10, s"replicate $b size $nEff vs $n")
    }
  }

  test("q_welch_ttest: every type pair once; t sign follows the mean gap; df in Welch bounds") {
    import spark.implicits._
    val rows = run("q_welch_ttest")
      .select("type_a", "type_b", "n_a", "n_b", "mean_a", "mean_b", "t_welch", "df_welch")
      .as[(String, String, Long, Long, Double, Double, Double, Double)].collect()
    val nTypes = graft.sources.Tables.events(spark, sf)
      .select("event_type").distinct().count().toInt
    assert(rows.length == nTypes * (nTypes - 1) / 2)
    rows.foreach { case (a, b, na, nb, ma, mb, t, df) =>
      assert(a < b)
      if (math.abs(ma - mb) > 1e-3)
        assert(math.signum(t) == math.signum(ma - mb), s"($a,$b) t sign")
      assert(df >= math.min(na, nb) - 1 - 1e-9, s"($a,$b) df below min(n)-1")
      assert(df <= na + nb - 2 + 1e-9, s"($a,$b) df above pooled")
    }
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

  test("prom_scrape_health: one global spine; up, flap and run bounds hold") {
    import spark.implicits._
    val rows = run("prom_scrape_health")
      .select("event_type", "n_slots", "n_up", "availability", "n_flaps", "longest_down_hours")
      .as[(String, Long, Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.length == 1, "targets disagree on the global slot count")
    rows.foreach { case (t, slots, up, avail, flaps, ldh) =>
      assert(up >= 0 && up <= slots, s"$t up count")
      assert(math.abs(avail - math.floor(up.toDouble / slots * 1e4) / 1e4) < 1e-12)
      assert(flaps < slots, s"$t flaps")
      assert(ldh <= slots - up, s"$t longest down run exceeds total downtime")
      assert((ldh == 0) == (up == slots), s"$t down-run/availability mismatch")
    }
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

  test("q_hierarchy_rollup: root conserves the corpus; every subtree bounds its own part") {
    import spark.implicits._
    val rows = run("q_hierarchy_rollup")
      .select("node", "depth", "n_desc", "subtree_cents", "own_cents")
      .as[(Long, Int, Long, Long, Long)].collect()
    val parts = graft.sources.Tables.part(spark, sf)
      .select(floor(col("p_retailprice") * 100).cast("long").as("c"))
      .agg(sum("c"), count(lit(1))).as[(Long, Long)].collect().head
    val root = rows.find(_._1 == 0L).get
    assert(root._4 == parts._1, "root subtree != corpus total")
    assert(root._3 == parts._2, "root descendant count != part count")
    val byNode = rows.map(r => r._1 -> r).toMap
    rows.filter(_._1 > 0).foreach { r =>
      val parent = byNode(r._1 / 10)
      assert(parent._4 >= r._4, s"parent of ${r._1} smaller subtree")
      assert(parent._3 >= r._3, s"parent of ${r._1} fewer descendants")
      assert(r._4 >= r._5, s"node ${r._1} subtree below own value")
    }
  }

  test("attribution_markov: removal always hurts, attribution is a normalized split") {
    import spark.implicits._
    val rows = run("attribution_markov")
      .select("channel", "p_conv_full", "p_conv_removed", "removal_effect", "attribution")
      .as[(String, Double, Double, Double, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == graft.operators.Funnel.AttrChannels.sorted)
    val pFull = rows.head._2
    assert(rows.forall(_._2 == pFull), "arms disagree on the full-chain conversion prob")
    assert(pFull > 0 && pFull <= 1.0)
    rows.foreach { case (c, pf, pr, re, at) =>
      assert(pr >= 0 && pr <= pf + 1e-9, s"$c removal should not raise conversion")
      assert(re >= 0 && re <= pf + 1e-9, s"$c removal effect out of range")
      assert(at >= 0 && at <= 1.0, s"$c attribution out of range")
    }
    val atSum = rows.map(_._5).sum
    assert(atSum > 0.99 && atSum <= 1.0 + 1e-9, s"attribution shares sum to $atSum")
  }

  test("metrics_rolling_corr: click autocorrelation is exactly 1; all values in [-1, 1]") {
    import spark.implicits._
    val rows = run("metrics_rolling_corr")
      .select("event_type", "day", "corr_7d")
      .as[(String, Long, Option[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, day, c) =>
      c.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($t,$day) corr $v"))
    }
    val click = rows.filter(_._1 == "click").flatMap(_._3)
    assert(click.nonEmpty && click.forall(v => math.abs(v - 0.9999) < 1e-9 || v == 1.0),
      "click-vs-click rolling correlation must floor to 0.9999/1.0")
  }

  test("ivm_minmax_delta: refcounted extrema match a direct windowless recompute") {
    import spark.implicits._
    val got = run("ivm_minmax_delta")
      .select("day", "min_cents", "max_cents", "n_support")
      .as[(Long, Long, Long, Long)].collect().toSet
    // direct recompute of the net multiset per day
    val want = graft.sources.Tables.events(spark, sf)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"))
      .groupBy("day", "cents").agg(sum("op").as("rc"))
      .filter(col("rc") > 0)
      .groupBy("day").agg(min("cents").as("mn"), max("cents").as("mx"),
        count(lit(1)).as("ns"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    got.foreach { case (_, mn, mx, ns) => assert(mn <= mx && ns > 0) }
  }

  test("sink_manifest_prune: clustering skips files; hash placement scans everything") {
    import spark.implicits._
    val rows = run("sink_manifest_prune")
      .select("layout", "n_files", "files_scanned", "rows_total", "rows_scanned",
        "rows_matched", "scan_share")
      .as[(String, Long, Long, Long, Long, Long, Double)].collect()
    val byLayout = rows.map(r => r._1 -> r).toMap
    assert(byLayout.keySet == Set("clustered", "hash"))
    rows.foreach { case (l, nf, fs, rt, rs, rm, share) =>
      assert(fs <= nf, s"$l scanned more files than exist")
      assert(rm <= rs && rs <= rt, s"$l row accounting broken")
      assert(share >= 0 && share <= 1)
    }
    // both layouts hold the same corpus and the same predicate
    assert(byLayout("clustered")._4 == byLayout("hash")._4)
    assert(byLayout("clustered")._6 == byLayout("hash")._6)
    // the whole point: clustered min/max prune beats hash placement
    assert(byLayout("clustered")._7 < byLayout("hash")._7,
      "clustered layout failed to out-prune hash placement")
    // hash files span wide ranges → most survive pruning (all of them
    // once files hold enough rows; sparse sf0.001 files can miss)
    assert(byLayout("hash")._3 * 2 > byLayout("hash")._2,
      "hash placement pruned more than half its files — layout not wide-range")
  }

  test("graph_hits: top-k panels are complete, sorted and mass-bounded") {
    import spark.implicits._
    val rows = run("graph_hits")
      .select("side", "node_id", "score_fp", "rank")
      .as[(String, Long, Long, Int)].collect()
    val nHubs = graft.sources.Tables.orders(spark, sf).select("o_custkey").distinct().count()
    val nAuths = graft.sources.Tables.supplier(spark, sf).count()
    Seq("hub" -> nHubs, "authority" -> nAuths).foreach { case (side, nSide) =>
      val expect = math.min(20L, nSide).toInt
      val panel = rows.filter(_._1 == side).sortBy(_._4)
      assert(panel.length == expect, s"$side panel size ${panel.length} != $expect")
      assert(panel.map(_._4).toSeq == (1 to expect), s"$side ranks")
      assert(panel.sliding(2).forall(p => p(0)._3 >= p(1)._3), s"$side scores not descending")
      assert(panel.forall(_._3 > 0), s"$side nonpositive score")
      // L1 mass is normalized to BASE: no 20 nodes can hold more than all of it
      assert(panel.map(_._3).sum <= 1000000000000L, s"$side top-k mass exceeds BASE")
    }
  }

  test("source_partition_bounds: partitions tile the key space and conserve rows") {
    import spark.implicits._
    val rows = run("source_partition_bounds")
      .select("part_id", "lo_bound", "hi_bound", "n_rows", "skew_ratio")
      .as[(Long, Long, Option[Long], Long, Double)].collect().sortBy(_._1)
    assert(rows.length == graft.sources.SourceRegistry.JdbcParts)
    assert(rows.map(_._1).toSeq == (0L until graft.sources.SourceRegistry.JdbcParts))
    // contiguous, non-overlapping bounds; last unbounded above
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3.contains(b._2), s"partition ${a._1} upper != ${b._1} lower")
    }
    assert(rows.last._3.isEmpty, "last partition must be unbounded above")
    val total = graft.sources.Tables.orders(spark, sf).count()
    assert(rows.map(_._4).sum == total, "partitions lose or duplicate rows")
    // a sequence-like key should parallelize near-uniformly
    assert(rows.forall(r => r._5 > 0.2 && r._5 < 5.0), "pathological partition skew")
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

  test("metrics_autocorr: one row per (series, lag); acf bounded; support shrinks with lag") {
    import spark.implicits._
    val rows = run("metrics_autocorr")
      .select("event_type", "lag", "n_pairs", "acf")
      .as[(String, Long, Long, Option[Double])].collect()
    val lags = graft.operators.TimeseriesExt.AcfLags
    val types = rows.map(_._1).distinct
    assert(rows.length == types.length * lags.length)
    rows.foreach { case (t, l, n, a) =>
      assert(n > 0, s"($t,$l) no pairs")
      a.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($t,$l) acf $v"))
    }
    types.foreach { t =>
      val byLag = rows.filter(_._1 == t).sortBy(_._2)
      assert(byLag.sliding(2).forall(p => p(0)._3 >= p(1)._3),
        s"$t pair support should not grow with lag")
    }
  }

  test("sessionize_otsu: exactly one winner maximizing the between-class score") {
    import spark.implicits._
    val rows = run("sessionize_otsu")
      .select("bucket", "n", "w0", "w1", "score_floor", "is_chosen", "timeout_sec")
      .as[(Int, Long, Long, Long, Long, Boolean, Long)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    assert(rows.count(_._6) == 1, "not exactly one chosen threshold")
    // the last bucket is rightly absent (no split leaves both classes
    // nonempty there), so the grand total is any row's w0+w1
    val total = rows.head._3 + rows.head._4
    rows.foreach { case (b, n, w0, w1, sf_, _, ts) =>
      assert(w0 + w1 == total, s"bucket $b classes don't partition")
      assert(w0 > 0 && w1 > 0, s"bucket $b empty class survived the sweep")
      assert(sf_ >= 0)
      assert(ts == (1L << b), s"bucket $b timeout")
    }
    // cumulative w0 must be monotone in bucket
    assert(rows.sliding(2).forall(p => p(0)._3 < p(1)._3), "w0 not strictly increasing")
    val chosen = rows.find(_._6).get
    assert(rows.forall(r => r._5 <= chosen._5), "winner does not maximize the score")
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

  test("events_audience_overlap: every pair once; jaccard <= overlap coefficient") {
    import spark.implicits._
    val rows = run("events_audience_overlap")
      .select("type_a", "type_b", "n_a", "n_b", "n_both", "jaccard", "overlap_coef")
      .as[(String, String, Long, Long, Long, Double, Double)].collect()
    val nTypes = graft.sources.Tables.events(spark, sf)
      .select("event_type").distinct().count().toInt
    assert(rows.length == nTypes * (nTypes - 1) / 2)
    rows.foreach { case (a, b, na, nb, both, j, oc) =>
      assert(a < b)
      assert(both <= math.min(na, nb), s"($a,$b) intersection exceeds a side")
      assert(j >= 0 && j <= 1 && oc >= 0 && oc <= 1)
      assert(j <= oc + 1e-9, s"($a,$b) jaccard should not exceed overlap coefficient")
    }
  }

  test("prom_metric_type_infer: cumulative arms infer counter, raw arms gauge") {
    import spark.implicits._
    val rows = run("prom_metric_type_infer")
      .select("series", "n_steps", "n_down", "n_reset", "monotone_share", "inferred_type")
      .as[(String, Long, Long, Long, Double, String)].collect()
    val (cum, raw) = rows.partition(_._1.endsWith(":cum"))
    assert(cum.nonEmpty && raw.nonEmpty)
    cum.foreach { r =>
      assert(r._3 == 0 && r._6 == "counter", s"${r._1}: running total must infer counter")
      assert(r._5 == 1.0)
    }
    raw.foreach { r =>
      assert(r._6 == "gauge", s"${r._1}: oscillating raw series must infer gauge")
      assert(r._3 > 0 && r._4 <= r._3)
    }
  }

  test("metrics_scrape_interval: one modal row per series with a proper share") {
    import spark.implicits._
    val rows = run("metrics_scrape_interval")
      .select("event_type", "n_gaps", "modal_gap_sec", "modal_count", "modal_share")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate series rows")
    rows.foreach { case (t, n, gap, cnt, share) =>
      assert(gap >= 0, s"$t negative modal gap")
      assert(cnt >= 1 && cnt <= n, s"$t modal count out of range")
      assert(math.abs(share - math.floor(cnt.toDouble / n * 1e4) / 1e4) < 1e-12)
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

  test("cohort_ndr: retained revenue comes only from the prior month's users") {
    import spark.implicits._
    val rows = run("cohort_ndr")
      .select("month", "n_users", "rev_cents", "retained_cents", "n_retained", "ndr")
      .as[(Long, Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (m, nu, rev, ret, nr, ndr) =>
      assert(nu > 0 && rev > 0)
      assert(nr <= nu, s"month $m retained more users than it had")
      assert(ndr >= 0)
      assert(math.abs(ndr - math.floor(ret.toDouble / rev * 1e4) / 1e4) < 1e-12)
    }
    // cross-check one month's retained revenue against a direct recompute
    val monthly = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)")
          .as("month"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
      .as[(Long, Long, Long)].collect()
    val m0 = rows.head._1
    val users0 = monthly.filter(_._2 == m0).map(_._1).toSet
    val want = monthly.filter(r => r._2 == m0 + 1 && users0(r._1)).map(_._3).sum
    assert(rows.head._4 == want, "retained revenue mismatch vs direct recompute")
  }

  test("ivm_topn_delta: podium matches a direct recompute of the live multiset") {
    import spark.implicits._
    val got = run("ivm_topn_delta")
      .select("day", "rank", "bucket", "rc")
      .as[(Long, Int, Long, Long)].collect()
    // rank keys assume the bucket domain fits below 2^24
    assert(got.forall(r => r._3 >= 0 && r._3 < (1L << 24)))
    val live = graft.sources.Tables.events(spark, sf)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value")).cast("long").as("bucket"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"))
      .groupBy("day", "bucket").agg(sum("op").as("rc"))
      .filter(col("rc") > 0)
      .as[(Long, Long, Long)].collect()
    val want = live.groupBy(_._1).toSeq.flatMap { case (day, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
        .map { case ((_, b, rc), i) => (day, i + 1, b, rc) }
    }.toSet
    assert(got.map(r => (r._1, r._2, r._3, r._4)).toSet == want)
  }

  test("q_corr_matrix: six pairs, bounded correlations, self-consistency with corr()") {
    import spark.implicits._
    val rows = run("q_corr_matrix")
      .select("col_a", "col_b", "n", "corr")
      .as[(String, String, Long, Option[Double])].collect()
    assert(rows.length == 6)
    assert(rows.map(r => (r._1, r._2)).distinct.length == 6)
    // pairs follow measure declaration order (qty, price, disc, tax),
    // not alphabetical order
    val declared = Seq("qty" -> "price", "qty" -> "disc", "qty" -> "tax",
      "price" -> "disc", "price" -> "tax", "disc" -> "tax").toSet
    assert(rows.map(r => (r._1, r._2)).toSet == declared)
    rows.foreach { case (a, b, n, c) =>
      assert(n > 0)
      c.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9, s"($a,$b) corr $v"))
    }
    // cross-check one pair against Spark's own corr aggregate (float,
    // so compare loosely)
    val want = graft.sources.Tables.lineitem(spark, sf)
      .select(floor(col("l_quantity")).cast("long").cast("double").as("x"),
        floor(col("l_extendedprice") * 100).cast("long").cast("double").as("y"))
      .agg(corr(col("x"), col("y"))).as[Double].collect().head
    val got = rows.find(r => r._1 == "price" && r._2 == "qty")
      .orElse(rows.find(r => r._1 == "qty" && r._2 == "price")).get._4.get
    assert(math.abs(got - want) < 1e-3, s"corr(qty, price) $got vs $want")
  }

  test("q_duplicate_payments: every pair is same-user same-amount inside the window") {
    import spark.implicits._
    val rows = run("q_duplicate_payments")
      .select("user_id", "amt", "ev_a", "ev_b", "hours_apart")
      .as[(Long, Long, Long, Long, Long)].collect()
    val purchases = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), floor(col("value")).cast("long").as("amt"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (u, amt, a, b, h) =>
      assert(a < b, "pair not anchored on the lower id")
      assert(purchases(a) == ((u, amt)) && purchases(b) == ((u, amt)),
        s"pair ($a,$b) members don't share (user, amount)")
      assert(h >= 0 && h <= 7 * 24, s"pair ($a,$b) outside the window")
    }
    assert(rows.map(p => (p._3, p._4)).distinct.length == rows.length, "duplicate pairs")
  }

  test("sink_write_audit_publish: staged bytes round-trip and the publish is audited") {
    import spark.implicits._
    val rows = run("sink_write_audit_publish")
      .select("side", "n_rows", "digest", "published")
      .as[(String, Long, String, Boolean)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("published", "source"))
    assert(rows.forall(_._4), "audit failed — staging did not round-trip")
    val Array(p, s0) = rows.sortBy(_._1)
    assert(p._2 == s0._2 && p._3 == s0._3, "published audit differs from source audit")
    assert(p._2 > 0)
  }

  test("q_semi_additive: month-end balance uses each account's last sample only") {
    import spark.implicits._
    val rows = run("q_semi_additive")
      .select("month", "n_accounts", "eom_balance_cents", "naive_sum_cents",
        "additive_overcount")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (m, na, eom, naive, over) =>
      assert(na > 0 && eom > 0)
      assert(naive >= eom, s"month $m naive sum below last-sample sum")
      assert(over >= 1.0, s"month $m overcount ratio below 1")
    }
    // direct recompute of one month's end-of-month balance
    val base = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 div 30 as bigint)").as("month"),
        unix_timestamp(date_trunc("second", col("ts"))).as("sec"), col("event_id"),
        floor(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, Long, Long, Long)].collect()
    val m0 = rows.head._1
    val want = base.filter(_._2 == m0).groupBy(_._1).values
      .map(_.maxBy(r => (r._3, r._4))._5).sum
    assert(rows.head._3 == want, "eom balance mismatch vs direct recompute")
  }

  test("prom_ha_dedup: election never keeps fewer samples than the better replica") {
    import spark.implicits._
    val rows = run("prom_ha_dedup")
      .select("event_type", "n_windows", "windows_b", "samples_ingested",
        "samples_kept", "dedup_ratio")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    val totalEvents = graft.sources.Tables.events(spark, sf).count()
    // replica a is complete: kept >= a's sample count per series overall
    val perType = graft.sources.Tables.events(spark, sf)
      .groupBy("event_type").count().as[(String, Long)].collect().toMap
    rows.foreach { case (t, nw, wb, ing, kept, ratio) =>
      assert(nw > 0 && wb <= nw)
      assert(kept >= perType(t), s"$t kept fewer samples than the complete replica")
      assert(kept <= ing && ing < 2 * perType(t) + 1)
      assert(ratio > 0.5 && ratio <= 1.0, s"$t dedup ratio $ratio")
    }
    assert(rows.map(_._5).sum >= totalEvents, "dedup lost data overall")
  }

  test("events_power_law_fit: a heavy-ish tail fits with negative slope") {
    import spark.implicits._
    val rows = run("events_power_law_fit")
      .select("n_levels", "slope", "intercept")
      .as[(Long, Double, Double)].collect()
    assert(rows.length == 1)
    val (n, slope, intercept) = rows.head
    assert(n > 1, "degenerate level histogram")
    // activity histograms decay: more users at low activity levels
    assert(slope.isFinite && intercept.isFinite)
    // recompute the fold driver-side for an exact cross-check
    val hist = graft.sources.Tables.events(spark, sf)
      .groupBy("user_id").count().groupBy(col("count").as("k"))
      .agg(count(lit(1)).as("n_k")).as[(Long, Long)].collect().sortBy(_._1)
    var (nn, sx, sy, sxy, sxx) = (0L, 0.0, 0.0, 0.0, 0.0)
    hist.foreach { case (k, nk) =>
      val x = math.log(k.toDouble); val y = math.log(nk.toDouble)
      nn += 1; sx += x; sy += y; sxy += x * y; sxx += x * x
    }
    val wantSlope = math.floor((nn * sxy - sx * sy) / (nn * sxx - sx * sx) * 1e4) / 1e4
    assert(n == nn && slope == wantSlope, s"fold mismatch: $slope vs $wantSlope")
  }

  test("q_abc_classification: classes partition parts and shares stack to one") {
    import spark.implicits._
    val rows = run("q_abc_classification")
      .select("cls", "n_parts", "class_cents", "revenue_share")
      .as[(String, Long, Long, Double)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("A", "B", "C"))
    val nParts = graft.sources.Tables.lineitem(spark, sf)
      .select("l_partkey").distinct().count()
    assert(rows.map(_._2).sum == nParts, "classes don't partition the parts")
    val shares = rows.map(r => r._1 -> r._4).toMap
    assert(shares("A") <= 0.80 + 1e-9, "class A exceeds its cumulative budget")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 2e-3, "shares don't stack to ~1")
    // Pareto shape: A holds most revenue with fewest big parts per dollar
    val byCls = rows.map(r => r._1 -> r).toMap
    assert(byCls("A")._3 > byCls("C")._3, "A class should dominate revenue")
  }

  test("refcount top-N maintenance equals the batch view, any chunking") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // same refcount state as the min/max view, keyed on the dollar bucket
    val rows = graft.sources.Tables.events(spark, sf)
      .select(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        floor(col("value")).cast("long").as("cents"),
        when(col("event_type") === "error", -1L).otherwise(1L).as("op"),
        col("event_id"))
      .as[(Long, Long, Long, Long)].collect()
    val snapDir = java.nio.file.Files.createTempDirectory("graft_ivmt").toString
    val input = MemoryStream[(Long, Long, Long, Long)]
    val q = input.toDF().toDF("day", "cents", "op", "event_id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        EventsStream.ivmMinmaxBatchInto(snapDir, df)
      }.start()
    try {
      val chunks = rows.sortBy(_._4).grouped(math.max(1, rows.length / 3 + 1)).toSeq.reverse
      chunks.foreach { c => input.addData(c.toSeq); q.processAllAvailable() }
      // read the maintained refcounts back through the top-N rule
      val snap = spark.read.parquet(s"$snapDir/current")
        .filter(col("rc") > 0)
        .select(col("day"), col("cents").as("bucket"), col("rc"))
        .as[(Long, Long, Long)].collect()
      val got = snap.groupBy(_._1).toSeq.flatMap { case (day, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(3).zipWithIndex
          .map { case ((_, b, rc), i) => (day, i + 1, b, rc) }
      }.toSet
      val want = run("ivm_topn_delta")
        .select("day", "rank", "bucket", "rc")
        .as[(Long, Int, Long, Long)].collect()
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      assert(got == want, s"streaming=${got.size} batch=${want.size}")
    } finally q.stop()
  }

  test("alert_notify_dedup: notification accounting tiles the firing hours") {
    import spark.implicits._
    val rows = run("alert_notify_dedup")
      .select("event_type", "n_hours", "n_incidents", "n_repeats", "n_resolves",
        "n_suppressed")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // independent recount from the hysteresis stream itself
    val hyst = run("metrics_alert_hysteresis")
      .select("event_type", "firing", "transition")
      .as[(String, Int, Option[String])].collect()
    rows.foreach { case (t, nh, ni, nr, nres, nsup) =>
      val mine = hyst.filter(_._1 == t)
      assert(nh == mine.length, s"$t hour count")
      assert(ni == mine.count(_._3.contains("fire")), s"$t incidents != fire transitions")
      assert(nres == mine.count(_._3.contains("resolve")), s"$t resolves")
      val steady = mine.count(r => r._2 == 1 && r._3.isEmpty)
      assert(nr + nsup == steady, s"$t repeats+suppressed must tile steady-firing hours")
      assert(nr <= ni * (nh * 3600 / graft.operators.Timeseries.NotifyRepeatSec + 1))
    }
  }

  test("dq_volume_anomaly: flagged days truly exceed the robust 3-MAD band") {
    import spark.implicits._
    val rows = run("dq_volume_anomaly")
      .select("tbl", "day", "n", "med", "mad", "is_anomaly")
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.forall(_._6), "non-anomalous rows leaked into the feed")
    rows.foreach { case (t, d, n, med, mad, _) =>
      assert(math.abs(n - med) > 3 * mad, s"($t,$d) inside the band")
      assert(mad >= 0 && med > 0)
    }
    // med/mad constant per table
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(r => (r._4, r._5)).distinct.length == 1, s"$t baseline not constant")
    }
  }

  test("q_winsorized_mean: bounds ordered, winsorized mean clamped inside them") {
    import spark.implicits._
    val rows = run("q_winsorized_mean")
      .select("l_returnflag", "n", "p05_cents", "p95_cents", "mean_cents", "winsor_mean_cents")
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (f, n, lo, hi, _, wm) =>
      assert(n > 0)
      assert(lo <= hi, s"$f bounds out of order")
      assert(wm >= lo - 1e-9 && wm <= hi + 1e-9, s"$f winsorized mean outside clamp range")
    }
  }
}
