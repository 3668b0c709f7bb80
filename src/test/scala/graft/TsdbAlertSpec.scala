package graft

import org.apache.spark.sql.functions._
import graft.operators.PromQl

/** Semantic pins for the TSDB-lifecycle, Alertmanager-routing,
  * rank-statistics, scrape-policy and PromQL read families, and for the
  * api/v1 response envelopes — each claim is verified against an
  * independent recomputation (driver-side fold, brute-force pair join,
  * direct rank sort, or a JSON parse), not just the DuckDB oracle. */
class TsdbAlertSpec extends SparkTestBase {

  // ------------------------------------------------ tsdb_ooo_ingest

  test("tsdb_ooo_ingest: window decision == sequential head fold") {
    // the operator's claim: running-max-over-all == running-max-over-
    // accepted. Recompute per series with an explicitly SEQUENTIAL fold
    // that only advances the head on accepted samples.
    val got = run("tsdb_ooo_ingest")
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    val raw = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)"),
        col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (series, rows) =>
      var head = Long.MinValue; var acc = 0L; var rej = 0L
      rows.sortBy(_._3).foreach { case (_, es, _) =>
        if (head == Long.MinValue || es >= head - 3600L) {
          acc += 1; if (es > head) head = es
        } else rej += 1
      }
      assert(got(series) == ((acc, rej)),
        s"$series: operator ${got(series)} vs sequential fold ($acc, $rej)")
    }
  }

  test("tsdb_block_plan + retention + head_chunks conserve every sample") {
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    val plan = run("tsdb_block_plan").collect()
    assert(plan.map(_.getAs[Long]("total_samples")).sum == nEvents)
    // parents tile the block ids: every child range is disjoint
    val ranges = plan.map(r => (r.getAs[Long]("first_block"), r.getAs[Long]("last_block")))
    ranges.sorted.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 < s2)
      case _ =>
    }
    val ret = run("tsdb_retention").collect()
    assert(ret.map(_.getAs[Long]("n_samples")).sum == nEvents)
    ret.foreach { r =>
      val del = r.getAs[String]("decision") == "delete"
      val blockEnd = (r.getAs[Long]("block_id") + 1) * 7200 - 1
      assert(del == (blockEnd < r.getAs[Long]("boundary_es")))
    }
    val hc = run("tsdb_head_chunks").collect()
    assert(hc.map(_.getAs[Long]("n_samples")).sum == nEvents)
    hc.foreach { r =>
      assert(r.getAs[Long]("max_chunk_fill") <= 120L)
      assert(r.getAs[Long]("n_full_chunks") <= r.getAs[Long]("n_chunks"))
    }
  }

  // ------------------------------------------------ alert routing

  test("alert_group_wait: batch 0 is exactly the group_wait window") {
    val batches = run("alert_group_wait").collect()
    // every alert is in exactly one batch: totals match the alert feed
    val nAlerts = graft.sources.Tables.events(spark, sf)
      .filter(col("value") >= 100).count()
    assert(batches.map(_.getAs[Long]("n_alerts")).sum == nAlerts)
    // flush timestamps are strictly increasing per group and start at t0+30
    batches.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val flushes = rows.sortBy(_.getAs[Long]("batch")).map(_.getAs[Long]("flush_es"))
      assert(flushes.sliding(2).forall { case Array(a, b) => a < b; case _ => true })
    }
  }

  test("alert_inhibition: 6h-cell aggregate decision == brute-force pair join") {
    val a = graft.sources.Tables.events(spark, sf).filter(col("value") >= 100)
      .select(col("event_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("es"),
        col("event_type").as("alertname"),
        concat(lit("u"), (col("user_id") % 10).cast("string")).as("instance"),
        (col("value") >= 200).as("crit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getBoolean(4)))
    val crits = a.filter(_._5)
    val brute = a.filterNot(_._5).groupBy(w => (w._3, w._4)).map { case (k, ws) =>
      k -> ws.count(w => crits.exists(c =>
        c._3 == w._3 && c._4 == w._4 && c._2 <= w._2 && c._2 >= w._2 - 21600))
    }
    val got = run("alert_inhibition").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("n_inhibited")).toMap
    brute.foreach { case (k, n) =>
      assert(got(k) == n.toLong, s"key $k: operator ${got(k)} vs brute-force $n")
    }
  }

  test("alert_silence_match: regexp silence only ever matches click/view") {
    val rows = run("alert_silence_match").collect()
    rows.foreach { r =>
      val name = r.getString(0)
      assert(r.getAs[Long]("n_silenced") <= r.getAs[Long]("n_alerts"))
      if (r.getAs[Long]("min_silence_id") == 2L)
        assert(name == "click" || name == "view")
    }
    assert(rows.map(_.getAs[Long]("n_alerts")).sum ==
      graft.sources.Tables.events(spark, sf).filter(col("value") >= 100).count())
  }

  test("alert_routing_tree: critical stops at A, continue fans out, totals reconcile") {
    val rows = run("alert_routing_tree").collect()
    val byRecv = rows.groupBy(_.getString(0))
      .map { case (r, g) => r -> g.map(_.getAs[Long]("n_alerts")).sum }
    val a = graft.sources.Tables.events(spark, sf).filter(col("value") >= 100)
    val nCrit = a.filter(col("value") >= 200).count()
    val nWarn = a.count() - nCrit
    // route A swallows every critical exactly once (pager + pager-db)
    assert(byRecv.getOrElse("pager", 0L) + byRecv.getOrElse("pager-db", 0L) == nCrit)
    // pager-db only ever sees 'error' criticals
    rows.filter(_.getString(0) == "pager-db")
      .foreach(r => assert(r.getString(1) == "error"))
    // warnings route to B/C/default; continue=true duplicates exactly
    // the alerts matching BOTH B and C, so the receiver-row total is an
    // EXACT tiling: nWarn + |warnings matching B and C|
    val warnRows = byRecv.filterKeys(k => k != "pager" && k != "pager-db")
    val nBoth = a.filter(col("value") < 200 &&
      col("event_type").isin("click", "view") &&
      (col("user_id") % 10) === 3).count()
    assert(warnRows.values.sum == nWarn + nBoth,
      s"receiver rows ${warnRows.values.sum} must tile nWarn $nWarn + both-match $nBoth")
    assert(byRecv.contains("default") && byRecv.contains("clicks-team"))
    // clicks-team is exactly the warning click+view population (B matches
    // every warning of those names, continue cannot suppress it)
    val nClickView = a.filter(col("value") < 200 &&
      col("event_type").isin("click", "view")).count()
    assert(byRecv("clicks-team") == nClickView)
  }

  // ------------------------------------------------ rank statistics

  test("q_mann_whitney_u: rank-sum identity R1 + R2 == N(N+1)/2 on the x2 scale") {
    val r = run("q_mann_whitney_u").collect().head
    val (na, nr) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_r"))
    val n = na + nr
    // recompute R1 by brute-force average ranks over the raw rows
    val vals = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag"), col("l_quantity").cast("int"))
      .collect().map(x => (x.getString(0), x.getInt(1)))
    val sorted = vals.map(_._2).sorted
    val rank2 = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> (g.map(_._2 + 1L).sum * 2L / g.size) } // 2*avg rank
    val r1x2 = vals.filter(_._1 == "A").map(v => rank2(v._2)).sum
    val u1x2 = r1x2 - na * (na + 1)
    assert(math.abs(r.getAs[Double]("u1_x2") - u1x2.toDouble) < 1e-6,
      s"operator u1_x2 ${r.getAs[Double]("u1_x2")} vs brute $u1x2")
    assert(n == vals.length)
  }

  test("q_kruskal_wallis: H >= 0 and group sizes cover the table") {
    val rows = run("q_kruskal_wallis").collect()
    assert(rows.length == 3)
    val h = rows.map(_.getAs[Double]("h_corr")).distinct
    assert(h.length == 1 && h.head >= 0.0)
    assert(rows.map(_.getAs[Long]("n_j")).sum ==
      graft.sources.Tables.lineitem(spark, sf).count())
  }

  test("q_bh_fdr: rejections are a contiguous rank prefix obeying the step-up bound") {
    val rows = run("q_bh_fdr").collect()
      .sortBy(_.getAs[Long]("rank"))
    val m = rows.length
    val rejected = rows.filter(_.getAs[Boolean]("rejected"))
    if (rejected.nonEmpty) {
      val k = rejected.map(_.getAs[Long]("rank")).max
      assert(rejected.map(_.getAs[Long]("rank")).toSet == (1L to k).toSet,
        "rejected set must be the prefix 1..k (step-up, not step-down)")
      // the boundary rank itself satisfies p <= k*alpha/m
      val pk = rows(k.toInt - 1).getAs[Double]("p_floor")
      assert(pk <= k.toDouble * 0.2 / m + 1e-6)
    }
  }

  test("q_cramers_v: V in [0,1] and dimensions match the contingency") {
    val r = run("q_cramers_v").collect().head
    assert(r.getAs[Long]("r_levels") == 5L && r.getAs[Long]("c_levels") == 3L)
    val v = r.getAs[Double]("cramers_v")
    assert(v >= 0.0 && v <= 1.0)
  }

  // ------------------------------------------------ scrape policy

  test("prom_scrape_limits: a failing scrape keeps nothing") {
    run("prom_scrape_limits").collect().foreach { r =>
      if (r.getAs[Long]("up") == 1L)
        assert(r.getAs[Long]("n_kept") == r.getAs[Long]("n_series"))
      else assert(r.getAs[Long]("n_kept") == 0L)
    }
  }

  test("prom_honor_labels: honoring scraped labels can only collapse cardinality") {
    val rows = run("prom_honor_labels").collect()
    val byMode = rows.groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(_.getAs[Long]("n_series")).sum }
    assert(byMode("honor_true") <= byMode("honor_false"),
      s"honor_true ${byMode("honor_true")} must be <= honor_false ${byMode("honor_false")}")
  }

  // ------------------------------------------------ query sharding

  test("prom_query_sharding: shard legs sum exactly to the unsharded answer") {
    val rows = run("prom_query_sharding").collect()
    val (totals, partials) = rows.partition(_.getAs[Long]("shard") == -1L)
    totals.foreach { t =>
      val legs = partials.filter(_.getString(0) == t.getString(0))
      assert(legs.map(_.getAs[Long]("n_samples")).sum == t.getAs[Long]("n_samples"))
      assert(legs.map(_.getAs[Long]("sum_cents")).sum == t.getAs[Long]("sum_cents"))
      assert(legs.map(_.getAs[Long]("shard")).forall(s => s >= 0 && s < 4))
    }
    assert(totals.nonEmpty && partials.nonEmpty)
  }

  // ------------------------------------------------ tombstones

  test("tsdb_tombstones: click dies whole-span, conservation holds per block") {
    val rows = run("tsdb_tombstones").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_samples") ==
        r.getAs[Long]("n_tombstoned") + r.getAs[Long]("n_remaining"))
      assert(r.getAs[Boolean]("fully_deletable") ==
        (r.getAs[Long]("n_remaining") == 0L))
    }
    // the whole-span request tombstones EVERY click sample
    val nClick = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(rows.map(_.getAs[Long]("n_tombstoned")).sum >= nClick)
  }

  // ------------------------------------------------ bloom prefilter

  test("dedup_bloom_prefilter: no false negatives, positives decompose exactly") {
    val rows = run("dedup_bloom_prefilter").collect()
    rows.foreach { r =>
      // a bloom filter can only over-approximate: every exact match is positive
      assert(r.getAs[Long]("n_bloom_pos") >=
        r.getAs[Long]("n_true_dup"),
        s"${r.getString(0)}: false negative — bloom missed an exact match")
      assert(r.getAs[Long]("n_bloom_pos") ==
        r.getAs[Long]("n_true_dup") + r.getAs[Long]("n_false_pos"))
      assert(r.getAs[Long]("n_docs") >= r.getAs[Long]("n_bloom_pos"))
    }
    assert(rows.map(_.getAs[Long]("n_true_dup")).sum > 0,
      "fixture degenerate: no exact cross-corpus matches at this SF")
  }

  // ------------------------------------------------ PromQL functions

  test("prom_topk_instant: exactly <=2 per (step, job), rank order matches values") {
    val rows = run("prom_topk_instant").collect()
    rows.groupBy(r => (r.getAs[Long]("step_sec"), r.getString(1))).foreach {
      case (_, g) =>
        assert(g.length <= 2)
        val sorted = g.sortBy(_.getAs[Long]("rank"))
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            val (ca, cb) = (a.getAs[Long]("cents"), b.getAs[Long]("cents"))
            assert(ca > cb || (ca == cb && a.getString(2) < b.getString(2)),
              "rank must follow (value desc, instance asc)")
          case _ =>
        }
    }
  }

  test("prom_clamp: clamp == clamp_min . clamp_max, inverted bounds yield the empty vector") {
    run("prom_clamp").collect().foreach { r =>
      val (v, c, cmin, cmax) = (r.getAs[Long]("cents"), r.getAs[Long]("clamp_cents"),
        r.getAs[Long]("clamp_min_cents"), r.getAs[Long]("clamp_max_cents"))
      assert(c == math.min(math.max(v, 5000L), 20000L))
      assert(cmin == math.max(v, 5000L) && cmax == math.min(v, 20000L))
      assert(c == math.min(cmin, 20000L))
    }
    assert(graft.operators.PromQlFns.clampInverted(spark, sf).count() == 0L,
      "clamp(v, min, max) with min > max must return the EMPTY vector")
  }

  test("prom_label_join: dst overwritten, empty source leaves the bare separator") {
    val rows = run("prom_label_join").collect()
    rows.foreach { r =>
      val (job, ieff, za) = (r.getString(0), r.getString(2), r.getString(4))
      assert(za == s"$job-$ieff", "zone must be the joined source labels")
      assert(r.getString(3).startsWith("z"), "pre-join zone existed and was replaced")
      if (r.getString(1) == "u0") assert(za == s"$job-",
        "empty source label joins as empty string (trailing separator kept)")
    }
  }

  test("prom_group_stdvar: group()==1 and stdvar == stddev^2 within the floor grid") {
    run("prom_group_stdvar").collect().foreach { r =>
      assert(r.getAs[Long]("group_value") == 1L)
      val (sv, sd) = (r.getAs[Double]("stdvar"), r.getAs[Double]("stddev"))
      assert(sv >= 0 && sd >= 0)
      assert(math.abs(sd * sd - sv) <= 2 * sd * 1e-4 + 1e-4,
        s"stddev^2 ${sd * sd} must match stdvar $sv up to the 1e-4 display floor")
    }
  }

  test("prom_quantile_aggregator: bracket holds the quantile, interpolation inside it") {
    run("prom_quantile_aggregator").collect().foreach { r =>
      val (lo, hi, q) = (r.getAs[Long]("lo_cents"), r.getAs[Long]("hi_cents"),
        r.getAs[Double]("quantile_cents"))
      assert(lo <= hi, "sorted bracket")
      assert(q >= lo.toDouble - 1e-4 && q <= hi.toDouble,
        s"interpolated q $q must land in [$lo, $hi]")
      assert(r.getAs[Long]("n_series") >= 1)
    }
  }

  test("model_bradley_terry: points conserve across the tournament, bt averages 1e6") {
    val rows = run("model_bradley_terry").collect()
    // every game hands out exactly 2 points across its two players
    val totPts = rows.map(_.getAs[Long]("points_x2")).sum
    val totGames = rows.map(_.getAs[Long]("n_games")).sum // each game counted twice
    assert(totPts == totGames,
      s"sum points_x2 $totPts must equal games-with-multiplicity $totGames")
    rows.foreach { r =>
      assert(r.getAs[Long]("bt_x1e6") ==
        r.getAs[Long]("points_x2") * 1000000L / r.getAs[Long]("n_games"))
    }
  }

  test("ivm_quantile_delta: chunked refcount merge recomputes the same medians") {
    import org.apache.spark.sql.functions._
    // abelian property: refcount histograms from two halves of the feed
    // merge additively to the full histogram, so the derived median is
    // chunking-independent — recompute per series on the driver
    val raw = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"),
        when(get_json_object(col("props"), "$.k").cast("int") % 10 === 0, -1L)
          .otherwise(1L).as("op"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val (h1, h2) = raw.sortBy(_._4).splitAt(raw.length / 2)
    def hist(rows: Array[(String, Long, Long, Long)]) =
      rows.groupBy(r => (r._1, r._2)).map { case (k, g) => k -> g.map(_._3).sum }
    val merged = (hist(h1).toSeq ++ hist(h2).toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      .filter(_._2 > 0)
    val medians = merged.groupBy(_._1._1).map { case (t, cells) =>
      val sorted = cells.toSeq.map { case ((_, c), rc) => (c, rc) }.sortBy(_._1)
      val tot = sorted.map(_._2).sum
      val rank = (tot + 1) / 2
      var cum = 0L
      t -> sorted.collectFirst { case (c, rc) if { cum += rc; cum >= rank } => c }.get
    }
    val got = run("ivm_quantile_delta").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("median_cents")).toMap
    assert(got == medians, s"operator $got vs chunk-merged recompute $medians")
  }

  test("curate_dedup_mix_shift: shares tile 1e6 within floor deficit, shifts sum ~0") {
    val rows = run("curate_dedup_mix_shift").collect()
    val m = rows.length
    val before = rows.map(_.getAs[Long]("share_before_x1e6")).sum
    val after = rows.map(_.getAs[Long]("share_after_x1e6")).sum
    assert(before > 1000000L - m && before <= 1000000L)
    assert(after > 1000000L - m && after <= 1000000L)
    rows.foreach { r =>
      assert(r.getAs[Long]("kept_tokens") <= r.getAs[Long]("orig_tokens"))
      assert(r.getAs[Long]("shift_x1e6") ==
        r.getAs[Long]("share_after_x1e6") - r.getAs[Long]("share_before_x1e6"))
    }
  }

  // ------------------------------------------------ training prep

  test("ann_binary_quant_recall: k rows per query, overlap bounded, hamming in [0,64]") {
    val rows = run("ann_binary_quant_recall").collect()
    assert(rows.length == graft.operators.BinaryQuant.NumQueries)
    rows.foreach { r =>
      assert(r.getAs[Long]("k") == graft.operators.BinaryQuant.K.toLong)
      assert(r.getAs[Long]("n_overlap") <= r.getAs[Long]("k"))
      assert(r.getAs[Long]("best_hamming") >= 0
        && r.getAs[Long]("worst_top_hamming") <= 64)
      assert(r.getAs[Long]("best_hamming") <= r.getAs[Long]("worst_top_hamming"))
    }
    assert(rows.map(_.getAs[Long]("n_overlap")).sum > 0,
      "sign-bit Hamming must recover SOME exact-cosine neighbors")
  }

  test("mix_doremi_step: weights monotone in loss, floor deficit bounded") {
    val rows = run("mix_doremi_step").collect()
    val m = rows.length
    // exp is monotone: a higher-loss domain can never get a lower weight
    rows.sortBy(_.getAs[Long]("loss")).sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("w_new_x1e6") <= b.getAs[Long]("w_new_x1e6"))
      case _ =>
    }
    val total = rows.map(_.getAs[Long]("w_new_x1e6")).sum
    assert(total <= 1000000L && total > 1000000L - m,
      s"floored weights must sum into (1e6 - m, 1e6]: $total")
    rows.foreach(r => assert(r.getAs[Long]("term_u") >= 1000000L,
      "exp(x>=0) >= 1 so every term is at least the 1e6 unit"))
  }

  test("pack_fim_transform: the PSM split loses nothing") {
    val rows = run("pack_fim_transform").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("prefix_tokens") + r.getAs[Long]("middle_tokens")
        + r.getAs[Long]("suffix_tokens") == r.getAs[Long]("fim_tokens"),
        s"${r.getString(0)}: split must conserve tokens")
      assert(r.getAs[Long]("n_fim") <= r.getAs[Long]("n_docs"))
      if (r.getAs[Long]("n_fim") > 0)
        assert(r.getAs[Long]("prefix_tokens") >= r.getAs[Long]("n_fim"),
          "c1 >= 1 per transformed doc")
    }
    assert(rows.map(_.getAs[Long]("n_fim")).sum > 0, "the md5 gate selects ~half")
  }

  // ------------------------------------------------ line dedup

  test("text_line_dedup: keep-first removes exactly (occurrences - distinct) segments") {
    val rows = run("text_line_dedup").collect()
    val totalSegs = rows.map(_.getAs[Long]("n_segments")).sum
    val totalRemoved = rows.map(_.getAs[Long]("n_removed")).sum
    val distinctSegs = graft.sources.Tables.documents(spark, sf)
      .select(expr(graft.operators.TextAnalysis.toksExpr).as("toks"))
      .filter(size(col("toks")) >= 10)
      .select(explode(expr(
        """transform(sequence(0, size(toks) DIV 10 - 1),
              i -> array_join(slice(toks, i * 10 + 1, 10), ' '))""")).as("seg"))
      .distinct().count()
    assert(totalRemoved == totalSegs - distinctSegs,
      s"removed $totalRemoved vs occurrences $totalSegs - distinct $distinctSegs")
    rows.foreach(r => assert(r.getAs[Long]("kept_tokens") >= 0L))
  }

  test("dq_schema_contract: both planted violations surface, everything else is ok") {
    val v = run("dq_schema_contract").collect()
      .map(r => r.getString(0) -> r.getAs[String]("verdict")).toMap
    assert(v("value") == "type_mismatch")
    assert(v("region") == "missing_optional")
    assert(Seq("event_id", "ts", "user_id", "event_type", "props")
      .forall(c => v(c) == "ok"), s"unexpected verdicts: $v")
    assert(!v.values.exists(_ == "missing_required"))
  }

  test("prom_queue_shards: a series never splits across shards, batches drain full-then-tail") {
    val rows = run("prom_queue_shards").collect()
    val nEvents = graft.sources.Tables.events(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_samples")).sum == nEvents)
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (_, batches) =>
      val sorted = batches.sortBy(_.getAs[Long]("batch"))
      sorted.init.foreach(b => assert(
        b.getAs[Long]("n_samples") == graft.operators.WritePath.BatchSize.toLong,
        "only the tail batch may be partial"))
      assert(sorted.last.getAs[Long]("n_samples") <=
        graft.operators.WritePath.BatchSize.toLong)
    }
    // single-shard property: recompute each series' shard from the ONE
    // shared derivation (SeriesHash) at the operator's own constants
    import org.apache.spark.sql.functions._
    import graft.operators.{SeriesHash, WritePath}
    assert(rows.forall(r => r.getAs[Long]("shard") >= 0 &&
      r.getAs[Long]("shard") < WritePath.QueueShards))
    val nSplit = graft.sources.Tables.events(spark, sf)
      .select(SeriesHash.keyExpr.as("series_key"))
      .withColumn("shard",
        expr(SeriesHash.shardExpr("series_key", WritePath.QueueShards)))
      .groupBy(col("series_key"))
      .agg(countDistinct(col("shard")).as("n"))
      .filter(col("n") > 1).count()
    assert(nSplit == 0L, "series-hash sharding must keep each series on one shard")
  }

  test("tsdb_postings_index: intersections tile the series universe") {
    val rows = run("tsdb_postings_index").collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_intersect") <= r.getAs[Long]("n_job"))
      assert(r.getAs[Long]("n_intersect") <= r.getAs[Long]("n_instance"))
      assert(r.getAs[Long]("selectivity_x1e4") >= 0
        && r.getAs[Long]("selectivity_x1e4") <= 10000)
    }
    // every (job, instance) pair partition sums back to each job's posting
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.map(_.getAs[Long]("n_intersect")).sum == g.head.getAs[Long]("n_job"))
    }
  }

  test("model_calibration: ECE is the exact event-weighted gap mean, bins decompose") {
    val rows = run("model_calibration").collect()
    val n = rows.map(_.getAs[Long]("n_events")).sum
    val wgap = rows.map(r => r.getAs[Long]("n_events") * r.getAs[Long]("gap_x1e6")).sum
    val ece = rows.map(_.getAs[Long]("ece_x1e6")).distinct
    assert(ece.length == 1 && ece.head == wgap / n,
      s"ece ${ece.toList} must equal the integer weighted-gap mean ${wgap / n}")
    rows.foreach { r =>
      assert(r.getAs[Long]("gap_x1e6") ==
        math.abs(r.getAs[Long]("acc_x1e6") - r.getAs[Long]("conf_x1e6")))
      assert(r.getAs[Long]("acc_x1e6") ==
        r.getAs[Long]("n_purchases") * 1000000L / r.getAs[Long]("n_events"))
      assert(r.getAs[Long]("bin") >= 0 && r.getAs[Long]("bin") <= 9)
    }
  }

  test("text_line_dedup: position key fails loudly past the KeyBase bound") {
    import graft.operators.CurationC4
    val under = spark.sql(
      s"SELECT ${CurationC4.posKeyExpr} AS k FROM (SELECT 7L AS doc_id, " +
        s"${CurationC4.KeyBase - 1}L AS seg_idx)").collect().head.getLong(0)
    assert(under == 7L * CurationC4.KeyBase + (CurationC4.KeyBase - 1))
    val e = intercept[Exception] {
      spark.sql(s"SELECT ${CurationC4.posKeyExpr} AS k FROM (SELECT 7L AS doc_id, " +
        s"${CurationC4.KeyBase}L AS seg_idx)").collect()
    }
    assert(e.getMessage.contains("seg_idx"), s"guard must name the bound: ${e.getMessage}")
  }

  // ------------------------------------------------- PromQL reads
  // Vector matching, range-query step resolution with the staleness
  // lookback, and Prometheus' boundary-extrapolated rate(), each checked
  // against a driver-side brute force over synthetic series built to hit
  // every branch of the algorithm.

  private case class Pt(tsSec: Long, id: Long, v: Double)

  // ------------------------------------------- extrapolated rate()

  /** Driver-side replay of Prometheus' extrapolatedRate with the
    * IDENTICAL op order as the shared staged expressions. */
  private def extrapolate(points: Seq[Pt], bucketStart: Long)
      : Option[(Long, Double, Double, Double)] = {
    val ps = points.sortBy(p => (p.tsSec, p.id))
    if (ps.size < 2 || ps.last.tsSec == ps.head.tsSec) None
    else {
      val incs = ps.zip(ps.tail).map { case (a, b) =>
        val delta = b.v - a.v
        if (delta < 0) b.v else delta
      }
      val sumInc = math.round(incs.sum * 100.0) / 100.0
      val n = ps.size
      val samp = (ps.last.tsSec - ps.head.tsSec).toDouble
      val avgDur = samp / (n - 1).toDouble
      // ≥v2.44 staging: threshold reduction FIRST, then the zero clamp
      val dts0 = (ps.head.tsSec - bucketStart).toDouble
      val dtsThr = if (dts0 >= avgDur * 1.1) avgDur / 2 else dts0
      val dts =
        if (sumInc > 0 && ps.head.v >= 0) math.min(samp * (ps.head.v / sumInc), dtsThr)
        else dtsThr
      val dte0 = (bucketStart + PromQl.RateWindowSec - ps.last.tsSec).toDouble
      val dte = if (dte0 >= avgDur * 1.1) avgDur / 2 else dte0
      val ext = samp + dts + dte
      val incE = math.floor(sumInc * (ext / samp) * 1e6) / 1e6
      val rate = math.floor(sumInc * (ext / samp) / PromQl.RateWindowSec * 1e6) / 1e6
      Some((n.toLong, sumInc, incE, rate))
    }
  }

  test("metrics_rate_extrapolated replays Prometheus' algorithm branch by branch") {
    // a: both edges within 1.1×avg → extrapolate to the boundaries
    // b: counter-zero clamp (firstV/inc tiny, first sample 10 ks into the window)
    // c: both edges beyond 1.1×avg → extend by avg/2 each; reset inside
    // d: single sample → no rate defined
    // e: the ≥v2.44 staging order case — zero crossing lands BETWEEN
    //    avg/2 and the 1.1×avg threshold, so the threshold reduction
    //    (→ avg/2) must win over the (larger) zero clamp
    // a2: second window for series a
    val rows = Seq(
      (1L, 100L, "a", 10.0), (2L, 5000L, "a", 11.0),
      (3L, 10000L, "a", 12.0), (4L, 21000L, "a", 13.0),
      (10L, 10000L, "b", 1.0), (11L, 15000L, "b", 500.0), (12L, 20000L, "b", 999.0),
      (20L, 10000L, "c", 5.0), (21L, 11000L, "c", 3.0),
      (30L, 500L, "d", 42.0),
      (40L, 10000L, "e", 400.0), (41L, 15000L, "e", 900.0), (42L, 20000L, "e", 1400.0),
      (5L, 21700L, "a", 14.0), (6L, 21800L, "a", 15.5))
    val dir = writeEvents(rows.map { case (id, ts, et, v) => (id, ts, id, et, v) })
    val got = PromQl.rateExtrapolated(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val expected = rows.groupBy { case (_, ts, et, _) => (et, ts / PromQl.RateWindowSec * PromQl.RateWindowSec) }
      .flatMap { case ((et, b), rs) =>
        extrapolate(rs.map { case (id, ts, _, v) => Pt(ts, id, v) }, b)
          .map(x => (et, b) -> x)
      }
    assert(got == expected, s"got $got\nexpected $expected")
    // branch sanity: the clamp actually fired for b (dzero < durationToStart)
    val b = got(("b", 0L))
    assert(b._2 == 998.0, "b's reset-free increase")
    // with the clamp, start extension is ~10.02 s instead of 10000 s
    assert(b._3 < 998.0 * (11600.0 + 10000.0) / 10000.0,
      "b extrapolated increase shows the zero-crossing clamp, not full start extension")
    // c: reset handling (delta −2 → inc = fallen-to value 3)
    assert(got(("c", 0L))._2 == 3.0)
    assert(!got.contains(("d", 0L)), "single-sample window emits no rate")
    // e: samp=10000, avg=5000 → threshold 5500, avg/2=2500; zero crossing
    // at 10000·400/1000 = 4000 ∈ (2500, 5500). Current Prometheus takes
    // min(4000, 2500) = 2500 (pre-2.44 would have taken 4000 → 1560.0)
    assert(got(("e", 0L))._3 == 1410.0,
      "threshold reduction must precede the zero-crossing clamp")
  }

  // ---------------------------------------------------- query_range

  test("prom_query_range picks the latest sample within the lookback, else stale") {
    val step = PromQl.StepSec.toLong
    val rows = Seq(
      (1L, step, "x", 1.0),                 // exactly on the boundary: distance 0
      (2L, step - 1799L, "y", 2.0),         // one inside the lookback: kept
      (3L, step - 1800L, "z", 3.0),         // exactly lookback old: STALE (3.x left-open)
      (4L, 2 * step - 700L, "x", 4.0),      // two in one window:
      (5L, 2 * step - 200L, "x", 5.0),      //   the later one wins
      (6L, 3 * step - 100L, "x", 6.0),      // same second, higher id wins
      (7L, 3 * step - 100L, "x", 7.0))
    val dir = writeEvents(rows.map { case (id, ts, et, v) => (id, ts, id, et, v) })
    val got = PromQl.queryRange(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val expected = rows
      .map { case (id, ts, et, v) => (et, (ts + step - 1) / step * step, ts, id, v) }
      .filter { case (_, k, ts, _, _) => k - ts < PromQl.LookbackSec }
      .groupBy { case (et, k, _, _, _) => (et, k) }
      .map { case (key, g) =>
        val (_, _, ts, _, v) = g.maxBy { case (_, _, ts, id, _) => (ts, id) }
        key -> (ts * 1000000L, v)
      }
    assert(got == expected, s"got $got\nexpected $expected")
    assert(!got.keySet.exists(_._1 == "z"),
      "a sample exactly lookback seconds before the step is stale (left-open window)")
    assert(got.keySet.exists(_._1 == "y"), "1799 s before the step is still live")
    assert(got(("x", 2 * step)) == ((2 * step - 200L) * 1000000L, 5.0))
    assert(got(("x", 3 * step))._2 == 7.0, "ties on the second break by event_id")
  }

  // ------------------------------------------------ vector matching

  test("prom_vector_matching: one-to-one avg and group_left share-of-total") {
    val rows = Seq(
      (1L, 3600L, "a", 10.0), (2L, 7200L, "a", 20.0),
      (3L, 3600L, "b", 30.0),
      (4L, 90000L, "a", 5.0), (5L, 93600L, "b", 15.0))
    val dir = writeEvents(rows.map { case (id, ts, et, v) => (id, ts, id, et, v) })
    val got = PromQl.vectorMatching(spark, dir).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    def q6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got(("a", "1970-01-01")) == ((30.0, 2L, q6(30.0 / 2), 60.0, q6(30.0 / 60.0))))
    assert(got(("b", "1970-01-01")) == ((30.0, 1L, 30.0, 60.0, q6(30.0 / 60.0))))
    assert(got(("a", "1970-01-02")) == ((5.0, 1L, 5.0, 20.0, q6(5.0 / 20.0))))
    assert(got(("b", "1970-01-02")) == ((15.0, 1L, 15.0, 20.0, q6(15.0 / 20.0))))
    // group_left conservation: shares of a day sum to 1 within quantization
    got.keys.map(_._2).toSeq.distinct.foreach { day =>
      val shares = got.collect { case ((_, d), t) if d == day => t._5 }
      assert(shares.sum <= 1.0 + 1e-9 && shares.sum > 1.0 - 5e-6 * shares.size, s"$day shares: $shares")
    }
  }

  test("prom_vector_matching re-aggregates the family, not the corpus: one events scan") {
    // the sum-by(day) operand is a window over the aggregated family
    // frame — adding it must not re-scan or re-aggregate the corpus
    val p = plan("prom_vector_matching")
    assert(countScans(p) == 1,
      "sum by(day)(fam) operand re-scanned the corpus instead of windowing the family")
  }

  test("promql entries on the real tables: staleness and window-count invariants") {
    // query_range: every emitted sample really is within the lookback of its step
    val qr = PromQl.queryRange(spark, sf).collect()
    assert(qr.nonEmpty)
    qr.foreach { r =>
      val dist = r.getLong(1) - r.getLong(2) / 1000000L
      assert(dist >= 0 && dist < PromQl.LookbackSec, s"stale sample emitted: $r")
    }
    // rate: extrapolated increase is bounded by the raw increase × window/sampled
    PromQl.rateExtrapolated(spark, sf).collect().foreach { r =>
      val raw = r.getDouble(3); val ext = r.getDouble(4)
      assert(ext >= 0 && ext <= raw * PromQl.RateWindowSec + 1e-6, s"unbounded extrapolation: $r")
      assert(r.getLong(2) >= 2)
    }
  }

  test("prom_count_values: counts partition the corpus and labels parse back") {
    val rows = PromQl.countValues(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val corpus = graft.sources.Tables.events(spark, sf).count()
    assert(total == corpus, s"count_values must partition the corpus: $total vs $corpus")
    rows.foreach { r =>
      val label = r.getString(1)
      assert(label.matches("-?\\d+"), s"value label is the rendered integer: $label")
      assert(r.getLong(2) > 0)
    }
    // per series, labels are distinct (it's a GROUP BY — sanity on the dump)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("prom_subquery_max_rate: outer max equals the trailing-12-step max of inner counts") {
    import org.apache.spark.sql.functions._
    val out = run("prom_subquery_max_rate")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("n_max")).toMap
    // independent recompute of the inner step counts
    val step = graft.operators.PromQl.SubStepSec
    val counts = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        expr(s"((unix_timestamp(date_trunc('second', ts)) + ${step - 1}) DIV $step) * $step")
          .as("t"))
      .groupBy(col("event_type"), col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sample = out.keys.toSeq.sortBy(k => (k._1, k._2)).grouped(97).map(_.head).toSeq
    sample.foreach { case (et, t) =>
      val window = (0 until graft.operators.PromQl.SubWinSteps)
        .flatMap(i => counts.get((et, t - i * step)))
      assert(window.nonEmpty && window.max == out((et, t)),
        s"($et, $t): reported ${out((et, t))} vs recomputed ${window.maxOption}")
    }
    // absence rule: a grid point with an all-empty 6h trail emits nothing
    out.keys.foreach { case (et, t) =>
      assert((0 until graft.operators.PromQl.SubWinSteps)
        .exists(i => counts.contains((et, t - i * step))))
    }
  }

  test("tsdb_dod_timestamps: class histogram tiles the post-header samples; bits reconcile") {
    val rows = run("tsdb_dod_timestamps").collect()
    rows.foreach { r =>
      val n = r.getAs[Long]("n_samples")
      val classes = Seq("n_dod0", "n_bits14", "n_bits17", "n_bits20", "n_bits64")
        .map(r.getAs[Long])
      assert(classes.sum == math.max(n - 2, 0L),
        s"classes must tile samples 3..n: $r")
      val bits = 64L * math.min(n, 2L) + classes(0) * 1L + classes(1) * 16L +
        classes(2) * 20L + classes(3) * 24L + classes(4) * 68L
      assert(bits == r.getAs[Long]("total_bits"), s"bit ledger mismatch: $r")
    }
  }

  // ------------------------------------------------ api/v1 envelopes

  test("api/v1 labels + error envelopes parse as JSON with the spec's key order") {
    import org.json4s._
    val labels = run("prom_api_labels_json")
      .head().getString(0)
    val lj = jackson.JsonMethods.parse(labels).asInstanceOf[JObject]
    assert(lj.obj.map(_._1) == List("status", "data"))
    val names = (lj \ "data").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
    assert(names == names.sorted, s"label names must be sorted: $names")
    assert(names.contains("__name__") && names.contains("job"))

    val rows = run("prom_api_error_json")
      .orderBy("http_status").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(200, 400))
    val err = jackson.JsonMethods.parse(rows(1).getString(2)).asInstanceOf[JObject]
    // the Go response struct's field order: status < errorType < error
    assert(err.obj.map(_._1) == List("status", "errorType", "error"))
    assert((err \ "status") == JString("error"))
    assert((err \ "errorType") == JString("bad_data"))
    val msg = (err \ "error").asInstanceOf[JString].s
    assert(msg.startsWith("invalid parameter \"query\": 1:"))
    // the pinned column really is the offending byte's 1-based position
    val col = "1:(\\d+):".r.findFirstMatchIn(msg).get.group(1).toInt
    assert(graft.operators.PromApi.BadSelector.charAt(col - 1) == '#')
  }

  test("api/v1 exemplars + targets bodies parse as JSON with the published shapes") {
    import org.json4s._
    val ex = jackson.JsonMethods.parse(
      run("prom_api_query_exemplars_json").head().getString(0))
    val series = (ex \ "data").asInstanceOf[JArray].arr
    assert(series.nonEmpty)
    series.map(_.asInstanceOf[JObject]).foreach { s0 =>
      assert(s0.obj.map(_._1) == List("seriesLabels", "exemplars"))
      val els = (s0 \ "exemplars").asInstanceOf[JArray].arr
      assert(els.nonEmpty && els.size <= graft.operators.TimeseriesExt.ExemplarK)
      els.map(_.asInstanceOf[JObject]).foreach(e =>
        assert(e.obj.map(_._1) == List("labels", "value", "timestamp")))
    }
    val tg = jackson.JsonMethods.parse(
      run("prom_api_targets_json").head().getString(0))
    val active = (tg \ "data" \ "activeTargets").asInstanceOf[JArray].arr
    assert(active.nonEmpty)
    active.map(_.asInstanceOf[JObject]).foreach { t =>
      assert(t.obj.map(_._1) ==
        List("labels", "scrapePool", "lastError", "lastScrape", "health"))
      val h = (t \ "health").asInstanceOf[JString].s
      assert(h == "up" || h == "down")
    }
    assert((tg \ "data" \ "droppedTargets") == JArray(Nil))
  }

  test("api/v1 metadata: derived names, reference-pinned events metric, Go key order") {
    import org.json4s._
    val body = run("prom_api_metadata_json")
      .head().getString(0)
    val j = jackson.JsonMethods.parse(body).asInstanceOf[JObject]
    assert(j.obj.map(_._1) == List("status", "data"))
    val data = (j \ "data").asInstanceOf[JObject]
    val names = data.obj.map(_._1)
    assert(names == names.sorted, s"map keys must be alphabetical: $names")
    // names derive from the remote-write stream: every metric the
    // converter emits must appear, plus the events counter
    val streamNames = graft.operators.Scrapers.remoteWrite(spark, sf)
      .select("metric_name").distinct().collect().map(_.getString(0)).toSet
    assert(streamNames.subsetOf(names.toSet), s"missing: ${streamNames -- names.toSet}")
    assert(names.contains("rds_service_events"))
    data.obj.foreach { case (name, arr) =>
      val m = arr.asInstanceOf[JArray].arr.head.asInstanceOf[JObject]
      assert(m.obj.map(_._1) == List("type", "help", "unit"),
        s"$name metadata field order")
      val mtype = (m \ "type").asInstanceOf[JString].s
      if (name == "rds_service_events") {
        assert(mtype == "counter")
        assert((m \ "help").asInstanceOf[JString].s.startsWith("This metric indicates"))
      } else {
        val conv = if (name.endsWith("_total") || name.endsWith("_count"))
          "counter" else "gauge"
        assert(mtype == conv, s"$name: $mtype != $conv")
      }
    }
  }

  test("api/v1 buildinfo: Go struct field order, computed revision + buildDate") {
    import org.json4s._
    val body = run("prom_api_buildinfo_json")
      .head().getString(0)
    val j = jackson.JsonMethods.parse(body).asInstanceOf[JObject]
    assert(j.obj.map(_._1) == List("status", "data"))
    val data = (j \ "data").asInstanceOf[JObject]
    assert(data.obj.map(_._1) ==
      List("version", "revision", "branch", "buildUser", "buildDate", "goVersion"))
    val rev = (data \ "revision").asInstanceOf[JString].s
    assert(rev.matches("[0-9a-f]{7}"), s"revision must be a 7-hex fingerprint: $rev")
    val bd = (data \ "buildDate").asInstanceOf[JString].s
    assert(bd.matches("\\d{8}-\\d{2}:\\d{2}:\\d{2}"), s"buildDate layout: $bd")
  }

  test("api/v1 label listings emit data:[] on an empty vector (no engine fork)") {
    // both label entries aggregate the instant vector; an empty corpus
    // slice must yield the valid empty array, not [""] (Spark concat
    // over an empty collect_list) or a NULL body (DuckDB string_agg)
    import org.apache.spark.sql.functions._
    // the exact agg shape both label entries use, over a 0-row frame
    val empty = spark.range(0).select(lit("j").as("job"))
      .select(col("job")).distinct()
      .agg(
        when(count(col("job")) > 0,
          concat(lit("{\"status\":\"success\",\"data\":[\""),
            array_join(sort_array(collect_list(col("job"))), "\",\""),
            lit("\"]}")))
          .otherwise(lit("{\"status\":\"success\",\"data\":[]}")).as("body"))
      .head().getString(0)
    assert(empty == "{\"status\":\"success\",\"data\":[]}")
    // and the real entries still produce non-empty sorted arrays
    val body = run("prom_api_labels_json").head().getString(0)
    assert(body.contains("\"data\":[\""))
  }
}
