package graft

import org.apache.spark.sql.functions._

/** Structural invariants for the round-8 additions — properties the
  * hash oracle can't express (recall bounds, incremental ≡ full
  * restriction, monotone growth curves). */
class Round8Spec extends SparkTestBase {

  test("ann_recall_eval: recall is a proper fraction of the exact top-k") {
    import spark.implicits._
    val rows = run("ann_recall_eval")
      .select("query_id", "n_truth", "n_hit", "recall")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length == graft.operators.Similarity.NumQueries)
    rows.foreach { case (q, nt, nh, r) =>
      assert(nt == graft.operators.Similarity.TopK, s"q$q truth size")
      assert(nh >= 0 && nh <= nt, s"q$q hits out of range")
      assert(r >= 0.0 && r <= 1.0)
      assert(math.abs(r - math.floor(nh.toDouble / nt * 1e4) / 1e4) < 1e-12)
    }
    // the multi-table LSH index should not be useless on this corpus
    assert(rows.map(_._3).sum > 0, "zero total recall — index broken")
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

  test("graph_assortativity: one exact-moment row with a proper correlation") {
    import spark.implicits._
    val rows = run("graph_assortativity")
      .select("m", "sum_deg", "sum_xy", "sum_xx", "assortativity")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.length == 1)
    val (m, sx, sxy, sxx, r) = rows.head
    assert(r >= -1.0 && r <= 1.0)
    // Cauchy–Schwarz on the exact moments: |M·Sxy − Sx²| ≤ M·Sxx − Sx²
    assert(math.abs(m.toDouble * sxy - sx.toDouble * sx) <=
      m.toDouble * sxx - sx.toDouble * sx + 1e-6)
    // the directed symmetric edge list has even cardinality
    assert(m % 2 == 0 && m > 0)
    // Σ_edges deg(src) == Σ_v deg(v)² — cross-check via the histogram entry
    val fromHist = run("graph_degree_histogram")
      .select((col("degree") * col("degree") * col("n_nodes")).as("c"))
      .agg(sum("c")).head.getLong(0)
    assert(sx == fromHist)
  }

  test("mm_exposure_histogram: bins partition decoded frames within each modality") {
    import spark.implicits._
    val rows = run("mm_exposure_histogram")
      .select("modality", "bin", "n_frames", "modality_total", "share")
      .as[(String, Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, b, n, t, sh) =>
      assert(b >= 0 && b <= 15)
      assert(n > 0 && n <= t)
      assert(sh >= 0.0 && sh <= 1.0)
    }
    // per-modality counts really sum to the window total
    rows.groupBy(_._1).foreach { case (m, rs) =>
      assert(rs.map(_._3).sum == rs.head._4, s"modality $m total mismatch")
    }
    // all decoded frames are binned exactly once
    val frames = graft.operators.Multimodal.decodeStub(spark, sf).count()
    assert(rows.map(_._3).sum == frames)
  }

  test("metrics_slo_attainment: all-integer budget ledger is internally consistent") {
    import spark.implicits._
    val rows = run("metrics_slo_attainment").orderBy("day")
      .select("day", "total", "errors", "attainment_ppm", "cum_total", "cum_errors",
        "cum_attainment_ppm", "budget_left_ppm", "breached")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // cumulative columns are the running sums; ledger identities hold
    var (ct, ce) = (0L, 0L)
    rows.foreach { case (_, t, e, app, cumT, cumE, cApp, left, breached) =>
      ct += t; ce += e
      assert(cumT == ct && cumE == ce)
      assert(app == (t - e) * 1000000L / t)
      assert(cApp == (ct - ce) * 1000000L / ct)
      assert(left == cApp - graft.operators.TimeseriesExt.SloObjectivePpm)
      assert(breached == (left < 0))
    }
    val events = graft.sources.Tables.events(spark, sf).count()
    assert(rows.last._5 == events)
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

  test("graph_modularity: communities partition nodes, intra edges bounded, Q in range") {
    import spark.implicits._
    val rows = run("graph_modularity")
      .select("community", "n_nodes", "degree_sum", "intra_edges", "q_contrib")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // community sizes must sum to the LPA node count
    val lpaNodes = run("graph_communities_lpa").count()
    assert(rows.map(_._2).sum == lpaNodes)
    rows.foreach { case (c, nn, ds, ie, q) =>
      assert(ie <= ds, s"community $c: intra $ie cannot exceed degree sum $ds")
      assert(nn >= 1 && q <= 1.0 && q >= -1.0)
    }
    // total modularity of a real partition on this graph is positive
    assert(rows.map(_._5).sum > 0.0, "LPA should beat the null model")
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

  test("mm_blur_detect: Laplacian energy matches a driver-side byte replay") {
    import spark.implicits._
    val got = run("mm_blur_detect")
      .select("doc_id", "frame_idx", "flen", "lap_energy", "sharpness")
      .as[(Long, Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(got.nonEmpty)
    docs.take(50).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val n = (bytes.length + 255) / 256
      (0 until n).foreach { f =>
        val w = bytes.slice(f * 256, math.min(f * 256 + 256, bytes.length))
        val e = (1 until w.length - 1).map(i =>
          math.abs(2 * (w(i) & 0xff) - (w(i - 1) & 0xff) - (w(i + 1) & 0xff)).toLong).sum
        val row = got((id, f))
        assert(row._3 == w.length && row._4 == e, s"doc $id frame $f")
        if (w.length > 2)
          assert(row._5 == math.floor(e.toDouble / (w.length - 2) * 1e4) / 1e4)
      }
    }
    // frame inventory: every doc contributes ceil(len/256) frames
    assert(got.size == docs.map(d => (d._2.getBytes("UTF-8").length + 255) / 256).sum)
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

  test("scd2_bitemporal: probes respect both axes; the now-probe equals last-writer-wins") {
    import spark.implicits._
    val rows = run("scd2_bitemporal")
      .select("probe", "user_id", "valid_day", "txn", "balance")
      .as[(String, Long, Long, Long, Double)].collect()
    val byProbe = rows.groupBy(_._1)
    assert(byProbe.keySet == Set("known_0115_valid_0110", "known_now_valid_0110",
      "known_now_valid_0131"))
    // the full-knowledge, full-validity probe is plain LWW over events
    val lww = graft.sources.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(max(struct(
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("d"),
        col("event_id").as("t"), round(col("value"), 2).as("b"))).as("w"))
      .select(col("user_id"), col("w.t"), col("w.b"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    byProbe("known_now_valid_0131").foreach { case (_, u, _, t, b) =>
      assert(lww(u) == ((t, b)), s"user $u now-probe must be LWW")
    }
    // the knowledge cutoff really caps the txn axis
    val cut = graft.sources.Tables.events(spark, sf)
      .filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      .agg(max(col("event_id"))).head.getLong(0)
    byProbe("known_0115_valid_0110").foreach { case (_, u, vd, t, _) =>
      assert(t <= cut, s"user $u leaked future txn $t > $cut")
      assert(vd <= 19732L, s"user $u valid_day $vd past the 01-10 cut") // 2024-01-10
    }
    // more knowledge can only move a user's version forward
    val early = byProbe("known_0115_valid_0110").map(r => r._2 -> r._4).toMap
    byProbe("known_now_valid_0110").foreach { case (_, u, _, t, _) =>
      early.get(u).foreach(te => assert(t >= te))
    }
  }

  test("events_burstiness: statistic in range and exact against a driver-side fold") {
    import spark.implicits._
    val rows = run("events_burstiness")
      .select("event_type", "n_gaps", "sum_gap", "mean_gap", "burstiness")
      .as[(String, Long, Long, Double, Double)].collect()
    assert(rows.length == 5)
    rows.foreach { case (_, n, sx, _, b) =>
      assert(n > 0 && sx >= 0)
      assert(b >= -1.0 && b < 1.0)
    }
    // exact replay for one series
    val t0 = rows.head._1
    val secs = graft.sources.Tables.events(spark, sf)
      .filter(col("event_type") === t0)
      .select(expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("s"),
        col("event_id"))
      .as[(Long, Long)].collect().sortBy(identity).map(_._1)
    val gaps = secs.sliding(2).map(p => p(1) - p(0)).toArray
    val n = gaps.length.toLong
    val sx = gaps.sum
    val rad = (BigInt(n) * gaps.map(g => BigInt(g) * BigInt(g)).sum
      - BigInt(sx) * BigInt(sx)).toDouble
    val want = math.floor((math.sqrt(rad) - sx.toDouble)
      / (math.sqrt(rad) + sx.toDouble) * 1e4) / 1e4
    assert(rows.head._2 == n && rows.head._3 == sx)
    assert(rows.head._5 == want, s"${rows.head._5} vs $want")
  }

  test("graph_linkpred_jaccard: candidates are non-edges at distance 2, scores exact") {
    import spark.implicits._
    val rows = run("graph_linkpred_jaccard")
      .select("node_a", "node_b", "inter", "da", "db", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(rows.length == graft.operators.Graph.LinkPredK)
    rows.foreach { case (a, b, inter, da, db, j) =>
      assert(a < b, "canonical pair order")
      assert(inter >= 1 && inter <= math.min(da, db), "intersection bounds")
      assert(j == math.floor(inter.toDouble / (da + db - inter) * 1e4) / 1e4)
      assert(j > 0.0 && j <= 1.0)
    }
    // scores non-increasing down the ranking
    assert(rows.sliding(2).forall { case Array(x, y) => x._6 >= y._6; case _ => true })
  }

  test("prom_recording_rules: levels are consistent and the rule tree shares one scan") {
    import spark.implicits._
    val rows = run("prom_recording_rules")
      .select("rule", "event_type", "hour_sec", "value")
      .as[(String, Option[String], Long, Long)].collect()
    val l1 = rows.filter(_._1 == "type_hourly_count")
    val l2 = rows.filter(_._1 == "total_hourly")
    val l3 = rows.filter(_._1 == "total_max6h")
    assert(l1.nonEmpty && l2.nonEmpty && l3.size == l2.size)
    // level 2 = level 1 re-aggregated
    val l1ByHour = l1.groupBy(_._3).view.mapValues(_.map(_._4).sum).toMap
    l2.foreach { case (_, _, h, v) => assert(l1ByHour(h) == v, s"hour $h") }
    // level 3 = trailing-6 max of level 2
    val l2Sorted = l2.sortBy(_._3)
    val l2Vals = l2Sorted.map(_._4)
    l2Sorted.zipWithIndex.foreach { case ((_, _, h, _), i) =>
      val want = l2Vals.slice(math.max(0, i - 5), i + 1).max
      val got = l3.find(_._3 == h).get._4
      assert(got == want, s"hour $h max6h")
    }
    // the whole cascade reuses level 1's exchange instead of rescanning:
    // count scans in the FINAL (post-AQE) section only — the formatted
    // string repeats the pre-reuse initial plan below it
    val p = executedPlan("prom_recording_rules")
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.contains("ReusedExchange"), "rule tree must share the level-1 shuffle")
    assert("Scan parquet".r.findAllIn(finalSection).size <= 1,
      "one events scan for the whole tree")
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

  test("graph_walk_sample: every walk is connected, complete, and hash-deterministic") {
    import spark.implicits._
    val rows = run("graph_walk_sample").orderBy("start", "step", "node")
      .select("start", "step", "node").as[(Long, Int, Long)].collect()
    val byWalk = rows.groupBy(_._1)
    // adjacency for validation, rebuilt from the same similarity graph
    val adj = graft.operators.Affinity.nodeSimilarity(spark, sf)
      .select(col("page_a").cast("long"), col("page_b").cast("long"))
      .as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    byWalk.foreach { case (start, steps) =>
      val path = steps.sortBy(_._2)
      assert(path.map(_._2).toSeq == (0 to graft.operators.Graph.WalkLen),
        s"walk $start must have every step")
      assert(path.head._3 == start)
      path.sliding(2).foreach {
        case Array(a, b) =>
          assert(adj(a._3).contains(b._3), s"walk $start jumps a non-edge")
        case _ => ()
      }
    }
    // deterministic: a rerun yields the identical corpus
    val again = run("graph_walk_sample").orderBy("start", "step", "node")
      .select("start", "step", "node").as[(Long, Int, Long)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("metrics_downsample_m4: envelope bounds hold and the plan is one aggregation") {
    import spark.implicits._
    val rows = run("metrics_downsample_m4")
      .select("event_type", "bucket_start", "samples", "first_value", "last_value",
        "min_value", "max_value")
      .as[(String, Long, Long, Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (t, b, n, f, l, mn, mx) =>
      assert(n >= 1)
      assert(mn <= mx && f >= mn && f <= mx && l >= mn && l <= mx,
        s"$t@$b envelope violated")
    }
    // M4 must stay a single map-side-combinable aggregation: no window,
    // no join — this is its advantage over the LTTB fold
    val p = plan("metrics_downsample_m4")
    assert(!p.contains("Window") && !p.contains("Join"), "M4 must be one groupBy")
  }

  test("late round-8 ledgers: internal invariants hold") {
    import spark.implicits._
    // source overlap: symmetric-free canonical pairs, Jaccard in (0, 1]
    val so = run("dedup_source_overlap")
      .select("source_a", "source_b", "inter", "na", "nb", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(so.length == 20 * 19 / 2, "all source pairs overlap on this corpus")
    so.foreach { case (a, b, inter, na, nb, j) =>
      assert(a < b && inter >= 1 && inter <= math.min(na, nb))
      assert(j > 0.0 && j <= 1.0)
    }
    // co-occurrence: margins bound pair counts
    val cp = run("events_cooccur_pmi")
      .select("type_a", "type_b", "n_ab", "n_a", "n_b", "n_groups")
      .as[(String, String, Long, Long, Long, Long)].collect()
    assert(cp.length == 5 * 4 / 2)
    cp.foreach { case (_, _, ab, a, b, n) =>
      assert(ab <= math.min(a, b) && math.max(a, b) <= n)
    }
    // skew audit: ratio >= 1 (max cannot be below average), keys <= rows
    val sk = run("q_data_skew_audit")
      .select("n_rows", "n_keys", "max_rows", "skew_ratio")
      .as[(Long, Long, Long, Double)].collect()
    assert(sk.length == 5)
    sk.foreach { case (r, k, m, ratio) =>
      assert(k <= r && m >= r / k && ratio >= 1.0 - 1e-4)
    }
    // lorenz: shares are monotone per nation and the curve is convex-ish
    val lz = run("q_lorenz_curve")
      .select("n_name", "decile", "cust_share", "rev_share")
      .as[(String, Int, Double, Double)].collect()
    lz.groupBy(_._1).foreach { case (n, pts) =>
      val s = pts.sortBy(_._2)
      s.sliding(2).foreach {
        case Array(p, q) =>
          assert(q._3 >= p._3 && q._4 >= p._4, s"$n shares must be monotone")
        case _ => ()
      }
      // Lorenz curve sits below the diagonal (concentration)
      s.foreach { case (_, _, cs, rs) => assert(rs <= cs + 1e-4, s"$n curve above diagonal") }
    }
    // spc: band ordering and flag consistency
    val spc = run("metrics_spc_control")
      .select("day_mean", "center", "ucl", "lcl", "out_of_control")
      .as[(Double, Double, Double, Double, Boolean)].collect()
    spc.foreach { case (dm, c, u, l, f) =>
      assert(l <= c && c <= u)
      // floored columns: only check the unambiguous cases
      if (dm > u + 1e-4 || dm < l - 1e-4) assert(f)
      if (dm < u - 1e-4 && dm > l + 1e-4) assert(!f)
    }
    // counter repair: repaired series is monotone per series
    val cr = run("metrics_counter_repair")
      .select("event_type", "sec", "event_id", "repaired_c")
      .as[(String, Long, Long, Long)].collect()
    cr.groupBy(_._1).foreach { case (t, rows) =>
      val s = rows.sortBy(r => (r._2, r._3))
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._4 >= a._4, s"$t repaired series must be monotone")
        case _ => ()
      }
    }
  }

  test("ann_ivf_tuning: nested probe lists make volume and coverage monotone") {
    import spark.implicits._
    val rows = run("ann_ivf_tuning").orderBy("nprobe")
      .select("nprobe", "n_candidates", "n_caught", "n_truth", "coverage", "scan_share")
      .as[(Int, Long, Long, Long, Double, Double)].collect()
    assert(rows.map(_._1).toSeq == graft.operators.Similarity.IvfTuneProbes)
    rows.foreach { case (_, nc, caught, truth, cov, share) =>
      assert(caught <= truth && caught <= nc)
      assert(cov == math.floor(caught.toDouble / truth * 1e4) / 1e4)
      assert(share > 0.0 && share <= 1.0)
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2, "candidates grow with nprobe")
        assert(b._3 >= a._3, "caught set is nested")
        assert(b._6 >= a._6 - 1e-12, "scan share grows with nprobe")
      case _ => ()
    }
    // the sweep is informative: more probes really buy coverage here
    assert(rows.last._5 > rows.head._5)
  }

  test("dedup_semantic: cell pair join is a hash/merge equi-join, never a product") {
    // the entry is skipped by the plan sweep (quantizer training runs
    // jobs at construction), so its scale contract is pinned here: the
    // only nested-loop shape allowed is the K-row centroid broadcast;
    // the within-cell pair generation must ride the cell equi-join
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"cell pair join must be an equi-join:\n${p.take(1500)}")
  }
}
