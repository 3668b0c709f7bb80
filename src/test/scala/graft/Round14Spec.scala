package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Round-14 closures of the r13 verdict/advice findings:
  *   - the pair-budget keep rule (volume-adaptive deterministic pair
  *     sampling) must be EXHAUSTIVE at gate scale (keep_ppm = 1e6,
  *     scored occurrences == measured volume) and self-consistent
  *     across its consumers (one rate, published everywhere);
  *   - the api/v1 additions must emit bodies a JSON client parses,
  *     with the spec's key order;
  *   - pack_mask_density must describe the SAME packs as
  *     pack_token_budget;
  *   - sketch_bloom_fpp's build/probe split must partition the user
  *     set, with all rates on their declared grids;
  *   - HllStream's default mode must keep O(registers) state (the
  *     exact-truth set is audit-only, ADVICE r13).
  */
class Round14Spec extends SparkTestBase {

  test("pair budget: exhaustive at gate scale and self-consistent across consumers") {
    // r15 schema: (volume, doc_keep_ppm, sample_ppm, pairs, occ, exhaustive)
    val audit = SparkEntry.queries("dedup_pair_budget_audit")(spark, sf).head()
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
      val ppms = SparkEntry.queries(name)(spark, sf)
        .select("sample_ppm").distinct().collect().map(_.getLong(0)).toSet
      assert(ppms == Set(1000000L), s"$name sample_ppm: $ppms")
    }
  }

  test("lsh tuning ledger: counts are a coherent confusion summary") {
    val rows = SparkEntry.queries("dedup_lsh_tuning")(spark, sf).collect()
    assert(rows.length == graft.operators.Dedup.TuneRows.length)
    rows.foreach { r =>
      val (cand, caught, truth) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(caught <= math.min(cand, truth),
        s"caught $caught exceeds cand $cand or truth $truth")
      val recall = r.getDouble(6); val precision = r.getDouble(7)
      assert(recall >= 0.0 && recall <= 1.0 && precision >= 0.0 && precision <= 1.0)
    }
  }

  test("api/v1 labels + error envelopes parse as JSON with the spec's key order") {
    import org.json4s._
    val labels = SparkEntry.queries("prom_api_labels_json")(spark, sf)
      .head().getString(0)
    val lj = jackson.JsonMethods.parse(labels).asInstanceOf[JObject]
    assert(lj.obj.map(_._1) == List("status", "data"))
    val names = (lj \ "data").asInstanceOf[JArray].arr.map(_.asInstanceOf[JString].s)
    assert(names == names.sorted, s"label names must be sorted: $names")
    assert(names.contains("__name__") && names.contains("job"))

    val rows = SparkEntry.queries("prom_api_error_json")(spark, sf)
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

  test("pack_mask_density describes the same packs as pack_token_budget") {
    val packs = SparkEntry.queries("pack_token_budget")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val dens = SparkEntry.queries("pack_mask_density")(spark, sf).collect()
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

  test("sketch_bloom_fpp: split partitions the users; rates on their grids") {
    val r = SparkEntry.queries("sketch_bloom_fpp")(spark, sf).head()
    val distinctUsers = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(r.getLong(0) + r.getLong(1) == distinctUsers)
    assert(r.getLong(2) <= graft.operators.Sketch.BloomM)
    assert(r.getLong(4) <= r.getLong(1), "false positives bounded by probes")
    assert(r.getLong(5) >= 0 && r.getLong(5) <= 1000000L)
    assert(r.getLong(6) >= 0 && r.getLong(6) <= 1000000L)
  }

  test("funnel_conversion_ci: Wilson interval brackets p-hat and stays in [0,1]") {
    val rows = SparkEntry.queries("funnel_conversion_ci")(spark, sf).collect()
    assert(rows.length == 3)
    rows.filter(!_.isNullAt(3)).foreach { r =>
      val (p, lo, hi) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(lo >= 0.0 && hi <= 1.0, s"interval escaped [0,1]: [$lo, $hi]")
      assert(lo <= p && p <= hi, s"p=$p outside [$lo, $hi]")
      assert(r.getLong(2) <= r.getLong(1), "k bounded by n (monotone stages)")
    }
  }

  test("api/v1 exemplars + targets bodies parse as JSON with the published shapes") {
    import org.json4s._
    val ex = jackson.JsonMethods.parse(
      SparkEntry.queries("prom_api_query_exemplars_json")(spark, sf).head().getString(0))
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
      SparkEntry.queries("prom_api_targets_json")(spark, sf).head().getString(0))
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

  test("hllStream default mode carries no exact truth set (O(registers) state)") {
    import graft.streaming.HllStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[HllStream.HllInput]
    val q = HllStream.hllStream(input.toDS()) // default: auditExact = false
      .writeStream.format("memory").queryName("hll_r14_sink")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(Seq(HllStream.HllInput("s1", 1L), HllStream.HllInput("s1", 2L)))
      q.processAllAvailable()
      val row = spark.table("hll_r14_sink").collect().head
      assert(row.getLong(4) == -1L && row.getLong(5) == -1L,
        "default mode must not report exact-distinct truth")
      assert(row.getLong(3) > 0L, "the sketch estimate itself still works")
    } finally q.stop()
  }
}
