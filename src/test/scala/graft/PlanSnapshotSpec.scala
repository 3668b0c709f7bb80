package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.ExplainMode

/** The plan lints: the promises SURVEY.md §5 makes about scale
  * behavior, checked against every entry's plans in one sweep.
  *
  * Plan-shape snapshot: EVERY entry appears in the checked-in ledger —
  * either with a signature (exchange / broadcast / join / aggregate /
  * scan counts at sf0.001) or as an explicit EXEMPT line carrying the
  * reason it cannot be lazily planned. A change that silently adds a
  * shuffle, drops a broadcast, or doubles a scan fails HERE with a
  * diff, before it costs anything on a cluster; an entry missing from
  * the ledger (new, renamed, or silently dropped) also fails.
  * Regenerate intentionally with
  * `GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanSnapshotSpec"`.
  *
  * Sweep: no entry may plan a CartesianProduct, broadcast-nested-loop
  * joins are allowed only where the operator genuinely joins on a
  * non-equi condition, no plan carries a ScalaUDF, and a partitionless
  * window over a scan-reaching frame needs a written bound. */
class PlanSnapshotSpec extends SparkTestBase {

  // entries whose CONSTRUCTION runs Spark jobs (model training, layout
  // writes, iterative loops, driver-side bounds) are exercised by their
  // own suites; each carries the suite that pins its plan/behavior
  private val skip = Map(
    "ann_ivf_topk" -> "construction trains the IVF codebook (runs jobs); SimilaritySpec",
    "ann_ivf_tuning" -> "construction trains the IVF codebook (runs jobs); SimilaritySpec",
    "ann_ivf_pq_topk" -> "construction trains IVF+PQ codebooks (runs jobs); SimilaritySpec",
    "ann_pq_topk" -> "construction trains the PQ codebook (runs jobs); SimilaritySpec",
    "ann_pq_packed" -> "construction trains the PQ codebook (runs jobs); SimilaritySpec",
    "dedup_semantic" -> "construction checkpoints the scaled-K assignment (runs jobs); SimilaritySpec",
    "emb_pca_power" -> "construction collects the bounded d-squared covariance model (runs jobs); SimilaritySpec",
    "dedup_cluster" -> "iterative label propagation checkpoints each round; DedupSpec",
    "dedup_fuzzy_lsh" -> "construction checkpoints the LSH candidate pairs; DedupSpec",
    "q_exact_global_median" -> "construction runs the bucket-bounds pass; StatsSpec",
    "sketch_theta_distinct" -> "construction builds sketch aggregates (runs jobs); SketchSpec",
    "sketch_sample_quantile" -> "construction builds sketch aggregates (runs jobs); SketchSpec",
    "sketch_set_ops" -> "construction builds sketch aggregates (runs jobs); SketchSpec",
    "sink_bucketed_join" -> "construction writes bucketed tables; WritersSpec",
    "sink_bucketed_multi" -> "construction writes bucketed tables; WritersSpec",
    "sink_partitioned_scan" -> "construction writes the partitioned layout; WritersSpec",
    "sink_compaction_scan" -> "construction writes + compacts the layout; WritersSpec",
    "sink_csv_roundtrip" -> "construction writes the CSV sink; WritersSpec",
    "sink_json_roundtrip" -> "construction writes the JSON sink; WritersSpec",
    "sink_zorder_scan" -> "construction writes the z-ordered layout; WritersSpec",
    "sink_bucket_lookup" -> "construction builds the bucketed table + keys; WritersSpec",
    "sink_partition_overwrite" -> "construction writes + restates partitions; WritersSpec",
    "sink_merge_on_read" -> "construction writes base + tombstones; WritersSpec",
    "sink_write_audit_publish" -> "construction stages, audits and publishes; WritersSpec",
    "source_schema_evolution" -> "construction writes two schema vintages; WritersSpec",
    "idx_secondary_lookup" -> "construction builds the fact + index layouts; WritersSpec",
    "graph_pagerank" -> "iterative rank loop checkpoints each round; GraphSpec",
    "graph_kcore" -> "iterative peel loop checkpoints each round; GraphSpec",
    "graph_hits" -> "iterative hub/auth loop checkpoints each round; GraphSpec")

  private val snapFile = new java.io.File("src/test/resources/plan_signatures.txt")

  /** What the lints read of one entry's plans (the QueryExecution is
    * not kept): its signature with the number of lineage cuts its
    * construction registered (cuts hide their input plan behind a
    * LogicalRDD, so the scan counter alone can't see an extra
    * derivation upstream of a cut; the cut count pins that dimension),
    * the product-join / UDF checks, and its count of partitionless
    * windows over scan-reaching frames. */
  private final case class Planned(sig: String, cartesian: Boolean, bnlj: Boolean,
      udf: Boolean, globalWindows: Int)

  /** Does some root→leaf path under `x` reach a scan without a bounded
    * barrier (limit, generated/local data, a one-row aggregate)? */
  private def corpusLeafBeneath(x: LogicalPlan): Boolean = x match {
    case _: GlobalLimit | _: LocalLimit => false
    case _: Range | _: LocalRelation | _: OneRowRelation => false
    case a: Aggregate if a.groupingExpressions.isEmpty => false // 1 row
    case _: LeafNode => true
    case other => other.children.exists(corpusLeafBeneath)
  }

  private def lint(df: DataFrame): Planned = {
    val qe = df.queryExecution
    val p = qe.explainString(ExplainMode.fromString("formatted"))
    Planned(
      sig = sig(p) + s" cut=${Checkpoints.liveCutCount}",
      cartesian = p.contains("CartesianProduct"),
      bnlj = p.contains("BroadcastNestedLoopJoin"),
      // the whole surface is UDF-free: the dedup kernels are codegen
      // Catalyst expressions (graft_shingle3/graft_pairs/graft_simhash),
      // so any ScalaUDF appearing in a plan is an optimizer black box
      udf = p.contains("ScalaUDF") || p.toLowerCase.contains("udf("),
      globalWindows = qe.optimizedPlan.collect {
        case w: Window if w.partitionSpec.isEmpty && corpusLeafBeneath(w.child) => w
      }.size)
  }

  /** Every entry outside `skip`, constructed once through the entry
    * runner, which releases its cuts after the lint has counted them. */
  private lazy val planned: Map[String, Planned] =
    SparkEntry.pick(Nil).filterNot(e => skip.contains(e._1))
      .map(e => e._1 -> SparkEntry.run(spark, sf, e)(lint).get).toMap

  /** Count physical nodes via the formatted plan's detail section,
    * where each node appears exactly once as "(n) NodeName". */
  private def sig(p: String): String = {
    def n(node: String) = (s"""\\(\\d+\\) $node""").r.findAllIn(p).size
    Seq(
      "ex" -> n("Exchange"), // details line is "(n) Exchange"; BroadcastExchange never matches this
      "bex" -> n("BroadcastExchange"),
      "smj" -> n("SortMergeJoin"),
      "bhj" -> n("BroadcastHashJoin"),
      "shj" -> n("ShuffledHashJoin"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      "hagg" -> n("HashAggregate"),
      "oagg" -> n("ObjectHashAggregate"),
      "sagg" -> n("SortAggregate"),
      "win" -> n("Window"),
      "scan" -> n("Scan parquet")
    ).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  private def current(): Seq[(String, String)] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> skip.get(name).fold(planned(name).sig)(reason => s"EXEMPT: $reason")
    }

  test("physical plan signatures match the checked-in snapshot") {
    val now = current()
    if (sys.env.get("GRAFT_REGEN_PLANS").contains("1")) {
      val out = now.map { case (n, s) => s"$n\t$s" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(snapFile.toPath, out.getBytes("UTF-8"))
      info(s"regenerated ${now.size} signatures into $snapFile")
    } else {
      assert(snapFile.exists(),
        s"missing $snapFile — run GRAFT_REGEN_PLANS=1 sbt 'testOnly graft.PlanSnapshotSpec'")
      val want = scala.io.Source.fromFile(snapFile, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, s) = l.split("\t", 2); n -> s
        }.toMap
      val diffs = now.flatMap { case (name, s) =>
        want.get(name) match {
          case None => Some(s"$name: NEW ENTRY (regenerate snapshot)\n  now:  $s")
          case Some(w) if w != s => Some(s"$name: plan shape changed\n  want: $w\n  now:  $s")
          case _ => None
        }
      } ++ (want.keySet -- now.map(_._1).toSet - "" )
        .toSeq.sorted.map(n => s"$n: entry removed (regenerate snapshot)")
      assert(diffs.isEmpty, diffs.mkString("\n"))
    }
  }

  // ------------------------------------------------ product joins and UDFs

  // entries allowed a BroadcastNestedLoopJoin, each with its reason: a
  // regression that silently turns an equi-join into a product join
  // fails the sweep before it burns a cluster
  private val bnljAllowed = Set(
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_range_search", // query != candidate non-equi pairing
    "emb_matryoshka_truncate", // same bounded-query != candidate pairing (8-row broadcast)
    "prom_wire_frame_v2", // 1-row series-frames × 1-row symbol-tail assembly
    "q_skew_salted_join",                  // salt-range replication broadcast
    "q15_top_supplier", "q22_idle_customers", "q17_small_qty_revenue",
    "metrics_slave_status", "metrics_gap_fill", // single-row global-bound broadcast
    "metrics_absent", "model_registry_score",   // same single-row bounds broadcast
    "sketch_heavy_hitters", // single-row candidate-set broadcast
    "dedup_embedding_cosine", "dedup_simhash", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    // r14 pair-budget family: 1-row volume-adaptive keep_ppm cutoff broadcast
    "dedup_containment", "dedup_minhash_calibration", "dedup_lsh_recall",
    "dedup_pair_budget_audit", // the audit row IS three 1-row broadcasts
    "sketch_bloom_fpp", // 1-row bits-count + fp-count broadcasts
    // single-row broadcast crossJoins: percentile bounds / totals /
    // split midpoints / n_min rate tables — 1 row × fact, never fact²
    "q_rfm_segments", "q_equidepth_histogram", "q_basket_pairs", "q_time_to_convert",
    "dq_drift_psi", "events_pareto_share", "events_stickiness", "sample_class_balanced",
    "text_bigram_lm", "metrics_dow_baseline", "metrics_alert_feed",
    "q_interval_overlap_join", "q_purchase_intervals",
    // round-5 single-row broadcasts: global horizon / corpus totals
    "metrics_staleness", "text_length_survival", "text_zipf_profile",
    "split_kfold", "ann_ivf_stats", "text_keywords",
    "ann_hybrid_rrf", "cohort_survival_km", "mix_budget_apportion",
    // round-7: bounded |chunks|×|windows| state-liveness range join;
    // 9-row aspect-ladder + single-row total broadcasts
    "stream_state_metrics", "mm_aspect_bucket", "cohort_rfm_migration",
    "split_leakage_audit", // inherits dedup_minhash_lsh's allowed shape
    "q11_important_stock", // Q11 HAVING: single-row nation-total broadcast
    "ann_recall_eval", // composes the two allowed ANN arms (truth + LSH)
    // round-8 single-row broadcasts: decile bounds / bigram totals /
    // max doc id / KS arm totals
    "q_decile_lift", "text_ngram_coverage", "text_vocab_growth", "q_ks_test",
    "graph_modularity", // single-row |E2| total broadcast
    "scd2_bitemporal", // 3-row probe grid + 1-row txn-cutoff broadcast
    "dedup_lsh_tuning", // per-config 1-row count aggregates broadcast
    "dq_freshness_sla", // 1-row reference-clock broadcast
    "events_cooccur_pmi", // 1-row context-total broadcast
    "q_lorenz_curve",     // 10-row decile-grid broadcast against per-nation ranks
    // round-8 session 3: 1-row bounds/total broadcasts and non-equi
    // bounded pairings (query≠candidate, type_a<type_b)
    "ann_sq8_topk",       // 1-row min/max model + 8-query code broadcast
    "q_welch_ttest",      // |types|² pair join on a groups-sized aggregate
    "sample_neyman",      // 1-row budget-total broadcast
    "prom_scrape_health", // 1-row global-hour-bounds broadcast (gap_fill shape)
    // round-12 session 2: 1-row bounds broadcasts — feed start (silences),
    // newest-sample boundary (retention), corpus start (tombstones),
    // now-instant (the PromQlFns instant vector × 3 consumers)
    "alert_silence_match", "tsdb_retention", "tsdb_tombstones",
    "prom_clamp", "prom_label_join", "prom_group_stdvar",
    "model_calibration", // 1-row split-day + 1-row ECE broadcast
    "tsdb_postings_index", // 1-row series-universe total broadcast
    "mix_doremi_step", // 1-row loss-bounds + 1-row term-total broadcast
    "ann_binary_quant_recall", // 8-query != candidate non-equi pairing (bruteforce shape)
    "prom_quantile_aggregator", // instant vector's 1-row now-bound broadcast
    // round-13: API envelope family rides the same instant vector
    "prom_api_query_json", "prom_api_series_json", "prom_api_label_values_json",
    // round-14: labels + error envelope ride the same instant vector
    "prom_api_labels_json", "prom_api_error_json",
    "prom_api_targets_json", // 1-row newest-bound broadcast (staleness rule)
    "alert_flap_detect", // |identities| × |cells| analysis-plane spine cross
    "prom_absent_over_time", // |series| × |steps| spine cross (flap_detect shape)
    "q_levene_bf",           // 1-row per-group-medians broadcast
    "text_term_burstiness",  // 1-row corpus-doc-count broadcast onto the top-20 head
    "model_precision_recall", // 9-threshold spine >= probe of the cents histogram
    "curate_dedup_mix_shift", // 1-row corpus-totals broadcast
    "split_grouped",      // 1-row leaked-source-count broadcast
    "sink_manifest_prune", // 1-row predicate-bounds broadcast
    "ann_mips_topk",       // query≠candidate non-equi pairing (bruteforce shape)
    // round-12 single-row broadcasts
    "prom_native_histogram_sum", // 1-row merged-mass total broadcast
    "prom_subquery_max_rate",    // 1-row step-grid bounds broadcast (gap_fill shape)
    "source_partition_bounds", // 1-row min/max/total bounds broadcast
    "sessionize_otsu",     // 1-row histogram-total broadcast
    "mix_kl_divergence",   // 1-row mixture-total broadcast
    "q_abc_classification", // 1-row revenue-total broadcast
    // round-10 single-row broadcasts
    "text_bigram_lm_kn",   // 1-row bigram-type-count (nbb) broadcast
    "prom_federate",       // 1-row scrape-horizon broadcast
    "mix_dsir",            // 1-row model totals + selection threshold broadcasts
    "split_dedup_aware",   // 1-row cross-split pair-count broadcast
    "prom_api_buildinfo_json") // 1-row revision x 1-row build-date broadcast

  test("sweep: no CartesianProduct; BNLJ only where intended; no ScalaUDF") {
    val failures = planned.toSeq.sortBy(_._1).flatMap { case (name, p) =>
      if (p.cartesian) Some(s"$name: CartesianProduct")
      else if (p.bnlj && !bnljAllowed(name)) Some(s"$name: unexpected BroadcastNestedLoopJoin")
      else if (p.udf) Some(s"$name: ScalaUDF in physical plan")
      else None
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // ------------------------------------------------ window-partition lint

  /** Entries ALLOWED an unpartitioned Window whose subtree reaches a
    * table scan, each with the boundedness argument: the window's input
    * is a structurally capped frame (fixed grid carry, per-bucket seam
    * endpoints, domain-bounded aggregate), never corpus rows. An entry
    * appearing here without such an argument — or a new entry sorting
    * the corpus through one partition — is a scale bug; fix it with the
    * two-level prefix-sum idiom (`q_concurrency`, `q_abc_classification`)
    * before declaring it. Stale declarations fail too. */
  private val declaredBounded: Map[String, String] = Map(
    "cohort_lifecycle" -> "lag over the per-week actives aggregate — |weeks| rows (time domain)",
    "cohort_survival_km" -> "KM product chain over the per-tenure-day event table — ≤ observation-span days",
    "dq_benford" -> "share window over the 9-leading-digit aggregate",
    "dq_drift_psi" -> "total windows over the |PsiBuckets| decile histogram",
    "events_pareto_share" -> "cumulative over the |ParetoBuckets| decile aggregate",
    "events_stickiness" -> "day-spine prefix sum (interval decomposition) — |days| rows",
    "metrics_burn_rate" -> "6h rolling sums over the hourly rollup — |hours| rows (time domain)",
    "metrics_slo_attainment" -> "windows over the per-day attainment aggregate — |days| rows",
    "mix_anneal_schedule" -> "quality rank + largest-remainder windows over the |sources| / 2·|sources| quota table",
    "mix_budget_apportion" -> "largest-remainder rank over the |sources| quota table",
    "prom_native_histogram_sum" -> "cumulative over the ≤70 fixed exponential-ladder indices (schema-bounded)",
    "mix_dsir" -> "cross-cell carry over the ≤4097-cell weight-histogram grid (two-level prefix sum)",
    "mix_epoch_upsample" -> "max window over the |sources| rate table",
    "mix_temperature" -> "min window over the |languages| rate table",
    "pack_curriculum" -> "token-share window over the 3-phase aggregate",
    "pack_shuffle_quality" -> "seam lag over per-bucket order endpoints — ≤256 md5-prefix buckets / |sources|",
    "prom_recording_rules" -> "6h rolling max over the hourly rollup — |hours| rows (time domain)",
    "prom_wire_frame_v2" -> "symbol-ref row_number over the cut per-event-type family aggregate — |event types| rows",
    "q_abc_classification" -> "cross-cell carry over the ≤4097-cell revenue grid (two-level prefix sum)",
    "q_bootstrap_ci" -> "rank over the B=64 bootstrap replicate aggregate",
    "q_bh_fdr" -> "rank + step-up windows over the |types|×|dows| cell table",
    "q_chi2_independence" -> "margin windows over the |types|×|dows| cell table",
    "ann_hnsw_levels" -> "layer-population cumsum over the ≤9-row level census aggregate",
    "dq_benford_digit2" -> "share total over the ≤10-row digit census aggregate (dq_benford shape)",
    "q_levene_bf" -> "median cumulative + totals over the ≤50-level quantity value domain (mann_whitney shape)",
    "model_auc_roc" -> "negatives-below cumulative over the |distinct cents| value-domain histogram",
    "source_backfill_chunks" -> "row-share cumulative + total over the |days|-row aggregate (time domain)",
    "sink_partition_skew" -> "size-rank + Gini windows over the |sources|-row partition aggregate",
    "events_entropy_rate" -> "rate weighting over the |types|-row per-state entropy aggregate",
    "q_friedman" -> "treatment-count window over the |event types|-row per-treatment rank aggregate",
    "tsdb_wal_replay" -> "running series total + max-segment over the |segments|-row aggregate (append-order domain)",
    "q_cramers_v" -> "margin windows over the |priorities|×|statuses| cell table",
    "q_kruskal_wallis" -> "rank prefix sum over the ≤50-level quantity value domain",
    "q_mann_whitney_u" -> "rank prefix sum over the ≤50-level quantity value domain",
    "q_concurrency" -> "cross-hour carry + spine fill over per-hour totals — |hours| rows (time domain)",
    "q_cumulative_users" -> "cumulative over per-day first-seen counts — |days| rows (time domain)",
    "q_decile_lift" -> "cumulative gains over the |LiftBuckets| decile aggregate",
    "q_ks_test" -> "two-level CDF: bucket-offset carry over the price-grid cells (value-domain bounded)",
    "q_mutual_info" -> "margin windows over the |types|×7 dow cell table",
    "q_skyline_2d" -> "strict-past min over per-price minima (value domain; range-partition merge at larger domains)",
    "q_sliding_distinct_users" -> "day-spine prefix sum (interval decomposition) — |days| rows",
    "q_sprt_abtest" -> "cumulative LLR over the per-day aggregate — |days| rows (time domain)",
    "sessionize_otsu" -> "Otsu sweep over the ≤64-row bit-length gap histogram",
    "stream_late_data" -> "256 hash-bucket rank offsets + watermark running max over the micro-batch chunk timeline",
    "stream_state_metrics" -> "256 hash-bucket rank offsets + watermark running max over the micro-batch chunk timeline",
    "text_length_survival" -> "suffix sum over the ≤64-row bit-length bucket table",
    "text_vocab_growth" -> "cumulative over the |VocabGrowthBuckets| bucket aggregate")

  test("unpartitioned windows run only over declared-bounded frames") {
    val found = planned.collect { case (name, p) if p.globalWindows > 0 => name -> p.globalWindows }
    val undeclared = (found.keySet -- declaredBounded.keySet).toSeq.sorted
    val stale = (declaredBounded.keySet -- found.keySet).toSeq.sorted
    assert(undeclared.isEmpty,
      s"unpartitioned Window over a scan-reaching frame in: " +
        undeclared.map(n => s"$n(${found(n)})").mkString(", ") +
        " — decompose with the two-level prefix-sum idiom or declare the bound")
    assert(stale.isEmpty,
      s"declaredBounded entries with no unpartitioned window left: ${stale.mkString(", ")}")
  }
}
