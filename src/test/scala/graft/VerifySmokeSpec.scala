package graft

/** Per-SF smoke gate inside `sbt test` (VERDICT r11 item 8): a
  * threshold that yields rows at one scale factor can go silently
  * empty at another (the skill's own recorded gotcha — anomaly
  * minimum-point rules, similarity radii, duration cutoffs), and the
  * driver's DuckDB gate only ever runs at sf0.01. This suite executes
  * a fixed sample of the most threshold-sensitive entries at BOTH
  * shipped gate scales and fails on an empty result or a schema fork,
  * so the per-SF regression class is caught at `sbt test` time, before
  * any driver round. The sample is deliberately small (wall-clock
  * budget ≤ ~1 min on local[4]); the full 400-entry oracle compare
  * stays the driver's job. */
class VerifySmokeSpec extends SparkTestBase {

  /** Entries whose semantics carry a data-dependent threshold, filter,
    * or minimum-population rule — the class that regresses per-SF. */
  private val sample = Seq(
    "metrics_anomaly_zscore",       // >=12-point baseline minimum
    "metrics_long_running_sessions",// > 8h duration cutoff
    "metrics_topk_over_time",       // top-3 per hour
    "prom_query_range",             // staleness lookback window
    "dq_outlier_iqr",               // 1.5*IQR fence
    "dq_volume_anomaly",            // volume deviation threshold
    "dq_freshness_sla",             // SLA lateness cutoff
    "dedup_ngram_jaccard",          // jaccard threshold
    "dedup_minhash_lsh",            // band-collision threshold
    "dedup_containment",            // containment threshold
    "ann_range_search",             // cosine radius
    "dedup_embedding_cosine",       // cosine near-dup threshold
    "curate_quality_band",          // percent-rank band [0.25, 0.75]
    "curate_domain_cap",            // per-domain cap
    "text_contamination",           // n-gram overlap threshold
    "mix_dsir",                     // top-quarter importance cut
    "q_skyline_2d",                 // dominance filter
    "sessionize_otsu",              // histogram-derived split
    "events_counter",               // length==1 -> 'none' rule
    "stream_late_data",             // watermark drop rule
    "alert_inhibition",             // value>=100/200 severity cutoffs
    "prom_scrape_limits",           // per-target sample_limit verdicts
    "dedup_bloom_prefilter",        // cross-corpus key-overlap fixture
    "tsdb_ooo_ingest")              // 1h OOO admission window

  /** the oracle gate scale, next to the test scale */
  private val gateSf = new java.io.File(sf).getParent + "/sf0.01"

  test("threshold-sensitive sample is non-empty with one schema at sf0.001 AND sf0.01") {
    val missing = sample.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"sample names drifted from the registry: $missing")
    def shapeAndCount(entry: (String, SparkEntry.Query), sfDir: String) =
      SparkEntry.run(spark, sfDir, entry) { df =>
        (df.schema.map(f => (f.name, f.dataType.simpleString)), df.count())
      }.result
    val failures = SparkEntry.pick(sample).flatMap { entry =>
      val name = entry._1
      (shapeAndCount(entry, sf), shapeAndCount(entry, gateSf)) match {
        case (Right((sa, na)), Right((sb, nb))) =>
          (if (sa != sb) Seq(s"$name: schema forked across SFs: $sa vs $sb") else Nil) ++
            (if (na == 0) Seq(s"$name: EMPTY at sf0.001") else Nil) ++
            (if (nb == 0) Seq(s"$name: EMPTY at sf0.01") else Nil)
        case (a, b) => Seq(a, b).flatMap(_.left.toOption).take(1)
          .map(e => s"$name: threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
