package graft

/** Plan-shape assertions: the promises SURVEY.md §5 makes about scale
  * behavior, checked against the actual Catalyst physical plans. */
class PlanSpec extends SparkTestBase {

  test("q6 pushes filters into the parquet scan") {
    val p = plan("q6_forecast_revenue")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("l_shipdate"), "shipdate filter should reach the scan")
  }

  test("q6 prunes columns at the scan (ReadSchema subset)") {
    val p = plan("q6_forecast_revenue")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"), s"unneeded column read: $read")
    assert(read.contains("l_extendedprice"))
  }

  test("q5 broadcasts dimension tables") {
    val p = plan("q5_local_supplier_volume")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
  }

  test("q1 aggregates with map-side partial aggregation") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("HashAggregate"))
    // partial + final pair implies map-side combine before the exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("whole-stage codegen covers the q1 pipeline") {
    val p = executedPlan("q1_pricing_summary")
    assert(p.contains("codegen id"), s"no codegen spans in final plan:\n${p.take(1500)}")
  }

  test("asof_join is a single exchange (union+window, no range join)") {
    val p = plan("asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "asof must not fall back to a product join")
    val exchanges = countNodes(p, "Exchange")
    assert(exchanges <= 2, s"expected <=2 exchanges, plan had $exchanges:\n${p.take(1500)}")
  }

  test("ann_bruteforce broadcasts the query side") {
    val p = plan("ann_bruteforce_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("dedup_ngram_jaccard has no cross join anywhere") {
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("CartesianProduct"))
  }

  test("stream_interval_join is an equi-join on user, not a product join") {
    val p = plan("stream_interval_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "range condition must ride the user_id equi-join as a residual filter")
  }

  test("graft_topk aggregates partially before the shuffle") {
    val p = plan("ann_bruteforce_topk")
    // partial + final TopKByScore pair = map-side bounded top-k
    assert("partial_graft_topk|graft_topk".r.findAllIn(p).size >= 2,
      s"expected partial+final topk aggregate:\n${p.take(2000)}")
  }

  test("sessionize_native plans a single exchange for the session agg") {
    val p = plan("sessionize_native")
    assert(p.contains("SessionWindow") || p.contains("session_window"),
      s"expected native session window node:\n${p.take(1500)}")
  }

  test("salted skew join broadcasts the salt replication, not the facts") {
    val p = plan("q_skew_salted_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "salt range must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("split assignment is a pure narrow map — no hash shuffle, no join") {
    val p = plan("split_train_test")
    assert(!p.contains("Exchange hashpartitioning"), s"split must not shuffle:\n${p.take(1500)}")
    assert(!p.contains("Join"), "split reads no second table")
  }

  test("mix expands with a generator, not a join") {
    val p = plan("mix_corpora")
    assert(p.contains("Generate"), "copies should come from explode(sequence)")
    assert(!p.contains("Join"), "mixture weights are expressions, not a joined table")
  }

  test("pack reuses the language partitioning for window and aggregation") {
    val p = plan("pack_token_budget")
    val ex = countNodes(p, "Exchange")
    // 1 hash exchange for the lang window (the groupBy on (lang, pack)
    // is satisfied by it) + 1 range exchange for the output ordering
    assert(ex <= 2, s"expected <=2 exchanges, got $ex:\n${p.take(2000)}")
  }

  test("pivot with explicit values is a single scan and a single aggregation pass") {
    val p = plan("q_pivot_events_daily")
    assert(countScans(p) == 1, s"pivot must not rescan for distinct values:\n${p.take(1500)}")
  }

  test("AQE coalesces small shuffle partitions at runtime") {
    val p = executedPlan("q1_pricing_summary")
    assert(p.contains("AQEShuffleRead"),
      s"adaptive execution should re-plan the shuffle read:\n${p.take(1500)}")
    assert(p.contains("coalesced") || p.contains("Coalesced"),
      s"tiny aggregate output should coalesce to fewer partitions:\n${p.take(1500)}")
  }

  test("tfidf computes df from a window over counts, not a second corpus scan") {
    val p = plan("text_tfidf_topk")
    assert(countScans(p) == 1, s"df should reuse the counted set:\n${p.take(1500)}")
  }
  test("node similarity top-k plans TakeOrderedAndProject, not a global-sort window") {
    val p = executedPlan("graph_node_similarity")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must be a bounded per-partition heap:\n${p.take(1500)}")
  }

  test("pareto buckets come from broadcast percentile bounds, not ntile") {
    val p = plan("events_pareto_share")
    // note: "percentile" contains "ntile" — match the ranking call shape
    assert("(?<!perce)ntile\\(".r.findFirstIn(p).isEmpty, "bucket must not rank the full user set")
    assert(p.contains("percentile"), "decile boundaries should be one exact-percentile aggregate")
  }

  test("late-data arrival rank is partitioned by hash-range bucket") {
    val p = plan("stream_late_data")
    // the fact-table row_number must carry the bkt partition key; the
    // only unpartitioned windows left run over bounded bucket/chunk tables
    assert("row_number\\(\\) windowspecdefinition\\(bkt".r.findFirstIn(p).isDefined,
      s"arrival rank must be per-bucket:\n${p.take(2000)}")
  }

  test("null-safe join plans a hash/merge equi-join, not a nested loop") {
    val p = plan("q_null_safe_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"<=> must stay an equi-join:\n${p.take(1500)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("mm_aspect_bucket prunes the binary payload at the scan") {
    val p = plan("mm_aspect_bucket")
    assert(!p.contains("encode("), s"payload encode must be pruned:\n${p.take(2000)}")
  }
}
