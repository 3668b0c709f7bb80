package graft

import org.apache.spark.sql.functions._
import graft.operators.Affinity
import graft.sources.Tables

class AffinitySpec extends SparkTestBase {

  test("markov steady state survives terminal-only and source-only event types") {
    // A corpus where type B only ever RECEIVES transitions (every B is
    // a user's last event) and C only ever EMITS them — the skew that
    // made the pre-round-8 vector throw on next(t) / drop rank-0 rows.
    import java.sql.Timestamp
    val dir = writeEvents(Seq(
      // user 1: A -> B (B terminal)
      (1L, Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000, 10L, "A", 1.0),
      (2L, Timestamp.valueOf("2024-01-01 00:01:00").getTime / 1000, 10L, "B", 1.0),
      // user 2: C -> A (C pure source)
      (3L, Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000, 20L, "C", 1.0),
      (4L, Timestamp.valueOf("2024-01-01 00:01:00").getTime / 1000, 20L, "A", 1.0)))
    val out = graft.operators.Affinity.markovSteady(spark, dir).orderBy("event_type").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("A", "B", "C"),
      "every type in the chain keeps a vector row")
    val byType = out.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType("C") == 0L, "a pure-source type drains to rank 0")
    assert(byType("B") > 0L, "a terminal-only type accumulates mass")
  }

  test("basket pairs: support bounded by item counts, lift consistent") {
    val df = Affinity.basketPairs(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("part_a") >= col("part_b")).count() == 0, "pairs must be ordered")
    assert(df.filter(col("support_cnt") < Affinity.MinSupport).count() == 0)
    assert(df.filter(col("lift") < 0).count() == 0)
    // support of a pair can't exceed either item's own order count
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val bad = df.join(items.withColumnRenamed("l_partkey", "part_a"), Seq("part_a"))
      .filter(col("support_cnt") > col("cnt"))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("transition matrix: probabilities near-normalize per source state") {
    val df = Affinity.transitionMatrix(spark, sf).cache()
    assert(df.filter(col("prob") < 0 || col("prob") > 1).count() == 0)
    // floor-truncated probs sum to within 25*1e-4 of 1 per from_type
    val sums = df.groupBy(col("from_type")).agg(sum(col("prob")).as("p"))
    assert(sums.filter(col("p") > 1.0 || col("p") < 0.99).count() == 0)
    // transitions counted = events - first event per user
    val n = df.agg(sum(col("n"))).head.getLong(0)
    val events = Tables.events(spark, sf).count()
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(n == events - users)
    df.unpersist()
  }

  test("rfm: every customer lands in exactly one segment, quartiles balanced") {
    val df = Affinity.rfmSegments(spark, sf).cache()
    val nCust = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(df.agg(sum(col("n_customers"))).head.getLong(0) == nCust)
    assert(df.filter(col("r_q") < 1 || col("r_q") > 4).count() == 0)
    // each monetary quartile holds between 15% and 35% of customers
    val byM = df.groupBy(col("m_q")).agg(sum(col("n_customers")).as("n"))
    assert(byM.count() == 4)
    assert(byM.filter(col("n") < nCust * 0.15 || col("n") > nCust * 0.35).count() == 0)
    df.unpersist()
  }

  test("concurrency: non-negative, bounded by open sessions, spine complete") {
    val df = Affinity.concurrency(spark, sf).cache()
    assert(df.filter(col("peak_concurrency") < 0).count() == 0)
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(df.filter(col("peak_concurrency") > users).count() == 0,
      "peak can't exceed distinct users (one session at a time per user)")
    // spine is dense: one row per hour between min and max
    val hours = df.count()
    val span = Tables.events(spark, sf)
      .agg((floor(unix_timestamp(max(col("ts"))) / 3600) -
        floor(unix_timestamp(min(col("ts"))) / 3600) + 1).as("h")).head.getLong(0)
    assert(hours == span)
    df.unpersist()
  }

  test("equi-depth histogram: buckets cover all orders, depths balanced") {
    val df = Affinity.equidepthHistogram(spark, sf).cache()
    val n = Tables.orders(spark, sf).count()
    assert(df.agg(sum(col("n"))).head.getLong(0) == n)
    assert(df.count() == Affinity.EqDepthBuckets)
    // equi-depth: every decile within 2x of the ideal n/10
    assert(df.filter(col("n") > 2 * n / 10 || col("n") < n / 20).count() == 0)
    assert(df.filter(col("lo_cents") > col("hi_cents")).count() == 0)
    df.unpersist()
  }

  test("weighted percentile: crossing rule holds and brackets the unweighted range") {
    val df = Affinity.weightedPercentile(spark, sf).cache()
    assert(df.count() == 3)
    assert(df.filter(col("w50_cents") > col("w90_cents")).count() == 0)
    // weighted p50 lies within the group's min/max
    val bounds = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(min(floor(col("l_extendedprice") * 100)).as("lo"),
        max(floor(col("l_extendedprice") * 100)).as("hi"))
    assert(df.join(bounds, Seq("l_returnflag"))
      .filter(col("w50_cents") < col("lo") || col("w90_cents") > col("hi")).count() == 0)
    // at least half the weight sits at or below w50
    val li = Tables.lineitem(spark, sf).select(col("l_returnflag"),
      floor(col("l_extendedprice") * 100).cast("long").as("cents"),
      col("l_quantity").cast("long").as("w"))
    val below = li.join(df, Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("cents") <= col("w50_cents"), col("w"))).as("wb"),
        sum(col("w")).as("tot"))
      .filter(col("wb") * 2 < col("tot"))
    assert(below.count() == 0)
    df.unpersist()
  }

  test("time to convert: lags non-negative, p50 <= p90, converters bounded by signups") {
    val df = Affinity.timeToConvert(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("p50_sec") < 0 || col("p50_sec") > col("p90_sec")).count() == 0)
    val signups = Tables.events(spark, sf).filter(col("event_type") === "signup")
      .select(col("user_id")).distinct().count()
    assert(df.agg(sum(col("n_converted"))).head.getLong(0) <= signups)
    df.unpersist()
  }

  test("interval coverage: union never exceeds a day nor the summed durations") {
    val df = Affinity.intervalCoverage(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("covered_sec") > 86400 || col("covered_sec") < 0).count() == 0)
    assert(df.filter(col("coverage_frac") > 1).count() == 0)
    // coverage must be positive on any day that has events
    val activeDays = Tables.events(spark, sf)
      .select((unix_timestamp(date_trunc("second", col("ts"))) / 86400)
        .cast("long").as("day_nr")).distinct()
    val missing = activeDays.join(df, Seq("day_nr"), "left_anti")
    assert(missing.count() == 0)
    df.unpersist()
  }

  test("node similarity: jaccard bounded, ranked, co bounded by page counts") {
    val df = Affinity.nodeSimilarity(spark, sf).cache()
    assert(df.count() <= Affinity.SimTopK)
    assert(df.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    // ranks are 1..n with descending jaccard
    val ranked = df.orderBy(col("rk")).select(col("jaccard")).collect().map(_.getDouble(0))
    assert(ranked.zip(ranked.drop(1)).forall { case (a, b) => a >= b })
    df.unpersist()
  }

  test("sliding distinct users: matches the brute-force window count exactly") {
    val df = Affinity.slidingDistinctUsers(spark, sf).cache()
    // brute force: explode each active (user, day) into its 7 covered days
    val w = Affinity.SlideDays - 1
    val brute = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("d"))
      .distinct()
      .select(col("user_id"), explode(expr(s"sequence(d, d + $w)")).as("day_nr"))
      .groupBy(col("day_nr"))
      .agg(countDistinct(col("user_id")).as("want"))
    val bad = df.join(brute, Seq("day_nr"))
      .filter(col("distinct_users_7d") =!= col("want"))
    assert(bad.count() == 0, "interval decomposition must equal brute force")
    df.unpersist()
  }

  test("pareto: deciles cover all users, cumulative share monotone to 1.0") {
    val df = Affinity.paretoShare(spark, sf).cache()
    // boundary-based buckets: ties share a bucket, so some of the 10
    // may be empty, but every bucket id stays in range
    assert(df.count() <= Affinity.ParetoBuckets && df.count() >= 2)
    assert(df.filter(col("bucket") < 1 || col("bucket") > Affinity.ParetoBuckets).count() == 0)
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(df.agg(sum(col("n_users"))).head.getLong(0) == users)
    val shares = df.orderBy(col("bucket")).select(col("cum_share")).collect().map(_.getDouble(0))
    assert(shares.zip(shares.drop(1)).forall { case (a, b) => a <= b })
    assert(math.abs(shares.last - 1.0) < 1e-3)
    // bucket 1 holds the heaviest users: average events/user never
    // increases as the bucket id grows
    val avg = df.orderBy(col("bucket"))
      .select((col("n_events").cast("double") / col("n_users")).as("a"))
      .collect().map(_.getDouble(0))
    assert(avg.zip(avg.drop(1)).forall { case (a, b) => a >= b - 1e-9 })
    df.unpersist()
  }

  test("null-skew join: all rows preserved, nulls routed around the join") {
    val df = Affinity.nullSkewJoin(spark, sf).cache()
    assert(df.count() == Tables.events(spark, sf).count())
    // null keys never acquire a dimension attribute
    assert(df.filter(col("k_null").isNull && col("page_group").isNotNull).count() == 0)
    // non-null keys under 50 always match (dim is built from the same domain)
    assert(df.filter(col("k_null").isNotNull && col("page_group").isNull).count() == 0)
    // the rewrite really is a union of a join branch and a pass-through branch
    val p = plan("q_null_skew_join")
    assert(p.contains("Union"), "null rows must bypass the join via a union branch")
    df.unpersist()
  }

  test("chi2: non-negative terms, marginals consistent") {
    val df = Affinity.chi2Independence(spark, sf).cache()
    assert(df.filter(col("chi2_term") < 0).count() == 0)
    assert(df.agg(sum(col("o"))).head.getLong(0) == Tables.events(spark, sf).count())
    df.unpersist()
  }

  test("bot score: one row per user, flags consistent with raw stats") {
    val df = Affinity.botScore(spark, sf).cache()
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(df.count() == users)
    // verdict implies at least two flags
    val bad = df.filter(col("is_bot") &&
      (col("rate_flag").cast("int") + col("sweep_flag").cast("int")
        + col("regular_flag").cast("int")) < 2)
    assert(bad.count() == 0)
    assert(df.filter(col("n_pages") > col("n_events")).count() == 0)
    // minimum-history guard: a user with < 3 events can never be a bot
    assert(df.filter(col("n_events") < 3 && col("is_bot")).count() == 0)
    df.unpersist()
  }

  test("stickiness: DAU bounded by MAU, MAU matches brute-force trailing window") {
    val df = Affinity.stickiness(spark, sf).cache()
    assert(df.filter(col("dau") > col("mau")).count() == 0)
    assert(df.filter(col("stickiness") < 0 || col("stickiness") > 1).count() == 0)
    val w = Affinity.MauDays - 1
    val brute = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("d"))
      .distinct()
      .select(col("user_id"), explode(expr(s"sequence(d, d + $w)")).as("day_nr"))
      .groupBy(col("day_nr")).agg(countDistinct(col("user_id")).as("want"))
    assert(df.join(brute, Seq("day_nr")).filter(col("mau") =!= col("want")).count() == 0)
    df.unpersist()
  }

  test("new vs returning: firsts counted once, totals match DAU") {
    val df = Affinity.newVsReturning(spark, sf).cache()
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(df.agg(sum(col("n_new"))).head.getLong(0) == users,
      "every user is new exactly once")
    assert(df.filter(col("returning_frac") < 0 || col("returning_frac") > 1).count() == 0)
    // n_new + n_returning equals that day's distinct actives
    val dau = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("unix_timestamp(date_trunc('second', ts)) DIV 86400").as("day_nr"))
      .distinct().groupBy(col("day_nr")).agg(count(lit(1)).as("dau"))
    assert(df.join(dau, Seq("day_nr"))
      .filter(col("n_new") + col("n_returning") =!= col("dau")).count() == 0)
    df.unpersist()
  }

  test("purchase intervals: quantiles ordered, repeat rate bounded") {
    val df = Affinity.purchaseIntervals(spark, sf).cache()
    assert(df.count() == 1)
    val r = df.head
    assert(r.getDouble(df.columns.indexOf("p25_days")) <= r.getDouble(df.columns.indexOf("p50_days")))
    assert(r.getDouble(df.columns.indexOf("p50_days")) <= r.getDouble(df.columns.indexOf("p75_days")))
    assert(r.getDouble(df.columns.indexOf("p75_days")) <= r.getDouble(df.columns.indexOf("p90_days")))
    val rate = r.getDouble(df.columns.indexOf("repeat_rate"))
    assert(rate >= 0 && rate <= 1)
    // gaps = orders - customers-with-orders (each customer's first order has no gap)
    val orders = Tables.orders(spark, sf).count()
    val cust = Tables.orders(spark, sf).select(col("o_custkey")).distinct().count()
    assert(r.getLong(df.columns.indexOf("n_gaps")) == orders - cust)
    df.unpersist()
  }
  test("day overlap: jaccard bounded, common never exceeds either day's actives") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Affinity.dayOverlap(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    val sizes = graft.sources.Tables.events(spark, sf)
      .select(col("user_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"))
      .distinct().groupBy("day").agg(count(lit(1)).as("n"))
    val bad = df.join(sizes.select(col("day").as("day_a"), col("n").as("na")), "day_a")
      .join(sizes.select(col("day").as("day_b"), col("n").as("nb")), "day_b")
      .filter(col("n_common") > least(col("na"), col("nb")))
    assert(bad.count() == 0)
    df.unpersist()
  }

  test("events_markov_steady: mass is conserved up to fixed-point floor loss") {
    val rows = run("events_markov_steady").collect()
    assert(rows.length == 5)
    val share = rows.map(_.getDouble(2)).sum
    assert(share > 0.995 && share <= 1.0001, s"share sum $share")
    assert(rows.forall(_.getLong(1) > 0), "a steady-state rank collapsed to zero")
  }

  test("cohort_rfm_migration: the matrix accounts for every customer exactly once") {
    val df = run("cohort_rfm_migration").cache()
    val custs = graft.sources.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(df.agg(sum(col("n_customers"))).head.getLong(0) == custs)
    // no (0,0) cell: a customer absent from both periods doesn't exist
    assert(df.filter(col("tier_a") === 0 && col("tier_b") === 0).count() == 0)
    df.unpersist()
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

  test("events_audience_minhash: estimates land within MinHash sampling error") {
    val rows = Affinity.audienceMinhash(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nMatch = r.getLong(2)
      val est = r.getDouble(3); val exact = r.getDouble(4); val err = r.getDouble(5)
      assert(nMatch >= 0 && nMatch <= Affinity.AmhSeeds)
      assert(est >= 0.0 && est <= 1.0 && exact >= 0.0 && exact <= 1.0)
      // k=64 → σ = √(J(1−J)/64) ≤ 0.0625; 4σ = 0.25 is a safe bound
      assert(err <= 0.25, s"estimate outside 4σ of exact: $r")
      assert(math.abs(err - math.floor(math.abs(est - exact) * 1e4) / 1e4) < 1e-9)
    }
    // the audiences are genuinely partial overlaps — the sketch has
    // something to estimate (not the degenerate all-1.0 grid)
    assert(rows.exists(_.getDouble(4) < 0.99), "audiences are all identical")
  }

  test("events_audience_minhash reads the corpus once (checkpointed audience set)") {
    val df = Affinity.audienceMinhash(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // everything downstream of the eager localCheckpoint re-reads the
    // materialized audience set, not the parquet corpus
    assert(countScans(p) == 0,
      s"corpus re-scanned past the checkpoint:\n$p")
  }
}
