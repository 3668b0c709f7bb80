package graft.operators

import graft.Checkpoints.cut
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate clustering: connected components over the minhash-LSH
  * near-dup pair graph, assigning every involved document the minimum
  * doc_id of its component (the canonical "keep one per cluster" step
  * of a dedup pipeline).
  *
  * Algorithm: iterative min-label propagation — each round every node
  * takes the min label among itself and its neighbors; converges in
  * O(diameter) rounds. Each round is ONE join + ONE aggregation, all
  * distributed; the driver only checks a scalar convergence count.
  * `Checkpoints.cut` cuts lineage so plans don't grow with rounds
  * (the classic iterative-DataFrame trap); the convergence loop
  * materializes every round anyway (the changed-count read), so
  * there is nothing to fuse here. Near-dup components are
  * tiny and tree-like in practice, so diameter is small; a round cap
  * guards pathological chains at corpus scale.
  */
object Cluster {

  type Q = (SparkSession, String) => DataFrame

  val MaxRounds = 20

  /** Per-doc cluster assignment: (doc_id, cluster_id) for every doc in
    * at least one near-dup pair; cluster_id = min doc_id reachable. */
  def dedupCluster: Q = (s, d) => {
    // materialize pairs ONCE before fanning out: the union below
    // references them twice, and an unmaterialized reference would
    // re-run the whole minhash pipeline per branch.
    val pairs = cut(Dedup.minhashLsh(s, d).select(col("doc_a"), col("doc_b")))
    ccLabels(pairs)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
  }

  /** The min-label-propagation loop over an already-materialized pair
    * table — shared by `dedup_cluster`, `split_dedup_aware` and
    * `dedup_cluster_buckets`. Returns (doc, label) for every doc
    * appearing in a pair. */
  private def ccLabels(pairs: DataFrame): DataFrame = {
    // undirected edge list, both directions
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // per-round state is a sliver of the corpus (only docs with a
    // near-dup pair) — coalesce so each round's checkpoint+scan doesn't
    // pay 32-partition task overhead for a few hundred rows; at real
    // scale this constant tracks the pair-graph size, not the corpus.
    // Seed labels with least(self, min-neighbor) — one aggregation, no
    // join — instead of the identity: LSH near-dup components are
    // near-cliques (every similar pair shares a band), so the seed IS
    // the fixed point for clique-shaped components and the loop's first
    // pass is already the convergence confirmation (one round saved per
    // entry; chain-shaped outliers still converge via the jump below)
    var labels = cut(edges.groupBy(col("u").as("doc"))
      .agg(min(col("v")).as("nbr"))
      .select(col("doc"), least(col("doc"), col("nbr")).as("label"))
      .coalesce(8))
    var round = 0
    var converged = false
    while (!converged && round < MaxRounds) {
      val nbrMin = edges
        .join(labels.select(col("doc").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("doc"))
        .agg(min(col("vl")).as("nbr_label"))
      val hop = labels.join(nbrMin, Seq("doc"), "left")
        .select(col("doc"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jumping: follow one label indirection (label := its
      // label's label) — with the 1-hop step above this halves the
      // remaining propagation depth each round, O(log diameter) total
      // instead of O(diameter) for chain-shaped components. The change
      // flag rides along so convergence needs no extra join afterwards.
      val next = cut(hop
        .join(hop.select(col("doc").as("jd"), col("label").as("jl")),
          hop("label") === col("jd"), "left")
        .select(hop("doc").as("doc"),
          coalesce(col("jl"), hop("label")).as("label"),
          (coalesce(col("jl"), hop("label")) =!= col("old")).as("chg"))
        .coalesce(8))
      // a full count, not `limit(1).count()`: Spark names a generated
      // limit's counter from a process-wide sequence, so a limit stage is
      // new source on every call and janino recompiles it every round;
      // the count scans the label state just cut, in the same two stages
      val changed = next.filter(col("chg")).count()
      labels = next.select(col("doc"), col("label"))
      converged = changed == 0
      round += 1
    }
    labels
  }

  /** DuckDB oracle: transitive closure by recursive CTE over the same
    * pair graph (exact same minhash pipeline), min reachable id. */
  val dedupClusterSql: String = {
    val pairSql = Dedup.minhashLshSql
    s"""WITH RECURSIVE pairs AS ($pairSql),
         bi AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         walk(u, v) AS (
           SELECT u, v FROM bi
           UNION
           SELECT w.u, b.v FROM walk w JOIN bi b ON w.v = b.u)
       SELECT doc_id, min(reach) AS cluster_id FROM (
         SELECT u AS doc_id, least(u, v) AS reach FROM walk) t
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** Dedup-aware split assignment — the FIX for what
    * `split_leakage_audit` detects: near-duplicate documents routed to
    * different train/val/test splits leak eval content into training.
    * Here the split decision is a content-hash of the near-dup
    * COMPONENT's canonical id (min doc_id reachable in the minhash-LSH
    * pair graph; singletons are their own canonical), so every member
    * of a component lands in the same split BY CONSTRUCTION — and the
    * entry proves it, emitting the count of near-dup pairs that cross
    * splits (always 0; the spec shows the naive per-doc hash split on
    * the same corpus leaks).
    *
    * Scale shape: the LSH pair pipeline + the bounded-round label loop
    * `dedup_cluster` already pays (shared via [[ccLabels]], pairs
    * materialized once), one doc_id-keyed join back to the corpus, one
    * groupBy — the membership rule stays a pure content-hash function
    * (reproducible on any partitioning, the split family's contract). */
  def splitDedupAware: Q = (s, d) => {
    val pairs = cut(Dedup.minhashLsh(s, d).select(col("doc_a"), col("doc_b")))
    val labels = ccLabels(pairs)
    val assigned = cut(Tables.documents(s, d).select(col("doc_id"))
      .join(labels.select(col("doc").as("doc_id"), col("label")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("canon"))
      .withColumn("bucket",
        conv(substring(md5(concat(lit("sdsplit:"), col("canon").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test")))
    val cross = pairs
      .join(assigned.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .agg(count(when(col("sa") =!= col("sb"), 1)).as("cross_split_pairs"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_components"))
      .crossJoin(broadcast(cross))
  }

  val splitDedupAwareSql: String = {
    val pairSql = Dedup.minhashLshSql
    s"""WITH RECURSIVE pairs AS ($pairSql),
         bi AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         walk(u, v) AS (
           SELECT u, v FROM bi
           UNION
           SELECT w.u, b.v FROM walk w JOIN bi b ON w.v = b.u),
         labels AS (
           SELECT doc_id, min(reach) AS label FROM (
             SELECT u AS doc_id, least(u, v) AS reach FROM walk) t
           GROUP BY doc_id),
         assigned AS (
           SELECT d.doc_id, coalesce(l.label, d.doc_id) AS canon,
                  CASE WHEN ('0x' || substring(md5('sdsplit:' || CAST(coalesce(l.label, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
                       WHEN ('0x' || substring(md5('sdsplit:' || CAST(coalesce(l.label, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
                       ELSE 'test' END AS split
           FROM documents d LEFT JOIN labels l USING (doc_id)),
         cross_cnt AS (
           SELECT count(*) FILTER (WHERE a.split <> b.split) AS cross_split_pairs
           FROM pairs p
           JOIN assigned a ON p.doc_a = a.doc_id
           JOIN assigned b ON p.doc_b = b.doc_id)
       SELECT split, count(*) AS n_docs,
              count(DISTINCT canon) AS n_components,
              max(cross_split_pairs) AS cross_split_pairs
       FROM assigned CROSS JOIN cross_cnt
       GROUP BY split ORDER BY split"""
  }

  /** Soft dedup (the reweighting alternative to dropping — e.g.
    * SoftDeDup-style loss downweighting): every document in a
    * near-dup component of size c keeps weight 1/c, so each
    * component contributes exactly one document's worth of mass to
    * the training mix; singletons keep weight 1. Per-source corpus
    * accounting in exact integer parts-per-million
    * (floor(1e6/c) — BIGINT sums are order-independent where a
    * float Σ1/c is not; one IEEE division only at the final share).
    * Scale: the cluster sizes table is |pair-graph|-bounded, the
    * join back to documents is one doc_id-keyed shuffle, the
    * accounting one groupBy — at 100 TB the ppm sums outgrow BIGINT
    * around 9e18 (≈9e12 docs); the decimal(38) spelling is the same
    * plan. */
  def softWeight: Q = (s, d) => {
    import graft.sources.Tables
    // component size via ONE window over the component label rather
    // than aggregate + join-back: same values, one shuffle instead of
    // two, and no component-keyed join for a giant near-dup cluster to
    // skew (a pathological component still lands on one partition, but
    // it pays one pass, not an agg + a probe)
    val perDoc = dedupCluster(s, d)
      .withColumn("csz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .select(col("doc_id"), col("csz"))
    Tables.documents(s, d)
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("c", coalesce(col("csz"), lit(1L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_docs"),
        sum(expr("1000000 DIV c")).as("eff_docs_ppm"),
        sum(col("n_chars")).as("chars"),
        sum(expr("(n_chars * 1000000) DIV c")).as("eff_chars_ppm"))
      .withColumn("eff_share",
        floor(col("eff_chars_ppm").cast("double")
          / (col("chars").cast("double") * 1e6) * 10000) / 10000.0)
  }

  /** DuckDB oracle: same transitive closure, same ppm arithmetic. */
  val softWeightSql: String = {
    val pairSql = Dedup.minhashLshSql
    s"""WITH RECURSIVE pairs AS ($pairSql),
         bi AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
         walk(u, v) AS (
           SELECT u, v FROM bi
           UNION
           SELECT w.u, b.v FROM walk w JOIN bi b ON w.v = b.u),
         clusters AS (
           SELECT doc_id, min(reach) AS cluster_id FROM (
             SELECT u AS doc_id, least(u, v) AS reach FROM walk) t
           GROUP BY doc_id),
         sizes AS (SELECT cluster_id, count(*) AS csz FROM clusters GROUP BY 1),
         per_doc AS (
           SELECT c.doc_id, s.csz FROM clusters c JOIN sizes s USING (cluster_id)),
         weighted AS (
           SELECT d.source, d.n_chars, COALESCE(p.csz, 1) AS c
           FROM documents d LEFT JOIN per_doc p USING (doc_id))
       SELECT source,
              count(*) AS docs,
              CAST(count(*) FILTER (WHERE c > 1) AS BIGINT) AS dup_docs,
              CAST(sum(1000000 // c) AS BIGINT) AS eff_docs_ppm,
              CAST(sum(n_chars) AS BIGINT) AS chars,
              CAST(sum((n_chars * 1000000) // c) AS BIGINT) AS eff_chars_ppm,
              floor(CAST(sum((n_chars * 1000000) // c) AS DOUBLE)
                    / (CAST(sum(n_chars) AS DOUBLE) * 1e6) * 10000) / 10000.0
                AS eff_share
       FROM weighted GROUP BY source ORDER BY source"""
  }

  /** BUCKET-components clustering — the linear-time scale path the
    * big LLM dedup pipelines actually run (union-find over LSH band
    * buckets, no pairwise verification; the RefinedWeb/SlimPajama
    * formulation): every ≥2-doc band bucket contributes STAR edges
    * (member → bucket-min doc) instead of C(n,2) pairs, so edge count
    * is Σ bucket sizes — linear in banded occurrences at ANY duplicate
    * density — where `dedup_cluster`'s verified-pair graph grows ∝ r²
    * in the per-doc replica count. The result is a deterministic
    * COARSENING of `dedup_cluster` (every verified pair shares a band
    * bucket, so verified components never split across bucket
    * components — Round15Spec proves the refinement on the corpus);
    * the trade is precision: an unverified bucket collision can merge
    * two dissimilar docs, the documented reason the verified entry
    * exists. Same min-label components loop ([[ccLabels]]), same
    * output shape, so a pipeline can swap the two entries by name. */
  def clusterBuckets: Q = (s, d) => {
    val bl = Dedup.bandList(Dedup.shingleSets(s, d))
    val stars = cut(bl
      .groupBy(col("band_idx"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(explode(expr("slice(ds, 2, size(ds) - 1)")).as("doc_a"),
        expr("ds[0]").as("doc_b")))
    ccLabels(stars)
      .select(col("doc").as("doc_id"), col("label").as("cluster_id"))
  }

  val clusterBucketsSql: String =
    s"""WITH RECURSIVE sets AS (
          SELECT doc_id, shingles FROM (
            SELECT doc_id, ${Dedup.shinglesSqlExpr} AS shingles FROM documents)
          WHERE len(shingles) > 0),
        e AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sets),
        sig AS (SELECT doc_id, ${Dedup.sigSqlExprs} FROM e GROUP BY doc_id),
        banded AS (SELECT doc_id, ${Dedup.bandSqlExprs} FROM sig),
        bl AS MATERIALIZED (${Dedup.blSqlSelects}),
        buckets AS (
          SELECT band_idx, bh, min(doc_id) AS rep, count(*) AS n
          FROM bl GROUP BY band_idx, bh HAVING count(*) >= 2),
        stars AS MATERIALIZED (
          SELECT b.doc_id AS u, k.rep AS v
          FROM bl b JOIN buckets k USING (band_idx, bh)
          WHERE b.doc_id <> k.rep),
        bi AS MATERIALIZED (SELECT u, v FROM stars UNION ALL SELECT v, u FROM stars),
        walk(u, v) AS (
          SELECT u, v FROM bi
          UNION
          SELECT w.u, b.v FROM walk w JOIN bi b ON w.v = b.u)
        SELECT doc_id, min(reach) AS cluster_id FROM (
          SELECT u AS doc_id, least(u, v) AS reach FROM walk) t
        GROUP BY doc_id ORDER BY doc_id"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    ("dedup_cluster_buckets", clusterBuckets, Some(clusterBucketsSql)),
    ("split_dedup_aware", splitDedupAware, Some(splitDedupAwareSql)),
    ("dedup_soft_weight", softWeight, Some(softWeightSql)))
}
