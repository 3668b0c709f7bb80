package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale a driver-generated sf directory by an integer factor
  * for the empirical scale probe (`BENCH_SF1_r9.json`): every table is
  * unioned `reps` times with CONSISTENT key shifts (orderkey/custkey/
  * suppkey/partkey/doc_id/user_id all move by the same per-replica
  * stride, so intra-replica join relationships are preserved exactly),
  * and the content columns that drive similarity operators are
  * perturbed per replica so the scaled corpus behaves like MORE data,
  * not like 10 exact copies of the same data:
  *
  *   - `documents.text`: replicas > 0 get a replica-unique token
  *     spliced in every 5th word — cross-replica Jaccard drops below
  *     the near-dup thresholds, so dedup candidate volume grows ~10×
  *     like a real corpus, not ~100× like a copy-paste corpus;
  *   - `embeddings.embedding`: replicas > 0 get deterministic per-dim
  *     jitter, so ANN/semantic entries see 10× distinct points.
  *
  * Dims (region, nation) stay fixed, as in TPC-H scaling. Usage:
  *   runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10
  *
  * Optional 4th arg `dense-docs` writes ONLY a documents table whose
  * replicas stay ABOVE the near-dup thresholds (a token spliced every
  * 20th word keeps cross-replica Jaccard ≈ 0.8): every document gains
  * r−1 near-copies, so candidate-pair volume grows ∝ r²·N — the
  * elevated-duplicate-density regime the pair budget exists for
  * (standard mode's every-5th-word splice drops replicas BELOW the
  * thresholds, so density stays flat as the corpus scales). Used by
  * tools/scale_gate.sh's density-stressed leg.
  */
object ScaleUp {

  val Stride = 10000000L // far above every key max in any sf dir

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val reps = args(2).toInt
    val denseDocs = args.length > 3 && args(3) == "dense-docs"
    val spark = Engine.session()

    def replicate(table: String, keyCols: Seq[String],
        perturb: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = table match {
        case "events" => graft.sources.Tables.events(spark, src)
        case _ => spark.read.parquet(s"$src/$table.parquet")
      }
      val scaled = (0 until reps).map { rep =>
        val shifted = keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(rep * Stride))
        }
        perturb(shifted, rep)
      }.reduce(_ unionByName _)
      scaled.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table x$reps written")
    }

    if (denseDocs) {
      replicate("documents", Seq("doc_id"), (df, rep) =>
        if (rep == 0) df
        else df
          // splice only every 20TH word: ~3/20 of the 3-shingles
          // change, cross-replica Jaccard stays ≈ 0.8 — ABOVE the 0.5
          // near-dup thresholds, so the replicas are genuine near-dups
          // and pair volume grows quadratically in the replica count
          .withColumn("text", expr(
            s"""array_join(transform(split(text, ' '), (t, i) ->
                CASE WHEN i % 20 = 0 THEN 'r$rep' || t ELSE t END), ' ')"""))
          .withColumn("n_chars", length(col("text"))))
      spark.stop()
      return
    }

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events", Seq("event_id", "user_id"))
    replicate("documents", Seq("doc_id"), (df, rep) =>
      if (rep == 0) df
      else df
        // prefix a replica-unique fragment onto every 5th word: ~3/5 of
        // the doc's 3-shingles change, dropping cross-replica Jaccard
        // well under the 0.5 near-dup thresholds
        .withColumn("text", expr(
          s"""array_join(transform(split(text, ' '), (t, i) ->
              CASE WHEN i % 5 = 0 THEN 'r$rep' || t ELSE t END), ' ')"""))
        .withColumn("n_chars", length(col("text"))))
    replicate("embeddings", Seq("vec_id"), (df, rep) =>
      if (rep == 0) df
      else df.withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> cast(x + 0.05 * sin(vec_id * 7 + i * 3 + $rep) as float))")))

    spark.stop()
  }
}
