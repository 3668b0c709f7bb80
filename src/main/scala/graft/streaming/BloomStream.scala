package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** LIVE bloom-gated ingestion dedup — the bounded-memory primitive an
  * ingestion pipeline runs BEFORE the expensive exact/near-dup passes:
  * a fixed m-bit filter absorbs every arriving document's k content
  * positions, and a document whose k bits are ALL already set when it
  * arrives is flagged a duplicate SUSPECT (maybe a true dup, maybe a
  * bloom false positive — the downstream exact pass decides; the
  * filter guarantees no false NEGATIVES). State is exactly m bits per
  * stream — O(1) in corpus size, the property that lets this run
  * unbounded at ingestion (contrast `dedup_incremental`, whose probe
  * is per-batch but whose index is corpus-sized).
  *
  * Arrival order is doc_id order (the ingestion contract), which makes
  * the verdict DETERMINISTIC and batch-replayable: doc d is a suspect
  * iff every one of its positions is claimed by some document with a
  * smaller doc_id — in batch form, `min(doc_id) per position < d` for
  * ALL k positions. The registered batch twin computes exactly that
  * (one groupBy(position) + one per-doc min — two shuffles, both on
  * bounded keys: positions live in [0, m)), the DuckDB oracle replays
  * it, and BloomStreamSpec proves a real three-chunk MemoryStream run
  * through the m-bit state lands on the batch ledger row for row.
  *
  * Positions are three 8-hex slices of ONE md5(text) reduced mod m —
  * the `bloom_join_prune`/`dedup_bloom_prefilter` idiom, engine-exact.
  */
object BloomStream {

  type Q = (SparkSession, String) => DataFrame

  val M = 2048
  val K = 3

  case class BloomDoc(doc_id: Long, source: String, text: String)
  case class BloomBits(bits: Array[Long]) // m/64 words
  case class BloomVerdict(doc_id: Long, source: String, suspect: Boolean)

  private def posExprs: Seq[String] =
    (0 until K).map(i =>
      s"cast(conv(substr(md5(text), ${i * 8 + 1}, 8), 16, 10) as bigint) % $M")

  /** positions of one document — the streaming side's hash, kept
    * byte-identical to the batch/oracle expression (md5 hex slices). */
  def positions(text: String): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until K).map(i =>
      (java.lang.Long.parseLong(hex.substring(i * 8, i * 8 + 8), 16) % M).toInt)
  }

  /** One global m-bit filter (single group key): per arriving doc,
    * check ALL k bits BEFORE setting any (a doc cannot suspect
    * itself), then absorb. Iterator order within a chunk is arrival
    * order — the ingestion contract feeds doc_id order. */
  def bloomStream(docs: Dataset[BloomDoc]): Dataset[BloomVerdict] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_ => "global")
      .flatMapGroupsWithState[BloomBits, BloomVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, chunk: Iterator[BloomDoc], state: GroupState[BloomBits]) =>
          val bits = state.getOption.map(_.bits.clone())
            .getOrElse(Array.fill(M / 64)(0L))
          def isSet(p: Int) = (bits(p >> 6) & (1L << (p & 63))) != 0
          def set(p: Int): Unit = bits(p >> 6) |= 1L << (p & 63)
          val out = chunk.toSeq.sortBy(_.doc_id).map { d =>
            val ps = positions(d.text)
            val suspect = ps.forall(isSet)
            ps.foreach(set)
            BloomVerdict(d.doc_id, d.source, suspect)
          }
          state.update(BloomBits(bits))
          out.iterator
      }
  }

  /** Batch twin — the replay of the arrival-ordered filter: a doc is a
    * suspect iff min(doc_id) over each of its positions is strictly
    * smaller than its own. Aggregated per source for a bounded ledger. */
  def bloomDedup: Q = (s, d) => {
    val pos = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(array(posExprs.map(expr): _*)).as("pos"))
    val first = pos.groupBy(col("pos")).agg(min(col("doc_id")).as("first_doc"))
    pos.join(broadcast(first), Seq("pos")) // ≤ m rows: broadcast by construction
      .groupBy(col("doc_id"), col("source"))
      .agg(min(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L))
        .as("suspect"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("suspect")).as("n_bloom_dup_suspect"))
  }

  val bloomDedupSql: String = {
    val posList = (0 until K)
      .map(i => s"('0x' || substr(md5(text), ${i * 8 + 1}, 8))::BIGINT % $M")
      .mkString("[", ", ", "]")
    s"""WITH pos AS (
          SELECT doc_id, source, unnest($posList) AS pos FROM documents),
        first AS (SELECT pos, min(doc_id) AS first_doc FROM pos GROUP BY pos),
        perdoc AS (
          SELECT p.doc_id, p.source,
                 min(CASE WHEN f.first_doc < p.doc_id THEN 1 ELSE 0 END) AS suspect
          FROM pos p JOIN first f ON p.pos = f.pos
          GROUP BY p.doc_id, p.source)
        SELECT source, count(*) AS n_docs,
               CAST(sum(suspect) AS BIGINT) AS n_bloom_dup_suspect
        FROM perdoc GROUP BY source ORDER BY source"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("stream_bloom_dedup", bloomDedup, Some(bloomDedupSql)))
}
