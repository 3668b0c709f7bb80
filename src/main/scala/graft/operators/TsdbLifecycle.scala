package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TSDB lifecycle semantics — what the RECEIVING end of the reference's
  * remote-write push (collector/internal/utils/prometheus.go:23-120
  * produces the TimeSeries frames; a Prometheus-compatible TSDB ingests
  * them) does with the samples: out-of-order admission against the head,
  * 2-hour block cutting with ×4 range compaction, retention enforcement,
  * and head chunk layout. All rules are the published Prometheus TSDB
  * defaults (out_of_order_time_window, 2h block range, 120-sample XOR
  * chunks, time-based retention); re-expressed here as batch audits over
  * the `events` table viewed as (series = event_type, ts, arrival =
  * event_id).
  *
  * Scale design (100 TB): every operator is one scan + keyed windows or
  * aggregations. Admission and chunk windows partition by series (and
  * block), never a global sort; block/parent tables are time-domain
  * sized (|span|/2h rows), analysis-plane data at any corpus size.
  */
object TsdbLifecycle {

  type Q = (SparkSession, String) => DataFrame

  private val esCol = expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)")
  private val esSql = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"

  /** Samples in arrival order: the push stream the reference emits,
    * keyed by series with event_id as the arrival sequence. */
  private def samples(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_type").as("series"), esCol.as("es"), col("event_id").as("arrival"))

  private val samplesSql =
    s"SELECT event_type AS series, $esSql AS es, event_id AS arrival FROM events"

  // ------------------------------------------------ OOO ingest window

  /** Out-of-order admission (storage.tsdb.out_of_order_time_window = 1h):
    * a sample is accepted iff its timestamp is not more than the OOO
    * window behind the series head (max timestamp seen so far in arrival
    * order). The head recurrence looks sequential, but a REJECTED sample
    * can never advance the head (its es < head − window ≤ head), so the
    * running max over ALL arrivals equals the running max over accepted
    * ones — the admission rule is exactly one partitioned window, no
    * per-row state loop. Per series: accepted/rejected counts and how
    * far back the worst rejected sample pointed. */
  def oooIngest: Q = (s, d) => {
    val w = Window.partitionBy(col("series")).orderBy(col("arrival"))
      .rowsBetween(Window.unboundedPreceding, -1)
    samples(s, d)
      .withColumn("head", max(col("es")).over(w))
      .withColumn("accepted",
        col("head").isNull || col("es") >= col("head") - lit(3600L))
      .groupBy(col("series"))
      .agg(count(lit(1)).as("n_samples"),
        count(when(col("accepted"), 1)).as("n_accepted"),
        count(when(!col("accepted"), 1)).as("n_rejected"),
        coalesce(max(when(!col("accepted"), col("head") - col("es"))), lit(0L))
          .as("worst_backward_s"))
  }

  val oooIngestSql: String =
    s"""WITH smp AS ($samplesSql),
       h AS (
         SELECT series, es,
                max(es) OVER (PARTITION BY series ORDER BY arrival
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  AS head
         FROM smp),
       a AS (
         SELECT series, es, head,
                (head IS NULL OR es >= head - 3600) AS accepted
         FROM h)
       SELECT series, count(*) AS n_samples,
              count(*) FILTER (WHERE accepted) AS n_accepted,
              count(*) FILTER (WHERE NOT accepted) AS n_rejected,
              coalesce(max(head - es) FILTER (WHERE NOT accepted), 0)
                AS worst_backward_s
       FROM a GROUP BY series ORDER BY series"""

  // ------------------------------------------------ block compaction plan

  /** Block cut + level-2 compaction plan: samples land in wall-aligned
    * 2h blocks (floor(es/7200)); the compactor plans a merge for every
    * ×4 parent range (8h) holding at least two child blocks — the
    * Prometheus range ladder (2h → 8h → 32h). One aggregation to the
    * block grain, one to the parent grain: both time-domain sized. */
  def blockPlan: Q = (s, d) => {
    val blocks = samples(s, d)
      .groupBy(expr("es div 7200").as("block_id"), col("series"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("block_id"))
      .agg(sum(col("n")).as("n_samples"), count(lit(1)).as("n_series"))
    blocks
      .groupBy(expr("block_id div 4").as("parent_id"))
      .agg(count(lit(1)).as("n_child_blocks"),
        sum(col("n_samples")).as("total_samples"),
        min(col("block_id")).as("first_block"),
        max(col("block_id")).as("last_block"))
      .withColumn("decision",
        when(col("n_child_blocks") >= 2, lit("compact")).otherwise(lit("leave")))
  }

  val blockPlanSql: String =
    s"""WITH smp AS ($samplesSql),
       pb AS (
         SELECT es // 7200 AS block_id, series, count(*) AS n
         FROM smp GROUP BY 1, 2),
       blocks AS (
         SELECT block_id, CAST(sum(n) AS BIGINT) AS n_samples,
                count(*) AS n_series
         FROM pb GROUP BY 1)
       SELECT block_id // 4 AS parent_id, count(*) AS n_child_blocks,
              CAST(sum(n_samples) AS BIGINT) AS total_samples,
              min(block_id) AS first_block, max(block_id) AS last_block,
              CASE WHEN count(*) >= 2 THEN 'compact' ELSE 'leave' END AS decision
       FROM blocks GROUP BY 1 ORDER BY parent_id"""

  // ------------------------------------------------ retention enforcement

  /** Time-based retention: a block is deleted only when its ENTIRE range
    * is older than (newest sample − retention); a straddling block stays
    * until fully expired — Prometheus deletes whole blocks, never rows.
    * The boundary is one no-grouping aggregate (a single row, broadcast
    * by the nested-loop join), so no corpus data moves. */
  def retention: Q = (s, d) => {
    val blocks = samples(s, d)
      .groupBy(expr("es div 7200").as("block_id"))
      .agg(count(lit(1)).as("n_samples"), max(col("es")).as("block_max_es"))
    val boundary = samples(s, d).agg(max(col("es")).as("newest_es"))
      .select((col("newest_es") - lit(6L * 86400L)).as("boundary_es"))
    blocks.crossJoin(boundary)
      .withColumn("decision",
        when((col("block_id") + 1) * lit(7200L) - 1 < col("boundary_es"),
          lit("delete")).otherwise(lit("keep")))
      .select(col("block_id"), col("n_samples"), col("block_max_es"),
        col("boundary_es"), col("decision"))
  }

  val retentionSql: String =
    s"""WITH smp AS ($samplesSql),
       blocks AS (
         SELECT es // 7200 AS block_id, count(*) AS n_samples,
                max(es) AS block_max_es
         FROM smp GROUP BY 1),
       b AS (SELECT max(es) - 6 * 86400 AS boundary_es FROM smp)
       SELECT block_id, n_samples, block_max_es, boundary_es,
              CASE WHEN (block_id + 1) * 7200 - 1 < boundary_es
                   THEN 'delete' ELSE 'keep' END AS decision
       FROM blocks, b ORDER BY block_id"""

  // ------------------------------------------------ head chunk layout

  /** Head chunk layout: within (series, 2h block) a chunk closes after
    * 120 samples (the XOR-chunk default), so chunk index is a plain
    * row_number division inside a partitioned window. Per series:
    * chunk count, full-chunk count, and the average fill as one exact
    * integer ratio truncated once. */
  def headChunks: Q = (s, d) => {
    val w = Window.partitionBy(col("series"), col("block_id"))
      .orderBy(col("es"), col("arrival"))
    val chunks = samples(s, d)
      .withColumn("block_id", expr("es div 7200"))
      .withColumn("rn0", (row_number().over(w) - 1).cast("long"))
      .withColumn("chunk", expr("rn0 div 120"))
      .groupBy(col("series"), col("block_id"), col("chunk"))
      .agg(count(lit(1)).as("chunk_samples"))
    chunks.groupBy(col("series"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_samples")).as("n_samples"),
        count(when(col("chunk_samples") === 120, 1)).as("n_full_chunks"),
        max(col("chunk_samples")).as("max_chunk_fill"))
      .withColumn("avg_fill_x100", expr("n_samples * 100 div n_chunks"))
  }

  val headChunksSql: String =
    s"""WITH smp AS ($samplesSql),
       numbered AS (
         SELECT series, es // 7200 AS block_id,
                (row_number() OVER (PARTITION BY series, es // 7200
                                    ORDER BY es, arrival) - 1) // 120 AS chunk
         FROM smp),
       chunks AS (
         SELECT series, block_id, chunk, count(*) AS chunk_samples
         FROM numbered GROUP BY 1, 2, 3)
       SELECT series, count(*) AS n_chunks,
              CAST(sum(chunk_samples) AS BIGINT) AS n_samples,
              count(*) FILTER (WHERE chunk_samples = 120) AS n_full_chunks,
              CAST(max(chunk_samples) AS BIGINT) AS max_chunk_fill,
              CAST(sum(chunk_samples) AS BIGINT) * 100 // count(*) AS avg_fill_x100
       FROM chunks GROUP BY series ORDER BY series"""

  // ------------------------------------------------ tombstones

  /** Deletion tombstones: a delete request marks (series, interval)
    * ranges; reads skip tombstoned samples immediately, but storage is
    * reclaimed only when compaction rewrites the block — so the audit
    * is per 2h block: tombstoned vs remaining samples, and whether the
    * block is now fully deletable. The three-request fixture (one
    * bounded range, one whole-span series kill, one narrow window) is
    * inlined as ONE projection over the scan — offsets anchor to the
    * corpus start (a one-row aggregate), no per-sample join or
    * re-aggregation. */
  def tombstones: Q = (s, d) => {
    val t0 = samples(s, d).agg(min(col("es")).as("t0"))
    samples(s, d).crossJoin(t0)
      .withColumn("block_id", expr("es div 7200"))
      .withColumn("tombstoned",
        (col("series") === "error" &&
          col("es") >= col("t0") + lit(5L * 86400) &&
          col("es") < col("t0") + lit(12L * 86400)) ||
          col("series") === "click" ||
          (col("series") === "view" &&
            col("es") >= col("t0") + lit(20L * 86400) &&
            col("es") < col("t0") + lit(22L * 86400)))
      .groupBy(col("block_id"))
      .agg(count(lit(1)).as("n_samples"),
        count(when(col("tombstoned"), 1)).as("n_tombstoned"))
      .withColumn("n_remaining", col("n_samples") - col("n_tombstoned"))
      .withColumn("fully_deletable", col("n_remaining") === 0L)
  }

  val tombstonesSql: String =
    s"""WITH smp AS ($samplesSql),
       t0 AS (SELECT min(es) AS t0 FROM smp),
       f AS (
         SELECT es // 7200 AS block_id,
                ((series = 'error' AND es >= t0 + 5 * 86400
                                   AND es < t0 + 12 * 86400)
                 OR series = 'click'
                 OR (series = 'view' AND es >= t0 + 20 * 86400
                                     AND es < t0 + 22 * 86400)) AS tombstoned
         FROM smp, t0)
       SELECT block_id, count(*) AS n_samples,
              count(*) FILTER (WHERE tombstoned) AS n_tombstoned,
              count(*) - count(*) FILTER (WHERE tombstoned) AS n_remaining,
              (count(*) = count(*) FILTER (WHERE tombstoned)) AS fully_deletable
       FROM f GROUP BY block_id ORDER BY block_id"""

  // --------------------------------------- timestamp DoD encoding

  /** Delta-of-delta varbit timestamp encoding — the Prometheus chunk
    * format's timestamp half (tsdb/chunkenc/xor.go, the Gorilla paper's
    * §4.1.1): within a chunk, sample 1 stores the full timestamp,
    * sample 2 the delta, and every later sample the delta-of-delta in
    * the smallest of four varbit classes:
    *   dod = 0                    → 1 bit ('0')
    *   dod ∈ [−8191, 8192]        → 2+14 bits ('10')
    *   dod ∈ [−65535, 65536]      → 3+17 bits ('110')
    *   dod ∈ [−524287, 524288]    → 4+20 bits ('1110')
    *   else                       → 4+64 bits ('1111')
    * A perfectly regular scrape encodes every sample after the second
    * in ONE bit — the jitter distribution decides the real footprint.
    * This audit tabulates the class histogram and bits-per-sample per
    * series (first/second samples modeled at the fixed 64-bit width;
    * the varint header is ≤64 and constant per chunk — documented
    * simplification). All arithmetic is integer; the ledger is what a
    * capacity planner reads to size a 100 TB store's chunk footprint.
    * Samples order by (es, arrival) per series — the time-sorted chunk
    * layout, one partitioned window, no state loop. */
  def dodTimestamps: Q = (s, d) => {
    val w = Window.partitionBy(col("series")).orderBy(col("es"), col("arrival"))
    val cls = samples(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("delta", col("es") - lag(col("es"), 1).over(w))
      .withColumn("dod", col("delta") - lag(col("delta"), 1).over(w))
      .withColumn("bits", expr(
        """CASE WHEN rn <= 2 THEN 64
                WHEN dod = 0 THEN 1
                WHEN dod BETWEEN -8191 AND 8192 THEN 16
                WHEN dod BETWEEN -65535 AND 65536 THEN 20
                WHEN dod BETWEEN -524287 AND 524288 THEN 24
                ELSE 68 END"""))
    cls.groupBy(col("series"))
      .agg(count(lit(1)).as("n_samples"),
        count(when(col("rn") > 2 && col("dod") === 0, 1)).as("n_dod0"),
        count(when(col("rn") > 2 && col("bits") === 16, 1)).as("n_bits14"),
        count(when(col("rn") > 2 && col("bits") === 20, 1)).as("n_bits17"),
        count(when(col("rn") > 2 && col("bits") === 24, 1)).as("n_bits20"),
        count(when(col("rn") > 2 && col("bits") === 68, 1)).as("n_bits64"),
        sum(col("bits")).as("total_bits"))
      .withColumn("bits_per_sample_x100",
        expr("total_bits * 100 div n_samples"))
      .withColumn("compression_x100",
        expr("n_samples * 64 * 100 div total_bits"))
  }

  val dodTimestampsSql: String =
    s"""WITH smp AS ($samplesSql),
        cls AS (
          SELECT series,
                 row_number() OVER (PARTITION BY series ORDER BY es, arrival) AS rn,
                 es - lag(es) OVER (PARTITION BY series ORDER BY es, arrival) AS delta
          FROM smp),
        dd AS (
          SELECT series, rn,
                 delta - lag(delta) OVER (PARTITION BY series ORDER BY rn) AS dod
          FROM cls),
        b AS (
          SELECT series, rn, dod,
                 CASE WHEN rn <= 2 THEN 64
                      WHEN dod = 0 THEN 1
                      WHEN dod BETWEEN -8191 AND 8192 THEN 16
                      WHEN dod BETWEEN -65535 AND 65536 THEN 20
                      WHEN dod BETWEEN -524287 AND 524288 THEN 24
                      ELSE 68 END AS bits
          FROM dd)
        SELECT series, count(*) AS n_samples,
               count(*) FILTER (WHERE rn > 2 AND dod = 0) AS n_dod0,
               count(*) FILTER (WHERE rn > 2 AND bits = 16) AS n_bits14,
               count(*) FILTER (WHERE rn > 2 AND bits = 20) AS n_bits17,
               count(*) FILTER (WHERE rn > 2 AND bits = 24) AS n_bits20,
               count(*) FILTER (WHERE rn > 2 AND bits = 68) AS n_bits64,
               CAST(sum(bits) AS BIGINT) AS total_bits,
               CAST(sum(bits) * 100 // count(*) AS BIGINT) AS bits_per_sample_x100,
               CAST(count(*) * 64 * 100 // sum(bits) AS BIGINT) AS compression_x100
        FROM b GROUP BY series ORDER BY series"""

  // ----------------------------------------------------- WAL replay

  /** WAL segment size for the replay audit (records per segment). */
  val WalSegRecords = 1000L
  /** Prometheus keeps the last 3 WAL segments out of every checkpoint. */
  val WalKeepSegments = 3L

  /** WAL replay accounting — what `tsdb.Open` does on restart (tsdb/
    * wal/watcher + head replay): walk segments in order, re-create each
    * series at its FIRST record, append samples. Per segment: record
    * count, series created there (the series-record write), the running
    * series total a replayer holds after the segment, and whether a
    * checkpoint would have folded the segment (all but the newest
    * [[WalKeepSegments]]). Segmentation is `arrival div 1000` — the
    * append-order record grid, no density assumption on ids. The
    * series→first-segment map is one aggregation; per-segment rollup a
    * second; the running total a window over the |segments|-row frame. */
  def walReplay: Q = (s, d) => {
    val smp = samples(s, d).withColumn("seg", expr(s"arrival div $WalSegRecords"))
    val firstSeg = smp.groupBy(col("series"))
      .agg(min(col("seg")).as("first_seg"))
      .groupBy(col("first_seg")).agg(count(lit(1)).as("n_series_created"))
    val perSeg = smp.groupBy(col("seg")).agg(count(lit(1)).as("n_records"))
      .join(firstSeg, col("seg") === col("first_seg"), "left")
      .select(col("seg"), col("n_records"),
        coalesce(col("n_series_created"), lit(0L)).as("n_series_created"))
    val w = Window.orderBy(col("seg"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perSeg
      .withColumn("series_after_replay", sum(col("n_series_created")).over(w))
      .withColumn("max_seg", max(col("seg")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("seg"), col("n_records"), col("n_series_created"),
        col("series_after_replay"),
        (col("seg") <= col("max_seg") - lit(WalKeepSegments)).as("checkpointed"))
  }

  val walReplaySql: String =
    s"""WITH smp AS (SELECT t.*, arrival // $WalSegRecords AS seg FROM ($samplesSql) t),
        fs AS (
          SELECT first_seg, count(*) AS n_series_created FROM (
            SELECT series, min(seg) AS first_seg FROM smp GROUP BY series) f
          GROUP BY first_seg),
        per AS (
          SELECT p.seg, p.n_records,
                 COALESCE(fs.n_series_created, 0) AS n_series_created
          FROM (SELECT seg, count(*) AS n_records FROM smp GROUP BY seg) p
          LEFT JOIN fs ON fs.first_seg = p.seg)
        SELECT seg, n_records, n_series_created,
               CAST(sum(n_series_created) OVER (ORDER BY seg
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS series_after_replay,
               seg <= max(seg) OVER () - $WalKeepSegments AS checkpointed
        FROM per ORDER BY seg"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("tsdb_dod_timestamps", dodTimestamps, Some(dodTimestampsSql)),
    ("tsdb_wal_replay", walReplay, Some(walReplaySql)),
    ("tsdb_ooo_ingest", oooIngest, Some(oooIngestSql)),
    ("tsdb_tombstones", tombstones, Some(tombstonesSql)),
    ("tsdb_block_plan", blockPlan, Some(blockPlanSql)),
    ("tsdb_retention", retention, Some(retentionSql)),
    ("tsdb_head_chunks", headChunks, Some(headChunksSql)))
}
