package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Change-data-capture apply — the batch MERGE every warehouse load
  * runs: fold an ordered insert/update/delete log onto a keyed
  * snapshot and emit the post-image. The reference collects per-source
  * metric snapshots on a schedule (collector/internal/collector.go run
  * loop); a storage-owning engine also needs the other direction —
  * applying accumulated changes back onto held state.
  *
  * Scale design (100 TB): last-writer-wins is expressed as ONE
  * hash aggregation — `max(struct(order_key, payload))` — NOT a
  * row_number window. The aggregation combines partially map-side, so
  * the shuffle carries one row per (task, key), never the raw log; a
  * window formulation would shuffle and sort the entire log. The
  * snapshot merge is then a single equi-join on the entity key (AQE
  * broadcasts the small side; at equal scale it's one co-partitioned
  * shuffle join). The oracle RUNS the row_number formulation, so the
  * hash match proves the aggregation ≡ window equivalence.
  */
object Cdc {

  type Q = (SparkSession, String) => DataFrame

  /** Event-type → CDC op mapping (documented contract of the entry):
    * signup = insert, error = tombstone delete, anything else = update
    * of the balance to the event's value. */
  private val opExpr =
    when(col("event_type") === "signup", lit("I"))
      .when(col("event_type") === "error", lit("D"))
      .otherwise(lit("U"))

  def cdcApply: Q = (s, d) => {
    val log = Tables.events(s, d)
      .select(col("user_id").as("entity_key"),
        // second-truncated order key + unique event_id tiebreak: the
        // same total order both engines see (sub-second precision
        // differs across readers; see Tables.events)
        unix_timestamp(col("ts")).as("ord_sec"), col("event_id"),
        opExpr.as("op"), round(col("value"), 2).as("new_bal"))
    val latest = log.groupBy(col("entity_key"))
      .agg(max(struct(col("ord_sec"), col("event_id"), col("op"), col("new_bal"))).as("last"),
        count(lit(1)).as("log_ops"))
      .select(col("entity_key"), col("last.op").as("last_op"),
        col("last.new_bal").as("log_bal"), col("log_ops"))
    val snap = Tables.customer(s, d)
      .select(col("c_custkey").as("entity_key"), round(col("c_acctbal"), 2).as("snap_bal"))
    snap.join(latest, Seq("entity_key"), "full_outer")
      .filter(col("last_op").isNull || col("last_op") =!= "D")
      .select(col("entity_key"),
        coalesce(col("log_bal"), col("snap_bal")).as("balance"),
        coalesce(col("last_op"), lit("-")).as("last_op"),
        coalesce(col("log_ops"), lit(0L)).as("log_ops"))
  }

  val cdcApplySql: String =
    """WITH log AS (
         SELECT user_id AS entity_key,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ord_sec, event_id,
                CASE event_type WHEN 'signup' THEN 'I'
                                WHEN 'error'  THEN 'D' ELSE 'U' END AS op,
                round(value, 2) AS new_bal
         FROM events),
       latest AS (
         SELECT entity_key, op AS last_op, new_bal AS log_bal, log_ops FROM (
           SELECT *,
                  row_number() OVER (PARTITION BY entity_key
                                     ORDER BY ord_sec DESC, event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY entity_key) AS log_ops
           FROM log) r WHERE rn = 1),
       snap AS (
         SELECT c_custkey AS entity_key, round(c_acctbal, 2) AS snap_bal FROM customer)
       SELECT coalesce(s.entity_key, l.entity_key) AS entity_key,
              coalesce(l.log_bal, s.snap_bal) AS balance,
              coalesce(l.last_op, '-') AS last_op,
              coalesce(l.log_ops, 0) AS log_ops
       FROM snap s FULL OUTER JOIN latest l ON s.entity_key = l.entity_key
       WHERE l.last_op IS NULL OR l.last_op <> 'D'
       ORDER BY entity_key"""

  val ReconcileBuckets = 16

  /** Merkle-style snapshot reconciliation — how a replication pipeline
    * PROVES the replica caught up without diffing every row: both
    * sides (the pre-CDC customer snapshot and the CDC-applied state)
    * roll up to per-bucket (count, digest) pairs, where the digest is
    * an order-independent DECIMAL(38,0)/HUGEINT sum of 52-bit row
    * hashes over (key, exact cents). A mismatched bucket localizes
    * the divergence to 1/B of the keyspace; equal digests end the
    * audit at B rows of comparison. Balances hash as exact integer
    * cents, so no float-formatting parity surface exists. */
  def reconcile: Q = (s, d) => {
    def side(df: DataFrame, keyCol: String, balCol: String): DataFrame = {
      val cents = round(col(balCol) * 100).cast("long")
      val h = conv(substring(md5(concat(lit("rc:"), col(keyCol).cast("string"),
        lit(":"), cents.cast("string"))), 1, 13), 16, 10).cast("decimal(38,0)")
      df.select(col(keyCol).as("k"), h.as("h"),
        (conv(substring(md5(concat(lit("rb:"), col(keyCol).cast("string"))), 1, 2), 16, 10)
          .cast("int") % ReconcileBuckets).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("h")).as("dg"))
    }
    val applied = side(
      cdcApply(s, d).select(col("entity_key"), col("balance")), "entity_key", "balance")
      .select(col("bucket"), col("n").as("n_applied"),
        col("dg").cast("string").as("digest_applied"))
    val snap = side(
      Tables.customer(s, d).select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal")),
      "c_custkey", "bal")
      .select(col("bucket"), col("n").as("n_snapshot"),
        col("dg").cast("string").as("digest_snapshot"))
    snap.join(applied, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_snapshot"), lit(0L)).as("n_snapshot"),
        coalesce(col("digest_snapshot"), lit("0")).as("digest_snapshot"),
        coalesce(col("n_applied"), lit(0L)).as("n_applied"),
        coalesce(col("digest_applied"), lit("0")).as("digest_applied"))
      .withColumn("in_sync",
        col("n_snapshot") === col("n_applied")
          && col("digest_snapshot") === col("digest_applied"))
  }

  val reconcileSql: String = {
    def sideSql(src: String, key: String, bal: String) =
      s"""SELECT ('0x' || substr(md5('rb:' || CAST($key AS VARCHAR)), 1, 2))::INT
                   % $ReconcileBuckets AS bucket,
                 count(*) AS n,
                 CAST(sum(CAST(('0x' || substr(md5('rc:' || CAST($key AS VARCHAR) || ':'
                   || CAST(CAST(round($bal * 100) AS BIGINT) AS VARCHAR)), 1, 13))::BIGINT
                   AS HUGEINT)) AS VARCHAR) AS dg
          FROM $src GROUP BY 1"""
    s"""WITH applied_rows AS (${cdcApplySql.replace("ORDER BY entity_key", "")}),
        a AS (${sideSql("applied_rows", "entity_key", "balance")}),
        sn AS (${sideSql("(SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer) t",
          "c_custkey", "bal")})
        SELECT COALESCE(sn.bucket, a.bucket) AS bucket,
               COALESCE(sn.n, 0) AS n_snapshot,
               COALESCE(sn.dg, '0') AS digest_snapshot,
               COALESCE(a.n, 0) AS n_applied,
               COALESCE(a.dg, '0') AS digest_applied,
               COALESCE(sn.n, 0) = COALESCE(a.n, 0)
                 AND COALESCE(sn.dg, '0') = COALESCE(a.dg, '0') AS in_sync
        FROM sn FULL OUTER JOIN a ON sn.bucket = a.bucket
        ORDER BY bucket"""
  }

  /** Late-arriving change application — the hard case of incremental
    * SCD2 maintenance: a second batch of changes whose timestamps fall
    * BEFORE already-applied ones must retroactively splice existing
    * validity intervals (an already-closed interval's valid_to moves
    * earlier; an open one closes). The entry applies the log in two
    * batches INCREMENTALLY — batch 1 builds interval state; batch 2
    * touches only the entities it mentions (semi/anti joins on the
    * entity key), replaying just their merged per-entity history —
    * and the DuckDB oracle builds the intervals from the FULL log in
    * one shot, so the hash match IS the proof that incremental
    * maintenance with late data equals the rebuild.
    *
    * Scale shape: cost of the increment ∝ the affected entities'
    * history + the delta (one semi + one anti join on the entity key),
    * never a corpus rebuild; per-entity windows partition on the
    * entity key. The batch split (event_id % 5) interleaves
    * timestamps, so batch 2 is genuinely late, not merely appended. */
  def cdcLateArriving: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val log = Tables.events(s, d)
      .select(col("user_id").as("entity_key"),
        unix_timestamp(col("ts")).as("ord_sec"), col("event_id"),
        round(col("value"), 2).as("bal"))
    val batch1 = log.filter(col("event_id") % 5 =!= 0)
    val batch2 = log.filter(col("event_id") % 5 === 0)
    def intervals(changes: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("entity_key"))
        .orderBy(col("ord_sec"), col("event_id"))
      changes.select(col("entity_key"), col("ord_sec"), col("event_id"), col("bal"),
        lead(col("ord_sec"), 1).over(w).as("to_sec"))
        .select(col("entity_key"), col("ord_sec").as("from_sec"),
          col("event_id"), col("bal").as("balance"), col("to_sec"))
    }
    val state1 = graft.Checkpoints.cut(intervals(batch1))
    val affected = batch2.select(col("entity_key")).distinct()
    val unaffected = state1.join(affected, Seq("entity_key"), "left_anti")
    val replay = state1.join(affected, Seq("entity_key"), "left_semi")
      .select(col("entity_key"), col("from_sec").as("ord_sec"),
        col("event_id"), col("balance").as("bal"))
      .union(batch2.select(col("entity_key"), col("ord_sec"), col("event_id"), col("bal")))
    unaffected.union(intervals(replay))
  }

  /** One-shot rebuild over the full log — incremental must equal this. */
  val cdcLateArrivingSql: String =
    """WITH log AS (
         SELECT user_id AS entity_key,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ord_sec,
                event_id, round(value, 2) AS bal
         FROM events)
       SELECT entity_key, ord_sec AS from_sec, event_id, bal AS balance,
              lead(ord_sec) OVER (PARTITION BY entity_key
                                  ORDER BY ord_sec, event_id) AS to_sec
       FROM log
       ORDER BY entity_key, from_sec, event_id"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("cdc_apply", cdcApply, Some(cdcApplySql)),
    ("cdc_late_arriving", cdcLateArriving, Some(cdcLateArrivingSql)),
    ("cdc_reconcile", reconcile, Some(reconcileSql)))
}
