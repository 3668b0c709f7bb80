package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Alertmanager routing semantics over the alert stream a collector's
  * metrics feed (collector/internal/utils/prometheus.go:23-120) turns
  * into firing alerts downstream: notification grouping
  * (group_by/group_wait/group_interval), inhibition rules
  * (source_matchers mute target_matchers on equal labels), and silences
  * (matcher sets over a time range). All three are the published
  * Alertmanager config semantics, re-expressed as deterministic batch
  * audits so each decision is reproducible from the event log.
  *
  * Alert derivation (shared): an event with value ≥ 100 fires an alert
  * with labels alertname = event_type, instance = 'u'||(user_id%10),
  * severity = critical when value ≥ 200 else warning.
  *
  * Scale design (100 TB): grouping is per-alertname windows; inhibition
  * joins warnings to PER-CELL AGGREGATES of critical activity on a 6h
  * grid (≤2 candidate cells per warning, so fanout is constant — never
  * warnings × criticals); silences are a 3-row literal broadcast.
  */
object AlertRoute {

  type Q = (SparkSession, String) => DataFrame

  private val esSql = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"

  private def alerts(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("value") >= 100)
      .select(col("event_id"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) as bigint)").as("es"),
        col("event_type").as("alertname"),
        concat(lit("u"), (col("user_id") % 10).cast("string")).as("instance"),
        when(col("value") >= 200, lit("critical")).otherwise(lit("warning"))
          .as("severity"))

  private val alertsSql =
    s"""SELECT event_id, $esSql AS es, event_type AS alertname,
               'u' || CAST(user_id % 10 AS VARCHAR) AS instance,
               CASE WHEN value >= 200 THEN 'critical' ELSE 'warning' END
                 AS severity
        FROM events WHERE value >= 100"""

  // ------------------------------------------------ notification grouping

  /** Notification batching under group_by: [alertname], group_wait = 30s,
    * group_interval = 300s — the deterministic grid form: the group's
    * first alert opens it at t0; the first notification flushes at
    * t0+30s with everything that arrived before it; later arrivals land
    * in fixed 300s interval slots. Per (alertname, batch): size, critical
    * share, and the flush timestamp. The only window is min(es) per
    * alertname. */
  def groupWait: Q = (s, d) => {
    val w = Window.partitionBy(col("alertname"))
    alerts(s, d)
      .withColumn("t0", min(col("es")).over(w))
      .withColumn("batch",
        when(col("es") < col("t0") + 30, lit(0L))
          .otherwise(expr("(es - t0 - 30) div 300") + 1L))
      .groupBy(col("alertname"), col("batch"))
      .agg(count(lit(1)).as("n_alerts"),
        count(when(col("severity") === "critical", 1)).as("n_critical"),
        (min(col("t0")) + 30 + col("batch") * 300).as("flush_es"))
  }

  val groupWaitSql: String =
    s"""WITH a AS ($alertsSql),
       g AS (
         SELECT alertname, severity, es,
                min(es) OVER (PARTITION BY alertname) AS t0
         FROM a),
       b AS (
         SELECT alertname, severity, es, t0,
                CASE WHEN es < t0 + 30 THEN 0
                     ELSE (es - t0 - 30) // 300 + 1 END AS batch
         FROM g)
       SELECT alertname, batch, count(*) AS n_alerts,
              count(*) FILTER (WHERE severity = 'critical') AS n_critical,
              min(t0) + 30 + batch * 300 AS flush_es
       FROM b GROUP BY alertname, batch ORDER BY alertname, batch"""

  // ------------------------------------------------ inhibition

  /** Inhibition: source_matchers severity=critical mute target_matchers
    * severity=warning on equal [alertname, instance], while the source
    * is active — here "active" = a critical fired within the 6h before
    * the warning. Critical activity is aggregated to (key, 6h cell)
    * min/max timestamps first; a warning probes only its own cell and
    * the previous one, and [es−21600, es] ∩ cell ≠ ∅ reduces exactly to
    * cell_min ≤ es AND cell_max ≥ es−21600 — constant fanout per
    * warning, never a warnings × criticals pair join. */
  def inhibition: Q = (s, d) => {
    val a = alerts(s, d)
    val critCells = a.filter(col("severity") === "critical")
      .groupBy(col("alertname"), col("instance"), expr("es div 21600").as("cell"))
      .agg(min(col("es")).as("cmin"), max(col("es")).as("cmax"))
    val warn = a.filter(col("severity") === "warning")
      .withColumn("cell", explode(array(expr("es div 21600"), expr("es div 21600 - 1"))))
    val flagged = warn
      .join(critCells, Seq("alertname", "instance", "cell"), "left")
      .groupBy(col("alertname"), col("instance"), col("event_id"))
      .agg(max(when(col("cmin") <= col("es") && col("cmax") >= col("es") - 21600, 1)
        .otherwise(0)).as("inhibited"))
    flagged.groupBy(col("alertname"), col("instance"))
      .agg(count(lit(1)).as("n_warnings"), sum(col("inhibited")).as("n_inhibited"))
  }

  val inhibitionSql: String =
    s"""WITH a AS ($alertsSql),
       cc AS (
         SELECT alertname, instance, es // 21600 AS cell,
                min(es) AS cmin, max(es) AS cmax
         FROM a WHERE severity = 'critical' GROUP BY 1, 2, 3),
       w AS (
         SELECT alertname, instance, event_id, es,
                unnest([es // 21600, es // 21600 - 1]) AS cell
         FROM a WHERE severity = 'warning'),
       f AS (
         SELECT w.alertname, w.instance, w.event_id,
                max(CASE WHEN cc.cmin <= w.es AND cc.cmax >= w.es - 21600
                         THEN 1 ELSE 0 END) AS inhibited
         FROM w LEFT JOIN cc
           ON w.alertname = cc.alertname AND w.instance = cc.instance
              AND w.cell = cc.cell
         GROUP BY 1, 2, 3)
       SELECT alertname, instance, count(*) AS n_warnings,
              CAST(sum(inhibited) AS BIGINT) AS n_inhibited
       FROM f GROUP BY 1, 2 ORDER BY alertname, instance"""

  // ------------------------------------------------ silences

  /** Silences: three matcher kinds (=, !=, =~ anchored) over alertname,
    * each active on a [start, end) offset window from the feed's first
    * alert. An alert is silenced by the FIRST (lowest-id) matching
    * silence. The silence table is a literal broadcast; the feed start
    * is a one-row aggregate. */
  def silenceMatch: Q = (s, d) => {
    val sil = s.createDataFrame(Seq(
      (1L, "eq", "error", 0L, 43200L),
      (2L, "re", "^(click|view)$", 86400L, 259200L),
      (3L, "neq", "purchase", 1296000L, 1382400L)))
      .toDF("silence_id", "kind", "pattern", "start_off", "end_off")
    val a = alerts(s, d)
    val t0 = a.agg(min(col("es")).as("feed_t0"))
    val matched = a.crossJoin(t0).crossJoin(broadcast(sil))
      .withColumn("matches",
        col("es") >= col("feed_t0") + col("start_off") &&
          col("es") < col("feed_t0") + col("end_off") && (
          (col("kind") === "eq" && col("alertname") === col("pattern")) ||
            (col("kind") === "neq" && col("alertname") =!= col("pattern")) ||
            // the regexp comes from the pattern COLUMN (non-constant
            // rlike), so the silence table is the single source of
            // truth — a literal spelled twice is a drift hazard
            (col("kind") === "re" && expr("alertname rlike pattern"))))
      .groupBy(col("alertname"), col("event_id"))
      .agg(min(when(col("matches"), col("silence_id"))).as("first_silence"))
    matched.groupBy(col("alertname"))
      .agg(count(lit(1)).as("n_alerts"),
        count(col("first_silence")).as("n_silenced"),
        coalesce(min(col("first_silence")), lit(0L)).as("min_silence_id"))
  }

  val silenceMatchSql: String =
    s"""WITH a AS ($alertsSql),
       sil(silence_id, kind, pattern, start_off, end_off) AS (
         VALUES (1, 'eq', 'error', 0, 43200),
                (2, 're', '^(click|view)$$', 86400, 259200),
                (3, 'neq', 'purchase', 1296000, 1382400)),
       t0 AS (SELECT min(es) AS feed_t0 FROM a),
       m AS (
         SELECT a.alertname, a.event_id,
                min(CASE WHEN a.es >= t0.feed_t0 + sil.start_off
                          AND a.es < t0.feed_t0 + sil.end_off
                          AND ((sil.kind = 'eq' AND a.alertname = sil.pattern)
                            OR (sil.kind = 'neq' AND a.alertname <> sil.pattern)
                            OR (sil.kind = 're'
                                AND regexp_matches(a.alertname, sil.pattern)))
                         THEN sil.silence_id END) AS first_silence
         FROM a, t0, sil
         GROUP BY 1, 2)
       SELECT alertname, count(*) AS n_alerts,
              count(first_silence) AS n_silenced,
              CAST(coalesce(min(first_silence), 0) AS BIGINT) AS min_silence_id
       FROM m GROUP BY alertname ORDER BY alertname"""

  // ------------------------------------------------ routing tree

  /** Routing-tree dispatch — the config block between grouping and
    * notification: top-level routes evaluate IN ORDER, the first match
    * wins unless the matched route sets continue=true (then siblings
    * keep evaluating); a matched route's children refine the receiver
    * (deepest match wins); nothing matched falls to the root receiver.
    * The tree here is a fixed two-level fixture exercising all four
    * rules:
    *   A  severity=critical            → pager        (continue=false)
    *   A1   └ alertname=error          → pager-db     (child override)
    *   B  alertname=~^(click|view)$    → clicks-team  (continue=TRUE)
    *   C  instance=u3                  → u3-watch
    * An alert can therefore carry MULTIPLE receivers (B then C), and a
    * critical alert stops at A. Unrolled as one projection (the tree is
    * config, not data); per (receiver, alertname) counts. */
  def routingTree: Q = (s, d) => {
    val a = alerts(s, d)
      .withColumn("m_a", col("severity") === "critical")
      .withColumn("m_a1", col("severity") === "critical" && col("alertname") === "error")
      .withColumn("m_b", col("alertname").rlike("^(click|view)$"))
      .withColumn("m_c", col("instance") === "u3")
    val routed = a.withColumn("receivers", expr(
      """CASE WHEN m_a THEN array(CASE WHEN m_a1 THEN 'pager-db' ELSE 'pager' END)
              ELSE
                CASE WHEN NOT m_b AND NOT m_c THEN array('default')
                     WHEN m_b AND m_c THEN array('clicks-team', 'u3-watch')
                     WHEN m_b THEN array('clicks-team')
                     ELSE array('u3-watch') END
         END"""))
    routed.select(col("alertname"), explode(col("receivers")).as("receiver"))
      .groupBy(col("receiver"), col("alertname"))
      .agg(count(lit(1)).as("n_alerts"))
  }

  val routingTreeSql: String =
    s"""WITH a AS ($alertsSql),
       m AS (
         SELECT alertname,
                severity = 'critical' AS m_a,
                severity = 'critical' AND alertname = 'error' AS m_a1,
                regexp_matches(alertname, '^(click|view)$$') AS m_b,
                instance = 'u3' AS m_c
         FROM a),
       routed AS (
         SELECT alertname,
                unnest(CASE WHEN m_a THEN
                         [CASE WHEN m_a1 THEN 'pager-db' ELSE 'pager' END]
                       ELSE
                         CASE WHEN NOT m_b AND NOT m_c THEN ['default']
                              WHEN m_b AND m_c THEN ['clicks-team', 'u3-watch']
                              WHEN m_b THEN ['clicks-team']
                              ELSE ['u3-watch'] END
                       END) AS receiver
         FROM m)
       SELECT receiver, alertname, count(*) AS n_alerts
       FROM routed GROUP BY 1, 2 ORDER BY receiver, alertname"""

  // ------------------------------------------------------ flap detection

  /** Flap-evaluation cell width (one state evaluation per 6 h cell). */
  val FlapCellSec = 21600L
  /** Transition share (×1e6) at or above which an identity flaps. */
  val FlapThresholdX1e6 = 250000L

  /** Alert flapping detection — the state-change-rate read every
    * on-call rotation runs before muting a noisy alert (Nagios' flap
    * detection formalized it; Alertmanager users express it as "how
    * often does this identity cross firing↔resolved"). Per alert
    * identity (alertname, instance): evaluate a firing/resolved state
    * on the [[FlapCellSec]] grid spanning the feed (firing iff ≥1
    * qualifying event in the cell), count state TRANSITIONS between
    * consecutive cells, and flag identities whose transition share of
    * eval steps reaches [[FlapThresholdX1e6]] on the exact 1e6 grid.
    *
    * Scale shape: one per-(identity, cell) aggregation of the alert
    * feed, then RUN-LENGTH transition counting over the firing cells
    * only — the boolean state series over the dense [lo, hi] grid is
    * false everywhere except maximal runs of consecutive firing cells,
    * so per identity
    *   n_transitions = 2·(#runs) − [first cell = lo] − [last cell = hi]
    * exactly (each run flips 0→1 at its start unless it starts the
    * grid, and 1→0 after its end unless it ends the grid; only the
    * first/last run can touch lo/hi). The r15 shape materialized the
    * |identities|×|cells| dense grid + a lag window over it — time-
    * domain-sized work that this identity computes from the sparse
    * firing table alone (guide §2.3/§2.4: the alert feed is scanned
    * ONCE, nothing grid-shaped is shuffled). */
  def flapDetect: Q = (s, d) => {
    val al = alerts(s, d).withColumn("cell", expr(s"es div $FlapCellSec"))
    val firing = al.groupBy(col("alertname"), col("instance"), col("cell"))
      .agg(count(lit(1)).as("n_alerts"))
    val w = Window.partitionBy(col("alertname"), col("instance"))
      .orderBy(col("cell"))
    // (ident, #firing cells, #runs, first/last firing cell) — run
    // starts are firing cells whose predecessor cell is absent; cut
    // once (bounded aggregate) so the global-bounds read and the
    // per-identity report share one derivation of the alert feed
    val perIdent = graft.Checkpoints.cutLazy(firing
      .withColumn("prev_cell", lag(col("cell"), 1).over(w))
      .groupBy(col("alertname"), col("instance"))
      .agg(count(lit(1)).as("n_firing_cells"),
        count(when(col("prev_cell").isNull || col("cell") - col("prev_cell") > 1, 1))
          .as("n_runs"),
        min(col("cell")).as("cmin"), max(col("cell")).as("cmax")))
    // the eval grid spans the feed: lo/hi are global extrema of the
    // firing cells (every alert lands in some firing cell)
    val bounds = perIdent.agg(min(col("cmin")).as("lo"), max(col("cmax")).as("hi"))
    perIdent.crossJoin(broadcast(bounds))
      .withColumn("n_cells", col("hi") - col("lo") + lit(1L))
      .withColumn("n_transitions",
        lit(2L) * col("n_runs")
          - when(col("cmin") === col("lo"), 1L).otherwise(0L)
          - when(col("cmax") === col("hi"), 1L).otherwise(0L))
      // single-cell feed guard: one eval step has zero transitions over
      // zero steps — report rate 0 / flapping false explicitly rather
      // than NULL-ing the verdict columns through a 0-divisor
      .withColumn("flap_rate_x1e6",
        when(col("n_cells") > 1,
          expr("n_transitions * 1000000 div (n_cells - 1)")).otherwise(lit(0L)))
      .withColumn("flapping", col("flap_rate_x1e6") >= FlapThresholdX1e6)
      .select(col("alertname"), col("instance"), col("n_cells"),
        col("n_firing_cells"), col("n_transitions"),
        col("flap_rate_x1e6"), col("flapping"))
  }

  val flapDetectSql: String =
    s"""WITH al AS (SELECT t.*, es // $FlapCellSec AS cell FROM ($alertsSql) t),
       firing AS (
         SELECT alertname, instance, cell, count(*) AS n_alerts
         FROM al GROUP BY 1, 2, 3),
       bounds AS (SELECT min(cell) AS lo, max(cell) AS hi FROM al),
       cells AS (SELECT unnest(generate_series(lo, hi)) AS cell FROM bounds),
       idents AS (SELECT DISTINCT alertname, instance FROM al),
       grid AS (
         SELECT i.alertname, i.instance, c.cell,
                f.n_alerts IS NOT NULL AS firing
         FROM idents i CROSS JOIN cells c
         LEFT JOIN firing f ON f.alertname = i.alertname
           AND f.instance = i.instance AND f.cell = c.cell),
       tr AS (
         SELECT alertname, instance, firing,
                CASE WHEN lag(firing) OVER (PARTITION BY alertname, instance
                       ORDER BY cell) IS NOT NULL
                     AND lag(firing) OVER (PARTITION BY alertname, instance
                       ORDER BY cell) <> firing
                     THEN 1 ELSE 0 END AS trans
         FROM grid)
       SELECT alertname, instance, count(*) AS n_cells,
              count(*) FILTER (WHERE firing) AS n_firing_cells,
              CAST(sum(trans) AS BIGINT) AS n_transitions,
              CAST(CASE WHEN count(*) > 1
                   THEN sum(trans) * 1000000 // (count(*) - 1)
                   ELSE 0 END AS BIGINT) AS flap_rate_x1e6,
              CASE WHEN count(*) > 1
                   THEN sum(trans) * 1000000 // (count(*) - 1)
                   ELSE 0 END >= $FlapThresholdX1e6 AS flapping
       FROM tr GROUP BY alertname, instance
       ORDER BY alertname, instance"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("alert_flap_detect", flapDetect, Some(flapDetectSql)),
    ("alert_group_wait", groupWait, Some(groupWaitSql)),
    ("alert_inhibition", inhibition, Some(inhibitionSql)),
    ("alert_silence_match", silenceMatch, Some(silenceMatchSql)),
    ("alert_routing_tree", routingTree, Some(routingTreeSql)))
}
