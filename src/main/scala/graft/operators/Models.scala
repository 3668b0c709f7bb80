package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-series model registry — the "model parameters as a dimension"
  * pattern: TRAIN a tiny model per series in one aggregation, store it
  * as a |series|-row registry table, and SCORE any later scan by
  * BROADCAST-joining the registry back onto the data. At 100 TB the
  * registry stays KBs while the scored fact is unbounded — scoring is
  * a narrow map after one broadcast join, and retraining touches only
  * the training window. The same shape serves per-device thresholds,
  * per-tenant quotas, per-series seasonal baselines.
  *
  * The model here is the least-squares line `metrics_deriv` fits, but
  * trained ONCE over the first 480 hours and applied to the remaining
  * hours (walk-forward split, no leakage). Float parity: all moments
  * are exact BIGINTs over a CENTERED hour index (xi = hour − h0, so
  * every product stays < 2^53 and casts to DOUBLE exactly); the
  * prediction is a fixed sequence of IEEE ops on those exact inputs,
  * spelled verbatim in both engines.
  */
object Models {

  type Q = (SparkSession, String) => DataFrame

  /** Training window: hours [0, 480) of the corpus span; scoring = the rest. */
  val TrainHours = 480

  /** ŷ in ym units (1e4-scaled): ȳ + slope·(x − x̄), every operand cast
    * to DOUBLE from an exact-in-double BIGINT, identical op order in
    * both engines. */
  private val predExpr: String =
    """CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
       + (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
         * (CAST(xi AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"""

  def registryScore: Q = (s, d) => {
    val hourly = Timeseries.hourlyMilli(s, d)
    val h0 = hourly.agg(min(expr("hour_sec DIV 3600")).as("x0"))
    val indexed = hourly.crossJoin(broadcast(h0))
      .withColumn("xi", expr("hour_sec DIV 3600 - x0"))
    val registry = indexed.filter(col("xi") < TrainHours)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"), sum(col("ym")).as("sy"),
        sum(col("xi") * col("ym")).as("sxy"), sum(col("xi") * col("xi")).as("sxx"))
      .withColumn("num", expr("n * sxy - sx * sy"))
      .withColumn("den", expr("n * sxx - sx * sx"))
      .filter(col("n") >= 12 && col("den") > 0)
      .select(col("event_type"), col("n"), col("sx"), col("sy"), col("num"), col("den"))
    indexed.filter(col("xi") >= TrainHours)
      .join(broadcast(registry), Seq("event_type"))
      .withColumn("predicted", floor(expr(predExpr)) / 1e4)
      .withColumn("avg_value", col("ym") / 1e4)
      .withColumn("residual", col("avg_value") - col("predicted"))
      .withColumn("is_anomaly", abs(col("residual")) > 50.0)
      .select(col("event_type"), col("hour_sec"), col("avg_value"),
        col("predicted"), col("residual"), col("is_anomaly"))
  }

  val registryScoreSql: String =
    s"""WITH hourly AS (
         SELECT event_type, CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS hour_sec,
                CAST(floor(round(sum(value), 2) / count(*) * 1e4) AS BIGINT) AS ym
         FROM events GROUP BY 1, 2),
       h0 AS (SELECT min(hour_sec // 3600) AS x0 FROM hourly),
       idx AS (
         SELECT event_type, hour_sec, ym, hour_sec // 3600 - x0 AS xi
         FROM hourly CROSS JOIN h0),
       registry AS (
         SELECT event_type, n, sx, sy, num, den FROM (
           SELECT event_type, count(*) AS n, sum(xi) AS sx, sum(ym) AS sy,
                  sum(xi * ym) AS sxy, sum(xi * xi) AS sxx,
                  count(*) * sum(xi * ym) - sum(xi) * sum(ym) AS num,
                  count(*) * sum(xi * xi) - sum(xi) * sum(xi) AS den
           FROM idx WHERE xi < $TrainHours GROUP BY event_type) t
         WHERE n >= 12 AND den > 0)
       SELECT i.event_type, i.hour_sec, i.ym / 1e4 AS avg_value,
              floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                    + (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                      * (CAST(xi AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4
                AS predicted,
              i.ym / 1e4 - floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                    + (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                      * (CAST(xi AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4
                AS residual,
              abs(i.ym / 1e4 - floor(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                    + (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                      * (CAST(xi AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1e4)
                > 50.0 AS is_anomaly
       FROM idx i JOIN registry USING (event_type)
       WHERE i.xi >= $TrainHours
       ORDER BY i.event_type, i.hour_sec"""

  val LiftBuckets = 10

  /** Decile lift / gains table — the standard evaluation read for any
    * scoring model: rank the population by score, cut into deciles,
    * and report what share of the positives each cumulative decile
    * captures vs the base rate. Score = order value in exact cents,
    * positive = urgent priority. Decile EDGES come from ONE exact-
    * percentile aggregate broadcast back over the scan (the
    * `q_equidepth_histogram` idiom — no corpus ntile sort); all
    * counts and cumulative masses are exact BIGINTs over the 10-row
    * aggregate, with capture and lift each one IEEE division of
    * exact integer products. At 100 TB: one percentile pass + one
    * 10-group agg, nothing corpus-sized is ever sorted. */
  def decileLift: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.Tables
    val o = Tables.orders(s, d).select(
      floor(col("o_totalprice") * 100).cast("long").as("cents"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("pos"))
    val qs = (1 until LiftBuckets).map(i => i.toDouble / LiftBuckets)
    val bounds = o.agg(
      expr(s"percentile(cents, array(${qs.map(q => s"${q}e0").mkString(", ")}))").as("b"))
    val bucket = (lit(1) +: (0 until LiftBuckets - 1)
      .map(i => when(col("cents") > col("b")(i), 1).otherwise(0)))
      .reduce(_ + _)
    val g = o.crossJoin(broadcast(bounds))
      .select((lit(LiftBuckets + 1) - bucket).cast("int").as("decile"), col("pos"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"))
    val ord = Window.orderBy(col("decile"))
    val whole = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cum_n", sum(col("n"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_pos", sum(col("n_pos"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total_n", sum(col("n")).over(whole))
      .withColumn("total_pos", sum(col("n_pos")).over(whole))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        floor(col("cum_pos").cast("double") / col("total_pos").cast("double") * 10000)
          .divide(10000.0).as("capture"),
        floor((col("cum_pos") * col("total_n")).cast("double")
            / (col("cum_n") * col("total_pos")).cast("double") * 10000)
          .divide(10000.0).as("cum_lift"))
  }

  val decileLiftSql: String = {
    val qs = (1 until LiftBuckets).map(i => i.toDouble / LiftBuckets)
    val terms = (1 until LiftBuckets).map(i => s"(cents > b[$i])::INT").mkString(" + ")
    s"""WITH c AS (
          SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
          FROM orders),
        b AS (SELECT quantile_cont(cents, [${qs.mkString(", ")}]) AS b FROM c),
        a AS (SELECT CAST(${LiftBuckets + 1} - (1 + $terms) AS INT) AS decile, pos
              FROM c CROSS JOIN b),
        g AS (SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos
              FROM a GROUP BY 1),
        w AS (SELECT decile, n, n_pos,
                     CAST(sum(n) OVER (ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                     CAST(sum(n_pos) OVER (ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
                     CAST(sum(n) OVER () AS BIGINT) AS total_n,
                     CAST(sum(n_pos) OVER () AS BIGINT) AS total_pos
              FROM g)
        SELECT decile, n, n_pos, cum_n, cum_pos,
               floor(CAST(cum_pos AS DOUBLE) / CAST(total_pos AS DOUBLE) * 10000)
                 / 10000.0 AS capture,
               floor(CAST(cum_pos * total_n AS DOUBLE)
                     / CAST(cum_n * total_pos AS DOUBLE) * 10000) / 10000.0 AS cum_lift
        FROM w ORDER BY decile"""
  }

  // ------------------------------------------------ calibration / ECE

  /** Reliability diagram + Expected Calibration Error for a
    * walk-forward propensity model: per user cohort (user_id mod 50),
    * the purchase rate over the first 14 days is the predicted
    * probability applied to everything after day 14 (no leakage — the
    * same split discipline as registryScore). Per predicted-probability
    * bin: event count, realized purchases, mean confidence and accuracy
    * — ALL on the 1e6 integer grid (per-cohort p̂ is an exact floored
    * ratio, the bin index an integer cross-multiplication, ECE an
    * integer Σ n_b·|acc−conf| div N), so there is no float summation
    * anywhere, in either engine.
    *
    * Scale: train and score are each one aggregation; the 50-row cohort
    * registry broadcasts onto the scoring scan — the registryScore
    * shape, so scoring stays a narrow map at any fact size. */
  def calibration: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select((col("user_id") % 50).as("cohort"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"),
        (col("event_type") === "purchase").cast("long").as("purch"))
    val d0 = ev.agg(min(col("day")).as("d0"))
    val withSplit = ev.crossJoin(broadcast(d0))
    // ×1e6 cross-multiplications and the phat6/gap accumulations run in
    // decimal(38,0) (DuckDB: HUGEINT) — at the 100 TB design point a bin
    // holding >9.2e12 events would silently wrap in 64-bit on Spark
    // where DuckDB raises; the chi2/Mann–Whitney widening discipline.
    val registry = withSplit.filter(col("day") < col("d0") + 14)
      .groupBy(col("cohort"))
      .agg(count(lit(1)).as("ev_t"), sum(col("purch")).as("purch_t"))
      .select(col("cohort"),
        expr("cast(cast(purch_t as decimal(38,0)) * 1000000 div ev_t as bigint)")
          .as("phat6"),
        least(expr("cast(cast(purch_t as decimal(38,0)) * 10 div ev_t as bigint)"),
          lit(9L)).as("bin"))
    val scored = withSplit.filter(col("day") >= col("d0") + 14)
      .join(broadcast(registry), Seq("cohort"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_events"), sum(col("purch")).as("n_purchases"),
        sum(col("phat6").cast("decimal(38,0)")).as("sum_phat6"))
      .withColumn("conf_x1e6", expr("cast(sum_phat6 div n_events as bigint)"))
      .withColumn("acc_x1e6",
        expr("cast(cast(n_purchases as decimal(38,0)) * 1000000 div n_events as bigint)"))
      .withColumn("gap_x1e6", abs(col("acc_x1e6") - col("conf_x1e6")))
    val ece = scored.agg(
      expr("cast(sum(cast(n_events as decimal(38,0)) * gap_x1e6) div sum(n_events) as bigint)")
        .as("ece_x1e6"))
    scored.crossJoin(broadcast(ece))
      .select(col("bin"), col("n_events"), col("n_purchases"),
        col("conf_x1e6"), col("acc_x1e6"), col("gap_x1e6"), col("ece_x1e6"))
  }

  val calibrationSql: String =
    """WITH ev AS (
         SELECT user_id % 50 AS cohort,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                CAST(event_type = 'purchase' AS BIGINT) AS purch
         FROM events),
       d0 AS (SELECT min(day) AS d0 FROM ev),
       registry AS (
         -- sums stay HUGEINT through the *1e6 cross-multiplication
         -- (Spark: decimal(38,0)) — no 64-bit wrap at any event volume
         SELECT cohort,
                CAST(sum(purch) * 1000000 // count(*) AS BIGINT) AS phat6,
                CAST(least(sum(purch) * 10 // count(*), 9) AS BIGINT) AS bin
         FROM ev, d0 WHERE day < d0 + 14 GROUP BY cohort),
       scored AS (
         SELECT r.bin, count(*) AS n_events,
                sum(e.purch) AS n_purchases_h,
                sum(r.phat6) AS sum_phat6
         FROM ev e JOIN registry r USING (cohort), d0
         WHERE e.day >= d0.d0 + 14
         GROUP BY r.bin),
       g AS (
         SELECT bin, n_events,
                CAST(n_purchases_h AS BIGINT) AS n_purchases,
                CAST(sum_phat6 // n_events AS BIGINT) AS conf_x1e6,
                CAST(n_purchases_h * 1000000 // n_events AS BIGINT) AS acc_x1e6,
                CAST(abs(n_purchases_h * 1000000 // n_events
                    - sum_phat6 // n_events) AS BIGINT) AS gap_x1e6
         FROM scored),
       ece AS (
         SELECT CAST(sum(CAST(n_events AS HUGEINT) * gap_x1e6) // sum(n_events)
                  AS BIGINT) AS ece_x1e6
         FROM g)
       SELECT bin, n_events, n_purchases, conf_x1e6, acc_x1e6, gap_x1e6,
              ece_x1e6
       FROM g, ece ORDER BY bin"""

  // ------------------------------------------------ Bradley–Terry step

  /** One Bradley–Terry minorization step from uniform weights — the
    * pairwise-preference fit behind every LLM eval leaderboard, run on
    * the deterministic tournament "series A vs series B, one game per
    * day, higher daily count wins" (ties split on the ×2 point scale).
    * From w ≡ 1 the MM update wᵢ' = Pᵢ / Σⱼ nᵢⱼ/(wᵢ+wⱼ) collapses to
    * the EXACT integer ratio 2·Pᵢ/Nᵢ = points_x2/n_games — one BT step
    * with zero float surface; later steps would need the float chain,
    * the first one doesn't, and the first step already reorders the
    * uniform prior by strength of schedule. All frames are
    * |types|²-or-smaller aggregates. */
  def bradleyTerry: Q = (s, d) => {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        expr("cast(unix_timestamp(date_trunc('second', ts)) div 86400 as bigint)").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val a = daily.select(col("event_type").as("ta"), col("day"), col("cnt").as("ca"))
    val b = daily.select(col("event_type").as("tb"), col("day"), col("cnt").as("cb"))
    val games = a.join(b, Seq("day")).filter(col("ta") < col("tb"))
      .select(col("ta"), col("tb"),
        when(col("ca") > col("cb"), 2L).when(col("ca") < col("cb"), 0L)
          .otherwise(1L).as("pts_a"))
    val perA = games.groupBy(col("ta").as("t"))
      .agg(count(lit(1)).as("g"), sum(col("pts_a")).as("p2"))
    val perB = games.groupBy(col("tb").as("t"))
      .agg(count(lit(1)).as("g"), sum(lit(2L) - col("pts_a")).as("p2"))
    perA.unionByName(perB)
      .groupBy(col("t").as("event_type"))
      .agg(sum(col("g")).as("n_games"), sum(col("p2")).as("points_x2"))
      .withColumn("bt_x1e6", expr("points_x2 * 1000000 div n_games"))
  }

  val bradleyTerrySql: String =
    """WITH daily AS (
         SELECT event_type,
                CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS day,
                count(*) AS cnt
         FROM events GROUP BY 1, 2),
       games AS (
         SELECT a.event_type AS ta, b.event_type AS tb,
                CASE WHEN a.cnt > b.cnt THEN 2
                     WHEN a.cnt < b.cnt THEN 0 ELSE 1 END AS pts_a
         FROM daily a JOIN daily b
           ON a.day = b.day AND a.event_type < b.event_type),
       per AS (
         SELECT ta AS t, count(*) AS g, CAST(sum(pts_a) AS BIGINT) AS p2
         FROM games GROUP BY 1
         UNION ALL
         SELECT tb, count(*), CAST(sum(2 - pts_a) AS BIGINT)
         FROM games GROUP BY tb)
       SELECT t AS event_type, CAST(sum(g) AS BIGINT) AS n_games,
              CAST(sum(p2) AS BIGINT) AS points_x2,
              CAST(sum(p2) AS BIGINT) * 1000000
                // CAST(sum(g) AS BIGINT) AS bt_x1e6
       FROM per GROUP BY 1 ORDER BY event_type"""

  // ------------------------------------------------------- ROC AUC

  /** Per cents score, the purchase (`p`) and non-purchase (`ng`)
    * counts: the value-domain histogram the AUC and the PR ledger read. */
  private def centsHist(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(floor(col("value") * 100).cast("long").as("cents"),
        (col("event_type") === "purchase").as("pos"))
      .groupBy(col("cents"))
      .agg(count(when(col("pos"), 1)).as("p"),
        count(when(!col("pos"), 1)).as("ng"))

  /** ROC AUC of "value predicts purchase" — the Mann–Whitney identity
    * AUC = (U + ties/2)/(P·N) evaluated EXACTLY on the cents
    * value-domain histogram (score = the event's cents value, positive
    * class = purchase events): per distinct score the positive/negative
    * counts, negatives-below from one cumulative window over the
    * |distinct cents| table (value-domain bounded — ~25k cells at ANY
    * event volume), and AUC on the ×2 integer scale
    * AUC2 = Σ_v pos(v)·(2·neg<(v) + neg=(v)), emitted as ONE floored
    * division of DECIMAL(38,0)/HUGEINT totals. The classifier-eval
    * read that shares its machinery with `q_mann_whitney_u` — AUC IS
    * the rescaled U statistic, and computing it this way keeps the
    * whole curve exact with zero sorting of corpus rows. */
  def aucRoc: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val h = centsHist(s, d)
    val w = Window.orderBy(col("cents")).rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("neg_lt", coalesce(sum(col("ng")).over(w), lit(0L)))
      .agg(sum(col("p")).as("n_pos"), sum(col("ng")).as("n_neg"),
        sum(col("p").cast("decimal(38,0)")
          * (lit(2L) * col("neg_lt") + col("ng"))).as("auc2"))
      .select(col("n_pos"), col("n_neg"),
        expr("cast(auc2 * 1000000 div (2 * cast(n_pos as decimal(38,0)) * n_neg) as bigint)")
          .as("auc_x1e6"))
  }

  val aucRocSql: String =
    """WITH h AS (
         SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                count(*) FILTER (WHERE event_type = 'purchase') AS p,
                count(*) FILTER (WHERE event_type <> 'purchase') AS ng
         FROM events GROUP BY 1),
       c AS (
         SELECT *, coalesce(sum(ng) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_lt
         FROM h),
       agg AS (
         SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(ng) AS BIGINT) AS n_neg,
                sum(CAST(p AS HUGEINT) * (2 * neg_lt + ng)) AS auc2
         FROM c)
       SELECT n_pos, n_neg,
              CAST(auc2 * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
                AS auc_x1e6
       FROM agg"""

  // --------------------------------------------- precision / recall

  /** Decision thresholds (cents) the PR ledger evaluates. */
  val PrThresholds: Seq[Long] = Seq(2500L, 5000L, 7500L, 10000L, 12500L,
    15000L, 17500L, 20000L, 22500L)

  /** The precision/recall operating-point ledger for the same
    * "value ≥ t ⇒ purchase" rule — the table a threshold review reads
    * next to `model_auc_roc`'s one-number summary: per threshold the
    * exact confusion counts (TP/FP/FN from cumulative suffix sums of
    * the shared cents histogram) and precision/recall/F1 on the 1e6
    * integer grid. The 9-row threshold spine joins the ≤|distinct
    * cents| histogram — analysis-plane at any event volume. */
  def precisionRecall: Q = (s, d) => {
    val h = centsHist(s, d)
    val thr = Tables.events(s, d).sparkSession
      .range(0, PrThresholds.size.toLong).toDF("i")
      .select(element_at(
        array(PrThresholds.map(lit): _*), col("i").cast("int") + 1).as("t"))
    thr.crossJoin(broadcast(h.agg(sum(col("p")).as("tot_p")).select(col("tot_p"))))
      .join(h, col("cents") >= col("t"), "left")
      .groupBy(col("t"), col("tot_p"))
      .agg(coalesce(sum(col("p")), lit(0L)).as("tp"),
        coalesce(sum(col("ng")), lit(0L)).as("fp"))
      .select(col("t").as("threshold_cents"), col("tp"), col("fp"),
        (col("tot_p") - col("tp")).as("fn"),
        expr("tp * 1000000 div nullif(tp + fp, 0)").as("precision_x1e6"),
        expr("tp * 1000000 div tot_p").as("recall_x1e6"),
        expr("2 * tp * 1000000 div nullif(2 * tp + fp + (tot_p - tp), 0)")
          .as("f1_x1e6"))
  }

  val precisionRecallSql: String = {
    val thrList = PrThresholds.mkString(", ")
    s"""WITH h AS (
          SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
                 count(*) FILTER (WHERE event_type = 'purchase') AS p,
                 count(*) FILTER (WHERE event_type <> 'purchase') AS ng
          FROM events GROUP BY 1),
        tot AS (SELECT CAST(sum(p) AS BIGINT) AS tot_p FROM h),
        thr AS (SELECT unnest([$thrList]) AS t),
        g AS (
          SELECT t, tot_p,
                 CAST(coalesce(sum(CASE WHEN cents >= t THEN p END), 0) AS BIGINT) AS tp,
                 CAST(coalesce(sum(CASE WHEN cents >= t THEN ng END), 0) AS BIGINT) AS fp
          FROM thr CROSS JOIN tot LEFT JOIN h ON h.cents >= thr.t
          GROUP BY t, tot_p)
        SELECT CAST(t AS BIGINT) AS threshold_cents, tp, fp, tot_p - tp AS fn,
               tp * 1000000 // nullif(tp + fp, 0) AS precision_x1e6,
               tp * 1000000 // tot_p AS recall_x1e6,
               2 * tp * 1000000 // nullif(2 * tp + fp + (tot_p - tp), 0) AS f1_x1e6
        FROM g ORDER BY threshold_cents"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("model_auc_roc", aucRoc, Some(aucRocSql)),
    ("model_precision_recall", precisionRecall, Some(precisionRecallSql)),
    ("model_registry_score", registryScore, Some(registryScoreSql)),
    ("model_calibration", calibration, Some(calibrationSql)),
    ("model_bradley_terry", bradleyTerry, Some(bradleyTerrySql)),
    ("q_decile_lift", decileLift, Some(decileLiftSql)))
}
