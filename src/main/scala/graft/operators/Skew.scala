package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manual skew mitigation: the salted-join pattern, result-identical to
  * the plain join (oracle-checked against the unsalted formulation).
  *
  * A hot key (one user with 10% of all events at corpus scale) pins an
  * entire join partition to one task. Salting splits it: the probe side
  * gets a deterministic salt in [0, S), the build side is replicated
  * S× with every salt value, and the join key becomes (key, salt) — a
  * hot key's rows now land on S tasks instead of one. AQE's skew-join
  * handles sort-merge cases adaptively; explicit salting is the
  * portable fallback (works for any join type, any engine, and inside
  * aggregations) — this entry keeps the pattern exercised end-to-end.
  */
object Skew {

  type Q = (SparkSession, String) => DataFrame

  val Salts = 8

  def saltedSkewJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(Salts)))
    val totals = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("user_total"))
    // build side replicated S× (broadcast of the tiny salt range)
    val saltedBuild = totals.crossJoin(
      broadcast(s.range(Salts).select(col("id").as("salt"))))
    ev.join(saltedBuild, Seq("user_id", "salt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_total")).as("sum_user_total"))
  }

  /** Oracle: the PLAIN join — salting must not change the result. */
  val saltedSkewJoinSql: String =
    """SELECT event_type, count(*) AS n_events,
              CAST(sum(user_total) AS BIGINT) AS sum_user_total
       FROM events e JOIN (SELECT user_id, count(*) AS user_total
                           FROM events GROUP BY user_id) t USING (user_id)
       GROUP BY event_type ORDER BY event_type"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("q_skew_salted_join", saltedSkewJoin, Some(saltedSkewJoinSql)))
}
