package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's final hop: a SigV4-signed POST of the collected
  * metrics to Amazon Managed Prometheus
  * (`collector/internal/utils/prometheus.go:129-167`). The network send
  * is AWS infra, but everything the signer DOES is deterministic public
  * arithmetic — payload hash, canonical request, string-to-sign, and
  * the HMAC-SHA256 signature chain (AWS "Signature Version 4 signing
  * process" documentation). This entry re-expresses the hash surface
  * as a per-request-batch projection; the HMAC chain itself lives in
  * `graft.functions.Sigv4` and is pinned against the AWS docs' own
  * example vector in Sigv4Spec (the oracle's sha256 is VARCHAR-only,
  * so binary HMAC intermediates are spec-verified, not oracle-checked).
  *
  * MODELED VARIANT, not the reference's exact signed request: the
  * reference signs the snappy-compressed protobuf body and sets
  * Content-Type `application/x-protobuf` AFTER signing (content-type is
  * therefore NOT among its signed headers), while this entry signs a
  * text-exposition payload with content-type in SignedHeaders — a
  * documentation-style canonical request chosen so every byte of the
  * signed surface is oracle-checkable string arithmetic. The SigV4
  * algorithm (canonicalization → string-to-sign → HMAC chain) is
  * identical either way; only the payload/header choices differ.
  *
  * Scale shape: one request batch per scraped host — the grouped
  * collect is bounded at |metrics per host| (3 here, ≤ a few hundred in
  * any real exporter), so a 1000-executor run signs each host's batch
  * where the batch lives; nothing corpus-sized ever gathers. All the
  * hashing is codegen'd built-ins (`sha2`, `concat_ws`).
  */
object PromPush {
  type Q = (SparkSession, String) => DataFrame

  // Fixed documentation-style request context (public AWS example
  // conventions; same spirit as the reference's region/workspace conf).
  val AmzDate = "20250101T000000Z"
  val DateStamp = "20250101"
  val Region = "us-east-1"
  val Service = "aps"
  val Host = s"aps-workspaces.$Region.amazonaws.com"
  val Uri = "/workspaces/ws-graft/api/v1/remote_write"
  val ContentType = "application/x-prometheus-text; version=0.0.4"
  val SignedHeaders = "content-type;host;x-amz-date"
  val Scope = s"$DateStamp/$Region/$Service/aws4_request"

  /** Per-host signed-request preparation: rendered exposition payload →
    * payload hash → canonical request → string-to-sign. Every column is
    * exact string/hash arithmetic shared verbatim with the oracle. */
  def pushSigv4: Q = (s, d) => {
    Scrapers.remoteWrite(s, d)
      .select(col("identifier"), format_string(MetricsModel.LineFormat,
        col("metric_name"), col("engine"), col("identifier"), col("job"),
        MetricsModel.snappedValue).as("line"))
      .groupBy(col("identifier"))
      .agg(count(lit(1)).as("n_lines"),
        // bounded collect: metrics-per-host, not corpus rows
        concat(concat_ws("\n", array_sort(collect_list(col("line")))),
          lit("\n")).as("payload"))
      .withColumn("payload_sha256", sha2(col("payload"), 256))
      .withColumn("canonical_request", concat_ws("\n",
        lit("POST"), lit(Uri), lit(""),
        lit(s"content-type:$ContentType"),
        lit(s"host:$Host"),
        lit(s"x-amz-date:$AmzDate"), lit(""),
        lit(SignedHeaders), col("payload_sha256")))
      .withColumn("creq_sha256", sha2(col("canonical_request"), 256))
      .withColumn("string_to_sign", concat_ws("\n",
        lit("AWS4-HMAC-SHA256"), lit(AmzDate), lit(Scope),
        col("creq_sha256")))
      .select(col("identifier"), col("n_lines"), col("payload_sha256"),
        col("creq_sha256"), col("string_to_sign"))
  }

  val pushSigv4Sql: String = {
    val rw = Scrapers.remoteWriteSql
    s"""WITH rw AS ($rw),
        lines AS (
          SELECT identifier,
                 printf('${MetricsModel.LineFormat}',
                        metric_name, engine, identifier, job,
                        ${MetricsModel.snappedValueSql}) AS line
          FROM rw),
        p AS (
          SELECT identifier, count(*) AS n_lines,
                 string_agg(line, chr(10) ORDER BY line) || chr(10) AS payload
          FROM lines GROUP BY identifier),
        h AS (
          SELECT identifier, n_lines, sha256(payload) AS payload_sha256
          FROM p),
        c AS (
          SELECT *,
                 'POST' || chr(10) || '$Uri' || chr(10) || chr(10) ||
                 'content-type:$ContentType' || chr(10) ||
                 'host:$Host' || chr(10) ||
                 'x-amz-date:$AmzDate' || chr(10) || chr(10) ||
                 '$SignedHeaders' || chr(10) || payload_sha256
                   AS canonical_request
          FROM h)
        SELECT identifier, n_lines, payload_sha256,
               sha256(canonical_request) AS creq_sha256,
               'AWS4-HMAC-SHA256' || chr(10) || '$AmzDate' || chr(10) ||
               '$Scope' || chr(10) || sha256(canonical_request)
                 AS string_to_sign
        FROM c ORDER BY identifier"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_push_sigv4", pushSigv4, Some(pushSigv4Sql)))
}
