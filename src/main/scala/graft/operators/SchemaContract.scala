package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-contract enforcement — the dq_rules complement that checks
  * STRUCTURE, not values: a declared contract (column, expected type,
  * required?) is reconciled against the table's actual schema, the way
  * a collector fleet validates a scrape target's exposition schema
  * before trusting its samples (the reference trusts its exporters'
  * fixed metric shapes; a lakehouse ingest cannot). The contract
  * carries two PLANTED violations — a missing optional column and a
  * type mismatch — so every verdict class is exercised on the shipped
  * corpus, not just 'ok'.
  *
  * Engine parity: the actual schema is METADATA — Spark reads it from
  * the adapted loader's StructType (driver-side, no corpus scan at
  * all); the oracle reads DuckDB's DESCRIBE. Both normalize to one
  * canonical type vocabulary (string/bigint/double/timestamp/int), so
  * the comparison is over identical literals. Scale: the whole entry
  * is |columns| rows of local data — zero bytes of corpus move. */
object SchemaContract {

  type Q = (SparkSession, String) => DataFrame

  /** (column, expected_type, required) for the events table, with the
    * two planted violations: `region` is declared but absent (missing
    * optional), `value` is declared string against an actual double
    * (type mismatch). */
  val Contract: Seq[(String, String, Boolean)] = Seq(
    ("event_id", "bigint", true),
    ("ts", "timestamp", true),
    ("user_id", "bigint", true),
    ("event_type", "string", true),
    ("value", "string", true), // planted: actual is double
    ("props", "string", false),
    ("region", "string", false)) // planted: not in the table

  /** Spark typeName → the shared canonical vocabulary. The oracle's
    * CASE below must stay the exact mirror of this mapping. */
  private def canon(t: String): String = t.toLowerCase match {
    case "long" => "bigint"
    case "integer" => "int"
    case "varchar" => "string"
    case "timestamp_ntz" | "timestamp_ns" | "timestamp with time zone" =>
      "timestamp"
    case other => other
  }

  def schemaContract: Q = (s, d) => {
    val actual = Tables.events(s, d).schema.fields
      .map(f => (f.name, canon(f.dataType.typeName))).toSeq
    val actualDf = s.createDataFrame(actual).toDF("column", "actual_type")
    val contractDf = s.createDataFrame(Contract)
      .toDF("column", "expected_type", "required")
    contractDf.join(actualDf, Seq("column"), "full_outer")
      .withColumn("verdict",
        when(col("expected_type").isNull, lit("undeclared"))
          .when(col("actual_type").isNull && col("required"), lit("missing_required"))
          .when(col("actual_type").isNull, lit("missing_optional"))
          .when(col("expected_type") =!= col("actual_type"), lit("type_mismatch"))
          .otherwise(lit("ok")))
      .select(col("column"), col("expected_type"), col("actual_type"), col("verdict"))
  }

  /** Oracle twin: DESCRIBE gives the actual schema; the contract is a
    * VALUES literal; normalization mirrors `canon`. */
  val schemaContractSql: String = {
    val rows = Contract.map { case (c, t, r) => s"('$c', '$t', $r)" }.mkString(", ")
    s"""WITH contract(column_name, expected_type, required) AS (VALUES $rows),
       actual AS (
         SELECT column_name,
                -- MUST stay the exact mirror of Scala `canon` above:
                -- every vocabulary the other engine can emit is mapped
                CASE lower(column_type)
                  WHEN 'varchar' THEN 'string'
                  WHEN 'long' THEN 'bigint'
                  WHEN 'integer' THEN 'int'
                  WHEN 'timestamp_ns' THEN 'timestamp'
                  WHEN 'timestamp with time zone' THEN 'timestamp'
                  ELSE lower(column_type) END AS actual_type
         FROM (DESCRIBE SELECT * FROM events))
       SELECT coalesce(c.column_name, a.column_name) AS "column",
              c.expected_type, a.actual_type,
              CASE WHEN c.expected_type IS NULL THEN 'undeclared'
                   WHEN a.actual_type IS NULL AND c.required
                     THEN 'missing_required'
                   WHEN a.actual_type IS NULL THEN 'missing_optional'
                   WHEN c.expected_type <> a.actual_type THEN 'type_mismatch'
                   ELSE 'ok' END AS verdict
       FROM contract c FULL OUTER JOIN actual a
         ON c.column_name = a.column_name
       ORDER BY "column""""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("dq_schema_contract", schemaContract, Some(schemaContractSql)))
}
