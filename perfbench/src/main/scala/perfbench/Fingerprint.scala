package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive result fingerprint: the row count and the sum of
  * a 64-bit hash of every row. Row order does not enter it, so a plan that
  * stops sorting its output still matches. Map columns are hashed through
  * their JSON form, since Spark cannot hash maps directly. */
final case class Fingerprint(rows: Long, hash: String)

object Fingerprint {

  private def hashable(f: StructField): Column = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(x => hasMap(x.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val c = col(s"`${f.name}`")
    if (hasMap(f.dataType)) to_json(struct(c)) else c
  }

  def of(df: DataFrame): Fingerprint = {
    // the seed constant keeps an empty-column row distinct from no row
    val h = xxhash64(lit(1) +: df.schema.fields.toSeq.map(hashable): _*)
    val r = df.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Fingerprint(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
