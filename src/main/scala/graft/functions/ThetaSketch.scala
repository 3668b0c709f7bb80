package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** KMV ("k minimum values") theta sketch over pre-hashed keys: keeps
  * the k smallest DISTINCT hash values seen. The classic mergeable
  * distinct-count sketch (Bar-Yossef et al. 2002; the theta-sketch
  * framing of the DataSketches line): with hashes uniform on
  * [0, 2^60), the k-th smallest retained hash h_k estimates the
  * distinct count as (k-1) * 2^60 / h_k; below k distinct keys the
  * sketch IS the exact distinct set.
  *
  * Why this shape at 100 TB:
  * - One pass, bounded memory: each map task ships at most k longs per
  *   group across the shuffle (vs count(distinct) materializing every
  *   key), and partial aggregation applies — the shuffle is sketch-
  *   sized, not key-sized.
  * - MERGEABLE: union = merge retained sets, re-trim to k. The k
  *   smallest distinct hashes of a union are exactly computable from
  *   the per-part k-smallest sets, so rollups (per-group sketches →
  *   global), incremental ingestion (yesterday's sketch + today's),
  *   and cube/grouping-set distinct counts all compose EXACTLY — the
  *   merged sketch is bit-identical to the sketch of the union, not an
  *   approximation of it. `SketchSpec` asserts this identity and
  *   `sketch_theta_distinct`'s oracle proves it cross-engine (Spark's
  *   global row merges per-group sketches; DuckDB's recomputes it
  *   directly from the raw keys).
  *
  * The hash is computed UPSTREAM (md5-derived 60-bit value — see
  * `Sketch.hash60`) so the estimate is a deterministic function of the
  * data that a second engine can replicate bit-for-bit; re-aggregating
  * a sketch's retained hashes through the same function performs the
  * union.
  *
  * Output: array<long> of the retained hashes, ascending.
  */
case class ThetaKmv(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.TreeSet[Long]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType)

  type Buf = scala.collection.mutable.TreeSet[Long]

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.TreeSet.empty[Long]

  override def update(buf: Buf, input: InternalRow): Buf = {
    val h = child.eval(input)
    if (h != null) {
      buf += h.asInstanceOf[Long]
      if (buf.size > k) buf -= buf.last // evict current max: keep k smallest
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach { h =>
      buf += h
      if (buf.size > k) buf -= buf.last
    }
    buf
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.toArray[Long].map(_.asInstanceOf[Any]))

  override def serialize(buf: Buf): Array[Byte] =
    Framing.write(buf)(_.writeLong(_))

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = createAggregationBuffer()
    Framing.read(bytes)(in => buf += in.readLong())
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ThetaKmv =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ThetaKmv =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = "graft_theta"
}
