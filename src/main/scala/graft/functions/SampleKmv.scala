package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable bottom-k-by-hash uniform row sample: keeps the payload
  * values of the k rows with the smallest distinct hash keys. The
  * sampling twin of [[ThetaKmv]]: a KMV retained set is a uniform
  * random sample of the keyed population, so carrying a VALUE with
  * each retained hash yields a mergeable fixed-size uniform sample —
  * the basis for rollup-able quantile estimation (and any other
  * sample statistic) at 100 TB, where exact per-group percentiles
  * can't compose across groups or ingests.
  *
  * Mergeable EXACTLY, like the theta sketch: the k smallest hashes of
  * a union are computable from per-part bottom-k sets, so merged
  * samples are bit-identical to the sample taken directly over the
  * union — `sketch_sample_quantile`'s oracle proves the identity
  * cross-engine. Each map task ships at most k (hash, value) pairs
  * per group across the shuffle.
  *
  * Output: array<struct<h long, v double>> ascending by hash.
  */
case class SampleKmv(
    hash: Expression,
    value: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.TreeMap[Long, Double]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(hash, value, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType), StructField("v", DoubleType))))

  type Buf = scala.collection.mutable.TreeMap[Long, Double]

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.TreeMap.empty[Long, Double]

  private def add(buf: Buf, h: Long, v: Double): Unit = {
    if (!buf.contains(h)) {
      buf.put(h, v)
      if (buf.size > k) buf -= buf.lastKey // evict current max hash
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val h = hash.eval(input)
    val v = value.eval(input)
    if (h != null && v != null)
      add(buf, h.asInstanceOf[Long], v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach { case (h, v) => add(buf, h, v) }
    buf
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.toArray.map { case (h, v) =>
      InternalRow(h, v)
    }.toArray[Any])

  override def serialize(buf: Buf): Array[Byte] =
    Framing.write(buf) { case (out, (h, v)) => out.writeLong(h); out.writeDouble(v) }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = createAggregationBuffer()
    Framing.read(bytes)(in => buf.put(in.readLong(), in.readDouble()))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): SampleKmv =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SampleKmv =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hash = newChildren(0), value = newChildren(1), kExpr = newChildren(2))
  override def prettyName: String = "graft_sample"
}
