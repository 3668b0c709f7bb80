package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bounded top-k aggregate: keeps the k highest-scoring (score, id)
  * pairs, ordered score DESC then id ASC.
  *
  * This is the scale-correct top-k: as a `TypedImperativeAggregate` it
  * participates in partial aggregation, so each map task ships AT MOST
  * k rows per group across the shuffle — vs a `row_number()` window,
  * which shuffles and sorts the *entire* scored corpus per query. At
  * 100 TB (billions of scored candidates per query) that is the
  * difference between a k-row exchange and a corpus-sized sort.
  *
  * Output: array<struct<score double, id long>> sorted best-first;
  * pair with `posexplode` to recover (rank-1, neighbor).
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[(Double, Long)]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(score, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType), StructField("id", LongType))))

  type Buf = scala.collection.mutable.ArrayBuffer[(Double, Long)]

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]

  // (score desc, id asc): a is better than b. java.lang.Double.compare
  // gives a total order (NaN/-0.0 included) so sortWith never sees the
  // contract-violating "NaN > x and NaN == x both false" case.
  @inline private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def trim(buf: Buf): Buf = {
    if (buf.length > k) {
      val sorted = buf.sortWith(better).take(k)
      buf.clear()
      buf ++= sorted
    }
    buf
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val s = score.eval(input)
    val i = id.eval(input)
    // NaN scores (e.g. cosine of a zero-norm embedding) carry no rank
    // information — drop them rather than let them pollute the top-k.
    if (s != null && i != null && !s.asInstanceOf[Double].isNaN) {
      buf += ((s.asInstanceOf[Double], i.asInstanceOf[Long]))
      // amortize: only sort+cut when the buffer doubles past k
      if (buf.length >= 2 * k) trim(buf)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    buf ++= other
    trim(buf)
  }

  override def eval(buf: Buf): Any = {
    val top = buf.sortWith(better).take(k)
    new GenericArrayData(top.map { case (s, i) =>
      InternalRow(s, i)
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    trim(buf)
    Framing.write(buf) { case (out, (s, i)) => out.writeDouble(s); out.writeLong(i) }
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = createAggregationBuffer()
    Framing.read(bytes)(in => buf += ((in.readDouble(), in.readLong())))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByScore =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByScore =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1), kExpr = newChildren(2))
  override def prettyName: String = "graft_topk"
}
