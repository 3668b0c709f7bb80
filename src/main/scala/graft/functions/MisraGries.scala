package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequent-items summary with k counters: after one
  * pass, EVERY item whose true frequency exceeds n/k is guaranteed to
  * be among the retained items (counts are underestimates by at most
  * n/k). Mergeable (Agarwal et al., "Mergeable Summaries", PODS'12):
  * merge = sum counts, then subtract the (k)-th largest count and
  * drop non-positives — the guarantee survives partial aggregation,
  * so each map task ships at most k-1 (item, count) pairs per group.
  *
  * The retained SET may vary with partitioning (MG is order-sensitive
  * below the guarantee threshold); what is deterministic — and what
  * `sketch_heavy_hitters` exposes — is the two-pass protocol: sketch
  * for candidates, then an exact recount of the ≤ k-1 candidates and
  * a threshold at n/k, whose output is exactly the items with true
  * freq > n/k regardless of how the sketch pass was partitioned. At
  * 100 TB this is THE exact heavy-hitters shape: pass 1 ships k
  * counters per task, pass 2 recounts a broadcast candidate set.
  *
  * Output: array<string> of retained items (candidate set).
  */
case class MisraGries(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.HashMap[String, Long]] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType)

  type Buf = scala.collection.mutable.HashMap[String, Long]

  override def createAggregationBuffer(): Buf =
    scala.collection.mutable.HashMap.empty[String, Long]

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.toString
      buf.get(item) match {
        case Some(c) => buf.put(item, c + 1)
        case None if buf.size < k - 1 => buf.put(item, 1L)
        case None => // decrement-all step: the shared "pay one from each"
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          buf.foreach { case (i, c) => if (c == 1) dead += i else buf.put(i, c - 1) }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    other.foreach { case (i, c) => buf.put(i, buf.getOrElse(i, 0L) + c) }
    if (buf.size > k - 1) {
      // subtract the k-th largest count from everything, drop <= 0
      val kth = buf.values.toArray.sorted(Ordering[Long].reverse)(k - 1)
      val dead = scala.collection.mutable.ArrayBuffer.empty[String]
      buf.foreach { case (i, c) =>
        if (c - kth <= 0) dead += i else buf.put(i, c - kth)
      }
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: Buf): Any =
    new GenericArrayData(buf.keys.toArray.sorted
      .map(UTF8String.fromString(_).asInstanceOf[Any]))

  override def serialize(buf: Buf): Array[Byte] =
    Framing.write(buf) { case (out, (i, c)) => out.writeUTF(i); out.writeLong(c) }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val buf = createAggregationBuffer()
    Framing.read(bytes)(in => buf.put(in.readUTF(), in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), kExpr = newChildren(1))
  override def prettyName: String = "graft_mg"
}
