package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** The byte form of the TypedImperativeAggregate buffers here: an int
  * count, then each element as its kernel writes it. */
private[functions] object Framing {
  def write[T](items: Iterable[T])(put: (DataOutputStream, T) => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(items.size)
    items.foreach(put(out, _))
    out.flush()
    bos.toByteArray
  }

  /** Calls `take` once per element [[write]] framed into `bytes`. */
  def read(bytes: Array[Byte])(take: DataInputStream => Unit): Unit = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    var j = 0
    while (j < n) { take(in); j += 1 }
  }
}
