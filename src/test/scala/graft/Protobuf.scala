package graft

import org.scalatest.Assertions.fail

/** Minimal independent protobuf wire-format decoder for the wire specs,
  * written against the public encoding spec rather than the SQL
  * generators it checks. */
object Protobuf {
  final case class Field(num: Int, wireType: Int, varint: Long, bytes: Array[Byte])

  /** The varint at offset `p`, and the offset after it. */
  def readVarint(b: Array[Byte], p: Int): (Long, Int) = {
    var x = 0L; var shift = 0; var i = p
    while ({ val c = b(i); x |= (c & 0x7fL) << shift; shift += 7; i += 1; (c & 0x80) != 0 }) ()
    (x, i)
  }

  /** The top-level fields of one message, in wire order. */
  def fields(b: Array[Byte]): Seq[Field] = {
    var p = 0; val out = Seq.newBuilder[Field]
    while (p < b.length) {
      val (tag, p1) = readVarint(b, p)
      val num = (tag >> 3).toInt; val wt = (tag & 7).toInt
      wt match {
        case 0 => val (v, p2) = readVarint(b, p1); out += Field(num, wt, v, Array.empty); p = p2
        case 1 =>
          var v = 0L
          for (i <- 0 until 8) v |= (b(p1 + i) & 0xffL) << (8 * i)
          out += Field(num, wt, v, b.slice(p1, p1 + 8)); p = p1 + 8
        case 2 => val (len, p2) = readVarint(b, p1)
          out += Field(num, wt, len, b.slice(p2, p2 + len.toInt)); p = p2 + len.toInt
        case other => fail(s"unexpected wire type $other at offset $p")
      }
    }
    out.result()
  }

  def unhex(h: String): Array[Byte] =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
