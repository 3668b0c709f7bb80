package graft

import graft.operators.PromWire
import graft.Protobuf._
import scala.collection.mutable.ArrayBuffer

/** The wire framing must be REAL protobuf — so the spec parses every
  * emitted frame back with an independent minimal wire-format decoder
  * ([[Protobuf]], written against the public protobuf encoding spec, not
  * against the SQL generator) into labels + sample, asserting the decoded
  * content equals the source sample stream bit-for-bit. */
class PromWireSpec extends SparkTestBase {

  test("every frame decodes to the reference's label block and single sample") {
    val rows = PromWire.wireFrame(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val metricName = r.getString(1); val et = r.getString(2)
      val tsMs = r.getLong(3); val value = r.getDouble(4)
      val wire = unhex(r.getString(6))
      assert(wire.length == r.getLong(5))
      // WriteRequest frame: exactly one field-1 length-delimited entry
      val wr = fields(wire)
      assert(wr.map(f => (f.num, f.wireType)) == Seq((1, 2)))
      val ts = fields(wr.head.bytes)
      // TimeSeries: 7 labels then 1 sample, in the reference's order
      val labels = ts.filter(_.num == 1).map { lf =>
        val kv = fields(lf.bytes)
        val name = new String(kv.find(_.num == 1).get.bytes, "UTF-8")
        val v = kv.find(_.num == 2).map(f => new String(f.bytes, "UTF-8")).getOrElse("")
        name -> v
      }
      assert(labels == Seq(
        "__name__" -> metricName, "event_type" -> et, "identifier" -> "graft",
        "job" -> "database-collector", "region" -> "", "accountId" -> "",
        "engine" -> "events"))
      // proto3 zero-value rule: empty label values carry NO field 2
      assert(fields(ts.filter(_.num == 1).apply(4).bytes).map(_.num) == Seq(1))
      val samples = ts.filter(_.num == 2)
      assert(samples.size == 1)
      val sf2 = fields(samples.head.bytes)
      val decodedValue = java.lang.Double.longBitsToDouble(sf2.find(_.num == 1).get.varint)
      assert(decodedValue == value, s"$metricName/$et IEEE bits mismatch")
      assert(sf2.find(_.num == 2).get.varint == tsMs)
    }
  }

  test("known-vector: the decoder round-trips a hand-marshalled TimeSeries") {
    // Label{__name__, up}, Sample{1.5, 300000} marshalled BY HAND from
    // the protobuf encoding spec — pins the decoder itself so the
    // round-trip test above can't pass via a mirrored bug.
    val label = "0a" + "0e" + "0a" + "08" + hex("__name__") + "12" + "02" + hex("up")
    assert(label == "0a0e0a085f5f6e616d655f5f12027570")
    // 1.5 bits = 3ff8000000000000 (LE on the wire); varint(300000) = e0 a7 12
    val sample = "12" + "0d" + "09" + "000000000000f83f" + "10" + "e0a712"
    val ts = fields(unhex(label + sample))
    val kv = fields(ts.head.bytes)
    assert(new String(kv.find(_.num == 1).get.bytes, "UTF-8") == "__name__")
    assert(new String(kv.find(_.num == 2).get.bytes, "UTF-8") == "up")
    val sf2 = fields(ts(1).bytes)
    assert(java.lang.Double.longBitsToDouble(sf2.find(_.num == 1).get.varint) == 1.5)
    assert(sf2.find(_.num == 2).get.varint == 300000L)
  }

  private def hex(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString

  test("prom_wire_snappy: every body round-trips and the compressed form is receiver-decodable") {
    val rows = PromWire.wireSnappy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getBoolean(5), s"roundtrip_ok false for ${r.getString(1)}") }
    // independently rebuild each family body, push it through the same
    // codec library a receiver would use, and parse the decompressed
    // bytes as a WriteRequest — the full reference encode path
    val frames = PromWire.wireFrame(spark, sf).collect()
    val byFamily = frames.groupBy(r => (r.getString(0), r.getString(1)))
    rows.foreach { r =>
      val body = byFamily((r.getString(0), r.getString(1)))
        .sortBy(_.getString(2)).flatMap(f => unhex(f.getString(6)))
      assert(body.length == r.getLong(3))
      val compressed = org.xerial.snappy.Snappy.compress(body)
      // the wire bodies are label-heavy and must compress smaller
      assert(compressed.length < body.length,
        s"${r.getString(1)}: ${compressed.length} !< ${body.length}")
      val decoded = fields(org.xerial.snappy.Snappy.uncompress(compressed))
      assert(decoded.size == r.getLong(2))
      assert(decoded.forall(f => f.num == 1 && f.wireType == 2))
    }
  }

  test("graft_snappy codec edge cases round-trip: empty, 1-byte, incompressible, repetitive") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val cases: Seq[Array[Byte]] = Seq(
      Array.empty[Byte],
      Array[Byte](7),
      Array.fill(10000)(rnd.nextInt().toByte), // incompressible
      Array.fill(100000)('a'.toByte))          // maximally repetitive
    val out = cases.zipWithIndex.map { case (b, i) => (i, b) }.toDF("i", "b")
      .selectExpr("i", "length(b) AS raw_len", "length(graft_snappy(b)) AS comp_len",
        "graft_unsnappy(graft_snappy(b)) <=> b AS ok")
      .collect().sortBy(_.getInt(0))
    out.foreach(r => assert(r.getBoolean(3), s"case ${r.getInt(0)} failed round-trip"))
    // snappy may expand incompressible input (bounded overhead), but the
    // repetitive block must shrink dramatically
    assert(out(3).getInt(2) < out(3).getInt(1) / 10)
  }

  test("prom_remote_read_frame: independently rebuilt ReadResponse matches, and decodes") {
    def writeVarint(x: Long): String = {
      val out = new StringBuilder; var v = x
      while ({ val b = (v & 0x7f) | (if ((v >> 7) != 0) 0x80 else 0)
        out.append(f"$b%02x"); v >>= 7; v != 0 }) ()
      out.toString
    }
    // rebuild each family's body from the WRITE-side frames: QueryResult
    // = ordered TimeSeries frames, ReadResponse = one more 0a-len wrap
    val frames = PromWire.wireFrame(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(6))) // metric, et, wire_hex
      .groupBy(_._1)
    val got = PromWire.remoteReadFrame(spark, sf).collect()
      .map(r => r.getString(1) ->
        (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    assert(got.keySet == frames.keySet)
    frames.foreach { case (metric, fs) =>
      val qr = fs.sortBy(_._2).map(_._3).mkString
      val rr = "0a" + writeVarint(qr.length / 2) + qr
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rr.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val (nSeries, bodyLen, bodyMd5, headHex) = got(metric)
      assert(nSeries == fs.length.toLong, s"$metric series count")
      assert(bodyLen == rr.length / 2, s"$metric body length")
      assert(bodyMd5 == md5, s"$metric body md5 differs from independent rebuild")
      assert(rr.startsWith(headHex), s"$metric head bytes")
      // structural decode: one results field wrapping n_series timeseries
      val outer = fields(unhex(rr))
      assert(outer.size == 1 && outer.head.num == 1 && outer.head.wireType == 2,
        s"$metric: ReadResponse must be one len-delimited results field")
      val inner = fields(outer.head.bytes)
      assert(inner.size == nSeries && inner.forall(f => f.num == 1 && f.wireType == 2),
        s"$metric: QueryResult must hold exactly the series frames")
    }
  }

  test("frames concatenate into one WriteRequest regardless of row order") {
    val rows = PromWire.wireFrame(spark, sf).collect()
    val body = rows.reverse.flatMap(r => unhex(r.getString(6)))
    val series = fields(body)
    assert(series.size == rows.length)
    assert(series.forall(f => f.num == 1 && f.wireType == 2))
  }

  test("native histogram wire: decoding spans+deltas reconstructs the exact sparse buckets") {
    def unzig(x: Long): Long = (x >>> 1) ^ -(x & 1)
    val rows = graft.operators.PromWire.nativeHistogramWire(spark, sf).collect()
    assert(rows.nonEmpty)
    // expected sparse buckets straight from the shared ladder
    val expected = graft.sources.Tables.events(spark, sf)
      .selectExpr("event_type", s"${graft.operators.NativeHistogram.idxLadder} AS idx")
      .groupBy("event_type", "idx").count().collect()
      .groupBy(_.getString(0))
      .map { case (et, rs) => et -> rs.map(r => r.getInt(1) -> r.getLong(2)).toMap }
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val b = unhex(r.getAs[String]("hist_hex"))
      var p = 0
      var total = -1L; var schema = -1L; var sum = 0.0
      val spans = Seq.newBuilder[(Long, Long)]
      var deltas: Seq[Long] = Nil
      while (p < b.length) {
        val (tag, p1) = readVarint(b, p)
        ((tag >> 3).toInt, (tag & 7).toInt) match {
          case (1, 0) => val (v, p2) = readVarint(b, p1); total = v; p = p2
          case (3, 1) =>
            val bits = (0 until 8).map(i => (b(p1 + i) & 0xffL) << (8 * i)).reduce(_ | _)
            sum = java.lang.Double.longBitsToDouble(bits); p = p1 + 8
          case (4, 0) => val (v, p2) = readVarint(b, p1); schema = unzig(v); p = p2
          case (11, 2) =>
            val (len, p2) = readVarint(b, p1)
            var q = p2
            val (ot, q1) = readVarint(b, q); assert((ot >> 3) == 1); // offset
            val (ov, q2) = readVarint(b, q1)
            val (lt, q3) = readVarint(b, q2); assert((lt >> 3) == 2); // length
            val (lv, q4) = readVarint(b, q3)
            assert(q4 - p2 == len)
            spans += ((unzig(ov), lv)); p = q4
          case (12, 2) =>
            val (len, p2) = readVarint(b, p1)
            var q = p2
            val out = Seq.newBuilder[Long]
            while (q < p2 + len) { val (v, q2) = readVarint(b, q); out += unzig(v); q = q2 }
            deltas = out.result(); p = p2 + len.toInt
          case (_, 2) => val (len, p2) = readVarint(b, p1); p = p2 + len.toInt
          case (_, 0) => p = readVarint(b, p1)._2
          case (_, 1) => p = p1 + 8
        }
      }
      assert(schema == 2, "standard schema 2")
      // spans → absolute indices; deltas → counts
      val indices = {
        var cur = 0L; val out = Seq.newBuilder[Long]
        var first = true
        spans.result().foreach { case (off, len) =>
          cur = (if (first) off else cur + off); first = false
          (0L until len).foreach { i => out += cur + i }
          cur = cur + len
        }
        out.result()
      }
      val counts = deltas.scanLeft(0L)(_ + _).drop(1)
      assert(indices.length == counts.length)
      val got = indices.zip(counts).map { case (i, c) => i.toInt -> c }.toMap
      assert(got == expected(et), s"$et: wire buckets $got != ladder ${expected(et)}")
      assert(total == counts.sum, "count_int equals the bucket mass")
      assert(math.abs(sum) > 0, "sum field carried")
    }
  }

  // Remote-Write 2.0 Request body: parse the protobuf by hand, resolve
  // every label ref through the symbols table, and check the series
  // against the v1 frames' sample stream.
  private case class Reader(b: Array[Byte], var i: Int = 0) {
    def hasNext: Boolean = i < b.length
    def varint(): Long = {
      var x = 0L; var sh = 0
      while ({ val v = b(i) & 0xff; i += 1; x |= (v & 0x7fL) << sh; sh += 7; (v & 0x80) != 0 }) ()
      x
    }
    def bytes(n: Int): Array[Byte] = { val r = b.slice(i, i + n); i += n; r }
    def fixed64(): Long =
      (0 to 7).map(k => (b(i + k) & 0xffL) << (8 * k)).reduce(_ | _) match {
        case v => i += 8; v
      }
  }

  test("v2 request decodes: symbols, packed refs, sorted labels, v1-equal samples") {
    val row = run("prom_wire_frame_v2").collect().head
    val (nSymbols, nSeries, bodyLen, bodyHex) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getString(3))
    assert(bodyLen * 2 == bodyHex.length)

    val r = Reader(unhex(bodyHex))
    val symbols = ArrayBuffer[String]()
    val series = ArrayBuffer[(Seq[Long], Option[Double], Long)]()
    while (r.hasNext) {
      val tag = r.varint()
      tag match {
        case 0x22 => // Request.symbols (field 4, len)
          val n = r.varint().toInt
          symbols += new String(r.bytes(n), "UTF-8")
        case 0x2a => // Request.timeseries (field 5, len)
          val end = r.varint().toInt + r.i
          var refs = Seq.empty[Long]; var value: Option[Double] = None; var ts = -1L
          while (r.i < end) {
            r.varint() match {
              case 0x0a => // packed labels_refs
                val e2 = r.varint().toInt + r.i
                val acc = ArrayBuffer[Long]()
                while (r.i < e2) acc += r.varint()
                refs = acc.toSeq
              case 0x12 => // Sample
                val e3 = r.varint().toInt + r.i
                while (r.i < e3) {
                  r.varint() match {
                    case 0x09 => value = Some(java.lang.Double.longBitsToDouble(r.fixed64()))
                    case 0x10 => ts = r.varint()
                    case t => fail(s"unexpected Sample tag $t")
                  }
                }
              case t => fail(s"unexpected TimeSeries tag $t")
            }
          }
          series += ((refs, value, ts))
        case t => fail(s"unexpected Request tag $t")
      }
    }
    assert(symbols.length.toLong == nSymbols && symbols.head == "",
      "symbols[0] must be the mandated empty string")
    assert(symbols.distinct.length == symbols.length, "symbols are interned once")
    assert(series.length.toLong == nSeries)

    // v1 frames carry the identical sample stream — compare (metric,
    // event_type) -> (value, ts)
    val v1 = run("prom_wire_frame").collect()
      .map(rr => (rr.getString(1), rr.getString(2)) ->
        (rr.getDouble(4), rr.getLong(3))).toMap
    val names = Seq("__name__", "accountId", "engine", "event_type",
      "identifier", "job", "region")
    series.foreach { case (refs, value, ts) =>
      assert(refs.length == 14, "7 sorted label pairs")
      val labels = refs.grouped(2).map { case Seq(n, v) =>
        symbols(n.toInt) -> symbols(v.toInt)
      }.toSeq
      assert(labels.map(_._1) == names, s"labels sorted by name: ${labels.map(_._1)}")
      val m = labels.toMap
      assert(m("identifier") == "graft" && m("job") == "database-collector"
        && m("engine") == "events" && m("accountId") == "" && m("region") == "")
      val key = (m("__name__"), m("event_type"))
      val (wantV, wantTs) = v1(key)
      assert(ts == wantTs, s"timestamp differs from v1 at $key")
      assert(value.getOrElse(0.0) == wantV, s"value differs from v1 at $key")
    }
    assert(series.map { case (refs, _, _) =>
      (symbols(refs(1).toInt), symbols(refs(7).toInt))
    }.toSet == v1.keySet, "every v1 series appears exactly once in v2")
  }

  // Every data-string length prefix is a UTF-8 BYTE count, derived from
  // `length(hex(col)) div 2` in both engines: a character count would
  // frame any non-ASCII label value invalidly, and the oracle (computing
  // the same wrong bytes) could never catch it.
  test("non-ASCII label values frame with UTF-8 BYTE length prefixes") {
    import spark.implicits._
    // 2-, 3- and 4-byte UTF-8 code points; char count << byte count
    val evil = Seq("café", "покупка", "支付_完了", "emoji_😀_done")
    val df = evil.zipWithIndex
      .map { case (et, i) => (et, 1700000000000L + i, "events_total", 1.0 + i) }
      .toDF("event_type", "ts_ms", "metric_name", "value")
    val rows = PromWire.encodeSamples(df)
      .selectExpr("event_type", "value", "ts_ms", "wire_hex").collect()
    assert(rows.length == evil.size)
    rows.foreach { r =>
      val et = r.getString(0)
      val wire = unhex(r.getString(3))
      val wr = fields(wire)
      assert(wr.map(f => (f.num, f.wireType)) == Seq((1, 2)),
        s"$et: frame must be one length-delimited TimeSeries")
      val ts = fields(wr.head.bytes)
      val labels = ts.filter(_.num == 1).map { lf =>
        val kv = fields(lf.bytes)
        (new String(kv.find(_.num == 1).get.bytes, "UTF-8"),
          kv.find(_.num == 2).map(f => new String(f.bytes, "UTF-8")).getOrElse(""))
      }
      // the event_type label must round-trip BYTE-exactly — under the
      // old character-count prefix the decoder would mis-frame here
      assert(labels.contains(("event_type", et)), s"decoded labels: $labels")
      val sample = fields(ts.filter(_.num == 2).head.bytes)
      assert(java.lang.Double.longBitsToDouble(sample.find(_.num == 1).get.varint)
        == r.getDouble(1))
      assert(sample.find(_.num == 2).get.varint == r.getLong(2))
    }
  }

  test("v2 symbol entries carry byte-length prefixes for non-ASCII symbols") {
    // drive the generated SQL fragment directly: the same strByteLen
    // arithmetic the v2 symbol table uses, over a literal row
    val hex = spark.sql(
      "SELECT lower(hex('покупка')) AS h, (length(lower(hex('покупка'))) div 2) AS blen")
      .collect().head
    assert(hex.getString(0).length / 2 == 14) // 7 Cyrillic chars × 2 bytes
    assert(hex.getLong(1) == 14L)             // the prefix the encoder now emits
  }
}
