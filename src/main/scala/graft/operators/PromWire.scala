package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Tables

/** Prometheus remote-write WIRE framing — the byte-exact protobuf
  * encoding of `prompb.WriteRequest` the reference builds right before
  * its sigv4 POST (`collector/internal/utils/prometheus.go:112-127`,
  * `encodeWriteRequestIntoProtoAndSnappy` → `proto.Marshal`).
  *
  * Faithful semantics notes (reference prometheus.go:23-120):
  *  - Each metric becomes ONE TimeSeries with ONE sample. The per-bucket
  *    (histogram) / per-quantile (summary) sample loops are dead code:
  *    `timestamp` is never 0 (falls back to now()), so the trailing
  *    `ts.Samples = []prompb.Sample{sample}` unconditionally overwrites
  *    them with the single family value (counter/gauge value,
  *    histogram/summary sample_sum).
  *  - Label order is fixed by construction: `__name__`, the metric's own
  *    labels, then identifier, job, region, accountId, engine
  *    (prometheus.go:36-66). gogo proto.Marshal emits fields in that
  *    slice order; proto3 zero-value rule omits empty-string label
  *    values and a 0.0 sample value.
  *
  * The public prompb wire format (protobuf encoding spec):
  *   Label      = 1:name(len-delim) 2:value(len-delim)
  *   Sample     = 1:value(fixed64 LE double bits) 2:timestamp(varint)
  *   TimeSeries = 1:Label* 2:Sample*
  *   WriteRequest = 1:TimeSeries*
  * so a WriteRequest body is exactly the concatenation of per-series
  * `0x0A <varint len> <TimeSeries bytes>` frames — which is what this
  * entry emits, one frame per row. At 100 TB the frame is a pure per-row
  * projection (no shuffle beyond the upstream aggregate): each executor
  * serializes its own partition of the sample stream and a sink
  * concatenates frames into request bodies of any target size, never
  * materializing a single giant request on one node. Snappy is a
  * codec-library call on the framed bytes and is intentionally out of
  * the deterministic surface.
  *
  * Cross-engine determinism: the ENTIRE byte assembly — IEEE-754 double
  * bit extraction (exponent ladder + exact power-of-two scaling; scaling
  * by 2^k and the already-integer CAST are exact in both engines),
  * varint framing, little-endian fixed64 — is generated ONCE as SQL
  * text and evaluated by both Spark and DuckDB over identical integer
  * math, so the hex output is bit-portable with no rounding slack.
  */
object PromWire {
  type Q = (SparkSession, String) => DataFrame

  /** Engine dialect: only bit-shift and integer-divide spellings differ. */
  private case class Dia(shr: (String, Int) => String, idiv: String => String)
  private val sparkDia = Dia((x, n) => s"shiftright($x, $n)", x => s"($x div 2)")
  private val duckDia  = Dia((x, n) => s"($x >> $n)", x => s"($x // 2)")

  private def hexByte(e: String): String = s"lpad(lower(hex($e)), 2, '0')"

  /** Exact decimal literal for 2^e (e may be negative) as a double. */
  private def pow2lit(e: Int): String = {
    val bd =
      if (e >= 0) java.math.BigDecimal.valueOf(2).pow(e)
      else java.math.BigDecimal.ONE.divide(java.math.BigDecimal.valueOf(2).pow(-e))
    bd.toPlainString + "e0"
  }

  /** Base-128 varint hex of a non-negative BIGINT expression `x`.
    * Unrolled to 9 bytes (covers all non-negative signed-64 values;
    * byte 8 can never carry a continuation bit for x < 2^63). */
  private def varintHex(x: String, dia: Dia): String = {
    val terms = (0 to 8).map { i =>
      val lo7 = if (i == 0) s"($x & 127)" else s"(${dia.shr(x, 7 * i)} & 127)"
      val cont =
        if (i >= 8) lo7
        else s"($lo7 | (CASE WHEN $x >= ${1L << (7 * (i + 1))} THEN 128 ELSE 0 END))"
      val byte = hexByte(cont)
      if (i == 0) byte else s"CASE WHEN $x >= ${1L << (7 * i)} THEN $byte ELSE '' END"
    }
    terms.mkString("concat(", ", ", ")")
  }

  /** IEEE-754 bits of a non-negative double expression `av` as BIGINT
    * (sign handled separately by the caller). Descending exponent
    * ladder: for 2^e <= av < 2^(e+1), bits = (e+1023-1)*2^52 +
    * round(av * 2^(52-e)); the scale is an exact power of two so the
    * product is the integer significand with no rounding. ELSE covers
    * av = 0 (and sub-2^-24 values, which this entry's value domain —
    * counts, cent-rounded sums, floor-1e4 gauges — cannot produce). */
  private def doubleBitsExpr(av: String): String = {
    val branches = (62 to -24 by -1).map { e =>
      val base = (e.toLong + 1022L) * (1L << 52) // (e+1023)<<52 − 2^52 implicit-bit excess
      s"WHEN $av >= ${pow2lit(e)} THEN ${base}+CAST($av * ${pow2lit(52 - e)} AS BIGINT)"
    }
    s"(CASE ${branches.mkString(" ")} ELSE 0 END)"
  }

  /** Little-endian fixed64 hex of the bits column, folding the sign bit
    * of the ORIGINAL value `v` into the top byte. */
  private def fixed64le(bits: String, v: String, dia: Dia): String = {
    val bytes = (0 to 7).map { i =>
      val b =
        if (i < 7) s"(${dia.shr(bits, 8 * i)} & 255)"
        else s"((${dia.shr(bits, 56)} & 255) + (CASE WHEN $v < 0e0 THEN 128 ELSE 0 END))"
      hexByte(b)
    }
    bytes.mkString("concat(", ", ", ")")
  }

  private def strHex(col: String): String = s"lower(hex($col))"

  /** UTF-8 BYTE length of a string expression, engine-portable: hex()
    * is bytewise in both engines and emits pure ASCII, so half its
    * character length IS the byte count. A bare `length(col)` counts
    * CHARACTERS and would under-state the protobuf length prefix of a
    * non-ASCII value in both engines identically — a wire-invalid body
    * the oracle could never catch — so every DATA-string length prefix
    * goes through here (constant labels are hex-precomputed on the
    * driver from getBytes("UTF-8") and don't need it). */
  private def strByteLen(col: String, dia: Dia): String =
    dia.idiv(s"length(${strHex(col)})")

  /** Constant label frame (TimeSeries field-1 entry), precomputed to a
    * hex literal. Empty values are omitted (proto3 zero-value rule). */
  private def constLabelFrame(name: String, value: String): String = {
    def hx(s: String) = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    def b(i: Int) = { require(i < 128); f"$i%02x" }
    val inner = "0a" + b(name.length) + hx(name) +
      (if (value.nonEmpty) "12" + b(value.length) + hx(value) else "")
    "0a" + b(inner.length / 2) + inner
  }

  /** Static label block after the metric's own labels — identifier, job,
    * region, accountId, engine (prometheus.go:46-66). region/accountId
    * come from env vars the collector may run without; unset env ⇒ empty
    * string ⇒ proto3 omits the value field but still emits the label. */
  private val constChunk: String = Seq(
    constLabelFrame("identifier", "graft"),
    constLabelFrame("job", "database-collector"),
    constLabelFrame("region", ""),
    constLabelFrame("accountId", ""),
    constLabelFrame("engine", "events")).mkString

  // __name__ is 8 bytes; event_type (the metric's own label name) is 10.
  private val nameLabelHex = strHexConst("__name__")   // 5f5f6e616d655f5f
  private val etLabelHex   = strHexConst("event_type")
  private def strHexConst(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString

  /** The four per-event_type metric families the collector surface
    * exposes, with the single sample value the reference's conversion
    * actually ships for each family type. */
  private val families: Seq[(String, String, String)] = Seq(
    ("COUNTER", "events_total", "n"),
    ("GAUGE", "events_value_gauge", "gavg"),
    ("HISTOGRAM", "events_value_hist", "vsum"),
    ("SUMMARY", "events_value_summary", "vsum"))

  /** Per-stage SELECT expressions shared by both engines. Returns the
    * stage pipeline as (columns added at each stage). */
  private def stages(dia: Dia): Seq[Seq[String]] = {
    val s1 = Seq(s"${doubleBitsExpr("abs(value)")} AS vbits")
    val sampleHex =
      s"""concat(CASE WHEN value = 0e0 THEN '' ELSE concat('09', ${fixed64le("vbits", "value", dia)}) END,
                 '10', ${varintHex("ts_ms", dia)})"""
    val nameFrame =
      s"""concat('0a', ${hexByte(s"12 + ${strByteLen("metric_name", dia)}")},
                 '0a', '08', '$nameLabelHex',
                 '12', ${hexByte(strByteLen("metric_name", dia))}, ${strHex("metric_name")})"""
    val etFrame =
      s"""concat('0a', ${hexByte(s"14 + ${strByteLen("event_type", dia)}")},
                 '0a', '0a', '$etLabelHex',
                 '12', ${hexByte(strByteLen("event_type", dia))}, ${strHex("event_type")})"""
    val s2 = Seq(s"$sampleHex AS sample_hex", s"$nameFrame AS name_frame",
      s"$etFrame AS et_frame")
    val tsMsg =
      s"""concat(name_frame, et_frame, '$constChunk',
                 '12', ${varintHex(dia.idiv("length(sample_hex)"), dia)}, sample_hex)"""
    val s3 = Seq(s"$tsMsg AS ts_msg")
    val s4 = Seq(
      s"concat('0a', ${varintHex(dia.idiv("length(ts_msg)"), dia)}, ts_msg) AS wire_hex")
    Seq(s1, s2, s3, s4)
  }

  /** Encode arbitrary sample rows into per-sample WriteRequest frames.
    * Input contract: columns `metric_name` (string), `event_type`
    * (string label), `value` (double), `ts_ms` (long); all other
    * columns pass through. Adds `wire_hex`. This is the reusable core
    * of `wireFrame`, also driven standalone by the collector loop
    * (graft.streaming.CollectorLoop) for scraped-table samples. */
  def encodeSamples(df: DataFrame): DataFrame = {
    var x = df
    stages(sparkDia).foreach { cols => x = x.selectExpr("*" +: cols: _*) }
    x.drop("vbits", "sample_hex", "name_frame", "et_frame", "ts_msg")
  }

  /** One WriteRequest frame (`0A <len> <TimeSeries>`) per metric: the
    * concatenation of this entry's wire_hex column, in any row order,
    * unhexed, IS a valid `prompb.WriteRequest` body (field order within
    * each frame is fixed; frames commute because field 1 is repeated). */
  def wireFrame: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    val agg = Tables.events(s, d).groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("value")), 2).as("vsum"),
        expr("CAST(unix_seconds(date_trunc('second', max(ts))) AS BIGINT) * 1000").as("ts_ms"))
      .withColumn("gavg", expr("floor(vsum / n * 1e4) / 1e4"))
    val stackArgs = families
      .map { case (f, m, v) => s"'$f', '$m', $v" }.mkString(", ")
    val stacked = agg.selectExpr("event_type", "ts_ms",
      s"stack(${families.size}, $stackArgs) AS (family_type, metric_name, value)")
    encodeSamples(stacked)
      .selectExpr("family_type", "metric_name", "event_type", "ts_ms", "value",
        s"${sparkDia.idiv("length(wire_hex)")} AS wire_len", "wire_hex")
  }

  val wireFrameSql: String = {
    val selects = families.map { case (f, m, v) =>
      s"SELECT event_type, ts_ms, '$f' AS family_type, '$m' AS metric_name, $v AS value FROM a"
    }.mkString(" UNION ALL ")
    val cteNames = Seq("s1", "s2", "s3", "s4")
    val ctes = stages(duckDia).zipWithIndex.map { case (cols, i) =>
      val from = if (i == 0) "r" else cteNames(i - 1)
      s"${cteNames(i)} AS (SELECT *, ${cols.mkString(", ")} FROM $from)"
    }
    s"""WITH a0 AS (SELECT event_type,
                      CAST(count(*) AS DOUBLE) AS n,
                      round(sum(value), 2) AS vsum,
                      CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) * 1000 AS ts_ms
                    FROM events GROUP BY event_type),
          a AS (SELECT *, floor(vsum / n * 1e4) / 1e4 AS gavg FROM a0),
          r AS ($selects),
          ${ctes.mkString(",\n          ")}
        SELECT family_type, metric_name, event_type, ts_ms, value,
               ${duckDia.idiv("length(wire_hex)")} AS wire_len, wire_hex
        FROM s4 ORDER BY metric_name, event_type"""
  }

  /** Snappy-compressed request bodies — the reference's full encode
    * path (`proto.Marshal` + `snappy.Encode`, prometheus.go:122-127).
    * One request body per metric family: the ordered concatenation of
    * that family's per-series frames (frames commute — WriteRequest
    * field 1 is repeated — so any partition-local batching is a valid
    * body; the per-family grouping here just makes the bodies
    * deterministic for the oracle). The codec step itself cannot be
    * replayed by a different engine, so the hash-checked surface is
    * the UNCOMPRESSED body (length + md5) plus the decompress∘compress
    * identity computed in the same generated projection; compressed
    * size bounds are spec-asserted (PromWireSpec). At 100 TB bodies
    * are assembled per partition after the per-family shuffle —
    * request-sized strings, never a driver-side concat. */
  def wireSnappy: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    wireFrame(s, d)
      .groupBy(col("family_type"), col("metric_name"))
      .agg(
        count(lit(1)).as("n_series"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(event_type, wire_hex))),
                  x -> x.wire_hex), '')""").as("body_hex"))
      .selectExpr(
        "family_type", "metric_name", "n_series",
        "length(body_hex) div 2 AS body_len",
        "md5(body_hex) AS body_md5",
        "lower(hex(graft_unsnappy(graft_snappy(unhex(body_hex))))) = body_hex AS roundtrip_ok")
  }

  val wireSnappySql: String =
    s"""WITH f AS ($wireFrameSql)
        SELECT family_type, metric_name,
               CAST(count(*) AS BIGINT) AS n_series,
               CAST(length(string_agg(wire_hex, '' ORDER BY event_type)) // 2 AS BIGINT) AS body_len,
               md5(string_agg(wire_hex, '' ORDER BY event_type)) AS body_md5,
               TRUE AS roundtrip_ok
        FROM f GROUP BY family_type, metric_name ORDER BY metric_name"""

  /** The remote-READ dual of the WriteRequest framing: the byte-exact
    * `prompb.ReadResponse` body a Prometheus remote-read endpoint
    * returns for one query (public prompb/remote.proto:
    * `ReadResponse{ repeated QueryResult results = 1 }`,
    * `QueryResult{ repeated TimeSeries timeseries = 1 }`) — the
    * protocol a Grafana/PromQL layer uses to pull the samples this
    * engine stores back OUT. Both repeated fields are field 1
    * (tag 0x0a), and the per-series frames this engine already emits
    * ARE `0a <len> <TimeSeries>` — so one query's QueryResult is the
    * deterministic concatenation of the selected series' frames, and
    * the ReadResponse is one more `0a <varint len>` wrap. One
    * generated byte-assembly evaluated verbatim by both engines.
    *
    * Scale shape: frames encode distributed (the `encodeSamples`
    * projection); response assembly is the |selected series|-bounded
    * gather at the query boundary — exactly where a remote-read
    * server materializes its response — via one per-family
    * aggregation, never a corpus concat. */
  def remoteReadFrame: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    wireFrame(s, d)
      .groupBy(col("family_type"), col("metric_name"))
      .agg(count(lit(1)).as("n_series"),
        expr("""array_join(transform(
                  array_sort(collect_list(struct(event_type, wire_hex))),
                  x -> x.wire_hex), '')""").as("qr_hex"))
      .selectExpr("family_type", "metric_name", "n_series",
        s"concat('0a', ${varintHex(sparkDia.idiv("length(qr_hex)"), sparkDia)}, qr_hex) AS rr_hex")
      .selectExpr("family_type", "metric_name", "n_series",
        "CAST(length(rr_hex) div 2 AS BIGINT) AS body_len",
        "md5(rr_hex) AS body_md5",
        "substring(rr_hex, 1, 8) AS head_hex")
  }

  val remoteReadFrameSql: String =
    s"""WITH f AS ($wireFrameSql),
        g AS (SELECT family_type, metric_name,
                     CAST(count(*) AS BIGINT) AS n_series,
                     string_agg(wire_hex, '' ORDER BY event_type) AS qr_hex
              FROM f GROUP BY 1, 2),
        r AS (SELECT *, concat('0a',
                ${varintHex(duckDia.idiv("length(qr_hex)"), duckDia)}, qr_hex) AS rr_hex
              FROM g)
        SELECT family_type, metric_name, n_series,
               CAST(length(rr_hex) // 2 AS BIGINT) AS body_len,
               md5(rr_hex) AS body_md5,
               substring(rr_hex, 1, 8) AS head_hex
        FROM r ORDER BY metric_name"""

  /** Zigzag (sint) encoding of a possibly-negative BIGINT expression —
    * the same spelling evaluates in both engines. */
  private def zz(x: String): String =
    s"(CASE WHEN $x >= 0 THEN 2 * $x ELSE -2 * $x - 1 END)"

  /** Native-histogram WIRE encoding — the `prompb.Histogram` sparse
    * message a Prometheus 3.x remote write carries, completing the
    * native-histogram story end-to-end beside the classic sample
    * frames: `prom_native_histogram_quantile` READS the sparse schema-2
    * histogram this engine builds; this entry ENCODES it byte-exactly.
    * Public prompb shape (prompb/types.proto Histogram):
    *   1: count_int (varint)            3: sum (fixed64 LE double)
    *   4: schema (sint32 zigzag)       11: positive_spans (len-delim
    *      BucketSpan{1: offset sint32 zigzag, 2: length varint}*)
    *   12: positive_deltas (PACKED sint64 zigzag: first bucket count
    *       absolute, then successive count differences)
    * Span discipline: consecutive bucket indices form one span; the
    * first span's offset is the absolute index of its first bucket,
    * later offsets count the gap since the previous span's end. Fields
    * whose proto3 zero-value rule drops them (zero_threshold = 0,
    * zero_count = 0, no negative buckets, no timestamp) are omitted.
    *
    * Determinism: bucket assignment is the shared [[NativeHistogram
    * .idxLadder]] (driver-computed pow-of-2^(1/4) literals, no runtime
    * libm); `sum` is the exact integer cent total divided once by 100,
    * so its IEEE bits are identical in both engines; spans/deltas are
    * integer window arithmetic. The whole byte assembly is ONE
    * generated SQL text evaluated by both engines (the `prom_wire_*`
    * discipline), so the hex hash-matches bit-for-bit.
    *
    * Scale: one groupBy(series, idx) with map-side combine, then
    * windows over ≤64-row per-series sparse bucket sets — nothing past
    * the first aggregation grows with row volume. */
  private def nhSql(dia: Dia, eventsRel: String,
      orderAgg: (String, String) => String): String =
    s"""WITH b AS (
         SELECT event_type, ${NativeHistogram.idxLadder} AS idx,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
         FROM $eventsRel GROUP BY 1, 2),
       w AS (
         SELECT event_type, idx, cnt, cents,
                lag(idx) OVER (PARTITION BY event_type ORDER BY idx) AS pidx,
                lag(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS pcnt
         FROM b),
       sp AS (
         SELECT event_type, idx, cnt, cents,
                CASE WHEN pidx IS NULL THEN cnt ELSE cnt - pcnt END AS d,
                SUM(CASE WHEN pidx IS NULL OR idx <> pidx + 1 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY event_type ORDER BY idx) AS span_id
         FROM w),
       dhex AS (
         SELECT event_type, idx, span_id, cnt, cents,
                ${varintHex(zz("d"), dia)} AS dh
         FROM sp),
       spans AS (
         SELECT event_type, span_id, min(idx) AS lo, max(idx) AS hi,
                CAST(count(*) AS BIGINT) AS len
         FROM sp GROUP BY 1, 2),
       spoff AS (
         SELECT event_type, span_id, len,
                CASE WHEN lag(hi) OVER (PARTITION BY event_type ORDER BY span_id) IS NULL
                     THEN lo
                     ELSE lo - lag(hi) OVER (PARTITION BY event_type ORDER BY span_id) - 1
                END AS off
         FROM spans),
       sphex0 AS (
         SELECT event_type, span_id,
                concat('08', ${varintHex(zz("off"), dia)},
                       '10', ${varintHex("len", dia)}) AS sp_inner
         FROM spoff),
       sphex AS (
         SELECT event_type, span_id,
                concat('5a', ${varintHex(dia.idiv("length(sp_inner)"), dia)}, sp_inner) AS sph
         FROM sphex0),
       agg1 AS (
         SELECT event_type,
                ${orderAgg("sph", "span_id")} AS spans_hex,
                CAST(count(*) AS BIGINT) AS n_spans
         FROM sphex GROUP BY event_type),
       agg2 AS (
         SELECT event_type,
                ${orderAgg("dh", "idx")} AS deltas_hex,
                CAST(count(*) AS BIGINT) AS n_buckets,
                CAST(sum(cnt) AS BIGINT) AS total,
                CAST(sum(cents) AS BIGINT) AS cents_total
         FROM dhex GROUP BY event_type),
       hist0 AS (
         SELECT a2.event_type, a2.n_buckets, a1.n_spans, a2.total,
                a2.cents_total / 100.0e0 AS vsum,
                a1.spans_hex, a2.deltas_hex
         FROM agg2 a2 JOIN agg1 a1 ON a1.event_type = a2.event_type),
       hist1 AS (
         SELECT *, ${doubleBitsExpr("abs(vsum)")} AS sbits FROM hist0),
       hist AS (
         SELECT event_type, n_buckets, n_spans, total,
                concat('08', ${varintHex("total", dia)},
                       '19', ${fixed64le("sbits", "vsum", dia)},
                       '20', '04',
                       spans_hex,
                       '62', ${varintHex(dia.idiv("length(deltas_hex)"), dia)}, deltas_hex)
                  AS hist_hex
         FROM hist1)
     SELECT event_type, n_buckets, n_spans, total,
            ${dia.idiv("length(hist_hex)")} AS hist_len, hist_hex
     FROM hist"""

  def nativeHistogramWire: Q = (s, d) => {
    Tables.events(s, d).createOrReplaceTempView("graft_events_nhw")
    s.sql(nhSql(sparkDia, "graft_events_nhw", (c, o) =>
      s"array_join(transform(array_sort(collect_list(struct($o, $c))), x -> x.$c), '')"))
  }

  val nativeHistogramWireSql: String =
    nhSql(duckDia, "events", (c, o) => s"string_agg($c, '' ORDER BY $o)") + " ORDER BY event_type"

  // --------------------------- Remote-Write 2.0 (symbol interning)

  /** Compile-time symbol block for the v2 Request: label NAMES, the
    * constant label values, and the (compile-time) metric family
    * names. Refs are positions: "" is the spec-mandated ref 0; these
    * follow at 1..n; data-driven event-type values append after. */
  private val v2ConstSyms: Seq[String] =
    (Seq("__name__", "accountId", "database-collector", "engine",
      "event_type", "events", "graft", "identifier", "job", "region")
      ++ families.map(_._2)).distinct
  private def v2Ref(sym: String): Int = v2ConstSyms.indexOf(sym) + 1
  private val v2EtRefBase: Int = v2ConstSyms.size // et ref = base + rn(1-based)

  /** `22 <len> <bytes>` symbol entries for "" + the constant block,
    * as one compile-time hex literal shared by both engines. */
  private val v2ConstSymsHex: String = {
    def hx(s: String) = s.getBytes("UTF-8").map(b => f"${b & 0xff}%02x").mkString
    def b(i: Int) = { require(i < 128); f"$i%02x" }
    "2200" + v2ConstSyms.map(s => "22" + b(s.length) + hx(s)).mkString
  }

  /** Single-byte varint (all refs here are < 128 by construction —
    * guarded at build time). */
  private def v2RefHex(sym: String): String = {
    val r = v2Ref(sym); require(r < 128, s"v2 ref overflow for $sym")
    f"$r%02x"
  }

  /** v2 Sample bytes — identical arithmetic to the v1 frames; ONE
    * definition, instantiated per dialect (expects a staged `vbits`). */
  private def v2SampleHex(dia: Dia): String =
    s"""concat(CASE WHEN value = 0e0 THEN '' ELSE concat('09', ${fixed64le("vbits", "value", dia)}) END,
               '10', ${varintHex("ts_ms", dia)})"""

  /** v2 packed label-ref pairs, sorted by label name (normative):
    * __name__, accountId(→""), engine(→events), event_type,
    * identifier(→graft), job(→database-collector), region(→""). */
  private def v2LabelsHex(dia: Dia): String =
    s"""concat('${v2RefHex("__name__")}', ${varintHex("metric_ref", dia)},
               '${v2RefHex("accountId")}', '00',
               '${v2RefHex("engine")}', '${v2RefHex("events")}',
               '${v2RefHex("event_type")}', ${varintHex("et_ref", dia)},
               '${v2RefHex("identifier")}', '${v2RefHex("graft")}',
               '${v2RefHex("job")}', '${v2RefHex("database-collector")}',
               '${v2RefHex("region")}', '00')"""

  /** Prometheus Remote-Write 2.0 request body (public spec,
    * `io.prometheus.write.v2.Request`): strings are INTERNED once in a
    * `symbols` table (field 4) and every label becomes a pair of
    * uint32 refs (packed field 1 of TimeSeries, field 5) — the 2024
    * successor to the v1 frames `prom_wire_frame` ships, cutting the
    * dominant label-bytes cost of remote write. This entry emits ONE
    * deterministic Request over the same per-(metric, series) samples
    * as the v1 entry: symbols = "" (mandated ref 0) + a compile-time
    * constant block (label names, constant values, family names —
    * refs are Scala literals) + the data-driven event-type values
    * (refs assigned by one row_number over the bounded distinct set),
    * labels sorted by name as v2 REQUIRES (v1's reference emitter
    * doesn't sort; v2 made it normative). Sample encoding (fixed64
    * double + varint ms) is byte-identical to v1 and reuses its
    * generated arithmetic. Scale shape: series frames encode
    * distributed (projection over the aggregated family table); the
    * symbol table is label-cardinality-bounded; the single-request
    * gather at the end is the |series|-bounded string_agg a real
    * sender does per request batch. Spec-side, PromWireSpec decodes
    * the body structurally (symbols → refs → labels) and round-trips
    * every series. */
  def wireFrameV2: Q = (s, d) => {
    import org.apache.spark.sql.functions._
    // localCheckpoint: the |series|-row family aggregate feeds THREE
    // consumers (frames, the symbol join, the symbol tail) — one
    // corpus scan, not three (the shared-table discipline)
    val agg = Tables.events(s, d).groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("n"),
        round(sum(col("value")), 2).as("vsum"),
        expr("CAST(unix_seconds(date_trunc('second', max(ts))) AS BIGINT) * 1000").as("ts_ms"))
      .withColumn("gavg", expr("floor(vsum / n * 1e4) / 1e4"))
      .transform(graft.Checkpoints.cut)
    val stackArgs = families
      .map { case (f, m, v) => s"'$f', '$m', $v" }.mkString(", ")
    val stacked = agg.selectExpr("event_type", "ts_ms",
      s"stack(${families.size}, $stackArgs) AS (family_type, metric_name, value)")
    // data-driven symbol refs: one row_number over the bounded
    // distinct event-type set (post-aggregate ⇒ bounded input).
    // Event types already present in the constant block are NOT
    // re-interned — they resolve to their constant ref (symbols are
    // interned exactly once, as the format exists to guarantee).
    val etSyms = agg.select(col("event_type"))
      .filter(!col("event_type").isin(v2ConstSyms: _*))
      .withColumn("et_ref",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("event_type"))) + v2EtRefBase).cast("long"))
    val metricRefCase = families.map(_._2)
      .map(m => s"WHEN metric_name = '$m' THEN ${v2Ref(m)}")
      .mkString("CAST(CASE ", " ", " ELSE NULL END AS BIGINT)")
    val etConstCase = v2ConstSyms
      .map(sym => s"WHEN event_type = '$sym' THEN ${v2Ref(sym)}")
      .mkString("CAST(CASE ", " ", " ELSE NULL END AS BIGINT)")
    val withRefs = stacked
      .join(broadcast(etSyms), Seq("event_type"), "left")
      .withColumn("et_ref", coalesce(col("et_ref"), expr(etConstCase)))
      .withColumn("metric_ref", expr(metricRefCase))
    val dia = sparkDia
    val sampleHex = v2SampleHex(dia)
    val labelsHex = v2LabelsHex(dia)
    val frames = withRefs
      .selectExpr("*", s"${doubleBitsExpr("abs(value)")} AS vbits")
      .selectExpr("metric_name", "event_type", s"$sampleHex AS sample_hex",
        s"$labelsHex AS labels_hex")
      .selectExpr("metric_name", "event_type",
        s"""concat('0a', ${varintHex(dia.idiv("length(labels_hex)"), dia)}, labels_hex,
                   '12', ${varintHex(dia.idiv("length(sample_hex)"), dia)}, sample_hex) AS ts_msg""")
      .selectExpr("metric_name", "event_type",
        s"concat('2a', ${varintHex(dia.idiv("length(ts_msg)"), dia)}, ts_msg) AS ts_frame")
      .agg(count(lit(1)).as("n_series"),
        expr("array_join(transform(array_sort(collect_list(struct(metric_name, event_type, ts_frame))), x -> x.ts_frame), '')")
          .as("series_hex"))
    val symTail = etSyms
      .selectExpr("event_type",
        s"concat('22', ${varintHex(strByteLen("event_type", dia), dia)}, ${strHex("event_type")}) AS sym_hex")
      .agg(count(lit(1)).cast("long").as("n_et_syms"),
        expr("array_join(transform(array_sort(collect_list(struct(event_type, sym_hex))), x -> x.sym_hex), '')")
          .as("et_syms_hex"))
    frames.crossJoin(symTail) // 1 row × 1 row
      .selectExpr(
        s"CAST(${1 + v2ConstSyms.size} + n_et_syms AS BIGINT) AS n_symbols",
        "n_series",
        s"concat('$v2ConstSymsHex', et_syms_hex, series_hex) AS body_hex")
      .selectExpr("n_symbols", "n_series",
        s"${dia.idiv("length(body_hex)")} AS body_len", "body_hex")
  }

  val wireFrameV2Sql: String = {
    val dia = duckDia
    val selects = families.map { case (f, m, v) =>
      s"SELECT event_type, ts_ms, '$m' AS metric_name, ${v2Ref(m)} AS metric_ref, $v AS value FROM a"
    }.mkString(" UNION ALL ")
    val sampleHex = v2SampleHex(dia)
    val labelsHex = v2LabelsHex(dia)
    s"""WITH a0 AS (SELECT event_type,
                      CAST(count(*) AS DOUBLE) AS n,
                      round(sum(value), 2) AS vsum,
                      CAST(epoch(date_trunc('second', max(ts))) AS BIGINT) * 1000 AS ts_ms
                    FROM events GROUP BY event_type),
          a AS (SELECT *, floor(vsum / n * 1e4) / 1e4 AS gavg FROM a0),
          ets AS (SELECT event_type,
                    CAST(row_number() OVER (ORDER BY event_type) + $v2EtRefBase AS BIGINT)
                      AS et_ref
                  FROM (SELECT DISTINCT event_type FROM a0
                        WHERE event_type NOT IN (${v2ConstSyms.map(x => s"'$x'").mkString(", ")})) t),
          r AS ($selects),
          w AS (SELECT r.*,
                  COALESCE(ets.et_ref,
                    CAST(CASE ${v2ConstSyms.map(x => s"WHEN r.event_type = '$x' THEN ${v2Ref(x)}").mkString(" ")}
                         ELSE NULL END AS BIGINT)) AS et_ref
                FROM r LEFT JOIN ets USING (event_type)),
          w2 AS (SELECT *, ${doubleBitsExpr("abs(value)")} AS vbits FROM w),
          s1 AS (SELECT metric_name, event_type,
                        $sampleHex AS sample_hex, $labelsHex AS labels_hex
                 FROM w2),
          s2 AS (SELECT metric_name, event_type,
                        concat('0a', ${varintHex(dia.idiv("length(labels_hex)"), dia)}, labels_hex,
                               '12', ${varintHex(dia.idiv("length(sample_hex)"), dia)}, sample_hex) AS ts_msg
                 FROM s1),
          s3 AS (SELECT metric_name, event_type,
                        concat('2a', ${varintHex(dia.idiv("length(ts_msg)"), dia)}, ts_msg) AS ts_frame
                 FROM s2),
          fr AS (SELECT count(*) AS n_series,
                        string_agg(ts_frame, '' ORDER BY metric_name, event_type) AS series_hex
                 FROM s3),
          st AS (SELECT CAST(count(*) AS BIGINT) AS n_et_syms,
                        COALESCE(string_agg(concat('22', ${varintHex(strByteLen("event_type", dia), dia)},
                                          ${strHex("event_type")}), '' ORDER BY event_type), '')
                          AS et_syms_hex
                 FROM ets)
        SELECT CAST(${1 + v2ConstSyms.size} + n_et_syms AS BIGINT) AS n_symbols,
               n_series,
               ${dia.idiv(s"length(concat('$v2ConstSymsHex', et_syms_hex, series_hex))")} AS body_len,
               concat('$v2ConstSymsHex', et_syms_hex, series_hex) AS body_hex
        FROM fr, st"""
  }

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("prom_wire_frame", wireFrame, Some(wireFrameSql)),
    ("prom_wire_frame_v2", wireFrameV2, Some(wireFrameV2Sql)),
    ("prom_wire_snappy", wireSnappy, Some(wireSnappySql)),
    ("prom_remote_read_frame", remoteReadFrame, Some(remoteReadFrameSql)),
    ("prom_native_histogram_wire", nativeHistogramWire, Some(nativeHistogramWireSql)))
}
