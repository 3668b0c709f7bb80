package graft.operators

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque binary
  * columns with typed metadata.
  *
  * The Spark-side contract is real — binary payload column, typed
  * metadata schema, deterministic frame-sample offsets, and a
  * partition-batched decode path (`decodeStub`) shaped like a real
  * codec call (one buffer in, frames out). The codec itself is STUBBED
  * with a deterministic fake (no image/audio libs in this
  * environment); swapping in a real decoder changes only the body of
  * `fakeDecode`.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Typed metadata over a binary payload: md5-derived fake dimensions
    * (deterministic, oracle-checkable), frame offsets every 256 bytes
    * (entry `mm_binary_meta`). */
  def meta: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"), md5(col("text")).as("h"))
      .withColumn("byte_len", octet_length(col("payload")))
      .withColumn("n_frames", expr("cast(1 + byte_len div 256 as int)"))
      .select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (conv(substring(col("h"), 9, 4), 16, 10).cast("int") % 3) + 1).as("modality"),
        col("byte_len"),
        (conv(substring(col("h"), 1, 4), 16, 10).cast("int") % 1216 + 64).as("width"),
        (conv(substring(col("h"), 5, 4), 16, 10).cast("int") % 696 + 32).as("height"),
        col("n_frames"),
        expr("array_join(transform(sequence(0, n_frames - 1), i -> i * 256), ',')")
          .as("frame_offsets"))
  }

  val metaSql: String =
    """SELECT doc_id,
         ['image','audio','video'][(('0x' || substr(md5(text), 9, 4))::INT % 3) + 1] AS modality,
         CAST(octet_length(encode(text)) AS INT) AS byte_len,
         (('0x' || substr(md5(text), 1, 4))::INT % 1216 + 64) AS width,
         (('0x' || substr(md5(text), 5, 4))::INT % 696 + 32) AS height,
         CAST(1 + octet_length(encode(text)) // 256 AS INT) AS n_frames,
         array_to_string(list_transform(range(0, CAST(1 + octet_length(encode(text)) // 256 AS INT)), i -> i * 256), ',') AS frame_offsets
       FROM documents ORDER BY doc_id"""

  /** Each document's (doc_id, UTF-8 text bytes): the payload every
    * partition-batched decoder here reads. */
  private def payloads(s: SparkSession, d: String): Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
  }

  /** One decoded frame of a fake codec. */
  case class Frame(doc_id: Long, frame_idx: Int, width: Int, height: Int,
      mean_intensity: Double)

  /** Partition-batched "decode": iterates each partition's payloads
    * once (the shape a real codec binding needs — reuse a decoder
    * instance per partition, emit frames). Deterministic fake:
    * intensity = mean byte value of the frame's 256-byte window. */
  def decodeStub(spark: SparkSession, dir: String): Dataset[Frame] = {
    import spark.implicits._
    val payloads = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 1216 + 64).as("width"),
        (conv(substring(md5(col("text")), 5, 4), 16, 10).cast("int") % 696 + 32).as("height"))
      .as[(Long, Array[Byte], Int, Int)]
    payloads.mapPartitions { it =>
      // a real implementation would initialize the codec ONCE here
      it.flatMap { case (docId, bytes, w, h) =>
        val nFrames = 1 + bytes.length / 256
        (0 until nFrames).iterator.map { f =>
          val from = f * 256
          val until = math.min(from + 256, bytes.length)
          val window = if (until > from) bytes.slice(from, until) else Array[Byte](0)
          val mean = window.map(b => (b & 0xff).toDouble).sum / window.length
          Frame(docId, f, w, h, math.floor(mean * 10000) / 10000.0)
        }
      }
    }
  }

  /** Frame extraction as an entry: the partition-batched decode path
    * over every payload. The fake codec's byte math is replicated in
    * the DuckDB oracle via hex(encode(text)) windows, so even the
    * mapPartitions path is hash-verified end-to-end. */
  def decodeFrames: Q = (s, d) =>
    decodeStub(s, d).toDF()

  /** Scene-change threshold on the mean-intensity delta. */
  val SceneDelta = 30.0

  /** Scene-change detection — the video-curation primitive (sample one
    * frame per scene instead of per second): a scene boundary is an
    * adjacent-frame intensity jump above the threshold. Runs on the
    * SAME partition-batched decode output as the other frame ops; the
    * per-document lag chain is one doc-keyed window whose state is a
    * single previous frame. Output per doc: scene count and the mean
    * |delta| (floored — comparisons and floor on identical doubles,
    * engine-exact via the hex byte-math oracle). */
  def videoScenes: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    decodeStub(s, d).toDF()
      .withColumn("prev", lag(col("mean_intensity"), 1).over(w))
      .withColumn("delta", abs(col("mean_intensity") - col("prev")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (count(when(col("delta") > SceneDelta, 1)) + 1).as("n_scenes"),
        (floor(round(sum(col("delta")), 4) /
          greatest(count(col("delta")), lit(1)) * 1e4) / 1e4).as("mean_delta"))
  }

  // lazy: framesCte is declared later in the file (initialization order)
  lazy val videoScenesSql: String =
    s"""WITH $framesCte,
        lagd AS (
          SELECT doc_id, mean_intensity,
                 abs(mean_intensity - lag(mean_intensity)
                   OVER (PARTITION BY doc_id ORDER BY frame_idx)) AS delta
          FROM frames)
        SELECT doc_id, count(*) AS n_frames,
               count(*) FILTER (WHERE delta > ${SceneDelta}e0) + 1 AS n_scenes,
               floor(round(sum(delta), 4) / greatest(count(delta), 1) * 1e4) / 1e4 AS mean_delta
        FROM lagd GROUP BY doc_id ORDER BY doc_id"""

  /** Frame-level exact dedup ACROSS documents — the multimodal twin of
    * `dedup_exact` (duplicate key-frames across videos, repeated intro
    * cards, shared stock images): each frame's 256-byte window is
    * content-hashed in the same partition-batched decode pass, then one
    * hash-groupBy finds frames appearing in ≥ 2 distinct documents.
    * The hash is md5 over the window's hex encoding, which the DuckDB
    * oracle reproduces from `hex(encode(text))` substrings — so even
    * this mapPartitions path is hash-verified. Map-side combine ships
    * one row per distinct frame hash per task. */
  def frameDedup: Q = (s, d) => {
    import s.implicits._
    val frames = payloads(s, d)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, bytes) =>
          val nFrames = 1 + bytes.length / 256
          (0 until nFrames).iterator.map { f =>
            val from = f * 256
            val until = math.min(from + 256, bytes.length)
            val hex = bytes.slice(from, until).map("%02X".format(_)).mkString
            md.reset()
            val h = md.digest(hex.getBytes("UTF-8")).map("%02x".format(_)).mkString
            (docId, f, h)
          }
        }
      }
      .toDF("doc_id", "frame_idx", "frame_hash")
    frames.groupBy(col("frame_hash"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") >= 2)
  }

  val frameDedupSql: String =
    """WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                         octet_length(encode(text)) AS blen
                  FROM documents),
       f AS (SELECT doc_id,
                    md5(substr(hx, fi*512 + 1, 512)) AS frame_hash
             FROM (SELECT doc_id, hx, unnest(range(0, 1 + blen // 256)) AS fi FROM p) t)
       SELECT frame_hash, count(*) AS n_frames,
              count(DISTINCT doc_id) AS n_docs,
              CAST(min(doc_id) AS BIGINT) AS canonical_doc
       FROM f GROUP BY frame_hash HAVING count(DISTINCT doc_id) >= 2
       ORDER BY frame_hash"""

  /** The decode byte math in DuckDB: per-frame 256-byte windows of the
    * UTF-8 payload, mean byte value via hex-pair extraction. */
  val framesCte: String =
    """p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen,
                   (('0x' || substr(md5(text), 1, 4))::INT % 1216 + 64) AS width,
                   (('0x' || substr(md5(text), 5, 4))::INT % 696 + 32) AS height
            FROM documents),
       fidx AS (SELECT doc_id, hx, blen, width, height,
                       unnest(range(0, 1 + blen // 256)) AS fi FROM p),
       frames AS (
         SELECT doc_id, CAST(fi AS INT) AS frame_idx, width, height,
                CASE WHEN least(fi*256 + 256, blen) > fi*256
                     THEN floor(list_avg(list_transform(range(fi*256, least(fi*256 + 256, blen)),
                            i -> ('0x' || substr(hx, i*2 + 1, 2))::INT)) * 10000) / 10000.0
                     ELSE 0.0 END AS mean_intensity
         FROM fidx)"""

  /** One ViT-style patch of a decoded frame. */
  case class Patch(doc_id: Long, frame_idx: Int, patch_row: Int, patch_col: Int,
      patch_mean: Double)

  val PatchBytes = 16  // 16 patches per 256-byte frame → a 4×4 grid

  /** Patch-grid extraction — the tokenization step of a ViT-style
    * vision pipeline (frame → fixed grid of patches → per-patch
    * features): each frame's 256-byte window splits into a 4×4 grid of
    * 16-byte patches in the SAME partition-batched decode pass as
    * `mm_decode_frames` (one payload read, patches out — the batch
    * shape a real codec+tokenizer binding needs). Deterministic fake
    * byte math, so even this mapPartitions path is hash-verified
    * against DuckDB's hex-window replica. Empty tail frames/patches
    * are skipped on both sides. */
  def patchStub(spark: SparkSession, dir: String): Dataset[Patch] = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { it =>
      // a real implementation would initialize codec + tokenizer ONCE here
      it.flatMap { case (docId, bytes) =>
        val nFrames = 1 + bytes.length / 256
        (0 until nFrames).iterator.flatMap { f =>
          (0 until 256 / PatchBytes).iterator.flatMap { p =>
            val from = f * 256 + p * PatchBytes
            val until = math.min(from + PatchBytes, bytes.length)
            if (until <= from) Iterator.empty
            else {
              val window = bytes.slice(from, until)
              val mean = window.map(b => (b & 0xff).toDouble).sum / window.length
              Iterator.single(Patch(docId, f, p / 4, p % 4,
                math.floor(mean * 10000) / 10000.0))
            }
          }
        }
      }
    }
  }

  def patchGrid: Q = (s, d) =>
    patchStub(s, d).toDF()

  val patchGridSql: String =
    s"""WITH p AS (
          SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
          FROM documents),
        fidx AS (SELECT doc_id, hx, blen, unnest(range(0, 1 + blen // 256)) AS fi FROM p),
        pidx AS (SELECT doc_id, hx, blen, fi, unnest(range(0, ${256 / PatchBytes})) AS pi
                 FROM fidx),
        patches AS (
          SELECT doc_id, hx, CAST(fi AS INT) AS frame_idx,
                 CAST(pi // 4 AS INT) AS patch_row, CAST(pi % 4 AS INT) AS patch_col,
                 fi * 256 + pi * $PatchBytes AS pfrom,
                 least(fi * 256 + pi * $PatchBytes + $PatchBytes, blen) AS puntil
          FROM pidx)
        SELECT doc_id, frame_idx, patch_row, patch_col,
               floor(list_avg(list_transform(range(pfrom, puntil),
                 i -> ('0x' || substr(hx, i * 2 + 1, 2))::INT)) * 10000) / 10000.0
                 AS patch_mean
        FROM patches WHERE puntil > pfrom
        ORDER BY doc_id, frame_idx, patch_row, patch_col"""

  /** A frame's 16-bit perceptual hash, from integer byte sums. */
  case class PHash(doc_id: Long, frame_idx: Int, phash: Long)

  val PhashMaxHamming = 2

  /** Perceptual-hash near-dup detection across documents — the
    * multimodal twin of `dedup_simhash`: each FULL 256-byte frame gets
    * a 16-bit aHash (bit p set iff patch p's byte sum beats the frame
    * mean — compared as psum·16 > fsum, pure integers, so the hash is
    * engine-exact), then banded LSH (two 8-bit bands; Hamming ≤ 2
    * pairs must agree on ≥ 1 band) turns all-pairs into two equi-joins,
    * and `bit_count(xor)` re-ranks candidates exactly. Same
    * partition-batched decode pass as the other frame ops. */
  def phashStub(spark: SparkSession, dir: String): Dataset[PHash] = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { it =>
      it.flatMap { case (docId, bytes) =>
        val nFull = bytes.length / 256
        (0 until nFull).iterator.map { f =>
          val psums = Array.tabulate(16) { p =>
            bytes.slice(f * 256 + p * 16, f * 256 + p * 16 + 16)
              .map(b => (b & 0xff).toLong).sum
          }
          val fsum = psums.sum
          val h = psums.zipWithIndex.foldLeft(0L) { case (acc, (ps, p)) =>
            if (ps * 16 > fsum) acc | (1L << p) else acc
          }
          PHash(docId, f, h)
        }
      }
    }
  }

  def phashDedup: Q = (s, d) => {
    val hashes = phashStub(s, d).toDF()
      .withColumn("band_hi", expr("phash DIV 256"))
      .withColumn("band_lo", expr("phash % 256"))
    def cand(band: String) = {
      val a = hashes.select(col("doc_id").as("doc_a"), col("frame_idx").as("frame_a"),
        col("phash").as("phash_a"), col(band).as("b"))
      val bdf = hashes.select(col("doc_id").as("doc_b"), col("frame_idx").as("frame_b"),
        col("phash").as("phash_b"), col(band).as("b"))
      a.join(bdf, Seq("b")).filter(col("doc_a") < col("doc_b"))
        .drop("b")
    }
    cand("band_hi").unionByName(cand("band_lo")).distinct()
      .withColumn("hamming", expr("bit_count(phash_a ^ phash_b)"))
      .filter(col("hamming") <= PhashMaxHamming)
      .select(col("doc_a"), col("frame_a"), col("doc_b"), col("frame_b"), col("hamming"))
  }

  val phashDedupSql: String =
    s"""WITH p AS (
          SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
          FROM documents),
        fr AS (SELECT doc_id, hx, unnest(range(0, blen // 256)) AS fi FROM p),
        ps AS (
          SELECT doc_id, fi, pi,
                 list_sum(list_transform(range(fi * 256 + pi * 16, fi * 256 + pi * 16 + 16),
                   i -> ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT)) AS psum
          FROM (SELECT doc_id, hx, fi, unnest(range(0, 16)) AS pi FROM fr)),
        ps2 AS (
          SELECT doc_id, fi, pi, psum,
                 sum(psum) OVER (PARTITION BY doc_id, fi) AS fsum
          FROM ps),
        h AS (
          SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                 CAST(sum(CASE WHEN psum * 16 > fsum THEN 1 << pi ELSE 0 END) AS BIGINT)
                   AS phash
          FROM ps2 GROUP BY doc_id, fi),
        hh AS (SELECT doc_id, frame_idx, phash,
                      phash // 256 AS band_hi, phash % 256 AS band_lo
               FROM h),
        cand AS (
          SELECT a.doc_id AS doc_a, a.frame_idx AS frame_a, a.phash AS phash_a,
                 b.doc_id AS doc_b, b.frame_idx AS frame_b, b.phash AS phash_b
          FROM hh a JOIN hh b ON a.band_hi = b.band_hi AND a.doc_id < b.doc_id
          UNION
          SELECT a.doc_id, a.frame_idx, a.phash, b.doc_id, b.frame_idx, b.phash
          FROM hh a JOIN hh b ON a.band_lo = b.band_lo AND a.doc_id < b.doc_id)
        SELECT doc_a, frame_a, doc_b, frame_b,
               CAST(bit_count(xor(phash_a, phash_b)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(phash_a, phash_b)) <= $PhashMaxHamming
        ORDER BY doc_a, frame_a, doc_b, frame_b"""

  val decodeFramesSql: String =
    s"""WITH $framesCte
        SELECT doc_id, frame_idx, width, height, mean_intensity
        FROM frames ORDER BY doc_id, frame_idx"""

  val featureExtractSql: String =
    s"""WITH $framesCte
        SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
               floor(avg(mean_intensity) * 10000) / 10000.0 AS feat_mean,
               min(mean_intensity) AS feat_min,
               max(mean_intensity) AS feat_max,
               floor(sqrt(avg(mean_intensity * mean_intensity)) * 10000) / 10000.0 AS feat_rms
        FROM frames GROUP BY doc_id ORDER BY doc_id"""

  /** Resize plumbing: target dims fit into 224×224 preserving aspect
    * ratio — the pure-arithmetic half of an image resize, oracle-exact;
    * a real resampler would consume (payload, out_w, out_h). */
  def resize: Q = (s, d) => {
    meta(s, d)
      .select(col("doc_id"), col("modality"), col("width"), col("height"))
      .withColumn("scale",
        lit(224.0) / greatest(col("width"), col("height")).cast("double"))
      .select(col("doc_id"), col("modality"), col("width"), col("height"),
        floor(col("width") * col("scale")).cast("int").as("out_w"),
        floor(col("height") * col("scale")).cast("int").as("out_h"))
  }

  val resizeSql: String =
    """SELECT doc_id, modality, width, height,
         CAST(floor(width * (224.0 / greatest(width, height))) AS INT) AS out_w,
         CAST(floor(height * (224.0 / greatest(width, height))) AS INT) AS out_h
       FROM (SELECT doc_id,
               ['image','audio','video'][(('0x' || substr(md5(text), 9, 4))::INT % 3) + 1] AS modality,
               (('0x' || substr(md5(text), 1, 4))::INT % 1216 + 64) AS width,
               (('0x' || substr(md5(text), 5, 4))::INT % 696 + 32) AS height
             FROM documents) t
       ORDER BY doc_id"""

  /** Feature extraction: decoded frames mean/min/max/RMS-pooled into a
    * per-document feature row — the decode→embed step of a multimodal
    * training pipeline (a real extractor would pool a model's per-frame
    * activations; the pooling aggregation and its shuffle shape are
    * exactly this). Partition-batched decode feeds ONE aggregation
    * keyed by doc — frames never leave their partition unpooled except
    * through the map-side partial agg (rows-only; byte math asserted in
    * MultimodalSpec). */
  def featureExtract: Q = (s, d) => {
    decodeStub(s, d).toDF()
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast("int").as("n_frames"),
        TextAnalysis.trunc4(avg(col("mean_intensity"))).as("feat_mean"),
        // min/max are already 4dp-truncated per frame: re-flooring would
        // shave an ulp (floor(x*1e4) can land on 999…9 for exact 4dp x)
        min(col("mean_intensity")).as("feat_min"),
        max(col("mean_intensity")).as("feat_max"),
        TextAnalysis.trunc4(sqrt(avg(col("mean_intensity") * col("mean_intensity"))))
          .as("feat_rms"))
  }

  /** One audio document's energy profile. */
  case class AudioProfile(doc_id: Long, n_samples: Int, n_windows: Int,
      peak_window: Int, peak_energy: Long, mean_energy: Long)

  val AudioWin = 128  // samples per analysis window
  val AudioHop = 64   // 50% overlap

  /** Audio DSP framing — the audio-modality sibling of the frame
    * decode: the payload reads as PCM16-LE samples, sliced into
    * 128-sample windows at 50% hop (the mel-spectrogram framing every
    * speech pipeline runs before feature extraction), per-window
    * energy Σ|sample| in exact integers. Same partition-batched
    * `mapPartitions` shape as the video path — one decoder loop per
    * partition, sequential byte reads — and the same proof obligation:
    * the int16 little-endian byte math is replicated hex-pair by
    * hex-pair in the DuckDB oracle, so the imperative path stays
    * hash-verified. Zero float surface: energies, peaks and the mean
    * are all integer (the peak tie-breaks to the earliest window). */
  def audioStub(spark: SparkSession, dir: String): Dataset[AudioProfile] = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { it =>
      // a real implementation would initialize the DSP pipeline ONCE here
      it.map { case (docId, bytes) =>
        val n = bytes.length / 2
        def sample(k: Int): Int = {
          val x = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
          if (x >= 32768) x - 65536 else x
        }
        val starts = 0 until math.max(n, 1) by AudioHop
        val energies = starts.map { st =>
          val until = math.min(st + AudioWin, n)
          if (until <= st) 0L
          else {
            var acc = 0L; var k = st
            while (k < until) { acc += math.abs(sample(k)); k += 1 }
            acc
          }
        }
        val peak = energies.zipWithIndex.maxBy { case (e, i) => (e, -i) }._2
        AudioProfile(docId, n, energies.length, peak, energies(peak),
          energies.sum / energies.length)
      }
    }
  }

  def audioEnergy: Q = (s, d) =>
    audioStub(s, d).toDF()

  /** Fixed GOP pattern for the structure ledger: I every 12, P every 4. */
  val GopSize = 12
  /** Relative bit budget per frame type (typical H.264 planning ratios). */
  val BitsI = 10L; val BitsP = 4L; val BitsB = 1L

  /** GOP-structure ledger over the video payloads — the frame-type
    * census (closed GOP-12, IBBP: I at i≡0 mod 12, P at i≡0 mod 4
    * otherwise, B elsewhere) with the planning bit budget a transcode
    * tier sizes itself with. The counts are CLOSED FORMS of n_frames
    * (nI = ⌊(n−1)/12⌋+1, nIP = ⌊(n−1)/4⌋+1), so the whole ledger is a
    * narrow integer map — no frame explode at any corpus size; the
    * keyframe-sampling pipelines (`mm_video_scenes`, `mm_frame_dedup`)
    * read exactly these I-frame positions. */
  def gopStructure: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"),
        expr("cast(1 + octet_length(encode(text, 'UTF-8')) div 256 as bigint)")
          .as("n_frames"))
      .filter((conv(substring(col("h"), 9, 4), 16, 10).cast("int") % 3) + 1 === 3)
      .withColumn("n_i", expr(s"(n_frames - 1) div $GopSize + 1"))
      .withColumn("n_ip", expr("(n_frames - 1) div 4 + 1"))
      .select(col("doc_id"), col("n_frames"), col("n_i"),
        (col("n_ip") - col("n_i")).as("n_p"),
        (col("n_frames") - col("n_ip")).as("n_b"))
      .withColumn("bit_units",
        col("n_i") * BitsI + col("n_p") * BitsP + col("n_b") * BitsB)
      .withColumn("avg_units_x100", expr("bit_units * 100 div n_frames"))
  }

  val gopStructureSql: String =
    s"""WITH v AS (
          SELECT doc_id,
                 CAST(1 + octet_length(encode(text)) // 256 AS BIGINT) AS n_frames
          FROM documents
          WHERE (('0x' || substr(md5(text), 9, 4))::INT % 3) + 1 = 3),
        g AS (
          SELECT doc_id, n_frames,
                 (n_frames - 1) // $GopSize + 1 AS n_i,
                 (n_frames - 1) // 4 + 1 - ((n_frames - 1) // $GopSize + 1) AS n_p,
                 n_frames - ((n_frames - 1) // 4 + 1) AS n_b
          FROM v)
        SELECT doc_id, n_frames, n_i, n_p, n_b,
               n_i * $BitsI + n_p * $BitsP + n_b * $BitsB AS bit_units,
               (n_i * $BitsI + n_p * $BitsP + n_b * $BitsB) * 100 // n_frames
                 AS avg_units_x100
        FROM g ORDER BY doc_id"""

  /** Rational resample 44.1 kHz → 16 kHz reduced to lowest terms. */
  val ResampleL = 160
  val ResampleM = 441

  /** Rational-resampler ACCOUNTING for the 44.1 kHz → 16 kHz pipeline
    * every speech-model corpus runs (L/M = 160/441 polyphase): per
    * audio payload the input sample count (16-bit mono view of the
    * binary), the exact output length n_out = ⌊(n_in−1)·L/M⌋ + 1, the
    * filter-phase count the polyphase bank actually cycles through
    * (min(n_out, M) — the bank has M phases, short clips touch fewer),
    * and the length ratio on the 1e6 grid. The DSP kernel itself stays
    * behind the partition-batched stub boundary like all mm_ decode;
    * THIS ledger is the part a 100 TB pipeline plans batch shapes and
    * storage with, and it is pure integer arithmetic — fully
    * oracle-checkable. Decimal-widened: n_in·160 would wrap 64-bit
    * only past 5.8e16 samples, but the widening is free. */
  def audioResample: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"),
        expr("cast(octet_length(encode(text, 'UTF-8')) div 2 as bigint)").as("n_in"))
      .filter((conv(substring(col("h"), 9, 4), 16, 10).cast("int") % 3) + 1 === 2)
      .filter(col("n_in") >= 1)
      .select(col("doc_id"), col("n_in"),
        expr(s"cast(cast(n_in - 1 as decimal(38,0)) * $ResampleL div $ResampleM as bigint) + 1")
          .as("n_out"))
      .withColumn("n_phases", least(col("n_out"), lit(ResampleM.toLong)))
      .withColumn("ratio_x1e6",
        expr("cast(cast(n_out as decimal(38,0)) * 1000000 div n_in as bigint)"))
  }

  val audioResampleSql: String =
    s"""WITH a AS (
          SELECT doc_id, octet_length(encode(text)) // 2 AS n_in
          FROM documents
          WHERE (('0x' || substr(md5(text), 9, 4))::INT % 3) + 1 = 2
            AND octet_length(encode(text)) // 2 >= 1),
        r AS (
          SELECT doc_id, CAST(n_in AS BIGINT) AS n_in,
                 CAST((n_in - 1) * $ResampleL // $ResampleM + 1 AS BIGINT) AS n_out
          FROM a)
        SELECT doc_id, n_in, n_out,
               least(n_out, $ResampleM) AS n_phases,
               CAST(CAST(n_out AS HUGEINT) * 1000000 // n_in AS BIGINT)
                 AS ratio_x1e6
        FROM r ORDER BY doc_id"""

  /** One analysis window of one audio document. */
  case class AudioWindowRow(doc_id: Long, widx: Int, energy: Long)

  /** Per-window energies as rows — the decode stays imperative
    * (`mapPartitions`, one DSP init per partition like `audioStub`),
    * the analytics downstream stay declarative. */
  def audioWindows(spark: SparkSession, dir: String): Dataset[AudioWindowRow] = {
    import spark.implicits._
    payloads(spark, dir).mapPartitions { it =>
      it.flatMap { case (docId, bytes) =>
        val n = bytes.length / 2
        def sample(k: Int): Int = {
          val x = (bytes(2 * k) & 0xff) | ((bytes(2 * k + 1) & 0xff) << 8)
          if (x >= 32768) x - 65536 else x
        }
        (0 until math.max(n, 1) by AudioHop).iterator.map { st =>
          val until = math.min(st + AudioWin, n)
          var acc = 0L; var k = st
          while (k < until) { acc += math.abs(sample(k)); k += 1 }
          AudioWindowRow(docId, st / AudioHop, acc)
        }
      }
    }
  }

  /** VAD hangover: up to this many silent windows are bridged inside
    * one speech segment. */
  val VadMaxGap = 1
  /** Minimum active windows for a segment to survive. */
  val VadMinWin = 2

  /** Voice-activity detection over the PCM16 framing — the segmenter a
    * speech-data pipeline runs before cutting training clips: a window
    * is ACTIVE when its energy is strictly above the document mean
    * (the adaptive threshold is the exact integer comparison
    * energy·n_windows > Σenergy — no division, no float), active
    * windows merge into segments across gaps ≤ `VadMaxGap`
    * (gaps-and-islands via lag + running break-sum), and segments
    * shorter than `VadMinWin` active windows are noise-gated away.
    * All window functions are doc_id-partitioned (bounded by one
    * document's frame count) and every output column is an exact
    * integer — at 100 TB this is one narrow decode pass plus two
    * per-doc-keyed shuffles. */
  def audioVad: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = audioWindows(s, d).toDF()
    val tot = w.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(col("energy")).as("tot"))
    val act = w.join(tot, Seq("doc_id"))
      .filter(col("energy") * col("nw") > col("tot"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("widx"))
    val segd = act
      .withColumn("prev", lag(col("widx"), 1).over(ord))
      .withColumn("brk", when(col("prev").isNull
        || col("widx") - col("prev") > VadMaxGap + 1, 1L).otherwise(0L))
      .withColumn("seg", sum(col("brk")).over(ord))
    segd.groupBy(col("doc_id"), col("seg"))
      .agg(min(col("widx")).as("start_widx"), max(col("widx")).as("end_widx"),
        count(lit(1)).as("n_active"), sum(col("energy")).as("seg_energy"))
      .filter(col("n_active") >= VadMinWin)
      .withColumn("seg_id", row_number()
        .over(Window.partitionBy(col("doc_id")).orderBy(col("start_widx"))).cast("int"))
      .select(col("doc_id"), col("seg_id"), col("start_widx"), col("end_widx"),
        col("n_active"), col("seg_energy"))
  }

  /** Same PCM16 window math as `audioEnergySql`, then the identical
    * adaptive-threshold + gaps-and-islands chain. */
  val audioVadSql: String =
    s"""WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) // 2 AS n
                   FROM documents),
        win AS (SELECT doc_id, n, hx, unnest(range(0, greatest(n, 1), $AudioHop)) AS st
                FROM p),
        e AS (
          SELECT doc_id,
                 CAST(st // $AudioHop AS INT) AS widx,
                 CAST(CASE WHEN least(st + $AudioWin, n) > st
                      THEN list_sum(list_transform(range(st, least(st + $AudioWin, n)),
                             k -> abs((('0x' || substr(hx, k*4 + 1, 2))::INT
                                       | ((('0x' || substr(hx, k*4 + 3, 2))::INT) << 8))
                                      - CASE WHEN (('0x' || substr(hx, k*4 + 1, 2))::INT
                                                   | ((('0x' || substr(hx, k*4 + 3, 2))::INT) << 8))
                                                  >= 32768 THEN 65536 ELSE 0 END)))
                      ELSE 0 END AS BIGINT) AS energy
          FROM win),
        tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw,
                       CAST(sum(energy) AS BIGINT) AS tot
                FROM e GROUP BY 1),
        act AS (SELECT e.doc_id, e.widx, e.energy
                FROM e JOIN tot USING (doc_id)
                WHERE e.energy * tot.nw > tot.tot),
        lagged AS (SELECT doc_id, widx, energy,
                          lag(widx) OVER (PARTITION BY doc_id ORDER BY widx) AS prev
                   FROM act),
        segd AS (SELECT doc_id, widx, energy,
                        sum(CASE WHEN prev IS NULL OR widx - prev > ${VadMaxGap + 1}
                                 THEN 1 ELSE 0 END)
                          OVER (PARTITION BY doc_id ORDER BY widx
                                ROWS UNBOUNDED PRECEDING) AS seg
                 FROM lagged),
        segs AS (SELECT doc_id, seg, min(widx) AS start_widx, max(widx) AS end_widx,
                        CAST(count(*) AS BIGINT) AS n_active,
                        CAST(sum(energy) AS BIGINT) AS seg_energy
                 FROM segd GROUP BY 1, 2 HAVING count(*) >= $VadMinWin)
        SELECT doc_id,
               CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_widx) AS INT)
                 AS seg_id,
               start_widx, end_widx, n_active, seg_energy
        FROM segs ORDER BY doc_id, seg_id"""

  /** The PCM16-LE window math in DuckDB: sample k = signed
    * (byte(2k) | byte(2k+1)<<8), windows every AudioHop samples. */
  val audioEnergySql: String =
    s"""WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) // 2 AS n
                   FROM documents),
        win AS (SELECT doc_id, n, hx, unnest(range(0, greatest(n, 1), $AudioHop)) AS st
                FROM p),
        e AS (
          SELECT doc_id, n,
                 CAST(st // $AudioHop AS INT) AS widx,
                 CASE WHEN least(st + $AudioWin, n) > st
                      THEN list_sum(list_transform(range(st, least(st + $AudioWin, n)),
                             k -> abs((('0x' || substr(hx, k*4 + 1, 2))::INT
                                       | ((('0x' || substr(hx, k*4 + 3, 2))::INT) << 8))
                                      - CASE WHEN (('0x' || substr(hx, k*4 + 1, 2))::INT
                                                   | ((('0x' || substr(hx, k*4 + 3, 2))::INT) << 8))
                                                  >= 32768 THEN 65536 ELSE 0 END)))
                      ELSE 0 END AS energy
          FROM win),
        ranked AS (
          SELECT doc_id, n, widx, energy,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY energy DESC, widx) AS rk,
                 count(*) OVER (PARTITION BY doc_id) AS n_windows,
                 CAST(sum(energy) OVER (PARTITION BY doc_id) AS BIGINT) AS tot
          FROM e)
        SELECT doc_id, CAST(n AS INT) AS n_samples, CAST(n_windows AS INT) AS n_windows,
               widx AS peak_window, CAST(energy AS BIGINT) AS peak_energy,
               CAST(tot // n_windows AS BIGINT) AS mean_energy
        FROM ranked WHERE rk = 1 ORDER BY doc_id"""

  /** SDXL-style aspect-ratio bucket ladder (w, h at ~1MP), id-ordered
    * portrait→landscape. */
  val AspectBuckets: Seq[(Int, Int, Int)] = Seq(
    (1, 512, 2048), (2, 576, 1664), (3, 704, 1408), (4, 832, 1216),
    (5, 1024, 1024), (6, 1216, 832), (7, 1408, 704), (8, 1664, 576),
    (9, 2048, 512))

  /** Aspect-ratio bucketing — how an image-training pipeline forms
    * fixed-shape batches without destructive square cropping: each
    * image goes to the ladder bucket with the nearest aspect ratio,
    * and batches are cut per bucket. Nearest-in-log-aspect is computed
    * WITHOUT logs: |ln(w/h) − ln(bw/bh)| ordering equals ordering by
    * max(w·bh, h·bw)/min(w·bh, h·bw) — exact integer cross products
    * and one IEEE division, so the argmin is bit-portable across
    * engines (libm logs are not). Broadcast 9-row ladder × images,
    * bounded `graft_topk` argmin, one 9-group agg: a 100 TB corpus is
    * one narrow pass. */
  def aspectBucket: Q = (s, d) => {
    import s.implicits._
    val BatchSize = 32
    val imgs = meta(s, d).filter(col("modality") === "image")
      .select(col("doc_id"), col("width"), col("height"))
    val ladder = AspectBuckets.toDF("bucket_id", "bw", "bh")
    val assigned = imgs.crossJoin(broadcast(ladder))
      .withColumn("p", col("width").cast("long") * col("bh"))
      .withColumn("q", col("height").cast("long") * col("bw"))
      .withColumn("ratio",
        greatest(col("p"), col("q")).cast("double") / least(col("p"), col("q")).cast("double"))
      .groupBy(col("doc_id"))
      .agg(element_at(expr("graft_topk(-ratio, cast(bucket_id as bigint), 1)"), 1)
        .getField("id").cast("int").as("bucket_id"))
    val counts = assigned.groupBy(col("bucket_id")).agg(count(lit(1)).as("n_images"))
    val total = imgs.agg(count(lit(1)).as("t"))
    ladder.join(broadcast(counts), Seq("bucket_id"), "left")
      .crossJoin(broadcast(total))
      .select(col("bucket_id"), col("bw"), col("bh"),
        coalesce(col("n_images"), lit(0L)).as("n_images"),
        expr(s"(coalesce(n_images, 0L) + ${BatchSize - 1}) div $BatchSize").as("n_batches"),
        TextAnalysis.trunc4(coalesce(col("n_images"), lit(0L)).cast("double")
          / col("t").cast("double")).as("share"))
  }

  val aspectBucketSql: String = {
    val values = AspectBuckets.map { case (i, w, h) => s"($i, $w, $h)" }.mkString(", ")
    s"""WITH m AS (
          SELECT doc_id,
                 (('0x' || substr(md5(text), 1, 4))::INT % 1216 + 64) AS width,
                 (('0x' || substr(md5(text), 5, 4))::INT % 696 + 32) AS height
          FROM documents
          WHERE ['image','audio','video'][(('0x' || substr(md5(text), 9, 4))::INT % 3) + 1] = 'image'),
        b(bucket_id, bw, bh) AS (VALUES $values),
        sc AS (
          SELECT m.doc_id, b.bucket_id,
                 CAST(greatest(m.width * b.bh, m.height * b.bw) AS DOUBLE)
                   / CAST(least(m.width * b.bh, m.height * b.bw) AS DOUBLE) AS ratio
          FROM m CROSS JOIN b),
        a AS (SELECT doc_id, bucket_id FROM (
                SELECT doc_id, bucket_id,
                       row_number() OVER (PARTITION BY doc_id ORDER BY ratio, bucket_id) AS rn
                FROM sc) t WHERE rn = 1),
        cnt AS (SELECT bucket_id, count(*) AS n_images FROM a GROUP BY bucket_id),
        tot AS (SELECT count(*) AS t FROM m)
        SELECT b.bucket_id, b.bw, b.bh,
               CAST(COALESCE(c.n_images, 0) AS BIGINT) AS n_images,
               CAST((COALESCE(c.n_images, 0) + 31) // 32 AS BIGINT) AS n_batches,
               floor(CAST(COALESCE(c.n_images, 0) AS DOUBLE) / CAST(t.t AS DOUBLE)
                     * 10000) / 10000.0 AS share
        FROM b LEFT JOIN cnt c USING (bucket_id) CROSS JOIN tot t
        ORDER BY b.bucket_id"""
  }

  /** Width of one exposure bin over the 0–255 intensity range. */
  val ExposureBinWidth = 16.0

  /** Exposure histogram per modality — the visual-QA read a curation
    * pipeline runs before training (all-dark / blown-out shards show
    * up as mass at the histogram edges): every decoded frame's mean
    * intensity binned into 16 exposure bands, counts + within-modality
    * share. Runs on the SAME partition-batched decode as the other
    * frame ops; the share window spans the ≤ 3×16-row histogram, never
    * frames. Binning floors an already display-floored double —
    * identical doubles, identical floor, engine-exact. */
  def exposureHistogram: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val modal = Tables.documents(s, d).select(col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (conv(substring(md5(col("text")), 9, 4), 16, 10).cast("int") % 3) + 1)
        .as("modality"))
    val binned = decodeStub(s, d).toDF()
      .join(modal, Seq("doc_id"))
      .withColumn("bin", floor(col("mean_intensity") / ExposureBinWidth).cast("int"))
      .groupBy(col("modality"), col("bin")).agg(count(lit(1)).as("n_frames"))
    binned
      .withColumn("modality_total",
        sum(col("n_frames")).over(Window.partitionBy(col("modality"))))
      .withColumn("share",
        floor(col("n_frames").cast("double") / col("modality_total").cast("double")
          * 1e4) / 1e4)
      .select(col("modality"), col("bin"), col("n_frames"), col("modality_total"),
        col("share"))
  }

  lazy val exposureHistogramSql: String =
    s"""WITH $framesCte,
        modal AS (
          SELECT doc_id,
                 ['image','audio','video'][(('0x' || substr(md5(text), 9, 4))::INT % 3) + 1]
                   AS modality
          FROM documents),
        binned AS (
          SELECT modality, CAST(floor(mean_intensity / $ExposureBinWidth) AS INT) AS bin,
                 count(*) AS n_frames
          FROM frames JOIN modal USING (doc_id)
          GROUP BY 1, 2)
        SELECT modality, bin, n_frames,
               CAST(sum(n_frames) OVER (PARTITION BY modality) AS BIGINT)
                 AS modality_total,
               floor(CAST(n_frames AS DOUBLE)
                     / CAST(sum(n_frames) OVER (PARTITION BY modality) AS DOUBLE)
                     * 1e4) / 1e4 AS share
        FROM binned ORDER BY modality, bin"""

  /** Sharpness threshold: mean per-pixel Laplacian energy below this
    * flags the frame as blurry (variance-of-Laplacian blur detection,
    * 1-D here because the stub payload is a byte stream). */
  val BlurTau = 30.0

  case class BlurFrame(doc_id: Long, frame_idx: Int, flen: Int, lap_energy: Long)

  /** Blur detection over decoded frames: per 256-byte frame, the
    * integer 1-D Laplacian energy Σ|2b[i]−b[i−1]−b[i+1]| (a real
    * implementation applies the 2-D kernel to decoded pixels — the
    * partition-batched decode shape is identical), then sharpness =
    * energy/(interior points), one IEEE division display-floored.
    * All counts exact; the DuckDB oracle replays the byte math from
    * `hex(encode(text))` windows. Ceil framing (no synthetic pad
    * frame) so both engines enumerate identical windows. */
  def blurDetect: Q = (s, d) => {
    import s.implicits._
    val frames = payloads(s, d).mapPartitions { it =>
      // a real implementation would initialize the decoder ONCE here
      it.flatMap { case (docId, bytes) =>
        val n = (bytes.length + 255) / 256
        (0 until n).iterator.map { f =>
          val from = f * 256
          val until = math.min(from + 256, bytes.length)
          val w = bytes.slice(from, until)
          var e = 0L
          var i = 1
          while (i < w.length - 1) {
            e += math.abs(2 * (w(i) & 0xff) - (w(i - 1) & 0xff) - (w(i + 1) & 0xff)).toLong
            i += 1
          }
          BlurFrame(docId, f, w.length, e)
        }
      }
    }.toDF()
    frames.select(col("doc_id"), col("frame_idx"), col("flen"), col("lap_energy"),
      when(col("flen") > 2,
        floor(col("lap_energy").cast("double") / (col("flen") - 2).cast("double") * 1e4) / 1e4)
        .otherwise(lit(0.0)).as("sharpness"))
      .withColumn("is_blurry", col("sharpness") < BlurTau)
  }

  val blurDetectSql: String =
    s"""WITH p AS (SELECT doc_id, hex(encode(text)) AS hx,
                          octet_length(encode(text)) AS blen
                   FROM documents),
        f AS (SELECT doc_id, fi, substr(hx, fi*512 + 1, 512) AS fh
              FROM (SELECT doc_id, hx,
                           unnest(range(0, (blen + 255) // 256)) AS fi FROM p) t),
        m AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
                     CAST(len(fh) // 2 AS INT) AS flen,
                     CAST(COALESCE(list_sum(list_transform(range(1, len(fh) // 2 - 1),
                       j -> abs(2 * (('0x' || substr(fh, j*2 + 1, 2))::INT)
                                - (('0x' || substr(fh, (j-1)*2 + 1, 2))::INT)
                                - (('0x' || substr(fh, (j+1)*2 + 1, 2))::INT)))), 0)
                       AS BIGINT) AS lap_energy
              FROM f),
        sh AS (SELECT doc_id, frame_idx, flen, lap_energy,
                      CASE WHEN flen > 2
                           THEN floor(CAST(lap_energy AS DOUBLE)
                                      / CAST(flen - 2 AS DOUBLE) * 1e4) / 1e4
                           ELSE 0.0 END AS sharpness
               FROM m)
        SELECT doc_id, frame_idx, flen, lap_energy, sharpness,
               sharpness < $BlurTau AS is_blurry
        FROM sh ORDER BY doc_id, frame_idx"""

  val entries: Seq[(String, Q, Option[String])] = Seq(
    ("mm_blur_detect", blurDetect, Some(blurDetectSql)),
    ("mm_exposure_histogram", exposureHistogram, Some(exposureHistogramSql)),
    ("mm_aspect_bucket", aspectBucket, Some(aspectBucketSql)),
    ("mm_audio_energy", audioEnergy, Some(audioEnergySql)),
    ("mm_audio_resample", audioResample, Some(audioResampleSql)),
    ("mm_gop_structure", gopStructure, Some(gopStructureSql)),
    ("mm_audio_vad", audioVad, Some(audioVadSql)),
    ("mm_binary_meta", meta, Some(metaSql)),
    ("mm_video_scenes", videoScenes, Some(videoScenesSql)),
    ("mm_frame_dedup", frameDedup, Some(frameDedupSql)),
    ("mm_patch_grid", patchGrid, Some(patchGridSql)),
    ("mm_phash_dedup", phashDedup, Some(phashDedupSql)),
    ("mm_decode_frames", decodeFrames, Some(decodeFramesSql)),
    ("mm_resize", resize, Some(resizeSql)),
    ("mm_feature_extract", featureExtract, Some(featureExtractSql)))
}
