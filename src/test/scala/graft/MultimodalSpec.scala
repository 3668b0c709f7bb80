package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** The multimodal decode→pool path: the fake codec's byte math and the
  * pooled features must match a driver-local recompute exactly. */
class MultimodalSpec extends SparkTestBase {

  private def trunc4(x: Double) = math.floor(x * 10000) / 10000.0

  test("feature pooling matches a local recompute of the fake codec") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val feats = Multimodal.featureExtract(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(feats.keySet == docs.keySet)

    // recompute 10 docs locally, straight from the bytes
    docs.toSeq.sortBy(_._1).take(10).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val nFrames = 1 + bytes.length / 256
      val intensities = (0 until nFrames).map { f =>
        val from = f * 256
        val until = math.min(from + 256, bytes.length)
        val w = if (until > from) bytes.slice(from, until) else Array[Byte](0)
        math.floor(w.map(b => (b & 0xff).toDouble).sum / w.length * 10000) / 10000.0
      }
      val (n, mean, mn, mx, rms) = feats(id)
      assert(n == nFrames, s"doc $id frames: $n vs $nFrames")
      assert(mean == trunc4(intensities.sum / n), s"doc $id mean")
      assert(mn == intensities.min && mx == intensities.max, s"doc $id min/max")
      assert(rms == trunc4(math.sqrt(intensities.map(x => x * x).sum / n)), s"doc $id rms")
    }
  }

  test("frame dedup: exact-duplicate documents share every frame hash") {
    import org.apache.spark.sql.functions._
    val dup = graft.operators.Multimodal.frameDedup(spark, sf).cache()
    assert(dup.filter(col("n_docs") > col("n_frames")).count() == 0)
    // any exact-duplicate doc pair must surface at least one shared frame
    val dupDocs = graft.sources.Tables.documents(spark, sf)
      .groupBy(md5(col("text"))).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    if (dupDocs > 0) assert(dup.count() > 0, "dup docs must produce shared frames")
    dup.unpersist()
  }

  test("scene detection: scene count bounded by frames; single-frame docs have one scene") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Multimodal.videoScenes(spark, sf).cache()
    assert(df.filter(col("n_scenes") > col("n_frames")).count() == 0)
    assert(df.filter(col("n_frames") === 1 && col("n_scenes") =!= 1).count() == 0)
    assert(df.count() == graft.sources.Tables.documents(spark, sf).count())
    df.unpersist()
  }

  test("phash dedup: pairs cross documents, hamming bounded, exact dups found") {
    import org.apache.spark.sql.functions._
    val df = Multimodal.phashDedup(spark, sf).cache()
    assert(df.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(df.filter(col("hamming") < 0 || col("hamming") > Multimodal.PhashMaxHamming)
      .count() == 0)
    // exact-duplicate documents share every full frame → hamming 0 pairs exist
    val dupDocs = graft.sources.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    if (dupDocs > 0)
      assert(df.filter(col("hamming") === 0).count() > 0,
        "exact text duplicates must collide at hamming 0")
    df.unpersist()
  }

  test("patch grid: 4x4 grid per full frame, means bounded by byte range") {
    import org.apache.spark.sql.functions._
    val df = Multimodal.patchGrid(spark, sf).cache()
    assert(df.filter(col("patch_mean") < 0 || col("patch_mean") > 255).count() == 0)
    assert(df.filter(col("patch_row") < 0 || col("patch_row") > 3
      || col("patch_col") < 0 || col("patch_col") > 3).count() == 0)
    // full frames carry exactly 16 patches; the tail frame may be partial
    val perFrame = df.groupBy(col("doc_id"), col("frame_idx")).agg(count(lit(1)).as("k"))
    assert(perFrame.filter(col("k") > 16).count() == 0)
    // frame mean equals the patch-weighted mean for full frames (16 x 16 bytes):
    // every full frame's patches must average within truncation error of its frame
    val frames = Multimodal.decodeStub(spark, sf).toDF()
      .select(col("doc_id"), col("frame_idx"), col("mean_intensity"))
    // complete frames only: all 256 bytes present, so every patch is
    // exactly 16 bytes and the simple patch average equals the frame mean
    val fullFrames = Multimodal.meta(spark, sf)
      .select(col("doc_id"), col("byte_len"),
        explode(expr("sequence(0, n_frames - 1)")).as("frame_idx"))
      .filter((col("frame_idx") + 1) * 256 <= col("byte_len"))
      .select(col("doc_id"), col("frame_idx"))
    val joined = df.join(fullFrames, Seq("doc_id", "frame_idx"))
      .groupBy(col("doc_id"), col("frame_idx"))
      .agg(avg(col("patch_mean")).as("pmean"))
      .join(frames, Seq("doc_id", "frame_idx"))
      .filter(abs(col("pmean") - col("mean_intensity")) > 0.01)
    assert(joined.count() == 0)
    df.unpersist()
  }
  test("audio energy: window geometry follows sample count, energies conserve") {
    import org.apache.spark.sql.functions._
    val df = graft.operators.Multimodal.audioEnergy(spark, sf).cache()
    assert(df.count() == graft.sources.Tables.documents(spark, sf).count())
    // window count = ceil(max(n,1) / hop) with the stub's start rule
    val badGeom = df.filter(col("n_windows") =!=
      ceil(greatest(col("n_samples"), lit(1)).cast("double") / graft.operators.Multimodal.AudioHop))
    assert(badGeom.count() == 0)
    assert(df.filter(col("peak_window") >= col("n_windows")).count() == 0)
    assert(df.filter(col("peak_energy") < col("mean_energy")).count() == 0,
      "peak bounds the mean")
    df.unpersist()
  }

  test("audio VAD: segments ordered, min-length gated, separated by real silence") {
    import org.apache.spark.sql.functions._
    import graft.operators.Multimodal
    val df = Multimodal.audioVad(spark, sf).cache()
    assert(df.count() > 0)
    // segment geometry: start<=end, at least VadMinWin active, active fits the span
    assert(df.filter(col("start_widx") > col("end_widx")).count() == 0)
    assert(df.filter(col("n_active") < Multimodal.VadMinWin).count() == 0)
    assert(df.filter(col("n_active") > col("end_widx") - col("start_widx") + 1).count() == 0)
    // consecutive segments of a doc are separated by > VadMaxGap+1 (else merged)
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("seg_id"))
    val gaps = df.withColumn("pend", lag(col("end_widx"), 1).over(ord))
      .filter(col("pend").isNotNull)
      .filter(col("start_widx") - col("pend") <= Multimodal.VadMaxGap + 1)
    assert(gaps.count() == 0, "adjacent segments must be separated by real silence")
    // boundary windows are active: start/end energies strictly above the doc mean
    val w = Multimodal.audioWindows(spark, sf).toDF()
    val tot = w.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nw"), sum(col("energy")).as("tot"))
    val act = w.join(tot, Seq("doc_id"))
      .filter(col("energy") * col("nw") > col("tot"))
      .select(col("doc_id"), col("widx"))
    val badStart = df.select(col("doc_id"), col("start_widx").as("widx"))
      .join(act, Seq("doc_id", "widx"), "left_anti")
    assert(badStart.count() == 0, "every segment starts on an active window")
    df.unpersist()
  }

  test("mm_aspect_bucket: every image lands in exactly one of the 9 ladder buckets") {
    val df = run("mm_aspect_bucket").cache()
    assert(df.count() == 9)
    val images = graft.operators.Multimodal.meta(spark, sf)
      .filter(col("modality") === "image").count()
    assert(df.agg(sum(col("n_images"))).head.getLong(0) == images)
    // batches cover the images: n_batches*32 >= n_images > (n_batches-1)*32
    assert(df.filter(col("n_images") > col("n_batches") * 32 ||
      (col("n_images") > 0 && col("n_images") <= (col("n_batches") - 1) * 32)).count() == 0)
    df.unpersist()
  }

  test("mm_exposure_histogram: bins partition decoded frames within each modality") {
    import spark.implicits._
    val rows = run("mm_exposure_histogram")
      .select("modality", "bin", "n_frames", "modality_total", "share")
      .as[(String, Int, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, b, n, t, sh) =>
      assert(b >= 0 && b <= 15)
      assert(n > 0 && n <= t)
      assert(sh >= 0.0 && sh <= 1.0)
    }
    // per-modality counts really sum to the window total
    rows.groupBy(_._1).foreach { case (m, rs) =>
      assert(rs.map(_._3).sum == rs.head._4, s"modality $m total mismatch")
    }
    // all decoded frames are binned exactly once
    val frames = graft.operators.Multimodal.decodeStub(spark, sf).count()
    assert(rows.map(_._3).sum == frames)
  }

  test("mm_blur_detect: Laplacian energy matches a driver-side byte replay") {
    import spark.implicits._
    val got = run("mm_blur_detect")
      .select("doc_id", "frame_idx", "flen", "lap_energy", "sharpness")
      .as[(Long, Int, Int, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(got.nonEmpty)
    docs.take(50).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val n = (bytes.length + 255) / 256
      (0 until n).foreach { f =>
        val w = bytes.slice(f * 256, math.min(f * 256 + 256, bytes.length))
        val e = (1 until w.length - 1).map(i =>
          math.abs(2 * (w(i) & 0xff) - (w(i - 1) & 0xff) - (w(i + 1) & 0xff)).toLong).sum
        val row = got((id, f))
        assert(row._3 == w.length && row._4 == e, s"doc $id frame $f")
        if (w.length > 2)
          assert(row._5 == math.floor(e.toDouble / (w.length - 2) * 1e4) / 1e4)
      }
    }
    // frame inventory: every doc contributes ceil(len/256) frames
    assert(got.size == docs.map(d => (d._2.getBytes("UTF-8").length + 255) / 256).sum)
  }
}
