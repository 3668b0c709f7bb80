package graft

import graft.sources.{Publish, Writers}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.functions._

/** The write-side scale promises: bucketed joins shuffle nothing,
  * partitioned reads prune directories. */
class WritersSpec extends SparkTestBase {

  test("bucketed co-located join has zero Exchange in the executed plan") {
    val df = Writers.bucketedJoin(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the join itself must be exchange-free: no repartitioning on either
    // join key anywhere (the tiny per-status agg above it may exchange)
    assert(p.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
      !p.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not shuffle its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan should be bucket-aware:\n$p")
  }

  test("partitioned read prunes to the filtered date directories") {
    val df = Writers.partitionedScan(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), s"expected partition filters in:\n$p")
    val pf = p.substring(p.indexOf("PartitionFilters: ["))
    assert(pf.substring(0, pf.indexOf("]")).contains("event_date"),
      s"partition filter must be on event_date:\n$p")
  }

  test("multi-column bucketed pipeline joins and aggregates without shuffling the facts") {
    val df = Writers.bucketedMultiJoin(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$p")
    assert(!p.contains("Exchange hashpartitioning(l_partkey") &&
      !p.contains("Exchange hashpartitioning(ps_partkey"),
      s"composite-key bucketed join must not shuffle its inputs:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan should be bucket-aware:\n$p")
  }

  test("compaction writes the target number of contiguous files") {
    Writers.compactionScan(spark, sf).collect()
    def parts(dir: String) =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val sfx = java.lang.Integer.toHexString(sf.hashCode).takeRight(6)
    assert(parts(s"/tmp/graft_docs_small_$sfx") > Writers.CompactTargetFiles,
      "small layout should have many files")
    assert(parts(s"/tmp/graft_docs_packed_$sfx") == Writers.CompactTargetFiles,
      "compacted layout should hit the target file count")
  }

  test("bucket-key point lookup scans only the matching buckets") {
    val df = Writers.bucketLookup(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val m = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(p)
    assert(m.isDefined, s"expected a bucket-pruned scan:\n${p.take(1500)}")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"lookup must not scan every bucket: ${m.get.matched}")
  }

  test("sink_bucketed_join leaves the lookup entry's bucketed table untouched") {
    val lt = Writers.ensureBucketedLineitem(spark, sf)
    // every write names its files afresh, so a rebuild changes the listing
    def files = spark.table(lt).inputFiles.sorted.toSeq
    val before = files
    run("sink_bucketed_join").collect()
    assert(files == before, s"$lt was rewritten by sink_bucketed_join")
  }

  test("secondary-index lookup: fact scan is dynamic-partition-pruned; index probe bucket-pruned") {
    val df = Writers.secondaryIndexLookup(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the fact read must be driven by the index side at runtime — only
    // the okb partitions the probed keys live in get scanned
    assert(p.contains("dynamicpruning"),
      s"fact scan should carry a dynamic partition pruning filter:\n${p.take(2000)}")
    // the index probe itself is a bucket-pruned read on l_partkey
    val m = """SelectedBucketsCount: (\d+) out of (\d+)""".r.findFirstMatchIn(p)
    assert(m.isDefined, s"expected a bucket-pruned index probe:\n${p.take(1500)}")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"index probe must not scan every bucket: ${m.get.matched}")
  }

  test("z-order files are bounded in BOTH dimensions where a linear sort is not") {
    import org.apache.spark.sql.functions._
    Writers.zorderScan(spark, sf).collect()
    val sfx = java.lang.Integer.toHexString(sf.hashCode).takeRight(6)
    val zPath = s"/tmp/graft_orders_zorder_$sfx"
    // comparison layout: same data, linearly sorted by custkey only
    val linPath = s"/tmp/graft_orders_linear_$sfx"
    spark.read.parquet(zPath)
      .repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(linPath)

    // mean over files of max(per-dim span fraction): ~1.0 when any
    // dimension is unpruned, small when every file is a bounded box
    def spans(path: String): org.apache.spark.sql.Row =
      spark.read.parquet(path)
        .withColumn("day_nr", datediff(col("o_orderdate"), lit("1992-01-01")))
        .agg(min("o_custkey"), max("o_custkey"), min("day_nr"), max("day_nr"))
        .collect()(0)
    def meanMaxSpan(path: String): Double = {
      val g = spans(path)
      val ckSpan = (g.getLong(1) - g.getLong(0)).toDouble
      val daySpan = (g.getInt(3) - g.getInt(2)).toDouble
      val fracs = spark.read.parquet(path).inputFiles.map { f =>
        val r = spans(f)
        math.max((r.getLong(1) - r.getLong(0)) / ckSpan,
          (r.getInt(3) - r.getInt(2)) / daySpan)
      }
      fracs.sum / fracs.length
    }
    val zSpan = meanMaxSpan(zPath)
    val linSpan = meanMaxSpan(linPath)
    assert(zSpan < 0.8 * linSpan,
      s"z-order files should be boxes (z=$zSpan vs linear=$linSpan)")
    assert(zSpan < 0.75, s"z-order mean max-span too wide: $zSpan")
  }

  test("approx percentiles stay within 10% of exact; entry claims all hold") {
    import org.apache.spark.sql.functions._
    val rows = graft.sources.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(expr("approx_percentile(o_totalprice, 0.5, 1000)").as("ap50"),
        expr("percentile(o_totalprice, 0.5)").as("exact"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ap50 = r.getDouble(1)
      val exact = r.getDouble(2)
      assert(math.abs(ap50 - exact) / math.max(math.abs(exact), 1e-9) < 0.10,
        s"ap50=$ap50 exact=$exact for ${r.getString(0)}")
    }
    // the hash-checked claim columns must all be true at this SF
    val pct = graft.operators.Tpch.qApproxPercentile(spark, sf).collect()
    assert(pct.nonEmpty && pct.forall(r => r.getBoolean(2) && r.getBoolean(3)))
    val dst = graft.operators.Tpch.qApproxDistinct(spark, sf).collect()
    assert(dst.nonEmpty && dst.forall(_.getBoolean(2)))
  }

  test("schema evolution: merged read surfaces the new column as null on old rows") {
    import org.apache.spark.sql.functions._
    val df = graft.sources.Writers.schemaEvolution(spark, sf)
    assert(df.columns.contains("n_v2") && df.columns.contains("value2_sum"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the new column exists only in the v2 vintage: n_v2 < n everywhere
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_v2")) < r.getLong(r.fieldIndex("n")),
        s"v1 rows must contribute nulls for the evolved column: $r")
    }
  }

  test("merge-on-read: tombstoned keys vanish from the read without touching base files") {
    import org.apache.spark.sql.functions._
    val live = graft.sources.Writers.mergeOnRead(spark, sf)
      .agg(sum("n_live")).collect()(0).getLong(0)
    val want = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderkey") % 3 =!= 0).count()
    assert(live == want, s"live rows $live must equal source minus tombstones $want")
  }
  test("partition overwrite: correction replaces only its partitions, others keep files") {
    import org.apache.spark.sql.functions._
    import graft.sources.{Tables, Writers}
    val rows = Writers.partitionOverwrite(spark, sf).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.size == 5)
    // recompute expectations straight from the source table
    val want = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), floor(col("value") * 100).cast("long").as("vc"))
      .filter(col("day") < lit("2024-01-06").cast("date"))
      .groupBy("day").agg(count(lit(1)).as("n"), sum("vc").as("s"))
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    want.foreach { case (day, (n, s)) =>
      val mult = if (day >= "2024-01-02" && day <= "2024-01-03") 2L else 1L
      assert(rows(day) == ((n, s * mult)), s"day $day")
    }
    // the untouched partitions' directories survived the second write
    val dir = new java.io.File(s"/tmp/graft_events_po_${Integer.toHexString(sf.hashCode).takeRight(6)}")
    val days = dir.listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(Seq("2024-01-01", "2024-01-04", "2024-01-05")
      .forall(d0 => days.contains(s"day=$d0")), s"partition dirs: $days")
  }

  test("sink_write_audit_publish: staged bytes round-trip and the publish is audited") {
    import spark.implicits._
    val rows = run("sink_write_audit_publish")
      .select("side", "n_rows", "digest", "published")
      .as[(String, Long, String, Boolean)].collect()
    assert(rows.map(_._1).sorted.toSeq == Seq("published", "source"))
    assert(rows.forall(_._4), "audit failed — staging did not round-trip")
    val Array(p, s0) = rows.sortBy(_._1)
    assert(p._2 == s0._2 && p._3 == s0._3, "published audit differs from source audit")
    assert(p._2 > 0)
  }

  test("sink_write_audit_publish: a failed final rename keeps the last snapshot readable") {
    import spark.implicits._
    def publish() = run("sink_write_audit_publish")
      .select("side", "n_rows", "published").as[(String, Long, Boolean)].collect()
    val before = publish()
    assert(before.forall(_._3))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[WritersSpec.NoRenameOntoPublished].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val after =
      try publish()
      finally { conf.unset("fs.file.impl"); conf.unset("fs.file.impl.disable.cache") }
    assert(after.forall(!_._3), "a failed rename reported published=true")
    val root = s"/tmp/graft_wap_${Writers.sfx(sf)}"
    val last = Publish.current(spark, s"$root/published", s"$root/retired")
    assert(last.isDefined, "no published snapshot is left")
    assert(spark.read.parquet(last.get).count() == before.find(_._1 == "published").get._2)
  }
}

object WritersSpec {
  /** The local file system, except that no rename onto a path named
    * `published` succeeds. */
  class NoRenameOntoPublished extends LocalFileSystem {
    override def rename(src: Path, dst: Path): Boolean =
      dst.getName != "published" && super.rename(src, dst)
  }
}
