package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** How graft publishes a directory atomically. A new version is written
  * in full to `staged`, beside the published `target`; [[swap]] then
  * retires `target` to `retired`, renames `staged` into place and drops
  * `retired`. Readers that go through [[current]] (the snapshot stores,
  * write-audit-publish, the collector's state snapshots) fall back to
  * `retired` when a crash or a failed rename fell between the two
  * renames, so they see the old version or the new one and never a
  * half-written or missing one. A reader that lists a table root instead
  * (the collector's `round=N` slices) can miss that one slice after such
  * a cut-short swap, until the round is run again. `staged` and
  * `retired` must lie outside any table root a reader lists. */
object Publish {
  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Publish the fully written `staged` as `target`. Throws
    * `java.io.IOException` when a rename fails; `target` or `retired`
    * then still holds the last published version. */
  def swap(spark: SparkSession, staged: String, target: String, retired: String): Unit = {
    val f = fs(spark, target)
    val (st, tg, rt) = (new Path(staged), new Path(target), new Path(retired))
    def rename(from: Path, to: Path): Unit =
      if (!f.rename(from, to)) throw new java.io.IOException(s"publish: could not rename $from to $to")
    // a swap cut short leaves the last version in `retired`: put it back
    // first, so dropping `retired` below never drops the only copy
    if (!f.exists(tg) && f.exists(rt)) rename(rt, tg)
    f.delete(rt, true)
    if (f.exists(tg)) rename(tg, rt)
    rename(st, tg)
    f.delete(rt, true)
  }

  /** Where the published version of `target` is, if there is one:
    * `target` itself, or `retired` after a swap cut short between its
    * two renames. */
  def current(spark: SparkSession, target: String, retired: String): Option[String] = {
    val f = fs(spark, target)
    Seq(target, retired).find(p => f.exists(new Path(p)))
  }
}
