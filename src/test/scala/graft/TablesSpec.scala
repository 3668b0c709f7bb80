package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables

/** The loaders' schema memo: a warm read supplies the schema it inferred
  * before and starts no job; a changed file is inferred again; concurrent
  * first reads agree. */
class TablesSpec extends SparkTestBase {

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  test("every loader's memoized schema equals a fresh inference, and a warm read starts no job") {
    loaders.foreach { case (name, load) =>
      val path = s"$sf/$name.parquet"
      val cold = load(spark, sf)
      val (warm, jobs) = JobsOutsideSql(spark)(load(spark, sf))
      assert(jobs.isEmpty, s"$name: a warm read started ${jobs.mkString(", ")}")
      // the loader's settings are in place: inference sees what it saw
      val fresh = spark.read.parquet(path).schema
      assert(Tables.read(spark, path).schema == fresh, name)
      assert(warm.schema == cold.schema, name)
      assert(warm.columns.toSeq == fresh.fieldNames.toSeq, name)
    }
  }

  /** A one-file parquet table at `dst` holding `df`. */
  private def writeFile(df: DataFrame, dst: Path): Unit = {
    val dir = Files.createTempDirectory("graft_tables_out")
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve("t").toString)
    val part = Files.list(dir.resolve("t")).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  private def names(s: StructType): Seq[String] = s.fieldNames.toSeq

  test("a file rewritten with a new length is inferred again") {
    val file = Files.createTempDirectory("graft_tables").resolve("t.parquet")
    writeFile(spark.range(10).selectExpr("id AS a"), file)
    assert(names(Tables.read(spark, file.toString).schema) == Seq("a"))
    assert(names(Tables.read(spark, file.toString).schema) == Seq("a"))
    writeFile(spark.range(10).selectExpr("id AS a", "cast(id AS string) AS b"), file)
    val (df, jobs) = JobsOutsideSql(spark)(Tables.read(spark, file.toString))
    assert(names(df.schema) == Seq("a", "b"))
    assert(jobs.nonEmpty, "the changed file was not inferred again")
    assert(df.count() == 10)
  }

  test("a file rewritten with the same length and a new modification time is inferred again") {
    val file = Files.createTempDirectory("graft_tables").resolve("t.parquet")
    writeFile(spark.range(10).selectExpr("id AS x"), file)
    file.toFile.setLastModified(1000000000000L)
    val len = Files.size(file)
    assert(names(Tables.read(spark, file.toString).schema) == Seq("x"))
    writeFile(spark.range(10).selectExpr("id AS y"), file)
    file.toFile.setLastModified(1000000005000L)
    assert(Files.size(file) == len, "precondition: the rewrite keeps the length")
    assert(names(Tables.read(spark, file.toString).schema) == Seq("y"))
  }

  test("eight threads reading one table cold all get the same schema") {
    val file = Files.createTempDirectory("graft_tables").resolve("t.parquet")
    writeFile(spark.range(10).selectExpr("id AS k", "id * 2.0 AS v", "cast(id AS string) AS s"), file)
    val expected = spark.read.parquet(file.toString).schema
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(() => { start.await(); Tables.read(spark, file.toString).schema })
      }
      start.countDown()
      got.foreach(f => assert(f.get(60, TimeUnit.SECONDS) == expected))
      assert(Tables.read(spark, file.toString).schema == expected)
    } finally pool.shutdownNow()
  }
}
