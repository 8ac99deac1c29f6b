package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Parquet

/** The one parquet reader: the schema it takes from one driver-side
  * footer equals the schema Spark's inference job returns (field
  * metadata included), its errors are Spark's own, and planning a read
  * starts no Spark job.
  */
class ParquetSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def sameAsSpark(path: String): Unit = {
    val ours = Parquet.read(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema === theirs.schema, s"schema of $path")
    // StructType equality includes field metadata; say so explicitly
    assert(ours.schema.fields.map(_.metadata) === theirs.schema.fields.map(_.metadata))
    assert(rows(ours) === rows(theirs), s"rows of $path")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(c => col(s"`$c`")): _*))).as[String]
      .collect().toSeq.sorted

  private def failure(body: => DataFrame): Throwable =
    scala.util.Try(body).failed.getOrElse(fail("expected the read to fail"))

  test("a single pyarrow-written file: the fixture corpus") {
    sameAsSpark("/root/testdata/sf0.001/documents.parquet")
    sameAsSpark("/root/testdata/sf0.001/lineitem.parquet")
  }

  test("a Spark-written dir with _SUCCESS, and one with _temporary and .crc residue") {
    val dir = SparkTestBase.tmpDir("graft_pq_plain") + "/t"
    spark.range(20).select(col("id"), (col("id") * 2).cast("int").as("x"),
        col("id").cast("string").as("s"))
      .repartition(3).write.parquet(dir)
    assert(Files.exists(Paths.get(dir, "_SUCCESS")))
    assert(new java.io.File(dir).list().exists(_.endsWith(".crc")))
    sameAsSpark(dir)
    // a crashed write's hidden residue, sorting before every data file
    Files.createDirectories(Paths.get(dir, "_temporary", "0"))
    Files.write(Paths.get(dir, "_temporary", "0", "part-00000-a.parquet"), "torn".getBytes("UTF-8"))
    Files.write(Paths.get(dir, ".aaa.parquet.crc"), "junk".getBytes("UTF-8"))
    sameAsSpark(dir)
    assert(!Parquet.firstDataFile(spark, dir).get.getPath.getName.startsWith("_"))
  }

  test("a partitionBy(__record_state) journal") {
    val dir = SparkTestBase.tmpDir("graft_pq_journal") + "/j"
    Seq((1L, "a", "A"), (2L, "b", "H"), (3L, "c", "H")).toDF("k", "v", "__record_state")
      .write.partitionBy("__record_state").parquet(dir)
    sameAsSpark(dir)
    assert(Parquet.read(spark, dir).columns.last === "__record_state")
  }

  test("nested, decimal, timestamp and timestamp_ntz columns written by Spark") {
    val dir = SparkTestBase.tmpDir("graft_pq_types") + "/t"
    spark.sql(
      """SELECT id,
        |  CAST(id AS DECIMAL(18, 4)) AS d,
        |  CAST(id * 1000 AS DECIMAL(38, 10)) AS wide,
        |  TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
        |  TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz,
        |  named_struct('a', id, 'b', array(id, id + 1), 'c', map('k', CAST(id AS STRING))) AS nested
        |FROM range(5)""".stripMargin)
      .withColumn("tagged", col("id").as("tagged", new org.apache.spark.sql.types.MetadataBuilder()
        .putString("comment", "carried in the footer").build()))
      .write.parquet(dir)
    sameAsSpark(dir)
    assert(Parquet.read(spark, dir).schema("tagged").metadata.getString("comment") ===
      "carried in the footer")
  }

  test("a summary file wins over the data files, as in Spark's inference") {
    val work = SparkTestBase.tmpDir("graft_pq_summary")
    spark.range(3).toDF("x").write.parquet(s"$work/t")
    spark.range(3).toDF("y").write.parquet(s"$work/other")
    val otherFile = new java.io.File(s"$work/other").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(otherFile.toPath, Paths.get(s"$work/t/_common_metadata"))
    assert(Parquet.read(spark, s"$work/t").schema === spark.read.parquet(s"$work/t").schema)
    assert(Parquet.read(spark, s"$work/t").columns.toSeq === Seq("y"))
  }

  test("mergeSchema on in the session gives Spark's merged schema") {
    val dir = SparkTestBase.tmpDir("graft_pq_merge") + "/t"
    spark.range(3).toDF("a").write.parquet(dir)
    spark.range(3).toDF("a").withColumn("b", lit("x")).write.mode("append").parquet(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(Parquet.read(spark, dir).schema === spark.read.parquet(dir).schema)
      assert(Parquet.read(spark, dir).columns.toSeq === Seq("a", "b"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("a missing path and an empty dir fail with Spark's own error") {
    val work = SparkTestBase.tmpDir("graft_pq_errors")
    Files.createDirectories(Paths.get(work, "empty"))
    Files.createDirectories(Paths.get(work, "residue", "_temporary", "0"))
    Seq(s"$work/missing", s"$work/empty", s"$work/residue").foreach { p =>
      val ours = failure(Parquet.read(spark, p))
      val theirs = failure(spark.read.parquet(p))
      assert(ours.getClass === theirs.getClass, p)
      assert(ours.asInstanceOf[SparkThrowable].getCondition ===
        theirs.asInstanceOf[SparkThrowable].getCondition, p)
      assert(Parquet.readIfPresent(spark, p).isEmpty, p)
    }
  }

  test("an unreadable footer falls back to Spark's read, which raises") {
    val dir = SparkTestBase.tmpDir("graft_pq_torn") + "/t"
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    assert(failure(Parquet.read(spark, dir)).getClass ===
      failure(spark.read.parquet(dir)).getClass)
    intercept[Exception](Parquet.readIfPresent(spark, dir))
  }

  test("planning a read starts no Spark job, where spark.read.parquet starts one") {
    val dir = SparkTestBase.tmpDir("graft_pq_jobs") + "/t"
    spark.range(10).toDF("k").write.parquet(dir)
    assert(SparkTestBase.jobsDuring(Parquet.read(spark, dir)) === 0)
    assert(SparkTestBase.jobsDuring(spark.read.parquet(dir)) === 1)
    assert(SparkTestBase.jobsDuring(
      Parquet.read(spark, "/root/testdata/sf0.001/documents.parquet")) === 0)
  }
}
