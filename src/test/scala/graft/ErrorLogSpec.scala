package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.{col, lit, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite

/** A green run logs no ERROR line: the cut-heavy DSIR queries and a
  * streaming SCD2 cold start, watched by an appender on the root
  * logger.
  */
class ErrorLogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** ERROR (or worse) events logged while `body` runs. */
  private def errorsDuring(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("graft-error-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    probe.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(probe)
    try body finally { root.removeAppender(probe); probe.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("q113, q114 and q117 at sf0.001 and an SCD2 cold start log no ERROR") {
    val sf = "/root/testdata/sf0.001"
    val queries = Seq("q113_dsir_score", "q114_dsir_select", "q117_selection_pipeline")
    // the shuffle width Bench derives for the corpus, as Bench runs them
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    val errors = errorsDuring {
      spark.conf.set("spark.sql.shuffle.partitions", DerivedShuffle.forDir(sf).toLong)
      try for (_ <- 1 to 3; q <- queries)
        SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      finally spark.conf.set("spark.sql.shuffle.partitions", width)
      val root = SparkTestBase.tmpDir("graft_quiet_scd2") + "/history"
      graft.streaming.StreamingScd2.scd2Sink(root, Seq("id"))(
        Seq((1, "A", "2024-01-01 00:00:00", 1L)).toDF("id", "v", "__t", "__seqno")
          .withColumn("__transform_dt", to_timestamp(col("__t")))
          .withColumn("__load_dt", to_timestamp(col("__t")))
          .withColumn("__record_state", lit("A")).drop("__t"), 0L)
    }
    assert(errors.size === 0, s"ERROR lines:\n${errors.take(5).mkString("\n")}")
  }

  test("a delta extract onto a crash-left landing logs no ERROR") {
    val work = SparkTestBase.tmpDir("graft_crashed_landing")
    val ctx = graft.exec.EtlContext(spark, graft.io.Lake(work),
      new graft.io.FileWarehouse(spark, s"$work/wh"))
    // a crashed first write leaves only its hidden _temporary directory
    val p = ctx.lake.tablePath("datalake", "sys", "main", "sch", "crashed")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(p, "_temporary"))
    val df = spark.range(10).toDF("k").withColumn("ts", col("k").cast("string"))
    val errors = errorsDuring {
      graft.exec.PipelineRunner.extractDf(ctx, df, "sys", "main", "sch", "crashed",
        readMode = graft.config.ReadMode.Delta,
        delta = Some(graft.exec.PipelineRunner.DeltaSpec("ts", "7")))
    }
    assert(errors.size === 0, s"ERROR lines:\n${errors.take(5).mkString("\n")}")
    assert(spark.read.parquet(p).count() === 3L)
  }
}
