package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide physical-plan fingerprint pinning.
  *
  * Every registry query's INITIAL physical plan (pre-AQE, before any
  * action) is reduced to a canonical fingerprint — shuffle/broadcast
  * exchange counts, parquet scan count, materialized-RDD scan count,
  * top-k, cartesian, and join-strategy counts — and compared against
  * the checked-in table `src/test/resources/plan_fingerprints.tsv`.
  * A plan regression (a filter that stops pushing down, a broadcast
  * that degrades to a shuffle join, an accidental cartesian product, a
  * new shuffle in a hot path) now fails a unit test deterministically
  * instead of waiting for a noisy benchmark run to notice a slowdown.
  *
  * The per-query plan AUDITS (QueriesSpec/ExtSpec) stay the place for
  * targeted, semantically-named assertions ("q01 pushes the shipdate
  * filter into the scan"); this spec is the uniform safety net across
  * all queries, including ones with no dedicated audit.
  *
  * REGENERATION (after an intentional plan change): re-pin with
  *
  *   SPARK_GRAFT_REGEN_PLANS=1 sbt "testOnly graft.PlanPinSpec"
  *
  * which rewrites the tsv from the live plans; review the diff — every
  * changed line is a deliberate plan change you are signing off on.
  *
  * Stability notes: fingerprints are computed at sf0.001 with the
  * fixed test-session config (shuffle.partitions=4), count only node
  * KINDS (never partition counts, file sizes, or codegen stage ids),
  * and read the plan before execution — so they are a function of the
  * query code, the fixed fixture, and the Spark version alone.
  */
class PlanPinSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  private val sf = "/root/testdata/sf0.001"
  private val tablePath = "src/test/resources/plan_fingerprints.tsv"
  private val jobBudgetPath = "src/test/resources/job_budget.tsv"

  private def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
    def n(pat: String): Int = pat.r.findAllMatchIn(s).size
    // "Exchange hashpartitioning(...)" etc; BroadcastExchange is a
    // distinct node name, so the leading space anchors shuffles only
    val shuffle = n("Exchange (hash|range|SinglePartition|RoundRobin)")
    val bcast = n("BroadcastExchange")
    val scan = n("Scan parquet") + n("FileScan parquet")
    val rdd = n("Scan ExistingRDD")
    val topk = n("TakeOrderedAndProject")
    val cart = n("CartesianProduct")
    val smj = n("SortMergeJoin")
    val bhj = n("BroadcastHashJoin")
    s"shuffle=$shuffle bcast=$bcast scan=$scan rdd=$rdd topk=$topk cart=$cart smj=$smj bhj=$bhj"
  }

  test("all registry queries match their pinned plan fingerprints") {
    val got: Seq[(String, String)] = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, f) => name -> fingerprint(f(spark, sf)) }
    if (sys.env.contains("SPARK_GRAFT_REGEN_PLANS")) {
      val out = got.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(tablePath),
        out.getBytes("UTF-8"))
      info(s"regenerated $tablePath (${got.size} queries)")
    } else {
      val want: Map[String, String] =
        scala.io.Source.fromFile(tablePath).getLines()
          .filter(_.nonEmpty)
          .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
      val regenHint = "intentional plan changes re-pin with " +
        "SPARK_GRAFT_REGEN_PLANS=1 sbt 'testOnly graft.PlanPinSpec'"
      got.foreach { case (k, v) =>
        assert(want.contains(k), s"$k has no pinned plan fingerprint — $regenHint")
        assert(want(k) === v, s"$k physical plan drifted — $regenHint")
      }
      assert(want.keySet === got.map(_._1).toSet,
        s"stale fingerprint rows for removed queries — $regenHint")
    }
  }

  /** Spark-job budget pins: the exact number of jobs a query starts at
    * sf0.001 (building its DataFrame, with its eager cuts and model
    * collects, plus one noop write). The job-bound chains pay per job
    * in scheduling round trips, not per byte, so a change that adds
    * jobs to one of them fails here instead of only in a noisy
    * benchmark. An intentional change re-pins `job_budget.tsv` with the
    * counts this test reports.
    */
  test("pinned queries start exactly their budgeted Spark jobs at sf0.001") {
    val want: Seq[(String, Int)] = scala.io.Source.fromFile(jobBudgetPath).getLines()
      .filter(_.nonEmpty)
      .map { l => val Array(q, n) = l.split("\t"); q -> n.toInt }.toSeq
    val got = want.map { case (q, _) =>
      q -> SparkTestBase.jobsDuring(SparkEntry.queries(q)(spark, sf)
        .write.format("noop").mode("overwrite").save())
    }
    assert(got === want,
      s"job counts drifted; observed:\n${got.map { case (q, n) => s"$q\t$n" }.mkString("\n")}")
  }

  /** The DWH path's job budget: one incremental cycle, as
    * `dwh_incremental` times it — a delta `extractDf` of the newly
    * landed source rows onto the lake, then the delta transform
    * (append journal, delta merge, record-state flip). The source frame
    * is the caller's and is read before the count. Seven jobs: the
    * boundary probe, the lake write, the journal append, three merge
    * stages and the master write; no schema-inference job.
    */
  test("one DWH delta cycle starts exactly its budgeted Spark jobs") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, lit, to_date}
    import graft.config.{MergeMode, ReadMode, WriteMode}
    import graft.exec.{EtlContext, PipelineRunner, Tasks}
    import graft.io.{FileWarehouse, Lake}
    val work = SparkTestBase.tmpDir("graft_delta_cycle_jobs")
    val folder = Paths.get(work, "sql", "order_state")
    Files.createDirectories(folder)
    val select = "SELECT k, v, updated_at, updated_at AS __transform_dt, " +
      "updated_at AS __load_dt, seqno AS __seqno, 'A' AS __record_state FROM updates"
    Files.writeString(folder.resolve("full.sql"), select)
    Files.writeString(folder.resolve("delta.sql"),
      select + " WHERE load_date = DATE '{report_date}'")
    Files.writeString(folder.resolve("config.yaml"),
      """- dependencies:
        |  - source: datalake
        |    format: parquet
        |    alias: updates
        |    source_system_name: src
        |    source_system_tag: erp
        |    schema: public
        |    table_name: updates
        |  transform:
        |    full:
        |    - type: select
        |      sql: full.sql
        |    delta:
        |    - type: select
        |      sql: delta.sql
        |      parameters:
        |      - name: report_date
        |        type: report_date
        |  target:
        |    target_schema: dwh
        |    target_table_name: order_state""".stripMargin)
    val sourceDir = s"$work/source"
    def land(batch: Int, keys: Seq[Long]): Unit =
      spark.createDataFrame(keys.map(k => (k, s"v$batch", 1000L * batch + k)))
        .toDF("k", "v", "seqno")
        .withColumn("updated_at", (lit(86400L * batch) + col("seqno") % 60).cast("timestamp"))
        .withColumn("load_date", to_date(lit(s"2025-01-0${batch + 1}")))
        .write.mode("append").parquet(sourceDir)
    def ctx(reportDate: String) = EtlContext(spark, Lake(s"$work/lake"),
      new FileWarehouse(spark, s"$work/wh"), variables = Map("REPORT_DATE" -> reportDate),
      sqlRoot = Some(s"$work/sql"), dumpDir = s"$work/dump")
    land(0, 1L to 40L)
    val boot = ctx("2025-01-01")
    boot.warehouse.asInstanceOf[FileWarehouse].registerPrimaryKey("dwh", "order_state", Seq("k"))
    PipelineRunner.extractDf(
      boot.copy(taskId = Tasks.extractTaskId("src", "erp", "updates", ReadMode.Full)),
      spark.read.parquet(sourceDir), "src", "erp", "public", "updates", ReadMode.Full)
    Tasks.transformDb(boot, "order_state", ReadMode.Full, WriteMode.Overwrite, MergeMode.Full).run()
    land(1, 30L to 50L)
    val cycle = ctx("2025-01-02")
    val source = spark.read.parquet(sourceDir)
    val mark = spark.read.parquet(s"$work/lake/datalake/src/erp/public/updates")
      .agg(org.apache.spark.sql.functions.max("updated_at").cast("string")).head().getString(0)
    val jobs = SparkTestBase.jobsDuring {
      PipelineRunner.extractDf(
        cycle.copy(taskId = Tasks.extractTaskId("src", "erp", "updates", ReadMode.Delta)),
        source, "src", "erp", "public", "updates", ReadMode.Delta, Some(WriteMode.Append),
        Some(PipelineRunner.DeltaSpec("updated_at", mark)))
      Tasks.transformDb(cycle, "order_state", ReadMode.Delta, WriteMode.Append, MergeMode.Delta)
        .run()
    }
    val master = new FileWarehouse(spark, s"$work/wh").read("dwh", "order_state")
    assert(master.count() === 50 && master.where(col("v") === "v1").count() === 21)
    assert(jobs === 7, s"one delta cycle started $jobs Spark jobs")
  }
}
