package graft.exec

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Per-run operational ledger — the audit/lineage record the reference
  * got for free from Airflow's task-instance metadata (task id, run
  * date, duration in the scheduler DB; airflow_etl.py delegates all of
  * it), landed here as plain parquet so it scales, survives engine
  * restarts, and queries like any other table.
  *
  * One row per completed task run: the task id, what was read (the
  * dependency aliases / source identifier and the watermark predicate
  * applied, if any), rows landed, where they landed, and wall time.
  * The row is appended AFTER the task's own writes succeed, so the
  * ledger reads as "what actually landed" — a failed run leaves no
  * row, and a re-run appends a fresh row (run history, not state).
  *
  * Location: `<dumpDir>/_graft_run_ledger` by default — the same
  * durable root as the step cache (the reference's `s3a://dump/etl`,
  * airflow_etl.py:226-228), so the pipeline's operational state lives
  * in one place; point `EtlContext.ledgerDir` anywhere else (e.g. the
  * lake root) to relocate it.
  *
  * Row counts come from `Dataset.observe` metrics collected DURING the
  * landing write itself — never from a second scan of the data, which
  * at 100 TB would double the extract cost.
  *
  * Every append lands as ONE parquet file of its own and runs no Spark
  * job: the rows are already on the driver, so they go straight
  * through Spark's own parquet writer factory (the one its write tasks
  * use, so the file format is exactly a `df.write.parquet` file) into a
  * hidden `.part-<uuid>…inprogress` name, then are renamed to
  * `part-00000-<uuid>-c000.snappy.parquet` — the temp-then-rename of
  * [[graft.io.Watermarks.set]]. Readers never see a torn file (a crash
  * leaves only hidden residue, which Spark's listing skips), and
  * concurrent appends — the tasks of one
  * `Tasks.runDag(parallelism > 1)` sharing a ledger dir — never share
  * a staging directory, so none of them can fail or lose a row.
  */
object RunLedger {

  /** Ledger directory name (underscore-prefixed like Spark's own
    * metadata files, so data-path listings skip it).
    */
  val DirName = "_graft_run_ledger"

  /** The context's resolved ledger directory. */
  def dirFor(ctx: EtlContext): String =
    ctx.ledgerDir.getOrElse(s"${ctx.dumpDir.stripSuffix("/")}/$DirName")

  final case class Entry(
      task_id: String,
      kind: String, // extract | transform
      inputs: Seq[String], // dependency aliases / source identifiers
      watermark: Option[String], // delta predicate or REPORT_DATE, if any
      rows_out: Long,
      landed_path: String,
      started_ms: Long,
      wall_ms: Long)

  /** Append one run row (one tiny parquet file per run, no Spark job). */
  def append(spark: SparkSession, dir: String, e: Entry): Unit = {
    import spark.implicits._
    landLocal(Seq(e).toDF(), dir)
  }

  /** The full run history, newest first. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir).orderBy(col("started_ms").desc)

  /** Sibling table for [[Tasks.runDag]] executions: one row per task
    * per DAG run — succeeded/failed/skipped, attempts made, the
    * nearest blocking upstreams for skips, the error class/message for
    * failures, and wall timing. This is the Airflow task-instance
    * record: the run ledger above answers "what data landed", this
    * answers "what did the scheduler decide and why". Written as ONE
    * append per DAG run by [[Tasks.runDag]] when a [[DagRecord]] is
    * passed, into the [[DagRecord]]'s `dir` (conventionally
    * `<dumpDir>/_graft_dag_runs`).
    */
  final case class DagEntry(
      run_id: String,
      task_id: String,
      status: String, // succeeded | failed | skipped
      attempts: Int, // attempts actually made (retries + 1 max); 0 for skipped
      blocked_by: Seq[String], // nearest non-succeeded upstreams (skipped only)
      error_class: Option[String], // exception class (failed only)
      error_msg: Option[String],
      started_ms: Option[Long], // first attempt's epoch ms (ran tasks only)
      wall_ms: Option[Long]) // whole attempt sequence

  /** Append a DAG run's outcome rows (one small file per run, no
    * Spark job).
    */
  def appendDagRun(spark: SparkSession, dir: String,
                   entries: Seq[DagEntry]): Unit = {
    import spark.implicits._
    landLocal(entries.toDF(), dir)
  }

  /** Land a driver-local frame of ledger rows, plus its `started_at`
    * timestamp, as one parquet file in `dir` without a Spark job (see
    * the object doc). The frame is a local relation, so collecting its
    * physical plan runs nothing; the file is written under a hidden
    * name and renamed into place, and a failed write removes it.
    */
  private def landLocal(rows: DataFrame, dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
    val spark = rows.sparkSession
    val plan = rows.withColumn("started_at", timestamp_millis(col("started_ms")))
      .queryExecution.executedPlan
    val data = plan.executeCollect()
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, plan.schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val task = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(task)}"
    val target = new Path(dir, name)
    val tmp = new Path(dir, s".$name.inprogress")
    val fs = target.getFileSystem(job.getConfiguration)
    try {
      val out = factory.newInstance(tmp.toString, plan.schema, task)
      try data.foreach(out.write) finally out.close()
      if (!fs.rename(tmp, target))
        throw new java.io.IOException(s"ledger append rename failed: $tmp -> $target")
    } catch {
      case e: Throwable =>
        scala.util.Try(fs.delete(tmp, false))
        throw e
    }
  }

  /** The full DAG-run history, newest first (skips carry no timing and
    * sort last within their run).
    */
  def readDagRuns(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir).orderBy(col("started_ms").desc_nulls_last)

  /** Run `write` on the observed frame and return the rows it landed —
    * the count rides the write's own pass (no second scan).
    */
  private[graft] def countDuring(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = org.apache.spark.sql.Observation()
    write(df.observe(obs, count(lit(1)).as("rows_out")))
    obs.get("rows_out").asInstanceOf[Long]
  }
}
