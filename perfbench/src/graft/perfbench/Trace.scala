package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program. The untraced
  * run uses [[Tracer.Off]], whose spans only run their body.
  */
trait Tracer {
  def span[A](name: String)(body: => A): A
  /** Index of the op being run; spans and jobs are filed under it. */
  def op[A](index: Int, kind: String)(body: => A): A
}

object Tracer {
  /** Local property carrying the innermost span id into every Spark job
    * the span starts (Spark copies local properties to the threads it
    * runs subqueries and broadcasts on).
    */
  val SpanProperty = "perfbench.span"

  object Off extends Tracer {
    def span[A](name: String)(body: => A): A = body
    def op[A](index: Int, kind: String)(body: => A): A = body
  }

  final case class Span(id: Int, name: String, parent: Int, op: Int, kind: String,
                        startMs: Double, var endMs: Double = 0)

  /** Records spans, every Spark job with its stage and task totals, and
    * every write action with its output path. All timestamps are epoch
    * milliseconds, the clock Spark's listener events use.
    */
  final class On(spark: SparkSession) extends Tracer {
    private val sc = spark.sparkContext
    private val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List.empty[Span]
    private var currentOp = -1
    private var currentKind = "untimed"
    private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    private def nowMs = System.nanoTime() / 1e6 + offsetMs
    val jobs = new JobListener
    val writes = new WriteListener(jobs)
    sc.addSparkListener(jobs)
    spark.listenerManager.register(writes)

    def span[A](name: String)(body: => A): A = {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), currentOp, currentKind, nowMs)
      spans += s
      stack = s :: stack
      val outer = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, outer)
      }
    }

    def op[A](index: Int, kind: String)(body: => A): A = {
      currentOp = index
      currentKind = kind
      try span("op")(body) finally { currentOp = -1; currentKind = "untimed" }
    }

    /** Everything recorded, once the listener bus has delivered it. */
    def dump(): Map[String, Any] = {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "op" -> s.op, "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toList,
        "jobs" -> jobs.records,
        "writes" -> writes.records)
    }
  }

  /** Job, stage and task totals per job, filed under the span that
    * started the job.
    */
  final class JobListener extends SparkListener {
    private final class Job(val id: Int, val span: Int, val execId: Long, val startMs: Long,
                            val name: String) {
      var endMs = 0L
      var ok = false
      var stages = 0
      var tasks = 0
      var runMs = 0L
      var gcMs = 0L
      var shuffleRead = 0L
      var shuffleWrite = 0L
      var spill = 0L
      var outBytes = 0L
    }
    private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
    private val jobOfStage = mutable.Map.empty[Int, Job]
    private var lastEnded: Option[Job] = None

    /** SQL execution id and span of the job that ended last. Write
      * callbacks arrive on the same listener queue right after the jobs
      * of their execution, so this names the execution being reported.
      */
    def lastEndedJob: (Long, Int) = synchronized(lastEnded.fold((-1L, -1))(j => (j.execId, j.span)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // the result stage has the highest id; its name is the job's call site
      val name = e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name)
      val j = new Job(e.jobId, prop(SpanProperty).fold(-1)(_.toInt),
        prop("spark.sql.execution.id").fold(-1L)(_.toLong), e.time, name)
      jobsById(e.jobId) = j
      e.stageIds.foreach(jobOfStage(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobsById.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
        lastEnded = Some(j)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
    def records: List[Map[String, Any]] = synchronized {
      jobsById.values.toList.map(j => Map(
        "id" -> j.id, "span" -> j.span, "exec_id" -> j.execId, "name" -> j.name,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stages,
        "tasks" -> j.tasks, "executor_run_ms" -> j.runMs, "gc_ms" -> j.gcMs,
        "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
        "spill_bytes" -> j.spill, "output_bytes" -> j.outBytes))
    }
  }

  /** Every successful action: the SQL execution id and span of its
    * jobs, its duration, and, for a file write, the output path and the
    * write command's row, byte and file counts.
    */
  final class WriteListener(jobs: JobListener) extends QueryExecutionListener {
    private val buf = mutable.ArrayBuffer.empty[Map[String, Any]]

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val write = fileWrite(qe.executedPlan)
      val (execId, span) = jobs.lastEndedJob
      val rec = Map[String, Any]("exec_id" -> execId, "span" -> span, "func" -> funcName,
        "duration_ms" -> durationNs / 1e6,
        "path" -> write.fold("")(_._1),
        "rows" -> write.fold(0L)(_._2.getOrElse("numOutputRows", 0L)),
        "bytes" -> write.fold(0L)(_._2.getOrElse("numOutputBytes", 0L)),
        "files" -> write.fold(0L)(_._2.getOrElse("numFiles", 0L)))
      synchronized(buf += rec)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    private def fileWrite(plan: SparkPlan): Option[(String, Map[String, Long])] = plan match {
      case d: DataWritingCommandExec => d.cmd match {
        case i: InsertIntoHadoopFsRelationCommand =>
          Some(i.outputPath.toString -> d.cmd.metrics.map { case (k, v) => k -> v.value })
        case _ => None
      }
      case c: CommandResultExec => fileWrite(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => fileWrite(a.executedPlan)
      case q: QueryStageExec => fileWrite(q.plan)
      case p => p.children.iterator.map(fileWrite).collectFirst { case Some(w) => w }
    }

    def records: List[Map[String, Any]] = synchronized(buf.toList)
  }
}
