package graft.exec

import graft.config._

/** A named, self-contained unit of scheduler work: the rebuild of the
  * reference's Airflow task (a `PythonOperator` wrapping one extract or
  * transform call, airflow_etl.py:515-525, :762-771) with the DAG layer
  * removed. `id` reproduces the reference's task-id naming exactly, so
  * an existing DAG's node names carry over; `run()` executes the unit.
  * Any orchestrator — Airflow (BashOperator/SparkSubmitOperator), cron,
  * dagster — maps one DAG node to one [[graft.RunTask]] invocation.
  *
  * `retries` is Airflow's per-task policy: up to that many RE-attempts
  * after a failed first try (so retries = 2 allows 3 attempts), and an
  * attempt that succeeds makes the task plainly Succeeded — downstream
  * tasks run as if nothing happened. Only recoverable exceptions
  * retry: fatal JVM errors abort the run and an interrupt is a
  * cancellation, never re-attempted.
  *
  * `retryDelayMs`/`retryExponentialBackoff`/`maxRetryDelayMs` are
  * Airflow's `retry_delay`/`retry_exponential_backoff`/
  * `max_retry_delay`: the wait before re-attempt i is `retryDelayMs`
  * (flat) or `retryDelayMs · 2^(i-1)` capped at `maxRetryDelayMs`
  * (exponential) — the policy that lets a transient source-DB outage
  * clear instead of burning every retry in the same millisecond. The
  * wait is interrupt-safe: an interrupt during it is a cancellation
  * (recorded Failed, interrupt status restored), never a re-attempt.
  */
final case class EtlTask(id: String, run: () => Unit, retries: Int = 0,
                         retryDelayMs: Long = 0,
                         retryExponentialBackoff: Boolean = false,
                         maxRetryDelayMs: Option[Long] = None) {
  /** Wait before re-attempt `i` (1-based: i = 1 follows the first
    * failure). Double math so deep backoff saturates instead of
    * overflowing.
    */
  def retryDelayFor(reAttempt: Int): Long = {
    require(reAttempt >= 1, s"re-attempt index must be >= 1, got $reAttempt")
    if (retryDelayMs <= 0) 0L
    else {
      val raw =
        if (!retryExponentialBackoff) retryDelayMs.toDouble
        else retryDelayMs.toDouble * math.pow(2.0, (reAttempt - 1).toDouble)
      val capped = math.min(raw, maxRetryDelayMs.getOrElse(Long.MaxValue).toDouble)
      math.min(capped, Long.MaxValue.toDouble).toLong
    }
  }
}

/** Outcome of one task inside a [[Tasks.runDag]] execution. */
sealed trait DagStatus
object DagStatus {
  case object Succeeded extends DagStatus
  /** The task's own run() threw. */
  final case class Failed(error: Throwable) extends DagStatus
  /** Never attempted: an upstream task failed (or was itself skipped).
    * `blockedBy` names the nearest non-succeeded dependencies.
    */
  final case class Skipped(blockedBy: Seq[String]) extends DagStatus
}

/** Result of a [[Tasks.runDag]] execution: the ids in the order their
  * runs COMPLETED (skipped tasks excluded) and every task's status.
  * `succeeded` is true iff every task ran and succeeded.
  */
final case class DagRun(completionOrder: Seq[String],
                        status: Map[String, DagStatus]) {
  def succeeded: Boolean = status.values.forall(_ == DagStatus.Succeeded)
}

/** Where a [[Tasks.runDag]] execution lands its durable per-task
  * outcome rows ([[RunLedger.DagEntry]] into `dir`, one row per task
  * including failed and skipped ones — the Airflow task-instance
  * record the in-memory [[DagRun]] alone doesn't persist). `runId`
  * names the execution; re-using one across runs is legal (the table
  * is history, not state) but makes per-run queries ambiguous.
  */
final case class DagRecord(spark: org.apache.spark.sql.SparkSession,
                           dir: String, runId: String)

/** Task factories (reference: `AirflowETL.extract_db`
  * airflow_etl.py:486-538, `AirflowETL.transform_db` :736-774). The
  * factories validate modes and fix naming/default rules at BUILD time
  * (like the reference, which resolves them in the scheduler process
  * before any worker runs), returning an [[EtlTask]] that does the work
  * when the orchestrator says so.
  */
object Tasks {

  /** Reference naming: lowercased parts joined as
    * `task_extract_<system>_<tag>_<table>_<read_mode>`
    * (airflow_etl.py:505-514).
    */
  def extractTaskId(systemName: String, systemTag: String, table: String,
                    readMode: ReadMode): String =
    s"task_extract_${systemName.toLowerCase}_${systemTag.toLowerCase}_" +
      s"${table.toLowerCase}_${readMode.name}"

  /** Reference naming: `task_transform_<folder with / -> _>_<read_mode>`
    * (airflow_etl.py:759-761).
    */
  def transformTaskId(tableFolder: String, readMode: ReadMode): String =
    s"task_transform_${tableFolder.replace('/', '_')}_${readMode.name}"

  /** Build the extract task (EP1). Write-mode defaulting happens here,
    * at build time, like the reference (full→overwrite, delta→append;
    * airflow_etl.py:497-503); a delta read without a watermark fails at
    * RUN time (the watermark value is per-run state, not task shape).
    */
  def extractDb(ctx: EtlContext, systemName: String, systemTag: String,
                schema: String, table: String, query: String,
                readMode: ReadMode = ReadMode.Full,
                writeMode: Option[WriteMode] = None,
                delta: Option[PipelineRunner.DeltaSpec] = None): EtlTask = {
    val id = extractTaskId(systemName, systemTag, table, readMode)
    EtlTask(id, () =>
      PipelineRunner.extractDb(ctx.copy(taskId = id),
        systemName.toLowerCase, systemTag.toLowerCase,
        schema.toLowerCase, table.toLowerCase, query,
        readMode, writeMode, delta))
  }

  /** Build the WATERMARK-TRACKED delta extract task: the delta loop
    * driven by the durable [[graft.io.Watermarks]] store
    * ([[PipelineRunner.extractDbDeltaTracked]]) — no per-run watermark
    * argument; the task is rerunnable as-is on any schedule.
    */
  def extractDbTracked(ctx: EtlContext, systemName: String, systemTag: String,
                       schema: String, table: String, query: String,
                       column: String): EtlTask = {
    val id = extractTaskId(systemName, systemTag, table, ReadMode.Delta)
    EtlTask(id, () =>
      PipelineRunner.extractDbDeltaTracked(ctx.copy(taskId = id),
        systemName.toLowerCase, systemTag.toLowerCase,
        schema.toLowerCase, table.toLowerCase, query, column))
  }

  /** Build the transform task (EP2): the table folder holds
    * `config.yaml` (+ sql files + optional `migration.sql`), resolved
    * under the context's sqlRoot like the reference resolves under its
    * etl folder (airflow_etl.py:676-685). Mode validation is the
    * factory's job (airflow_etl.py:752-757) — a bad mode must fail when
    * the DAG is BUILT, not at 2am when the task fires.
    */
  def transformDb(ctx: EtlContext, tableFolder: String,
                  readMode: ReadMode = ReadMode.Full,
                  writeMode: WriteMode = WriteMode.Overwrite,
                  mergeMode: MergeMode = MergeMode.Full): EtlTask = {
    val id = transformTaskId(tableFolder, readMode)
    val base = ctx.sqlRoot.getOrElse(
      throw new ConfigException("transformDb task requires sqlRoot (the config repository)"))
    val folder = java.nio.file.Paths.get(base, tableFolder).toString
    EtlTask(id, () => {
      val cfg = Yaml.parsePipelineFile(
        java.nio.file.Paths.get(folder, "config.yaml").toString)
      PipelineRunner.run(ctx.copy(sqlRoot = Some(folder), taskId = id),
        cfg, readMode, writeMode, mergeMode)
    })
  }

  /** IN-PROCESS DAG execution — the one Airflow affordance the
    * scheduler-agnostic single-task contract ([[graft.RunTask]]) left
    * to the orchestrator, for deployments that have none: run a set of
    * [[EtlTask]]s in dependency order, optionally running INDEPENDENT
    * tasks concurrently, with Airflow's failure semantics — a failed
    * task blocks exactly its transitive DESCENDANTS (marked
    * [[DagStatus.Skipped]] with the nearest blocking ids), every other
    * branch keeps running to completion.
    *
    * `deps` maps task id → upstream task ids (absent key = no
    * upstreams, the Airflow default). Duplicate ids, unknown ids in
    * `deps`, and cycles fail FAST at build time — before any task
    * runs — like the reference resolving its DAG in the scheduler
    * process.
    *
    * Scheduling is deterministic: with `parallelism = 1` the run is
    * Kahn's algorithm over a sorted ready set — of all currently-ready
    * tasks, the smallest id runs next. With `parallelism > 1` ready
    * tasks are SUBMITTED in id order to a fixed thread pool (completion
    * order is then up to task durations) — Spark sessions are
    * thread-safe and local/cluster masters schedule concurrent jobs
    * fairly, so two independent extracts genuinely overlap their I/O
    * waits. Scheduling state lives in explicit queues, one stack frame
    * regardless of DAG depth. Ledger integration is the tasks' own:
    * each extract/transform appends its run row AFTER its writes
    * succeed ([[RunLedger]]), so a DAG run leaves one ledger row per
    * SUCCEEDED task and none for failed/skipped ones — the ledger
    * stays "what actually landed". Concurrent tasks share one ledger
    * dir safely: each append renames its own file into place, with no
    * staging directory shared between appends.
    *
    * `sleep` is the retry-wait primitive (default `Thread.sleep`) —
    * a seam so tests assert the exact requested waits without
    * wall-clock flakiness; production callers never pass it.
    */
  def runDag(tasks: Seq[EtlTask], deps: Map[String, Seq[String]] = Map.empty,
             parallelism: Int = 1, record: Option[DagRecord] = None,
             sleep: Long => Unit = Thread.sleep(_)): DagRun = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    tasks.foreach { t =>
      require(t.retries >= 0,
        s"task ${t.id}: retries must be >= 0, got ${t.retries}")
      require(t.retryDelayMs >= 0,
        s"task ${t.id}: retryDelayMs must be >= 0, got ${t.retryDelayMs}")
      t.maxRetryDelayMs.foreach(m => require(m >= 0,
        s"task ${t.id}: maxRetryDelayMs must be >= 0, got $m"))
    }
    val ids = tasks.map(_.id)
    require(ids.distinct.size == ids.size,
      s"duplicate task ids: ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    val idSet = ids.toSet
    val unknown = (deps.keys.filterNot(idSet) ++
      deps.values.flatten.filterNot(idSet)).toSeq.distinct
    require(unknown.isEmpty, s"deps reference unknown task ids: ${unknown.mkString(", ")}")
    // duplicate entries in an upstream list collapse to one edge —
    // pendingUps below is a Set, so a kept duplicate would resolve the
    // downstream task on the FIRST occurrence and again on the second,
    // scheduling (and running) it twice
    val upstream: Map[String, Seq[String]] =
      ids.map(id => id -> deps.getOrElse(id, Nil).distinct).toMap
    val downstream: Map[String, Seq[String]] = upstream.toSeq
      .flatMap { case (id, ups) => ups.map(_ -> id) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // cycle check: Kahn over the whole graph before anything runs
    locally {
      val indeg = scala.collection.mutable.Map(
        ids.map(id => id -> upstream(id).size): _*)
      var frontier = ids.filter(indeg(_) == 0).toList
      var seen = 0
      while (frontier.nonEmpty) {
        val h = frontier.head; frontier = frontier.tail; seen += 1
        downstream.getOrElse(h, Nil).foreach { d =>
          indeg(d) -= 1; if (indeg(d) == 0) frontier = d :: frontier
        }
      }
      val stuck = indeg.filter(_._2 > 0).keys.toSeq.sorted
      require(seen == ids.size,
        s"dependency cycle among: ${stuck.mkString(", ")}")
    }
    val byId = tasks.map(t => t.id -> t).toMap
    val status = scala.collection.concurrent.TrieMap.empty[String, DagStatus]
    // per-task operational metadata for the durable record: attempts
    // actually made, and (start epoch ms, wall ms) of the whole
    // attempt sequence — driver-side scalars over task ids, not data
    val attempts = scala.collection.concurrent.TrieMap.empty[String, Int]
    val timing = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val completed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pendingUps = scala.collection.mutable.Map(
      ids.map(id => id -> scala.collection.mutable.Set(upstream(id): _*)): _*)
    val lock = new Object

    // drop `id` from its downstreams' pending-upstream sets; returns the
    // ids whose upstreams all just resolved (each id is returned exactly
    // once across the whole run — its last pending upstream resolves once)
    def resolveDownstream(id: String): Seq[String] = lock.synchronized {
      downstream.getOrElse(id, Nil).flatMap { d =>
        pendingUps(d) -= id
        if (pendingUps(d).isEmpty) Seq(d) else Nil
      }
    }
    // a newly-unblocked batch splits into runnable tasks and skips: a
    // task with any non-succeeded upstream is marked Skipped on the
    // spot and its own downstreams resolve in the SAME loop — a skip
    // cascade costs zero stack frames however deep the DAG is
    def readyToRun(resolved: Seq[String]): Seq[String] = {
      val runnable = Seq.newBuilder[String]
      var queue = resolved.toList
      while (queue.nonEmpty) {
        val d = queue.head; queue = queue.tail
        val blocked = upstream(d).filter(u => status.get(u) match {
          case Some(DagStatus.Succeeded) => false
          case _ => true
        })
        if (blocked.nonEmpty) {
          status(d) = DagStatus.Skipped(blocked.sorted)
          queue = queue ::: resolveDownstream(d).sorted.toList
        } else runnable += d
      }
      runnable.result()
    }
    // a task failure is scheduler DATA ([[DagStatus.Failed]]) only for
    // recoverable exceptions: fatal JVM errors (OutOfMemoryError,
    // StackOverflowError, …) mean the process itself is no longer
    // trustworthy, so they PROPAGATE and abort the whole run rather
    // than silently scheduling the remaining branches on a corrupted
    // JVM. Thread interruption records as Failed with the interrupt
    // status restored, so a cancelling caller still sees its signal.
    def runOne(id: String): Unit = {
      val task = byId(id)
      val t0 = System.currentTimeMillis()
      var attempt = 0
      var st: DagStatus = null
      while (st == null) {
        attempt += 1
        try { task.run(); st = DagStatus.Succeeded }
        catch {
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            st = DagStatus.Failed(e) // a cancellation, never re-attempted
          case scala.util.control.NonFatal(e) =>
            // Airflow's retries=N: up to N re-attempts; exhausting them
            // records the LAST error. Before a re-attempt, the task's
            // retry_delay policy waits (EtlTask.retryDelayFor); an
            // interrupt during the wait is a cancellation like an
            // interrupt during the run itself
            if (attempt > task.retries) st = DagStatus.Failed(e)
            else {
              val wait = task.retryDelayFor(attempt)
              if (wait > 0) {
                try sleep(wait)
                catch {
                  case ie: InterruptedException =>
                    Thread.currentThread().interrupt()
                    st = DagStatus.Failed(ie)
                }
              }
            }
        }
      }
      attempts(id) = attempt
      timing(id) = (t0, System.currentTimeMillis() - t0)
      status(id) = st
      completed.add(id)
    }

    val roots = ids.filter(upstream(_).isEmpty).sorted
    if (parallelism == 1) {
      // Kahn over a sorted ready set: smallest ready id runs next
      val ready = scala.collection.mutable.TreeSet(roots: _*)
      while (ready.nonEmpty) {
        val id = ready.head; ready -= id
        runOne(id)
        ready ++= readyToRun(resolveDownstream(id).sorted)
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
      val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.CountDownLatch(1)
      // first fatal error wins; it must release the latch (a dead pool
      // thread never schedules its downstreams, so without this the
      // await below would hang on an OOM instead of surfacing it)
      val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      def submit(id: String): Unit = {
        inFlight.incrementAndGet()
        pool.execute { () =>
          try {
            runOne(id)
            inFlight.decrementAndGet()
            readyToRun(resolveDownstream(id).sorted).foreach(submit)
            lock.synchronized {
              if (status.size == ids.size && inFlight.get() == 0) done.countDown()
            }
          } catch {
            case e: Throwable => fatal.compareAndSet(null, e); done.countDown()
          }
        }
      }
      roots.foreach(submit)
      lock.synchronized {
        if (status.size == ids.size && inFlight.get() == 0) done.countDown()
      }
      done.await()
      if (fatal.get() != null) { pool.shutdownNow(); throw fatal.get() }
      pool.shutdown()
    }
    // durable per-task outcome rows, ONE append for the whole run
    // (including failed and skipped tasks — the run ledger itself only
    // ever sees rows the tasks append for data that actually landed).
    // A fatal abort above leaves no DAG record: the JVM is not trusted
    // to run more Spark jobs, and the partial truth is in the tasks'
    // own ledger rows.
    record.foreach { r =>
      val rows = ids.map { id =>
        status(id) match {
          case DagStatus.Succeeded => RunLedger.DagEntry(
            r.runId, id, "succeeded", attempts(id), Nil, None, None,
            Some(timing(id)._1), Some(timing(id)._2))
          case DagStatus.Failed(e) => RunLedger.DagEntry(
            r.runId, id, "failed", attempts(id), Nil,
            Some(e.getClass.getName), Option(e.getMessage),
            Some(timing(id)._1), Some(timing(id)._2))
          case DagStatus.Skipped(blockedBy) => RunLedger.DagEntry(
            r.runId, id, "skipped", 0, blockedBy, None, None, None, None)
        }
      }
      RunLedger.appendDagRun(r.spark, r.dir, rows)
    }
    DagRun(completed.toArray(Array.empty[String]).toSeq, status.toMap)
  }
}
