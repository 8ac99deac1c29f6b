package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.config._
import graft.exec.{EtlContext, Tasks}
import graft.io.{FileWarehouse, Lake}

/** Scheduler-invocation surface: task-id parity with the reference's
  * Airflow factories and the RunTask CLI end-to-end (the DAG-node →
  * spark-submit mapping).
  */
class TasksSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private def write(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), text)
  }

  test("task ids reproduce the reference naming (lowercased; folder slashes -> underscores)") {
    // airflow_etl.py:505-514 / :759-761
    assert(Tasks.extractTaskId("Flexcube", "MAIN", "Accounts", ReadMode.Full)
      === "task_extract_flexcube_main_accounts_full")
    assert(Tasks.extractTaskId("pg", "prod", "t", ReadMode.Delta)
      === "task_extract_pg_prod_t_delta")
    assert(Tasks.transformTaskId("dwh/orders", ReadMode.Full)
      === "task_transform_dwh_orders_full")
    assert(Tasks.transformTaskId("dm/sales/daily", ReadMode.Manual)
      === "task_transform_dm_sales_daily_manual")
  }

  test("transform task factory fails at BUILD time without a config repository") {
    val ctx = EtlContext(spark, Lake("/nowhere"),
      new FileWarehouse(spark, SparkTestBase.tmpDir("graft_tasks_wh0")))
    val e = intercept[ConfigException](Tasks.transformDb(ctx, "dwh/orders"))
    assert(e.getMessage.contains("sqlRoot"))
  }

  test("RunTask transform: DAG-node invocation runs config.yaml to a merged master") {
    val work = SparkTestBase.tmpDir("graft_runtask")
    // config repository: <sqlRoot>/dwh/seg/config.yaml + step sql
    write(s"$work/repo/dwh/seg", "seg.sql",
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  TIMESTAMP '{report_date} 00:00:00' AS __transform_dt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __load_dt,
        |  CAST(0 AS BIGINT) AS __seqno, 'A' AS __record_state
        |FROM cust GROUP BY c_mktsegment""".stripMargin)
    write(s"$work/repo/dwh/seg", "config.yaml",
      """- dependencies:
        |    - source: datalake
        |      format: parquet
        |      alias: cust
        |      path: sf0.001/customer.parquet
        |  transform:
        |    full:
        |      - type: select
        |        sql: seg.sql
        |        parameters:
        |          - name: report_date
        |            type: report_date
        |  target:
        |    target_schema: dwh
        |    target_table_name: seg_counts""".stripMargin)
    new FileWarehouse(spark, s"$work/wh")
      .registerPrimaryKey("dwh", "seg_counts", Seq("c_mktsegment"))
    val env = Map(
      "GRAFT_SQL_ROOT" -> s"$work/repo",
      "GRAFT_LAKE" -> "/root/testdata",
      "GRAFT_WAREHOUSE" -> s"$work/wh",
      "REPORT_DATE" -> "1998-09-01")
    val id = RunTask.run(spark, List("transform", "dwh/seg"), env)
    assert(id === "task_transform_dwh_seg_full")
    val master = new FileWarehouse(spark, s"$work/wh").read("dwh", "seg_counts")
    assert(master.count() > 0 && master.columns.contains("c_mktsegment"))
  }

  test("RunTask extract: JDBC source to lake path with reference write-mode defaulting") {
    val url = "jdbc:derby:memory:graftrtask;create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE APP.SRC ("id" INT NOT NULL PRIMARY KEY, "v" VARCHAR(8))""")
      st.execute("INSERT INTO APP.SRC VALUES (1,'a'), (2,'b'), (3,'c')")
      st.close()
    } finally c.close()
    val work = SparkTestBase.tmpDir("graft_runtask_ex")
    write(s"$work/repo", "src-full.sql", "SELECT * FROM APP.SRC")
    val env = Map(
      "GRAFT_SQL_ROOT" -> s"$work/repo",
      "GRAFT_LAKE" -> s"$work/lake",
      "GRAFT_WAREHOUSE" -> s"$work/wh",
      "MAIN_FLEX_CONN" -> "url: jdbc:derby:memory:graftrtask\ndialect: generic")
    val id = RunTask.run(spark,
      List("extract", "FLEX", "MAIN", "app", "SRC", "--query", "src-full.sql"), env)
    assert(id === "task_extract_flex_main_src_full")
    // lake path uses the lowercased convention (airflow_etl.py:433-439)
    val extracted = spark.read.parquet(s"$work/lake/datalake/flex/main/app/src")
    assert(extracted.count() === 3)
  }

  test("tracked delta extract: bootstrap, boundary dedup, late same-valued commit, durable marks") {
    val url = "jdbc:derby:memory:graftwm;create=true"
    def exec(sql: String*): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    // watermark column "ts" is deliberately NOT the PK: a late commit can
    // share the mark value with already-landed rows (same-second commits)
    exec("""CREATE TABLE APP.INC ("id" INT NOT NULL PRIMARY KEY, "ts" INT, "v" VARCHAR(8))""",
      "INSERT INTO APP.INC VALUES (1,1,'a'), (2,2,'b'), (3,3,'c')")
    val work = SparkTestBase.tmpDir("graft_wm")
    val ctx = EtlContext(spark, Lake(s"$work/lake"),
      new FileWarehouse(spark, s"$work/wh"),
      variables = Map("MAIN_FLEX_CONN" -> "url: jdbc:derby:memory:graftwm\ndialect: generic"))
    val task = Tasks.extractDbTracked(ctx, "FLEX", "MAIN", "app", "inc",
      "SELECT * FROM APP.INC", "ts")
    assert(task.id === "task_extract_flex_main_inc_delta")
    val wm = graft.io.Watermarks(s"$work/lake")
    val lakePath = s"$work/lake/datalake/flex/main/app/inc"
    def landedIds: Seq[Int] =
      spark.read.parquet(lakePath).select("id").as[Int].collect().sorted.toSeq

    task.run() // bootstrap: no mark -> full read, overwrite landing
    assert(landedIds === Seq(1, 2, 3))
    assert(wm.get(spark, "flex/main/app/inc") === Some("3"))

    exec("INSERT INTO APP.INC VALUES (4,4,'d'), (5,5,'e')")
    task.run() // delta ts >= 3: boundary row 3 re-extracted but dedup'd at landing
    assert(landedIds === Seq(1, 2, 3, 4, 5),
      "delta run lands every new row exactly once — the re-extracted boundary " +
        "row is anti-joined away")
    assert(wm.get(spark, "flex/main/app/inc") === Some("5"))

    task.run() // steady-state no-op: NOTHING lands, mark untouched
    assert(landedIds === Seq(1, 2, 3, 4, 5),
      "a no-op run must not grow the landing (the round-7 inclusive-boundary leak)")
    assert(wm.get(spark, "flex/main/app/inc") === Some("5"))

    // late commit AT the mark value (same-second timestamp): must land —
    // the at-least-once half of the inclusive-boundary contract
    exec("INSERT INTO APP.INC VALUES (6,5,'f')")
    task.run()
    assert(landedIds === Seq(1, 2, 3, 4, 5, 6),
      "a late commit sharing the mark value must not be silently lost")
    assert(wm.get(spark, "flex/main/app/inc") === Some("5"))

    exec("INSERT INTO APP.INC VALUES (7,6,'g')")
    task.run() // normal advance past the crowded boundary
    assert(landedIds === Seq(1, 2, 3, 4, 5, 6, 7))
    assert(wm.get(spark, "flex/main/app/inc") === Some("6"))
  }

  test("run ledger: every completed run appends ONE row with landed counts; RunTask echoes it") {
    import graft.exec.RunLedger
    val url = "jdbc:derby:memory:graftledger;create=true"
    def exec(sql: String*): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    exec("""CREATE TABLE APP.LED ("id" INT NOT NULL PRIMARY KEY, "ts" INT, "v" VARCHAR(8))""",
      "INSERT INTO APP.LED VALUES (1,1,'a'), (2,2,'b'), (3,3,'c')")
    val work = SparkTestBase.tmpDir("graft_ledger")
    val ctx = EtlContext(spark, Lake(s"$work/lake"),
      new FileWarehouse(spark, s"$work/wh"),
      variables = Map("MAIN_FLEX_CONN" -> "url: jdbc:derby:memory:graftledger\ndialect: generic"),
      dumpDir = s"$work/dump")
    val task = Tasks.extractDbTracked(ctx, "FLEX", "MAIN", "app", "led",
      "SELECT * FROM APP.LED", "ts")
    val dir = RunLedger.dirFor(ctx)

    task.run() // bootstrap: full read, 3 rows
    val l1 = RunLedger.read(spark, dir).collect()
    assert(l1.length === 1, "one completed run = exactly one ledger row")
    assert(l1(0).getAs[String]("task_id") === task.id)
    assert(l1(0).getAs[String]("kind") === "extract")
    assert(l1(0).getAs[Long]("rows_out") === 3L)
    assert(l1(0).getAs[String]("landed_path").endsWith("/lake/datalake/flex/main/app/led"))
    assert(l1(0).isNullAt(l1(0).fieldIndex("watermark")),
      "the bootstrap full read carries no watermark")
    assert(l1(0).getAs[Long]("wall_ms") >= 0L)

    exec("INSERT INTO APP.LED VALUES (4,4,'d'), (5,5,'e')")
    task.run() // delta ts >= 3: 2 genuinely new rows land (boundary dedup'd)
    val l2 = RunLedger.read(spark, dir).collect() // newest first
    assert(l2.length === 2, "a re-run appends, never overwrites (run history)")
    assert(l2(0).getAs[Long]("rows_out") === 2L,
      "rows_out is what actually landed after boundary dedup, not what was extracted")
    assert(l2(0).getAs[String]("watermark") === "ts >= 3")

    // the CLI echo renders the same newest row
    val line = RunTask.ledgerLine(ctx, task.id)
    assert(line.exists(s => s.contains(s"task_id=${task.id}") &&
      s.contains("rows_out=2") && s.contains("watermark=ts >= 3")),
      s"unexpected ledger echo: $line")
  }

  test("watermark advance reads only the newly-landed files (O(delta), not O(history))") {
    import graft.exec.PipelineRunner
    val work = SparkTestBase.tmpDir("graft_wm_files")
    // two separately-written files; the "old history" file holds the LARGER
    // ts — if maxOverFiles read anything beyond the given files, the result
    // would be 100, not 5
    Seq((1, 100)).toDF("id", "ts").coalesce(1).write.parquet(s"$work/t")
    val before = PipelineRunner.dataFiles(spark, s"$work/t")
    assert(before.size === 1)
    Seq((2, 5)).toDF("id", "ts").coalesce(1).write.mode("append").parquet(s"$work/t")
    val newFiles = (PipelineRunner.dataFiles(spark, s"$work/t") -- before).toSeq
    assert(newFiles.size === 1)
    assert(PipelineRunner.maxOverFiles(spark, newFiles, "ts") === Some("5"))
    assert(PipelineRunner.maxOverFiles(spark, Nil, "ts") === None)
  }

  test("watermarks: traversal keys rejected; swap-write survives a stale temp") {
    val work = SparkTestBase.tmpDir("graft_wm_safety")
    val wm = graft.io.Watermarks(s"$work/lake")
    intercept[IllegalArgumentException](wm.get(spark, "../../escape"))
    intercept[IllegalArgumentException](wm.set(spark, "/abs/key", "1"))
    intercept[IllegalArgumentException](wm.get(spark, "a//b"))
    // a temp left by a crashed writer must not break the next set; the
    // committed value is whole and the temp is gone afterwards
    wm.set(spark, "sys/tag/sch/t", "41")
    val dir = Paths.get(s"$work/lake/_watermarks/sys/tag/sch")
    Files.writeString(dir.resolve(".t.tmp"), "torn")
    wm.set(spark, "sys/tag/sch/t", "42")
    assert(wm.get(spark, "sys/tag/sch/t") === Some("42"))
    assert(!Files.exists(dir.resolve(".t.tmp")))
  }

  test("RunTask production defaults pin AQE coalescing + skew-join ON") {
    // cluster posture, asserted (not trusted to Spark-version defaults):
    // runtime re-plan is the pipeline path's skew/sizing answer, the
    // salted operators the deterministic alternative
    val d = RunTask.sessionDefaults.toMap
    assert(d("spark.sql.adaptive.enabled") === "true")
    assert(d("spark.sql.adaptive.coalescePartitions.enabled") === "true")
    assert(d("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(d.contains("spark.sql.shuffle.partitions") &&
      d("spark.sql.session.timeZone") === "UTC")
  }

  test("AQE under RunTask.sessionDefaults actually splits a skewed join (plan-level, not conf-level)") {
    // the conf test above pins the WIRING; this pins the BEHAVIOR: a
    // crafted hot-key join executed under the production defaults must
    // show skew=true in the final adaptive plan, so the conf can't rot
    // into a no-op (renamed key, AQE silently disabled upstream, ...)
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val keys = RunTask.sessionDefaults.map(_._1) ++ Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> scala.util.Try(conf.get(k)).toOption)
    try {
      RunTask.sessionDefaults.foreach { case (k, v) => conf.set(k, v) }
      // shrink the skew thresholds to test scale: one ~6 MB hot
      // partition among KB-sized ones is "skewed" the same way one
      // 6 GB partition among MB-sized ones is in production
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
      // the pad must SURVIVE column pruning (it's aggregated below) and
      // resist shuffle compression (hex digests), or the hot partition's
      // shuffle bytes fall under the skew threshold and nothing splits
      val left = spark.range(0, 100000).select(
        when(col("id") < 95000, 0L).otherwise(col("id") % 37 + 1).as("k"),
        sha2(col("id").cast("string"), 256).as("pad"))
      val right = spark.range(0, 40).toDF("k")
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      // every left key (0 and 1..37) matches exactly one right row.
      // collect() on `joined` ITSELF: the skew split only exists in the
      // final adaptive plan of the executed QueryExecution
      assert(joined.collect()(0).getLong(0) === 100000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected the adaptive plan to take the skew-split path:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("runDag: diamond runs in topological order, deterministic by id among ready tasks") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def t(id: String) = EtlTask(id, () => ran.synchronized { ran += id; () })
    val run = Tasks.runDag(
      Seq(t("d"), t("b"), t("c"), t("a")),
      deps = Map("b" -> Seq("a"), "c" -> Seq("a"), "d" -> Seq("b", "c")))
    assert(run.succeeded)
    assert(run.status.values.forall(_ == DagStatus.Succeeded))
    assert(ran.toSeq === Seq("a", "b", "c", "d"),
      "sequential mode starts ready tasks in id order")
    assert(run.completionOrder === Seq("a", "b", "c", "d"))
  }

  test("runDag: a failed task blocks exactly its descendants; other branches finish") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def ok(id: String) = EtlTask(id, () => ran.synchronized { ran += id; () })
    val boom = EtlTask("b", () => throw new RuntimeException("b exploded"))
    // a -> {b, c}; b -> d; {c, d} -> e : b's failure must skip d and e
    // (e names d, its NEAREST blocked upstream), while c still runs
    val run = Tasks.runDag(
      Seq(ok("a"), boom, ok("c"), ok("d"), ok("e")),
      deps = Map("b" -> Seq("a"), "c" -> Seq("a"),
        "d" -> Seq("b"), "e" -> Seq("c", "d")))
    assert(!run.succeeded)
    assert(ran.toSeq === Seq("a", "c"), "independent branch must still run")
    assert(run.status("a") === DagStatus.Succeeded)
    assert(run.status("c") === DagStatus.Succeeded)
    run.status("b") match {
      case DagStatus.Failed(e) => assert(e.getMessage === "b exploded")
      case other => fail(s"b should be Failed, got $other")
    }
    assert(run.status("d") === DagStatus.Skipped(Seq("b")))
    assert(run.status("e") === DagStatus.Skipped(Seq("d")))
    assert(!run.completionOrder.contains("d") && !run.completionOrder.contains("e"))
  }

  test("runDag: fatal JVM errors propagate and abort the run (serial and parallel)") {
    import graft.exec.{EtlTask, Tasks}
    // synthetic OOM — nothing actually allocates; the scheduler must
    // NOT convert it to DagStatus.Failed and keep running branches
    def fatal = EtlTask("f", () => throw new OutOfMemoryError("synthetic"))
    def ok(id: String) = EtlTask(id, () => ())
    intercept[OutOfMemoryError] {
      Tasks.runDag(Seq(fatal, ok("z")), deps = Map("z" -> Seq("f")))
    }
    intercept[OutOfMemoryError] {
      Tasks.runDag(Seq(fatal, ok("z")), deps = Map("z" -> Seq("f")),
        parallelism = 2)
    }
  }

  test("runDag: InterruptedException records Failed with the interrupt flag restored") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    val run = Tasks.runDag(Seq(
      EtlTask("i", () => throw new InterruptedException("cancelled"))))
    // Thread.interrupted() both asserts the restored flag AND clears it
    // so later tests on this thread are unaffected
    assert(Thread.interrupted(), "interrupt status must be restored")
    run.status("i") match {
      case DagStatus.Failed(e) => assert(e.isInstanceOf[InterruptedException])
      case other => fail(s"expected Failed(InterruptedException), got $other")
    }
  }

  test("runDag: retries — a flaky task succeeding on a re-attempt unblocks its descendants") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    def flaky(failsFirst: Int, retries: Int) = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      EtlTask("a", () => {
        if (n.incrementAndGet() <= failsFirst)
          throw new RuntimeException(s"flake ${n.get()}")
      }, retries = retries)
    }
    // 2 failed attempts inside a retries=2 budget: plainly Succeeded,
    // downstream runs as if nothing happened (Airflow's contract)
    val ok = Tasks.runDag(Seq(flaky(2, 2), EtlTask("b", () => ())),
      deps = Map("b" -> Seq("a")))
    assert(ok.succeeded)
    assert(ok.completionOrder === Seq("a", "b"))
    // budget exhausted: Failed with the LAST attempt's error, skips cascade
    val bad = Tasks.runDag(Seq(flaky(2, 1), EtlTask("b", () => ())),
      deps = Map("b" -> Seq("a")))
    assert(!bad.succeeded)
    bad.status("a") match {
      case DagStatus.Failed(e) => assert(e.getMessage === "flake 2")
      case other => fail(s"expected Failed, got $other")
    }
    assert(bad.status("b") === DagStatus.Skipped(Seq("a")))
    // negative retries rejected at build time
    intercept[IllegalArgumentException] {
      Tasks.runDag(Seq(EtlTask("x", () => (), retries = -1)))
    }
  }

  test("runDag: retry_delay waits between re-attempts and descendants still unblock") {
    import graft.exec.{EtlTask, Tasks}
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = EtlTask("a", () => {
      if (n.incrementAndGet() <= 2) throw new RuntimeException("flake")
    }, retries = 2, retryDelayMs = 100)
    val run = Tasks.runDag(Seq(flaky, EtlTask("b", () => ())),
      deps = Map("b" -> Seq("a")), sleep = waits += _)
    assert(run.succeeded, "the delayed retry still succeeds the task")
    assert(run.completionOrder === Seq("a", "b"),
      "descendants unblock after the delayed success")
    assert(waits.toSeq === Seq(100L, 100L),
      "a flat retry_delay waits once before EACH re-attempt, never after the last")
    // zero delay: the wait primitive is never invoked
    waits.clear()
    val n2 = new java.util.concurrent.atomic.AtomicInteger(0)
    Tasks.runDag(Seq(EtlTask("a", () => {
      if (n2.incrementAndGet() <= 1) throw new RuntimeException("flake")
    }, retries = 1)), sleep = waits += _)
    assert(waits.isEmpty, "retryDelayMs = 0 must not touch the sleeper")
    // negative delay rejected at build time
    intercept[IllegalArgumentException] {
      Tasks.runDag(Seq(EtlTask("x", () => (), retryDelayMs = -1)))
    }
  }

  test("runDag: exponential backoff doubles per re-attempt, capped at max_retry_delay") {
    import graft.exec.{EtlTask, Tasks}
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val task = EtlTask("a", () => {
      if (n.incrementAndGet() <= 4) throw new RuntimeException("flake")
    }, retries = 4, retryDelayMs = 100, retryExponentialBackoff = true,
      maxRetryDelayMs = Some(300))
    assert(Tasks.runDag(Seq(task), sleep = waits += _).succeeded)
    assert(waits.toSeq === Seq(100L, 200L, 300L, 300L),
      "backoff doubles from retry_delay and saturates at max_retry_delay")
    // deep backoff saturates in double math instead of overflowing
    assert(EtlTask("x", () => (), retryDelayMs = 100,
      retryExponentialBackoff = true).retryDelayFor(80) > 0)
  }

  test("runDag: an interrupt during the retry wait is a cancellation, not a re-attempt") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = EtlTask("a", () => {
      n.incrementAndGet(); throw new RuntimeException("flake")
    }, retries = 3, retryDelayMs = 50)
    val run = Tasks.runDag(Seq(flaky, EtlTask("b", () => ())),
      deps = Map("b" -> Seq("a")),
      sleep = _ => throw new InterruptedException("cancelled"))
    assert(Thread.interrupted(), // reads AND clears, so later tests stay clean
      "the interrupt status must be restored for the cancelling caller")
    assert(n.get() === 1, "no attempt runs after the cancellation")
    run.status("a") match {
      case DagStatus.Failed(e) => assert(e.isInstanceOf[InterruptedException])
      case other => fail(s"expected Failed(InterruptedException), got $other")
    }
    assert(run.status("b") === DagStatus.Skipped(Seq("a")))
  }

  test("runDag + DagRecord: one durable outcome row per task, incl. failures and skips") {
    import graft.exec.{DagRecord, EtlTask, RunLedger, Tasks}
    val dir = SparkTestBase.tmpDir("graft_dag_record") + "/_graft_dag_runs"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky = EtlTask("f", () => {
      if (n.incrementAndGet() <= 1) throw new IllegalStateException("first attempt dies")
    }, retries = 1)
    val run = Tasks.runDag(
      Seq(EtlTask("a", () => ()), flaky,
        EtlTask("b", () => throw new RuntimeException("b exploded")),
        EtlTask("d", () => ())),
      deps = Map("f" -> Seq("a"), "b" -> Seq("a"), "d" -> Seq("b")),
      record = Some(DagRecord(spark, dir, "run-1")))
    assert(!run.succeeded)
    val rows = RunLedger.readDagRuns(spark, dir)
      .select("run_id", "task_id", "status", "attempts", "blocked_by",
        "error_class", "error_msg")
      .as[(String, String, String, Int, Seq[String], Option[String], Option[String])]
      .collect().sortBy(_._2).toSeq
    assert(rows === Seq(
      ("run-1", "a", "succeeded", 1, Nil, None, None),
      ("run-1", "b", "failed", 1, Nil,
        Some("java.lang.RuntimeException"), Some("b exploded")),
      ("run-1", "d", "skipped", 0, Seq("b"), None, None),
      ("run-1", "f", "succeeded", 2, Nil, None, None)))
    // ran tasks carry timing; skipped tasks carry none
    val timed = RunLedger.readDagRuns(spark, dir)
      .select("task_id", "started_ms", "wall_ms")
      .as[(String, Option[Long], Option[Long])].collect()
      .map(t => t._1 -> (t._2.isDefined && t._3.isDefined)).toMap
    assert(timed === Map("a" -> true, "b" -> true, "d" -> false, "f" -> true))
    // a second run APPENDS — the table is history, not state
    Tasks.runDag(Seq(EtlTask("a", () => ())),
      record = Some(DagRecord(spark, dir, "run-2")))
    assert(RunLedger.readDagRuns(spark, dir).count() === 5)
  }

  test("runDag: parallelism > 1 genuinely overlaps independent tasks") {
    import graft.exec.{EtlTask, Tasks}
    // both tasks block until BOTH have started — completes only if the
    // pool really runs them concurrently (sequential mode would deadlock,
    // so this is run with a timeout latch and asserted, not awaited forever)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def t(id: String) = EtlTask(id, () => {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS); ()
    })
    val run = Tasks.runDag(Seq(t("x"), t("y")), parallelism = 2)
    assert(run.succeeded, s"expected concurrent execution, got ${run.status}")
  }

  test("runDag: duplicate ids, unknown deps, and cycles fail fast before anything runs") {
    import graft.exec.{EtlTask, Tasks}
    var ranAny = false
    def t(id: String) = EtlTask(id, () => { ranAny = true })
    val dup = intercept[IllegalArgumentException](
      Tasks.runDag(Seq(t("a"), t("a"))))
    assert(dup.getMessage.contains("duplicate"))
    val unknown = intercept[IllegalArgumentException](
      Tasks.runDag(Seq(t("a")), deps = Map("a" -> Seq("ghost"))))
    assert(unknown.getMessage.contains("ghost"))
    val cycle = intercept[IllegalArgumentException](
      Tasks.runDag(Seq(t("a"), t("b")),
        deps = Map("a" -> Seq("b"), "b" -> Seq("a"))))
    assert(cycle.getMessage.contains("cycle"))
    assert(!ranAny, "validation failures must precede any task run")
    assert(Tasks.runDag(Nil).succeeded, "an empty DAG is a successful no-op")
  }

  test("runDag: duplicate dep entries collapse to one edge — the task runs once") {
    import graft.exec.{EtlTask, Tasks}
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    val a = EtlTask("a", () => ())
    val d = EtlTask("d", () => { runs.incrementAndGet(); () })
    for (par <- Seq(1, 2)) {
      runs.set(0)
      val run = Tasks.runDag(Seq(a, d),
        deps = Map("d" -> Seq("a", "a")), parallelism = par)
      assert(run.succeeded)
      assert(runs.get() === 1,
        s"parallelism=$par: a duplicate upstream entry must not double-run d")
      assert(run.completionOrder === Seq("a", "d"))
    }
  }

  test("runDag: a deep chain and a deep skip cascade complete without stack growth") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    // 10k-deep linear chain: the old recursive scheduler overflowed the
    // stack at this depth (schedule -> run -> finish -> schedule ...)
    val n = 10000
    val ids = (0 until n).map(i => f"t$i%05d")
    val tasks = ids.map(id => EtlTask(id, () => ()))
    val chain = ids.zip(ids.tail).map { case (u, d) => d -> Seq(u) }.toMap
    val run = Tasks.runDag(tasks, deps = chain)
    assert(run.succeeded)
    assert(run.completionOrder === ids)
    // same chain with a failing root: every descendant skips, naming the
    // nearest blocked upstream — a 10k-deep cascade, zero stack frames
    val boom = EtlTask(ids.head, () => throw new RuntimeException("root down"))
    val run2 = Tasks.runDag(boom +: tasks.tail, deps = chain)
    assert(!run2.succeeded)
    assert(run2.completionOrder === Seq(ids.head),
      "only the failed root physically ran; 9999 descendants skipped")
    ids.zip(ids.tail).foreach { case (u, d) =>
      assert(run2.status(d) === DagStatus.Skipped(Seq(u)))
    }
  }

  test("runDag + ledger: a diamond of real extracts leaves one ledger row per succeeded task") {
    import graft.exec.{DagStatus, RunLedger, Tasks}
    val url = "jdbc:derby:memory:graftdag;create=true"
    def exec(sql: String*): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); sql.foreach(st.execute); st.close() }
      finally c.close()
    }
    exec(
      """CREATE TABLE APP.T1 ("id" INT NOT NULL PRIMARY KEY, "ts" INT)""",
      "INSERT INTO APP.T1 VALUES (1,1), (2,2)",
      """CREATE TABLE APP.T2 ("id" INT NOT NULL PRIMARY KEY, "ts" INT)""",
      "INSERT INTO APP.T2 VALUES (1,1)",
      """CREATE TABLE APP.T3 ("id" INT NOT NULL PRIMARY KEY, "ts" INT)""",
      "INSERT INTO APP.T3 VALUES (1,1), (2,2), (3,3)")
    val work = SparkTestBase.tmpDir("graft_dag_ledger")
    val ctx = EtlContext(spark, Lake(s"$work/lake"),
      new FileWarehouse(spark, s"$work/wh"),
      variables = Map("MAIN_FLEX_CONN" -> "url: jdbc:derby:memory:graftdag\ndialect: generic"),
      dumpDir = s"$work/dump")
    def ex(table: String) = Tasks.extractDbTracked(ctx, "FLEX", "MAIN",
      "app", table, s"SELECT * FROM APP.${table.toUpperCase}", "ts")
    val (t1, t2, t3) = (ex("t1"), ex("t2"), ex("t3"))
    // t3 only lands after both upstreams (a real "merge inputs" shape)
    val run = Tasks.runDag(Seq(t1, t2, t3),
      deps = Map(t3.id -> Seq(t1.id, t2.id)))
    assert(run.succeeded)
    val ledger = RunLedger.read(spark, RunLedger.dirFor(ctx)).collect()
    assert(ledger.length === 3, "one ledger row per succeeded task")
    assert(ledger.map(_.getAs[String]("task_id")).toSet ===
      Set(t1.id, t2.id, t3.id))
    // a failing upstream leaves NO new ledger rows for its descendants
    val boom = graft.exec.EtlTask("task_extract_flex_main_boom_delta",
      () => throw new RuntimeException("boom"))
    val run2 = Tasks.runDag(Seq(boom, ex("t1")),
      deps = Map(t1.id -> Seq(boom.id)))
    assert(!run2.succeeded)
    assert(run2.status(t1.id).isInstanceOf[DagStatus.Skipped])
    assert(RunLedger.read(spark, RunLedger.dirFor(ctx)).count() === 3,
      "failed/skipped tasks must not append ledger rows")
  }

  private def ledgerEntry(id: String, i: Int) = graft.exec.RunLedger.Entry(
    id, "extract", Seq(s"src_$i"), None, rows_out = i.toLong,
    landed_path = s"/lake/t$i", started_ms = 1000L * i, wall_ms = 5L)

  private def dagEntry(id: String, i: Int) = graft.exec.RunLedger.DagEntry(
    "run", id, "succeeded", 1, Nil, None, None, Some(1000L * i), Some(5L))

  test("ledger: concurrent runDag tasks append into one dir — every append lands, one row each") {
    import graft.exec.{DagStatus, EtlTask, RunLedger, Tasks}
    val work = SparkTestBase.tmpDir("graft_ledger_concurrent")
    val (dir, dagDir) = (s"$work/led", s"$work/dag")
    val rounds = 5
    val perRound = 8
    (1 to rounds).foreach { r =>
      // the barrier lines up each batch of four pool threads so their
      // appends really overlap
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val tasks = (1 to perRound).map { i =>
        val id = s"r${r}_t$i"
        EtlTask(id, () => {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          RunLedger.append(spark, dir, ledgerEntry(id, i))
          RunLedger.appendDagRun(spark, dagDir, Seq(dagEntry(id, i)))
        })
      }
      val run = Tasks.runDag(tasks, parallelism = 4)
      assert(run.succeeded, s"round $r: " + run.status.collect {
        case (id, DagStatus.Failed(e)) => s"$id: $e"
      }.mkString("; "))
    }
    val expected = for (r <- 1 to rounds; i <- 1 to perRound) yield s"r${r}_t$i"
    val ids = RunLedger.read(spark, dir).select("task_id").as[String].collect().sorted.toSeq
    assert(ids === expected.sorted, "exactly one ledger row per append")
    val dagIds = RunLedger.readDagRuns(spark, dagDir).select("task_id").as[String]
      .collect().sorted.toSeq
    assert(dagIds === expected.sorted, "exactly one DAG-record row per append")
  }

  test("ledger: an append runs no Spark job") {
    import graft.exec.RunLedger
    val dir = SparkTestBase.tmpDir("graft_ledger_nojob") + "/led"
    assert(SparkTestBase.jobsDuring {
      RunLedger.append(spark, dir, ledgerEntry("t", 1))
      RunLedger.appendDagRun(spark, s"$dir-dag", Seq(dagEntry("t", 1), dagEntry("u", 2)))
    } === 0, "the appends must launch no job")
    assert(RunLedger.read(spark, dir).count() === 1)
    assert(RunLedger.readDagRuns(spark, s"$dir-dag").count() === 2)
  }

  test("ledger: hidden in-progress residue of a crashed append is ignored by read") {
    import graft.exec.RunLedger
    val work = SparkTestBase.tmpDir("graft_ledger_residue")
    def withResidue(dir: String): Unit = Files.write(
      Paths.get(dir, ".part-00000-x-c000.snappy.parquet.inprogress"),
      "not a parquet file".getBytes("UTF-8"))
    def parquetFiles(dir: String) = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    // a clean dir and one with residue, same appends
    Seq("clean", "crashed").foreach { name =>
      (1 to 3).foreach { i =>
        RunLedger.append(spark, s"$work/$name/led", ledgerEntry(s"t$i", i))
        RunLedger.appendDagRun(spark, s"$work/$name/dag", Seq(dagEntry(s"t$i", i)))
      }
    }
    withResidue(s"$work/crashed/led")
    withResidue(s"$work/crashed/dag")
    def ledgerRows(name: String) = RunLedger.read(spark, s"$work/$name/led")
      .select("task_id", "rows_out").as[(String, Long)].collect().toSeq
    def dagRows(name: String) = RunLedger.readDagRuns(spark, s"$work/$name/dag")
      .select("task_id", "started_ms").as[(String, Option[Long])].collect().toSeq
    assert(ledgerRows("crashed") === ledgerRows("clean"))
    assert(dagRows("crashed") === dagRows("clean"))
    assert(ledgerRows("crashed").map(_._1) === Seq("t3", "t2", "t1"))
    assert(parquetFiles(s"$work/crashed/led") === 3)
  }

  test("RunTask rejects malformed invocations with actionable errors") {
    val env = Map("GRAFT_LAKE" -> "/x", "GRAFT_WAREHOUSE" -> "/x")
    val usage = intercept[ConfigException](RunTask.run(spark, List("frobnicate"), env))
    assert(usage.getMessage.contains("usage:"))
    val noEnv = intercept[ConfigException](
      RunTask.run(spark, List("transform", "t"), Map("GRAFT_LAKE" -> "/x")))
    assert(noEnv.getMessage.contains("GRAFT_WAREHOUSE"))
    val noQuery = intercept[ConfigException](
      RunTask.run(spark, List("extract", "s", "t", "sch", "tbl"), env))
    assert(noQuery.getMessage.contains("--query"))
    val dangling = intercept[ConfigException](
      RunTask.run(spark, List("transform", "t", "--read"), env))
    assert(dangling.getMessage.contains("--read"))
  }
}
