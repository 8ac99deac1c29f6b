package graft

import java.sql.DriverManager
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.config.MergeMode
import graft.io.{ConnInfo, JdbcWarehouse}
import graft.merge.JournalMerge

/** Live JDBC round-trip against embedded Derby (from /opt/spark/jars):
  * exercises JdbcWarehouse read/append/truncateAppend/replace/execute,
  * DatabaseMetaData introspection (generic dialect), the partitioned
  * scan spec, the in-warehouse record-state flip, and the full+delta
  * journal merges running Spark-side against a real JDBC warehouse.
  * (The Postgres dialect's information_schema/mergeSql strings are the
  * reference contract, asserted textually in MergeSqlSpec — Derby has
  * neither information_schema nor partitioned window functions.)
  */
class JdbcSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val conn = ConnInfo(url = url, dialect = "generic",
    partitionColumn = Some("id"), numPartitions = Some(4),
    lowerBound = Some("0"), upperBound = Some("100"))
  private lazy val wh = new JdbcWarehouse(spark, conn)

  private def ddl(sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach { s => val st = c.createStatement(); try st.execute(s) finally st.close() }
    finally c.close()
  }

  override def beforeAll(): Unit = {
    ddl(
      "CREATE SCHEMA DWH",
      // Derby can't parse unquoted leading-underscore identifiers;
      // quoted-lowercase matches both Spark's dialect quoting on INSERT
      // and the quoted "__record_state" in flipRecordState
      """CREATE TABLE DWH.T (
        |  "id" INT NOT NULL PRIMARY KEY, "v" VARCHAR(64),
        |  "__transform_dt" TIMESTAMP, "__load_dt" TIMESTAMP,
        |  "__seqno" BIGINT, "__record_state" VARCHAR(1))""".stripMargin,
      """CREATE TABLE DWH.T__JOURNAL (
        |  "id" INT, "v" VARCHAR(64),
        |  "__transform_dt" TIMESTAMP, "__load_dt" TIMESTAMP,
        |  "__seqno" BIGINT, "__record_state" VARCHAR(1))""".stripMargin)
  }

  private def journalRows(rows: (Int, String, String, Long, String)*) =
    rows.toDF("id", "v", "ts", "__seqno", "__record_state")
      .withColumn("__transform_dt", org.apache.spark.sql.functions.to_timestamp($"ts"))
      .withColumn("__load_dt", $"__transform_dt")
      .drop("ts")

  test("metadata introspection: exists, columns in DDL order, primary keys") {
    assert(wh.exists("DWH", "T"))
    assert(!wh.exists("DWH", "NOPE"))
    assert(wh.columns("DWH", "T").map(_.toLowerCase) ===
      Seq("id", "v", "__transform_dt", "__load_dt", "__seqno", "__record_state"))
    assert(wh.primaryKeys("DWH", "T").map(_.toLowerCase) === Seq("id"))
  }

  test("partitioned table read plans N parallel range scans") {
    val df = wh.read("DWH", "T")
    assert(df.rdd.getNumPartitions === 4,
      s"expected 4 JDBC partitions, got ${df.rdd.getNumPartitions}")
  }

  test("append + whole-query pushdown round-trip") {
    wh.append(journalRows((1, "v1", "2024-01-01 00:00:00", 1L, "A")), "DWH", "T__JOURNAL")
    assert(wh.read("DWH", "T__JOURNAL").count() === 1)
    val pushed = wh.query("SELECT CAST(COUNT(*) AS BIGINT) AS N FROM DWH.T__JOURNAL").collect()(0).getLong(0)
    assert(pushed === 1)
  }

  test("full merge + flip run Spark-side against the JDBC warehouse") {
    assert(!wh.mergeInWarehouse) // generic dialect -> native DataFrame path
    wh.append(journalRows((1, "v2", "2024-01-02 00:00:00", 2L, "A")), "DWH", "T__JOURNAL")
    JournalMerge.run(wh, "DWH", "T", MergeMode.Full)
    val master = wh.read("DWH", "T").select("id", "v").as[(Int, String)].collect().toMap
    assert(master === Map(1 -> "v2"))
    assert(wh.read("DWH", "T__JOURNAL").where("__record_state = 'A'").count() === 0)
  }

  test("delta merge deletes changed keys, keeps others, re-flips") {
    wh.append(journalRows(
      (1, "v3", "2024-01-03 00:00:00", 3L, "A"),
      (2, "w1", "2024-01-03 00:00:00", 4L, "A")), "DWH", "T__JOURNAL")
    JournalMerge.run(wh, "DWH", "T", MergeMode.Delta)
    val master = wh.read("DWH", "T").select("id", "v").as[(Int, String)].collect().toMap
    assert(master === Map(1 -> "v3", 2 -> "w1"))
    // journal fully historical; master survives a no-op delta re-run
    JournalMerge.run(wh, "DWH", "T", MergeMode.Delta)
    assert(wh.read("DWH", "T").count() === 2)
  }

  test("EP1 live: partitioned extractDb from Derby source to the lake") {
    import graft.exec.{EtlContext, PipelineRunner}
    import graft.io.Lake
    ddl(
      """CREATE TABLE DWH.SRC ("id" INT NOT NULL PRIMARY KEY, "name" VARCHAR(32))""",
      "INSERT INTO DWH.SRC VALUES " +
        (1 to 50).map(i => s"($i, 'row$i')").mkString(", "))
    val work = SparkTestBase.tmpDir("graft_extract_jdbc")
    val connYaml =
      """url: jdbc:derby:memory:graftjdbc
        |dialect: generic
        |partition_column: id
        |num_partitions: 4
        |lower_bound: 0
        |upper_bound: 50""".stripMargin
    val ctx = EtlContext(
      spark = spark,
      lake = Lake(work),
      warehouse = wh,
      variables = Map("MAIN_FLEX_CONN" -> connYaml))
    val path = PipelineRunner.extractDb(ctx, "flex", "main", "app", "src",
      "SELECT * FROM DWH.SRC")
    assert(path === s"$work/datalake/flex/main/app/src")
    val extracted = spark.read.parquet(path)
    assert(extracted.count() === 50)
    // the partitioned-scan spec must survive into the extract read plan:
    // 4 range-bounded connections -> 4 output files
    val parts = new java.io.File(path).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 4, s"expected 4 part files from 4 JDBC partitions, got $parts")
  }

  test("delta watermark predicate is pushed into the JDBC scan (query-wrapped and partitioned)") {
    import graft.exec.{EtlContext, PipelineRunner}
    import graft.io.Lake
    // an unpushed watermark predicate would ship the FULL source table on
    // every delta pull and filter Spark-side — the silent scale killer this
    // test pins down for both reader shapes
    ddl("""CREATE TABLE DWH.PUSH ("id" INT NOT NULL PRIMARY KEY, "name" VARCHAR(8))""",
      "INSERT INTO DWH.PUSH VALUES (1,'a'), (2,'b'), (3,'c')")
    val work = SparkTestBase.tmpDir("graft_jdbc_push")
    def ctxFor(connYaml: String) = EtlContext(spark, Lake(work), wh,
      variables = Map("MAIN_FLEX_CONN" -> connYaml))
    def planFor(connYaml: String, landing: String): String = {
      val ctx = ctxFor(connYaml)
      val src = PipelineRunner.jdbcSource(ctx, "flex", "main", "SELECT * FROM DWH.PUSH")
      PipelineRunner.deltaSlice(ctx, src, PipelineRunner.DeltaSpec("id", "2"), Some(landing))
        .queryExecution.executedPlan.toString
    }
    val simple = planFor("url: jdbc:derby:memory:graftjdbc\ndialect: generic",
      s"$work/no_landing_yet")
    assert(simple.contains("PushedFilters") && simple.contains("GreaterThanOrEqual(id,2)"),
      s"query-wrapped read must push the >= watermark to the source:\n$simple")
    val partitioned = planFor(
      """url: jdbc:derby:memory:graftjdbc
        |dialect: generic
        |partition_column: id
        |num_partitions: 2
        |lower_bound: 0
        |upper_bound: 10""".stripMargin,
      s"$work/no_landing_yet")
    assert(partitioned.contains("GreaterThanOrEqual(id,2)"),
      s"partitioned (dbtable-wrapped) read must push the >= watermark:\n$partitioned")
    // with an existing landing the boundary-dedup branch still plans ONE
    // source scan, and it carries the pushed >= watermark
    Seq((2, "b")).toDF("id", "name").write.parquet(s"$work/landed")
    val dedup = planFor("url: jdbc:derby:memory:graftjdbc\ndialect: generic", s"$work/landed")
    val jdbcScans = dedup.linesIterator.filter(_.contains("Scan JDBCRelation")).toSeq
    assert(jdbcScans.size === 1, s"boundary-dedup branch must scan the source once:\n$dedup")
    assert(jdbcScans.head.contains("GreaterThanOrEqual(id,2)"),
      s"boundary-dedup branch must push the >= watermark to its source scan:\n$dedup")
  }

  test("jdbc dependency (source: greenplum) registers a live warehouse view") {
    import graft.config.Dependency
    import graft.exec.{EtlContext, PipelineRunner}
    import graft.io.Lake
    val ctx = EtlContext(spark = spark, lake = Lake("/tmp"), warehouse = wh)
    PipelineRunner.loadDependencies(ctx, Seq(Dependency(
      source = "greenplum", format = "jdbc", alias = "src_view",
      sourceSystemName = Some("x"), sourceSystemTag = Some("y"),
      schema = Some("DWH"), tableName = Some("SRC"))))
    assert(spark.sql("SELECT count(*) AS n FROM src_view").collect()(0).getLong(0) === 50)
  }

  test("extraOptions flow through to live JDBC reads and writes") {
    // a benign Spark-JDBC option proves the passthrough plumbing works
    // end-to-end on a live connection (Oracle's mapDateToTimestamp rides
    // the same path; asserted unit-side in ConfigSpec — no Oracle here)
    val tuned = new JdbcWarehouse(spark, ConnInfo(url = url, dialect = "generic",
      extraOptions = Map("isolationLevel" -> "READ_COMMITTED", "numPartitions" -> "2")))
    tuned.append(journalRows((77, "opt", "2024-03-01 00:00:00", 77L, "A")), "DWH", "T__JOURNAL")
    val back = tuned.read("DWH", "T__JOURNAL").where($"id" === 77)
    assert(back.count() === 1)
  }

  test("replace swaps content transactionally (staging + single-commit)") {
    ddl("""CREATE TABLE DWH.RT ("id" INT, "v" VARCHAR(16))""")
    wh.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), "DWH", "RT")
    // replace with a plan READING the table being replaced (the delta-
    // merge shape): must materialize via staging before the truncate
    val doubled = wh.read("DWH", "RT")
      .withColumn("v", org.apache.spark.sql.functions.concat($"v", $"v"))
    wh.replace(doubled, "DWH", "RT")
    val after = wh.read("DWH", "RT").as[(Int, String)].collect().toMap
    assert(after === Map(1 -> "aa", 2 -> "bb"))
    // staging table cleaned up inside the same transaction
    assert(!wh.exists("DWH", "RT__graft_stg") && !wh.exists("DWH", "RT__GRAFT_STG"))
  }

  test("truncateAppend preserves DDL and replaces content") {
    wh.truncateAppend(journalRows((9, "only", "2024-02-01 00:00:00", 9L, "H")),
      "DWH", "T__JOURNAL")
    val j = wh.read("DWH", "T__JOURNAL").select("id").as[Int].collect().toSeq
    assert(j === Seq(9))
  }
}
