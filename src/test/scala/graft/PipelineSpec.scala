package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.config._
import graft.exec.{EtlContext, PipelineRunner, StepRunner}
import graft.io.{FileWarehouse, Lake}

/** EP2 end-to-end over files on disk: config.yaml + sql files →
  * dependency views → param-filled steps (with cache) → journal write →
  * merge. Mirrors the reference transform lifecycle
  * (airflow_etl.py:669-734).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def write(dir: String, name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), text)
  }

  private def mkCtx(): (EtlContext, FileWarehouse, String) = {
    val work = SparkTestBase.tmpDir("graft_pipe")
    val wh = new FileWarehouse(spark, s"$work/wh")
    val ctx = EtlContext(
      spark = spark,
      lake = Lake("/root/testdata"),
      warehouse = wh,
      variables = Map("REPORT_DATE" -> "1998-09-01"),
      sqlRoot = Some(s"$work/sql"),
      dumpDir = s"$work/dump",
      fns = Map("tag_fn" -> ((s, _) => {
        Some(s.table("step1_view").withColumn("tagged", lit(true)))
      })))
    (ctx, wh, work)
  }

  test("full pipeline: deps -> param sql step w/ cache -> journal -> full merge") {
    val (ctx, wh, work) = mkCtx()
    wh.registerPrimaryKey("dwh", "flag_summary", Seq("l_returnflag", "l_linestatus"))
    write(s"$work/sql", "step1.sql",
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(*) AS cnt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __transform_dt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __load_dt,
        |  CAST(0 AS BIGINT) AS __seqno,
        |  'A' AS __record_state
        |FROM li
        |WHERE l_shipdate <= TIMESTAMP '{report_date} 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val cfg = TableConfig(
      dependencies = Seq(Dependency("datalake", "parquet", "li",
        path = Some("sf0.001/lineitem.parquet"))),
      transform = Map(ReadMode.Full -> Seq(
        Step.Select(SqlSource.File("step1.sql"),
          parameters = Seq(Param.ReportDate("report_date")),
          cache = Some(CacheSpec("step1_view"))),
        Step.Fn("tag_fn"))),
      target = Some(Target("dwh", "flag_summary")))
    PipelineRunner.runTable(ctx, cfg, ReadMode.Full, WriteMode.Overwrite, MergeMode.Full)
    val master = wh.read("dwh", "flag_summary")
    assert(master.count() > 0)
    // fn step output (last data-producing step) is what lands in the journal
    assert(master.columns.contains("tagged"))
    // step cache materialized under the default dump dir layout
    assert(Files.exists(Paths.get(s"$work/dump/task/step1_view")))
    // journal flipped to H after merge
    assert(wh.read("dwh", "flag_summary__journal").where("__record_state = 'A'").count() == 0)
    // re-merge (merge runs even with no new data - reference quirk) is stable
    val before = master.count()
    PipelineRunner.runTable(ctx, cfg.copy(transform = Map.empty),
      ReadMode.Full, WriteMode.Append, MergeMode.Full)
    assert(wh.read("dwh", "flag_summary").count() == before)
  }

  test("EP2 from config.yaml on disk: parse -> run -> merged master") {
    val (ctx, wh, work) = mkCtx()
    wh.registerPrimaryKey("dwh", "seg_counts", Seq("c_mktsegment"))
    write(s"$work/sql", "seg.sql",
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  TIMESTAMP '{report_date} 00:00:00' AS __transform_dt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __load_dt,
        |  CAST(0 AS BIGINT) AS __seqno, 'A' AS __record_state
        |FROM cust GROUP BY c_mktsegment""".stripMargin)
    write(work, "config.yaml",
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
    val cfg = graft.config.Yaml.parsePipelineFile(s"$work/config.yaml")
    PipelineRunner.run(ctx, cfg)
    val master = wh.read("dwh", "seg_counts")
    assert(master.count() > 0)
    assert(master.columns.contains("c_mktsegment"))
    assert(wh.read("dwh", "seg_counts__journal").where("__record_state = 'A'").count() == 0)
  }

  test("migration step (F19): runs migration.sql on the warehouse iff the file exists") {
    val (ctx, wh, work) = mkCtx()
    wh.registerPrimaryKey("dwh", "m", Seq("id"))
    // seed a table the migration will mutate via warehouse DDL/DML
    import spark.implicits._
    wh.append(Seq((1, "x")).toDF("id", "v"), "dwh", "premigrated")
    write(s"$work/sql", "migration.sql",
      "INSERT INTO dwh.premigrated SELECT 2 AS id, 'y' AS v")
    val cfg = TableConfig(
      migration = Some(SqlSource.File("migration.sql")),
      dependencies = Seq(Dependency("datalake", "parquet", "li",
        path = Some("sf0.001/lineitem.parquet"))),
      transform = Map.empty,
      target = None)
    PipelineRunner.runTable(ctx, cfg, ReadMode.Full, WriteMode.Overwrite, MergeMode.Full)
    assert(wh.read("dwh", "premigrated").count() == 2,
      "migration.sql must execute against the warehouse before the transform")
    // missing file -> silently skipped (reference: airflow_etl.py:693-700)
    val cfgMissing = cfg.copy(migration = Some(SqlSource.File("no_such_migration.sql")))
    PipelineRunner.runTable(ctx, cfgMissing, ReadMode.Full, WriteMode.Overwrite, MergeMode.Full)
    assert(wh.read("dwh", "premigrated").count() == 2)
  }

  test("manual read-mode: REPORT_DATE-dated read end-to-end; missing variable fails fast") {
    val (ctx, wh, work) = mkCtx()
    wh.registerPrimaryKey("dwh", "day_slice", Seq("l_returnflag", "l_linestatus"))
    write(s"$work/sql", "manual.sql",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __transform_dt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __load_dt,
        |  CAST(0 AS BIGINT) AS __seqno, 'A' AS __record_state
        |FROM li
        |WHERE CAST(l_shipdate AS DATE) = DATE '{report_date}'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val cfg = TableConfig(
      dependencies = Seq(Dependency("datalake", "parquet", "li",
        path = Some("sf0.001/lineitem.parquet"))),
      transform = Map(ReadMode.Manual -> Seq(
        Step.Select(SqlSource.File("manual.sql"),
          parameters = Seq(Param.ReportDate("report_date"))))),
      target = Some(Target("dwh", "day_slice")))
    // manual without the dated-read variable is an undefined read: fail fast
    assertThrows[ConfigException](
      PipelineRunner.runTable(ctx.copy(variables = Map.empty), cfg,
        ReadMode.Manual, WriteMode.Append, MergeMode.Delta))
    // with REPORT_DATE set, exactly that day's slice is read and merged
    val dated = ctx.copy(variables = Map("REPORT_DATE" -> "1995-06-17"))
    PipelineRunner.runTable(dated, cfg, ReadMode.Manual, WriteMode.Append, MergeMode.Delta)
    val master = wh.read("dwh", "day_slice")
    assert(master.count() > 0)
    val expected = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .where("CAST(l_shipdate AS DATE) = DATE '1995-06-17'").count()
    assert(master.agg(org.apache.spark.sql.functions.sum("cnt")).collect()(0).getLong(0)
      === expected, "manual mode must read exactly the REPORT_DATE day")
  }

  test("csv dependency arrives all-strings (no inferSchema, reference parity)") {
    val (ctx, _, work) = mkCtx()
    write(s"$work/lakefiles", "m.csv", "code,val\n1,a\n2,b\n")
    val ctx2 = ctx.copy(lake = Lake(work))
    PipelineRunner.loadDependencies(ctx2, Seq(
      Dependency("datalake", "csv", "mapping", path = Some("lakefiles/m.csv"))))
    val df = spark.table("mapping")
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.count() == 2)
  }

  test("readEvolved unions batch schemas: pre-evolution rows read with the new column NULL") {
    val work = SparkTestBase.tmpDir("graft_evolve")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$work/t")
    Seq((2L, "b", 9L)).toDF("id", "v", "added").write.mode("append").parquet(s"$work/t")
    val df = Lake(work).readEvolved(spark, s"$work/t")
    assert(df.columns.sorted.toSeq === Seq("added", "id", "v"))
    val byId = df.select("id", "added").as[(Long, Option[Long])].collect().toMap
    assert(byId === Map(1L -> None, 2L -> Some(9L)))
    // the default single-footer read would have picked ONE schema —
    // evolution must be an explicit opt-in, not the default cost
  }

  test("json-lines dependency: typed columns inferred, nested field reachable") {
    val (ctx, _, work) = mkCtx()
    write(s"$work/lakefiles", "ev.json",
      """{"id": 1, "tag": "a", "meta": {"k": 10}}
        |{"id": 2, "tag": "b", "meta": {"k": 20}}
        |""".stripMargin)
    val ctx2 = ctx.copy(lake = Lake(work))
    PipelineRunner.loadDependencies(ctx2, Seq(
      Dependency("datalake", "json", "events_raw", path = Some("lakefiles/ev.json"))))
    val df = spark.table("events_raw")
    assert(df.schema("id").dataType.typeName === "long", "json must infer types")
    import org.apache.spark.sql.functions.col
    val ks = df.select(col("meta.k")).collect().map(_.getLong(0)).sorted
    assert(ks.toSeq === Seq(10L, 20L))
  }

  test("warc dependency: crawl shards register as a (url, ts, html) view through the lake") {
    val (ctx, _, work) = mkCtx()
    val rec = graft.io.Warc.record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> "https://p.example.com/x",
      "WARC-Date" -> "2024-01-02T03:04:05Z",
      "Content-Type" -> "application/http; msgtype=response"),
      graft.io.Warc.httpResponseBlock(200, "text/html", "<p>Crawled body</p>"))
    val dir = java.nio.file.Paths.get(work, "lakefiles", "crawl")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("s.warc.gz"), graft.io.Warc.gzipMember(rec))
    PipelineRunner.loadDependencies(ctx.copy(lake = Lake(work)), Seq(
      Dependency("datalake", "warc", "crawl", path = Some("lakefiles/crawl"))))
    val got = spark.table("crawl")
      .select("url", "html").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("https://p.example.com/x", "<p>Crawled body</p>")),
      "a YAML 'warc' dependency is a first-class F5 lake source")
  }

  test("crawl-to-curated: warc dependency -> html_to_text -> URL cut in one step chain") {
    // RefinedWeb stage 0 -> 1 through the framework seams: the crawl
    // container registers as an F5 lake dependency, the html fn step
    // derives the text column, the URL cut drops the canonical twin
    import graft.io.Warc
    val (ctx0, _, work) = mkCtx()
    def shard(url: String, html: String) = Warc.gzipMember(Warc.record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> url,
      "WARC-Date" -> "2024-03-04T05:06:07Z",
      "Content-Type" -> "application/http; msgtype=response"),
      Warc.httpResponseBlock(200, "text/html", html)))
    val dir = java.nio.file.Paths.get(work, "lakefiles", "crawl")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(dir.resolve("s.warc.gz"),
      shard("HTTPS://Site.example.com/Article/1?utm_source=a",
        "<h1>The Article</h1><p>Body text one.</p>") ++
        shard("https://site.example.com/Article/1", // canonical twin of page 1
          "<p>Body text one dup page.</p>") ++
        shard("https://site.example.com/Other", "<ul><li>unique</li></ul>"))
    PipelineRunner.loadDependencies(ctx0.copy(lake = Lake(work)), Seq(
      Dependency("datalake", "warc", "crawl", path = Some("lakefiles/crawl"))))
    spark.sql("SELECT CAST(row_number() OVER (ORDER BY url) AS BIGINT) AS doc_id, url, html FROM crawl")
      .createOrReplaceTempView("crawl_prepped")
    val ctx = ctx0.copy(
      variables = Map("GRAFT_FN_SOURCE" -> "crawl_prepped"),
      fns = graft.ext.GraftFns.standard)
    val result = graft.exec.StepRunner.runSteps(ctx, Seq(
      Step.Fn("graft_init"),
      Step.Fn("graft_html_to_text"), // GRAFT_HTML_COL default "html"
      Step.Fn("graft_url_dedup"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, text FROM graft ORDER BY doc_id")))).get
    val got = result.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq(
      (1L, "The Article\nBody text one."), // min-id twin wins (scheme-case + utm collapse)
      (3L, "unique")),
      "crawl -> text -> URL cut must keep one page per canonical key with extracted text")
  }

  test("dependency via lake path convention") {
    val (ctx, _, work) = mkCtx()
    // lay out <root>/datalake/<sys>/<tag>/<schema>/<table> and read it back
    val df = spark.range(5).toDF("k")
    val lake = Lake(s"$work/lakeroot")
    val path = lake.tablePath("datalake", "FLEX", "Main", "OC", "T1")
    assert(path == s"$work/lakeroot/datalake/flex/main/oc/t1")
    lake.write(df, path, "overwrite")
    PipelineRunner.loadDependencies(ctx.copy(lake = lake), Seq(
      Dependency("datalake", "hudi", "t1dep",
        Some("FLEX"), Some("Main"), Some("OC"), Some("T1"))))
    assert(spark.table("t1dep").count() == 5)
  }

  test("lake format passthrough: unknown connector fails with missing-jar guidance, not a class error") {
    val work = SparkTestBase.tmpDir("graft_passthrough")
    val lake = Lake(work)
    // 'delta' has no connector jar in this environment: the passthrough
    // must surface an actionable config error naming the format and fix
    val eRead = intercept[IllegalArgumentException](
      lake.read(spark, "delta", s"$work/t"))
    assert(eRead.getMessage.contains("delta") && eRead.getMessage.contains("jar"),
      s"unhelpful passthrough error: ${eRead.getMessage}")
    val eWrite = intercept[IllegalArgumentException](
      lake.write(spark.range(3).toDF("k"), s"$work/t", "overwrite", format = "delta"))
    assert(eWrite.getMessage.contains("delta") && eWrite.getMessage.contains("jar"))
    // a registered non-builtin format passes through for real: Spark
    // ships the text source but Lake.read has no 'text' case
    import org.apache.spark.sql.functions.col
    spark.range(2).select(col("id").cast("string").as("value"))
      .write.text(s"$work/txt")
    assert(lake.read(spark, "text", s"$work/txt").count() == 2)
  }

  test("hudi maps to parquet by default; graft.lake.nativeHudi opts into the real connector") {
    val work = SparkTestBase.tmpDir("graft_hudi_native")
    val lake = Lake(work)
    lake.write(spark.range(4).toDF("k"), s"$work/h", "overwrite", format = "hudi")
    assert(lake.read(spark, "hudi", s"$work/h").count() == 4) // parquet-compat mapping
    spark.conf.set("graft.lake.nativeHudi", "true")
    try {
      // no hudi jar in this sandbox: the opt-in must route to the
      // DataSource registry and fail with the missing-jar error —
      // proof the conf actually dispatches to the native connector
      val e = intercept[IllegalArgumentException](
        lake.read(spark, "hudi", s"$work/h"))
      assert(e.getMessage.contains("hudi") && e.getMessage.contains("jar"))
    } finally spark.conf.unset("graft.lake.nativeHudi")
  }

  test("lake passthrough round-trips a real SPI-registered connector (demolake)") {
    // graft.testlake.DemoLakeSource registers through META-INF/services —
    // the same DataSourceRegister SPI Hudi/Delta/Iceberg use — so this
    // proves the passthrough resolves and drives an actual pluggable
    // connector, not just the missing-jar error path
    val work = SparkTestBase.tmpDir("graft_demolake")
    val lake = Lake(s"$work/lk")
    lake.write(spark.range(5).toDF("k"), s"$work/lk/t", "overwrite", format = "demolake")
    assert(Files.exists(Paths.get(s"$work/lk/t/_demolake")),
      "the write must reach the connector, not a builtin branch")
    val back = lake.read(spark, "demolake", s"$work/lk/t")
    assert(back.select("k").collect().map(_.getLong(0)).sorted.toSeq
      === (0L until 5L).toSeq)
  }

  test("extract: write-mode defaults from read-mode; delta needs watermark") {
    val (ctx, _, work) = mkCtx()
    val lake = Lake(s"$work/lk")
    val c = ctx.copy(lake = lake)
    val df = spark.range(10).toDF("k").withColumn("ts", col("k").cast("string"))
    val p = PipelineRunner.extractDf(c, df, "sys", "main", "sch", "tab")
    assert(spark.read.parquet(p).count() == 10) // full -> overwrite
    PipelineRunner.extractDf(c, df, "sys", "main", "sch", "tab") // overwrite again
    assert(spark.read.parquet(p).count() == 10)
    // delta appends rows at-or-past the watermark; the boundary row
    // (ts == "7") was already landed identically, so the landing dedup
    // drops it — only the strictly-newer rows append
    PipelineRunner.extractDf(c, df, "sys", "main", "sch", "tab",
      readMode = ReadMode.Delta, delta = Some(PipelineRunner.DeltaSpec("ts", "7")))
    assert(spark.read.parquet(p).count() == 12) // + "8","9"; boundary "7" dedup'd
    assertThrows[ConfigException](
      PipelineRunner.extractDf(c, df, "sys", "main", "sch", "tab", readMode = ReadMode.Delta))
  }

  test("delta extract with explicit Overwrite skips the landing probe (no read-from-overwritten-path)") {
    val (ctx, _, work) = mkCtx()
    val c = ctx.copy(lake = Lake(s"$work/lk"))
    val df = spark.range(10).toDF("k").withColumn("ts", col("k").cast("string"))
    val p = PipelineRunner.extractDf(c, df, "sys", "main", "sch", "ow")
    assert(spark.read.parquet(p).count() == 10)
    // Delta read + explicit Overwrite: the landing is about to be
    // replaced, so the boundary dedup must NOT probe it — doing so
    // builds a plan that reads the path it overwrites and Spark fails
    // with "Cannot overwrite a path that is also being read from"
    PipelineRunner.extractDf(c, df, "sys", "main", "sch", "ow",
      readMode = ReadMode.Delta, writeMode = Some(WriteMode.Overwrite),
      delta = Some(PipelineRunner.DeltaSpec("ts", "7")))
    assert(spark.read.parquet(p).count() == 3) // plain >= slice: "7","8","9"
  }

  test("unreadable landing (crashed first write) falls back to the full boundary slice") {
    val (ctx, _, work) = mkCtx()
    val c = ctx.copy(lake = Lake(s"$work/lk"))
    val df = spark.range(10).toDF("k").withColumn("ts", col("k").cast("string"))
    // simulate a crashed first write: the landing dir exists but holds
    // no readable parquet footer — only a _temporary remnant
    val p = c.lake.tablePath("datalake", "sys", "main", "sch", "crashed")
    Files.createDirectories(Paths.get(p, "_temporary"))
    PipelineRunner.extractDf(c, df, "sys", "main", "sch", "crashed",
      readMode = ReadMode.Delta, delta = Some(PipelineRunner.DeltaSpec("ts", "7")))
    // at-least-once preserved: the whole >= slice lands, nothing throws
    assert(spark.read.parquet(p).select("ts").collect().map(_.getString(0)).sorted.toSeq
      === Seq("7", "8", "9"))
  }

  test("a landing that holds a data file but cannot be read fails the delta extract") {
    val (ctx, _, work) = mkCtx()
    val c = ctx.copy(lake = Lake(s"$work/lk"))
    val df = spark.range(10).toDF("k").withColumn("ts", col("k").cast("string"))
    val p = c.lake.tablePath("datalake", "sys", "main", "sch", "torn")
    Files.createDirectories(Paths.get(p))
    Files.write(Paths.get(p, "part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    // taking it for an empty landing would re-land the whole boundary
    // slice over data the probe could not see
    intercept[Exception] {
      PipelineRunner.extractDf(c, df, "sys", "main", "sch", "torn",
        readMode = ReadMode.Delta, delta = Some(PipelineRunner.DeltaSpec("ts", "7")))
    }
  }

  test("warehouse engine step: whole query runs against warehouse catalog") {
    val (ctx, wh, _) = mkCtx()
    wh.replace(spark.range(3).toDF("k"), "stg", "nums")
    val df = StepRunner.executeSql(ctx, "SELECT k * 2 AS k2 FROM stg.nums",
      engine = Engine.Warehouse)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L, 4L))
  }

  test("truncateAppend preserves schema contract and replaces data") {
    val (_, wh, _) = mkCtx()
    wh.replace(spark.range(3).toDF("k"), "dwh", "t10")
    wh.truncateAppend(spark.range(7).toDF("k"), "dwh", "t10")
    assert(wh.read("dwh", "t10").count() == 7)
    // mismatched columns rejected (the "DDL" is preserved)
    assertThrows[IllegalArgumentException](
      wh.truncateAppend(spark.range(2).toDF("other"), "dwh", "t10"))
  }

  test("curation chain as YAML fn steps: PipelineRunner lands exactly the direct chain result") {
    // the product's actual usage shape (reference EP2): the whole
    // multi-stage curation run driven through config.yaml — fn steps
    // hand off via the `curation` view, the last step's output is
    // journaled and merged — must land bit-for-bit what the direct
    // CurationChain.run composition (registry q88) computes
    val (ctx0, wh, work) = mkCtx()
    val ctx = ctx0.copy(fns = graft.ext.CurationChain.fns)
    wh.registerPrimaryKey("dwh", "curated_pack", Seq("lang", "bin_id"))
    write(s"$work/sql", "finalize.sql",
      """SELECT lang, bin_id, n_docs, sum_tokens, first_doc, last_doc,
        |  TIMESTAMP '{report_date} 00:00:00' AS __transform_dt,
        |  TIMESTAMP '{report_date} 00:00:00' AS __load_dt,
        |  CAST(0 AS BIGINT) AS __seqno, 'A' AS __record_state
        |FROM curation""".stripMargin)
    write(work, "config.yaml",
      """- dependencies:
        |    - source: datalake
        |      format: parquet
        |      alias: documents
        |      path: sf0.001/documents.parquet
        |  transform:
        |    full:
        |      - type: fn
        |        fn: curation_init
        |      - type: fn
        |        fn: encoding_gate
        |      - type: fn
        |        fn: normalize_dedup
        |      - type: fn
        |        fn: near_dup_dedup
        |      - type: fn
        |        fn: decontaminate
        |      - type: fn
        |        fn: mixture_sample
        |      - type: fn
        |        fn: pack_sequences
        |      - type: select
        |        sql: finalize.sql
        |        parameters:
        |          - name: report_date
        |            type: report_date
        |  target:
        |    target_schema: dwh
        |    target_table_name: curated_pack""".stripMargin)
    val cfg = graft.config.Yaml.parsePipelineFile(s"$work/config.yaml")
    PipelineRunner.run(ctx, cfg)
    val cols = Seq("lang", "bin_id", "n_docs", "sum_tokens", "first_doc", "last_doc")
    val master = wh.read("dwh", "curated_pack")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val direct = graft.ext.ExtQueries.q88(spark, "/root/testdata/sf0.001")
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(master.nonEmpty, "curation pipeline landed nothing")
    assert(master === direct,
      "framework-driven curation drifted from the direct chain composition")
    // journal flipped after merge — the EP2 lifecycle completed
    assert(wh.read("dwh", "curated_pack__journal")
      .where("__record_state = 'A'").count() == 0)
  }
}
