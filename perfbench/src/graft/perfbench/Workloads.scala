package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import graft.config._
import graft.exec.{DagStatus, EtlContext, EtlTask, PipelineRunner, Tasks}
import graft.io.{FileWarehouse, Lake}
import graft.merge.JournalMerge

/** One output check; a failed check counts as a failed op. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: how its session is built, its set-up warm-up
  * op, the op it times, and the checks of its output.
  */
trait Workload {
  /** A session with the conf of the entry point this workload drives. */
  def session(): SparkSession
  /** The untimed warm-up op of set-up number `i`. */
  def warmUp(spark: SparkSession, i: Int): Unit
  /** How many ops the inputs allow. */
  def maxOps: Int
  /** Untimed work before op `i` (its inputs landing). */
  def prepare(spark: SparkSession, i: Int): Unit = ()
  /** Op `i`; `timed` is false for the warm-up ops. */
  def op(spark: SparkSession, i: Int, timed: Boolean, tr: Tracer): Unit
  def checks(spark: SparkSession): Seq[Check]
  /** Warehouse root whose files are counted at the end, if any. */
  def warehouse: Option[String] = None
  /** Rows fed into the warehouse over the whole run. */
  def rowsFed: Long = 0L
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  def apply(o: Opts, m: JsonNode): Workload = o.workload match {
    case "dwh_batch"       => new DwhBatch(o, m)
    case "dwh_incremental" => new DwhIncremental(o, m)
    case "curation_chain"  => new CurationChainWorkload(o, m)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** A `local[cores]` session with `conf`; Spark's scratch files stay
    * under the run's work dir.
    */
  def local(o: Opts, conf: Seq[(String, String)]): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[${o.cores}]")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${o.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The extract source every dwh workload names: (system, tag, schema). */
  def source(m: JsonNode): (String, String, String) = {
    val s = m.get("source")
    (s.get("system").asText, s.get("tag").asText, s.get("schema").asText)
  }

  /** Where a dwh workload's lake, warehouse and dump (run ledger) live. */
  def roots(root: String): Map[String, Any] =
    Map("roots" -> Map("lake" -> s"$root/lake", "wh" -> s"$root/wh", "dump" -> s"$root/dump"))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** A check whose own failure (an exception) is a failed check. */
  def check(name: String)(body: => (Boolean, String)): Check =
    scala.util.Try(body).fold(e => Check(name, ok = false, e.toString), r => Check(name, r._1, r._2))

  /** Latest version per key, computed as a group-by max over the merge
    * comparator (`__transform_dt` DESC, `__load_dt` DESC, `__seqno`
    * ASC) packed in a struct, a different spelling from the merge's
    * `row_number` window. Requires non-null comparator columns.
    */
  def latestByMax(df: DataFrame, pks: Seq[String], cols: Seq[String],
                  transformDt: Column, loadDt: Column, seqno: Column): DataFrame = {
    val others = cols.filterNot(pks.contains)
    val packed = struct((Seq(transformDt.as("k0"), loadDt.as("k1"), (-seqno).as("k2")) ++
      others.map(c => col(c).as(s"v_$c"))): _*)
    df.groupBy(pks.map(col): _*).agg(max(packed).as("m"))
      .select(pks.map(col) ++ others.map(c => col(s"m.v_$c").as(c)): _*)
  }

  /** Set equality of two frames over `cols`, plus a row-count
    * expectation; the detail says what differed.
    */
  def sameRows(got: DataFrame, want: DataFrame, cols: Seq[String],
               expectedRows: Long): (Boolean, String) = {
    val g = got.select(cols.map(col): _*)
    val w = want.select(cols.map(col): _*)
    val n = g.count()
    val missing = w.exceptAll(g).count()
    val unexpected = g.exceptAll(w).count()
    (n == expectedRows && missing == 0 && unexpected == 0,
      s"rows=$n expected=$expectedRows missing=$missing unexpected=$unexpected")
  }
}

/** Nightly full batch: every source table extracted to the lake (full
  * read, overwrite), then every table folder transformed (full read,
  * overwrite journal, full merge), all through one `Tasks.runDag`.
  */
final class DwhBatch(o: Opts, m: JsonNode) extends Workload {
  private final case class Table(name: String, pk: Seq[String], deps: Seq[String])
  private val (sys, tag, schema) = Workload.source(m)
  private val extractTables = Workload.strings(m.get("extract_tables"))
  private val tables = m.get("tables").fields().asScala.map { e =>
    Table(e.getKey, Workload.strings(e.getValue.get("pk")), Workload.strings(e.getValue.get("deps")))
  }.toSeq
  private val sqlRoot = s"${o.input}/sql"
  private val main = s"${o.work}/batch"
  private var batches = 0

  def session(): SparkSession = Workload.local(o, graft.RunTask.sessionDefaults)
  def maxOps: Int = Int.MaxValue

  /** Extract `sources` to the lake, then transform `loads`, as one DAG. */
  private def batch(spark: SparkSession, root: String, sources: Seq[String], loads: Seq[Table],
                    tr: Tracer): Unit = {
    val wh = new FileWarehouse(spark, s"$root/wh")
    loads.foreach(t => wh.registerPrimaryKey("dwh", t.name, t.pk))
    val ctx = EtlContext(spark = spark, lake = Lake(s"$root/lake"), warehouse = wh,
      variables = Map("REPORT_DATE" -> "2025-01-01"), sqlRoot = Some(sqlRoot),
      dumpDir = s"$root/dump")
    val extractId = sources.map(t => t -> Tasks.extractTaskId(sys, tag, t, ReadMode.Full)).toMap
    val extracts = sources.map { t =>
      EtlTask(extractId(t), () => tr.span("exec.extract") {
        PipelineRunner.extractDf(ctx.copy(taskId = extractId(t)),
          spark.read.parquet(s"${o.input}/$t.parquet"), sys, tag, schema, t, ReadMode.Full)
      })
    }
    val transforms = loads.map { t =>
      val task = Tasks.transformDb(ctx, s"dwh/${t.name}", ReadMode.Full, WriteMode.Overwrite,
        MergeMode.Full)
      task.copy(run = () => {
        // the task parses its config.yaml itself; a traced run times the same parse
        if (tr ne Tracer.Off)
          tr.span("config.parse")(Yaml.parsePipelineFile(s"$sqlRoot/dwh/${t.name}/config.yaml"))
        tr.span("exec.run_table")(task.run())
      })
    }
    val deps = loads.zip(transforms).map { case (t, task) => task.id -> t.deps.map(extractId) }.toMap
    val run = Tasks.runDag(extracts ++ transforms, deps, parallelism = 1)
    if (!run.succeeded)
      throw new IllegalStateException("batch failed: " + run.status.collect {
        case (id, DagStatus.Failed(e)) => s"$id: $e"
      }.mkString("; "))
  }

  /** Set-up warm-up op: the first table's load alone. */
  def warmUp(spark: SparkSession, i: Int): Unit =
    batch(spark, s"${o.work}/setup$i", tables.head.deps, tables.take(1), Tracer.Off)

  def op(spark: SparkSession, i: Int, timed: Boolean, tr: Tracer): Unit = {
    batch(spark, main, extractTables, tables, tr)
    batches += 1
  }

  def checks(spark: SparkSession): Seq[Check] = {
    val wh = new FileWarehouse(spark, s"$main/wh")
    tables.map { t =>
      Workload.check(s"master_is_latest_per_key.${t.name}") {
        val journal = wh.read("dwh", s"${t.name}__journal")
        val cols = journal.columns.toSeq.filterNot(_ == JournalMerge.RecordState)
        Workload.sameRows(wh.read("dwh", t.name),
          Workload.latestByMax(journal, t.pk, cols, col(JournalMerge.TransformDt),
            col(JournalMerge.LoadDt), col(JournalMerge.Seqno)),
          cols, m.get("expected_rows").get(t.name).asLong)
      }
    }
  }

  override def warehouse: Option[String] = Some(s"$main/wh")
  override def rowsFed: Long = batches * m.get("rows_per_batch").asLong
  override def extra: Map[String, Any] = Workload.roots(main)
}

/** Incremental delta cycles, closed loop with one client: each cycle
  * appends one generated batch to the source (untimed), then times a
  * delta extract to the lake (watermark on `updated_at`) and the delta
  * transform of that batch's report date through `Tasks.transformDb`
  * (append journal, delta merge, record-state flip).
  */
final class DwhIncremental(o: Opts, m: JsonNode) extends Workload {
  private val (sys, tag, schema) = Workload.source(m)
  private val cycles = m.get("cycles").elements().asScala.toVector
  private val columns = Workload.strings(m.get("columns"))
  private val table = "order_updates"
  private val sqlRoot = s"${o.input}/sql/dwh"
  private var root = ""
  private var fed = 0L

  def session(): SparkSession = Workload.local(o, graft.RunTask.sessionDefaults)
  def maxOps: Int = cycles.size

  private def sourceDir = s"$root/source/$table"
  private def land(batch: Int): Unit = {
    val name = f"batch_$batch%05d.parquet"
    Files.createDirectories(Paths.get(sourceDir))
    Files.copy(Paths.get(s"${o.input}/updates/$name"), Paths.get(s"$sourceDir/$name"),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def context(spark: SparkSession, reportDate: String): EtlContext = EtlContext(
    spark = spark, lake = Lake(s"$root/lake"), warehouse = new FileWarehouse(spark, s"$root/wh"),
    variables = Map("REPORT_DATE" -> reportDate), sqlRoot = Some(sqlRoot), dumpDir = s"$root/dump")

  private def extract(ctx: EtlContext, mode: ReadMode, delta: Option[PipelineRunner.DeltaSpec]): Unit =
    PipelineRunner.extractDf(ctx.copy(taskId = Tasks.extractTaskId(sys, tag, table, mode)),
      ctx.spark.read.parquet(sourceDir), sys, tag, schema, table, mode,
      delta.map(_ => WriteMode.Append), delta)

  /** Set-up warm-up op: the bootstrap load (full extract, full
    * transform and merge) into a fresh root; the last set-up's root
    * carries the cycles.
    */
  def warmUp(spark: SparkSession, i: Int): Unit = {
    root = s"${o.work}/setup$i"
    land(0)
    val ctx = context(spark, "2025-01-01")
    ctx.warehouse.asInstanceOf[FileWarehouse].registerPrimaryKey("dwh", "order_state", Seq("o_orderkey"))
    extract(ctx, ReadMode.Full, None)
    Tasks.transformDb(ctx, "order_state", ReadMode.Full, WriteMode.Overwrite, MergeMode.Full).run()
  }

  override def prepare(spark: SparkSession, i: Int): Unit = land(cycles(i).get("batch").asInt)

  def op(spark: SparkSession, i: Int, timed: Boolean, tr: Tracer): Unit = {
    val c = cycles(i)
    val ctx = context(spark, c.get("report_date").asText)
    tr.span("exec.extract") {
      extract(ctx, ReadMode.Delta, Some(PipelineRunner.DeltaSpec("updated_at", c.get("mark").asText)))
    }
    val task = Tasks.transformDb(ctx, "order_state", ReadMode.Delta, WriteMode.Append, MergeMode.Delta)
    // the task parses its config.yaml itself; a traced run times the same parse
    if (tr ne Tracer.Off)
      tr.span("config.parse")(Yaml.parsePipelineFile(s"$sqlRoot/order_state/config.yaml"))
    tr.span("exec.run_table")(task.run())
    fed += c.get("rows").asLong
  }

  def checks(spark: SparkSession): Seq[Check] = {
    val wh = new FileWarehouse(spark, s"$root/wh")
    Seq(
      Workload.check("master_is_latest_over_all_batches") {
        val source = spark.read.parquet(sourceDir)
        Workload.sameRows(wh.read("dwh", "order_state"),
          Workload.latestByMax(source, Seq("o_orderkey"), columns,
            col("updated_at"), col("updated_at"), col("seqno")),
          columns, source.select("o_orderkey").distinct().count())
      },
      Workload.check("no_active_journal_rows") {
        val active = wh.read("dwh", "order_state__journal")
          .where(col(JournalMerge.RecordState) === "A").count()
        (active == 0, s"active=$active")
      })
  }

  override def warehouse: Option[String] = Some(s"$root/wh")
  override def rowsFed: Long = fed
  override def extra: Map[String, Any] = Workload.roots(root) + ("cycles" -> cycles.map(c => Map(
    "rows" -> c.get("rows").asLong,
    "source_rows_ge_mark" -> c.get("source_rows_ge_mark").asLong)).toList)
}

/** Registry curation queries through the noop sink, as `graft.Bench`
  * runs them, in a seeded order per pass. Timed passes only write each
  * query to the noop sink. The untimed warm-up passes land each output
  * as parquet for the oracle comparison and observe an order-free
  * fingerprint of it (row count, xor and low-bit sum of row hashes), so
  * that passes can be compared.
  */
final class CurationChainWorkload(o: Opts, m: JsonNode) extends Workload {
  private val queries = Workload.strings(m.get("queries"))
  private val order = m.get("order").elements().asScala.map(_.elements().asScala.map(_.asInt).toVector).toVector
  private val fingerprints = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]

  def session(): SparkSession = Workload.local(o, Seq(
    "spark.sql.shuffle.partitions" -> graft.DerivedShuffle.forDir(o.input).toString,
    "spark.sql.session.timeZone" -> "UTC"))
  def maxOps: Int = order.size

  private def query(spark: SparkSession, q: String): DataFrame = graft.SparkEntry.queries(q)(spark, o.input)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def fingerprint(spark: SparkSession, q: String, sink: DataFrame => Unit): Unit = {
    val df = query(spark, q)
    val h = xxhash64(df.schema.fields.toSeq.map { f => f.dataType match {
      case _: MapType | _: ArrayType | _: StructType => to_json(col(f.name))
      case _ => col(f.name)
    }}: _*)
    val obs = Observation()
    sink(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(h.bitwiseAND(lit(0xffffL))).as("s")))
    val r = obs.get
    fingerprints(q) = fingerprints.getOrElse(q, Vector.empty) :+ s"${r("n")}/${r("x")}/${r("s")}"
  }

  /** Set-up warm-up op: the manifest's warm-up query, once. */
  def warmUp(spark: SparkSession, i: Int): Unit = noop(query(spark, m.get("warm_query").asText))

  def op(spark: SparkSession, i: Int, timed: Boolean, tr: Tracer): Unit =
    order(i).map(queries).foreach { q =>
      tr.span(s"ext.$q") {
        if (timed) noop(query(spark, q))
        else fingerprint(spark, q, _.write.mode("overwrite").parquet(s"${o.work}/out/$q"))
      }
    }

  def checks(spark: SparkSession): Seq[Check] = queries.map { q =>
    val fps = fingerprints.getOrElse(q, Vector.empty)
    Check(s"output_stable_across_passes.$q", fps.size >= 2 && fps.distinct.size == 1,
      s"fingerprints=${fps.mkString(",")}")
  }

  override def extra: Map[String, Any] = Map(
    "oracle_sql" -> queries.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap,
    "outputs" -> s"${o.work}/out")
}
