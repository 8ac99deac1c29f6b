package graft.perfbench

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Opts(workload: String = "", input: String = "", work: String = "",
                      out: String = "", seconds: Double = 10, trace: Boolean = false,
                      cores: Int = 4, warmOps: Int = 0, minOps: Int = 3)

/** The benchmark's JVM side: builds the session [[Setups]] times (each
  * time running the workload's untimed warm-up op), runs the workload's
  * untimed warm-up ops, then times ops until `seconds` have passed and
  * at least `min-ops` ran, checks the outputs and writes everything it
  * measured to `out` as one JSON document. Metrics are derived from
  * that file by `run.py`.
  *
  * {{{
  * Harness --workload dwh_batch --input <generated inputs> --work <scratch dir>
  *   --out raw.json --seconds 10 --trace 0 [--cores 4 --warm-ops 0 --min-ops 3]
  * }}}
  */
object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 5

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--input" :: v :: t    => parse(t, o.copy(input = v))
    case "--work" :: v :: t     => parse(t, o.copy(work = v))
    case "--out" :: v :: t      => parse(t, o.copy(out = v))
    case "--seconds" :: v :: t  => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, o.copy(trace = v == "1"))
    case "--cores" :: v :: t    => parse(t, o.copy(cores = v.toInt))
    case "--warm-ops" :: v :: t => parse(t, o.copy(warmOps = v.toInt))
    case "--min-ops" :: v :: t  => parse(t, o.copy(minOps = v.toInt))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  private def error(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(400)

  /** Peak resident set of this JVM (`VmHWM`), in kB; 0 where /proc is absent. */
  def peakRssKb(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toLong
  }.getOrElse(0L)

  /** The machine's CPU time in jiffies, all CPUs summed: (total, stolen
    * by the hypervisor for other guests), from `/proc/stat`; (0, 0)
    * where it is absent.
    */
  def cpuJiffies(): (Long, Long) = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").slice(1, 9).map(_.toLong)
      (v.sum, v(7))
    } finally f.close()
  }.getOrElse((0L, 0L))

  /** CPU time of this JVM, all threads, in ns. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Regular files and bytes under `dir`, and how many are parquet data files. */
  def dirStats(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map("bytes" -> 0L, "files" -> 0L)
    else {
      val files = Files.walk(p).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      Map("bytes" -> files.map(Files.size).sum,
        "files" -> files.count(f => f.getFileName.toString.endsWith(".parquet")).toLong)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var checks = Seq.empty[Check]
    var traced: Map[String, Any] = Map.empty
    var wl: Workload = null
    var spark: SparkSession = null

    /** Runs and records one op of `kind`; true when it succeeded. */
    def attempt(kind: String, i: Int)(body: => Unit): Boolean = {
      val (total0, stolen0) = cpuJiffies()
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case scala.util.control.NonFatal(e) => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs() - cpu0) / 1e9
      val (total1, stolen1) = cpuJiffies()
      err.foreach(e => System.err.println(s"[perfbench] $kind $i FAILED: ${error(e)}"))
      ops += Map("kind" -> kind, "i" -> i, "wall_s" -> wall, "cpu_s" -> cpu, "ok" -> err.isEmpty,
        "error" -> err.fold("")(error),
        "steal_frac" -> (if (total1 > total0) (stolen1 - stolen0).toDouble / (total1 - total0) else 0.0))
      err.isEmpty
    }

    try {
      val manifest = mapper.readTree(new java.io.File(s"${o.input}/manifest.json"))
      wl = Workload(o, manifest)
      // set-up: session start plus one warm-up op, `Setups` times; the
      // first one is timed from JVM start, the others from the end of
      // the previous session's stop
      for (i <- 1 to Setups) {
        if (spark != null) {
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
        }
        val startMs = if (i == 1) jvmStartMs else System.currentTimeMillis()
        spark = wl.session()
        val ok = attempt("setup", i)(wl.warmUp(spark, i))
        if (ok) setups += (System.currentTimeMillis() - startMs) / 1e3
      }
      val on = if (o.trace) Some(new Tracer.On(spark)) else None
      val tracer = on.getOrElse(Tracer.Off)
      var i = 0
      var consecutiveFailures = 0
      def one(kind: String, timed: Boolean): Unit = {
        val idx = i
        val prepared = attempt("prepare", idx)(wl.prepare(spark, idx))
        val ok = prepared && attempt(kind, idx)(tracer.op(idx, kind)(wl.op(spark, idx, timed, tracer)))
        consecutiveFailures = if (ok) 0 else consecutiveFailures + 1
        i += 1
      }
      // untimed warm-up ops, then timed ops until the deadline
      while (i < o.warmOps && i < wl.maxOps && consecutiveFailures < 3) one("warm", timed = false)
      val deadline = System.nanoTime() + (o.seconds * 1e9).toLong
      var timed = 0
      while ((System.nanoTime() < deadline || timed < o.minOps) && i < wl.maxOps &&
             consecutiveFailures < 3) {
        one("op", timed = true)
        timed += 1
      }
      checks = wl.checks(spark)
      traced = on.fold(Map.empty[String, Any])(_.dump())
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] run aborted: ${error(e)}")
        checks = checks :+ Check("run_completed", ok = false, error(e))
    }
    val wh = Option(wl).flatMap(_.warehouse).map(dirStats).getOrElse(Map.empty)
    val result = Map(
      "workload" -> o.workload, "cores" -> o.cores, "seconds" -> o.seconds,
      "setup_s" -> setups.toList, "ops" -> ops.toList,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)).toList,
      "peak_rss_kb" -> peakRssKb(), "wh" -> wh,
      "rows_fed" -> Option(wl).fold(0L)(_.rowsFed),
      "extra" -> Option(wl).fold(Map.empty[String, Any])(_.extra)) ++ traced
    Files.write(Paths.get(o.out), mapper.writeValueAsBytes(result))
    if (spark != null) spark.stop()
  }
}
