package graft

/** Input-size-derived shuffle width for the repo's own entry points.
  *
  * Why it exists (SCALE_r14's measured finding): a pinned
  * `spark.sql.shuffle.partitions` is a latent scale bug — at ×100 the
  * harness's fixed 32 made q13's shingle-join partitions spill
  * (270 s), and the SAME binary at 256 partitions ran −27% with no
  * code change. AQE is on in [[RunTask.sessionDefaults]] and, by Spark
  * 4.1's default, in every measurement main (Bench/QBench/ScaleUp/
  * PlanDump); its coalescing only merges partitions, so the derived
  * width is AQE's starting ceiling. Too low a ceiling spills, which is
  * why the mains derive it from the data.
  *
  * The rule: one shuffle partition per [[BytesPerPartition]] of input
  * parquet, clamped to [[[MinPartitions]], [[MaxPartitions]]].
  * 8 MiB of compressed input per partition looks small, but the text
  * corpora EXPLODE through their shuffles (shingling/windowing
  * multiplies bytes 10–50×), so ~8 MiB of input is 100–400 MB of
  * in-flight shuffle per partition — comfortably inside an executor
  * thread's share. Calibration point: the ×100 corpus (2.16 GB
  * parquet) derives 270 ≈ the empirically-best 256; sf0.1 (17 MB)
  * floors at the driver contract's 32, so small-scale numbers stay
  * comparable round-over-round.
  *
  * `SPARK_GRAFT_SHUFFLE_PARTITIONS` still overrides everywhere — the
  * explicit-probe escape hatch scale tables are built with.
  */
object DerivedShuffle {

  /** Compressed input bytes per shuffle partition (see calibration
    * note above).
    */
  val BytesPerPartition: Long = 8L << 20
  /** The driver contract's pinned width — also the floor, so deriving
    * never narrows a small run below the documented default.
    */
  val MinPartitions = 32
  /** Ceiling: beyond this, per-partition scheduling overhead dominates
    * on any plausible single-JVM run; clusters should rely on AQE.
    */
  val MaxPartitions = 4096

  def partitionsFor(inputBytes: Long): Int =
    math.max(MinPartitions, math.min(MaxPartitions.toLong,
      math.ceil(inputBytes.toDouble / BytesPerPartition).toLong)).toInt

  /** Recursive regular-file byte count under `dir` (any Hadoop FS;
    * 0 for a missing path — the caller's session build must not fail
    * on a bad dir before the query itself can say so).
    *
    * Uses the active session's Hadoop configuration when one exists —
    * on a cluster whose object-store credentials live in the session
    * conf, a bare `new Configuration()` would fail (or read 0 and
    * silently derive the floor width). Session-less callers (width
    * derivation BEFORE the session is built) fall back to the default
    * conf, which still carries the classpath site files.
    */
  def dirBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
  }

  /** The width for a corpus dir: the env override when set, else
    * derived from its bytes.
    */
  def forDir(dir: String): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") match {
      case Some(v) => v.toInt
      case None => partitionsFor(dirBytes(dir))
    }
}
