package graft
import org.apache.spark.sql.SparkSession

/** Focused micro-bench: run a comma-separated subset of registry
  * queries 3 passes round-robin against a corpus dir and print raw
  * per-pass wall times — the dev loop for optimizing ONE operator
  * without paying a full `graft.Bench` sweep. Same noop-write
  * materialization as Bench; minima across passes are the comparable
  * number (BASELINE.md's measurement contract).
  *
  * Usage: runMain graft.QBench q122_strip_char_substrings[,q110_...] <sfDir>
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val dir = args(1)
    // shuffle width derives from the corpus size (floor = the driver
    // contract's 32; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides) — at
    // ×100 a fixed 32 makes each shuffle partition ~10× fatter than
    // at ×10: spill noise that masquerades as operator growth
    // (SCALE_r14 measured it on q13, −27% at the derived width)
    // core count honors the same env var as graft.Bench so scale
    // probes can measure 8-vs-32-core ratios on the focused subset
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", DerivedShuffle.forDir(dir))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the FULL registry (headline q01-q06 + extension ops), so scale
    // probes can time any named query, not just the ext ones
    val registry = SparkEntry.queries
    for (pass <- 1 to 3; n <- names) {
      val t0 = System.nanoTime()
      registry(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"QBENCH $n pass$pass ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    spark.stop()
  }
}
