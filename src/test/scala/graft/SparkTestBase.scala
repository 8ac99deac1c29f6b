package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs, counted by a listener on a
    * fresh job group. Listener events arrive in order, so once a marker
    * job is seen, every job `body` started has been seen too.
    */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "body")
      body
      spark.sparkContext.setJobGroup(group, "marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains("marker") && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(seen.contains("marker"), "the marker job was never seen")
      seen.size - 1
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
