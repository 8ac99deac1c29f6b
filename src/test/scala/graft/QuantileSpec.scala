package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Sketches
import graft.io.Parquet
import graft.functions.QuantileBuffer

/** Deterministic mergeable quantile sketch (q102's no-oracle gate):
  * below-capacity exactness, the measured error envelope of the
  * deterministic compactor, merge/build equivalence, loud k-drift,
  * parquet round-trip, and the golden digest.
  */
class QuantileSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Deterministic shuffle of 1..n (fixed multiplier walk). */
  private def shuffled(n: Int): Seq[Int] = {
    val arr = (1 to n).toArray
    val rnd = new scala.util.Random(42)
    rnd.shuffle(arr.toSeq)
  }

  test("below capacity: every quantile is the EXACT order statistic") {
    val n = 50
    val df = shuffled(n).map(v => ("g", v.toDouble)).toDF("g", "v")
    val sk = Sketches.quantBuild(df, Seq("g"), "v", k = 64)
    val est = Sketches.quantEstimates(sk, Seq("g"), Seq(0.0, 0.25, 0.5, 0.9, 1.0))
      .collect().head
    assert(est.getLong(est.fieldIndex("n")) === n.toLong)
    val sorted = (1 to n).map(_.toDouble)
    for ((q, cName) <- Seq(0.0 -> "q0", 0.25 -> "q25", 0.5 -> "q50", 0.9 -> "q90", 1.0 -> "q100")) {
      val target = q * (n - 1)
      val want = sorted(math.floor(target).toInt max 0)
      assert(est.getDouble(est.fieldIndex(cName)) === want,
        s"q=$q must be the exact order statistic below capacity")
    }
  }

  test("above capacity: measured rank-error envelope of the deterministic compactor") {
    val n = 100000
    val buf = new QuantileBuffer(256)
    shuffled(n).foreach(v => buf.update(v.toDouble))
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
      val est = buf.estimate(q).get
      val trueRank = q * (n - 1) + 1
      val rankErr = math.abs(est - trueRank) / n
      assert(rankErr <= 0.02,
        s"q=$q rank error $rankErr above the 2% envelope (est=$est true=$trueRank)")
    }
  }

  test("merge of halves == single-pass build below capacity, incl. parquet round-trip") {
    val df = shuffled(100).map(v => ("g", v.toDouble)).toDF("g", "v")
    val qs = Seq(0.1, 0.5, 0.9)
    val full = Sketches.quantEstimates(
      Sketches.quantBuild(df, Seq("g"), "v", k = 256), Seq("g"), qs)
      .collect().head.toSeq
    val h1 = Sketches.quantBuild(df.where($"v" % 2 === 0), Seq("g"), "v", k = 256)
    val h2 = Sketches.quantBuild(df.where($"v" % 2 =!= 0), Seq("g"), "v", k = 256)
    val path = SparkTestBase.tmpDir("graft_quant") + "/idx"
    h1.write.parquet(path)
    val merged = Sketches.quantEstimates(
      Sketches.quantMerge(Parquet.read(spark, path).unionByName(h2), Seq("g"), k = 256),
      Seq("g"), qs)
      .collect().head.toSeq
    assert(merged === full,
      "below capacity nothing compacts — merge must equal the single-pass build exactly")
  }

  test("k drift raises on merge instead of silently degrading") {
    val a = Sketches.quantBuild(Seq(("g", 1.0)).toDF("g", "v"), Seq("g"), "v", k = 64)
    val b = Sketches.quantBuild(Seq(("g", 2.0)).toDF("g", "v"), Seq("g"), "v", k = 128)
    val e = intercept[Exception] {
      Sketches.quantMerge(a.unionByName(b), Seq("g"), k = 64).collect()
    }
    assert(e.getMessage.toLowerCase.contains("mismatch"),
      s"expected a k-mismatch error, got: ${e.getMessage.take(200)}")
  }

  test("deterministic: rebuilding from the same input yields identical bytes") {
    val df = shuffled(5000).map(v => ("g", v.toDouble)).toDF("g", "v")
    def bytes() = Sketches.quantBuild(df, Seq("g"), "v", k = 64)
      .select("sketch").head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(bytes(), bytes()),
      "the alternating compactor must be bit-deterministic for a fixed input order")
  }

  test("golden digest: q102 per-source length quantiles are bit-stable at sf0.001") {
    val rows = ext.ExtQueries.all("q102_quantile_sketch")(spark, sf)
      .collect().map(_.toSeq.mkString("|")).mkString("\n")
    val digest = md5Hex(rows)
    assert(digest === "1a9bc42b6cfd5d927d4d272fb84735b1", s"q102 output drifted (digest $digest)")
  }
}
