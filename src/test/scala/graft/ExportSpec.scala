package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Diff, Export, Sketches, TextOps}
import graft.io.Parquet

/** Sharded export, sketch statistics, and snapshot diff — the corpus
  * lifecycle operators around a curation run. The oracled behavior is
  * covered by the driver's DuckDB gate (q93/q95); these pin the
  * crafted-input semantics, the writer's physical layout, the HLL
  * error/merge/round-trip contracts (q94's no-oracle gate), and the
  * independent-reimplementation checks on the hash spellings.
  */
class ExportSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** Independent JVM-side replay of the md5Long60 fold. */
  private def md5Long60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("shardOf matches an independent JVM md5 replay and stays in range") {
    val ids = Seq(0L, 1L, 7L, 12345L, 999999L)
    val got = ids.toDF("id")
      .select($"id", Export.shardOf($"id", 8).as("shard"))
      .as[(Long, Long)].collect().toMap
    for (id <- ids) {
      val want = md5Long60(id.toString + "graft") % 8
      assert(got(id) === want, s"shard of $id")
      assert(got(id) >= 0 && got(id) < 8)
    }
  }

  test("shardOf: null id raises, not silently routes") {
    val e = intercept[Exception] {
      Seq[java.lang.Long](1L, null).toDF("id")
        .select(Export.shardOf($"id", 4)).collect()
    }
    assert(e.getMessage.toLowerCase.contains("null id"))
  }

  test("shardManifest: hand-computed fixture (counts, tokens, bytes, xor checksum)") {
    // two docs in shard A, one in shard B — derive shards first, then
    // assert the per-shard rollup against scalar arithmetic
    val df = docsDf(1L -> "a b c", 2L -> "déjà vu", 3L -> "x")
    val shards = Map(1L -> md5Long60("1graft") % 4,
      2L -> md5Long60("2graft") % 4, 3L -> md5Long60("3graft") % 4)
    val texts = Map(1L -> "a b c", 2L -> "déjà vu", 3L -> "x")
    val m = Export.shardManifest(df, 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    for (shard <- shards.values.toSeq.distinct) {
      val members = shards.filter(_._2 == shard).keys.toSeq
      val wantTok = members.map(id => texts(id).split(" ", -1).length.toLong).sum
      val wantBytes = members.map(id => texts(id).getBytes("UTF-8").length.toLong).sum
      val wantCk = members.map(id => md5Long60(s"$id:${texts(id)}")).foldLeft(0L)(_ ^ _)
      assert(m(shard) === ((members.size.toLong, wantTok, wantBytes, wantCk)), s"shard $shard")
    }
    assert(m.keySet === shards.values.toSet, "only populated shards appear")
  }

  test("shardManifest is invariant under repartition") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val a = Export.shardManifest(d, 8).orderBy("shard").collect().toSeq
    val b = Export.shardManifest(d.repartition(7, $"lang"), 8)
      .orderBy("shard").collect().toSeq
    assert(a === b)
  }

  // --- Sketches ---------------------------------------------------------

  test("HLL estimates are near-exact for small cardinalities and within 3 sigma at 50k") {
    // small: sparse/coupon mode — near-exact (the estimator corrects
    // for coupon hash collisions, so e.g. 500 -> 502, not exactly 500)
    val small = (1 to 500).map(i => ("s", s"v$i")).toDF("g", "v")
    val estS = Sketches.estimates(Sketches.build(small, Seq("g"), "v"), Seq("g"))
      .as[(String, Double)].collect().head._2
    assert(math.abs(estS - 500.0) <= 5.0, s"small-cardinality estimate drifted: $estS")
    // large: 3-sigma envelope of the lgK=12 RSE (1.04/sqrt(4096) ~ 1.6%)
    val n = 50000
    val large = (1 to n).map(i => ("l", s"value_$i")).toDF("g", "v")
    val estL = Sketches.estimates(Sketches.build(large, Seq("g"), "v"), Seq("g"))
      .as[(String, Double)].collect().head._2
    val rse = 1.04 / math.sqrt(1 << 12)
    assert(math.abs(estL - n) <= 3 * rse * n,
      s"estimate $estL outside 3-sigma of $n")
  }

  test("golden digest: q94 per-facet estimates are bit-stable at sf0.001") {
    val rows = ext.ExtQueries.all("q94_distinct_sketch")(spark, sf)
      .as[(String, String, Double)].collect()
      .map { case (s, l, e) => s"$s|$l|$e" }.mkString("\n")
    val digest = md5Hex(rows)
    assert(digest === "28796f96062fb5588ab08c719c1d835c", s"q94 output drifted (digest $digest)")
  }

  // --- Theta sketches ---------------------------------------------------

  test("theta estimates and set algebra are exact below nominal entries") {
    // A = {v1..v300}, B = {v201..v500}: |A|=300, |B|=300, |A∩B|=100
    val a = (1 to 300).map(i => ("g", s"v$i")).toDF("g", "v")
    val b = (201 to 500).map(i => ("g", s"v$i")).toDF("g", "v")
    val sa = Sketches.thetaBuild(a, Seq("g"), "v")
    val sb = Sketches.thetaBuild(b, Seq("g"), "v")
    val row = Sketches.overlap(sa, sb, Seq("g"))
      .as[(String, Double, Double, Double, Double, Double)].collect().head
    assert(row === (("g", 300.0, 300.0, 100.0, 200.0, 200.0)),
      "theta is exact below 2^lgK distinct values — any drift is a bug, not noise")
  }

  test("theta 50k estimate within 3 sigma; merge of halves == single-pass build") {
    val n = 50000
    val large = (1 to n).map(i => ("l", s"value_$i")).toDF("g", "v")
    val est = Sketches.thetaEstimates(
      Sketches.thetaBuild(large, Seq("g"), "v"), Seq("g"))
      .as[(String, Double)].collect().head._2
    val rse = 1.0 / math.sqrt(1 << 12)
    assert(math.abs(est - n) <= 3 * rse * n, s"theta estimate $est outside 3-sigma of $n")
    // merge ≡ rebuild through the parquet round-trip (the persisted-index lifecycle)
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("__norm", TextOps.normalizeText($"text"))
    val full = Sketches.thetaEstimates(
      Sketches.thetaBuild(d, Seq("source"), "__norm"), Seq("source"))
      .orderBy("source").collect().toSeq
    val h1 = Sketches.thetaBuild(d.where($"doc_id" % 2 === 0), Seq("source"), "__norm")
    val h2 = Sketches.thetaBuild(d.where($"doc_id" % 2 =!= 0), Seq("source"), "__norm")
    val path = SparkTestBase.tmpDir("graft_theta") + "/idx"
    h1.write.parquet(path)
    val merged = Sketches.thetaEstimates(
      Sketches.thetaMerge(Parquet.read(spark, path).unionByName(h2), Seq("source")),
      Seq("source"))
      .orderBy("source").collect().toSeq
    assert(merged === full)
  }

  test("q96 overlap matches the exact SQL intersection at sf0.001 (below nominal)") {
    val got = ext.ExtQueries.all("q96_overlap_sketch")(spark, sf)
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // exact ground truth, same split + normalization spelling
    val d = ext.Sampling.assignSplit(
      spark.read.parquet(s"$sf/documents.parquet")
        .withColumn("__norm", TextOps.normalizeText($"text")),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val tr = d.where($"split" === "train").select($"source", $"__norm").distinct()
    val te = d.where($"split" === "test").select($"source", $"__norm").distinct()
    val exactA = tr.groupBy("source").count().as[(String, Long)].collect().toMap
    val exactB = te.groupBy("source").count().as[(String, Long)].collect().toMap
    val exactI = tr.intersect(te).groupBy("source").count().as[(String, Long)].collect().toMap
    for ((src, (aEst, bEst, iEst)) <- got) {
      assert(aEst === exactA(src).toDouble, s"$src a_distinct")
      assert(bEst === exactB(src).toDouble, s"$src b_distinct")
      assert(iEst === exactI.getOrElse(src, 0L).toDouble, s"$src overlap")
    }
  }

  test("golden digest: q96 overlap report is bit-stable at sf0.001") {
    val rows = ext.ExtQueries.all("q96_overlap_sketch")(spark, sf)
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}|${r._6}").mkString("\n")
    val digest = md5Hex(rows)
    assert(digest === "e58f46c645e40f23bfa361cca1c468b1", s"q96 output drifted (digest $digest)")
  }

  // --- Diff -------------------------------------------------------------

  test("snapshotDiff: all four statuses on crafted snapshots") {
    val old = docsDf(1L -> "same", 2L -> "before", 3L -> "dropped")
    val neu = docsDf(1L -> "same", 2L -> "after", 4L -> "brand new")
    val got = Diff.snapshotDiff(old, neu).orderBy("doc_id")
      .select("doc_id", "status").as[(Long, String)].collect().toSeq
    assert(got === Seq(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    // digests travel with the row: absent side is null
    val fps = Diff.snapshotDiff(old, neu).where($"doc_id" === 4L)
      .select("old_fp", "new_fp").collect().head
    assert(fps.isNullAt(0) && fps.getString(1) === md5Hex("brand new"))
  }

  test("snapshotDiff digests never shuffle text (plan audit)") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val plan = Diff.snapshotDiff(d, d.withColumn("text", upper($"text")))
      .queryExecution.executedPlan.toString
    // both Exchange inputs must be (id, fp) projections — the full text
    // column may appear only below the md5 projection, never post-shuffle
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty, "expected a shuffle for the full-outer join")
    assert(!plan.contains("text#") || {
      // crude but effective: text must not be a join output attribute
      val joinLine = plan.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
      !joinLine.contains("text#")
    }, s"text column must not survive into the join:\n$plan")
  }

  // --- Frequent-items (Misra-Gries) sketches ----------------------------

  test("freq sketch below capacity: estimates EXACT, max_err 0, (est DESC, item ASC) order") {
    // 40 distinct items with distinct counts — capacity 256 never purges
    val rows = (1 to 40).flatMap(i => Seq.fill(41 - i)(("g", f"t$i%02d")))
    val sk = Sketches.freqBuild(rows.toDF("g", "v"), Seq("g"), "v", maxMapSize = 256)
    val top = Sketches.freqTopK(sk, Seq("g"), k = 5)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(top === Seq(
      ("g", "t01", 40L, 40L, 40L, 0L),
      ("g", "t02", 39L, 39L, 39L, 0L),
      ("g", "t03", 38L, 38L, 38L, 0L),
      ("g", "t04", 37L, 37L, 37L, 0L),
      ("g", "t05", 36L, 36L, 36L, 0L)))
  }

  test("freq weighted build from a pre-aggregated (item, count) table == raw-row build") {
    val raw = Seq.fill(7)(("g", "a")) ++ Seq.fill(3)(("g", "b")) ++ Seq(("g", "c"))
    val agg = Seq(("g", "a", 7L), ("g", "b", 3L), ("g", "c", 1L))
    val fromRaw = Sketches.freqTopK(
      Sketches.freqBuild(raw.toDF("g", "v"), Seq("g"), "v"), Seq("g"), 3)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val fromAgg = Sketches.freqTopK(
      Sketches.freqBuild(agg.toDF("g", "v", "n"), Seq("g"), "v",
        weightCol = Some("n")), Seq("g"), 3)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(fromRaw === fromAgg)
    assert(fromRaw.map(t => (t._2, t._3)) === Seq(("a", 7L), ("b", 3L), ("c", 1L)))
  }

  test("requireExact guards: below capacity pass through, above capacity fail with the exact-mode diagnostic") {
    // exceptions cross the task boundary wrapped in SparkException —
    // search the whole cause chain for the diagnostic
    def chainMsg(t: Throwable): String = {
      var c = t; val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
      sb.toString
    }
    // theta (q96's guard): lgK=4 → 16 nominal entries; 5k distinct samples
    val small = (1 to 10).map(i => ("g", s"v$i")).toDF("g", "v")
    val big = (1 to 5000).map(i => ("g", s"v$i")).toDF("g", "v")
    val tSmall = Sketches.thetaBuild(small, Seq("g"), "v", lgK = 4)
    val tBig = Sketches.thetaBuild(big, Seq("g"), "v", lgK = 4)
    assert(Sketches.overlap(tSmall, tSmall, Seq("g"), requireExact = true)
      .select("a_distinct").as[Double].head() === 10.0)
    val te = intercept[Exception] {
      Sketches.overlap(tBig, tBig, Seq("g"), requireExact = true).collect()
    }
    assert(chainMsg(te).contains("theta sketch left exact mode"))
    // freq (q99's guard): 4000 singletons purge at maxMapSize=64
    val fSmall = Sketches.freqBuild(small, Seq("g"), "v", maxMapSize = 64)
    val fBig = Sketches.freqBuild(big, Seq("g"), "v", maxMapSize = 64)
    assert(Sketches.freqTopK(fSmall, Seq("g"), k = 3, requireExact = true)
      .count() === 3L)
    val fe = intercept[Exception] {
      Sketches.freqTopK(fBig, Seq("g"), k = 3, requireExact = true).collect()
    }
    assert(chainMsg(fe).contains("frequent-items sketch left exact mode"))
    // quantile (q102's guard): 5000 values compact at k=16
    val qSmall = Sketches.quantBuild(
      small.withColumn("x", length($"v").cast("double")), Seq("g"), "x", k = 16)
    val qBig = Sketches.quantBuild(
      big.withColumn("x", length($"v").cast("double")), Seq("g"), "x", k = 16)
    assert(Sketches.quantEstimates(qSmall, Seq("g"), Seq(0.5), requireExact = true)
      .select("n").as[Long].head() === 10L)
    val qe = intercept[Exception] {
      Sketches.quantEstimates(qBig, Seq("g"), Seq(0.5), requireExact = true).collect()
    }
    assert(chainMsg(qe).contains("quantile sketch left exact mode"))
  }

  test("freq above capacity: bounds bracket true counts, heavy hitter always reported") {
    // one dominant item among 4000 singletons forces purging at maxMapSize=64
    val heavy = Seq.fill(500)(("g", "HEAVY"))
    val noise = (1 to 4000).map(i => ("g", s"n$i"))
    val df = (heavy ++ noise).toDF("g", "v").repartition(8)
    val sk = Sketches.freqBuild(df, Seq("g"), "v", maxMapSize = 64)
    val top = Sketches.freqTopK(sk, Seq("g"), k = 100)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val n = 4500L
    val maxErr = top.head._6
    // DataSketches' a-priori guarantee is epsilon = 3.5/maxMapSize
    // (purging drops the map's median count, not the minimum)
    assert(maxErr > 0 && maxErr <= n * 3.5 / 64,
      s"max_err $maxErr outside the 3.5n/maxMapSize bound")
    val hh = top.find(_._2 == "HEAVY")
    assert(hh.nonEmpty, "NO_FALSE_NEGATIVES must report the dominant item")
    assert(hh.get._4 <= 500L && 500L <= hh.get._5, "bounds must bracket the true count")
    // every noise item reported has true count 1 — its lb can never exceed 1
    top.filter(_._2.startsWith("n")).foreach { t =>
      assert(t._4 <= 1L && t._5 >= 1L, s"bounds of ${t._2} don't bracket 1: $t")
    }
  }

  test("freq merge of halves == single-pass build below capacity, incl. parquet round-trip") {
    val rows = (1 to 300).map(i => ("g", s"v$i", (i % 5) + 1L))
      .flatMap { case (g, v, n) => Seq.fill(n.toInt)((g, v)) }
    val df = rows.toDF("g", "v")
    val full = Sketches.freqTopK(
      Sketches.freqBuild(df, Seq("g"), "v", maxMapSize = 1024), Seq("g"), 300)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    val h1 = Sketches.freqBuild(df.where(crc32($"v") % 2 === 0), Seq("g"), "v", maxMapSize = 1024)
    val h2 = Sketches.freqBuild(df.where(crc32($"v") % 2 =!= 0), Seq("g"), "v", maxMapSize = 1024)
    val path = SparkTestBase.tmpDir("graft_freq") + "/idx"
    h1.write.parquet(path)
    val merged = Sketches.freqTopK(
      Sketches.freqMerge(Parquet.read(spark, path).unionByName(h2), Seq("g"), maxMapSize = 1024),
      Seq("g"), 300)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(merged === full,
      "below capacity no purge ever happens, so merge must be EXACTLY the single-pass build")
  }

  test("golden digest: q99 per-source heavy hitters are bit-stable at sf0.001") {
    val rows = ext.ExtQueries.all("q99_heavy_hitters")(spark, sf)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map { case (s, it, e, lb, ub, me) => s"$s|$it|$e|$lb|$ub|$me" }.mkString("\n")
    val digest = md5Hex(rows)
    assert(digest === "92a6bacac5af97012d80b914bc6b34ef", s"q99 output drifted (digest $digest)")
  }
}
