package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, ExtQueries, Similarity, TextOps}

/** Unit tests for the LLM-pipeline extension operators. The oracled
  * behavior is covered by the driver's DuckDB gate (q07-q15); these
  * cover the crafted-input semantics and the two approximate operators
  * (ANN recall vs brute force, SimHash vs exact Jaccard ground truth).
  */
class ExtSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text").withColumn("n_chars", length($"text"))

  test("exact dedup keeps the lowest id per identical text") {
    val df = docsDf(3L -> "a b c", 1L -> "x y", 2L -> "a b c", 5L -> "x y", 4L -> "unique")
    val kept = Dedup.exact(df).select("doc_id").as[Long].collect().sorted
    assert(kept === Seq(1L, 2L, 4L))
  }

  test("shingles: distinct n-grams, short docs give empty set") {
    val out = docsDf(1L -> "a b c b a b c", 2L -> "a b")
      .select($"doc_id", TextOps.shingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L).toSet === Set("a b c", "b c b", "c b a", "b a b"))
    assert(out(2L) === Seq.empty)
  }

  test("minhash signature: identical sets agree, disjoint sets don't") {
    val df = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8",
      3L -> "z1 z2 z3 z4 z5 z6 z7 z8")
      .select($"doc_id",
        Dedup.minHashSignature(TextOps.shingles($"text", 2), 32).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(df(1L) === df(2L))
    // 32 independent hash fns on disjoint sets: expect near-zero agreement
    assert(df(1L).zip(df(3L)).count { case (a, b) => a == b } <= 3)
  }

  test("nearDupMinHash finds injected near-dups and nothing else") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"tok$i").mkString(" ") + " changed"
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val found = Dedup.nearDupMinHash(
      docsDf(1L -> base, 2L -> nearDup, 3L -> other), threshold = 0.8)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(found === Set(1L -> 2L))
  }

  test("ngram Jaccard join matches array-intersect Jaccard exactly (both strategies)") {
    val df = docsDf(
      1L -> "a b c d e f g h",
      2L -> "a b c d e f g x",
      3L -> "p q r s t u v w")
    // pair (1,2): bigrams 7 each, 6 shared -> J = 6/8 = 0.75
    Seq("count", "prefix").foreach { s =>
      val viaJoin = Dedup.nearDupNgramJaccard(df, shingleSize = 2, threshold = 0.1, strategy = s)
        .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(viaJoin === Set((1L, 2L, 0.75)), s"strategy $s")
    }
  }

  test("ngram Jaccard keeps pairs with J exactly at threshold (no FP over-requirement)") {
    // |A| = 28 bigrams ⊂ |B| = 35 bigrams -> J = 28/35 = 0.8 exactly.
    // Double arithmetic computes 0.8·35 = 28.000000000000004 and
    // ceil(0.8/1.8·63) = 29 (exact: 28): without ε-slack both the size
    // bound and the PPJoin position bound silently prune this pair.
    val a = (1 to 29).map(i => s"w$i").mkString(" ")
    val b = (1 to 36).map(i => s"w$i").mkString(" ")
    Seq("count", "prefix").foreach { s =>
      val found = Dedup.nearDupNgramJaccard(docsDf(1L -> a, 2L -> b),
        shingleSize = 2, threshold = 0.8, strategy = s)
        .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(found === Set((1L, 2L, 0.8)), s"strategy $s lost the at-threshold pair")
    }
  }

  test("ngram Jaccard prefix: set size is the DISTINCT shingle count, not occurrences") {
    // doc 1 repeats one bigram pair many times; its distinct-bigram set
    // {xy, yx} is IDENTICAL to doc 2's, so J = 1.0. The prefix branch
    // derives |X| as a window count over the postings — valid only
    // because shingleHashes is sorted-DISTINCT. If |X| ever counted raw
    // occurrences (6 vs 2), the size bound t·max ≤ min would compute
    // 0.9·6 = 5.4 > 2 and silently prune this exact-duplicate pair.
    Seq("count", "prefix").foreach { s =>
      val found = Dedup.nearDupNgramJaccard(
        docsDf(1L -> "x y x y x y x", 2L -> "x y x"),
        shingleSize = 2, threshold = 0.9, strategy = s)
        .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
      assert(found === Set((1L, 2L, 1.0)), s"strategy $s")
    }
  }

  test("count strategy guards against viral shingles (quadratic posting list)") {
    // 12 docs all sharing the bigram "the same": its posting list is a
    // 12²-pair self-join — over a cap of 10 it must fail fast with the
    // prefix strategy named, not silently run the quadratic plan
    val docs = docsDf((1L to 12L).map(i => i -> s"the same tail$i"): _*)
    val e = intercept[IllegalArgumentException](
      Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.9,
        strategy = "count", maxCountDocFreq = 10L).collect())
    assert(e.getMessage.contains("maxCountDocFreq") && e.getMessage.contains("prefix"))
    // deliberately raised, the exact semantics are unchanged
    val raised = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.9,
      strategy = "count", maxCountDocFreq = 12L)
    val viaPrefix = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.9)
    assert(raised.select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
      === viaPrefix.select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet)
  }

  test("near-dup clustering: chains collapse to one representative") {
    // components: {1,2,3} (chain), {10,11}, singleton 99 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = docsDf(1L -> "a", 2L -> "b", 3L -> "c", 10L -> "d", 11L -> "e", 99L -> "f")
    val kept = Dedup.dedupNearDups(docs, pairs).select("doc_id").as[Long].collect().sorted
    assert(kept === Seq(1L, 10L, 99L))
  }

  test("dedupNearDups over fixture minhash pairs removes the injected dups") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.nearDupMinHash(docs, threshold = 0.8)
    val kept = Dedup.dedupNearDups(docs, pairs)
    // expected losers: union-find over the collected pairs
    val edges = pairs.select("a_id", "b_id").as[(Long, Long)].collect()
    assert(edges.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val losers = members.filter(m => find(m) != m)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    assert(keptIds === docs.select("doc_id").as[Long].collect().toSet -- losers)
  }

  test("ngram Jaccard strategies agree on the fixtures") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaCount = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.7)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val viaPrefix = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.7,
      strategy = "prefix").select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(viaCount === viaPrefix)
    assert(viaCount.nonEmpty)
  }

  test("simhash: identical docs distance 0, one-token edit small, unrelated large") {
    val sigs = docsDf(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i j",
      3L -> "a b c d e f g h i zz",
      4L -> "p q r s t u v w x y")
      .select($"doc_id", Dedup.simHashChunks($"text").as("sim"))
    val d = sigs.as("x").join(sigs.as("y"), $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id", $"y.doc_id",
        Dedup.hammingDistance($"x.sim", $"y.sim").as("h"))
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(d((1L, 2L)) === 0)
    assert(d((1L, 3L)) < d((1L, 4L)),
      s"edit distance ${d((1L, 3L))} should be < unrelated ${d((1L, 4L))}")
  }

  test("simhash near-dup pairs on fixtures recover most exact trigram near-dups") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // ground truth: the generator's injected near-dups (trigram J >= 0.9)
    val exact = Dedup.nearDupNgramJaccard(docs, shingleSize = 3, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val sim = Dedup.nearDupSimHash(docs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    // simhash hashes unigram multisets (coarser than trigrams): expect high
    // but not perfect agreement, and no candidate explosion
    val overlap = exact.intersect(sim).size
    assert(overlap >= exact.size / 2, s"simhash found $overlap of ${exact.size} near-dups")
    assert(sim.size <= 4 * exact.size, s"simhash pair explosion: ${sim.size} pairs")
  }

  test("ANN top-1 recall vs brute force pinned at fixed-seed measurement (0.464)") {
    // everything is seeded, so this number is DETERMINISTIC: measured
    // 0.464 (1160/2500) on the near-uniform synthetic embeddings — a
    // hard floor just under it catches any recall regression, and the
    // golden-digest test below catches any output change at all
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ann = Similarity.annTopK(emb, 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val recall = bf.count { case (v, n) => ann.get(v).contains(n) }.toDouble / bf.size
    assert(recall >= 0.45, s"ANN top-1 recall $recall below pinned 0.45 (measured 0.464)")
    assert(ann.size === bf.size, "ANN must return a candidate for every vector")
  }

  test("IVF top-1 recall pinned at fixed-seed measurement (0.618)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, 1, nClusters = 16, nProbe = 4)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivf.size === bf.size, "IVF must return a candidate for every vector")
    val recall = bf.count { case (v, n) => ivf.get(v).contains(n) }.toDouble / bf.size
    // measured 0.618 with the layout-pinned seeded KMeans (was 0.674
    // under the layout-dependent fit); well above the 4/16 ≈ 25%
    // blind-probe chance AND regression-pinned just below measurement
    assert(recall >= 0.60, s"IVF top-1 recall $recall below pinned 0.60 (measured 0.618)")
  }

  test("IVF sampled training (the 100 TB path) keeps recall near full-train") {
    // trainFraction=0.5 halves the KMeans training scans; centroid
    // quality depends on vectors-per-centroid, so recall stays close —
    // seeded sample, so this too is a deterministic measurement
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(emb, 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val ivf = Similarity.ivfTopK(emb, 1, nClusters = 16, nProbe = 4, trainFraction = 0.5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(ivf.size === bf.size, "sampled-train IVF must cover every vector")
    val recall = bf.count { case (v, n) => ivf.get(v).contains(n) }.toDouble / bf.size
    assert(recall >= 0.55,
      s"sampled-train IVF top-1 recall $recall collapsed (full-train pin is 0.65)")
  }

  test("dims audit: all-mismatched corpus throws, partial mismatch is counted not fatal") {
    import graft.ext.Similarity
    // a wrong dims argument zeroes EVERY signature -> one O(m²) garbage
    // mega-bucket per table; the audit turns that silent blowup into a
    // loud failure when the whole corpus disagrees with dims
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = intercept[IllegalArgumentException](Similarity.annTopK(emb, 1, dims = 48))
    assert(e.getMessage.contains("dims=48"))
    // a few stray bad rows are tolerated (warned + counted), and the
    // audit reports their exact count
    val mixed = emb.union(emb.limit(3).withColumn("embedding",
      org.apache.spark.sql.functions.slice(col("embedding"), 1, 10)))
    assert(Similarity.dimsAudit(mixed, "embedding", 64) === (emb.count() + 3, 3L))
    // null vectors are not "mismatched" — they drop out of the explode
    val withNull = emb.union(emb.limit(1).withColumn("embedding",
      org.apache.spark.sql.functions.lit(null).cast("array<float>")))
    assert(Similarity.dimsAudit(withNull, "embedding", 64)._2 === 0L)
  }

  test("persisted ANN index: probing the corpus against its own index == annTopK (bit-for-bit)") {
    // the build-once/probe-forever split must change NOTHING about the
    // answer: same derived capacity, same candidates, same cosine,
    // same tie-breaks — through a parquet round-trip
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = SparkTestBase.tmpDir("graft_ann_index")
    Similarity.annIndex(emb).write.mode("overwrite").parquet(dir)
    val index = spark.read.parquet(dir)
    val direct = Similarity.annTopK(emb, 5)
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    val probed = Similarity.annTopKAgainstIndex(emb, index, 5)
      .as[(Long, Long, Int, Double)].collect().sorted.toSeq
    assert(probed === direct, "index probe drifted from direct annTopK")
  }

  test("persisted ANN probe plan signs only the query side (the corpus never re-signs)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = SparkTestBase.tmpDir("graft_ann_index_plan")
    Similarity.annIndex(emb.where(col("vec_id") % 10 =!= 0))
      .write.mode("overwrite").parquet(dir)
    val plan = Similarity.annTopKAgainstIndex(
        emb.where(col("vec_id") % 10 === 0), spark.read.parquet(dir), k = 3)
      .queryExecution.optimizedPlan.toString
    val signs = "hyperplane_signatures".r.findAllIn(plan).size
    assert(signs === 1,
      s"expected exactly one signature computation (query side); got $signs in:\n$plan")
  }

  test("persisted ANN cross-frame probe (q81): full coverage, recall floor, golden digest") {
    val all = spark.read.parquet(s"$sf/embeddings.parquet")
    val query = all.where(col("vec_id") % 10 === 0)
    val corpus = all.where(col("vec_id") % 10 =!= 0)
    val probed = ExtQueries.q81(spark, sf)
    val top1 = probed.where(col("rnk") === 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    assert(top1.size === query.count(), "probe must cover every query vector")
    // exact cross-frame top-1 baseline (test-only cross join, 250×2250)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val bf = query.select(col("vec_id"), col("embedding").as("__qa"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("__qb")))
      .select(col("vec_id"), col("neighbor_id"),
        Similarity.cosine(col("__qa"), col("__qb")).as("sim"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") === 1)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val recall = bf.count { case (v, n) => top1.get(v).contains(n) }.toDouble / bf.size
    // measured 0.42 on the near-uniform synthetic embeddings (the
    // q16 in-frame measurement is 0.464) — deterministic at the fixed
    // seed; a floor just below catches recall regressions
    assert(recall >= 0.40, s"cross-frame ANN top-1 recall $recall below pinned 0.40 (measured 0.42)")
    // golden digest — the q81 no-oracle hard signal (see q16/q26)
    val digest = md5(probed.as[(Long, Long, Int, Double)].collect()
      .map { case (v, n, r, s) => s"$v,$n,$r,$s" }.mkString("\n"))
    assert(digest === "dd714dd245755a68c441c38358258efb", s"q81 output drifted (digest $digest)")
  }

  test("persisted SimHash index probe == full-corpus cross-frame pair slice") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = SparkTestBase.tmpDir("graft_simhash_idx")
    Dedup.simHashIndex(docs.where(col("doc_id") % 10 =!= 0))
      .write.mode("overwrite").parquet(dir)
    val probed = Dedup.nearDupSimHashAgainstIndex(
        docs.where(col("doc_id") % 10 === 0), spark.read.parquet(dir))
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    val full = Dedup.nearDupSimHash(docs)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    val crossFrame = full.filter { case (a, b, _) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, h) => if (a % 10 == 0) (a, b, h) else (b, a, h) }
    assert(probed === crossFrame,
      "persisted SimHash probe drifted from the full-corpus cross-frame pairs")
    assert(probed.nonEmpty, "fixture must exercise at least one cross-frame pair")
  }

  test("encoding profile flags replacement chars, control bytes, mojibake marks; ascii fraction") {
    val (s2, s3, s4) = ("bad \uFFFD char \uFFFD here", "ctrl\u0001here\u0007end\ttab ok", "x \u00C3 y \u00C2 z \u20AC w")
    val df = docsDf(1L -> "clean ascii text", 2L -> s2, 3L -> s3, 4L -> s4, 5L -> "")
    val out = TextOps.encodingProfile(df)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out(1L) === ((0L, 0L, 0L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0L, (s2.length - 2).toDouble / s2.length)))
    // tab is NOT a control violation and IS ascii
    assert(out(3L) === ((0L, 2L, 0L, (s3.length - 2).toDouble / s3.length)))
    assert(out(4L) === ((0L, 0L, 3L, (s4.length - 3).toDouble / s4.length)))
    assert(out(5L) === ((0L, 0L, 0L, 0.0))) // empty text -> all zero
  }

  test("q84/q85 plan shapes: profile is shuffle-free; normalized dedup shuffles only md5 keys") {
    // q84: the corruption profile is a pure per-row projection — its
    // only Exchanges are the documented single-row-group ingest fan-out
    // (RoundRobin, before any compute) and the final presentation
    // orderBy; no aggregation/join shuffle may appear
    val p84 = ExtQueries.q84(spark, sf).queryExecution.executedPlan.toString
    val nonFanOut = "Exchange (?!RoundRobinPartitioning)".r.findAllIn(p84).size
    assert(nonFanOut === 1,
      s"encoding profile must add no shuffle beyond fan-out + output sort:\n$p84")
    // q85: one aggregation keyed on the 16-byte md5 of the NORMALIZED
    // text (never the text itself) + the winner semi-join, like q07
    val p85 = ExtQueries.q85(spark, sf).queryExecution.executedPlan.toString
    assert(p85.contains("md5"), s"dedup key must be the md5 digest:\n$p85")
    assert("HashAggregate".r.findAllIn(p85).size <= 4, // partial+final x (min, distinct-side)
      s"normalized dedup must stay one narrow agg + semi join:\n$p85")
  }

  test("normalize-then-dedup collapses case/whitespace variants to the lowest id") {
    assert(spark.range(1).select(
        TextOps.normalizeText(lit("  Hello   WORLD \t x ")).as("n"))
      .as[String].head() === "hello world x")
    val df = docsDf(1L -> "a b", 2L -> "A  b ", 3L -> "c", 4L -> "\tA B")
    val kept = Dedup.exact(
        df.withColumn("__norm", TextOps.normalizeText(col("text"))), "doc_id", "__norm")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 3L), "case/whitespace variants must dedup to the first doc")
  }

  test("annTopK plan runs the native signature expression, not interpreted HOFs") {
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val plan = Similarity.annTopK(emb, k = 1).queryExecution.optimizedPlan.toString
    assert(plan.contains("hyperplane_signatures"),
      "bucket signatures must come from the native tight loop (the 10x-scale fix)")
  }

  test("ANN capacity derivation: constant bucket/cell size, floors keep small corpora pinned") {
    import graft.ext.Similarity.{deriveBits, deriveCells}
    // at the test SFs the derivation lands exactly on the historical
    // constants (bits=6, cells=16), so the golden digests stay valid
    assert(deriveBits(500) === 6 && deriveBits(2000) === 6 && deriveBits(2048) === 6)
    assert(deriveCells(500) === 16 && deriveCells(2000) === 16 && deriveCells(2048) === 16)
    // past the floor, capacity tracks the corpus: bucket/cell size is
    // held ~constant instead of buckets going 10x denser (the measured
    // 28-40x blowup on the 10x scale-up)
    assert(deriveBits(20000) === 10)      // ~20 vecs/bucket per table
    assert(deriveCells(20000) === 157)    // 128 vecs/cell
    assert(deriveBits(2000000) === 16)
    assert(deriveCells(2000000) === 15625)
    // caps: bits bounded for int bucket keys, cells bounded for KMeans
    assert(deriveBits(Long.MaxValue) === 30)
    assert(deriveCells(Long.MaxValue) === 65536)
  }

  test("ANN joint capacity derivation bounds candidates/vector at the design budget") {
    import graft.ext.Similarity.{deriveCapacity, deriveTables, expectedRecall}
    // the test SFs land on the historical (6, 12) — golden digests safe
    assert(deriveCapacity(500) === ((6, 12)) && deriveCapacity(2000) === ((6, 12)))
    // at the 10x corpus the one-sided derivations gave (10, 33) = 644
    // candidates/vector (the measured 12.9x sf1 growth); jointly bits
    // rise until the budget fits — candidates scale ∝ n again
    assert(deriveCapacity(20000) === ((12, 53)))
    for (n <- Seq(20000L, 200000L, 5000000L)) {
      val (b, t) = deriveCapacity(n)
      assert(t === deriveTables(b), s"tables must re-derive for the landed bits at n=$n")
      assert(t * (n.toDouble / (1L << b)) <= 384.0,
        s"candidate budget exceeded at n=$n: ($b, $t)")
      // recall holds at the design point until the 64-table cap; past
      // it the erosion is the documented cost/recall trade (explicit
      // overrides are the escape hatch)
      if (t < 64) assert(expectedRecall(b, t) >= 0.95, s"recall eroded below cap at n=$n")
      else assert(t === 64)
    }
  }

  test("derived tables hold expected recall as derived bits grow") {
    import graft.ext.Similarity.{deriveTables, expectedRecall}
    // at the floor the historical configuration is reproduced exactly —
    // pinned q16 digests depend on this
    assert(deriveTables(6) === 12)
    val base = expectedRecall(6, 12) // ≈ 0.97 at the cos=0.8 design point
    assert(base > 0.95 && base < 0.99)
    // a 10x-scale corpus derives more bits; tables must grow alongside
    // or recall silently slides (the round-7 fixed-12-tables gap)
    val t10 = deriveTables(10)
    assert(t10 > 12, s"bits=10 needs >12 tables, derived $t10")
    assert(expectedRecall(10, t10) >= base - 0.01,
      "derived tables must hold the design-point recall")
    assert(expectedRecall(10, 12) < base - 0.05,
      "fixed 12 tables at bits=10 WOULD have slid — the derivation exists for this")
    // cap: very large corpora hit the 64-table ceiling (logged slide)
    assert(deriveTables(16) === 64)
  }

  test("hyperplane signatures: length-mismatched vectors get bit 0 (HOF null semantics)") {
    import graft.ext.Similarity
    // the native expression must reproduce the zip_with chain it
    // replaced: a vector shorter or longer than the plane null-pads the
    // dot product -> NULL > 0 is false -> bit 0, NOT a truncated dot
    val rows = Seq(
      (1L, Seq(0.9f, 0.9f, 0.9f, 0.9f)), // matches dims=4
      (2L, Seq(0.9f, 0.9f, 0.9f)),       // short
      (3L, Seq(0.9f, 0.9f, 0.9f, 0.9f, 0.9f))) // long
      .toDF("vec_id", "embedding")
    val out = rows.select($"vec_id",
        Similarity.lshBuckets($"embedding", tables = 2, bits = 3, dims = 4).as("b"))
      .as[(Long, Seq[Int])].collect().toMap
    assert(out(2L) === Seq(0, 0) && out(3L) === Seq(0, 0),
      "mismatched lengths must bucket to all-zero signatures")
    assert(out(1L).exists(_ != 0),
      "a dims-length positive vector should set at least one sign bit")
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("golden digests: q16 ANN and q26 IVF outputs are bit-stable at fixed seeds") {
    // the no_oracle rows' hard signal: ANY drift in hyperplanes, KMeans
    // seeding, candidate generation, tie-breaks, or cosine arithmetic
    // changes these digests. Re-pin ONLY for an intentional change.
    val q16 = ExtQueries.q16(spark, sf)
      .as[(Long, Long, Int, Double)].collect()
      .map { case (v, n, r, s) => s"$v,$n,$r,$s" }.mkString("\n")
    assert(md5(q16) === "0b291d36a9ef4f4c89b1d1781aca1bfe", "q16 output drifted")
    val q26 = ExtQueries.q26(spark, sf)
      .as[(Long, Long, Int, Double)].collect()
      .map { case (v, n, r, s) => s"$v,$n,$r,$s" }.mkString("\n")
    // re-pinned with the single-sorted-partition deterministic KMeans
    // fit (Similarity.DeterministicFitMaxRows): below the cap the fold
    // order is the sorted row order itself, so the digest can no
    // longer flake on Spark ML's task-completion-order centroid merge
    assert(md5(q26) === "5b84b17a06029496f2d80293d3e80e22", "q26 output drifted")
  }

  test("golden pair set: q17 SimHash pairs at sf0.001 are exactly pinned") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val got = Dedup.nearDupSimHash(docs, maxHamming = 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().sorted.toSeq
    val expected = Seq((0L, 82L, 0), (8L, 12L, 2), (8L, 120L, 2), (8L, 360L, 1),
      (12L, 360L, 1), (16L, 369L, 2), (26L, 176L, 0), (45L, 487L, 2), (56L, 157L, 1),
      (77L, 459L, 2), (99L, 174L, 1), (110L, 242L, 3), (110L, 467L, 2), (119L, 425L, 3),
      (120L, 360L, 3), (144L, 161L, 2), (197L, 246L, 3), (211L, 404L, 2), (229L, 263L, 2),
      (245L, 401L, 3), (260L, 391L, 0), (261L, 296L, 3), (270L, 329L, 1), (306L, 387L, 3),
      (349L, 411L, 0), (387L, 457L, 3), (474L, 498L, 3))
    assert(got === expected, "q17 SimHash pair set drifted from the golden pin")
  }

  test("asOf join: latest right at-or-before left time, inclusive boundary, max tie-break") {
    import graft.ext.AsOfJoin
    val trades = Seq((1L, "k", 100L), (2L, "k", 205L), (3L, "k", 50L), (4L, "z", 10L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq((10L, "k", 90L), (11L, "k", 100L), (12L, "k", 100L), (13L, "k", 200L),
      (14L, "z", 99L))
      .toDF("quote_id", "sym", "qt")
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "t", "qt", "quote_id", Seq("quote_id"))
      .select("trade_id", "quote_id", "asof_ts")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out === Seq(
      (1L, 12L, 100L), // inclusive boundary; tie at t=100 -> max quote_id
      (2L, 13L, 200L)))
    // trade 3 (t=50, before any quote) and trade 4 (z-quote after) drop
    def pairs(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      AsOfJoin.asOf(l, r, Seq("sym"), "t", "qt", "quote_id", Seq("quote_id"))
        .select("trade_id", "quote_id").as[(Long, Long)].collect().toSet
    // null keys match within the null-key group; a NULL right time sorts
    // before every time (the baseline quote)
    assert(pairs(
      Seq((1L, Option("k"), Option(100L)), (2L, None, Option(50L)),
        (3L, None, Option(200L)), (4L, Option("k"), Option(300L)))
        .toDF("trade_id", "sym", "t"),
      Seq((10L, Option("k"), Option(90L)), (11L, None, Option(40L)),
        (12L, None, Option.empty[Long]))
        .toDF("quote_id", "sym", "qt")) ===
      Set(1L -> 10L, 2L -> 11L, 3L -> 11L, 4L -> 10L))
    // every time null: null-time rights are the baseline match
    assert(pairs(
      Seq((1L, "k", Option.empty[Long]), (2L, "k", Option.empty[Long]))
        .toDF("trade_id", "sym", "t"),
      Seq((10L, "k", Option.empty[Long]), (11L, "k", Option.empty[Long]))
        .toDF("quote_id", "sym", "qt")) === Set(1L -> 11L, 2L -> 11L))
    // sentinel times near Long.MinValue order like any other time
    val sentinel = Long.MinValue / 2
    assert(pairs(
      Seq((1L, "k", 100L), (2L, "k", sentinel + 5)).toDF("trade_id", "sym", "t"),
      Seq((10L, "k", sentinel), (11L, "k", 90L)).toDF("quote_id", "sym", "qt")) ===
      Set(1L -> 11L, 2L -> 10L))
  }

  test("connectedComponents throws instead of returning unconverged labels") {
    // a 5-chain needs >1 min-label rounds; cap at 1 must fail loudly
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a_id", "b_id")
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(chain, maxIterations = 1))
    assert(e.getMessage.contains("did not converge"))
  }

  test("maxDocFreqFraction prefix cut agrees with the exact path on fixtures") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.7)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val cut = Dedup.nearDupNgramJaccard(docs, shingleSize = 2, threshold = 0.7,
      maxDocFreqFraction = Some(0.05))
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(exact.nonEmpty)
    assert(cut === exact,
      "stop-shingle cut must keep every qualifying pair on this corpus")
  }

  test("range join: grid binning matches the naive inequality join, strict lower bound") {
    import graft.ext.RangeJoin
    val ev = Seq(("u", 1L, 0L), ("u", 2L, 50L), ("u", 3L, 100L), ("u", 4L, 151L),
      ("u", 5L, 400L), ("v", 6L, 60L))
      .toDF("user", "event_id", "t")
    val out = RangeJoin.coOccurrence(ev, Seq("user"), "event_id", "t", maxGap = 100L)
      .select("a_id", "b_id", "gap").as[(Long, Long, Long)].collect().toSet
    // naive model: same user, 0 < tb-ta <= 100
    val rows = Seq((1L, 0L), (2L, 50L), (3L, 100L), (4L, 151L), (5L, 400L))
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows
      if tb > ta && tb - ta <= 100
    } yield (a, b, tb - ta)).toSet
    assert(out === expected)
    assert(expected.contains((1L, 3L, 100L)), "inclusive upper bound")
    assert(!out.exists(p => p._1 == 6L || p._2 == 6L), "keys must not mix")
  }

  test("cosine is exact on a known pair") {
    val df = Seq((Array(1f, 2f, 0f), Array(2f, 3f, 0f))).toDF("a", "b")
    val sim = df.select(Similarity.cosine($"a", $"b")).as[Double].head()
    assert(sim === 0.9922778767136677) // 8/(sqrt(5)*sqrt(13)), fold order fixed
  }

  test("winnowed fingerprints: deterministic, subset survives local edits") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val edited = ((1 to 40).map(i => s"w$i") ++ Seq("EDIT") ++ (41 to 80).map(i => s"w$i")).mkString(" ")
    val fps = docsDf(1L -> base, 2L -> base, 3L -> edited)
      .select($"doc_id", TextOps.winnowedFingerprints($"text", 3, 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L) === fps(2L))
    val shared = fps(1L).toSet.intersect(fps(3L).toSet)
    assert(shared.size >= fps(1L).size / 2,
      s"local edit should preserve most fingerprints: ${shared.size}/${fps(1L).size}")
    assert(fps(1L).size < base.split(" ").length,
      "winnowing must select fewer fingerprints than shingles")
  }

  test("subwordCount splits on case/letter-digit boundaries (BPE-ish proxy)") {
    val out = Seq((1L, "fooBar v2 hello-world x86runs"))
      .toDF("doc_id", "text")
      .select(TextOps.subwordCount($"text")).as[Int].head()
    // foo|Bar v|2 hello world x|86|runs
    assert(out === 9)
  }

  test("languageId tie-break picks lexicographically first language") {
    // 'table'(de) and 'row'(es) once each: tie 1-1 -> de wins
    val out = TextOps.languageId(docsDf(1L -> "table row"), ExtQueries.langProfiles)
      .select("lang_cand").as[String].head()
    assert(out === "de")
  }

  test("plan audit: facet stats prune unused columns from the parquet scan") {
    val plan = ExtQueries.q08(spark, sf).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty && !readSchema.contains("doc_id"),
      s"doc_id should be pruned from the scan: $readSchema")
  }

  test("plan audit: LSH/bucketed near-dup paths never plan a cartesian join") {
    // brute-force q14/q15 are all-pairs BY DESIGN; every hashed/bucketed
    // path must stay equi-join shaped at any scale
    Seq("q12_near_dup_minhash", "q13_near_dup_jaccard",
        "q16_similarity_ann", "q17_near_dup_simhash",
        "q27_asof_join", "q28_range_join",
        "q46_incremental_near_dup", "q62_salted_join").foreach { name =>
      val plan = ExtQueries.all(name)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans a product join:\n${plan.take(2000)}")
    }
  }

  test("contamination counts shared n-grams; decontaminate keeps only clean docs") {
    val bench = docsDf(100L -> "a b c d e f g h")
    val train = docsDf(
      1L -> "x y a b c d z w",   // shares 5-gram? no (only 4-run a b c d) -> clean at n=5
      2L -> "q a b c d e f r",   // shares "a b c d e" and "b c d e f" -> 2 hits
      3L -> "p q r s t u v w")   // disjoint -> clean
    val out = TextOps.contamination(train, bench, shingleSize = 5)
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 0L, 2L -> 2L, 3L -> 0L))
    val clean = TextOps.decontaminate(train, bench, shingleSize = 5)
      .select("doc_id").as[Long].collect().sorted
    assert(clean === Seq(1L, 3L))
  }

  test("contamination plans a broadcast of the benchmark side, no cartesian") {
    val plan = ExtQueries.q30(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "benchmark side must broadcast")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("embeddingStats: dims, sequential-fold L2 norm, max abs") {
    val df = Seq((1L, Array(3f, 4f, 0f)), (2L, Array(0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.embeddingStats(df)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 3L, 5.0, 4.0)))
    assert(out(1) === ((2L, 3L, 0.0, 0.0)))
  }

  test("assignSplit: deterministic, near-target proportions, salt resamples") {
    import graft.ext.Sampling
    val df = spark.range(20000).toDF("doc_id")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val counts = Sampling.assignSplit(df, splits)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(math.abs(counts("train") - 18000.0) / 18000 < 0.05, counts.toString)
    assert(math.abs(counts("val") - 1000.0) / 1000 < 0.2, counts.toString)
    // same salt = identical assignment; different salt = a fresh draw
    val a = Sampling.assignSplit(df, splits).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val b = Sampling.assignSplit(df, splits).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(a === b)
    val c = Sampling.assignSplit(df, splits, salt = "other").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(a !== c)
    // degenerate fractions rejected
    assertThrows[IllegalArgumentException](
      Sampling.assignSplit(df, Seq("a" -> 0.5, "b" -> 0.2)))
    // a null id must RAISE, not silently land in the last split
    val withNull = Seq(Option(1L), Option.empty[Long]).toDF("doc_id")
    intercept[Exception] {
      Sampling.assignSplit(withNull, splits).collect()
    }
  }

  test("mixtureSample: rate-1 groups keep everything, rate-0 and unlisted drop") {
    import graft.ext.Sampling
    val df = spark.range(4000).toDF("doc_id")
      .withColumn("source", expr("CASE doc_id % 4 WHEN 0 THEN 'all' WHEN 1 THEN 'half' " +
        "WHEN 2 THEN 'none' ELSE 'unlisted' END"))
    val kept = Sampling.mixtureSample(df,
      Map("all" -> 1.0, "half" -> 0.5, "none" -> 0.0), keyCol = "source")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("all") === 1000, "rate 1.0 must keep every row (hex-threshold cap)")
    assert(!kept.contains("none") && !kept.contains("unlisted"))
    assert(math.abs(kept("half") - 500.0) / 500 < 0.2, kept.toString)
  }

  test("temperatureSample damps large groups toward the smallest (sqrt rates)") {
    import graft.ext.Sampling
    // groups: tiny=100, mid=400 (rate 0.5), big=10000 (rate 0.1)
    val df = ((1 to 100).map(i => (i.toLong, "tiny")) ++
      (1001 to 1400).map(i => (i.toLong, "mid")) ++
      (10001 to 20000).map(i => (i.toLong, "big")))
      .toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(df, keyCol = "source")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("tiny") === 100, "smallest group must keep everything")
    assert(math.abs(kept("mid") - 200.0) / 200 < 0.25, s"mid ≈ 400·0.5: $kept")
    assert(math.abs(kept("big") - 1000.0) / 1000 < 0.2, s"big ≈ 10000·0.1: $kept")
    // determinism: same input -> identical selection
    val again = Sampling.temperatureSample(df, keyCol = "source")
      .select("doc_id").as[Long].collect().sorted
    val first = Sampling.temperatureSample(df, keyCol = "source")
      .select("doc_id").as[Long].collect().sorted
    assert(again.toSeq === first.toSeq)
    // a null key RAISES: a stray null group would become the global
    // min count and silently collapse every real group's rate
    val withNull = df.union(Seq((99999L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val e = intercept[Exception] { // SparkRuntimeException or job-wrapped
      Sampling.temperatureSample(withNull, keyCol = "source").count()
    }
    assert(e.getMessage.contains("null source") ||
      Option(e.getCause).exists(_.getMessage.contains("null source")))
  }

  test("chunkDocuments: overlapping fixed-size windows, short tail, single-token doc") {
    import graft.ext.TextOps
    val out = TextOps.chunkDocuments(
      docsDf(1L -> (1 to 10).map(i => s"t$i").mkString(" "), 2L -> "x"),
      chunkTokens = 4, stride = 3)
      .select("doc_id", "chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (1L, 3L, "t10", 1L),
      (2L, 0L, "x", 1L)))
  }

  test("samplePerGroup: k per group, small groups whole, deterministic, no RNG") {
    import graft.ext.Sampling
    val df = ((1 to 30).map(i => (i.toLong, "big")) ++
      (101 to 105).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val kept = Sampling.samplePerGroup(df, k = 10)
    val counts = kept.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(counts === Map("big" -> 10L, "small" -> 5L))
    // selection is a pure function of the rows: rerun -> identical ids
    val a = kept.select("doc_id").as[Long].collect().sorted.toSeq
    val b = Sampling.samplePerGroup(df, k = 10).select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)
    // output schema is the input schema (helper columns dropped)
    assert(kept.columns.toSeq === df.columns.toSeq)
  }

  test("duplicatedSpans: cross-doc windows only, intra-doc repeats counted, short docs skipped") {
    val df = docsDf(
      1L -> "the quick brown fox jumps over it",   // shares a 3-span with doc 2
      2L -> "x the quick brown fox sleeps",
      3L -> "the quick brown the quick brown fox", // intra-doc repeat of "the quick brown"
      4L -> "a b")                                 // < spanTokens -> no windows
    val out = Dedup.duplicatedSpans(df, spanTokens = 3, minDocs = 2)
      .as[(String, Long, Long)].collect().map { case (s, n, d) => s -> (n, d) }.toMap
    // "the quick brown": docs 1,2 once each + doc 3 twice -> 4 occurrences, 3 docs
    assert(out("the quick brown") === (4L, 3L))
    // "quick brown fox": docs 1,2,3 once each
    assert(out("quick brown fox") === (3L, 3L))
    // nothing only-in-one-doc leaks through
    assert(out.keySet === Set("the quick brown", "quick brown fox"))
  }

  test("keyTerms: rational tf-idf ranks rare-but-repeated terms above ubiquitous ones") {
    val df = docsDf(
      1L -> "common rare rare common common",
      2L -> "common other other",
      3L -> "common filler words")
    val out = TextOps.keyTerms(df, k = 2)
      .select("doc_id", "token", "score", "rank")
      .as[(Long, String, Double, Long)].collect()
      .groupBy(_._1).map { case (id, rs) => id -> rs.sortBy(_._4).map(r => (r._2, r._3)).toSeq }
    // doc 1: rare tf=2 df=1 -> 2*3/1=6; common tf=3 df=3 -> 3*3/3=3
    assert(out(1L) === Seq("rare" -> 6.0, "common" -> 3.0))
    // doc 2: other tf=2 df=1 -> 6; common tf=1 df=3 -> 1
    assert(out(2L) === Seq("other" -> 6.0, "common" -> 1.0))
    // doc 3: filler/words tf=1 df=1 -> 3 each, token-asc tiebreak
    assert(out(3L) === Seq("filler" -> 3.0, "words" -> 3.0))
  }

  test("resampleDaily: zero-fills missing days per key, running cumulative") {
    import graft.ext.TimeSeries
    val df = Seq(
      ("a", "2024-01-01 10:00:00"), ("a", "2024-01-01 11:00:00"),
      ("a", "2024-01-04 09:00:00"), ("b", "2024-02-10 00:00:00"))
      .toDF("k", "tss").withColumn("ts", to_timestamp($"tss"))
    val out = TimeSeries.resampleDaily(df, "k", "ts")
      .select($"k", $"day".cast("string"), $"n_events", $"cum_events")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      ("a", "2024-01-01", 2L, 2L),
      ("a", "2024-01-02", 0L, 2L),
      ("a", "2024-01-03", 0L, 2L),
      ("a", "2024-01-04", 1L, 3L),
      ("b", "2024-02-10", 1L, 1L)))
  }

  test("dailyAnomalies: spike flagged, constant series never flagged, short-start frames ok") {
    import graft.ext.TimeSeries
    // key s: constant 5/day for 9 days, then a 50-event spike
    val rows = (1 to 9).flatMap(d => Seq.fill(5)(("s", f"2024-01-$d%02d 01:00:00"))) ++
      Seq.fill(50)(("s", "2024-01-10 01:00:00")) ++
      (1 to 10).flatMap(d => Seq.fill(3)(("c", f"2024-03-$d%02d 12:00:00")))
    val dense = TimeSeries.resampleDaily(
      rows.toDF("k", "tss").withColumn("ts", to_timestamp($"tss")), "k", "ts")
    val out = TimeSeries.dailyAnomalies(dense, "k")
      .select($"k", $"day".cast("string"), $"zscore", $"is_anomaly")
      .as[(String, String, Double, Boolean)].collect()
    val flagged = out.filter(_._4).map(r => (r._1, r._2)).toSet
    assert(flagged === Set("s" -> "2024-01-10"), s"only the spike day: $out")
    // the spike's z: frame = six 5s + one 50 -> s=80, s2=2650
    val spike = out.find(r => r._1 == "s" && r._2 == "2024-01-10").get._3
    val mean = 80.0 / 7; val varr = 2650.0 / 7 - mean * mean
    assert(math.abs(spike - (50 - mean) / math.sqrt(varr)) < 1e-12)
    // constant key: variance 0 on every day -> z exactly 0, never flagged
    assert(out.filter(_._1 == "c").forall(r => r._3 === 0.0 && !r._4))
  }

  test("forwardFill carries the last non-null per key in order, all-null key stays null") {
    import graft.ext.TimeSeries
    val df = Seq(
      ("k1", 1, Some(10)), ("k1", 2, None), ("k1", 3, Some(30)), ("k1", 4, None),
      ("k2", 1, None)).toDF("k", "seq", "v")
    val out = TimeSeries.forwardFill(df, "k", "seq", Seq("v"))
      .select("k", "seq", "v").as[(String, Int, Option[Int])]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(out === Seq(
      ("k1", 1, Some(10)), ("k1", 2, Some(10)), ("k1", 3, Some(30)),
      ("k1", 4, Some(30)), ("k2", 1, None)))
  }

  test("winsorizeByGroup clips at each group's own percentiles and flags only tails") {
    import graft.ext.Sampling
    // g: 0,10,...,100 (n=11) -> p10 = 10.0, p90 = 90.0 (index p*(n-1))
    val df = ((0 to 10).map(i => ("g", i * 10)) :+ ("h", 7) :+ ("h", 7))
      .toDF("k", "v")
    val out = Sampling.winsorizeByGroup(df, "k", "v", pLo = 0.1, pHi = 0.9)
      .select("k", "v", "v_clipped", "is_clipped")
      .as[(String, Int, Double, Boolean)].collect()
    val g = out.filter(_._1 == "g").sortBy(_._2)
    assert(g.head === ("g", 0, 10.0, true), "low tail clipped up")
    assert(g.last === ("g", 100, 90.0, true), "high tail clipped down")
    assert(g.count(_._4) === 2, "only the two tails flagged")
    assert(g.filter(!_._4).forall(r => r._3 === r._2.toDouble), "interior unchanged")
    // constant group: lo == hi == value -> nothing clipped
    assert(out.filter(_._1 == "h").forall(r => !r._4 && r._3 === 7.0))
  }

  test("orderedIds equals global row_number without a single-partition window") {
    import graft.ext.Ids
    // shuffled input across many partitions; unique total order on v
    val df = spark.range(0, 1000).select(
      (col("id") * 7919 % 1000).as("v"), col("id").as("orig"))
      .repartition(13)
    val out = Ids.orderedIds(df, Seq("v"), nPartitions = 7)
    val got = out.select("v", "row_id").as[(Long, Long)].collect().sortBy(_._1)
    // v covers 0..999 uniquely -> row_id must be v+1
    assert(got.forall { case (v, id) => id === v + 1 }, got.take(5).toSeq.toString)
    // plan audit: no global-sort single-partition window on the data
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window [row_number()"), "must not plan the naive global window")
  }

  test("Checks.report counts all rules in one pass; orphans counts missing and null keys") {
    import graft.ext.Checks
    val df = Seq((1L, 10.0, "ok"), (2L, -5.0, "ok"), (3L, 0.0, "bad"), (4L, 2.0, "ok"))
      .toDF("id", "amount", "status")
    val rep = Checks.report(df, Seq(
      Checks.Rule("nonpositive_amount", col("amount") <= 0),
      Checks.Rule("bad_status", col("status") === "bad")))
      .select("rule", "n_violations", "n_rows", "violation_frac")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1)
    assert(rep.toSeq === Seq(
      ("bad_status", 1L, 4L, 0.25),
      ("nonpositive_amount", 2L, 4L, 0.5)))
    val child = Seq((Some(1L), "a"), (Some(99L), "b"), (None: Option[Long], "c"))
      .toDF("fk", "x")
    val parent = Seq(Tuple1(1L), Tuple1(2L)).toDF("pk")
    val orph = Checks.orphans(child, parent, "orphan_fk", "fk", "pk")
      .select("rule", "n_violations", "n_rows")
      .as[(String, Long, Long)].collect().toSeq
    assert(orph === Seq(("orphan_fk", 2L, 3L)), "99 and NULL are both orphans")
  }

  test("null-key guards: winsorize and resample raise instead of silently dropping/zeroing") {
    import graft.ext.{Sampling, TimeSeries}
    val wNull = Seq((Some("g"), 1), (None: Option[String], 2)).toDF("k", "v")
    val e1 = intercept[Exception] {
      Sampling.winsorizeByGroup(wNull, "k", "v").count()
    }
    assert(e1.getMessage.contains("null k") ||
      Option(e1.getCause).exists(_.getMessage.contains("null k")))
    val tNull = Seq((Some("g"), "2024-01-01 00:00:00"), (None: Option[String], "2024-01-02 00:00:00"))
      .toDF("k", "tss").withColumn("ts", to_timestamp($"tss"))
    val e2 = intercept[Exception] {
      TimeSeries.resampleDaily(tNull, "k", "ts").count()
    }
    assert(e2.getMessage.contains("null k") ||
      Option(e2.getCause).exists(_.getMessage.contains("null k")))
  }

  test("Checks on an empty table reports clean zeros, not NULL/NaN") {
    import graft.ext.Checks
    val empty = Seq.empty[(Long, Double)].toDF("id", "amount")
    val rep = Checks.report(empty, Seq(Checks.Rule("neg", col("amount") < 0)))
      .select("rule", "n_violations", "n_rows", "violation_frac")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(rep === Seq(("neg", 0L, 0L, 0.0)))
    val orph = Checks.orphans(empty.select(col("id").as("fk")),
      Seq(Tuple1(1L)).toDF("pk"), "orphan_fk", "fk", "pk")
      .select("n_violations", "n_rows", "violation_frac")
      .as[(Long, Long, Double)].collect().toSeq
    assert(orph === Seq((0L, 0L, 0.0)))
  }

  test("salted join == plain join on a hot-key fixture, and salt reaches the shuffle key") {
    import graft.ext.Joins
    // 90% of probe rows share key 1 — the straggler shape
    val probe = ((1 to 900).map(i => (1L, i.toLong)) ++
      (901 to 1000).map(i => (i.toLong % 7 + 2, i.toLong))).toDF("k", "pv")
    val build = (1L to 10L).map(k => (k, s"b$k")).toDF("k", "bv")
    val salted = Joins.salted(probe, build, Seq("k"), buckets = 8)
    val plain = probe.join(build, Seq("k"))
    assert(salted.select("k", "pv", "bv").as[(Long, Long, String)].collect().sorted.toSeq
      === plain.select("k", "pv", "bv").as[(Long, Long, String)].collect().sorted.toSeq)
    // the join key must carry the salt lane, or nothing was gained
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from the plan:\n${plan.take(1500)}")
  }

  test("Checks.profile: null and exact distinct counts per column in one pass") {
    import graft.ext.Checks
    val df = Seq(
      (Some("a"), Some(1L)), (Some("a"), None),
      (Some("b"), Some(2L)), (None: Option[String], Some(2L)))
      .toDF("s", "v")
    val out = Checks.profile(df, Seq("s", "v"))
      .select("col_name", "n_nulls", "n_distinct", "n_rows")
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq(("s", 1L, 2L, 4L), ("v", 1L, 2L, 4L)))
    // approx variant: same shape, sketch counts in the right ballpark
    val approx = Checks.profile(df, Seq("s"), approx = true)
      .select("n_distinct").as[Long].collect()(0)
    assert(approx >= 1L && approx <= 3L)
  }

  test("weightedSample: clamped heavy rows always kept, light rows rare, deterministic") {
    import graft.ext.Sampling
    // 100 light (w=1) + 10 heavy (w=1000): heavy rate = 1000·0.3·110/10100 ≈ 3.3 -> clamped
    val df = ((1 to 100).map(i => (i.toLong, 1L)) ++
      (1001 to 1010).map(i => (i.toLong, 1000L))).toDF("doc_id", "n_chars")
    val kept = Sampling.weightedSample(df, "n_chars", fraction = 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert((1001L to 1010L).forall(kept.contains), "clamped heavy rows must all survive")
    // light rate ≈ 0.0033 -> a handful at most out of 100
    assert(kept.count(_ <= 100) <= 5, s"too many light rows: $kept")
    // deterministic: rerun -> identical selection
    val again = Sampling.weightedSample(df, "n_chars", fraction = 0.3)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(again === kept)
    // negative weight raises
    val bad = df.union(Seq((9999L, -1L)).toDF("doc_id", "n_chars"))
    val e = intercept[Exception] {
      Sampling.weightedSample(bad, "n_chars", fraction = 0.3).count()
    }
    assert(e.getMessage.contains("n_chars") ||
      Option(e.getCause).exists(_.getMessage.contains("n_chars")))
  }

  test("repetitionMetrics: dup n-gram fractions and top-token share, short-doc zeros") {
    import graft.ext.TextOps
    val out = TextOps.repetitionMetrics(docsDf(
      1L -> "a a a a",        // bigrams: 3 total, 1 distinct -> 2/3 dup; top a: 1.0
      2L -> "a b c d",        // all distinct -> 0 dup; top 1/4
      3L -> "a b a b a",      // bigrams: 4 total {a b, b a} -> 1/2 dup; top a: 3/5
      4L -> "x"))             // < 2 tokens -> zeros, top 1/1
      .select("doc_id", "dup_bigram_frac", "dup_trigram_frac", "top_token_frac")
      .as[(Long, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 1.0 - 1.0 / 3, 1.0 - 1.0 / 2, 1.0)))
    assert(out(2L) === ((2L, 0.0, 0.0, 0.25)))
    assert(out(3L) === ((3L, 0.5, 1.0 - 2.0 / 3, 0.6)))
    assert(out(4L) === ((4L, 0.0, 0.0, 1.0)))
  }

  test("packSequences: first-fit-by-order bins, shard isolation, overflow allowed") {
    import graft.ext.TextOps
    // shard A: token counts 3,3,3,3 with capacity 5 -> bins {0:[1,2], 1:[3,4]}
    // (doc 2 overflows bin 0: a bin closes only once its total crosses capacity)
    val df = Seq(
      (1L, "A", "a b c"), (2L, "A", "d e f"), (3L, "A", "g h i"), (4L, "A", "j k l"),
      (5L, "B", "x y")).toDF("doc_id", "shard", "text")
    val out = TextOps.packSequences(df, capacity = 5, shardCols = Seq("shard"))
      .select("shard", "bin_id", "n_docs", "sum_tokens", "first_doc", "last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      ("A", 0L, 2L, 6L, 1L, 2L),
      ("A", 1L, 2L, 6L, 3L, 4L),
      ("B", 0L, 1L, 2L, 5L, 5L)))
    assertThrows[IllegalArgumentException](
      TextOps.packSequences(df, capacity = 5, shardCols = Nil))
  }

  test("packSequences with a pluggable token counter (the bring-your-own-tokenizer seam)") {
    import graft.ext.TextOps
    // BPE-ish counter: words AND punctuation marks count as tokens —
    // "a,b." is 2 whitespace tokens ("a,b.") vs 4 BPE-ish (a , b .)
    val bpeish = size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
    val df = Seq(
      (1L, "A", "a, b."), (2L, "A", "c! d?"), (3L, "A", "e f"),
      (4L, "B", "just plain words")).toDF("doc_id", "shard", "text")
    // whitespace counts: 2,2,2 -> capacity 4 puts docs 1+2 in bin 0
    val ws = TextOps.packSequences(df, capacity = 4, shardCols = Seq("shard"))
      .select("shard", "bin_id", "n_docs", "sum_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(ws === Set(("A", 0L, 2L, 4L), ("A", 1L, 1L, 2L), ("B", 0L, 1L, 3L)))
    // BPE-ish counts: 4,4,2 -> doc 1 alone crosses capacity 4, so each
    // punctuated doc takes its own bin; sum_tokens is the CUSTOM count
    val bpe = TextOps.packSequences(df, capacity = 4, shardCols = Seq("shard"),
        tokenCount = Some(bpeish))
      .select("shard", "bin_id", "n_docs", "sum_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(bpe === Set(("A", 0L, 1L, 4L), ("A", 1L, 1L, 4L), ("A", 2L, 1L, 2L),
      ("B", 0L, 1L, 3L)))
    // a PRECOMPUTED count column works the same way (tokenize once
    // upstream, reuse everywhere — the operational shape)
    val pre = TextOps.packSequences(df.withColumn("n_bpe", bpeish),
        capacity = 4, shardCols = Seq("shard"), tokenCount = Some(col("n_bpe")))
      .select("shard", "bin_id", "n_docs", "sum_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(pre === bpe)
  }

  test("packSequences subShards: deterministic md5 lanes, per-lane binning, derived lane count") {
    import graft.ext.{Export, TextOps}
    val df = (1L to 40L).map(i => (i, "A", "a b c")).toDF("doc_id", "shard", "text")
      .unionByName(Seq((101L, "B", "x y")).toDF("doc_id", "shard", "text"))
    val laned = TextOps.packSequences(df, capacity = 5,
      shardCols = Seq("shard"), subShards = 4)
    assert(laned.columns.contains("lane"), "laned output carries the lane key")
    // the lane is a pure function of the id: recompute and compare
    val expectLane = df.select(col("doc_id"),
      (Export.md5Long60(concat(lit("lane:"), col("doc_id").cast("string"))) % 4)
        .as("lane"))
    // per (shard, lane), the binning equals packing THAT lane's rows alone
    val oneLane = expectLane.where($"lane" === 2L).join(df, "doc_id")
    val direct = TextOps.packSequences(oneLane, capacity = 5,
        shardCols = Seq("shard"))
      .select("shard", "bin_id", "n_docs", "sum_tokens", "first_doc", "last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    val fromLaned = laned.where($"lane" === 2L)
      .select("shard", "bin_id", "n_docs", "sum_tokens", "first_doc", "last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(fromLaned === direct,
      "a lane's bins must equal packing the lane in isolation")
    // lane assignment is partitioning-independent: repartitioned input,
    // identical laned packing
    val repart = TextOps.packSequences(df.repartition(7), capacity = 5,
        shardCols = Seq("shard"), subShards = 4)
      .select("shard", "lane", "bin_id", "n_docs", "sum_tokens")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val once = laned.select("shard", "lane", "bin_id", "n_docs", "sum_tokens")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(repart === once)
    // total doc/token mass is conserved across the lane split
    assert(laned.agg(sum("n_docs"), sum("sum_tokens"))
      .as[(Long, Long)].head() === ((41L, 122L)))
    // subShards = 1 stays the unlaned schema (q34/q47 unchanged)
    assert(!TextOps.packSequences(df, 5, Seq("shard")).columns.contains("lane"))
    // derived lane count: hottest shard 40 docs / target 16 -> 3 lanes
    assert(TextOps.derivedPackLanes(df, Seq("shard"), 16L) === 3)
    assert(TextOps.derivedPackLanes(df, Seq("shard"), 1000L) === 1)
    // a caller 'lane' column refuses loudly under subShards > 1
    intercept[IllegalArgumentException] {
      TextOps.packSequences(df.withColumn("lane", lit(9)), 5,
        Seq("shard"), subShards = 2) }
  }

  test("chunkDocuments with a pluggable tokenizer cuts windows on the caller's boundaries") {
    import graft.ext.TextOps
    val df = Seq((1L, "ab|cd|ef|gh|ij")).toDF("doc_id", "text")
    // caller's tokenizer: pipe-split pieces, reassembled with no
    // separator (the subword shape)
    val out = TextOps.chunkDocuments(df, chunkTokens = 2, stride = 2,
        tokensCol = Some(split(col("text"), "\\|")), sep = "")
      .select("chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out === Seq((0L, "abcd", 2L), (1L, "efgh", 2L), (2L, "ij", 1L)))
  }

  test("packSequencesText materializes bins as id-ordered concatenations") {
    import graft.ext.TextOps
    val df = Seq(
      (2L, "A", "c d"), (1L, "A", "a b"), (3L, "A", "e f"), // capacity 4: bin0={1,2}, bin1={3}
      (5L, "B", "x y")).toDF("doc_id", "shard", "text")
    val out = TextOps.packSequencesText(df, capacity = 4, shardCols = Seq("shard"))
      .select("shard", "bin_id", "packed_text", "n_docs", "sum_tokens")
      .as[(String, Long, String, Long, Long)].collect().toSet
    assert(out === Set(
      ("A", 0L, "a b c d", 2L, 4L), // id order, not input order
      ("A", 1L, "e f", 1L, 2L),
      ("B", 0L, "x y", 1L, 2L)))
  }

  test("plan audit: sampling and packing keep their promised shuffle shapes") {
    import graft.ext.{Sampling, TextOps}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // split assignment: a narrow projection — no shuffle at all
    val splitPlan = Sampling.assignSplit(docs,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"),
      s"assignSplit must not shuffle:\n${splitPlan.take(1500)}")
    // mixture sampling: rates table broadcast, no hash exchange
    val mixPlan = Sampling.mixtureSample(docs,
      Map("de" -> 0.5, "en" -> 1.0), keyCol = "lang")
      .queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastHashJoin"),
      s"mixtureSample must broadcast the rates:\n${mixPlan.take(1500)}")
    assert(!mixPlan.contains("Exchange hashpartitioning"),
      s"mixtureSample must not hash-shuffle the corpus:\n${mixPlan.take(1500)}")
    // packing: exactly the per-shard window + aggregation shuffles, and
    // the aggregation reuses the window's partitioning (shard ⊂ keys)
    val packPlan = TextOps.packSequences(docs, 2048, Seq("lang"))
      .queryExecution.executedPlan.toString
    val exchanges = packPlan.linesIterator.count(_.trim.startsWith("+- Exchange"))
    assert(exchanges <= 2, s"packing should need at most window+agg exchanges:\n$packPlan")
  }

  test("dedupNearDupsBest keeps the highest-score member per cluster, min-id on ties") {
    val docs = Seq(
      (1L, "aaa", 10L), (2L, "aaa2", 30L), (3L, "aaa3", 30L), // cluster {1,2,3}
      (4L, "bbb", 5L),                                        // singleton
      (5L, "ccc", 7L), (6L, "ccc2", 2L))                      // cluster {5,6}
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val kept = Dedup.dedupNearDupsBest(docs, pairs, scoreCol = "n_chars")
      .select("doc_id").as[Long].collect().sorted
    // cluster 1: 2 and 3 tie at 30 -> keep 2; cluster 2: keep 5
    assert(kept === Seq(2L, 4L, 5L))
  }

  test("stopwordFraction: corpus-derived top-k list, exact per-doc fractions") {
    // corpus top-2 tokens: 'a' (5), 'b' (3)
    val df = docsDf(1L -> "a a b c", 2L -> "a b d", 3L -> "a a b", 4L -> "x y z w")
    val out = TextOps.stopwordFraction(df, topK = 2)
      .select("doc_id", "stopword_frac").as[(Long, Double)].collect().toMap
    assert(out === Map(1L -> 0.75, 2L -> 2.0 / 3, 3L -> 1.0, 4L -> 0.0))
  }

  test("stopwordFraction in-row == the explode/join/groupBy/join-back reference") {
    // the earlier spelling: explode every token, broadcast left join to
    // the top-k list, per-doc counts, left join back to the docs
    def reference(docs: org.apache.spark.sql.DataFrame, topK: Int) = {
      val stops = TextOps.topTokens(docs, topK).select($"token")
      val counts = docs.select($"doc_id", explode(TextOps.tokens($"text")).as("token"))
        .join(broadcast(stops.withColumn("__stop", lit(1))), Seq("token"), "left")
        .groupBy($"doc_id")
        .agg(count($"__stop").as("__hits"), count(lit(1)).as("__total"))
      docs.join(counts, Seq("doc_id"), "left")
        .withColumn("n_tokens", coalesce($"__total", lit(0L)))
        .withColumn("stopword_frac", coalesce($"__hits", lit(0L)).cast("double") / $"n_tokens")
        .drop("__hits", "__total")
    }
    def outcome(f: => org.apache.spark.sql.DataFrame) = scala.util.Try(
      f.select("doc_id", "text", "n_chars", "n_tokens", "stopword_frac")
        .as[(Long, Option[String], Option[Int], Long, Option[Double])]
        .collect().sortBy(_._1).toSeq).toEither.left.map(_.getClass)
    val crafted = docsDf(1L -> "a a b c", 2L -> "a b d", 3L -> "a a b", 4L -> "x y z w",
      5L -> "a  b", 6L -> "", 7L -> "  ", 8L -> "b b b b a", 9L -> "c c a")
    val withNull = crafted.union(Seq((10L, null: String)).toDF("doc_id", "text")
      .withColumn("n_chars", length($"text")))
    val empty = crafted.where(lit(false))
    for (docs <- Seq(crafted, empty); k <- Seq(1, 2, 20)) {
      val got = outcome(TextOps.stopwordFraction(docs, topK = k))
      assert(got.isRight, s"topK=$k: $got")
      assert(got === outcome(reference(docs, k)), s"topK=$k")
    }
    assert(outcome(TextOps.stopwordFraction(empty, topK = 2)) === Right(Seq.empty))
    // a NULL text counts 0 tokens on both spellings; the 0/0 fraction is
    // NULL, or the ANSI divide-by-zero error, alike
    Seq("true", "false").foreach { ansi =>
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      try Seq(1, 2, 20).foreach { k =>
        assert(outcome(TextOps.stopwordFraction(withNull, topK = k)) ===
          outcome(reference(withNull, k)), s"ansi=$ansi topK=$k")
      } finally spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("incremental near-dup: cross-set pairs only, exact Jaccard, no intra-set pairs") {
    val query = docsDf(10L -> "w1 w2 w3 w4 w5 w6", 20L -> "q1 q2 q3 q4")
    val corpus = docsDf(
      1L -> "w1 w2 w3 w4 w5 w6",  // identical to 10 -> J=1
      2L -> "w1 w2 w3 w4 w5 zz",  // 4-gram overlap: J = 3/5 < 0.8 at shingle 3... verify below
      3L -> "q1 q2 q3 q4")        // identical to 20
    val out = Dedup.nearDupMinHashAgainst(query, corpus, shingleSize = 3, threshold = 0.8)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(out === Set((10L, 1L, 1.0), (20L, 3L, 1.0)))
    // querying the corpus against itself would be the symmetric op; the
    // asymmetric one must never pair corpus docs with each other even
    // when they are near-dups (1 and 2 share shingles)
    assert(!out.exists(p => p._1 == 1L || p._1 == 2L))
  }

  test("persisted MinHash index: parquet round-trip probe == direct incremental near-dup (q46)") {
    // the operational shape: build the corpus index ONCE, persist it,
    // and probe every ingest batch against the files — must reproduce
    // the direct operator exactly (same bands, same verify)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val query = docs.where($"doc_id" % 10 === 0)
    val corpus = docs.where($"doc_id" % 10 =!= 0)
    val direct = Dedup.nearDupMinHashAgainst(query, corpus, shingleSize = 3, threshold = 0.8)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val dir = SparkTestBase.tmpDir("graft_mh_index")
    Dedup.minHashIndex(corpus, shingleSize = 3).write.mode("overwrite").parquet(dir)
    val probed = Dedup.nearDupMinHashAgainstIndex(
      query, spark.read.parquet(dir), shingleSize = 3, threshold = 0.8)
      .select("a_id", "b_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(direct.nonEmpty, "fixture must contain cross-set near-dups")
    assert(probed === direct, "index probe drifted from the direct operator")
  }

  test("pair graph persisted once serves both keep policies (the q23/q44 shape)") {
    // one signature+banding+verify job writes the pair graph; BOTH
    // dedup policies consume the parquet — outputs must equal the
    // registry paths (q23 / q44), which share their own persisted
    // graph via ExtQueries.sharedPairGraph
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = SparkTestBase.tmpDir("graft_pair_graph")
    Dedup.writePairGraph(docs, dir, shingleSize = 3, threshold = 0.8)
    val pairs = spark.read.parquet(dir)
    assert(pairs.columns.sorted.toSeq === Seq("a_id", "b_id", "jaccard"))
    val keptLowest = Dedup.dedupNearDups(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val q23 = ExtQueries.q23(spark, sf).select("doc_id").as[Long].collect().toSeq
    assert(keptLowest === q23, "shared-pair-graph dedupNearDups != q23")
    val keptBest = Dedup.dedupNearDupsBest(docs, pairs, scoreCol = "n_chars")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val q44 = ExtQueries.q44(spark, sf).select("doc_id").as[Long].collect().toSeq
    assert(keptBest === q44, "shared-pair-graph dedupNearDupsBest != q44")
  }

  test("q23/q44 registry queries consume ONE persisted pair graph (plan evidence)") {
    // after the memoized graph exists, both registry queries read the
    // SAME parquet artifact: the pairs side of each plan is a FileScan,
    // with no second signature/banding/verify derivation anywhere in it
    ExtQueries.q23(spark, sf).collect()
    val shared = ExtQueries.sharedPairGraph(spark, sf)
    val sharedPlan = shared.queryExecution.executedPlan.toString
    assert(sharedPlan.contains("FileScan parquet"),
      s"shared pair graph is not a parquet scan:\n$sharedPlan")
    for (q <- Seq(ExtQueries.q23(spark, sf), ExtQueries.q44(spark, sf))) {
      val plan = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("shinglehashes") && !plan.contains("minhash"),
        s"registry query re-derives the pair pipeline instead of scanning the graph:\n$plan")
    }
    // and the two artifacts are literally the same files: one memo entry
    val p23 = ExtQueries.sharedPairGraph(spark, sf).inputFiles.toSet
    assert(p23.nonEmpty && p23 === shared.inputFiles.toSet)
  }

  test("semantic near-dup pairs: nClusters=1 is EXACTLY the brute-force pair set") {
    // with one cell, the within-cell join IS the all-pairs join — the
    // exactness anchor for the clustered approximation (same cosine
    // expression, so sims must be bit-equal too)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.nearDupPairs(emb, threshold = 0.45)
      .as[(Long, Long, Double)].collect().toSet
    val oneCell = Similarity.semanticNearDupPairs(emb, threshold = 0.45, nClusters = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(oneCell === exact)
    // clustered: a SUBSET of the exact pairs (cells only ever drop
    // cross-cell pairs, never invent or perturb one), and it still
    // finds pairs. No recall-ratio floor here: the sf0.001 fixture has
    // only 7 exact pairs (near-random vectors), so a ratio would gate
    // on sampling noise — recall discipline for this family lives in
    // the q16/q26 ANN floors; the q75 digest pins THIS keep set.
    val clustered = Similarity.semanticNearDupPairs(emb, threshold = 0.45, nClusters = 16)
      .as[(Long, Long, Double)].collect().toSet
    assert(clustered.subsetOf(exact), "clustered pairs must come from the exact set")
    assert(clustered.nonEmpty, "16-cell partition found no within-cell pairs at all")
  }

  test("multi-probe semantic pairs: monotone recall toward the exact anchor at fixed seed") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Similarity.semanticNearDupPairs(emb, threshold = 0.45, nClusters = 1)
      .as[(Long, Long, Double)].collect().toSet
    def clustered(nProbe: Int): Set[(Long, Long, Double)] =
      Similarity.semanticNearDupPairs(emb, threshold = 0.45, nClusters = 16,
          nProbe = nProbe)
        .as[(Long, Long, Double)].collect().toSet
    val p1 = clustered(1)
    val p2 = clustered(2)
    val p4 = clustered(4)
    // by construction: a pair meeting under nProbe=k still meets under
    // nProbe>k (both keep their top-k cells), and probing never invents
    // a pair the exact all-pairs join wouldn't have
    assert(p1.subsetOf(p2) && p2.subsetOf(p4) && p4.subsetOf(exact),
      "multi-probe must grow recall monotonically inside the exact set")
    // fixed-seed measurement pinned (the q16/q26 recall-floor pattern):
    // 16 cells miss cross-cell pairs at nProbe=1; probing the second
    // cell must recover at least one of them on this fixture
    assert(p2.size > p1.size,
      s"nProbe=2 recovered no boundary pair (p1=${p1.size}, p2=${p2.size}, exact=${exact.size})")
    // more pairs can only merge dedup components: survivor count is
    // non-increasing in nProbe, and the pairs plumb through semanticDedup
    val kept1 = Similarity.semanticDedup(emb, threshold = 0.45, nClusters = 16).count()
    val kept4 = Similarity.semanticDedup(emb, threshold = 0.45, nClusters = 16,
      nProbe = 4).count()
    assert(kept4 <= kept1)
  }

  test("semanticDedup keeps one representative per embedding-duplicate group") {
    val rows: Seq[(Long, Array[Float])] = Seq(
      5L -> Array(1f, 0f, 0f), 9L -> Array(1f, 0f, 0f), 2L -> Array(0.999f, 0.01f, 0f),
      7L -> Array(0f, 1f, 0f), 8L -> Array(0f, 1f, 0f),
      3L -> Array(0f, 0f, 1f)) // unpaired: survives
    val emb = rows.toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, threshold = 0.95, nClusters = 2)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 3L, 7L))
  }

  test("golden digest: q75 semantic dedup keep set is bit-stable at sf0.001") {
    // re-pinned with the deterministic single-partition KMeans fit;
    // see the q26 note
    val q75 = ExtQueries.q75(spark, sf).as[Long].collect().mkString("\n")
    assert(md5(q75) === "c0ab9dc47231838d5281c4c29e6019ac", "q75 output drifted")
  }

  test("domain blocklist drops exactly the linking docs; blocklist joins as a broadcast") {
    val df = docsDf(
      1L -> "a http://bad.example.com/x b",
      2L -> "plain text no urls",
      3L -> "see https://ok.example.org/y",
      4L -> "http://bad.example.com/z plus https://ok.example.org/w")
    val out = TextOps.dropByDomain(df, Seq("bad.example.com"))
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "the blocklist must broadcast, never shuffle the corpus side")
  }

  test("boilerplate fraction: overlapping covered positions, short docs, unshared docs") {
    val df = docsDf(1L -> "a b c d", 2L -> "a b x y", 3L -> "q r s",
      4L -> "a b a b", 5L -> "z")
    val got = Dedup.boilerplateFraction(df, spanTokens = 2)
      .select("doc_id", "n_tokens", "boilerplate_frac")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((4L, 0.5)))  // "a b" covers positions 0,1 of 4
    assert(got(2L) === ((4L, 0.5)))
    assert(got(3L) === ((3L, 0.0)))  // nothing shared
    assert(got(4L) === ((4L, 1.0)))  // "a b" at 0 and 2: overlap unions to all 4
    assert(got(5L) === ((1L, 0.0)))  // shorter than the span: no windows
  }

  test("chooseBanding: recovers the shipped constants; recall/threshold trade moves as designed") {
    // the operators' shipped (bands=32, r=4) at 128 hashes is the
    // cheapest split meeting recall >= 1-1e-6 at the 0.8 threshold
    assert(Dedup.chooseBanding(128, 0.8) === ((32, 4)))
    // a higher threshold admits longer rows at the same recall floor
    val (bStrict, rStrict) = Dedup.chooseBanding(128, 0.95)
    assert(bStrict < 32 && rStrict > 4)
    // a laxer recall floor also admits longer rows (cheaper verify)
    val (bLax, rLax) = Dedup.chooseBanding(128, 0.8, minRecall = 0.9)
    assert(bLax < 32 && rLax > 4)
    // the chosen split always divides the signature exactly and meets
    // the floor by construction
    for (t <- Seq(0.3, 0.6, 0.9); n <- Seq(64, 128, 256)) {
      val (b, r) = Dedup.chooseBanding(n, t)
      assert(b * r === n)
      assert(1.0 - math.pow(1.0 - math.pow(t, r), b) >= 0.999999)
    }
    val e = intercept[IllegalArgumentException](Dedup.chooseBanding(128, 1.0))
    assert(e.getMessage.contains("threshold"))
    // an unreachable recall floor fails with the floor named and the best
    // achievable split suggested, not an opaque empty.minBy
    val unreachable = intercept[IllegalArgumentException](Dedup.chooseBanding(4, 0.2))
    assert(unreachable.getMessage.contains("best achievable") &&
      unreachable.getMessage.contains("bands=4"))
  }

  test("sharedPairGraph lands under graft.scratch.dir when set (cluster-safe artifact path)") {
    val corpus = SparkTestBase.tmpDir("graft_scratch_corpus")
    docsDf(1L -> "a b c d e", 2L -> "a b c d e", 3L -> "z y x w v")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val scratch = SparkTestBase.tmpDir("graft_scratch_root")
    spark.conf.set("graft.scratch.dir", scratch)
    try {
      val pairs = ExtQueries.sharedPairGraph(spark, corpus)
      assert(pairs.count() === 1) // docs 1 and 2 are identical
      val artifacts = new java.io.File(s"$scratch/pair_graph").listFiles()
      assert(artifacts != null && artifacts.nonEmpty,
        "the pair graph must materialize under the conf'd Spark-visible scratch root")
      assert(artifacts.head.getName.startsWith(spark.sparkContext.applicationId))
    } finally spark.conf.unset("graft.scratch.dir")
  }

  test("stripBoilerplate removes exactly the covered positions, keeps order, empties full-template docs") {
    val df = docsDf(1L -> "a b c d", 2L -> "x a b y", 3L -> "a b", 4L -> "q r s")
    // span "a b" (2-token) shared by docs 1,2,3
    val got = Dedup.stripBoilerplate(df, spanTokens = 2)
      .select("doc_id", "clean_text", "n_removed")
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === (("c d", 2L)))
    assert(got(2L) === (("x y", 2L)))   // interior strip keeps surrounding order
    assert(got(3L) === (("", 2L)))      // fully templated -> empty string
    assert(got(4L) === (("q r s", 0L))) // untouched
    // consistency: n_removed == covered-position count from the measure
    val frac = Dedup.boilerplateFraction(df, spanTokens = 2)
      .select("doc_id", "n_tokens", "boilerplate_frac")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> math.round(r._2 * r._3)).toMap
    assert(got.view.mapValues(_._2).toMap === frac)
    // plan evidence for the 8-byte shuffle currency: the occurrence
    // frame materializes as (id, pos, __h) — span text already
    // fingerprinted (xxhash64 inside the checkpointed lineage) — so no
    // raw `span` column survives into the coverage agg/semi join
    val plan = Dedup.boilerplateFraction(df, spanTokens = 2)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("__h") && !plan.contains("span#"),
      "covered-position derivation must shuffle span fingerprints, not span strings")
  }

  test("dedup impact report: per-group kept/removed/cluster accounting, cross-group clusters") {
    // cluster A = {1,2,3,30} (comp 1, spans en+fr), cluster B = {10,11}
    // (comp 10, de); 20 is unpaired
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "en"), (10L, "de"), (11L, "de"),
      (20L, "de"), (30L, "fr")).toDF("doc_id", "lang")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 30L)).toDF("a_id", "b_id")
    val got = Dedup.impactReport(docs, pairs, Seq("lang"))
      .select("lang", "n_docs", "n_removed", "n_kept", "n_clusters")
      .as[(String, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("en") === (("en", 3L, 2L, 1L, 1L)))  // 1 kept (the component min)
    assert(got("de") === (("de", 3L, 1L, 2L, 1L)))  // 20 unpaired, 11 removed
    assert(got("fr") === (("fr", 1L, 1L, 0L, 1L)))  // 30's keeper lives in en
    // totals must agree with the removal operator itself
    val removed = got.values.map(_._3).sum
    assert(docs.count() - Dedup.dedupNearDups(docs, pairs).count() === removed)
  }

  test("incremental exact dedup probes a persisted digest index") {
    // corpus holds "seen"; batch has: a corpus dup (drop), an in-batch
    // dup pair (keep lowest id), and a fresh text (keep)
    val corpus = docsDf(100L -> "seen", 101L -> "other")
    val batch = docsDf(1L -> "seen", 2L -> "twice", 3L -> "twice", 4L -> "fresh")
    val dir = SparkTestBase.tmpDir("graft_exact_index")
    Dedup.exactIndex(corpus).write.mode("overwrite").parquet(dir)
    val kept = Dedup.exactAgainst(batch, spark.read.parquet(dir))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 4L))
    // appending the batch's own digests rolls the index forward: the
    // same batch probed again is fully deduplicated
    Dedup.exactIndex(batch).write.mode("append").parquet(dir)
    assert(Dedup.exactAgainst(batch, spark.read.parquet(dir)).isEmpty)
  }

  test("bloom prefilter: exactAgainstBloom == exactAgainst through a parquet round-trip") {
    // the crafted mix exactAgainst's own test uses: a corpus dup, an
    // in-batch dup pair, a fresh text — plus enough fresh rows that
    // the bloom-negative fast path is certainly exercised
    val corpus = docsDf((100L -> "seen") +: (101L to 140L).map(i => i -> s"corpus $i"): _*)
    val batch = docsDf((1L -> "seen") +: (2L -> "twice") +: (3L -> "twice") +:
      (4L to 40L).map(i => i -> s"fresh $i"): _*)
    val idxDir = SparkTestBase.tmpDir("graft_bloom_idx")
    val bloomDir = SparkTestBase.tmpDir("graft_bloom_bf")
    Dedup.exactIndex(corpus).write.mode("overwrite").parquet(idxDir)
    val idx = spark.read.parquet(idxDir)
    Dedup.bloomOfIndex(idx).write.mode("overwrite").parquet(bloomDir)
    val bloom = spark.read.parquet(bloomDir)
    val expect = Dedup.exactAgainst(batch, idx)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val got = Dedup.exactAgainstBloom(batch, idx, bloom)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(got === expect)
    assert(got.take(3) === Seq(2L, 4L, 5L))
    // equivalence must hold at ANY fpp — a sloppy filter only grows
    // the confirm set, never the answer
    val sloppy = Dedup.bloomOfIndex(idx, fpp = 0.5)
    assert(Dedup.exactAgainstBloom(batch, idx, sloppy)
      .select("doc_id").as[Long].collect().sorted.toSeq === expect)
  }

  test("bloom membership expression: no false negatives, codegen path") {
    val idx = Dedup.exactIndex(docsDf((1L to 50L).map(i => i -> s"doc $i"): _*))
    val bloomDf = Dedup.bloomOfIndex(idx)
    assert(bloomDf.select("n_items").as[Long].head() === 50L)
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomDf.select("bloom").head().getAs[Array[Byte]](0)))
    val bc = spark.sparkContext.broadcast(bf)
    // every inserted key answers true THROUGH the expression (i.e. in
    // a distributed plan, not just driver-side bf.mightContainLong)
    val hits = idx.withColumn("__hit",
        graft.functions.ArrayExprs.bloomMightContainLong(xxhash64($"__fp"), bc))
      .where(!$"__hit").count()
    assert(hits === 0L, "a Bloom filter must have zero false negatives")
    // and the expression survives whole-stage codegen: same answers
    // with the interpreter fallback forced off is implied by the run
    // above; here pin that at 1% fpp absent keys are mostly rejected
    val absent = (1000L to 1199L).map(i => i -> s"absent $i")
    val fp = docsDf(absent: _*)
      .withColumn("__hit", graft.functions.ArrayExprs.bloomMightContainLong(
        xxhash64(org.apache.spark.sql.functions.md5($"text")), bc))
      .where($"__hit").count()
    assert(fp <= 20L, s"~1% fpp expected on 200 absent keys, got $fp")
  }

  test("lmPerplexity: hand-computed bigram model on a crafted corpus") {
    // corpus: doc 1 "a b a b a" (bigrams ab×2, ba×2), doc 2 "a b c"
    // (ab, bc); model over BOTH docs: c2(ab)=3, c2(ba)=2, c2(bc)=1,
    // c1(a)=3, c1(b)=3; V=3; k=0.5 → replicate the operator's exact
    // double tree (log2 via ln/ln2, sorted-fold, one division, pow)
    val df = docsDf(1L -> "a b a b a", 2L -> "a b c")
    val got = TextOps.lmPerplexity(df, addK = 0.5)
      .select("doc_id", "n_bigrams", "cross_entropy", "perplexity")
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, n, h, p) => d -> ((n, h, p)) }.toMap
    // Spark's math expressions route through StrictMath (fdlibm), not
    // java.lang.Math — platform-stable, and what we must replicate here
    def log2(x: Double) = StrictMath.log(x) / StrictMath.log(2.0)
    def logp(c2: Long, c1: Long) = log2(c2 + 0.5) - log2(c1 + 0.5 * 3)
    // doc 1: distinct bigrams sorted (a,b) then (b,a), multiplicities 2,2
    val sum1 = 2.0 * logp(3, 3) + 2.0 * logp(2, 3)
    val h1 = -sum1 / 4.0
    assert(got(1L) === ((4L, h1, StrictMath.pow(2.0, h1))))
    // doc 2: (a,b) then (b,c), multiplicities 1,1
    val sum2 = 1.0 * logp(3, 3) + 1.0 * logp(1, 3)
    val h2 = -sum2 / 2.0
    assert(got(2L) === ((2L, h2, StrictMath.pow(2.0, h2))))
  }

  test("knPerplexityAgainst: hand-computed interpolated-KN fixture, bit-for-bit") {
    // train: d1 "a b a c", d2 "c a" → c2: ab=1, ba=1, ac=1, ca=1;
    // c1: a=2, b=1, c=1; N1+(prev,·): a=2, b=1, c=1;
    // N1+(·,cur): a=2, b=1, c=1; T=4 types, V=3.
    // probe "a b x a": (a,b) seen-seen, (b,x) seen-prev/unseen-cur
    // (the max(c2−D,0)=0 arm), (x,a) unseen-prev (pure continuation)
    val model = TextOps.lmTrain(docsDf(1L -> "a b a c", 2L -> "c a"))
    val got = TextOps.knPerplexityAgainst(
      docsDf(10L -> "a b x a"), model, discount = 0.75)
      .select("doc_id", "n_bigrams", "cross_entropy", "perplexity")
      .as[(Long, Long, Double, Double)].collect()
    def log2(x: Double) = StrictMath.log(x) / StrictMath.log(2.0)
    // the operator's exact double tree, term for term
    def pcont(n1pCur: Double) = (n1pCur + 1.0) / ((4.0 + 3.0) + 1.0)
    val pAB = math.max(1.0 - 0.75, 0.0) / 2.0 + 0.75 * 2.0 / 2.0 * pcont(1.0)
    val pBX = math.max(0.0 - 0.75, 0.0) / 1.0 + 0.75 * 1.0 / 1.0 * pcont(0.0)
    val pXA = pcont(2.0)
    // fold order is sorted (prev, cur): (a,b) < (b,x) < (x,a)
    val sum = 1.0 * log2(pAB) + 1.0 * log2(pBX) + 1.0 * log2(pXA)
    val h = -sum / 3.0
    assert(got.toSeq === Seq((10L, 3L, h, StrictMath.pow(2.0, h))))
  }

  test("knPerplexityAgainst: continuation beats raw frequency (the KN motivation)") {
    // Z is FREQUENT but only ever follows 'san' (one continuation
    // context); Y is rarer but follows three distinct contexts. After
    // an unseen context, KN must prefer Y — while add-k's unseen-
    // bigram score doesn't depend on the target word at all (same
    // score for both), which is exactly the bias KN fixes.
    val model = TextOps.lmTrain(docsDf(
      1L -> "san Z san Z san Z san Z",
      2L -> "a Y b Y c Y"))
    val probes = docsDf(30L -> "fresh Z", 31L -> "fresh Y")
    val kn = TextOps.knPerplexityAgainst(probes, model)
      .select("doc_id", "perplexity").as[(Long, Double)].collect().toMap
    assert(kn(31L) < kn(30L),
      "KN must score the many-contexts word as more expected after a novel context")
    val addk = TextOps.lmPerplexityAgainst(probes, model)
      .select("doc_id", "perplexity").as[(Long, Double)].collect().toMap
    assert(addk(31L) === addk(30L),
      "add-k's unseen-bigram score is target-blind — the contrast this spec pins")
  }

  test("knPerplexityAgainst: unseen text finite; repartition-invariant; bad discount raises") {
    val model = TextOps.lmTrain(docsDf(1L -> "a b a c"))
    val unseen = TextOps.knPerplexityAgainst(
      docsDf(5L -> "totally novel words here"), model)
      .select("perplexity").as[Double].collect()
    assert(unseen.length === 1 && !unseen.head.isNaN && !unseen.head.isInfinite
      && unseen.head > 0)
    val probes = docsDf(6L -> "a b c a", 7L -> "c a b")
    val base = TextOps.knPerplexityAgainst(probes, model)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val shuffled = TextOps.knPerplexityAgainst(probes.repartition(7), model)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(base === shuffled)
    intercept[IllegalArgumentException] {
      TextOps.knPerplexityAgainst(probes, model, discount = 1.0) }
  }

  test("q144 KN probe: persisted model scores == in-memory model, bit-for-bit") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val direct = TextOps.knPerplexityAgainst(
      docs.where($"doc_id" % 10 === 0),
      TextOps.lmTrain(docs.where($"doc_id" % 10 =!= 0)), discount = 0.75)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaParquet = ExtQueries.q144(spark, sf)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaParquet === direct)
  }

  test("golden digest: q144 KN perplexity output is bit-stable at sf0.001") {
    // same contract as q73/q80: no SQL oracle (libm), so any drift in
    // the split, the derived KN statistics, the probability tree, or
    // the fold order changes this digest. Re-pin ONLY intentionally.
    val q144 = ExtQueries.q144(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, n, h, p) => s"$d,$n,$h,$p" }.mkString("\n")
    assert(md5(q144) === "8d46d3ab20c7c65b7913d0eb360a6a51", "q144 output drifted")
  }

  test("lmPerplexity: bit-identical under repartition; single-token docs NULL") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val base = TextOps.lmPerplexity(docs)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val shuffled = TextOps.lmPerplexity(docs.repartition(7))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    assert(base === shuffled,
      "per-doc fold order leaked partitioning into the score")
    // single-token doc: no bigrams -> NULL entropy/perplexity
    val single = TextOps.lmPerplexity(docsDf(1L -> "only", 2L -> "two tokens"))
      .where($"doc_id" === 1L).select("cross_entropy").collect()
    assert(single.length === 1 && single.head.isNullAt(0))
  }

  test("lmPerplexity ranks fluent repetition below rare-token soup (agrees with q72 signal)") {
    // 20 docs of the same common phrase + 1 doc of unique tokens: the
    // unique doc must carry the highest perplexity AND the highest
    // integer surprisal (the two scores agree on the outlier)
    val rows = (1L to 20L).map(i => (i, "the quick brown fox jumps")) :+
      (21L, "zxq wvu tsr qpo nml")
    val df = rows.toDF("doc_id", "text")
    val ppl = TextOps.lmPerplexity(df)
      .select("doc_id", "perplexity").as[(Long, Double)].collect().toMap
    assert(ppl(21L) > ppl(1L) * 2,
      s"gibberish ${ppl(21L)} not clearly above fluent ${ppl(1L)}")
    val bits = TextOps.unigramSurprisalBits(df)
      .select("doc_id", "avg_bits").as[(Long, Double)].collect().toMap
    assert(bits(21L) > bits(1L), "integer surprisal disagrees on the outlier")
  }

  test("persisted LM model: parquet round-trip score == lmPerplexity; unseen text scores high") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = SparkTestBase.tmpDir("graft_lm_model")
    TextOps.lmTrain(docs).write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)
    val direct = TextOps.lmPerplexity(docs)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val viaModel = TextOps.lmPerplexityAgainst(docs, model)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    assert(viaModel === direct,
      "scoring the corpus against its own persisted model drifted from lmPerplexity")
    // a batch of tokens the model never saw: smoothing keeps the score
    // finite, and it lands above every in-domain score (the operator's
    // whole point: out-of-domain text is flagged, not crashed on)
    val alien = docsDf(900L -> "zzq wwx vvy uut ssr")
    val alienPpl = TextOps.lmPerplexityAgainst(alien, model)
      .select("perplexity").as[Double].collect().head
    assert(!alienPpl.isNaN && !alienPpl.isInfinite && alienPpl > 0)
    // all-unseen text converges to the smoothing ceiling ppl ≈ V (a
    // 31-token fixture vocabulary), which individual rare-bigram docs
    // can exceed — so the discriminative claim is against the TYPICAL
    // in-domain score, not the max
    val meanInDomain = TextOps.lmPerplexity(docs)
      .agg(avg($"perplexity")).as[Double].collect().head
    assert(alienPpl > meanInDomain,
      s"unseen-token batch ($alienPpl) must out-score the in-domain mean ($meanInDomain)")
  }

  test("trigram LM (n=3): hand-computed scores on a crafted corpus") {
    // corpus: "a b c a b c" (4 trigrams: abc, bca, cab, abc) + "a b d"
    // (abd); contexts: "a b"->{c:2, d:1}, "b c"->{a:1}, "c a"->{b:1};
    // V=4 (a,b,c,d); k=0.5
    val df = docsDf(1L -> "a b c a b c", 2L -> "a b d")
    val got = TextOps.lmPerplexity(df, addK = 0.5, n = 3)
      .select("doc_id", "n_bigrams", "cross_entropy")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def log2(x: Double) = StrictMath.log(x) / StrictMath.log(2.0)
    def logp(c: Long, ctx: Long) = log2(c + 0.5) - log2(ctx + 0.5 * 4)
    // doc 1 distinct trigrams sorted by (prev, cur):
    // ("a b","c")x2, ("b c","a")x1, ("c a","b")x1
    val s1 = 2.0 * logp(2, 3) + 1.0 * logp(1, 1) + 1.0 * logp(1, 1)
    assert(got(1L) === ((4L, -s1 / 4.0)))
    // doc 2: ("a b","d")x1
    assert(got(2L) === ((1L, -(1.0 * logp(1, 3)) / 1.0)))
  }

  test("golden digest: q73 LM perplexity output is bit-stable at sf0.001") {
    // the no_oracle row's hard signal (same contract as q16/q26): any
    // drift in tokenization, counts, smoothing, fold order, or libm
    // usage changes this digest. Re-pin ONLY for an intentional change.
    val q73 = ExtQueries.q73(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, n, h, p) => s"$d,$n,$h,$p" }.mkString("\n")
    assert(md5(q73) === "fe8c81f70b148cd4b3cd7efeb241ac96", "q73 output drifted")
  }

  test("q80 persisted-LM probe: parquet round-trip scores bit-identical to the in-memory model") {
    // the model is exact integer counts (+ the vocab marker), so the
    // parquet round-trip must change NOTHING about scoring — this
    // equality is the operational split's correctness anchor
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batch = docs.where($"doc_id" % 10 === 0)
    val direct = TextOps.lmPerplexityAgainst(batch,
      TextOps.lmTrain(docs.where($"doc_id" % 10 =!= 0)), addK = 0.5)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaParquet = ExtQueries.q80(spark, sf)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaParquet === direct,
      "persisted-model scoring drifted from the in-memory model")
  }

  test("golden digest: q80 persisted-LM probe output is bit-stable at sf0.001") {
    // same contract as q73: no SQL oracle (libm), so any drift in the
    // split, training counts, smoothing, or fold order changes this
    // digest. Re-pin ONLY for an intentional change.
    val q80 = ExtQueries.q80(spark, sf)
      .as[(Long, Long, Double, Double)].collect()
      .map { case (d, n, h, p) => s"$d,$n,$h,$p" }.mkString("\n")
    assert(md5(q80) === "a51bb52e0461a0b539922fbe02ff85ae", "q80 output drifted")
  }

  test("connectedComponents pointer doubling: long chain converges in O(log d) rounds") {
    // a 40-link chain has diameter 40: one-hop min propagation alone
    // needs 41 rounds (it would blow the default cap of 20); with the
    // L(v) <- L(L(v)) shortcut the reach per round is 2d+2, so the
    // fixpoint + its confirmation round land well under 8
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(chain, maxIterations = 20)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got === (0L to 40L).map(_ -> 0L).toMap, "chain must collapse to component 0")
    assert(rounds <= 8, s"pointer doubling regressed: $rounds rounds for diameter 40")
  }

  test("quadratic exact baselines are size-guarded; override admits deliberately") {
    import graft.ext.Similarity
    val emb = spark.read.parquet(s"$sf/embeddings.parquet") // 500 rows at sf0.001
    val eTopK = intercept[IllegalArgumentException](
      Similarity.bruteForceTopK(emb, k = 1, maxExactRows = 100L))
    assert(eTopK.getMessage.contains("O(n²)") && eTopK.getMessage.contains("annTopK"),
      "guard error must route the caller to the scale path")
    val ePairs = intercept[IllegalArgumentException](
      Similarity.nearDupPairs(emb, threshold = 0.9, maxExactRows = 100L))
    assert(ePairs.getMessage.contains("maxExactRows"))
    // deliberate override: raising the cap runs the exact baseline
    val n = Similarity.nearDupPairs(emb.limit(120), threshold = 0.99,
      maxExactRows = 200L).count()
    assert(n >= 0)
  }

  test("redactPii masks emails, cards, and phones; counts match; dropPii keeps clean") {
    import graft.ext.Privacy
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call (555) 123-4567 or (555) 000-9999"),
      (3L, "card 4000123456789012 exp 01/30"),
      (4L, "clean text, nothing to hide"),
      (5L, "all: a@b.io 4111111111111111 (123) 456-7890")).toDF("id", "note")
    val out = Privacy.piiScan(df, "note")
      .select("id", "redacted", "n_emails", "n_cards", "n_phones")
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "mail <EMAIL> now" && out(1L)._3 === 1L)
    assert(out(2L)._2 === "call <PHONE> or <PHONE>" && out(2L)._5 === 2L)
    assert(out(3L)._2 === "card <CARD> exp 01/30" && out(3L)._4 === 1L)
    assert(out(4L)._2 === "clean text, nothing to hide" &&
      (out(4L)._3 + out(4L)._4 + out(4L)._5) === 0L)
    assert(out(5L)._2 === "all: <EMAIL> <CARD> <PHONE>")
    val clean = Privacy.dropPii(df, "note").select("id").as[Long].collect()
    assert(clean.toSeq === Seq(4L))
  }

  test("domainStats: per-domain URL and distinct-doc counts") {
    val df = Seq(
      (1L, "see https://a.example.com/x and http://b.net/y"),
      (2L, "again https://a.example.com/z plus https://a.example.com"),
      (3L, "no links here")).toDF("doc_id", "text")
    val out = TextOps.domainStats(df)
      .select("domain", "n_urls", "n_docs").as[(String, Long, Long)].collect().toSet
    assert(out === Set(("a.example.com", 3L, 2L), ("b.net", 1L, 1L)))
  }

  test("topTokens: global counts with deterministic (count DESC, token ASC) top-k") {
    val df = Seq((1L, "b a b c"), (2L, "a b d a")).toDF("doc_id", "text")
    val out = TextOps.topTokens(df, k = 3)
      .select("token", "n_occurrences", "n_docs").as[(String, Long, Long)].collect()
    // a and b tie at 3 occurrences -> 'a' first; c/d tie at 1 -> 'c'
    assert(out.toSeq === Seq(("a", 3L, 2L), ("b", 3L, 2L), ("c", 1L, 1L)))
  }

  test("charClassProfile: digit/upper/alpha/symbol fractions, empty-text zeros") {
    val df = Seq((1L, "Ab1!"), (2L, ""), (3L, "a b")).toDF("id", "label")
    val out = TextOps.charClassProfile(df, "label")
      .select("id", "digit_frac", "upper_frac", "alpha_frac", "symbol_frac")
      .as[(Long, Double, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 0.25, 0.25, 0.5, 0.25)))
    assert(out(2L) === ((2L, 0.0, 0.0, 0.0, 0.0)))
    assert(out(3L) === ((3L, 0.0, 0.0, 2.0 / 3, 0.0))) // space is neither
  }

  test("plan audit: pii scan and char classes are pure narrow projections") {
    import graft.ext.{ExtQueries, Privacy}
    val customers = spark.read.parquet(s"$sf/customer.parquet")
    val piiPlan = Privacy.piiScan(customers.select($"c_name".as("note")), "note")
      .queryExecution.executedPlan.toString
    assert(!piiPlan.contains("Exchange"), s"piiScan must not shuffle:\n$piiPlan")
    // q40's aggregate must partial-combine map-side (no raw-token shuffle
    // of every occurrence without a partial_count marker)
    val topPlan = ExtQueries.q40(spark, sf).queryExecution.executedPlan.toString
    assert(topPlan.contains("partial_count") || topPlan.contains("Partial"),
      s"topTokens must map-side combine:\n${topPlan.take(1500)}")
  }

  test("facetQuantiles approx sketch tracks the exact percentiles") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"o_orderstatus", $"p50".cast("double")).as[(String, Double)].collect().toMap
    val exact = asMap(TextOps.facetQuantiles(orders, Seq("o_orderstatus"),
      "o_totalprice", Seq(0.5)))
    val approx = asMap(TextOps.facetQuantiles(orders, Seq("o_orderstatus"),
      "o_totalprice", Seq(0.5), approx = true))
    exact.foreach { case (k, ex) =>
      assert(math.abs(approx(k) - ex) / ex < 0.05, s"$k: approx ${approx(k)} vs exact $ex")
    }
  }

  test("facetStats approx-distinct variant returns plausible HLL counts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val approx = TextOps.facetStats(docs, Seq("lang"), approxDistinct = true)
      .select($"lang", $"n_distinct_docs").as[(String, Long)].collect().toMap
    val exact = TextOps.facetStats(docs, Seq("lang"))
      .select($"lang", $"n_distinct_docs").as[(String, Long)].collect().toMap
    exact.foreach { case (lang, n) =>
      val a = approx(lang)
      assert(math.abs(a - n).toDouble / n < 0.15, s"HLL for $lang: $a vs exact $n")
    }
  }

  // -------------------------------------------------------------------
  // Trainable quality classifier (hashed n-gram linear model)
  // -------------------------------------------------------------------

  test("qualityScore: hand-computed StrictMath fixture (counts, smoothing, fold order)") {
    import graft.ext.QualityModel
    val B = 1 << 18
    val alpha = 0.5
    val labeled = Seq(
      (1L, "good fine good", true),
      (2L, "fine good", true),
      (3L, "bad awful", false),
      (4L, "bad fine", false)).toDF("doc_id", "text", "label")
    // independent model: features = unigrams ++ word bigrams, hashed
    // with Spark's xxhash64 (the hash IS part of the model family —
    // fastText's hashing trick), all classifier math in StrictMath
    def feats(text: String): Seq[String] = {
      val t = text.split(" ").toSeq
      t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    val rows = Seq(1L -> "good fine good", 2L -> "fine good",
      3L -> "bad awful", 4L -> "bad fine")
    val allFeats = rows.flatMap { case (_, t) => feats(t) }.distinct
    val bucketOf: Map[String, Long] = allFeats.zip(
      allFeats.toDF("f")
        .select(pmod(xxhash64($"f"), lit(B.toLong)).as("b"))
        .as[Long].collect()).toMap
    val posDocs = Set(1L, 2L)
    def classCount(pos: Boolean): Map[Long, Long] = rows
      .filter(r => posDocs.contains(r._1) == pos)
      .flatMap { case (_, t) => feats(t).map(bucketOf) }
      .groupBy(identity).map { case (b, occ) => b -> occ.size.toLong }
    val posC = classCount(pos = true)
    val negC = classCount(pos = false)
    val posT = posC.values.sum.toDouble
    val negT = negC.values.sum.toDouble
    val aB = alpha * B
    import java.lang.StrictMath.{exp, log}
    def w(b: Long): Double =
      (log(posC.getOrElse(b, 0L).toDouble + alpha) - log(posT + aB)) -
        (log(negC.getOrElse(b, 0L).toDouble + alpha) - log(negT + aB))
    val prior = log(2.0 + alpha) - log(2.0 + alpha)
    def score(text: String): (Long, Double, Double) = {
      val bs = feats(text).map(bucketOf)
      val contribs = bs.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (b, occ) => occ.size.toDouble * w(b) }
      val sum = contribs.foldLeft(0.0)(_ + _)
      val logit = prior + sum / bs.size.toDouble
      (bs.size.toLong, logit, 1.0 / (1.0 + exp(-logit)))
    }
    val want = rows.map { case (id, t) => id -> score(t) }.toMap
    val got = QualityModel.qualityScore(labeled)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want, "operator drifted from the hand-computed NB model")
    // pos-vocab docs must out-score neg-vocab docs on this fixture
    assert(got(1L)._3 > got(3L)._3 && got(2L)._3 > got(4L)._3)
  }

  test("qualityScoreAgainst: unseen buckets get the smoothed floor, never NaN/inf") {
    import graft.ext.QualityModel
    val labeled = Seq(
      (1L, "good fine good", true), (2L, "fine good", true),
      (3L, "bad awful", false), (4L, "bad fine", false))
      .toDF("doc_id", "text", "label")
    val model = QualityModel.qualityTrain(labeled)
    // a NULL-text doc yields no features: its row survives the left
    // join back to the ids with every score NULL
    val alien = docsDf(900L -> "zzq wwx vvy", 901L -> null)
    val scored = QualityModel.qualityScoreAgainst(alien, model)
    val nullRow = scored.where($"doc_id" === 901L).collect()
    assert(nullRow.length === 1 && (1 to 3).forall(nullRow.head.isNullAt),
      s"NULL text must score NULL, got ${nullRow.toSeq}")
    val out = scored.where($"doc_id" === 900L)
      .as[(Long, Long, Double, Double)].collect()
    assert(out.length === 1)
    val (_, n, logit, q) = out.head
    assert(n === 5L) // 3 unigrams + 2 bigrams
    assert(!logit.isNaN && !logit.isInfinite && q > 0.0 && q < 1.0)
    // every alien bucket carries the SAME unseen weight w0 =
    // ln(0.5/(posT+aB)) - ln(0.5/(negT+aB)); with equal doc priors the
    // logit collapses to exactly w0 (mean of n identical contributions)
    val B = 1 << 18
    import java.lang.StrictMath.log
    // posT = 5 + 3, negT = 3 + 3 feature occurrences (uni + bigrams)
    val w0 = (log(0.5) - log(8.0 + 0.5 * B)) - (log(0.5) - log(6.0 + 0.5 * B))
    assert(math.abs(logit - w0) < 1e-12,
      s"alien logit $logit should collapse to the unseen-bucket weight $w0")
  }

  test("quality model: parquet round-trip scores bit-identical to the in-memory model") {
    import graft.ext.QualityModel
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("label", $"lang" === "en")
    val dir = SparkTestBase.tmpDir("graft_quality_model")
    QualityModel.qualityTrain(docs).write.mode("overwrite").parquet(dir)
    val model = spark.read.parquet(dir)
    val direct = QualityModel.qualityScoreAgainst(docs, QualityModel.qualityTrain(docs))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val viaParquet = QualityModel.qualityScoreAgainst(docs, model)
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(viaParquet === direct,
      "integer-count model must round-trip through parquet exactly")
  }

  test("qualityScore: bit-identical under repartition") {
    import graft.ext.QualityModel
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("label", $"lang" === "en")
    val base = QualityModel.qualityScore(docs)
      .select("doc_id", "logit").as[(Long, Double)].collect().toMap
    val shuffled = QualityModel.qualityScore(docs.repartition(7))
      .select("doc_id", "logit").as[(Long, Double)].collect().toMap
    assert(base === shuffled,
      "per-doc fold order leaked partitioning into the score")
  }

  test("golden digests: q86 quality score and q87 persisted probe are bit-stable at sf0.001") {
    // the no_oracle rows' hard signal (q73/q80 contract): any drift in
    // tokenization, hashing, counts, smoothing, fold order, or libm
    // usage changes these digests. Re-pin ONLY for an intentional change.
    def dump(df: org.apache.spark.sql.DataFrame): String =
      df.as[(Long, Long, Double, Double)].collect()
        .map { case (d, n, l, q) => s"$d,$n,$l,$q" }.mkString("\n")
    assert(md5(dump(ExtQueries.q86(spark, sf))) === "1faf9655185de5b372d383e50235054f",
      "q86 output drifted")
    assert(md5(dump(ExtQueries.q87(spark, sf))) === "e619153699b6677fcda7739a789945ad",
      "q87 output drifted")
  }

  test("LangModel: hand-computed NB likelihoods on a two-language fixture") {
    import graft.ext.LangModel
    // single-feature languages: 'aa' emits only the 2-gram "aa", 'bb'
    // only "bb" (texts are exactly 2 chars, so no 3-grams exist); with
    // B=64 the two feature buckets must differ for the hand computation
    // to hold — asserted below via the model rows themselves
    val b = 64
    val train = Seq((1L, "aa", "xx"), (2L, "bb", "yy")).toDF("doc_id", "text", "lang")
    val model = LangModel.langTrain(train, ns = Seq(2, 3), numBuckets = b)
    val rows = model.collect()
    assert(rows.count(_.isNullAt(1)) === 2, "one prior row per language")
    val featBuckets = rows.filter(!_.isNullAt(1)).map(r => r.getLong(1)).toSeq
    assert(featBuckets.distinct.size === 2, "fixture features must not collide")
    // score "aa": m=1 occurrence of the 'xx' feature, zero of 'yy'
    val got = LangModel.langScoreAgainst(
        Seq((10L, "aa")).toDF("doc_id", "text"), model,
        alpha = 0.5, ns = Seq(2, 3), numBuckets = b)
      .select("lang_pred", "logprob", "margin")
      .as[(String, Double, Double)].head()
    import java.lang.StrictMath.log
    val aB = 0.5 * b
    val prior = log(1.0) - log(2.0) // one doc each
    val lpXx = prior + 1.0 * (log(1 + 0.5) - log(1 + aB))
    val lpYy = prior + 1.0 * (log(0 + 0.5) - log(1 + aB))
    assert(got._1 === "xx")
    assert(got._2 === lpXx, "exact StrictMath likelihood, bit for bit")
    assert(got._3 === lpXx - lpYy, "margin = winner minus runner-up")
    // a doc with no features (empty or NULL text) predicts NULL,
    // never a guess
    val empty = LangModel.langScoreAgainst(
        Seq[(Long, String)]((11L, ""), (12L, null)).toDF("doc_id", "text"),
        model, numBuckets = b)
      .select("lang_pred").collect()
    assert(empty.length === 2 && empty.forall(_.isNullAt(0)))
  }

  test("LangModel: langScoreAgainst is bit-identical under repartition") {
    import graft.ext.LangModel
    // the K-column user of the per-doc ordered fold: every language's
    // likelihood sum must be independent of how the docs are split
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val model = LangModel.langTrain(docs)
    def scores(d: org.apache.spark.sql.DataFrame) =
      LangModel.langScoreAgainst(d, model)
        .select("doc_id", "lang_pred", "logprob", "margin")
        .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    val base = scores(docs)
    assert(base.nonEmpty && base.exists(_._2 != null))
    assert(scores(docs.repartition(7)) === base,
      "per-doc fold order leaked partitioning into the score")
  }

  test("LangModel: crafted-language separability + parquet round-trip bit-identity") {
    import graft.ext.LangModel
    // two synthetic languages with disjoint character inventories —
    // the n-gram distributions must separate held-out variants
    def sent(words: Seq[String], k: Int) =
      (0 until 8).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val train = ((1 to 5).map(i => (i.toLong, sent(aw, i), "aa")) ++
      (6 to 10).map(i => (i.toLong, sent(bw, i), "bb"))).toDF("doc_id", "text", "lang")
    val model = LangModel.langTrain(train)
    val probe = Seq(
      (101L, "meri kala vesi tulo"), (102L, "sinu vesi meri meri"),
      (103L, "gryx zorb quzz phex"), (104L, "wyrd wyrd phex gryx"))
      .toDF("doc_id", "text")
    val preds = LangModel.langScoreAgainst(probe, model)
      .select("doc_id", "lang_pred", "margin")
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    assert(preds.map(p => p._1 -> p._2) ===
      Seq(101L -> "aa", 102L -> "aa", 103L -> "bb", 104L -> "bb"))
    assert(preds.forall(_._3 > 0), "disjoint inventories must separate with margin")
    // persisted round-trip: exact integer counts -> bit-identical scores
    val dir = SparkTestBase.tmpDir("graft_lang_model") + "/m"
    model.write.parquet(dir)
    val direct = LangModel.langScoreAgainst(probe, model)
      .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    val persisted = LangModel.langScoreAgainst(probe, spark.read.parquet(dir))
      .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(direct === persisted, "parquet round-trip must not move a bit")
  }

  test("CcNet.curateWithModel: trained router lands the marker pipeline's exact output") {
    import graft.ext.{CcNet, LangModel}
    def sent(words: Seq[String], k: Int, n: Int) =
      (0 until n).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val corpus = ((1 to 12).map(i => (i.toLong, sent(aw, i, 10), "aa")) ++
      (13 to 24).map(i => (i.toLong, sent(bw, i, 10), "bb")))
      .toDF("doc_id", "text", "lang")
    val model = LangModel.langTrain(corpus)
    // marker profiles that route this corpus identically to the model:
    // downstream (surprisal/bands/sampling) is shared code, so equal
    // routing must mean EQUAL pipeline output
    val profiles = Seq("aa" -> aw, "bb" -> bw)
    val viaMarkers = CcNet.curate(corpus.drop("lang"), profiles)
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val viaModel = CcNet.curateWithModel(corpus.drop("lang"), model)
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(viaModel === viaMarkers,
      "same routing -> the two CcNet faces must land the same curated set")
  }

  test("curateWithModel abstention: sub-margin docs drop as UNDECIDED, confident docs route") {
    import graft.ext.{CcNet, LangModel}
    def sent(words: Seq[String], k: Int, n: Int) =
      (0 until n).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val corpus = ((1 to 12).map(i => (i.toLong, sent(aw, i, 10))) ++
      (13 to 24).map(i => (i.toLong, sent(bw, i, 10))))
      .toDF("doc_id", "text")
    val model = LangModel.langTrain(
      ((1 to 12).map(i => (i.toLong, sent(aw, i, 10), "aa")) ++
        (13 to 24).map(i => (i.toLong, sent(bw, i, 10), "bb")))
        .toDF("doc_id", "text", "lang"))
    // a 50/50 mixed doc has a near-zero margin; pure docs are confident
    val probe = corpus.unionByName(
      Seq((99L, sent(aw, 0, 5) + " " + sent(bw, 0, 5))).toDF("doc_id", "text"))
    val margins = LangModel.langScoreAgainst(probe, model)
      .select("doc_id", "margin").as[(Long, Double)].collect().toMap
    val cut = margins(99L) + 1e-6 // just above the mixed doc's margin
    assert(corpus.select("doc_id").as[Long].collect()
      .forall(id => margins(id) > cut), "pure docs must clear the cut")
    // keep-all band rates so only the abstention cut can drop a doc
    val all = Map("head" -> 1.0, "middle" -> 1.0, "tail" -> 1.0)
    val kept = CcNet.curateWithModel(probe, model, bandRates = all, minMargin = cut)
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(99L), "the undecided doc must abstain, not coin-flip")
    assert(kept.size === 24, "confident docs all route")
    val keptNoCut = CcNet.curateWithModel(probe, model, bandRates = all)
      .select("doc_id").as[Long].collect().toSet
    assert(keptNoCut.contains(99L) && keptNoCut.size === 25,
      "margin 0.0 keeps every decided doc")
  }

  test("golden digest: q136 trained-CcNet pipeline is bit-stable at sf0.001") {
    def dump(df: org.apache.spark.sql.DataFrame): String =
      df.as[(Long, String, String)].collect()
        .map { case (d, l, b) => s"$d,$l,$b" }.mkString("\n")
    val digest = md5(dump(ExtQueries.q136(spark, sf)))
    assert(digest === "f594d7a89605e1a97bfe99d02cfa64c1", s"q136 output drifted (got $digest)")
  }

  test("persisted predictions: curateWithPredictions == curateWithModel bit-for-bit") {
    import graft.ext.{CcNet, LangModel}
    def sent(words: Seq[String], k: Int, n: Int) =
      (0 until n).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val corpus = ((1 to 12).map(i => (i.toLong, sent(aw, i, 10), "aa")) ++
      (13 to 24).map(i => (i.toLong, sent(bw, i, 10), "bb")))
      .toDF("doc_id", "text", "lang")
    val model = LangModel.langTrain(corpus)
    val dir = SparkTestBase.tmpDir("graft_pred_snap")
    // score once, land, probe: the landed artifact must reproduce the
    // in-line scorer EXACTLY (parquet round-trips the doubles), so the
    // curation probe is bit-identical to the one-shot composition
    val landed = LangModel.writePredictions(spark, corpus.drop("lang"),
      model, dir)
    val direct = LangModel.langScoreAgainst(corpus.drop("lang"), model)
      .as[(Long, String, Double, Option[Double])].collect().sortBy(_._1).toSeq
    assert(landed.as[(Long, String, Double, Option[Double])]
      .collect().sortBy(_._1).toSeq === direct,
      "the landed predictions must be the scorer's bits, unchanged")
    val viaModel = CcNet.curateWithModel(corpus.drop("lang"), model)
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val viaProbe = CcNet.curateWithPredictions(corpus.drop("lang"),
        LangModel.predictions(spark, dir))
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(viaProbe === viaModel,
      "the persisted-predictions probe must land the one-shot output")
    // the abstention cut consumes the LANDED margins identically
    val allBands = Map("head" -> 1.0, "middle" -> 1.0, "tail" -> 1.0)
    val loose = CcNet.curateWithPredictions(corpus.drop("lang"),
      LangModel.predictions(spark, dir), bandRates = allBands)
      .select("doc_id").as[Long].collect().toSet
    val margins = landed.select("margin").as[Double].collect()
    val tight = CcNet.curateWithPredictions(corpus.drop("lang"),
      LangModel.predictions(spark, dir), bandRates = allBands,
      minMargin = margins.max + 1.0)
      .select("doc_id").as[Long].collect().toSet
    assert(loose.size === 24 && tight.isEmpty,
      "minMargin filters on the landed margin column")
    // q158 == q136 at the registry grain (same corpus, shared artifacts)
    val q136out = ExtQueries.q136(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    val q158out = ExtQueries.q158(spark, sf)
      .as[(Long, String, String)].collect().toSeq
    assert(q158out === q136out,
      "q158's probe face must reproduce q136 exactly at sf0.001")
  }

  test("golden digest: q134 trained lang-ID probe is bit-stable at sf0.001") {
    def dump(df: org.apache.spark.sql.DataFrame): String =
      df.as[(Long, String, Option[Double], Option[Double])].collect()
        .map { case (d, l, p, m) => s"$d,$l,${p.getOrElse("")},${m.getOrElse("")}" }
        .mkString("\n")
    val digest = md5(dump(ExtQueries.q134(spark, sf)))
    assert(digest === "47606d1cb3a4f3dd32588b93bd97e834", s"q134 output drifted (got $digest)")
  }

  test("curation chain: every stage drops its planted target, survivors pack") {
    import graft.ext.CurationChain
    // one planted victim per stage, disjoint vocabularies so stages
    // can't interfere: id2 control byte (stage 1), id3 case/whitespace
    // variant of id1 (stage 2), id5 near-dup of id4 (stage 3), id20
    // benchmark member + id6 sharing a 5-gram with it (stage 4), id7
    // unlisted language (stage 5); ids 1 and 4 survive to packing
    val a = (1 to 30).map(i => s"a$i").mkString(" ")         // id4 base
    val a5 = (1 to 29).map(i => s"a$i").mkString(" ") + " zz" // last token changed
    val corpus = Seq(
      (1L, "clean text one two three four five six", "en"),
      (2L, "binary junk \u0001 inside", "en"),
      (3L, "Clean   TEXT one two three four five six", "en"),
      (4L, a, "en"),
      (5L, a5, "en"),
      (6L, "q1 q2 alpha beta gamma delta epsilon q3 q4", "en"),
      (7L, "zh only doc tokens here", "zh"),
      (20L, "bench doc holds alpha beta gamma delta epsilon phrase", "en"))
      .toDF("doc_id", "text", "lang")
    // stage-by-stage survivor sets
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").as[Long].collect().toSet
    val gated = CurationChain.encodingGate(corpus)
    assert(ids(gated) === Set(1L, 3L, 4L, 5L, 6L, 7L, 20L))
    val normed = CurationChain.normalizeDedup(gated)
    assert(ids(normed) === Set(1L, 4L, 5L, 6L, 7L, 20L))
    val dd = CurationChain.nearDupDedup(normed)
    assert(ids(dd) === Set(1L, 4L, 6L, 7L, 20L), "id5 is a >=0.8 Jaccard twin of id4")
    val clean = CurationChain.decontaminate(dd, corpus)
    assert(ids(clean) === Set(1L, 4L, 7L),
      "id20 is benchmark, id6 shares a 5-gram with it")
    val mixed = CurationChain.mixture(clean)
    assert(ids(mixed) === Set(1L, 4L), "zh has no mixture rate -> dropped")
    val packed = CurationChain.run(corpus)
      .select("lang", "bin_id", "n_docs", "sum_tokens", "first_doc", "last_doc")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(packed === Seq(("en", 0L, 2L, 38L, 1L, 4L)),
      "survivors 1 (8 tokens) and 4 (30 tokens) pack into en bin 0")
  }

  // -------------------------------------------------------------------
  // Native BPE tokenizer (train/apply)
  // -------------------------------------------------------------------

  test("BPE train: hand-computed merges on a crafted corpus") {
    import graft.ext.Bpe
    // word freqs: ab -> 3, abc -> 2. Pair (a,b) count 5 -> merge 0;
    // then abc = [ab, c] gives (ab, c) count 2 -> merge 1; no pair
    // occurs twice after that -> stop (numMerges budget unused)
    val model = Bpe.bpeTrain(docsDf(1L -> "ab ab ab", 2L -> "abc abc"), numMerges = 10)
    assert(Bpe.loadMerges(model) === Seq(("a", "b"), ("ab", "c")))
  }

  test("BPE loadMerges rejects a truncated model frame") {
    import graft.ext.Bpe
    val model = Bpe.bpeTrain(docsDf(1L -> "ab ab ab", 2L -> "abc abc"), numMerges = 10)
    // last-rank row lost: contiguity holds but n_merges disagrees
    val e1 = intercept[IllegalArgumentException] {
      Bpe.loadMerges(model.where($"rank" < 1))
    }
    assert(e1.getMessage.contains("truncated or corrupt"))
    // mid-rank row lost: contiguity itself breaks
    val e2 = intercept[IllegalArgumentException] {
      Bpe.loadMerges(model.where($"rank" =!= 0))
    }
    assert(e2.getMessage.contains("truncated or corrupt"))
  }

  test("BPE 0-merge model is legal: train→persist→load round-trips empty") {
    import graft.ext.Bpe
    // numMerges = 0 is explicitly allowed, and a corpus where no pair
    // repeats also yields zero merges — the 0-row frame's n_merges
    // column has no values, which must NOT trip the integrity check
    val dir = SparkTestBase.tmpDir("graft_bpe_empty")
    Bpe.bpeTrain(docsDf(1L -> "ab ab ab"), numMerges = 0)
      .write.mode("overwrite").parquet(dir)
    assert(Bpe.loadMerges(spark.read.parquet(dir)) === Seq.empty,
      "an empty merge list is a legal artifact, not a corrupt one")
    // and encoding under it degrades to per-code-point pieces
    val got = docsDf(2L -> "ab")
      .select(Bpe.tokens($"text", Seq.empty).as("t")).as[Seq[String]].head()
    assert(got === Seq("a", "b"))
  }

  test("BPE apply: rank-ordered segmentation; model round-trips through parquet") {
    import graft.ext.Bpe
    val model = Bpe.bpeTrain(docsDf(1L -> "ab ab ab", 2L -> "abc abc"), numMerges = 10)
    val dir = SparkTestBase.tmpDir("graft_bpe_model")
    model.write.mode("overwrite").parquet(dir)
    val merges = Bpe.loadMerges(spark.read.parquet(dir))
    assert(merges === Bpe.loadMerges(model),
      "integer-rank merge table must round-trip through parquet exactly")
    // ab -> [ab]; abc -> [abc]; abd -> [ab, d]; xy -> [x, y] (unseen
    // symbols pass through as code points)
    val got = docsDf(9L -> "ab abc abd xy")
      .select(Bpe.tokens($"text", merges).as("t"))
      .as[Seq[String]].collect().head
    assert(got === Seq("ab", "abc", "ab", "d", "x", "y"))
    // empty text -> empty piece array, not a crash
    val empty = docsDf(10L -> "")
      .select(Bpe.tokens($"text", merges).as("t"))
      .as[Seq[String]].collect().head
    assert(empty === Seq.empty)
  }

  test("BPE train is bit-identical under repartition (deterministic fit)") {
    import graft.ext.Bpe
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = Bpe.loadMerges(Bpe.bpeTrain(docs, numMerges = 50))
    val b = Bpe.loadMerges(Bpe.bpeTrain(docs.repartition(7), numMerges = 50))
    assert(a === b, "merge list must not depend on partitioning")
    assert(a.length === 50, "a real corpus should exhaust the merge budget")
  }

  test("BPE feeds the packing seam: pack by BPE counts == pack by precomputed counts") {
    import graft.ext.Bpe
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val merges = Bpe.loadMerges(Bpe.bpeTrain(docs, numMerges = 50))
    val direct = TextOps.packSequences(docs, capacity = 2048,
        shardCols = Seq("lang"),
        tokenCount = Some(size(Bpe.tokens($"text", merges))))
      .collect().map(_.toSeq).toSet
    // precompute the counts, carry them as a materialized column (the
    // operational tokenize-once shape), pack by that column instead
    val counts = docs.select($"doc_id",
      size(Bpe.tokens($"text", merges)).as("__bpe_n"))
    val precomputed = TextOps.packSequences(docs.join(counts, Seq("doc_id")),
        capacity = 2048, shardCols = Seq("lang"),
        tokenCount = Some($"__bpe_n"))
      .collect().map(_.toSeq).toSet
    assert(direct.nonEmpty && direct === precomputed,
      "inline BPE counting and precomputed-column counting must pack identically")
  }

  test("golden digest: q90 BPE-packed sequences are bit-stable at sf0.001") {
    // the no_oracle row's hard signal: any drift in the BPE fit (word
    // cap, tie-breaks, stop rule), the segmentation, or the packing
    // changes this digest. Re-pin ONLY for an intentional change.
    val q90 = ExtQueries.q90(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => s"${r._1},${r._2},${r._3},${r._4},${r._5},${r._6}").mkString("\n")
    assert(md5(q90) === "cfc4599f01ddf1c506566b2d959b15fd", "q90 output drifted")
  }

  // -------------------------------------------------------------------
  // Native unigram-LM tokenizer (train/apply — the other subword family)
  // -------------------------------------------------------------------

  test("unigram train: hand-traced hard-EM fit on a crafted corpus") {
    import graft.ext.UnigramLm
    // words: ab×3, cd×1; seeds a/b/ab:3, c/d/cd:1. Every EM iteration
    // Viterbi picks the whole-word piece (one ln beats two), so the
    // final counts are ab:3, cd:1, singles 0; add-one scores over
    // total 4 with |V| = 6: ab = ln(4/10), cd = ln(2/10), singles
    // = ln(1/10) — all StrictMath, hand-checkable
    val model = UnigramLm.unigramTrain(
      docsDf(1L -> "ab ab ab cd"), vocabSize = 10, maxPieceLen = 2,
      seedSize = 10, emIters = 2)
    val scores = model.select("piece", "score").as[(String, Double)].collect().toMap
    assert(scores.keySet === Set("a", "b", "c", "d", "ab", "cd"))
    assert(scores("ab") === StrictMath.log(4.0 / 10.0))
    assert(scores("cd") === StrictMath.log(2.0 / 10.0))
    assert(scores("a") === StrictMath.log(1.0 / 10.0))
    // apply: whole-word pieces win; an unseen word segments through
    // the vocabulary ([ab, cd] for "abcd"); unknown chars fall back
    // one-by-one at the fixed penalty
    val m = UnigramLm.loadModel(model)
    def seg(t: String) = docsDf(9L -> t)
      .select(UnigramLm.tokens($"text", m, 2).as("t"))
      .as[Seq[String]].collect().head
    assert(seg("ab cd ab") === Seq("ab", "cd", "ab"))
    assert(seg("abcd") === Seq("ab", "cd"))
    assert(seg("xz") === Seq("x", "z"))
    assert(seg("") === Seq.empty)
  }

  test("unigram prune: vocabSize cap keeps singles + highest-count multis; round-trip") {
    import graft.ext.UnigramLm
    // singles a,b,c,d always survive; room for ONE multi — "ab" (count
    // 2) beats "cd" (count 1), so "cd" now segments as [c, d]
    val model = UnigramLm.unigramTrain(
      docsDf(1L -> "ab ab cd"), vocabSize = 5, maxPieceLen = 2,
      seedSize = 10, emIters = 2)
    val dir = SparkTestBase.tmpDir("graft_unigram_model")
    model.write.mode("overwrite").parquet(dir)
    val m = UnigramLm.loadModel(spark.read.parquet(dir))
    assert(m === UnigramLm.loadModel(model),
      "(piece, score, max_piece_len) model must round-trip through parquet exactly")
    assert(m.maxPieceLen === 2, "the model carries its training window")
    assert(m.pieces.map(_._1).toSet === Set("a", "b", "c", "d", "ab"))
    // a mismatched EXPLICIT window raises instead of mis-segmenting
    val e = intercept[IllegalArgumentException] {
      UnigramLm.tokens($"text", m, 3)
    }
    assert(e.getMessage.contains("does not match the model's 2"))
    // a frame stripped of the window column is rejected at load
    intercept[IllegalArgumentException] {
      UnigramLm.loadModel(spark.read.parquet(dir).drop("max_piece_len"))
    }
    def seg(t: String) = docsDf(9L -> t)
      .select(UnigramLm.tokens($"text", m, 2).as("t"))
      .as[Seq[String]].collect().head
    assert(seg("ab") === Seq("ab"))
    assert(seg("cd") === Seq("c", "d"))
  }

  test("unigram train is bit-identical under repartition (deterministic fit)") {
    import graft.ext.UnigramLm
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = UnigramLm.loadModel(UnigramLm.unigramTrain(docs, vocabSize = 200))
    val b = UnigramLm.loadModel(UnigramLm.unigramTrain(docs.repartition(7), vocabSize = 200))
    assert(a === b, "(piece, score) table must not depend on partitioning")
    assert(a.pieces.nonEmpty && a.pieces.exists(_._1.length > 1),
      "a real corpus should retain multi-char pieces")
  }

  test("golden digest: q123 unigram-packed sequences are bit-stable at sf0.001") {
    // the no_oracle row's hard signal: any drift in the seed counts,
    // EM tie-breaks, pruning order, Viterbi, or the packing changes
    // this digest. Re-pin ONLY for an intentional change.
    val q123 = ExtQueries.q123(spark, sf)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => s"${r._1},${r._2},${r._3},${r._4},${r._5},${r._6}").mkString("\n")
    assert(md5(q123) === "8ff5b6092adc6daa2d46de58fdeeaa45", "q123 output drifted")
  }

  test("qualityScore learns a planted vocabulary signal on held-out docs") {
    import graft.ext.QualityModel
    // train: 20 docs of trusted vocab vs 20 of junk vocab; score two
    // HELD-OUT docs (ids the training never saw, same vocab split)
    val train = ((1L to 20L).map(i => (i, s"clear prose reads well sentence $i", true)) ++
      (21L to 40L).map(i => (i, s"zzz spam spam click here buy $i", false)))
      .toDF("doc_id", "text", "label")
    val model = QualityModel.qualityTrain(train)
    val heldOut = docsDf(100L -> "clear prose reads well", 101L -> "spam click here buy")
    val got = QualityModel.qualityScoreAgainst(heldOut, model)
      .select("doc_id", "quality").as[(Long, Double)].collect().toMap
    assert(got(100L) > 0.9 && got(101L) < 0.1,
      s"planted signal not separated: pos=${got(100L)} neg=${got(101L)}")
  }

  // --- shuffle-key skew diagnosis (q100 family) -------------------------

  test("skew diagnosis: hand-computed histogram, top keys, stats and salt recommendation") {
    import graft.ext.Checks
    // h×8, a×2, b×2, c/d/e/f×1 → 16 rows over 7 keys; max=8, mean=16/7
    val rows = Seq.fill(8)("h") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b") ++
      Seq("c", "d", "e", "f")
    val df = rows.toDF("k").repartition(4)
    assert(Checks.skewHistogram(df, Seq("k"))
      .as[(Long, Long, Long, Long)].collect().toSeq === Seq(
        (0L, 4L, 1L, 1L),   // the four singletons
        (1L, 2L, 2L, 2L),   // a, b
        (3L, 1L, 8L, 8L)))  // the hot key
    assert(Checks.skewTopKeys(df, Seq("k"), 3)
      .as[(String, Long)].collect().toSeq === Seq(("h", 8L), ("a", 2L), ("b", 2L)))
    val s = Checks.skewStats(df, Seq("k"))
      .as[(Long, Long, Long, Double, Double, Long)].collect().head
    assert(s === ((16L, 7L, 8L, 16.0 / 7, 8 / (16.0 / 7), 4L)),
      s"stats drifted: $s") // ceil(8/(16/7)) = ceil(3.5) = 4 salt buckets
  }

  test("skewReport: one scan (plan-pinned), values == histogram + stats composed") {
    import graft.ext.Checks
    val path = SparkTestBase.tmpDir("graft_skewrep") + "/t"
    (Seq.fill(8)("h") ++ Seq.fill(2)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d", "e", "f"))
      .toDF("k").write.parquet(path)
    val df = spark.read.parquet(path)
    val report = Checks.skewReport(df, Seq("k"))
    val plan = report.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("FileScan")) === 1,
      s"the summary must derive from the histogram, not rescan the data:\n$plan")
    val rows = report.as[(Long, Long, Long, Long, Long, Long, Double, Double, Long)]
      .collect().toSeq
    val hist = Checks.skewHistogram(df, Seq("k"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    val stats = Checks.skewStats(df, Seq("k"))
      .as[(Long, Long, Long, Double, Double, Long)].collect().head
    assert(rows === hist.map(h =>
      (h._1, h._2, h._3, h._4, stats._1, stats._2, stats._4, stats._5, stats._6)))
  }

  test("skew diagnosis: uniform keys recommend salt_buckets = 1 (no salting)") {
    import graft.ext.Checks
    val df = (1 to 12).map(i => s"k${i % 4}").toDF("k")
    val s = Checks.skewStats(df, Seq("k"))
      .as[(Long, Long, Long, Double, Double, Long)].collect().head
    assert(s._6 === 1L, s"uniform distribution must not recommend salting: $s")
  }

  test("bandDrift: hand-computed shares, deltas, chi-square; new band gets null term") {
    import graft.ext.Diff
    val older = Seq("a", "a", "b", "b").toDF("lang")
    val newer = Seq("a", "a", "b", "c").toDF("lang")
    val out = Diff.bandDrift(older, newer)
      .orderBy("band")
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      ("a", 2L, 2L, 0.5, 0.5, 0.0, Some(0.0)),
      ("b", 2L, 1L, 0.5, 0.25, -0.25, Some(-0.25 * -0.25 / 0.5)),
      ("c", 0L, 1L, 0.0, 0.25, 0.25, None)))
  }

  test("bandDrift: a band dropped entirely keeps its baseline and a full-loss term") {
    import graft.ext.Diff
    val older = Seq("a", "b").toDF("lang")
    val newer = Seq("a").toDF("lang")
    val out = Diff.bandDrift(older, newer)
      .orderBy("band")
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      ("a", 1L, 1L, 0.5, 1.0, 0.5, Some(0.5 * 0.5 / 0.5)),
      ("b", 1L, 0L, 0.5, 0.0, -0.5, Some(-0.5 * -0.5 / 0.5))))
  }

  test("duplicatedSubstringRegions: arbitrary-boundary runs, cross-doc and within-doc merge") {
    val df = docsDf(
      1L -> "a1 a2 a3 a4 a5 a6",
      // shares the 4-token run a2..a5 with doc 1 at a DIFFERENT offset
      2L -> "b1 b2 a2 a3 a4 a5 b3",
      // exactly one unique window -> no region
      3L -> "c1 c2 c3",
      // within-doc verbatim repeat: both copies' covered positions are
      // adjacent, so they merge into ONE region spanning the whole doc
      4L -> "d1 d2 d3 d4 d1 d2 d3 d4")
    val got = Dedup.duplicatedSubstringRegions(df, minTokens = 3)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 1L, 4L), (2L, 2L, 4L), (4L, 0L, 8L)))

    // a region is ALWAYS >= minTokens long even when matches chain
    // through different partners (the Lee-et-al range merge)
    assert(got.forall(_._3 >= 3))
  }

  test("stripExactSubstrings: keeps the (doc,pos)-first occurrence, cuts every later copy") {
    val df = docsDf(
      1L -> "a1 a2 a3 a4 a5 a6",
      2L -> "b1 b2 a2 a3 a4 a5 b3",
      3L -> "c1 c2 c3",
      4L -> "d1 d2 d3 d4 d1 d2 d3 d4")
    val got = Dedup.stripExactSubstrings(df, minTokens = 3)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      // doc 1 holds the first occurrence of the shared run -> verbatim
      (1L, "a1 a2 a3 a4 a5 a6", 0L),
      // doc 2's copy is later -> the whole shared run is cut
      (2L, "b1 b2 b3", 4L),
      (3L, "c1 c2 c3", 0L),
      // within-doc: the second d1..d4 copy cuts, the first survives
      (4L, "d1 d2 d3 d4", 4L)))

    // original non-text columns ride through unchanged
    val cols = Dedup.stripExactSubstrings(df, minTokens = 3).columns.toSeq
    assert(cols === Seq("doc_id", "text", "n_chars", "n_cut_tokens"))

    // a doc whose every token is a later copy becomes the empty string
    val twins = docsDf(10L -> "t1 t2 t3 t4", 20L -> "t1 t2 t3 t4")
    val t = Dedup.stripExactSubstrings(twins, minTokens = 3)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(t === Seq((10L, "t1 t2 t3 t4", 0L), (20L, "", 4L)))
  }

  test("substring index probe: corpus-duplicated runs cut from batch; round-trip; roll-forward") {
    val corpus = docsDf(1L -> "c1 c2 c3 c4 c5", 2L -> "u1 u2 u3 u4")
    val batch = docsDf(
      // embeds corpus doc 1's full run at an inner offset -> c1..c5 cut
      10L -> "b1 c1 c2 c3 c4 c5 b2",
      // novel -> byte-verbatim
      20L -> "n1 n2 n3 n4 n5")
    val idx = Dedup.substringIndex(corpus, minTokens = 3)
    def probe(index: org.apache.spark.sql.DataFrame) =
      Dedup.stripExactSubstringsAgainstIndex(batch, index, minTokens = 3)
        .select("doc_id", "text", "n_cut_tokens")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(probe(idx) === Seq((10L, "b1 b2", 5L), (20L, "n1 n2 n3 n4 n5", 0L)))

    // the persisted shape: parquet round-trip probes identically
    val dir = SparkTestBase.tmpDir("graft_substr_idx")
    idx.write.mode("overwrite").parquet(dir)
    assert(probe(spark.read.parquet(dir)) === probe(idx))

    // roll-forward: once the batch is folded in, re-probing the SAME
    // batch cuts everything (every window now exists in the index) —
    // the re-ingest-drops-everything property of the other indexes
    val idx2 = Dedup.substringIndexRollForward(idx, batch, minTokens = 3)
    val reprobe = probe(idx2)
    assert(reprobe.map(_._2) === Seq("", ""))
    assert(reprobe.map(_._3) === Seq(7L, 5L))
  }

  test("char substring index probe: corpus char runs cut from batch at any offset; round-trip; roll-forward") {
    // the duplicated 12-char run sits at DIFFERENT, mid-token offsets
    // on the two sides — the arbitrary-boundary case token grain misses
    val corpus = docsDf(1L -> "xxCORPUS RUN Azz", 2L -> "unrelated text")
    val batch = docsDf(
      10L -> "bbCORPUS RUN Acc", // embeds corpus doc 1's inner run
      20L -> "totally novel words") // -> byte-verbatim
    val idx = Dedup.charSubstringIndex(corpus, minChars = 12)
    def probe(index: org.apache.spark.sql.DataFrame) =
      Dedup.stripExactCharSubstringsAgainstIndex(batch, index, minChars = 12)
        .select("doc_id", "text", "n_cut_chars")
        .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(probe(idx) === Seq((10L, "bbcc", 12L),
      (20L, "totally novel words", 0L)))

    // the persisted shape: parquet round-trip probes identically
    val dir = SparkTestBase.tmpDir("graft_char_substr_idx")
    idx.write.mode("overwrite").parquet(dir)
    assert(probe(spark.read.parquet(dir)) === probe(idx))

    // roll-forward: once the batch is folded in, re-probing the SAME
    // batch cuts everything — the re-ingest-drops-everything property
    val idx2 = Dedup.charSubstringIndexRollForward(idx, batch, minChars = 12)
    val reprobe = probe(idx2)
    assert(reprobe.map(_._2) === Seq("", ""))
    assert(reprobe.map(_._3) === Seq(16L, 19L))
  }

  test("stripExactSubstringsWithIndex == one-shot keep-first restricted to the batch (token + char)") {
    // the streaming sink's combined cut, checked directly: against-index
    // + within-batch repeats on ORIGINAL text must equal the one-shot
    // corpus∪batch keep-first cut restricted to the batch side (corpus
    // ids are lower, so (id, pos)-first == corpus-first)
    val corpus = docsDf(1L -> "q1 w1 e1 r1 t1", 2L -> "u1 u2 u3 u4")
    val batch = docsDf(11L -> "q1 w1 e1 r1 t1 a1 b1 c1",
      12L -> "z1 a1 b1 c1 z2", 13L -> "z1 a1 b1 c1 z2")
    val idx = Dedup.substringIndex(corpus, minTokens = 3)
    val combined = Dedup.stripExactSubstringsWithIndex(batch, idx, minTokens = 3)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val oneShot = Dedup.stripExactSubstrings(corpus.unionByName(batch), minTokens = 3)
      .where($"doc_id" >= 10)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(combined === oneShot)
    assert(combined === Seq((11L, "a1 b1 c1", 5L), (12L, "z1 z2", 3L), (13L, "", 5L)))

    // char grain: cross-set run at a mid-token offset + an in-batch pair
    val ccorpus = docsDf(1L -> "xxCORPUS RUN Azz")
    val cbatch = docsDf(20L -> "bbCORPUS RUN Acc",
      21L -> "ppQQRRSSTTUUvv", 22L -> "kkQQRRSSTTUUmm")
    val cidx = Dedup.charSubstringIndex(ccorpus, minChars = 10)
    val ccombined = Dedup.stripExactCharSubstringsWithIndex(cbatch, cidx, minChars = 10)
      .select("doc_id", "text", "n_cut_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val coneShot = Dedup.stripExactCharSubstrings(
        ccorpus.unionByName(cbatch), minChars = 10)
      .where($"doc_id" >= 10)
      .select("doc_id", "text", "n_cut_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(ccombined === coneShot)
  }

  test("canonicalUrlKey collapses host-case/www/port/fragment/tracking/param-order/slash noise; urlDedup keeps first per key") {
    val urls = Seq(
      (1L, "https://A.example.com/page/7?utm_source=x&b=2&a=1"),
      // default port + slash BEFORE the query + param order + fragment
      (2L, "HTTPS://a.example.com:443/page/7/?a=1&utm_source=y&b=2#frag"),
      (3L, "https://www.a.example.com/page/7?b=2&a=1"), // www. + param order
      (4L, "https://a.example.com/other/"), // plain trailing slash
      (5L, null.asInstanceOf[String]), // not URL-addressable -> kept
      (6L, ""),
      (7L, "https://a.example.com/page/7?a=1&b=3"), // different real query -> distinct page
      (8L, "https://a.example.com/other"), // collapses with 4
      (9L, "https://a.example.com/Page/7?a=1&b=2"), // case-variant PATH -> distinct (host-only lowercase)
      (10L, "http://a.example.com:8080/x")) // NON-default port stays
      .toDF("doc_id", "url")
    val keys = urls.where($"url".isNotNull && $"url" =!= "")
      .select($"doc_id", TextOps.canonicalUrlKey($"url").as("k"))
      .as[(Long, String)].collect().toMap
    assert(keys(1L) === "https://a.example.com/page/7?a=1&b=2")
    assert(keys(2L) === keys(1L) && keys(3L) === keys(1L),
      "scheme/host case, :443, www., fragment, tracking params, param order, " +
        "and the pre-query slash all collapse")
    assert(keys(7L) === "https://a.example.com/page/7?a=1&b=3",
      "a real (non-tracking) query difference stays distinct")
    assert(keys(9L) === "https://a.example.com/Page/7?a=1&b=2",
      "paths stay case-sensitive: only scheme+host lowercase (RFC 3986 §6.2.2.1)")
    assert(keys(10L) === "http://a.example.com:8080/x",
      "a non-default port is semantic and survives")
    assert(keys(4L) === keys(8L), "plain trailing slash collapses")
    val kept = Dedup.urlDedup(urls)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 4L, 5L, 6L, 7L, 9L, 10L),
      "min-id per canonical key wins; null/empty-url docs all kept")
    // the appended audit column carries the winning key (null for
    // non-addressable rows)
    assert(kept.where($"doc_id" === 5L).select("url_key")
      .collect().head.isNullAt(0))
  }

  test("htmlToText: boilerplate subtrees drop whole, blocks become lines, entities decode once") {
    import graft.ext.Html
    val page =
      """<!DOCTYPE html><html><head>
        |<title> My &amp; Page </title>
        |<style>h1 { color: red }</style>
        |<script type="text/javascript">var s = "</div>"; if (1 < 2) {}</script>
        |</head><body>
        |<!-- nav boilerplate
        |     spanning lines -->
        |<div CLASS="Main"><h1>Heading</h1>
        |<p>First <b>bold</b> paragraph.</p>
        |<p>Entities: &lt;tag&gt; &amp;lt; it&#39;s&nbsp;here</p>
        |<ul><li>one</li><li>two</li></ul>
        |</div></body></html>""".stripMargin
    val out = Seq((1L, page)).toDF("doc_id", "html")
      .select(Html.htmlToText($"html").as("t"), Html.htmlTitle($"html").as("title"),
        Html.htmlLinks($"html").as("links"))
      .as[(String, String, Seq[String])].head()
    assert(out._1 === Seq(
      "My & Page",
      "Heading",
      "First bold paragraph.",
      // &lt; decodes to a literal < AFTER tag-stripping (never a
      // phantom tag); &amp;lt; decodes ONCE to the text "&lt;";
      // &#39;/&nbsp; decode to '/space
      "Entities: <tag> &lt; it's here",
      "one",
      "two").mkString("\n"))
    assert(out._2 === "My & Page", "title extracts, entity-decoded and trimmed")
    assert(out._3 === Seq.empty, "no double-quoted hrefs on this page")
  }

  test("routedText: content-type dispatch — HTML chain, plain verbatim-normalized, binary NULL") {
    import graft.ext.Html
    val rows = Seq(
      (1L, "text/html; charset=UTF-8", "<p>Html &amp; body</p>"),
      (2L, "application/xhtml+xml", "<p>xhtml page</p>"),
      (3L, null.asInstanceOf[String], "<p>headerless page</p>"), // null ct -> HTML path
      // plain text: literal markup/entities are CONTENT — only the
      // whitespace tail may touch them
      (4L, "text/plain", "keep <tag> &amp; entity.\r\n\r\n   second   line\t"),
      (5L, "text/markdown", "# heading <b>"),
      (6L, "image/png", "PNG"),
      (7L, "application/pdf", "%PDF-1.4"))
      .toDF("id", "ct", "payload")
    val got = rows.select($"id", Html.routedText($"payload", $"ct").as("t"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      1L -> Some("Html & body"),
      2L -> Some("xhtml page"),
      3L -> Some("headerless page"),
      4L -> Some("keep <tag> &amp; entity.\nsecond line"),
      5L -> Some("# heading <b>"),
      6L -> None,
      7L -> None))
    // the predicate form agrees with the NULL contract exactly
    val keep = rows.select($"id", Html.textishContentType($"ct").as("k"))
      .as[(Long, Boolean)].collect().sortBy(_._1).map(_._2).toSeq
    assert(keep === got.map(_._2.isDefined),
      "textishContentType must be routedText's non-NULL domain")
  }

  test("htmlToText is total on malformed markup; htmlLinks/htmlTitle on crafted pages") {
    import graft.ext.Html
    // unclosed/attribute-broken tags, a stray < with no >, no title
    val out = Seq((1L, "<p>ok<div\nbroken>text<span>x</p> tail < 5 end"))
      .toDF("doc_id", "html")
      .select(Html.htmlToText($"html").as("t"), Html.htmlTitle($"html").as("title"))
      .as[(String, String)].head()
    assert(out._1 === "ok\ntextx\ntail < 5 end",
      "a tag-shaped run swallows to its >, a bare < with no > is kept as text")
    assert(out._2 === "", "no <title> -> empty string (regexp_extract's no-match)")
    // hrefs: double-quoted only, any case, document order
    val links = Seq((1L,
      """<a href="https://a.com/x">x</a><area HREF="https://b.com"><a href='single'>s</a>"""))
      .toDF("doc_id", "html")
      .select(Html.htmlLinks($"html").as("l")).as[Seq[String]].head()
    assert(links === Seq("https://a.com/x", "https://b.com"),
      "single-quoted hrefs are out of contract (documented)")
    // nested blocks: each boundary is one break, runs collapse
    val nested = Seq((1L, "<div><div><p>a</p></div><div>b</div></div>"))
      .toDF("doc_id", "html")
      .select(Html.htmlToText($"html").as("t")).as[String].head()
    assert(nested === "a\nb")
  }

  test("urlQualityReport: blocklist exact+subdomain, banned words, digit/length/depth stats") {
    val rows = Seq(
      (1L, "https://good.example.com/a/b?q=1"),
      (2L, "https://Bad.example.net/x"), // exact blocklist hit (case-folded)
      (3L, "HTTPS://www.deep.bad.example.net:443/y"), // subdomain + www + port -> still a hit
      (4L, "https://notbad.example.net/z"), // 'notbad' is NOT a subdomain of bad -> clean
      (5L, "https://good.example.com/play-casino-now"), // banned word in path
      (6L, "https://123456.example.com"), // digit-heavy host, no path
      (7L, "https://good.example.com/" + "x" * 2048)) // over maxUrlLen
      .toDF("doc_id", "url")
    val r = TextOps.urlQualityReport(rows,
      blockedHosts = Seq("bad.example.net"), bannedWords = Seq("casino"))
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(!r(1L).getBoolean(3) && r(1L).getBoolean(8), "clean URL keeps")
    assert(r(2L).getBoolean(3) && !r(2L).getBoolean(8), "exact host blocks, case-insensitively")
    assert(r(3L).getAs[String]("host") === "deep.bad.example.net",
      "host folds case, drops www. and the port")
    assert(r(3L).getBoolean(3), "a subdomain of a blocked host blocks")
    assert(!r(4L).getBoolean(3), "a host merely ENDING in a blocked name is not its subdomain")
    assert(r(5L).getLong(4) === 1L && !r(5L).getBoolean(8), "banned word in the path bans")
    assert(r(6L).getAs[Double]("host_digit_frac") === 6.0 / 18.0)
    assert(r(6L).getLong(7) === 0L, "no path -> depth 0")
    assert(r(1L).getLong(7) === 2L, "/a/b -> depth 2 (query excluded)")
    assert(!r(7L).getBoolean(8), "over-length URL drops")
    // empty rule lists: nothing blocks or bans
    val open = TextOps.urlQualityReport(rows.limit(1), Nil, Nil).head()
    assert(!open.getBoolean(3) && open.getLong(4) === 0L && open.getBoolean(8))
    // the bare predicate (the zero-join chain face) == the report's keep
    val viaPred = rows.where(TextOps.urlQualityKeep($"url",
        Seq("bad.example.net"), Seq("casino")))
      .select("doc_id").as[Long].collect().sorted.toSeq
    val viaReport = r.collect { case (id, row) if row.getBoolean(8) => id }
      .toSeq.sorted
    assert(viaPred === viaReport, "urlQualityKeep must equal the report's keep column")
  }

  test("htmlLang / htmlMetaContent: declared metadata extracts, decodes, and degrades to empty") {
    import graft.ext.Html
    val page = "<html LANG=\"en-GB\"><head>" +
      "<meta name=\"description\" content=\"A &amp; B   site\">" +
      "<meta name=\"robots\" content=\"noindex\">" +
      "<meta content=\"reversed\" name=\"keywords\">" + // reversed attr order: out of contract
      "</head><body><p>x</p></body></html>"
    val got = Seq((1L, page)).toDF("doc_id", "html")
      .select(Html.htmlLang($"html").as("lang"),
        Html.htmlMetaContent($"html", "description").as("d"),
        Html.htmlMetaContent($"html", "robots").as("r"),
        Html.htmlMetaContent($"html", "keywords").as("k"),
        Html.htmlMetaContent($"html", "absent").as("a"))
      .as[(String, String, String, String, String)].head()
    assert(got === ("en-gb", "A & B site", "noindex", "", ""),
      "lang lowercases; content entity-decodes and whitespace-collapses; " +
        "reversed-order and absent metas read as empty")
    assert(Seq((1L, "<html><p>x</p></html>")).toDF("doc_id", "html")
      .select(Html.htmlLang($"html")).as[String].head() === "",
      "no lang attribute -> empty")
    // a non-identifier meta name can't splice into the pattern
    intercept[IllegalArgumentException] { Html.metaPattern("a b") }
  }

  test("robots directives: delimited-token match, 'none' implies both, 'noindexing' does not") {
    import graft.ext.Html
    def page(directives: String) =
      s"""<html><head><meta name="robots" content="$directives"></head></html>"""
    val m = Seq("NOINDEX, follow", "index, nofollow", "none",
      "noindexing tips", "nonessential", "noindex,nofollow", "")
      .map(d => (d, page(d))).toDF("d", "html")
      .select($"d", Html.robotsNoindex($"html").as("ni"),
        Html.robotsNofollow($"html").as("nf"))
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    assert(m("NOINDEX, follow") === ((true, false)))
    assert(m("index, nofollow") === ((false, true)))
    assert(m("none") === ((true, true)), "'none' means noindex+nofollow")
    assert(m("noindexing tips") === ((false, false)),
      "a token PREFIX must not trip the cut")
    assert(m("nonessential") === ((false, false)))
    assert(m("noindex,nofollow") === ((true, true)), "comma with no space")
    assert(m("") === ((false, false)))
  }

  test("cjkSafeTokens / cjkSegmentText: spaceless scripts segment, others untouched") {
    import graft.ext.TextOps
    // whitespace tokenization sees ONE word; the router sees nine
    // characters (Han), with the embedded Latin run kept whole
    val zh = "Spark是分布式查询引擎很好"
    val wsCount = Seq(zh).toDF("t")
      .select(size(TextOps.tokens($"t"))).as[Int].head()
    assert(wsCount === 1, "the failure mode being fixed")
    val routed = Seq(zh).toDF("t")
      .select(TextOps.cjkSafeTokens($"t")).as[Seq[String]].head()
    assert(routed === Seq("Spark", "是", "分", "布", "式", "查", "询",
      "引", "擎", "很", "好"))
    // Japanese kana+kanji and Thai segment per character; Korean
    // (space-delimited) and European text pass through the router
    // UNTOUCHED — bit-identical strings
    val ja = Seq("データは重要").toDF("t")
      .select(TextOps.cjkSafeTokens($"t")).as[Seq[String]].head()
    assert(ja === Seq("デ", "ー", "タ", "は", "重", "要"))
    val th = Seq("ภาษาไทย ok").toDF("t")
      .select(TextOps.cjkSafeTokens($"t")).as[Seq[String]].head()
    assert(th.last === "ok" && th.length === 8)
    val seg = Seq(
      ("zh", "数据 good"), ("zh-CN", "数据"), ("ja", "重要"), ("th", "ไทย"),
      ("ko", "한국어 텍스트"), ("en", "plain english text"), ("de", "straße"))
      .toDF("lang", "t")
      .select($"lang", TextOps.cjkSegmentText($"t", $"lang").as("s"))
      .as[(String, String)].collect().toMap
    assert(seg("zh") === "数 据 good")
    assert(seg("zh-CN") === "数 据", "region subtags route too")
    assert(seg("ja") === "重 要" && seg("th") === "ไ ท ย")
    assert(seg("ko") === "한국어 텍스트", "Korean is space-delimited: untouched")
    assert(seg("en") === "plain english text" && seg("de") === "straße")
    // the differential the routing exists for: shingles and Gopher
    // word stats segment sensibly AFTER the router, degenerate before
    val doc = Seq((1L, "数据质量评估")).toDF("doc_id", "text")
    val before = doc.select(size(TextOps.shingles($"text", 2))).as[Int].head()
    val after = doc
      .withColumn("text", TextOps.cjkSegmentText($"text", lit("zh")))
      .select(size(TextOps.shingles($"text", 2))).as[Int].head()
    assert(before === 0, "one 'word': no bigram shingles at all")
    assert(after === 5, "six chars -> five distinct char-bigram shingles")
  }

  test("htmlCanonicalUrl / declaredCanonicalOr: absolute declarations win, relative/absent fall back") {
    import graft.ext.Html
    val rows = Seq(
      // absolute declaration on another host: the mirror case
      ("https://mirror.net/a",
        "<html><head><LINK REL=\"canonical\" HREF=\"https://origin.org/a\"></head></html>"),
      // relative declaration: ignored (absolute-only contract)
      ("https://site.com/b",
        "<html><head><link rel=\"canonical\" href=\"/b\"></head></html>"),
      // no declaration
      ("https://site.com/c", "<html><body>plain</body></html>"),
      // first declaration wins on a malformed double
      ("https://site.com/d",
        "<link rel=\"canonical\" href=\"https://one.org/d\">" +
          "<link rel=\"canonical\" href=\"https://two.org/d\">"),
      // href-BEFORE-rel serialization (real-world emitters vary order)
      ("https://mirror.net/e",
        "<link href=\"https://origin.org/e\" rel=\"canonical\">"),
      // single-quoted attributes
      ("https://mirror.net/f",
        "<link rel='canonical' href='https://origin.org/f'>"),
      // rel-first precedence when a malformed page carries BOTH forms
      ("https://site.com/g",
        "<link href=\"https://hreffirst.org/g\" rel=\"canonical\">" +
          "<link rel=\"canonical\" href=\"https://relfirst.org/g\">"),
      // rel="canonicalish" must not match (quote-delimited value)
      ("https://site.com/h",
        "<link rel=\"canonicalish\" href=\"https://other.org/h\">"),
      // PAIRWISE quotes: a double-quoted URL legally containing an
      // apostrophe (wiki titles) must capture WHOLE — a shared
      // [^"'>] class truncated it at the apostrophe, silently
      // collapsing distinct pages onto one prefix key
      ("https://mirror.net/i",
        "<link rel=\"canonical\" href=\"https://wiki.org/O'Brien_(actor)\">"),
      // and the mirror image: a single-quoted value containing a
      // double quote captures whole under its own delimiter
      ("https://mirror.net/j",
        "<link rel='canonical' href='https://site.org/q?mark=\"x\"'>"),
      // apostrophe-in-double-quotes in the href-FIRST order too
      ("https://mirror.net/k",
        "<link href=\"https://wiki.org/It's_here\" rel=\"canonical\">"))
      .toDF("url", "html")
      .select($"url", Html.htmlCanonicalUrl($"html").as("c"),
        Html.declaredCanonicalOr($"url", $"html").as("eff"))
      .as[(String, String, String)].collect().toSeq
    assert(rows === Seq(
      ("https://mirror.net/a", "https://origin.org/a", "https://origin.org/a"),
      ("https://site.com/b", "/b", "https://site.com/b"),
      ("https://site.com/c", "", "https://site.com/c"),
      ("https://site.com/d", "https://one.org/d", "https://one.org/d"),
      ("https://mirror.net/e", "https://origin.org/e", "https://origin.org/e"),
      ("https://mirror.net/f", "https://origin.org/f", "https://origin.org/f"),
      ("https://site.com/g", "https://relfirst.org/g", "https://relfirst.org/g"),
      ("https://site.com/h", "", "https://site.com/h"),
      ("https://mirror.net/i", "https://wiki.org/O'Brien_(actor)",
        "https://wiki.org/O'Brien_(actor)"),
      ("https://mirror.net/j", "https://site.org/q?mark=\"x\"",
        "https://site.org/q?mark=\"x\""),
      ("https://mirror.net/k", "https://wiki.org/It's_here",
        "https://wiki.org/It's_here")))
  }

  test("htmlMainText: link-density line rule drops boilerplate, keeps prose; links inside prose survive") {
    import graft.ext.Html
    val page = "<div><p>This is a long body prose line with enough characters.</p>" +
      "<ul><li><a href=\"x\">Home</a></li>" +
      "<li><a href=\"y\">About page with some words</a></li></ul>" +
      "<p>Another long paragraph of real content here with " +
      "<a href=\"z\">one link</a> inside it but mostly prose text.</p></div>"
    val got = Seq((1L, page)).toDF("doc_id", "html")
      .select(Html.htmlMainText($"html").as("t")).as[String].head()
    assert(got === "This is a long body prose line with enough characters.\n" +
      "Another long paragraph of real content here with one link inside it " +
      "but mostly prose text.",
      "short lines and all-link lines fall; a link inside long prose does not " +
        "poison its line (density 0.5)")
    // threshold edges: a 25-char line stays, 24 falls; a line exactly at
    // half link chars stays, just over falls
    val edge = Seq(
      (1L, "<p>" + ("x" * 25) + "</p><p>" + ("y" * 24) + "</p>"),
      (2L, "<p>prose padding here <a href=\"u\">linked text xx</a></p>"))
      .toDF("doc_id", "html")
      .select($"doc_id", Html.htmlMainText($"html").as("t"))
      .as[(Long, String)].collect().toMap
    assert(edge(1L) === "x" * 25, "minLineChars is inclusive")
    // line 2: total chars 33 ("prose padding here linked text xx"),
    // link chars 14 ("linked text xx") <= 16.5 -> kept, sentinels gone
    assert(edge(2L) === "prose padding here linked text xx")
    // all-boilerplate page -> empty string, not a crash
    val empty = Seq((1L, "<ul><li><a href=\"a\">A</a></li></ul>"))
      .toDF("doc_id", "html")
      .select(Html.htmlMainText($"html").as("t")).as[String].head()
    assert(empty === "")
  }

  test("htmlMainTextBlocks: block context rescues content-internal lines the line rule drops") {
    import graft.ext.Html
    // THE differential fixture: a short link-dense citation strictly
    // between two prose lines — jusText's motivating case. The line
    // rule drops it; the block rule must keep it. The nav list at the
    // top and the footer link at the bottom fail in BOTH rules (their
    // neighbors fail too — no rescue at a block edge).
    val page = "<ul><li><a href=\"n1\">Home</a></li>" +
      "<li><a href=\"n2\">Products</a></li></ul>" +
      "<p>The first long paragraph of genuine article prose text here.</p>" +
      "<p><a href=\"cite\">[source]</a></p>" +
      "<p>The second long paragraph continues the same article body.</p>" +
      "<div><a href=\"f\">Imprint</a></div>"
    val df = Seq((1L, page)).toDF("doc_id", "html")
    val line = df.select(Html.htmlMainText($"html").as("t")).as[String].head()
    val block = df.select(Html.htmlMainTextBlocks($"html").as("t")).as[String].head()
    assert(line === "The first long paragraph of genuine article prose text here.\n" +
      "The second long paragraph continues the same article body.",
      "the line rule drops the citation — that is its documented failure")
    assert(block === "The first long paragraph of genuine article prose text here.\n" +
      "[source]\n" +
      "The second long paragraph continues the same article body.",
      "the block rule rescues the sandwiched citation; edge boilerplate still falls")
    // a failing line at the very edge of the document can't be rescued
    // (no neighbor on one side), and a failing line next to another
    // failing line can't either (nav lists never bleed through)
    val navPage = "<p><a href=\"a\">A</a></p><p><a href=\"b\">B</a></p>" +
      "<p>One long prose paragraph that passes the density rule fine.</p>"
    val navBlock = Seq((1L, navPage)).toDF("doc_id", "html")
      .select(Html.htmlMainTextBlocks($"html").as("t")).as[String].head()
    assert(navBlock === "One long prose paragraph that passes the density rule fine.",
      "two adjacent failing lines rescue nothing")
    // pages where the two rules agree must agree exactly (no-link prose)
    val plain = "<p>Just one sufficiently long paragraph of plain prose.</p>"
    val pdf = Seq((1L, plain)).toDF("doc_id", "html")
    assert(pdf.select(Html.htmlMainTextBlocks($"html").as("t")).as[String].head() ===
      pdf.select(Html.htmlMainText($"html").as("t")).as[String].head())
  }

  test("urlKeyIndex probe: cross-set keys drop, fresh keys pass; round-trip; roll-forward") {
    val corpus = Seq(
      (1L, "https://a.example.com/page/1?utm_source=c&v=1"),
      (2L, "https://a.example.com/page/2")).toDF("doc_id", "url")
    val batch = Seq(
      (10L, "HTTPS://a.example.com/page/1/?v=1#x"), // canonical twin of corpus 1
      (11L, "https://a.example.com/page/9"), // fresh
      (12L, "https://a.example.com/page/9?utm_source=z"), // in-batch dup of 11
      (13L, null.asInstanceOf[String])) // non-addressable -> kept
      .toDF("doc_id", "url")
    val idx = Dedup.urlKeyIndex(corpus)
    def probe(index: org.apache.spark.sql.DataFrame) =
      Dedup.urlDedupAgainstIndex(batch, index)
        .select("doc_id").as[Long].collect().sorted.toSeq
    assert(probe(idx) === Seq(11L, 13L))
    // the persisted shape: parquet round-trip probes identically
    val dir = SparkTestBase.tmpDir("graft_url_idx")
    idx.write.mode("overwrite").parquet(dir)
    assert(probe(spark.read.parquet(dir)) === probe(idx))
    // roll-forward (append semantics — the anti join tolerates dup
    // rows): once the batch's keys fold in, re-probing drops every
    // addressable row
    val idx2 = idx.unionByName(Dedup.urlKeyIndex(batch))
    assert(probe(idx2) === Seq(13L))
  }

  test("containmentPairs: subset doc scores 1.0 one way, below threshold the other") {
    // A's 4 distinct 3-grams all occur in B (8 3-grams): containment
    // A-in-B = 4/4 = 1.0, B-in-A = 4/8 = 0.5 — only the first passes
    // τ = 0.9. The symmetric Jaccard is 4/8 = 0.5: invisible to q13's
    // 0.7 threshold, which is exactly the case this operator exists for.
    val df = docsDf(
      1L -> "a b c d e f",
      2L -> "a b c d e f g h i j",
      3L -> "z1 z2 z3 z4 z5")
    val out = Dedup.containmentPairs(df, shingleSize = 3, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(out === Set((1L, 2L, 1.0)))
    // lowering τ to 0.5 admits the reverse direction at exactly 4/8
    val both = Dedup.containmentPairs(df, shingleSize = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(both === Set((1L, 2L, 1.0), (2L, 1L, 0.5)))
  }

  test("containmentPairs: viral-shingle guard raises; override admits deliberately") {
    val df = docsDf((1L to 12L).map(i => i -> "same same same words here"): _*)
    val e = intercept[IllegalArgumentException](
      Dedup.containmentPairs(df, shingleSize = 2, threshold = 0.9,
        maxCountDocFreq = 4L).collect())
    assert(e.getMessage.contains("maxCountDocFreq"))
    // all 12 docs identical: every directed pair at containment 1.0
    val n = Dedup.containmentPairs(df, shingleSize = 2, threshold = 0.9,
      maxCountDocFreq = 100L).count()
    assert(n === 12L * 11L)
  }

  test("contaminationFraction: hand-computed coverage; overlapping spans count once") {
    val train = docsDf(
      1L -> "t1 t2 t3 t4 t5 t6 t7 t8", // "t3 t4 t5" at pos 2 covers {2,3,4} → 3/8
      2L -> "u1 u2 u3 u4")             // clean → 0.0
    val bench = Seq("x0 t3 t4 t5 x1").toDF("text")
    val rows = Dedup.contaminationFraction(train, bench, spanTokens = 3)
      .select("doc_id", "n_tokens", "contaminated_frac")
      .as[(Long, Long, Double)].collect()
    assert(rows.map(r => r._1 -> r._2).toMap === Map(1L -> 8L, 2L -> 4L))
    val byId = rows.map(r => r._1 -> r._3).toMap
    assert(byId(1L) === 3.0 / 8.0)
    assert(byId(2L) === 0.0)
    // two overlapping benchmark spans: covered positions union, not sum
    val bench2 = Seq("t1 t2 t3", "t3 t4 t5").toDF("text")
    val byId2 = Dedup.contaminationFraction(train, bench2, spanTokens = 3)
      .select("doc_id", "contaminated_frac").as[(Long, Double)].collect().toMap
    assert(byId2(1L) === 5.0 / 8.0) // {0,1,2} ∪ {2,3,4}
  }

  test("dedupContained: keep-superset policy, tie to lower id, chains collapse to the largest") {
    // subset chain a ⊑ b ⊑ c: only the largest survives (absorption is
    // judged against any absorber, surviving or not)
    val chain = docsDf(
      1L -> "a b c",
      2L -> "a b c d",
      3L -> "a b c d e f",
      9L -> "z1 z2 z3 z4 z5")
    val kept = Dedup.dedupContained(chain, shingleSize = 3, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Seq(3L, 9L))
    // two identical docs: mutual containment at equal size — lower id wins
    val twins = docsDf(5L -> "p q r s t", 4L -> "p q r s t")
    val keptTwins = Dedup.dedupContained(twins, shingleSize = 3, threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(keptTwins === Seq(4L))
  }

  test("consistentSample: exact size, repartition-stable, growth only displaces") {
    import graft.ext.Sampling
    val small = (1L to 10L).toDF("doc_id")
    val s1 = Sampling.consistentSample(small, 3).select("doc_id")
      .as[Long].collect().toSet
    assert(s1.size === 3)
    val s1b = Sampling.consistentSample(small.repartition(7), 3).select("doc_id")
      .as[Long].collect().toSet
    assert(s1b === s1)
    // consistency: bottom-k(S ∪ T) ⊆ bottom-k(S) ∪ T — growing the
    // corpus can only displace panel members with new arrivals, never
    // reshuffle the held panel
    val grown = (1L to 20L).toDF("doc_id")
    val s2 = Sampling.consistentSample(grown, 3).select("doc_id")
      .as[Long].collect().toSet
    assert(s2.size === 3)
    assert(s2.forall(id => s1.contains(id) || id > 10L))
  }

  test("epochPlan: hand-computed targets, epochs, rates; unweighted groups excluded") {
    import graft.ext.Sampling
    val df = Seq(
      ("en", "w1 w2 w3"), ("en", "w4 w5 w6"), // 6 tokens
      ("de", "x1 x2 x3 x4"),                  // 4 tokens
      ("fr", "y1 y2")                         // not in the mixture
    ).toDF("lang", "text")
    val out = Sampling.epochPlan(df, Map("en" -> 0.75, "de" -> 0.25),
        tokenBudget = 12L, keyCol = "lang")
      .orderBy("lang")
      .as[(String, Long, Long, Double, Long, Double, Double, Boolean)]
      .collect().toSeq
    assert(out === Seq(
      ("de", 1L, 4L, 0.25, 3L, 0.75, 0.75, false),
      ("en", 2L, 6L, 0.75, 9L, 1.5, 1.0, true)))
  }

  test("materializeEpochs: floor(E) complete passes + md5-threshold fractional tail") {
    import graft.ext.Sampling
    val df = Seq(
      (1L, "en", "w1 w2 w3"), (2L, "en", "w4 w5 w6"), // 6 tokens
      (3L, "de", "x1 x2 x3 x4"),                      // 4 tokens
      (4L, "fr", "y1 y2")                             // unweighted: excluded
    ).toDF("doc_id", "lang", "text")
    // en: target 9 -> E = 1.5 -> epoch 0 full, epoch 1 at rate 0.5
    // de: target 3 -> E = 0.75 -> fractional epoch 0 only (rate 0.75)
    val got = Sampling.materializeEpochs(df, Map("en" -> 0.75, "de" -> 0.25),
        tokenBudget = 12L, keyCol = "lang")
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSet
    // epoch 0 of en carries BOTH docs (a complete pass)
    assert(got.contains((1L, 0L)) && got.contains((2L, 0L)))
    // the fractional tails hold exactly the mixtureSample keep set at
    // the same rate and salt (the shared threshold encoding)
    val enTail = Sampling.mixtureSample(df.where($"lang" === "en"),
      Map("en" -> 0.5), keyCol = "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(_._2 === 1L).map(_._1) === enTail,
      "en epoch 1 must equal the rate-0.5 mixture keep set")
    val deKeep = Sampling.mixtureSample(df.where($"lang" === "de"),
      Map("de" -> 0.75), keyCol = "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(got.filter(t => t._2 === 0L && t._1 === 3L).map(_._1) === deKeep,
      "a downsampled group's single epoch == mixtureSample at rate E")
    // no fr rows at all; no epoch beyond the fractional tail
    assert(!got.exists(_._1 === 4L) && got.forall(_._2 <= 1L))
    // runaway backstop: an absurd budget raises in-plan, naming the group
    val e = intercept[Exception] {
      Sampling.materializeEpochs(df, Map("en" -> 1.0),
        tokenBudget = 1000000L, keyCol = "lang", maxEpochs = 10).collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("maxEpochs")))
    // column ownership: a caller 'epoch' column refuses loudly — and so
    // do the INTERNAL plan-join columns (a caller __thr, plausible
    // after another graft operator, previously hit an ambiguous-column
    // error instead of the named require)
    intercept[IllegalArgumentException] {
      Sampling.materializeEpochs(df.withColumn("epoch", lit(0)),
        Map("en" -> 1.0), 10L, keyCol = "lang") }
    val e2 = intercept[IllegalArgumentException] {
      Sampling.materializeEpochs(df.withColumn("__thr", lit("00ff")),
        Map("en" -> 1.0), 10L, keyCol = "lang") }
    assert(e2.getMessage.contains("__thr"))
  }

  test("gopherRules: carryCols ride the report unchanged (no re-attach join needed)") {
    // the carried attribute must neither perturb any verdict nor be
    // perturbed itself — report-with-carry ≡ report-without joined back
    // on by id (the shape q145 replaced with the carry)
    val df = docsDf(
      1L -> "aa bb aa bb aa cc",
      2L -> "xx yy",
      3L -> "aa # ... zz")
      .withColumn("site", concat(lit("s"), (col("doc_id") % 2).cast("string")))
    val carried = TextOps.gopherRules(df, stopTopK = 2, carryCols = Seq("site"))
    val joined = TextOps.gopherRules(df.drop("site"), stopTopK = 2)
      .join(df.select(col("doc_id"), col("site")), Seq("doc_id"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("site"),
        r.getAs[Long]("n_words"), r.getAs[Boolean]("keep"))
    assert(carried.collect().map(key).toSet === joined.collect().map(key).toSet)
    assert(carried.columns.contains("site"))
  }

  test("gopherRules: carryCols colliding with generated columns raise eagerly") {
    // a carried column named like a generated output (or the id) would
    // silently produce duplicate/ambiguous columns that only fail later
    // with a confusing analysis error — the guard names the clash now
    val df = docsDf(1L -> "aa bb cc")
      .withColumn("n_words", lit(7L))
      .withColumn("keep", lit(true))
    for (bad <- Seq(Seq("n_words"), Seq("keep"), Seq("doc_id"))) {
      val e = intercept[IllegalArgumentException] {
        TextOps.gopherRules(df, carryCols = bad)
      }
      assert(e.getMessage.contains(bad.head))
    }
  }

  test("gopherRules: hand-computed stats, per-rule flags, and keep on crafted docs") {
    val df = docsDf(
      1L -> "aa bb aa bb aa cc",
      2L -> "xx yy",
      3L -> "aa # ... zz",
      4L -> "- one aa\n- two bb\nplain zz...",
      5L -> "aa bb # ... aa bb aa bb aa bb",
      6L -> "aa … bb")
    val rows = TextOps.gopherRules(df,
        minWords = 3, maxWords = 10, minMeanWordLen = 1.0,
        maxMeanWordLen = 3.0, maxSymbolRatio = 0.1,
        minAlphaWordFrac = 0.5, stopTopK = 2, minStopHits = 2,
        maxBulletLineFrac = 0.5, maxEllipsisLineFrac = 0.3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    // corpus top-2 stop list: aa (10 occurrences), bb (8)
    val d1 = rows(1L)
    assert(d1.getAs[Long]("n_words") === 6L)
    assert(d1.getAs[Double]("mean_word_len") === 2.0)
    assert(d1.getAs[Double]("hash_ratio") === 0.0)
    assert(d1.getAs[Double]("ellipsis_ratio") === 0.0)
    assert(d1.getAs[Double]("alpha_word_frac") === 1.0)
    assert(d1.getAs[Long]("n_stop_hits") === 2L)
    assert(d1.getAs[Boolean]("keep"))
    // too short + no stop hits
    val d2 = rows(2L)
    assert(!d2.getAs[Boolean]("ok_words") && !d2.getAs[Boolean]("ok_stops"))
    assert(!d2.getAs[Boolean]("keep"))
    // symbol-heavy: 1 '#' over 4 words = 0.25; 1 '...' = 3/12 = 0.25
    val d3 = rows(3L)
    assert(d3.getAs[Double]("hash_ratio") === 0.25)
    assert(d3.getAs[Double]("ellipsis_ratio") === 0.25)
    assert(d3.getAs[Double]("alpha_word_frac") === 0.5)
    assert(!d3.getAs[Boolean]("ok_symbols") && !d3.getAs[Boolean]("keep"))
    // line rules: 2 of 3 lines bulleted, 1 of 3 ends with ellipsis
    val d4 = rows(4L)
    assert(d4.getAs[Double]("bullet_line_frac") === 2.0 / 3.0)
    assert(d4.getAs[Double]("ellipsis_line_frac") === 1.0 / 3.0)
    assert(!d4.getAs[Boolean]("ok_lines"))
    // the paper's INDEPENDENT thresholds: 1 '#' and 1 '...' over 10
    // words pass EACH 0.1 rule exactly (0.1 and 3/30 = 0.1), where the
    // old composite (3+3)/30 = 0.2 wrongly rejected
    val d5 = rows(5L)
    assert(d5.getAs[Double]("hash_ratio") === 0.1)
    assert(d5.getAs[Double]("ellipsis_ratio") === 0.1)
    assert(d5.getAs[Boolean]("ok_symbols") && d5.getAs[Boolean]("keep"))
    // unicode ellipsis U+2026 counts: 1 '…' over 3 words = 3/9
    val d6 = rows(6L)
    assert(d6.getAs[Double]("hash_ratio") === 0.0)
    assert(d6.getAs[Double]("ellipsis_ratio") === 1.0 / 3.0)
    assert(!d6.getAs[Boolean]("ok_symbols") && !d6.getAs[Boolean]("keep"))
  }

  test("gopherRules: n_stop_hits == the explode/distinct/semi-join count, NULL text and empty corpus included") {
    // the spelling the one-row stop-list broadcast replaced
    def refStopHits(df: org.apache.spark.sql.DataFrame, k: Int) = {
      val stops = TextOps.topTokens(df, k).select(col("token"))
      val hits = df.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .distinct()
        .join(broadcast(stops), Seq("token"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("__h"))
      df.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("__h"), lit(0L)))
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    }
    def got(df: org.apache.spark.sql.DataFrame, k: Int) =
      TextOps.gopherRules(df, stopTopK = k).select("doc_id", "n_stop_hits")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val crafted = docsDf(
      1L -> "aa bb aa bb aa cc",
      2L -> "xx yy",
      3L -> "aa # ... zz",
      4L -> "- one aa\n- two bb\nplain zz...",
      5L -> "aa bb # ... aa bb aa bb aa bb",
      6L -> "aa … bb",
      7L -> null,
      8L -> "aa  bb  ")
    for (k <- Seq(1, 2, 3, 20)) {
      val want = refStopHits(crafted, k)
      assert(got(crafted, k) === want, s"stopTopK=$k")
      assert(want.exists(_._2 > 0) && want.contains(7L -> 0L))
    }
    val empty = docsDf()
    assert(got(empty, 20).isEmpty && refStopHits(empty, 20).isEmpty)
  }

  test("gopherKeep == the report's keep ids joined back, on a frame carrying keep and n_words") {
    def words(s: String, n: Int) = Seq.fill(n)(s).mkString(" ")
    val df = docsDf(
      1L -> words("the quick brown fox jumps over lazy dogs", 7),
      2L -> words("the slow green turtle walks under tall trees", 7),
      3L -> "the quick brown fox",
      4L -> words("# the quick brown fox jumps over dogs", 7),
      5L -> null)
      .withColumn("keep", lit(false))
      .withColumn("n_words", lit(-1L))
    val ref = df.join(TextOps.gopherRules(df).where(col("keep")).select(col("doc_id")),
      Seq("doc_id"))
    val kept = TextOps.gopherKeep(df)
    assert(kept.columns.toSeq === df.columns.toSeq)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select(df.columns.toSeq.map(col): _*).collect().sortBy(_.getLong(0)).toSeq
    assert(rows(kept) === rows(ref))
    assert(rows(kept).map(_.getLong(0)) === Seq(1L, 2L))
  }

  test("tokenDrift: hand-computed shares and deltas, |delta|-ranked cut, one-sided tokens") {
    import graft.ext.Diff
    val older = docsDf(1L -> "a a b")
    val newer = docsDf(2L -> "a c c c")
    // shares: a 2/3 -> 1/4 (|d| = 5/12), b 1/3 -> 0 (1/3), c 0 -> 3/4
    val rows = Diff.tokenDrift(older, newer, k = 2)
      .select("token", "n_old", "n_new", "share_old", "share_new", "share_diff")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .sortBy(_._1).toSeq
    assert(rows === Seq(
      ("a", 2L, 1L, 2.0 / 3.0, 1.0 / 4.0, 1.0 / 4.0 - 2.0 / 3.0),
      ("c", 0L, 3L, 0.0, 3.0 / 4.0, 3.0 / 4.0)))
  }

  // ---- DSIR importance scoring/selection (Dsir) ----

  /** Independent reference implementation of the DSIR bit-length
    * weight: plain Scala loops over the same feature/hash/smoothing
    * definitions — a from-first-principles differential check, not a
    * re-run of the Spark plan.
    */
  private def dsirRef(cand: Seq[(Long, String)], tgt: Seq[String])
      : Map[Long, (Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def feats(t: String): Seq[String] = {
      val l = t.split(" ", -1).toSeq
      l ++ l.zip(l.drop(1)).map { case (a, b) => s"$a $b" }
    }
    def bucket(f: String): String = md5hex(f + "graft").substring(0, 4)
    def bl(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val rawB = cand.flatMap(c => feats(c._2)).map(bucket)
    val tgtB = tgt.flatMap(feats).map(bucket)
    val rawCf = rawB.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tgtCf = tgtB.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val rn = rawB.size.toLong
    val tn = tgtB.size.toLong
    cand.map { case (id, t) =>
      val bs = feats(t).map(bucket)
      val w = bs.map(b =>
        (bl(rn + 65536L) - bl(rawCf(b) + 1L)) -
          (bl(tn + 65536L) - bl(tgtCf.getOrElse(b, 0L) + 1L))).sum
      id -> ((bs.size.toLong, w))
    }.toMap
  }

  test("dsirScore: exact agreement with a from-scratch reference on a mixed corpus") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat sleeps on the warm mat",
      3L -> "zxq vvk wop qnd lrm zxq vvk wop",
      4L -> "one two",
      5L -> "single")
    val tgtRows = Seq(
      "the quick brown fox runs over the green hill",
      "the lazy dog sleeps under the warm sun")
    val got = Dsir.dsirScore(cand.toDF("doc_id", "text"),
        tgtRows.map(t => (100L, t)).toDF("doc_id", "text"))
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, w) => id -> ((n, w)) }.toMap
    assert(got === dsirRef(cand, tgtRows))
  }

  test("dsirScore: target-like docs outscore off-target docs; avg is the IEEE ratio") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      3L -> "zxq vvk wop qnd lrm zxq vvk wop")
    val tgt = Seq(200L -> "the quick brown fox runs over the lazy dog",
      201L -> "the lazy dog and the quick fox")
    val rows = Dsir.dsirScore(cand.toDF("doc_id", "text"), tgt.toDF("doc_id", "text"))
      .select("doc_id", "n_features", "weight_bits", "avg_bits")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L)._3 > rows(3L)._3,
      s"target-like doc must outscore gibberish: ${rows(1L)} vs ${rows(3L)}")
    rows.values.foreach { case (_, n, w, avg) =>
      assert(avg === w.toDouble / n.toDouble)
    }
  }

  test("dsirScore: a corpus scored against itself weighs identically zero") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox", 2L -> "zxq vvk wop", 3L -> "one two three")
    val d = cand.toDF("doc_id", "text")
    val ws = Dsir.dsirScore(d, d).select("weight_bits").as[Long].collect()
    assert(ws.length === 3 && ws.forall(_ === 0L),
      s"target == raw must cancel term for term, got ${ws.toSeq}")
  }

  test("dsir persisted models: parquet round-trip probe == direct score; roll-forward == rebuild") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat sleeps on the warm mat",
      3L -> "zxq vvk wop qnd lrm zxq vvk wop")
    val tgtRows = Seq(100L -> "the quick brown fox runs over the green hill")
    val candDf = cand.toDF("doc_id", "text")
    val tgtDf = tgtRows.toDF("doc_id", "text")
    val dir = SparkTestBase.tmpDir("dsir_models")
    Dsir.dsirModel(candDf).write.parquet(s"$dir/raw")
    Dsir.dsirModel(tgtDf).write.parquet(s"$dir/tgt")
    val probed = Dsir.dsirScoreAgainstModels(candDf,
        spark.read.parquet(s"$dir/raw"), spark.read.parquet(s"$dir/tgt"))
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val direct = Dsir.dsirScore(candDf, tgtDf)
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(probed === direct)
    // folding a second batch into the persisted model == rebuilding
    // the model from the concatenated corpus
    val batch2 = Seq(4L -> "the lazy dog naps near the quick fox").toDF("doc_id", "text")
    val rolled = Dsir.dsirModelRollForward(
        spark.read.parquet(s"$dir/raw"), batch2)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    val rebuilt = Dsir.dsirModel(candDf.unionByName(batch2))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(rolled === rebuilt)
  }

  test("dsirScoreAgainstModels: batch with vocabulary unseen by both models still scores") {
    import graft.ext.Dsir
    val corpus = Seq(1L -> "the quick brown fox").toDF("doc_id", "text")
    val tgt = Seq(100L -> "the quick fox").toDF("doc_id", "text")
    val batch = Seq(9L -> "entirely novel words here").toDF("doc_id", "text")
    val out = Dsir.dsirScoreAgainstModels(batch,
        Dsir.dsirModel(corpus), Dsir.dsirModel(tgt))
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect()
    assert(out.length === 1)
    val (_, n, w) = out.head
    assert(n === 7L) // 4 unigrams + 3 bigrams
    // every feature unseen by both models: per-term weight is
    // bitlen(rn+B) - bitlen(tn+B) with the same smoothed cf=1
    def bl(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    assert(w === 7L * (bl(7L + 65536L) - bl(5L + 65536L)))
  }

  test("dsirSelect: top-k by (weight DESC, id ASC), full rows ride along") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat sleeps on the warm mat",
      3L -> "zxq vvk wop qnd lrm zxq vvk wop",
      4L -> "the lazy dog naps near the quick fox",
      5L -> "qqq rrr sss ttt uuu")
    val tgtRows = Seq(
      "the quick brown fox runs over the green hill",
      "the lazy dog sleeps under the warm sun")
    val candDf = cand.toDF("doc_id", "text")
    val tgtDf = tgtRows.map(t => (100L, t)).toDF("doc_id", "text")
    val ref = dsirRef(cand, tgtRows)
    val wantOrder = cand.map(_._1).sortBy(id => (-ref(id)._2, id)).take(3)
    val got = Dsir.dsirSelect(candDf, tgtDf, k = 3)
      .select("doc_id", "text", "weight_bits")
      .as[(Long, String, Long)].collect()
    assert(got.map(_._1).toSeq === wantOrder)
    got.foreach { case (id, text, w) =>
      assert(text === cand.toMap.apply(id))
      assert(w === ref(id)._2)
    }
  }

  test("dsirSelect: a direct call over parquet scans the corpus once, not per consumer") {
    import graft.ext.Dsir
    val dir = SparkTestBase.tmpDir("dsir_scan_pin")
    Seq(1L -> "the quick brown fox", 2L -> "zxq vvk wop",
        3L -> "the lazy dog", 4L -> "one two three")
      .toDF("doc_id", "text").write.parquet(s"$dir/docs")
    val d = spark.read.parquet(s"$dir/docs")
    val plan = Dsir.dsirSelect(d, d.where(col("doc_id") <= 2L), k = 2)
      .queryExecution.executedPlan.toString
    def n(pat: String) = pat.r.findAllMatchIn(plan).size
    // candidates are checkpointed once (ExistingRDD); the only parquet
    // scans left are the target side's (model cf + model total) —
    // without the materialization the same plan carried ~4 corpus
    // scans (model build + feature explode + join-back)
    val scans = n("FileScan parquet") + n("BatchScan parquet")
    assert(scans <= 2, s"dsirSelect re-scans the corpus: $scans parquet scans\n$plan")
    assert(n("Scan ExistingRDD") >= 1,
      s"expected the checkpointed candidate block in the plan\n$plan")
  }

  test("dsirSelect: a candidate frame already carrying weight_bits is rejected loudly") {
    import graft.ext.Dsir
    val cand = Seq((1L, "the quick fox", 7L)).toDF("doc_id", "text", "weight_bits")
    val tgt = Seq(100L -> "the quick fox").toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dsir.dsirSelect(cand, tgt, k = 1)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("dsir: scoring is row-local; a NULL-text row yields no score row, the others score as before") {
    import graft.ext.Dsir
    val cand = Seq(1L -> "the quick brown fox", 2L -> "zxq vvk wop",
      3L -> "the lazy dog")
    val tgt = Seq("the quick brown fox runs")
    val candDf = (cand :+ (9L -> (null: String))).toDF("doc_id", "text")
    val tgtDf = tgt.map(t => (100L, t)).toDF("doc_id", "text")
    val got = Dsir.dsirScore(candDf, tgtDf)
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, w) => id -> ((n, w)) }.toMap
    assert(got === dsirRef(cand, tgt))
    val probe = Dsir.dsirScoreAgainstModels(candDf, Dsir.dsirModel(candDf),
      Dsir.dsirModel(tgtDf))
    val plan = probe.queryExecution.executedPlan.toString
    for (node <- Seq("Generate", "Join", "Exchange"))
      assert(!plan.contains(node), s"DSIR scoring plan holds $node:\n$plan")
    assert(probe.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(!Dsir.dsirSelect(candDf, tgtDf, k = 10)
      .select("doc_id").as[Long].collect().contains(9L))
  }

  test("dsir: a model holding a bucket twice or a non-hex bucket is rejected loudly") {
    import graft.ext.Dsir
    val batch = Seq(1L -> "the quick fox").toDF("doc_id", "text")
    val good = Dsir.dsirModel(batch)
    def model(rows: (String, java.lang.Long)*) = rows.toDF("__bucket", "__cf")
    val cases = Seq(
      model("abcd" -> 1L, "abcd" -> 2L) -> "twice",
      model("abc" -> 1L) -> "4 lowercase hex",
      model("ABCD" -> 1L) -> "4 lowercase hex",
      model((null: String) -> 1L) -> "4 lowercase hex")
    for ((bad, msg) <- cases; (raw, tgt) <- Seq(bad -> good, good -> bad)) {
      val e = intercept[IllegalArgumentException] {
        Dsir.dsirScoreAgainstModels(batch, raw, tgt)
      }
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  test("dsirSelect and q117 give the same rows under repartition(7)") {
    import graft.ext.Dsir
    val cand = Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown cat sleeps on the warm mat",
      3L -> "zxq vvk wop qnd lrm zxq vvk wop",
      4L -> "the lazy dog naps near the quick fox",
      5L -> "qqq rrr sss ttt uuu",
      6L -> "the warm sun and the quick dog")
      .toDF("doc_id", "text")
    val tgt = Seq(100L -> "the quick brown fox runs over the green hill")
      .toDF("doc_id", "text")
    def sel(c: org.apache.spark.sql.DataFrame) =
      Dsir.dsirSelect(c, tgt, k = 4).collect().toSeq
    assert(sel(cand.repartition(7)) === sel(cand))
    // q117 over the same corpus landed as 7 files
    val dir = SparkTestBase.tmpDir("q117_rep7")
    spark.read.parquet(s"$sf/documents.parquet").repartition(7)
      .write.parquet(s"$dir/documents.parquet")
    def q117(d: String) = SparkEntry.queries("q117_selection_pipeline")(spark, d)
      .collect().toSeq
    val base = q117(sf)
    assert(base.nonEmpty)
    assert(q117(dir) === base)
  }

  // ---- char-mode exact-substring dedup (Lee et al.'s native grain) ----

  test("char-mode exact-substring: arbitrary-boundary runs caught mid-token; keep-first cut") {
    import graft.ext.Dedup
    val df = docsDf(
      1L -> "xxxxABCDEFGHIJyyyy",
      2L -> "zzABCDEFGHIJww",
      3L -> "untouched text here")
    val regions = Dedup.duplicatedCharRegions(df, minChars = 10)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(regions === Seq((1L, 4L, 10L), (2L, 2L, 10L)))
    // token mode is blind here: the duplicated run crosses no token
    // boundary (each doc is one token), which is exactly why the
    // published recipe works at byte/char grain
    assert(Dedup.duplicatedSubstringRegions(df, minTokens = 2).count() === 0L)
    val got = Dedup.stripExactCharSubstrings(df, minChars = 10)
      .select("doc_id", "text", "n_cut_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "xxxxABCDEFGHIJyyyy", 0L), // (1,4) is the (id,pos)-first
      (2L, "zzww", 10L),
      (3L, "untouched text here", 0L)))
  }

  test("char mode == token mode on the single-char-token projection (differential)") {
    import graft.ext.Dedup
    // spaceless texts; the token projection makes every char a token,
    // so the two modes must agree region for region and cut for cut —
    // includes within-doc self-repeats and an exact cross-doc twin
    val texts = Seq(
      1L -> "abcabcabcabc",
      2L -> "xxabcabcabcab",
      3L -> "qwertyuiopas",
      4L -> "abcabcabcabc")
    val charDf = docsDf(texts: _*)
    val tokDf = docsDf(texts.map { case (id, t) =>
      (id, t.map(_.toString).mkString(" ")) }: _*)
    val n = 5
    val charStrip = Dedup.stripExactCharSubstrings(charDf, minChars = n)
      .select("doc_id", "text", "n_cut_chars").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val tokStrip = Dedup.stripExactSubstrings(tokDf, minTokens = n)
      .select("doc_id", "text", "n_cut_tokens").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(charStrip.map(_._1) === tokStrip.map(_._1))
    charStrip.zip(tokStrip).foreach { case ((id, ct, cn), (_, tt, tn)) =>
      assert(cn === tn, s"doc $id: cut counts diverge between modes")
      assert(ct === tt.replace(" ", ""), s"doc $id: survivor text diverges")
    }
    val cr = Dedup.duplicatedCharRegions(charDf, minChars = n)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val tr = Dedup.duplicatedSubstringRegions(tokDf, minTokens = n)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(cr === tr, "region sets diverge between modes")
    assert(cr.nonEmpty, "fixture must actually exercise duplicated regions")
  }

  test("lineRepetition: within-doc dup-line fractions, hand-computed; pure narrow projection") {
    import graft.ext.TextOps
    val df = docsDf(
      1L -> "aa\nbb\naa\ncc\naa", // 5 lines, 3 distinct; 10 chars, 6 distinct
      2L -> "xx",
      3L -> "")
    val got = TextOps.lineRepetition(df)
      .select("doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac")
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 5L, 2.0 / 5.0, 4.0 / 10.0),
      (2L, 1L, 0.0, 0.0),
      (3L, 1L, 0.0, 0.0))) // empty text: one empty line, zero chars
    // row-local by construction: no Exchange anywhere in the plan
    val plan = TextOps.lineRepetition(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"lineRepetition must not shuffle:\n$plan")
  }

  // ---- line-level exact dedup (C4/RefinedWeb unit) ----

  test("duplicateLineStats: hand-computed fractions; short lines exempt via minChars") {
    import graft.ext.Dedup
    val df = docsDf(
      1L -> "aa bb\nZ\ncc",
      2L -> "aa bb\nZ\ndd",
      3L -> "solo\n")
    // minChars=2: "aa bb" duplicated (2 occurrences), "Z" (len 1)
    // exempt although repeated, trailing empty line never counts as dup
    val got = Dedup.duplicateLineStats(df, minChars = 2)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 3L, 1L, 1.0 / 3.0, 5.0 / 8.0),
      (2L, 3L, 1L, 1.0 / 3.0, 5.0 / 8.0),
      (3L, 2L, 0L, 0.0, 0.0)))
    // minChars=1: "Z" now duplicated too
    val loose = Dedup.duplicateLineStats(df, minChars = 1)
      .as[(Long, Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    assert(loose.head === ((1L, 3L, 2L, 2.0 / 3.0, 6.0 / 8.0)))
  }

  test("stripDuplicateLines: corpus-wide keep-first by (id, pos); untouched docs verbatim") {
    import graft.ext.Dedup
    val df = docsDf(
      2L -> "aa bb\nZ\ndd",
      1L -> "aa bb\nZ\ncc",
      3L -> "fresh  text") // double space: survives only if truly verbatim
    val got = Dedup.stripDuplicateLines(df, minChars = 2)
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, "aa bb\nZ\ncc", 0L), // (1,0) is the corpus-wide first "aa bb"
      (2L, "Z\ndd", 1L),
      (3L, "fresh  text", 0L)))
    // minChars=1 also cuts the repeated "Z" (first stays with doc 1)
    val loose = Dedup.stripDuplicateLines(df, minChars = 1)
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(loose(1) === ((2L, "dd", 2L)))
    // a doc whose every line is cut becomes the empty string
    val twin = docsDf(1L -> "only line", 2L -> "only line")
    val wiped = Dedup.stripDuplicateLines(twin)
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(wiped === Seq((1L, "only line", 0L), (2L, "", 1L)))
  }

  test("line index probe: cross-set cut only, within-batch dups out of scope; roll-forward == rebuild") {
    import graft.ext.Dedup
    val corpus = docsDf(1L -> "boiler plate\nbody one", 2L -> "body two")
    val batch = docsDf(
      10L -> "boiler plate\nnovel line\nnovel line",
      11L -> "body two\nmore text")
    val idx = Dedup.lineIndex(corpus, minChars = 1)
    val got = Dedup.stripDuplicateLinesAgainstIndex(batch, idx, minChars = 1)
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (10L, "novel line\nnovel line", 1L), // in-batch twin NOT cut here
      (11L, "more text", 1L)))
    // parquet round-trip + roll-forward == rebuild from the union
    val dir = SparkTestBase.tmpDir("graft_line_idx")
    idx.write.parquet(s"$dir/idx")
    val rolled = Dedup.lineIndexRollForward(
        spark.read.parquet(s"$dir/idx"), batch, minChars = 1)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    val rebuilt = Dedup.lineIndex(corpus.unionByName(batch), minChars = 1)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(rolled === rebuilt)
  }

  test("stripDuplicateLines plan: line text never shuffles — only ids, positions, hashes") {
    import graft.ext.Dedup
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = Dedup.stripDuplicateLines(d).queryExecution.executedPlan.toString
    // every Exchange input is (id, pos, hash/len) or the cut-position
    // array — the __line attribute must never be a shuffle output
    val badLine = plan.linesIterator.find(l =>
      l.contains("Exchange") && l.contains("__line"))
    assert(badLine.isEmpty, s"line text crossed a shuffle: ${badLine.getOrElse("")}")
  }

  test("tokenDrift/bandDrift: an empty side yields 0.0 shares, not engine-dependent nulls") {
    import graft.ext.Diff
    val older = docsDf(1L -> "a a b")
    val rows = Diff.tokenDrift(older, older.where(col("doc_id") < 0), k = 3)
      .select("token", "share_old", "share_new", "share_diff")
      .as[(String, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(rows === Seq(
      ("a", 2.0 / 3.0, 0.0, -2.0 / 3.0),
      ("b", 1.0 / 3.0, 0.0, -1.0 / 3.0)))
    val bands = Diff.bandDrift(older.where(col("doc_id") < 0), older, "doc_id")
      .select("band", "share_old", "share_new")
      .as[(Long, Double, Double)].collect().toSeq
    assert(bands === Seq((1L, 0.0, 1.0)))
  }
}
