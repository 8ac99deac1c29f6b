package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Dedup, Sampling, Similarity, TextOps}

/** End-to-end LLM data-curation pipeline — the composition a real user
  * of this library runs, chained exactly as the operators are meant to
  * compose: exact dedup → near-dup removal → benchmark decontamination
  * → quality filter → language rebalance → split assignment → sequence
  * packing. Asserts each stage's contract (monotone shrink, splits
  * partition the corpus, packing respects capacity) and that the WHOLE
  * chain is deterministic end-to-end — the property every
  * reproducible-data-pipeline claim rests on.
  */
class CurationSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  private val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  // every 50th doc plays the benchmark; the rest is the raw corpus
  private val bench = docs.where($"doc_id" % 50 === 0)
  private val raw = docs.where($"doc_id" % 50 =!= 0)

  private def curate(): DataFrame = {
    val exactDeduped = Dedup.exact(raw)
    val pairs = Dedup.nearDupMinHash(exactDeduped, threshold = 0.8)
    val nearDeduped = Dedup.dedupNearDups(exactDeduped, pairs)
    // semantic pass: embedding-space near-dedup joins back by doc id
    // (the embeddings fixture is keyed vec_id == doc_id)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val semanticKept = Similarity.semanticDedup(emb, threshold = 0.9, nClusters = 4)
      .select($"vec_id".as("doc_id"))
    val semDeduped = nearDeduped.join(semanticKept, Seq("doc_id"), "left_semi")
    val clean = TextOps.decontaminate(semDeduped, bench, shingleSize = 8)
    // model-quality gate alongside the heuristic one: drop the worst
    // perplexity decile (rare-token soup) before the band filter
    val ppl = TextOps.lmPerplexity(clean).select($"doc_id", $"perplexity")
    val cut = ppl.agg(expr("percentile(perplexity, 0.9)")).as[Double].collect()(0)
    val fluent = clean.join(ppl.where($"perplexity" <= cut || $"perplexity".isNull),
      Seq("doc_id"), "left_semi")
    val quality = TextOps.qualityMetrics(fluent)
      .where($"quality_band" === "ok")
      .select(raw.columns.map(col): _*)
    val balanced = Sampling.temperatureSample(quality, keyCol = "lang")
    Sampling.assignSplit(balanced,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
  }

  test("operator StageMaterializer seams: DurableMaterializer == default bit-for-bit") {
    import graft.ext.CurationChain
    // every operator whose multi-consumer cut used to be a hard-coded
    // localCheckpoint now routes it through the injectable seam: a
    // durable (parquet-landing) build must equal the default exactly —
    // the cut is a pure materialization-policy choice, never semantics
    val docsSmall = docs.limit(200)
    def durable(name: String) =
      CurationChain.DurableMaterializer(spark, SparkTestBase.tmpDir(name), docsSmall)
    def rows(d: DataFrame): Seq[org.apache.spark.sql.Row] = {
      val cols = d.columns.map(col)
      d.orderBy(cols.toIndexedSeq: _*).collect().toSeq
    }
    assert(rows(Dedup.nearDupMinHash(docsSmall, threshold = 0.8,
        mat = durable("mh"))) ===
      rows(Dedup.nearDupMinHash(docsSmall, threshold = 0.8)))
    assert(rows(Dedup.nearDupNgramJaccard(docsSmall, shingleSize = 2,
        threshold = 0.7, mat = durable("ng"))) ===
      rows(Dedup.nearDupNgramJaccard(docsSmall, shingleSize = 2,
        threshold = 0.7)))
    val idx = Dedup.minHashIndex(docsSmall.where($"doc_id" % 2 === 0))
    val probe = docsSmall.where($"doc_id" % 2 =!= 0)
    assert(rows(Dedup.nearDupMinHashAgainstIndex(probe, idx,
        mat = durable("mhidx"))) ===
      rows(Dedup.nearDupMinHashAgainstIndex(probe, idx)))
    assert(rows(Dedup.boilerplateFraction(docsSmall, spanTokens = 8,
        mat = durable("bp"))) ===
      rows(Dedup.boilerplateFraction(docsSmall, spanTokens = 8)))
    assert(rows(Dedup.stripBoilerplate(docsSmall, spanTokens = 8,
        mat = durable("sbp"))) ===
      rows(Dedup.stripBoilerplate(docsSmall, spanTokens = 8)))
    assert(rows(Dedup.duplicatedSubstringRegions(docsSmall, minTokens = 8,
        mat = durable("dsr"))) ===
      rows(Dedup.duplicatedSubstringRegions(docsSmall, minTokens = 8)))
    assert(rows(Dedup.stripExactSubstrings(docsSmall, minTokens = 8,
        mat = durable("ses"))) ===
      rows(Dedup.stripExactSubstrings(docsSmall, minTokens = 8)))
    assert(rows(Dedup.stripExactCharSubstrings(docsSmall, minChars = 50,
        mat = durable("scs"))) ===
      rows(Dedup.stripExactCharSubstrings(docsSmall, minChars = 50)))
    assert(rows(Dedup.containmentPairs(docsSmall, shingleSize = 3,
        threshold = 0.6, mat = durable("cp"))) ===
      rows(Dedup.containmentPairs(docsSmall, shingleSize = 3,
        threshold = 0.6)))
    assert(rows(Dedup.dedupContained(docsSmall, shingleSize = 3,
        threshold = 0.6, mat = durable("dc"))) ===
      rows(Dedup.dedupContained(docsSmall, shingleSize = 3,
        threshold = 0.6)))
    // the two direct compositions that used to bypass the seam
    assert(rows(graft.ext.ExtQueries.crawlFullChain(spark,
        mat = durable("crawl"))) ===
      rows(graft.ext.ExtQueries.crawlFullChain(spark)))
    assert(rows(graft.ext.ExtQueries.gatedFrontHalf(spark,
        "/root/testdata/sf0.001", mat = durable("gated"))) ===
      rows(graft.ext.ExtQueries.gatedFrontHalf(spark,
        "/root/testdata/sf0.001")))
    // the iterative operators: every connected-components round and
    // every hostRank cut lands through the same seam. The crafted
    // 10-chain forces several CC rounds on top of the MinHash pairs.
    val pairs = Dedup.nearDupMinHash(docsSmall, threshold = 0.8)
      .select("a_id", "b_id")
      .union((1L to 9L).map(i => (i, i + 1)).toDF("a_id", "b_id"))
    val ccMat = durable("cc")
    assert(rows(Dedup.connectedComponents(pairs, mat = ccMat)) ===
      rows(Dedup.connectedComponents(pairs)))
    assert(new java.io.File(s"${ccMat.dir}/cc_edges/_SUCCESS").isFile)
    assert(rows(Dedup.dedupNearDups(docsSmall, pairs, mat = durable("ndd"))) ===
      rows(Dedup.dedupNearDups(docsSmall, pairs)))
    val scored = docsSmall.withColumn("n_chars", length($"text"))
    assert(rows(Dedup.dedupNearDupsBest(scored, pairs, scoreCol = "n_chars",
        mat = durable("nddb"))) ===
      rows(Dedup.dedupNearDupsBest(scored, pairs, scoreCol = "n_chars")))
    assert(rows(Dedup.impactReport(docsSmall, pairs, Seq("lang"),
        mat = durable("impact"))) ===
      rows(Dedup.impactReport(docsSmall, pairs, Seq("lang"))))
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c", "d" -> "a")
      .toDF("src_host", "dst_host")
    val rankMat = durable("rank")
    assert(rows(graft.ext.LinkGraph.hostRank(edges, checkpointEvery = 2,
        mat = rankMat)) ===
      rows(graft.ext.LinkGraph.hostRank(edges, checkpointEvery = 2)))
    assert(new java.io.File(s"${rankMat.dir}/rank_pairs/_SUCCESS").isFile)
  }

  private def isLocalCut(d: DataFrame): Boolean = d.queryExecution.analyzed match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }

  test("default materializer: an already-materialized cut comes back as is, with no Spark job") {
    import graft.ext.CurationChain.LocalCheckpointMaterializer
    val cut = LocalCheckpointMaterializer("first")(docs.limit(50))
    assert(isLocalCut(cut))
    var again: DataFrame = null
    assert(SparkTestBase.jobsDuring { again = LocalCheckpointMaterializer("second")(cut) } === 0)
    assert(again eq cut)
  }

  test("default materializer: a createDataFrame(rdd) frame is still cut") {
    import graft.ext.CurationChain.LocalCheckpointMaterializer
    val fromRdd = spark.createDataFrame(docs.limit(50).rdd, docs.schema)
    assert(!isLocalCut(fromRdd))
    var cut: DataFrame = null
    assert(SparkTestBase.jobsDuring { cut = LocalCheckpointMaterializer("from_rdd")(fromRdd) } >= 1)
    assert(!(cut eq fromRdd))
    assert(isLocalCut(cut))
    assert(cut.count() === 50L)
  }

  test("curation chain: monotone shrink, splits partition, packing bounded, deterministic") {
    val out = curate().cache()
    val nRaw = raw.count()
    val nOut = out.count()
    assert(nOut > 0 && nOut <= nRaw)

    // each stage only removes rows (spot-check the two dedup stages)
    val nExact = Dedup.exact(raw).count()
    assert(nExact <= nRaw)

    // splits partition the surviving corpus
    val bySplit = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit.values.sum === nOut)
    assert(bySplit("train") > bySplit.getOrElse("val", 0L),
      "train must dominate at a 90/5/5 split")

    // packing the train split: prefix-based first-fit means a bin can
    // overflow only by its straddling last doc — so every bin is bounded
    // by capacity + the longest doc (the exact binning is q34's oracle)
    val train = out.where($"split" === "train")
    val maxDocTokens = train
      .select(max(size(split($"text", " ")))).as[Int].collect()(0)
    val packed = TextOps.packSequences(train, capacity = 512, shardCols = Seq("lang"))
    val overCap = packed.where($"sum_tokens" >= 512 + maxDocTokens).count()
    assert(overCap === 0, "a bin exceeded capacity by more than one straddling doc")
    assert(packed.count() > 0)

    // the whole chain re-runs to the identical document set
    val again = curate().select("doc_id", "split").as[(Long, String)].collect().sorted.toSeq
    val first = out.select("doc_id", "split").as[(Long, String)].collect().sorted.toSeq
    assert(again === first, "curation must be deterministic end-to-end")
    out.unpersist()
  }

  test("curation audit: exact partition of the corpus, consistent with the chain's survivors") {
    import graft.ext.CurationChain
    val audit = CurationChain.audit(docs).cache()

    // one row per corpus document, stage names from the closed set
    assert(audit.count() === docs.count())
    val stages = audit.select("drop_stage").distinct().as[String].collect().toSet
    assert(stages.subsetOf(Set("encoding", "exact_dup", "near_dup",
      "benchmark", "contaminated", "mixture", "kept")))

    // `kept` is EXACTLY the chain's pre-packing survivor set (packing
    // groups, never drops)
    val kept = audit.where($"drop_stage" === "kept")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val survivors = CurationChain.mixture(CurationChain.decontaminate(
        CurationChain.nearDupDedup(CurationChain.normalizeDedup(
          CurationChain.encodingGate(docs))), docs))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === survivors)

    // the benchmark slice is attributed by id, never lost to a later stage
    val benchRows = audit.where($"doc_id" % CurationChain.BenchMod === 0)
      .select("drop_stage").distinct().as[String].collect().toSet
    assert(benchRows.subsetOf(Set("encoding", "exact_dup", "near_dup", "benchmark")),
      s"benchmark docs leaked past stage-4 attribution: $benchRows")
    audit.unpersist()
  }

  test("incremental curation: crafted cross-set semantics, then roll-forward idempotence") {
    import graft.ext.CurationChain
    val corpus = Seq(
      (1L, "alpha beta gamma delta", "en", "src1"),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en", "src1"))
      .toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      // normalized exact duplicate of corpus doc 1 → digest-index drop
      (21L, "Alpha  Beta GAMMA delta", "en", "src2"),
      // near-dup of corpus doc 2 (10/11 shared 3-gram shingles = 0.909) → index probe drop
      (41L, "one two three four five six seven eight nine ten eleven twelve thirteen", "en", "src2"),
      // brand new → kept
      (61L, "completely novel content nothing shares these tokens", "en", "src2"),
      // within-batch exact twins → keep-min-id keeps 81
      (81L, "batch twin text appearing twice in this batch", "en", "src2"),
      (101L, "batch twin text appearing twice in this batch", "en", "src2"))
      .toDF("doc_id", "text", "lang", "source")
    val (dig, mh) = CurationChain.corpusState(corpus)
    val curated = CurationChain.runIncremental(batch, dig, mh,
      benchmarkSource = corpus.unionByName(batch))
    assert(curated.select("doc_id").as[Long].collect().sorted.toSeq === Seq(61L, 81L))

    // roll the curated batch into the state: re-running the SAME batch
    // must now come back empty (every survivor digest-matches the
    // index; every loser falls at the same stage it fell before)
    val (dig2, mh2) = CurationChain.rollForward(dig, mh, curated)
    val rerun = CurationChain.runIncremental(batch, dig2, mh2,
      benchmarkSource = corpus.unionByName(batch))
    assert(rerun.count() === 0L, "re-ingesting an already-folded batch must drop everything")
  }

  test("ccnet pipeline: fn-step path == direct composition; bands partition each language") {
    import graft.ext.{CcNet, ExtQueries}
    import graft.exec.EtlContext
    docs.createOrReplaceTempView("documents")
    val direct = CcNet.curate(docs, ExtQueries.langProfiles)
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(direct.nonEmpty)

    // the fn-step face runs the same stages through the Step registry
    val ctx = EtlContext(spark, null, null,
      fns = CcNet.fns(ExtQueries.langProfiles))
    val stepNames = Seq("ccnet_init", "ccnet_lang_id", "ccnet_score",
      "ccnet_band", "ccnet_keep")
    val viaSteps = stepNames.foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      (_, name) => ctx.fns(name)(spark, ctx)
    }.get.select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sorted.toSeq
    assert(viaSteps === direct, "fn-step ccnet must equal the direct composition")

    // banding sanity: within every language, terciles partition the
    // scored set and the head is never larger than a third + ties
    val banded = CcNet.surprisalBands(
      CcNet.perLanguageSurprisal(
        graft.ext.TextOps.languageId(docs, ExtQueries.langProfiles), "lang_cand"),
      "lang_cand")
    val byLang = banded.groupBy("lang_cand").pivot("band").count().collect()
    byLang.foreach { r =>
      val head = Option(r.getAs[java.lang.Long]("head")).map(_.toLong).getOrElse(0L)
      val mid = Option(r.getAs[java.lang.Long]("middle")).map(_.toLong).getOrElse(0L)
      val tail = Option(r.getAs[java.lang.Long]("tail")).map(_.toLong).getOrElse(0L)
      val n = head + mid + tail
      assert(n > 0)
      // <= exact-tercile bound plus tie slack: every band boundary can
      // only absorb ties downward, so head is at most ceil(n/3) + ties;
      // assert the coarse invariant that no band swallows everything
      assert(head < n && tail < n,
        s"degenerate banding for ${r.getString(0)}: head=$head middle=$mid tail=$tail")
    }
  }

  test("durable chain materialization: preempted run resumes from last landed stage") {
    import graft.ext.CurationChain
    import CurationChain.StageMaterializer

    // spy: records which stage BODIES were evaluated — a skipped body
    // means nothing upstream of that stage ran either
    class Spy(inner: StageMaterializer) extends StageMaterializer {
      val evaluated = scala.collection.mutable.ListBuffer.empty[String]
      def apply(stage: String)(d: => org.apache.spark.sql.DataFrame) =
        inner(stage) { evaluated += stage; d }
    }
    // bomb: the "executor preempted / session killed" stand-in — dies
    // before a chosen stage lands, leaving earlier landings on disk
    class Bomb(inner: StageMaterializer, failAt: String) extends StageMaterializer {
      def apply(stage: String)(d: => org.apache.spark.sql.DataFrame) = {
        if (stage == failAt) throw new RuntimeException(s"preempted before $stage")
        inner(stage)(d)
      }
    }
    def landedFiles(dir: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f =>
        f.getAbsolutePath.stripPrefix(dir) -> f.lastModified()).toMap
    }

    val expected = CurationChain.run(docs).orderBy("lang", "bin_id")
      .collect().toSeq

    val dir = SparkTestBase.tmpDir("graft_chain_durable")
    val durable = CurationChain.DurableMaterializer(spark, dir, docs)
    // first attempt dies before stage 3: s1 + s2 land, s3/s4 never run
    intercept[RuntimeException] {
      CurationChain.run(docs, new Bomb(durable, "s3_near_dup_dedup"))
    }
    assert(new java.io.File(s"$dir/s2_normalize_dedup/_SUCCESS").isFile,
      "stage 2 must have landed before the preemption")
    assert(!new java.io.File(s"$dir/s3_near_dup_dedup").exists())
    val landedBefore = landedFiles(dir)

    // resume: landed stages are NOT recomputed (bodies unevaluated) and
    // their landings are untouched byte-for-byte (same files, same mtimes)
    val spy = new Spy(durable)
    val resumed = CurationChain.run(docs, spy).orderBy("lang", "bin_id")
      .collect().toSeq
    // "minhash_sigs" and the "cc_*" cuts are stage 3's operator-INTERNAL
    // cuts (Dedup.nearDupMinHash's signature frame, then the
    // connected-components edges, initial labels and rounds): the seam
    // routes them to the injected materializer too, so a resumed s3
    // evaluates and lands them — they were unlanded when the bomb fired
    assert(spy.evaluated.toList ===
      List("s3_near_dup_dedup", "minhash_sigs", "cc_edges", "cc_labels_0",
        "cc_round_1", "cc_round_2", "s4_decontaminate"),
      "resume must evaluate exactly the unlanded stages")
    assert(landedFiles(dir).view.filterKeys(landedBefore.contains).toMap
      === landedBefore,
      "resume must not rewrite already-landed stages")
    assert(resumed === expected,
      "resumed durable run must equal the single-session localCheckpoint run")

    // a fully-landed dir re-runs with ZERO stage evaluation
    val spy2 = new Spy(durable)
    val rerun = CurationChain.run(docs, spy2).orderBy("lang", "bin_id")
      .collect().toSeq
    assert(spy2.evaluated.isEmpty && rerun === expected)
  }

  test("durable dir is bound to its input: other corpus fails loudly, same corpus resumes") {
    import graft.ext.CurationChain
    import CurationChain.StageMaterializer
    class Spy(inner: StageMaterializer) extends StageMaterializer {
      val evaluated = scala.collection.mutable.ListBuffer.empty[String]
      def apply(stage: String)(d: => DataFrame) =
        inner(stage) { evaluated += stage; d }
    }
    // two parquet corpora: the even and the odd half of the fixture
    val root = SparkTestBase.tmpDir("graft_bound_corpora")
    docs.where($"doc_id" % 2 === 0).write.parquet(s"$root/a")
    docs.where($"doc_id" % 2 =!= 0).write.parquet(s"$root/b")
    val a = spark.read.parquet(s"$root/a")
    val b = spark.read.parquet(s"$root/b")
    val dir = SparkTestBase.tmpDir("graft_bound_dir")
    val first = CurationChain.run(a, CurationChain.DurableMaterializer(spark, dir, a))
      .orderBy("lang", "bin_id").collect().toSeq
    assert(new java.io.File(s"$dir/_INPUT").isFile)

    // corpus B at corpus A's dir: refused before any stage is reused
    val spyB = new Spy(CurationChain.DurableMaterializer(spark, dir, b))
    val e = intercept[IllegalStateException] {
      CurationChain.run(b, spyB).collect()
    }
    assert(e.getMessage.contains(dir) && e.getMessage.contains(s"$root/b/"),
      e.getMessage)
    assert(spyB.evaluated.isEmpty)

    // the same corpus A resumes with zero stage evaluation
    val spyA = new Spy(CurationChain.DurableMaterializer(spark, dir, a))
    val again = CurationChain.run(a, spyA).orderBy("lang", "bin_id").collect().toSeq
    assert(spyA.evaluated.isEmpty && again === first)
  }

  test("CcNet durable materialization: a killed curation resumes from the landed prediction frame") {
    import graft.ext.{CcNet, CurationChain, LangModel}
    import CurationChain.StageMaterializer
    class Spy(inner: StageMaterializer) extends StageMaterializer {
      val evaluated = scala.collection.mutable.ListBuffer.empty[String]
      def apply(stage: String)(d: => org.apache.spark.sql.DataFrame) =
        inner(stage) { evaluated += stage; d }
    }
    class Bomb(inner: StageMaterializer, failAt: String) extends StageMaterializer {
      def apply(stage: String)(d: => org.apache.spark.sql.DataFrame) = {
        if (stage == failAt) throw new RuntimeException(s"preempted before $stage")
        inner(stage)(d)
      }
    }
    // two crafted languages; the trained scorer is the expensive stage
    // whose landing IS the resume point
    def sent(words: Seq[String], k: Int) =
      (0 until 10).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val corpus = ((1 to 12).map(i => (i.toLong, sent(aw, i), "aa")) ++
      (13 to 24).map(i => (i.toLong, sent(bw, i), "bb")))
      .toDF("doc_id", "text", "lang")
    val model = LangModel.langTrain(corpus)
    val expected = CcNet.curateWithModel(corpus, model)
      .orderBy("doc_id").collect().toSeq
    val dir = SparkTestBase.tmpDir("graft_ccnet_durable")
    val durable = CurationChain.DurableMaterializer(spark, dir, corpus)
    // first attempt dies before the scoring stage: the prediction
    // frame (the corpus's dominant linear cost) has already landed
    intercept[RuntimeException] {
      CcNet.curateWithModel(corpus, model,
        mat = new Bomb(durable, "ccnet_scored"))
    }
    assert(new java.io.File(s"$dir/ccnet_predictions/_SUCCESS").isFile,
      "the prediction frame must have landed before the preemption")
    assert(!new java.io.File(s"$dir/ccnet_scored").exists())
    // resume: the scorer is NOT re-paid (its stage body unevaluated),
    // and the result equals the single-session localCheckpoint run
    // bit-for-bit (doubles round-trip parquet exactly)
    val spy = new Spy(durable)
    val resumed = CcNet.curateWithModel(corpus, model, mat = spy)
      .orderBy("doc_id").collect().toSeq
    assert(spy.evaluated.toList === List("ccnet_scored"),
      "resume must re-enter at the unlanded stage only — the landed " +
        "prediction frame is probed, never rescored")
    assert(resumed === expected,
      "resumed durable curation must equal the single-session run")
    // the predictions face composes with the same seam: probing the
    // landed artifact under a durable dir equals the model run too
    val viaPred = CcNet.curateWithPredictions(corpus,
        spark.read.parquet(s"$dir/ccnet_predictions")
          .withColumnRenamed("lang_cand", "lang_pred")
          .withColumn("margin", org.apache.spark.sql.functions.lit(null)
            .cast("double")),
        mat = CurationChain.LocalCheckpointMaterializer)
      .orderBy("doc_id").collect().toSeq
    assert(viaPred === expected)
  }
}
