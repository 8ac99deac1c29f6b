package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions

/** SQL exposure of the custom expressions: user transform steps run
  * through spark.sql, so every extension function must be callable from
  * SQL text.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("cosine_similarity callable from SQL with the exact fold semantics") {
    GraftFunctions.register(spark)
    val sim = spark.sql(
      "SELECT cosine_similarity(array(1.0F, 2.0F, 0.0F), array(2.0F, 3.0F, 0.0F)) AS s")
      .as[Double].head()
    assert(sim === 0.9922778767136677)
  }

  test("shingle_hashes + sorted_intersect_count compose in SQL") {
    GraftFunctions.register(spark)
    val inter = spark.sql(
      """SELECT sorted_intersect_count(
        |  shingle_hashes('a b c d', 2), shingle_hashes('a b c x', 2)) AS c""".stripMargin)
      .as[Int].head()
    assert(inter === 2) // shared bigrams: "a b", "b c"
  }

  test("char_ngram_buckets == the substring-explode xxhash pipeline, per occurrence, in order") {
    import org.apache.spark.sql.functions._
    // the exact Column pipeline CharNgramBuckets replaced (LangModel's
    // pre-r21 featureStream): substr grams per n, xxhash64, pmod
    def oldGrams(t: org.apache.spark.sql.Column, ns: Seq[Int], b: Int) = {
      val grams = ns.map { n =>
        when(length(t) >= n,
          transform(sequence(lit(1), length(t) - (n - 1)),
            i => t.substr(i, lit(n))))
          .otherwise(array().cast("array<string>"))
      }
      transform(concat(grams: _*), f => pmod(xxhash64(f), lit(b.toLong)))
    }
    // multibyte coverage: ASCII, CJK (3-byte), emoji (4-byte, surrogate
    // pair = ONE code point in both paths), combining marks, short and
    // empty strings, and strings shorter than the larger n
    val fixtures = Seq("hello world", "你好世界，今天",
      "café au lait", "😀🎉 party 🎂",
      "áb̂c", "ab", "a", "", "mixed 中文 and english",
      "x" * 300)
    val df = fixtures.toDF("t")
    for (ns <- Seq(Seq(2, 3), Seq(1), Seq(4, 2)); b <- Seq(7, 65536)) {
      val rows = df.select(
          graft.functions.ArrayExprs.charNgramBuckets(col("t"), ns, b).as("nw"),
          oldGrams(col("t"), ns, b).as("old"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1),
          s"bucket sequence diverged for ns=$ns b=$b")
      }
    }
  }

  test("token/char_window_hashes == the ordered-window xxhash pipelines, per position") {
    import org.apache.spark.sql.functions._
    // the exact Column pipelines the window-hash expressions replaced:
    // TextOps.shinglesOrdered / charWindowsOrdered followed by xxhash64
    def oldTokenWindows(t: org.apache.spark.sql.Column, n: Int) = {
      val toks = split(t, " ")
      when(size(toks) >= n,
        transform(
          sequence(lit(0), size(toks) - n),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(n))))))
        .otherwise(array().cast("array<bigint>"))
    }
    def oldCharWindows(t: org.apache.spark.sql.Column, n: Int) =
      when(length(t) >= n,
        transform(
          sequence(lit(0), length(t) - n),
          i => xxhash64(substr(t, i + 1, lit(n)))))
        .otherwise(array().cast("array<bigint>"))
    // whitespace edge cases matter for the token grain: consecutive
    // spaces split to EMPTY tokens that rejoin losslessly, leading/
    // trailing spaces, tabs/newlines INSIDE tokens (split is on the
    // literal space only); multibyte coverage as in char_ngram_buckets
    val fixtures = Seq("hello world how are you", "a  double  space",
      " leading and trailing ", "tab\tinside and\nnewline tokens",
      "你好 世界 今天 好", "😀🎉 party 🎂 time", "áb̂c d é f",
      "single", "", " ", "  ", "mixed 中文 and english words here",
      ("tok " * 100).trim, null)
    val df = fixtures.toDF("t")
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = df.select(col("t"),
          graft.functions.ArrayExprs.tokenWindowHashes(col("t"), n).as("nw"),
          oldTokenWindows(col("t"), n).as("old"),
          graft.functions.ArrayExprs.charWindowHashes(col("t"), n).as("nwc"),
          oldCharWindows(col("t"), n).as("oldc"))
        .collect()
      rows.filter(_.isNullAt(0)).foreach { r =>
        // NULL text: the native expressions return NULL (explode → no
        // rows, the featurizers' NULL-text contract); the old Column
        // pipelines fall to their empty-array branch, which explodes
        // to the same nothing
        assert(r.isNullAt(1) && r.isNullAt(3),
          s"window hashes of NULL text must be NULL for n=$n")
        assert(r.getSeq[Long](2).isEmpty && r.getSeq[Long](4).isEmpty)
      }
      rows.filter(!_.isNullAt(0)).foreach { r =>
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"token window hashes diverged for n=$n text=${r.getString(0)}")
        assert(r.getSeq[Long](3) === r.getSeq[Long](4),
          s"char window hashes diverged for n=$n text=${r.getString(0)}")
      }
    }
    // and the 50-char published-recipe width on a long multibyte text
    val long = (("café 😀 " * 40) + "plain ascii tail " * 10).trim
    val r = Seq(long).toDF("t").select(
        graft.functions.ArrayExprs.charWindowHashes(col("t"), 50).as("nwc"),
        oldCharWindows(col("t"), 50).as("oldc"))
      .head()
    assert(r.getSeq[Long](0) === r.getSeq[Long](1))
  }

  test("dsir featureBuckets == the md5-slice Column pipeline, per feature, in order") {
    import org.apache.spark.sql.functions._
    // the Column pipeline the native expression replaced: unigrams ++
    // adjacent bigrams of split(text, " "), each md5(f || salt)[1..4]
    def oldBuckets(t: org.apache.spark.sql.Column, salt: String) = {
      val toks = split(t, " ")
      val m = greatest(size(toks) - 1, lit(0))
      val bigrams = zip_with(slice(toks, lit(1), m), slice(toks, lit(2), m),
        (a, b) => concat(a, lit(" "), b))
      transform(concat(toks, bigrams), f => substring(md5(concat(f, lit(salt))), 1, 4))
    }
    val fixtures = Seq("the quick brown fox", "你好 世界 今天 好",
      "😀🎉 party 🎂 time", "áb̂c d é f", "", "single", "a  double  space",
      " leading and trailing ", " ", "  ", ("tok " * 100).trim, null)
    val df = fixtures.toDF("t")
    for (salt <- Seq("graft", "sälz 塩")) {
      val rows = df.select(col("t"),
          graft.ext.Dsir.featureBuckets(col("t"), salt).as("nw"),
          oldBuckets(col("t"), salt).as("old"))
        .collect()
      rows.filter(_.isNullAt(0)).foreach(r => assert(r.isNullAt(1) && r.isNullAt(2)))
      rows.filter(!_.isNullAt(0)).foreach { r =>
        assert(r.getSeq[String](1) === r.getSeq[String](2),
          s"feature buckets diverged for salt=$salt text='${r.getString(0)}'")
      }
    }
  }

  test("max_token_multiplicity callable from SQL") {
    GraftFunctions.register(spark)
    val top = spark.sql("SELECT max_token_multiplicity('a b a c a') AS m")
      .as[Int].head()
    assert(top === 3)
  }

  test("a user SQL step can call the extension functions") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = SparkTestBase.tmpDir("graft_fn_step")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"))
    Seq((1L, "the quick brown fox"), (2L, "the quick brown cat"))
      .toDF("doc_id", "text").createOrReplaceTempView("docs")
    val out = StepRunner.runSelect(ctx, Step.Select(SqlSource.Inline(
      """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  sorted_intersect_count(shingle_hashes(a.text, 2),
        |                         shingle_hashes(b.text, 2)) AS shared
        |FROM docs a JOIN docs b ON a.doc_id < b.doc_id""".stripMargin)))
    assert(out.as[(Long, Long, Int)].collect().toSeq === Seq((1L, 2L, 2)))
  }

  test("exposure matrix: every SQL function and table-op fn step is pinned and documented") {
    // ROW-level expressions -> real SQL functions
    val sqlFns = GraftFunctions.functions.map(_._1.funcName).toSet
    assert(sqlFns === Set("cosine_similarity", "shingle_hashes", "simhash_chunks",
      "sorted_intersect_count", "max_token_multiplicity",
      "graft_bpe_tokens", "graft_unigram_tokens"))
    // TABLE-level operators -> named fn steps (F17); composed pipelines
    // keep their own stage registries
    assert(graft.ext.GraftFns.standard.keySet === Set("graft_init",
      "graft_exact_dedup", "graft_normalize_dedup", "graft_near_dup_dedup",
      "graft_decontaminate", "graft_strip_boilerplate",
      "graft_strip_exact_substrings", "graft_strip_char_substrings",
      "graft_strip_dup_lines", "graft_url_dedup", "graft_url_filter",
      "graft_html_to_text", "graft_robots_filter", "graft_host_prior",
      "graft_training_order",
      "graft_rank_keep", "graft_anchor_filter", "graft_canonical_url_dedup",
      "graft_cjk_segment",
      "graft_dsir_select", "graft_gopher_filter",
      "graft_bpe_tokenize", "graft_unigram_tokenize", "graft_pack_sequences",
      "graft_epoch_materialize", "graft_psl_domain"))
    assert(graft.ext.CurationChain.fns.keySet === Set("curation_init",
      "encoding_gate", "normalize_dedup", "near_dup_dedup", "decontaminate",
      "mixture_sample", "pack_sequences"))
    assert(graft.ext.CcNet.fns(graft.ext.ExtQueries.langProfiles).keySet ===
      Set("ccnet_init", "ccnet_lang_id", "ccnet_score", "ccnet_band", "ccnet_keep"))
    // README documents every exposed name — the matrix stays honest
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    (sqlFns ++ graft.ext.GraftFns.standard.keySet).foreach(name =>
      assert(readme.contains(name), s"README.md does not document '$name'"))
  }

  test("r16 fn steps: robots filter, host prior, training order ≡ direct operators") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_r16fns")
    val pages = Seq(
      (1L, "https://good.com/a",
        """<html><head><meta name="robots" content="NoIndex"></head><body>x</body></html>"""),
      (2L, "https://good.com/b", "<html><body>y</body></html>"),
      (3L, "https://lone.net/c", "<html><body>z</body></html>"))
      .toDF("doc_id", "url", "html")
    pages.createOrReplaceTempView("pages_src")
    // good.com endorsed by two hosts; lone.net by one
    Seq(("x.org", "good.com", 1L, 1L), ("y.org", "good.com", 1L, 1L),
      ("x.org", "lone.net", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
      .createOrReplaceTempView("prior_edges")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "pages_src",
        "GRAFT_EDGES_VIEW" -> "prior_edges", "GRAFT_MIN_IN_HOSTS" -> "2",
        "GRAFT_NSHARDS" -> "2", "GRAFT_EPOCH_SEED" -> "e9"),
      fns = graft.ext.GraftFns.standard)
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM pages_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_robots_filter"), // doc 1 (noindex) drops
      Step.Fn("graft_host_prior"),    // doc 3 (lone.net, 1 in-host) drops
      Step.Fn("graft_training_order"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, host, in_hosts, shard, seq FROM graft")))).get
    val rows = result.as[(Long, String, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq === Seq(2L))
    assert(rows.head._2 === "good.com" && rows.head._3 === 2L)
    // the step's order matches the direct operator under the same seed
    val direct = graft.ext.Export.trainingOrder(
      pages.where($"doc_id" === 2L)
        .withColumn("host", lit("good.com")).withColumn("in_hosts", lit(2L)),
      nShards = 2, seed = "e9")
      .select("doc_id", "shard", "seq").as[(Long, Long, Long)].collect()
    assert(rows.map(r => (r._1, r._4, r._5)).toSeq === direct.toSeq)
    // missing GRAFT_EDGES_VIEW fails loudly
    val bad = ctx.copy(variables = ctx.variables - "GRAFT_EDGES_VIEW")
    intercept[graft.config.ConfigException] {
      StepRunner.runSteps(bad, Seq(
        Step.Select(SqlSource.Inline("SELECT * FROM pages_src"),
          cache = Some(CacheSpec("pages", None))),
        Step.Fn("graft_init"),
        Step.Fn("graft_host_prior"))).get
    }
  }

  test("r17 fn steps: rank keep, anchor filter, canonical dedup, cjk segment ≡ direct operators") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_r17fns")
    // a rank snapshot: good.com endorsed by three hosts, lone.net fed
    // by good.com; floor hosts sit at (1-d)/n
    val edges = Seq(("a.org", "good.com", 1L, 1L), ("b.org", "good.com", 1L, 1L),
      ("c.io", "good.com", 1L, 1L), ("good.com", "lone.net", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    val rank = graft.ext.LinkGraph.writeRankSnapshot(spark, edges,
      s"$work/snap", iterations = 3)
    val minRank = 1.5 * ((1.0 - 0.85) / rank.count())
    Seq(("good.com", "casino bonus", 3L, 2L), ("lone.net", "fine reading", 2L, 2L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
      .createOrReplaceTempView("anchor_profiles")
    val pages = Seq(
      // doc 1 declares doc 2's URL as its canonical: a cross-host mirror
      (1L, "https://good.com/mirror", "zh",
        "<html><head><link rel=\"canonical\" href=\"https://lone.net/orig\"></head></html>",
        "数据质量"),
      (2L, "https://lone.net/orig", "en", "<html><body>o</body></html>",
        "original"),
      (3L, "https://a.org/x", "en", "<html><body>u</body></html>",
        "unranked page"))
      .toDF("doc_id", "url", "lang", "html", "text")
    pages.createOrReplaceTempView("pages_src")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "pages_src",
        "GRAFT_RANK_DIR" -> s"$work/snap",
        "GRAFT_MIN_RANK" -> minRank.toString,
        "GRAFT_ANCHORS_VIEW" -> "anchor_profiles",
        "GRAFT_KEYWORDS" -> "casino"),
      fns = graft.ext.GraftFns.standard)
    // rank keep: doc 3 (a.org at the floor) drops; anchor filter:
    // good.com's inbound anchors are 100% 'casino' -> doc 1 drops;
    // canonical dedup: nothing left to collapse but the step must run
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM pages_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_rank_keep"),
      Step.Fn("graft_anchor_filter"),
      Step.Fn("graft_canonical_url_dedup"),
      Step.Fn("graft_cjk_segment"),
      Step.Select(SqlSource.Inline("SELECT doc_id, text FROM graft")))).get
    assert(result.as[(Long, String)].collect().toSeq === Seq((2L, "original")))
    // canonical collapse + cjk segment verified on their own: both
    // mirror rows key onto lone.net/orig (min id wins) and zh text
    // re-spaces per character
    val ctx2 = ctx.copy(variables = ctx.variables - "GRAFT_RANK_DIR")
    val collapsed = StepRunner.runSteps(ctx2, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM pages_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_canonical_url_dedup"),
      Step.Fn("graft_cjk_segment"),
      Step.Select(SqlSource.Inline("SELECT doc_id, text FROM graft ORDER BY doc_id")))).get
    val rows = collapsed.as[(Long, String)].collect().toSeq
    assert(rows.map(_._1) === Seq(1L, 3L),
      "doc 2 collapses onto doc 1's declared canonical key (min id wins)")
    assert(rows.head._2 === "数 据 质 量", "zh text re-spaced per character")
    intercept[graft.config.ConfigException] {
      StepRunner.runSteps(ctx2, Seq(
        Step.Select(SqlSource.Inline("SELECT * FROM pages_src"),
          cache = Some(CacheSpec("pages", None))),
        Step.Fn("graft_init"),
        Step.Fn("graft_rank_keep"))).get
    }
  }

  test("r18 fn steps: meta-derived rank threshold, epoch materialize, laned packing ≡ direct") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_r18fns")
    val edges = Seq(("a.org", "good.com", 1L, 1L), ("b.org", "good.com", 1L, 1L),
      ("c.io", "good.com", 1L, 1L), ("good.com", "lone.net", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    graft.ext.LinkGraph.writeRankSnapshot(spark, edges, s"$work/snap",
      iterations = 3)
    val pages = Seq(
      (1L, "https://good.com/a", "en", "alpha beta gamma"),
      (2L, "https://lone.net/b", "en", "delta epsilon"),
      (3L, "https://a.org/c", "de", "zeta eta theta iota"))
      .toDF("doc_id", "url", "lang", "text")
    pages.createOrReplaceTempView("r18_src")
    // rank keep WITHOUT GRAFT_MIN_RANK: the threshold derives from the
    // snapshot's landed metadata (1.5 x floor) — same keeps as q148's
    // hand-computed bar (good.com + lone.net clear, a.org at the floor)
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "r18_src",
        "GRAFT_RANK_DIR" -> s"$work/snap",
        "GRAFT_MIX_WEIGHTS" -> "en:0.8,de:0.2",
        "GRAFT_TOKEN_BUDGET" -> "10",
        "GRAFT_MIX_KEY" -> "lang"),
      fns = graft.ext.GraftFns.standard)
    val kept = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_rank_keep"),
      Step.Select(SqlSource.Inline("SELECT doc_id FROM graft ORDER BY doc_id")))).get
    assert(kept.as[Long].collect().toSeq === Seq(1L, 2L),
      "meta-derived 1.5x-floor threshold == the hand-carried q148 bar")
    // epoch materialize as a step == the direct operator
    val epochs = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_epoch_materialize"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, epoch FROM graft ORDER BY doc_id, epoch")))).get
    val direct = graft.ext.Sampling.materializeEpochs(pages,
        Map("en" -> 0.8, "de" -> 0.2), 10L, keyCol = "lang")
      .select("doc_id", "epoch").orderBy("doc_id", "epoch")
    assert(epochs.collect().toSeq === direct.collect().toSeq)
    // laned packing as a step == the direct operator
    val laned = StepRunner.runSteps(ctx.copy(variables = ctx.variables ++
        Map("GRAFT_SHARD_COLS" -> "lang", "GRAFT_PACK_CAPACITY" -> "3",
          "GRAFT_SUB_SHARDS" -> "2")), Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_pack_sequences"),
      Step.Select(SqlSource.Inline(
        "SELECT lang, lane, bin_id, n_docs FROM graft ORDER BY lang, lane, bin_id")))).get
    val directLaned = graft.ext.TextOps.packSequences(pages, capacity = 3,
        shardCols = Seq("lang"), subShards = 2)
      .select("lang", "lane", "bin_id", "n_docs")
      .orderBy("lang", "lane", "bin_id")
    assert(laned.collect().toSeq === directLaned.collect().toSeq)
    // missing required variables fail loudly
    intercept[graft.config.ConfigException] {
      StepRunner.runSteps(ctx.copy(variables = ctx.variables - "GRAFT_MIX_WEIGHTS"), Seq(
        Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
          cache = Some(CacheSpec("pages", None))),
        Step.Fn("graft_init"),
        Step.Fn("graft_epoch_materialize"))).get
    }
    intercept[graft.config.ConfigException] {
      StepRunner.runSteps(ctx, Seq(
        Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
          cache = Some(CacheSpec("pages", None))),
        Step.Fn("graft_init"),
        Step.Fn("graft_psl_domain"))).get // no GRAFT_PSL_RULES_VIEW
    }
    // the PSL fold as a step == the direct lookup join
    Seq("// f", "com", "co.uk").toDF("rule").createOrReplaceTempView("psl_rules")
    val domains = StepRunner.runSteps(ctx.copy(variables = ctx.variables +
        ("GRAFT_PSL_RULES_VIEW" -> "psl_rules")), Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM r18_src"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_psl_domain"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, domain FROM graft ORDER BY doc_id")))).get
    assert(domains.as[(Long, String)].collect().toSeq === Seq(
      (1L, "good.com"), (2L, "lone.net"), (3L, "a.org")),
      "PSL fold rides the shared host fold and lands per-row domains")
  }

  test("r19 cut steps: caller-owned host column raises loudly; sibling audit columns strip") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_r19fns")
    val edges = Seq(("a.org", "good.com", 1L, 1L), ("b.org", "good.com", 1L, 1L),
      ("c.io", "good.com", 1L, 1L), ("good.com", "lone.net", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    graft.ext.LinkGraph.writeRankSnapshot(spark, edges, s"$work/snap",
      iterations = 3)
    Seq(("good.com", "casino bonus", 3L, 2L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
      .createOrReplaceTempView("r19_anchors")
    // a source table carrying its OWN host column — common in crawl
    // schemas; the step must NOT silently discard it (the old chain
    // dropped any column named host/rank/in_hosts at entry)
    Seq((1L, "https://good.com/a", "prod-cache-7"),
      (2L, "https://lone.net/b", "prod-cache-9"))
      .toDF("doc_id", "url", "host")
      .createOrReplaceTempView("r19_owned")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "r19_owned",
        "GRAFT_RANK_DIR" -> s"$work/snap",
        "GRAFT_ANCHORS_VIEW" -> "r19_anchors",
        "GRAFT_KEYWORDS" -> "casino"),
      fns = graft.ext.GraftFns.standard)
    val e = intercept[IllegalArgumentException] {
      StepRunner.runSteps(ctx, Seq(
        Step.Select(SqlSource.Inline("SELECT * FROM r19_owned"),
          cache = Some(CacheSpec("pages", None))),
        Step.Fn("graft_init"),
        Step.Fn("graft_rank_keep"))).get
    }
    assert(e.getMessage.contains("host"),
      "caller-owned host must surface as the operator's clash error, " +
        "never a silent drop")
    // sibling-ATTACHED audit columns still strip between chained cuts:
    // rank_keep stamps host/rank, anchor_filter strips them and
    // re-derives — the q153 chain shape
    Seq((1L, "https://good.com/a"), (2L, "https://lone.net/b"))
      .toDF("doc_id", "url").createOrReplaceTempView("r19_clean")
    val chained = StepRunner.runSteps(ctx.copy(variables =
        ctx.variables + ("GRAFT_FN_SOURCE" -> "r19_clean")), Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM r19_clean"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_rank_keep"),
      Step.Fn("graft_anchor_filter"),
      Step.Select(SqlSource.Inline("SELECT doc_id FROM graft ORDER BY doc_id")))).get
    assert(chained.as[Long].collect().toSeq === Seq(2L),
      "good.com blocks on the casino anchor rate; the chain's own audit " +
        "columns strip between cuts as before")
  }

  test("r19 PSL-grain steps: GRAFT_PSL_DIR folds the cut family at the landed lookup grain") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_r19psl")
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck").toDF("rule")
    // a PSL-grain rank snapshot: acme.co.uk endorsed by three domains
    val edges = Seq(("good.co.uk", "acme.co.uk", 1L, 1L),
      ("www.ck", "acme.co.uk", 1L, 1L), ("a.w.ck", "acme.co.uk", 1L, 1L),
      ("acme.co.uk", "lone.co.uk", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    graft.ext.LinkGraph.writeRankSnapshot(spark, edges, s"$work/rank",
      iterations = 3)
    // the landed PSL lookup covers the crawl's hosts
    val crawlHosts = Seq("shop.acme.co.uk", "blog.acme.co.uk",
      "cdn.other.co.uk").toDF("host")
    graft.ext.LinkGraph.writePslSnapshot(spark, crawlHosts, rules,
      s"$work/psl")
    Seq((1L, "https://shop.acme.co.uk/a"), (2L, "https://blog.acme.co.uk/b"),
      (3L, "https://cdn.other.co.uk/c"))
      .toDF("doc_id", "url").createOrReplaceTempView("psl_pages")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "psl_pages",
        "GRAFT_RANK_DIR" -> s"$work/rank",
        "GRAFT_PSL_DIR" -> s"$work/psl"),
      fns = graft.ext.GraftFns.standard)
    val kept = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM psl_pages"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_rank_keep"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, host FROM graft ORDER BY doc_id")))).get
    assert(kept.as[(Long, String)].collect().toSeq ===
      Seq((1L, "acme.co.uk"), (2L, "acme.co.uk")),
      "both farm subdomains gate by their registered domain's landed " +
        "rank; other.co.uk sits at the floor and drops")
    // the direct ByLookup face lands the same keeps
    val direct = graft.ext.LinkGraph.hostRankKeepByLookup(
      spark.table("psl_pages"),
      graft.ext.LinkGraph.rankSnapshot(spark, s"$work/rank"),
      minRank = 1.5 *
        graft.ext.LinkGraph.rankSnapshotMeta(spark, s"$work/rank").floor,
      lookup = graft.ext.LinkGraph.pslSnapshot(spark, s"$work/psl"))
      .select("doc_id", "host").orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(kept.as[(Long, String)].collect().toSeq === direct)
    // graft_psl_domain probes the landed artifact too
    val domains = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline("SELECT * FROM psl_pages"),
        cache = Some(CacheSpec("pages", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_psl_domain"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, domain FROM graft ORDER BY doc_id")))).get
    assert(domains.as[(Long, String)].collect().toSeq === Seq(
      (1L, "acme.co.uk"), (2L, "acme.co.uk"), (3L, "other.co.uk")))
  }

  test("a YAML pipeline interleaves SQL steps with a table-op fn step end-to-end") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner, PipelineRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = SparkTestBase.tmpDir("graft_tablefn")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "raw_docs"),
      fns = graft.ext.GraftFns.standard)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.createOrReplaceTempView("documents_src")
    // SQL step (projection) -> table-op fn step (exact dedup) -> SQL step
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, text, lang FROM documents_src"),
        cache = Some(CacheSpec("raw_docs", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_exact_dedup"),
      Step.Select(SqlSource.Inline(
        "SELECT lang, COUNT(*) AS n FROM graft GROUP BY lang")))).get
    // oracle: the same chain composed directly
    val direct = graft.ext.Dedup.exact(
        docs.select("doc_id", "text", "lang"))
      .groupBy("lang").count().withColumnRenamed("count", "n")
    assert(result.orderBy("lang").collect().toSeq ===
      direct.orderBy("lang").collect().toSeq)
  }

  test("graft_bpe_tokens / graft_unigram_tokens SQL == Scala tokens; non-literal path rejected") {
    import graft.ext.{Bpe, UnigramLm}
    GraftFunctions.register(spark)
    val corpus = Seq((1L, "ab ab ab cd"), (2L, "abcd xz")).toDF("doc_id", "text")
    val bpeDir = SparkTestBase.tmpDir("graft_sqlfn_bpe") + "/m"
    Bpe.bpeTrain(corpus, numMerges = 10).write.mode("overwrite").parquet(bpeDir)
    val uniDir = SparkTestBase.tmpDir("graft_sqlfn_uni") + "/m"
    UnigramLm.unigramTrain(corpus, vocabSize = 10, maxPieceLen = 2, seedSize = 10)
      .write.mode("overwrite").parquet(uniDir)
    corpus.createOrReplaceTempView("tok_docs")
    // SQL call == the Scala expression under the same loaded model
    val sqlB = spark.sql(
      s"SELECT doc_id, graft_bpe_tokens(text, '$bpeDir') AS t FROM tok_docs")
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    val scalaB = corpus.select($"doc_id",
        Bpe.tokens($"text", Bpe.loadMerges(spark.read.parquet(bpeDir))).as("t"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(sqlB === scalaB)
    val sqlU = spark.sql(
      s"SELECT doc_id, graft_unigram_tokens(text, '$uniDir') AS t FROM tok_docs")
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    val scalaU = corpus.select($"doc_id",
        UnigramLm.tokens($"text",
          UnigramLm.loadModel(spark.read.parquet(uniDir))).as("t"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(sqlU === scalaU)
    assert(sqlU.head._2 === Seq("ab", "ab", "ab", "cd"),
      "whole-word pieces win under the trained model")
    // the model path parameterizes a driver-side load — a non-literal
    // (per-row) path has no sane meaning and must be rejected
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bpe_tokens(text, text) FROM tok_docs").collect()
    }
    assert(e.getMessage.contains("must be a string literal"))
  }

  test("YAML-style pipeline packs by SQL-called unigram counts end-to-end") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import graft.ext.{TextOps, UnigramLm}
    val work = SparkTestBase.tmpDir("graft_tokpack")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    docs.createOrReplaceTempView("tokpack_src")
    val modelDir = s"$work/unigram_model"
    UnigramLm.unigramTrain(docs, vocabSize = 120, maxPieceLen = 4)
      .write.mode("overwrite").parquet(modelDir)
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map(
        "GRAFT_FN_SOURCE" -> "counted_docs",
        "GRAFT_SHARD_COLS" -> "lang",
        "GRAFT_PACK_CAPACITY" -> "2048",
        "GRAFT_TOKEN_COUNT_COL" -> "n_tok"),
      fns = graft.ext.GraftFns.standard)
    GraftFunctions.register(spark) // StepRunner alone doesn't register
    // SQL step tokenizes via the registered function; the fn step packs
    // by that count — no Scala in the pipeline author's hands
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Select(SqlSource.Inline(
        s"""SELECT doc_id, lang, text,
           |  size(graft_unigram_tokens(text, '$modelDir')) AS n_tok
           |FROM tokpack_src""".stripMargin),
        cache = Some(CacheSpec("counted_docs", None))),
      Step.Fn("graft_init"),
      Step.Fn("graft_pack_sequences"))).get
    val direct = TextOps.packSequences(docs, capacity = 2048,
      shardCols = Seq("lang"),
      tokenCount = Some(org.apache.spark.sql.functions.size(UnigramLm.tokens($"text",
        UnigramLm.loadModel(spark.read.parquet(modelDir))))))
    assert(result.orderBy("lang", "bin_id").collect().toSeq ===
      direct.orderBy("lang", "bin_id").collect().toSeq,
      "SQL-tokenized packing must equal the direct Scala chain")
  }

  test("graft_strip_char_substrings fn step == direct stripExactCharSubstrings") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = SparkTestBase.tmpDir("graft_charfn")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      // GRAFT_MIN_CHARS (the line step's variable) is deliberately set
      // to a conflicting value: the char step must read only its own
      // GRAFT_SUBSTR_MIN_CHARS
      variables = Map("GRAFT_FN_SOURCE" -> "char_docs",
        "GRAFT_SUBSTR_MIN_CHARS" -> "10", "GRAFT_MIN_CHARS" -> "3"),
      fns = graft.ext.GraftFns.standard)
    val docs = Seq((1L, "xxABCDEFGHIJzz"), (2L, "qqABCDEFGHIJpp"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("char_docs")
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Fn("graft_init"),
      Step.Fn("graft_strip_char_substrings"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, text, n_cut_chars FROM graft")))).get
    val direct = graft.ext.Dedup.stripExactCharSubstrings(docs, minChars = 10)
      .select("doc_id", "text", "n_cut_chars")
    assert(result.orderBy("doc_id").collect().toSeq ===
      direct.orderBy("doc_id").collect().toSeq)
    assert(result.orderBy("doc_id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "xxABCDEFGHIJzz", 0L), (2L, "qqpp", 10L)),
      "keep-first: doc 1's copy survives, doc 2's mid-token run is cut")
  }

  test("graft_html_to_text fn step derives the text column from GRAFT_HTML_COL") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    val work = SparkTestBase.tmpDir("graft_htmlfn")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "html_docs", "GRAFT_HTML_COL" -> "raw"),
      fns = graft.ext.GraftFns.standard)
    Seq((1L, "<div><h1>T</h1><p>Hello &amp; bye</p></div>"),
        (2L, "<p>a</p><script>drop()</script><p>b</p>"))
      .toDF("doc_id", "raw").createOrReplaceTempView("html_docs")
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Fn("graft_init"),
      Step.Fn("graft_html_to_text"),
      Step.Select(SqlSource.Inline("SELECT doc_id, text FROM graft")))).get
    assert(result.orderBy("doc_id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "T\nHello & bye"), (2L, "a\nb")),
      "the fn step writes Html.htmlToText(raw) into the pipeline's text column")
  }

  test("graft_strip_dup_lines fn step == direct stripDuplicateLines, GRAFT_MIN_CHARS honored") {
    import graft.config._
    import graft.exec.{EtlContext, StepRunner}
    import graft.io.{FileWarehouse, Lake}
    import spark.implicits._
    val work = SparkTestBase.tmpDir("graft_linefn")
    val ctx = EtlContext(spark, Lake(work), new FileWarehouse(spark, s"$work/wh"),
      variables = Map("GRAFT_FN_SOURCE" -> "line_docs", "GRAFT_MIN_CHARS" -> "2"),
      fns = graft.ext.GraftFns.standard)
    val docs = Seq(
      (1L, "aa bb\nZ\ncc"), (2L, "aa bb\nZ\ndd"), (3L, "fresh"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("line_docs")
    val result = StepRunner.runSteps(ctx, Seq(
      Step.Fn("graft_init"),
      Step.Fn("graft_strip_dup_lines"),
      Step.Select(SqlSource.Inline(
        "SELECT doc_id, text, n_cut_lines FROM graft")))).get
    val direct = graft.ext.Dedup.stripDuplicateLines(docs, minChars = 2)
      .select("doc_id", "text", "n_cut_lines")
    assert(result.orderBy("doc_id").collect().toSeq ===
      direct.orderBy("doc_id").collect().toSeq)
    assert(result.orderBy("doc_id").as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "aa bb\nZ\ncc", 0L), (2L, "Z\ndd", 1L), (3L, "fresh", 0L)))
  }
}
