package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Corpus-scale WARC measurement: land a scaled documents corpus as
  * REAL `.warc.gz` crawl shards, then time the full q132 composition
  * reading those bytes — parse (multi-member gzip walk), decode,
  * content-type routing, policy cuts, canonical URL dedup, the
  * content chain, packing, shard manifest. This converts the repo's
  * headline claim ("WARC bytes → training shards scales") from a
  * composition of per-stage measurements into ONE measured artifact
  * (SCALE_r17's growth rows).
  *
  * Page derivation is deterministic and row-local from the corpus's
  * own documents (the ScaleUp discipline — nothing synthesized beyond
  * a structure-preserving envelope): each document wraps in an HTML
  * page exercising every front-half rule (title+entities, script
  * subtree, block structure, outbound links with host noise), a
  * ~1/997 slice lands on a blocked host with a banned word (the URL
  * filter must bite), a ~1/499 slice lands on the benchmark host
  * (decontamination must have a real benchmark side), a ~1/503 slice
  * opts out via robots noindex, and a 1/11 slice declares a
  * cross-host canonical (mirrors must collapse). Unlike the q132
  * fixture (13 records — it gates composition CORRECTNESS), this
  * exists for throughput: run it at ×10/×100 and compare walls.
  *
  * Usage:
  *   runMain graft.ext.CrawlScale write <corpusDir> <warcDir>
  *   runMain graft.ext.CrawlScale bench <warcDir> [passes]
  */
object CrawlScale {

  /** The crawl-page frame derived from a corpus dir's documents. */
  def pages(spark: SparkSession, corpusDir: String): DataFrame = {
    val docs = Parquet.read(spark, s"$corpusDir/documents.parquet")
    val url =
      when(col("doc_id") % 997 === 0,
        concat(lit("https://ads.example.net/casino/"), col("doc_id")))
        .when(col("doc_id") % 499 === 7,
          concat(lit("https://bench.example.org/t/"), col("doc_id") % 50))
        .otherwise(concat(
          lit("https://"), col("source"), lit(".example.com/doc/"),
          col("doc_id"), lit("?utm_source=s"), col("doc_id"), lit("&a=1")))
    val html = concat(
      lit("<html lang=\""), col("lang"), lit("\"><head><title>Doc "),
      col("doc_id"), lit(" &amp; notes</title>"),
      // %97 target space: the 1/11 declaring slice collapses ~5 ways
      // per origin item at ×1 and beyond (at 1000-target spacing no
      // two declaring docs under 11k shared a target — the rule was
      // measured doing NOTHING; a modulus below corpus size keeps the
      // mirror collapse non-vacuous at every measured scale)
      when(col("doc_id") % 11 === 0, concat(
        lit("<link rel=\"canonical\" href=\"https://origin.example.org/item/"),
        col("doc_id") % 97, lit("\">"))).otherwise(lit("")),
      when(col("doc_id") % 503 === 3,
        lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit("")),
      lit("<style>p{color:red}</style><script>var x=\"</div>\";</script>"),
      lit("</head><body><h1>"), col("source"), lit("</h1><p>"),
      col("text"),
      lit("</p><ul><li><a href=\"HTTP://www.Hub"), col("doc_id") % 3,
      lit(".Example.net:8080/x\">h</a></li><li>&lt;raw&gt;&nbsp;B</li></ul>"),
      lit("<footer><a href=\"https://src"),
      (col("doc_id") * col("doc_id")) % 20,
      lit(".example.com/p/"), col("doc_id") % 7,
      lit("\">topic</a></footer></body></html>"))
    docs.select(col("doc_id"), url.as("url"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("ts"), html.as("html"))
  }

  /** Land the derived pages as `.warc.gz` shards — one per partition
    * ([[graft.io.Warc.write]]'s crawl layout: one gzip member per
    * record, splittable at FILE grain exactly like a published crawl).
    */
  def writeShards(spark: SparkSession, corpusDir: String, warcDir: String): Unit =
    graft.io.Warc.write(
      pages(spark, corpusDir)
        .repartition(spark.sparkContext.defaultParallelism),
      warcDir)

  /** The q132 composition over REAL crawl bytes: WARC parse → routing
    * → policy cuts (URL quality + robots noindex) → canonical URL
    * dedup → encoding gate → exact-dedup → near-dup → decontaminate →
    * mixture → pack → shard manifest. Same operators, same constants
    * ([[CurationChain]]); only the input is a byte stream instead of
    * the in-code fixture.
    */
  def chain(spark: SparkSession, warcDir: String): DataFrame =
    contentChain(front(spark, warcDir))

  /** The FRONT cut — parse → route → policy cuts → canonical URL dedup
    * → extracted text (q131's stage list over real bytes): everything
    * WARC-specific. Timed separately from [[chain]] so the scale table
    * attributes wall between ingest and the content stages.
    */
  def front(spark: SparkSession, warcDir: String): (DataFrame, DataFrame) = {
    val recs = graft.io.Warc.read(spark, warcDir)
      .where(col("warc_type").isin("response", "conversion") &&
        col("url").isNotNull && col("url") =!= "")
      .withColumn("__ct",
        when(col("warc_type") === "response", col("http_content_type"))
          .otherwise(col("content_type")))
      .where(Html.textishContentType(col("__ct")))
    val routed = recs
      .withColumn("text", Html.routedText(col("html"), col("__ct")))
      .withColumn("lang",
        when(Html.htmlLang(col("html")) =!= "", Html.htmlLang(col("html")))
          .otherwise(lit("en")))
      .withColumn("doc_id", xxhash64(col("url"), col("html")))
      .withColumn("durl",
        when(Html.htmlishContentType(col("__ct")),
          Html.declaredCanonicalOr(col("url"), col("html")))
          .otherwise(col("url")))
      .where(col("text").isNotNull)
    val bench = routed.where(col("url").startsWith("https://bench.example.org/"))
      .select(col("doc_id"), col("text"))
    // bench-host rows leave the train side BEFORE the canonical dedup:
    // the bench slice is already split off above, and a bench page that
    // also declares a canonical would otherwise share an
    // origin.example.org durl with mirror train pages and could win the
    // min-id election — silently dropping train mirrors and
    // understating the mirror-collapse work the scale rows measure
    val filtered = routed
      .where(!col("url").startsWith("https://bench.example.org/"))
      .where(TextOps.urlQualityKeep(col("url"),
        Seq("ads.example.net"), Seq("casino")))
      .where(!Html.robotsNoindex(col("html")))
    val train0 = Dedup.urlDedup(filtered, urlCol = "durl")
      .select("doc_id", "url", "lang", "text")
    (train0, bench)
  }

  /** The CONTENT tail over an extracted (train0, bench) pair — the
    * stages every parquet-side scale table already measures
    * (q88/q101's composition), here chained onto real-bytes input.
    */
  def contentChain(fb: (DataFrame, DataFrame)): DataFrame = {
    val (train0, bench) = fb
    val s1 = CurationChain.encodingGate(train0)
    val s2 = CurationChain.normalizeDedup(s1)
    val s3 = CurationChain.nearDupDedup(s2)
    val s4 = TextOps.decontaminate(s3, bench,
      shingleSize = CurationChain.DeconShingleSize)
    val s5 = graft.ext.Sampling.mixtureSample(s4,
      CurationChain.MixtureRates, keyCol = "lang")
    val packed = TextOps.packSequencesText(s5,
        capacity = CurationChain.PackCapacity, shardCols = Seq("lang"))
      .withColumn("pack_id", concat_ws(":", col("lang"), col("bin_id")))
    Export.shardManifest(packed, nShards = 64,
      idCol = "pack_id", textCol = "packed_text")
  }

  /** A parse-only pass — reader file-grain parallelism + gzip-member
    * walk + HTTP envelope decode, nothing else: isolates ingest
    * throughput from the content chain when the two need separating.
    */
  def parseOnly(spark: SparkSession, warcDir: String): DataFrame =
    graft.io.Warc.read(spark, warcDir)
      .select(col("url"), length(col("html")).as("n_chars"),
        col("n_block_bytes"))

  /** The GATED STREAMING INGEST measured over the same corpus bytes —
    * the r18 streaming face's Tier 0 row: one
    * [[graft.streaming.StreamingCrawl.crawlIngestSink]] micro-batch
    * holding the whole corpus, with BOTH previous-crawl gates armed
    * (rank snapshot + anchor snapshot, built once from the corpus's
    * own pages — the bootstrap posture). The gate parameters are
    * chosen to keep every page-host (`rankFloorMultiple = 0.5` sits
    * below the un-endorsed floor, and the `h` anchors block only the
    * hub link-target hosts no page lives on — `topic` would bite 6
    * REAL source hosts, the corpus's own src<k> names), so the
    * survivor set equals
    * the ungated ingest and the wall DELTA against the `front` row is
    * pure gate cost: two host-cardinality broadcast joins plus the
    * snapshot metadata probe. The sink also lands the extracted batch
    * and rolls the URL index — the production per-batch I/O the batch
    * `front` row does not pay; the printed wall is the honest
    * micro-batch cost.
    */
  def streamBench(spark: SparkSession, warcDir: String, workDir: String,
                  passes: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(workDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // recursive-delete guard: only wipe a dir a prior streamBench run
    // produced (its rank/ snapshot marks it) — a typo'd workDir
    // pointing at real data must refuse, not vanish
    val wd = new Path(workDir)
    if (fs.exists(wd)) {
      val prior = fs.exists(new Path(wd, "rank")) ||
        fs.listStatus(wd).isEmpty
      require(prior,
        s"streamBench: $workDir exists, is non-empty, and is not a prior " +
          "streamBench work dir (no rank/ snapshot) — refusing to " +
          "recursively delete it; pass a fresh or prior-run dir")
      fs.delete(wd, true)
    }
    val t0 = System.nanoTime()
    val recs = graft.io.Warc.read(spark, warcDir)
      .where(col("warc_type").isin("response", "conversion") &&
        col("url").isNotNull && col("url") =!= "")
      .withColumn("doc_id", xxhash64(col("url"), col("html")))
      .select("doc_id", "url", "html")
    LinkGraph.writeRankSnapshot(spark, LinkGraph.hostEdges(recs),
      s"$workDir/rank")
    LinkGraph.writeAnchorSnapshot(spark, LinkGraph.anchorEdges(recs),
      s"$workDir/anchors")
    println(f"CRAWLSCALE snapshots ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val batch = spark.read.format("binaryFile")
      .load(s"$warcDir/*.warc.gz")
      .select(col("path"), col("content"))
    for (pass <- 1 to passes) {
      val root = s"$workDir/pass$pass"
      val sink = graft.streaming.StreamingCrawl.crawlIngestSink(
        s"$root/urlidx", s"$root/out",
        blockedHosts = Seq("ads.example.net"), bannedWords = Seq("casino"),
        rankSnapshotDir = Some(s"$workDir/rank"), rankFloorMultiple = 0.5,
        anchorSnapshotDir = Some(s"$workDir/anchors"),
        blockKeywords = Seq("h"), maxKeywordRate = 0.9) _
      val t1 = System.nanoTime()
      sink(batch, 0L)
      println(f"CRAWLSCALE stream pass$pass " +
        f"${(System.nanoTime() - t1) / 1e9}%.2f s")
      // the UNGATED sink pays the identical parse/dedup/landing I/O —
      // the per-pass delta is PURE gate cost (two broadcast joins +
      // the 1-row metadata probes), cleanly attributed
      val usink = graft.streaming.StreamingCrawl.crawlIngestSink(
        s"$root/uidx", s"$root/uout",
        blockedHosts = Seq("ads.example.net"), bannedWords = Seq("casino")) _
      val t2 = System.nanoTime()
      usink(batch, 0L)
      println(f"CRAWLSCALE streamu pass$pass " +
        f"${(System.nanoTime() - t2) / 1e9}%.2f s")
    }
    // the pure-gate-cost attribution PREMISES gated == ungated (every
    // page host enters the bootstrap link graph, so the keep-all gate
    // parameters keep all); a page with no parseable links and no
    // inbound edge is absent from the rank snapshot and would be
    // inner-join-dropped — assert the premise instead of assuming it
    import graft.streaming.BatchRoot
    val gatedN = Parquet.read(spark, BatchRoot.dir(s"$workDir/pass1/out", 0L)).count()
    val ungatedN = Parquet.read(spark, BatchRoot.dir(s"$workDir/pass1/uout", 0L)).count()
    println(s"CRAWLSCALE stream landed $gatedN gated / " +
      s"$ungatedN ungated rows/batch")
    require(gatedN == ungatedN,
      s"streamBench: gated ($gatedN) != ungated ($ungatedN) survivors — " +
        "some page host is absent from the bootstrap rank snapshot (no " +
        "parseable links and no inbound edge), so the stream/streamu " +
        "delta is NOT pure gate cost on this corpus")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CrawlScale write <corpusDir> <warcDir> " +
      "| CrawlScale bench <warcDir> [passes] " +
      "| CrawlScale stream <warcDir> <workDir> [passes]")
    val cmd = args(0)
    val spark = SparkSession.builder().master("local[32]")
      .appName(s"graft-crawlscale-$cmd")
      .config("spark.sql.shuffle.partitions",
        graft.DerivedShuffle.forDir(args(1)))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try cmd match {
      case "write" =>
        require(args.length == 3, "write <corpusDir> <warcDir>")
        val t0 = System.nanoTime()
        writeShards(spark, args(1), args(2))
        val bytes = graft.DerivedShuffle.dirBytes(args(2))
        println(f"CRAWLSCALE write ${args(2)} " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s $bytes bytes")
      case "bench" =>
        val warcDir = args(1)
        val passes = if (args.length > 2) args(2).toInt else 3
        for (pass <- 1 to passes) {
          val t0 = System.nanoTime()
          parseOnly(spark, warcDir)
            .write.format("noop").mode("overwrite").save()
          println(f"CRAWLSCALE parse pass$pass " +
            f"${(System.nanoTime() - t0) / 1e9}%.2f s")
          val tf = System.nanoTime()
          front(spark, warcDir)._1
            .write.format("noop").mode("overwrite").save()
          println(f"CRAWLSCALE front pass$pass " +
            f"${(System.nanoTime() - tf) / 1e9}%.2f s")
          val t1 = System.nanoTime()
          chain(spark, warcDir)
            .write.format("noop").mode("overwrite").save()
          println(f"CRAWLSCALE chain pass$pass " +
            f"${(System.nanoTime() - t1) / 1e9}%.2f s")
        }
      case "stream" =>
        require(args.length >= 3, "stream <warcDir> <workDir> [passes]")
        streamBench(spark, args(1), args(2),
          if (args.length > 3) args(3).toInt else 3)
      case other => sys.error(s"unknown command '$other'")
    } finally spark.stop()
  }
}
