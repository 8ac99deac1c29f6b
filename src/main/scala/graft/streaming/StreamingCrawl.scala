package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Streaming face of the crawl FRONT HALF (q131's chain): WARC shards
  * arrive as a `binaryFile` stream, each micro-batch parses, applies
  * the URL quality cut, URL-dedups against the whole stream history,
  * extracts text, and lands curated pages — the continuous-ingest
  * shape of RefinedWeb stage 0→2.
  *
  * Input contract: rows with `path` (string) and `content` (binary) —
  * exactly what `spark.readStream.format("binaryFile")
  * .load(crawlDir)` produces (cap per-trigger volume with
  * `maxFilesPerTrigger`; the binaryFile SOURCE materializes each shard
  * as one row, so this face suits shard-sized drops — the batch
  * [[graft.io.Warc.read]] face streams records and is the right tool
  * for a one-shot backfill).
  *
  * Per micro-batch, under the [[BatchRoot]] replay contract:
  *  1. parse every shard's `response` AND `conversion` (WET) records
  *     ([[graft.io.Warc.parseBytes]] — per-record gzip, HTTP
  *     envelopes, charset);
  *  2. drop non-text content types
  *     ([[graft.ext.Html.textishContentType]] on the HTTP header's
  *     type for responses, the record's own for conversions — binary
  *     payloads never enter the index), the row-local URL quality cut
  *     ([[graft.ext.TextOps.urlQualityKeep]]), and the publisher
  *     noindex opt-out ([[graft.ext.Html.robotsNoindex]], on by
  *     default via `respectNoindex`);
  *  2b. optionally, the two previous-crawl BROADCAST gates in q153's
  *     production order — the persisted-rank prior and the
  *     anchor-keyword block (`rankSnapshotDir` / `anchorSnapshotDir`;
  *     see [[StreamingCrawl.crawlIngestSink]]) — BEFORE dedup, so a
  *     gated page never claims a URL key;
  *  3. within-batch keep-first per canonical URL key (honoring a
  *     declared `<link rel="canonical">` on HTML-ish payloads —
  *     [[graft.ext.Html.declaredCanonicalOr]], `honorCanonical`, on
  *     by default), then drop
  *     survivors whose key the retained history holds
  *     ([[graft.ext.Dedup.urlDedupAgainstIndex]]); `doc_id` is the
  *     64-bit hash of (url, html) — deterministic under replay;
  *  4. extract text for the KEPT pages only (twins never pay the
  *     regex chain), routed by content type
  *     ([[graft.ext.Html.routedText]] — HTML through the extraction
  *     chain, plain-text/WET blocks verbatim-normalized) and land
  *     (doc_id, url, ts, url_key, text) under `outRoot/__batch=<id>`;
  *  5. roll the key index forward with the kept rows
  *     ([[graft.ext.Dedup.urlKeyIndex]] layout).
  *
  * The probe re-reads the accreted `indexRoot` parquet each batch, so
  * run [[StreamingDedup.compactIndex]] on the index root at the same
  * cadence as the other index-backed sinks (every few hundred batches
  * single-host; whenever `__batch=` partition count ≈ executor count
  * on a cluster) to keep the per-batch read a few coalesced files.
  *
  * Downstream content stages consume `outRoot` (or chain this into
  * [[StreamingDedup.curationChainSink]]'s input).
  */
object StreamingCrawl {

  /** The shared ingest core: parse → route → filter → URL-dedup →
    * extract, handing the EXTRACTED frame (doc_id, url, ts, url_key,
    * lang, text) to `use` — which lands whatever it lands — and only
    * THEN rolling the URL-key index forward (a crash before the
    * downstream landing must not mark the batch's URLs as seen, or
    * the redelivery would drop them as twins of themselves). `lang`
    * is the page's self-declared `<html lang>` ('en' default) — the
    * mixture key the content chain needs.
    *
    * The two PREVIOUS-CRAWL gates (q153's batch composition, its
    * production streaming face): `rankSnapshotDir` names a
    * [[graft.ext.LinkGraph.writeRankSnapshot]] artifact — pages whose
    * host's persisted rank misses `rankFloorMultiple ×` the snapshot's
    * own un-endorsed floor (derived from the LANDED metadata, never a
    * count scan) drop; `anchorSnapshotDir` names a
    * [[graft.ext.LinkGraph.writeAnchorSnapshot]] artifact — pages on
    * hosts whose inbound-anchor `blockKeywords` rate reaches
    * `maxKeywordRate` drop. Both run BEFORE dedup, so a gated page
    * never claims its canonical URL key (a later fetch of the real
    * origin lands normally — the batch ordering's whole point), and
    * both sides broadcast (host-cardinality artifacts; the page stream
    * never shuffles for them). Self-referential priors are circular:
    * point the dirs at the PREVIOUS crawl's snapshots, exactly as the
    * batch cuts document.
    *
    * `pslRulesPath` (a parquet of raw PSL lines, one per row in a
    * `rule` column) switches BOTH gates to the FULL-PSL
    * registered-domain grain: the batch's url hosts fold through the
    * exact publicsuffix.org election ([[graft.ext.LinkGraph
    * .pslLookupFor]], work ∝ the batch's distinct hosts) and the
    * ByLookup cut faces match rank/anchor artifacts BUILT at that
    * grain ([[graft.ext.LinkGraph.domainEdgesByLookup]] edges) — so a
    * farm subdomain never seen before still gates by its registered
    * domain's endorsement (StreamingSpec pins stream ≡ batch and that
    * host-grain consumption of a domain-grain artifact keeps nothing).
    *
    * `pslSnapshotRoot` (requires `pslRulesPath`) makes the fold
    * INCREMENTAL across the stream: instead of re-folding every batch
    * host from raw rules each micro-batch, the gate probes the landed
    * `(host, domain)` snapshot under `root/__batch=<id>` (the latest
    * strictly-earlier batch — the URL-index probe rule) and folds ONLY
    * the batch's genuinely novel hosts ([[graft.ext.LinkGraph
    * .pslProbeMerge]] — work ∝ NEW hosts, not batch hosts), then
    * advances the snapshot AFTER the batch's landing commits (crash
    * between landing and advance replays idempotently: the re-run
    * probes the same earlier snapshot and overwrites the same advance
    * dir with identical content). The first batch bootstraps the
    * snapshot from its own hosts. A rules drift vs the landed digest
    * RAISES before any row is gated — an incremental advance under
    * changed rules would silently mix two folds in one table.
    */
  private def withIngested(indexRoot: String, blockedHosts: Seq[String],
                           bannedWords: Seq[String], maxUrlLen: Int,
                           respectNoindex: Boolean = true,
                           honorCanonical: Boolean = true,
                           rankSnapshotDir: Option[String] = None,
                           rankFloorMultiple: Double = 1.5,
                           anchorSnapshotDir: Option[String] = None,
                           blockKeywords: Seq[String] = Nil,
                           maxKeywordRate: Double = 0.5,
                           pslRulesPath: Option[String] = None,
                           pslSnapshotRoot: Option[String] = None)
                          (batch: DataFrame, batchId: Long)
                          (use: DataFrame => Unit): Unit = {
    require(rankFloorMultiple > 0.0,
      s"crawl ingest: rankFloorMultiple must be > 0, got $rankFloorMultiple")
    require(anchorSnapshotDir.isEmpty || blockKeywords.nonEmpty,
      "crawl ingest: anchorSnapshotDir without blockKeywords — the anchor " +
        "gate needs the keyword list the profile is scored against")
    require(pslRulesPath.isEmpty ||
      rankSnapshotDir.nonEmpty || anchorSnapshotDir.nonEmpty,
      "crawl ingest: pslRulesPath without a rank or anchor snapshot — the " +
        "PSL fold only changes the grain the gates match at")
    require(pslSnapshotRoot.isEmpty || pslRulesPath.nonEmpty,
      "crawl ingest: pslSnapshotRoot without pslRulesPath — the snapshot " +
        "probe needs the rules for the digest guard and the novel-host fold")
    val spark = batch.sparkSession
    import spark.implicits._
    // set inside the gate transform when the snapshot probe is armed;
    // runs AFTER the landings commit (the URL-index ordering)
    var advancePsl: () => Unit = () => ()
    val pages = batch.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, bytes) => graft.io.Warc.parseBytes(p, bytes) }
      .toDF()
      .where(col("warc_type").isin("response", "conversion") &&
        col("url").isNotNull && col("url") =!= "")
      // the routing key: the HTTP header's type for responses, the
      // record's own for WET conversion blocks
      .withColumn("__ct",
        when(col("warc_type") === "response", col("http_content_type"))
          .otherwise(col("content_type")))
      // binary payloads (images, pdf, octet-stream) are not curatable
      // text: drop BEFORE dedup so they never enter the URL index or
      // pay any downstream work
      .where(graft.ext.Html.textishContentType(col("__ct")))
      .where(graft.ext.TextOps.urlQualityKeep(col("url"),
        blockedHosts, bannedWords, maxUrlLen))
      // the publisher opt-out: a <meta name="robots"> noindex page is
      // dropped BEFORE dedup, so it never claims its canonical key (a
      // later fetch of the page without the directive lands normally);
      // non-HTML payloads carry no meta tag and pass untouched
      .where(if (respectNoindex) !graft.ext.Html.robotsNoindex(col("html"))
             else lit(true))
      // the two previous-crawl gates (q148's rank prior + q152's
      // anchor block), BEFORE dedup: a gated page never claims its URL
      // key. `pslRulesPath` switches BOTH gates to the FULL-PSL node
      // grain (q160/q162's fold, streaming face): the rules parquet
      // (one raw PSL line per row in a `rule` column) folds the
      // BATCH's url hosts into a (host, domain) lookup — work ∝ the
      // batch's distinct hosts, a pure function of (batch, rules), so
      // the replay contract is untouched. The lookup materializes ONCE
      // per batch (it feeds up to two gates, and its lineage would
      // otherwise re-parse the batch's WARC bytes per consumer — the
      // q136 boundary discipline); the rank/anchor artifacts must have
      // been BUILT at the same grain (domainEdgesByLookup edges — the
      // cut family's shared-grain contract) or the gates match
      // nothing/the wrong hosts.
      .transform { df =>
        val built = pslRulesPath.map { p =>
          val rules = Parquet.read(spark, p)
          pslSnapshotRoot match {
            case None =>
              (graft.ext.LinkGraph.pslLookupFor(df, rules)
                .localCheckpoint(true), () => ())
            case Some(root) =>
              buildPslProbe(root, df, rules, batchId)
          }
        }
        val lookup = built.map(_._1)
        advancePsl = built.fold(() => ())(_._2)
        val afterRank = rankSnapshotDir.fold(df) { dir =>
          val rank = graft.ext.LinkGraph.rankSnapshot(spark, dir)
          val minRank = rankFloorMultiple *
            graft.ext.LinkGraph.rankSnapshotMeta(spark, dir).floor
          (lookup match {
            case Some(l) => graft.ext.LinkGraph.hostRankKeepByLookup(
              df, rank, minRank, l)
            case None => graft.ext.LinkGraph.hostRankKeep(df, rank, minRank)
          }).drop("host", "rank")
        }
        anchorSnapshotDir.fold(afterRank) { dir =>
          val anchors = graft.ext.LinkGraph.anchorSnapshot(spark, dir)
          (lookup match {
            case Some(l) => graft.ext.LinkGraph.anchorKeywordKeepByLookup(
              afterRank, anchors, blockKeywords, maxKeywordRate, l)
            case None => graft.ext.LinkGraph.anchorKeywordKeep(
              afterRank, anchors, blockKeywords, maxKeywordRate)
          }).drop("host")
        }
      }
      .withColumn("doc_id", xxhash64(col("url"), col("html")))
      // the dedup KEY honors a declared <link rel="canonical"> on
      // HTML-ish payloads (q150's rule — a mirror collapses onto the
      // origin it declares, cross-host); policy cuts above stay on the
      // fetch url, and the landed `url` stays the fetch url too — the
      // declaration only decides WHICH key the page claims
      .withColumn("__durl",
        if (honorCanonical)
          when(graft.ext.Html.htmlishContentType(col("__ct")),
            graft.ext.Html.declaredCanonicalOr(col("url"), col("html")))
            .otherwise(col("url"))
        else col("url"))
      .select("doc_id", "url", "__durl", "ts", "html", "__ct")
    // an empty or crashed-first-batch index root cold-starts ([[BatchRoot.prior]])
    val kept = BatchRoot.prior(spark, indexRoot, batchId) match {
      case Some(index) =>
        graft.ext.Dedup.urlDedupAgainstIndex(pages, index, urlCol = "__durl")
      case None => graft.ext.Dedup.urlDedup(pages, urlCol = "__durl")
    }
    BatchRoot.cached(kept) {
      val lang = graft.ext.Html.htmlLang(col("html"))
      use(kept.select(col("doc_id"), col("url"), col("ts"), col("url_key"),
        when(lang =!= "", lang).otherwise(lit("en")).as("lang"),
        graft.ext.Html.routedText(col("html"), col("__ct")).as("text")))
      BatchRoot.land(graft.ext.Dedup.urlKeyIndex(kept, urlCol = "__durl"),
        indexRoot, batchId)
      // only after every landing of the batch committed: advance the
      // PSL snapshot (a crash above replays against the same earlier
      // snapshot; a crash below re-advances with identical content)
      advancePsl()
    }
  }

  /** The per-batch PSL probe: the latest strictly-earlier landed
    * snapshot merged with the fold of the batch's NOVEL url hosts
    * (first batch: a full fold of the batch's hosts), materialized
    * once for the up-to-two gates it feeds — plus the deferred
    * advance that lands the merged table at `root/__batch=<id>`.
    */
  private def buildPslProbe(root: String, df: DataFrame, rules: DataFrame,
                            batchId: Long): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val digest = graft.ext.LinkGraph.pslRulesDigest(rules)
    val prevDir = BatchRoot.batchIds(spark, root).filter(_ < batchId)
      .lastOption.map(BatchRoot.dir(root, _))
    // the batch's distinct url hosts, cut once: the merge's anti-join
    // probe AND (bootstrap) the full fold both consume it, and its
    // lineage would otherwise re-parse the batch's WARC bytes
    val batchHosts = df
      .select(graft.ext.LinkGraph.hostOf(col("url")).as("host"))
      .where(col("host").isNotNull && col("host") =!= "").distinct()
      .localCheckpoint(true)
    val merged = prevDir match {
      case Some(dir) =>
        graft.ext.LinkGraph.pslProbeMerge(spark, dir, batchHosts, rules)
          .localCheckpoint(true)
      case None =>
        graft.ext.LinkGraph.pslDomainTable(batchHosts, rules)
          .localCheckpoint(true)
    }
    (merged, () => {
      graft.ext.LinkGraph.writePslSnapshotTable(spark, merged, rules,
        digest, BatchRoot.dir(root, batchId))
      ()
    })
  }

  def crawlIngestSink(indexRoot: String, outRoot: String,
                      blockedHosts: Seq[String] = Nil,
                      bannedWords: Seq[String] = Nil,
                      maxUrlLen: Int = 2048,
                      respectNoindex: Boolean = true,
                      honorCanonical: Boolean = true,
                      rankSnapshotDir: Option[String] = None,
                      rankFloorMultiple: Double = 1.5,
                      anchorSnapshotDir: Option[String] = None,
                      blockKeywords: Seq[String] = Nil,
                      maxKeywordRate: Double = 0.5,
                      pslRulesPath: Option[String] = None,
                      pslSnapshotRoot: Option[String] = None)
                     (batch: DataFrame, batchId: Long): Unit =
    withIngested(indexRoot, blockedHosts, bannedWords, maxUrlLen,
      respectNoindex, honorCanonical, rankSnapshotDir, rankFloorMultiple,
      anchorSnapshotDir, blockKeywords, maxKeywordRate,
      pslRulesPath, pslSnapshotRoot)(batch, batchId) {
      extracted =>
        BatchRoot.land(
          extracted.drop("lang"), // the standalone sink's landed schema
          outRoot, batchId)
    }

  /** THE FULL PIPELINE's streaming face (q132's batch composition):
    * one foreachBatch running crawl ingest (above) and then feeding
    * the extracted survivors straight into the incremental content
    * chain ([[StreamingDedup.curationChainSink]] — gate →
    * exact-dedup-vs-history → near-dup-vs-history → decontaminate →
    * mixture), landing curated documents under `outRoot/__batch=<id>`
    * and rolling all THREE persisted indexes forward (URL keys, text
    * digests, MinHash signatures). WARC bytes in, training-ready
    * curated text out, continuously, with every cross-batch decision
    * made against persisted state — never a corpus rescan. (Packing/
    * export stay export-time steps over the accumulated corpus, as in
    * the batch chain.)
    *
    * `langModelPath`/`langPredRoot` chain the lang-prediction sink
    * ([[StreamingLang.scoreSink]] — the q158 artifact) onto the same
    * pass: the CACHED curated batch scores against the frozen model
    * and lands under `langPredRoot/__batch=<id>` alongside the text —
    * one ingest, two artifacts, no second read of anything
    * (StreamingSpec pins chained ≡ the standalone sink over the
    * landed batches). Non-default scorer geometry goes through
    * [[StreamingDedup.curationChainSink]]'s `alsoLand` directly.
    */
  def crawlToCurationSink(urlIndexRoot: String, normIndexRoot: String,
                          minHashIndexRoot: String, outRoot: String,
                          benchmarkSource: DataFrame,
                          langModelPath: Option[String] = None,
                          langPredRoot: Option[String] = None,
                          blockedHosts: Seq[String] = Nil,
                          bannedWords: Seq[String] = Nil,
                          maxUrlLen: Int = 2048,
                          respectNoindex: Boolean = true,
                          honorCanonical: Boolean = true,
                          rankSnapshotDir: Option[String] = None,
                          rankFloorMultiple: Double = 1.5,
                          anchorSnapshotDir: Option[String] = None,
                          blockKeywords: Seq[String] = Nil,
                          maxKeywordRate: Double = 0.5,
                          pslRulesPath: Option[String] = None,
                          pslSnapshotRoot: Option[String] = None)
                         (batch: DataFrame, batchId: Long): Unit =
    withIngested(urlIndexRoot, blockedHosts, bannedWords, maxUrlLen,
      respectNoindex, honorCanonical, rankSnapshotDir, rankFloorMultiple,
      anchorSnapshotDir, blockKeywords, maxKeywordRate,
      pslRulesPath, pslSnapshotRoot)(batch, batchId) {
      extracted =>
        require(langModelPath.isDefined == langPredRoot.isDefined,
          "crawlToCurationSink: langModelPath and langPredRoot come " +
            "together — the chained scorer needs both the frozen model " +
            "and a landing root")
        val lang = for (m <- langModelPath; r <- langPredRoot)
          yield StreamingLang.scoreSink(m, r) _
        StreamingDedup.curationChainSink(normIndexRoot, minHashIndexRoot,
          outRoot, benchmarkSource, alsoLand = lang.toSeq)(
          extracted, batchId)
    }
}
