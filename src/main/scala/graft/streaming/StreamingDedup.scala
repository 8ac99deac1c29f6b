package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the streaming face of
  * [[graft.ext.Dedup.exact]] for continuously-arriving documents
  * (§2c extension; the reference is batch-only).
  *
  * Uses `dropDuplicatesWithinWatermark`: state is keyed by a 128-bit
  * text digest and EXPIRES with the event-time watermark, so the state
  * store holds only the digests seen within the lateness window —
  * O(recent docs), not O(stream history). The trade, documented: a
  * duplicate arriving AFTER its twin has aged out of the watermark
  * window is emitted again (batch dedup over the full corpus would
  * drop it); dedup-exactness is bounded by the watermark delay, which
  * is the only way unbounded streaming dedup can hold state bounded.
  *
  * Scale shape: the shuffle key is the 16-byte md5 digest, never the
  * document payload — same narrow-key contract as the batch operator.
  */
object StreamingDedup {

  /** Drop records whose `textCol` digest was already seen within the
    * watermark window. `eventTimeCol` must be a timestamp column; run
    * with append output mode.
    */
  def exactWithinWatermark(df: DataFrame, textCol: String = "text",
                           eventTimeCol: String = "ts",
                           delay: String = "10 minutes"): DataFrame =
    df.withColumn("__graft_fp", md5(col(textCol)))
      .withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark("__graft_fp")
      .drop("__graft_fp")

  /** foreachBatch sink: EXACT dedup across the WHOLE stream history,
    * against the persisted digest index ([[graft.ext.Dedup.exactIndex]]
    * layout). Per micro-batch: probe the index (drop texts any earlier
    * batch carried, keep the lowest id within the batch), land
    * survivors under `outRoot/__batch=<id>`, and roll the index forward
    * by writing the batch's digests under `indexRoot/__batch=<id>`.
    *
    * Complements [[exactWithinWatermark]] from the other end of the
    * state spectrum: watermark state is bounded but forgets; the
    * digest index REMEMBERS everything at 16 bytes per distinct text —
    * unbounded but tiny, and durable across restarts. Replay contract:
    * [[BatchRoot]].
    */
  def exactAgainstIndexSink(indexRoot: String, outRoot: String,
                            idCol: String = "doc_id", textCol: String = "text")
                           (batch: DataFrame, batchId: Long): Unit = {
    val prior = BatchRoot.prior(batch.sparkSession, indexRoot, batchId)
    // the micro-batch frame feeds both the dedup and the index build —
    // cached so the source is read once per batch, not once per write
    // (Spark re-evaluates an uncached foreachBatch frame per action)
    BatchRoot.cached(batch) {
      val kept = prior match {
        case Some(index) => graft.ext.Dedup.exactAgainst(batch, index, idCol, textCol)
        case None        => graft.ext.Dedup.exact(batch, idCol, textCol)
      }
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(graft.ext.Dedup.exactIndex(batch, textCol), indexRoot, batchId)
    }
  }

  /** foreachBatch sink: SEMANTIC (embedding-space) dedup across the
    * whole stream history against the persisted hyperplane-LSH ANN
    * index ([[graft.ext.Similarity.annIndex]] layout) — the ingest
    * loop of an embedding-curated corpus ("is this incoming doc a
    * near-copy, in meaning space, of anything we already hold?").
    * Per micro-batch:
    *
    *  1. probe the index with the asymmetric bucket join
    *     ([[graft.ext.Similarity.annPairsAgainstIndex]]) and drop
    *     every batch vector whose exact cosine against a retained
    *     corpus vector reaches `threshold` — cost ∝ |batch|·tables +
    *     collisions, the corpus never re-signs;
    *  2. dedup WITHIN the survivors
    *     ([[graft.ext.Similarity.semanticDedup]]; `inBatchClusters`
    *     defaults to 1 = the exact all-pairs path, bounded by the
    *     micro-batch size — raise it for very large batches);
    *  3. land the kept vectors under `outRoot/__batch=<id>` and roll
    *     the index forward with the KEPT vectors' signatures.
    *
    * Replay contract: [[BatchRoot]]. The index is parameter-bound AND
    * capacity-bound: (tables, bits, dims, seed) must stay fixed across
    * the stream's lifetime — the defaults here are the EXPLICIT design
    * floor (bits=6, tables=12), not the corpus-size derivation,
    * because an index grown by incremental appends must never
    * re-derive a different signature family per batch. Keep the
    * parameters with the index path like any model artifact.
    *
    * Greedy-vs-batch-CC divergence: identical to
    * [[nearDupAgainstIndexSink]]'s documented contract — transitive
    * chains split across batches keep the far end (every retained
    * vector is pairwise-distant from every other retained vector);
    * stream==batch equivalence holds exactly for star-shaped
    * clusters.
    */
  def semanticAgainstIndexSink(indexRoot: String, outRoot: String,
                               threshold: Double,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               tables: Int = 12, bits: Int = 6, dims: Int = 64,
                               seed: Long = 0x5EED, inBatchClusters: Int = 1)
                              (batch: DataFrame, batchId: Long): Unit = {
    val afterIndex = dropIndexHits(batch, indexRoot, batchId, idCol)(
      graft.ext.Similarity.annPairsAgainstIndex(batch, _, threshold, tables, bits,
        dims, idCol, vecCol, seed))
    // two consumers (out write + index build) — cached so the index
    // probe + in-batch clustering run once per batch, not twice
    val kept = graft.ext.Similarity.semanticDedup(afterIndex, threshold,
      inBatchClusters, idCol, vecCol)
    BatchRoot.cached(kept) {
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(graft.ext.Similarity.annIndex(kept, tables, bits, dims,
        idCol, vecCol, seed), indexRoot, batchId)
    }
  }

  /** foreachBatch sink: MULTIMODAL near-dup dedup across the whole
    * stream history against a persisted chunk-signature index
    * ([[graft.ext.Dedup.nearDupChunkSigsAgainstIndex]] layout) — the
    * ingest loop for binary assets ("is this incoming image/clip a
    * near-copy of anything we already hold?"). The batch must carry
    * the Asset schema (asset_id, kind, payload); `sigOf` picks the
    * fingerprint family (default [[graft.ext.Multimodal.dHash]], for
    * images).
    * Per micro-batch:
    *
    *  1. hash the batch payloads ONCE (narrow mapPartitions — the
    *     only place payload bytes are touched), probe the index with
    *     the asymmetric chunk join and drop every batch asset within
    *     `maxHamming` of the retained corpus — the corpus side is
    *     16 bytes + id per asset, its payloads never re-decode;
    *  2. dedup WITHIN the survivors (chunk join + connected
    *     components, keep lowest id);
    *  3. land the kept ORIGINAL rows (with payloads) under
    *     `outRoot/__batch=<id>` and roll the index forward with the
    *     kept signatures only.
    *
    * Replay contract: [[BatchRoot]]. Same documented greedy-vs-batch-CC
    * divergence on transitive chains as the text sinks.
    */
  def chunkSigAgainstIndexSink(indexRoot: String, outRoot: String,
                               maxHamming: Int = 3,
                               sigOf: org.apache.spark.sql.Dataset[graft.ext.Multimodal.Asset] =>
                                 DataFrame = graft.ext.Multimodal.dHash)
                              (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // the signature frame feeds FOUR plan branches (index probe,
    // in-batch self-join — two lineage copies — and the survivors'
    // anti-join); without a cache the payload-decoding mapPartitions
    // would re-execute per branch, breaking the hashed-ONCE contract
    val sigs = sigOf(batch.select(col("asset_id"), col("kind"), col("payload"))
      .as[graft.ext.Multimodal.Asset])
    BatchRoot.cached(sigs) {
      val afterIndex = dropIndexHits(sigs, indexRoot, batchId, "asset_id")(
        graft.ext.Dedup.nearDupChunkSigsAgainstIndex(sigs, _, "asset_id", "phash", maxHamming))
      val keptSigs = graft.ext.Dedup.dedupNearDups(afterIndex,
        graft.ext.Dedup.nearDupChunkSigs(afterIndex, "asset_id", "phash", maxHamming),
        "asset_id")
      BatchRoot.land(batch.join(keptSigs.select("asset_id"), Seq("asset_id"), "left_semi"),
        outRoot, batchId)
      BatchRoot.land(keptSigs.select("asset_id", "phash"), indexRoot, batchId)
    }
  }

  /** foreachBatch sink: NEAR-dup dedup across the whole stream history
    * against the persisted MinHash-LSH index
    * ([[graft.ext.Dedup.minHashIndex]] layout) — the ingest loop a
    * production curation pipeline runs ("is this incoming doc a
    * near-copy of anything we already hold?"). Per micro-batch:
    *
    *  1. probe the index with the asymmetric band join
    *     ([[graft.ext.Dedup.nearDupMinHashAgainstIndex]]) and drop every
    *     batch doc that near-dups the retained corpus — cost ∝
    *     |batch|·bands + collisions, the corpus never re-hashes;
    *  2. cluster near-dups WITHIN the survivors and keep each
    *     cluster's lowest id ([[graft.ext.Dedup.dedupNearDups]]);
    *  3. land the kept docs under `outRoot/__batch=<id>` and roll the
    *     index forward with the KEPT docs' signatures (the index is the
    *     retained corpus, so dropped near-dups never bloat it).
    *
    * Replay contract: [[BatchRoot]]. The index is parameter-bound
    * (shingleSize/numHashes/bands/seed must match across the stream's
    * lifetime — keep them with the index path like any model
    * artifact). Candidate recall is the banding's: pairs near the
    * threshold may be missed with the usual LSH probability; every
    * reported drop is exact-Jaccard-verified.
    *
    * GREEDY vs batch connected-components, documented divergence: the
    * sink is an ONLINE greedy filter — a doc is kept iff it near-dups
    * nothing in the RETAINED corpus at arrival time. For transitive
    * chains A~B~C with A≁C split across batches (A kept, B dropped
    * against A, then C arrives), C near-dups only the already-dropped
    * B, so the sink KEEPS C — while batch [[graft.ext.Dedup
    * .dedupNearDups]] (connected components over the all-pairs graph)
    * puts A,B,C in one cluster and drops C. The greedy result is the
    * intended curation semantics here: every retained doc is
    * pairwise-distant from every other retained doc (C is genuinely
    * not a near-copy of anything you kept), whereas CC transitivity
    * can discard documents arbitrarily far from everything retained.
    * Stream==batch equivalence therefore holds exactly for star-shaped
    * dup clusters (all members near-dup the kept representative) and
    * is pinned for chains as intentionally divergent in StreamingSpec.
    */
  def nearDupAgainstIndexSink(indexRoot: String, outRoot: String,
                              idCol: String = "doc_id", textCol: String = "text",
                              shingleSize: Int = 3, threshold: Double = 0.8,
                              numHashes: Int = 128, bands: Int = 32,
                              seed: Long = 0xC0FFEE)
                             (batch: DataFrame, batchId: Long): Unit = {
    val afterIndex = dropIndexHits(batch, indexRoot, batchId, idCol)(
      graft.ext.Dedup.nearDupMinHashAgainstIndex(batch, _, idCol, textCol,
        shingleSize, threshold, numHashes, bands, seed))
    // two consumers (out write + MinHash index build) — cached so the
    // index probe + in-batch LSH dedup run once per batch, not twice
    val kept = graft.ext.Dedup.dedupNearDups(afterIndex,
      graft.ext.Dedup.nearDupMinHash(afterIndex, idCol, textCol, shingleSize,
        threshold, numHashes, bands, seed),
      idCol)
    BatchRoot.cached(kept) {
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(graft.ext.Dedup.minHashIndex(kept, idCol, textCol, shingleSize,
        numHashes, bands, seed), indexRoot, batchId)
    }
  }

  /** `frame` minus every row whose id the strictly-earlier index probe
    * `hits` (an `a_id`-keyed pair frame) names — the near-dup sinks'
    * step 1; the frame itself on a cold start.
    */
  private def dropIndexHits(frame: DataFrame, indexRoot: String, batchId: Long,
                            idCol: String)(hits: DataFrame => DataFrame): DataFrame =
    BatchRoot.prior(frame.sparkSession, indexRoot, batchId).fold(frame) { index =>
      frame.join(hits(index).select(col("a_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
    }

  /** foreachBatch sink: LINE-level dedup across the whole stream
    * history against the persisted line index
    * ([[graft.ext.Dedup.lineIndex]] layout) — the streaming face of
    * the C4/RefinedWeb duplicate-line cut. Per micro-batch:
    *
    *  1. cut every batch line already present in the retained corpus
    *     ([[graft.ext.Dedup.stripDuplicateLinesAgainstIndex]] — the
    *     index side is 8-byte hashes, probe cost ∝ |batch| lines);
    *  2. keep-first WITHIN the rewritten batch
    *     ([[graft.ext.Dedup.stripDuplicateLines]]);
    *  3. land the rewritten docs (total `n_cut_lines` from both
    *     passes) under `outRoot/__batch=<id>` and roll the index
    *     forward with the SURVIVING lines only (the index is the
    *     retained corpus, so cut lines never bloat it).
    *
    * Replay contract: [[BatchRoot]]. The probe semi-joins the raw
    * accreted partitions without re-aggregating (only hash EXISTENCE
    * matters to a cut), so the fold/probe equivalence of
    * [[compactIndex]] carries over verbatim.
    */
  def lineDedupAgainstIndexSink(indexRoot: String, outRoot: String,
                                minChars: Int = 1,
                                idCol: String = "doc_id", textCol: String = "text")
                               (batch: DataFrame, batchId: Long): Unit = {
    // the sink owns these names for its cut accounting; a batch that
    // already carries one would be silently renamed/overwritten and
    // corrupt the reported counts — reject loudly (the dsirSelect
    // reserved-column precedent)
    BatchRoot.reserve(batch, "lineDedupAgainstIndexSink", "n_cut_lines", "__cross_cut")
    val crossCut = BatchRoot.prior(batch.sparkSession, indexRoot, batchId) match {
      case Some(index) => graft.ext.Dedup.stripDuplicateLinesAgainstIndex(
        batch, index, minChars, idCol, textCol)
      case None => batch.withColumn("n_cut_lines", lit(0L))
    }
    // two consumers (the outRoot write and the index build) — cached so
    // the index probe + keep-first aggregation run once per batch, not
    // twice (same reason chunkSigAgainstIndexSink caches its signatures)
    val kept = graft.ext.Dedup.stripDuplicateLines(
        crossCut.withColumnRenamed("n_cut_lines", "__cross_cut"),
        minChars, idCol, textCol)
      .withColumn("n_cut_lines", col("__cross_cut") + col("n_cut_lines"))
      .drop("__cross_cut")
    BatchRoot.cached(kept) {
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(graft.ext.Dedup.lineIndex(kept, minChars, idCol, textCol),
        indexRoot, batchId)
    }
  }

  /** foreachBatch sink: EXACT-SUBSTRING dedup across the whole stream
    * history against the persisted window index
    * ([[graft.ext.Dedup.substringIndex]] layout) — the streaming face
    * of the Lee et al. ExactSubstr cut, at token grain by default or
    * the published 50-char grain with `charGrain = true`. Per
    * micro-batch:
    *
    *  1. cut every batch unit covered by a window that exists in the
    *     retained history OR duplicates an earlier (id, pos) window
    *     within the batch — ONE combined coverage pass over the
    *     batch's ORIGINAL text
    *     ([[graft.ext.Dedup.stripExactSubstringsWithIndex]]; see its
    *     scaladoc for why two sequential cuts would diverge from the
    *     one-shot batch semantics);
    *  2. land the rewritten docs (exact `n_cut_tokens`/`n_cut_chars`)
    *     under `outRoot/__batch=<id>`;
    *  3. roll the index forward with the batch's ORIGINAL-text windows
    *     — NOT the kept text. This is the exact sink's
    *     index-everything-seen model, not the near-dup sinks'
    *     retained-corpus model, and it is what makes stream ≡ batch
    *     EXACT: a window whose first occurrence was itself partially
    *     covered by a different repeat survives in no document's kept
    *     text, yet one-shot [[graft.ext.Dedup.stripExactSubstrings]]
    *     over the full history still cuts its later twins — so the
    *     index must remember it (StreamingSpec pins this case).
    *
    * Unlike the near-dup/semantic sinks there is NO greedy-vs-batch
    * divergence: repeat determination is position-exact on original
    * text, so the streamed output is byte-identical to the one-shot
    * batch cut over the concatenated history (when arrival order
    * matches (id, pos) order — the shared first-is-lowest-id caveat).
    * Replay contract: [[BatchRoot]]. The probe semi-joins the raw
    * accreted partitions (hash EXISTENCE only), so
    * [[compactIndex]]'s fold/probe equivalence carries over verbatim.
    * `minUnits`/`charGrain` are family parameters — keep them with the
    * index path like any model artifact.
    */
  def substringDedupAgainstIndexSink(indexRoot: String, outRoot: String,
                                     minUnits: Int = 8,
                                     charGrain: Boolean = false,
                                     idCol: String = "doc_id",
                                     textCol: String = "text")
                                    (batch: DataFrame, batchId: Long): Unit = {
    BatchRoot.reserve(batch, "substringDedupAgainstIndexSink",
      if (charGrain) "n_cut_chars" else "n_cut_tokens")
    val prior = BatchRoot.prior(batch.sparkSession, indexRoot, batchId)
    // the micro-batch frame feeds the combined cut AND the index build
    // — cached so the source is read once per batch, not per write
    BatchRoot.cached(batch) {
      import graft.ext.Dedup._
      val kept = (prior, charGrain) match {
        case (Some(index), true) =>
          stripExactCharSubstringsWithIndex(batch, index, minUnits, idCol, textCol)
        case (Some(index), false) =>
          stripExactSubstringsWithIndex(batch, index, minUnits, idCol, textCol)
        case (None, true)  => stripExactCharSubstrings(batch, minUnits, idCol, textCol)
        case (None, false) => stripExactSubstrings(batch, minUnits, idCol, textCol)
      }
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(
        if (charGrain) charSubstringIndex(batch, minUnits, idCol, textCol)
        else substringIndex(batch, minUnits, idCol, textCol),
        indexRoot, batchId)
    }
  }

  /** foreachBatch sink: URL-level dedup across the whole stream history
    * against the persisted canonical-key index
    * ([[graft.ext.Dedup.urlKeyIndex]] layout) — the streaming face of
    * RefinedWeb's stage-1 cut, and the cheapest sink in the family
    * (keys are 8-byte hashes; no text is ever touched). Per
    * micro-batch: keep-first within the batch, drop survivors whose
    * key the retained history already holds
    * ([[graft.ext.Dedup.urlDedupAgainstIndex]] — one composed step),
    * land the kept rows (with their `url_key` audit column) under
    * `outRoot/__batch=<id>`, and roll the index forward with the KEPT
    * rows' key hashes (complete by construction: a dropped row's key
    * is either already in the index or carried by its within-batch
    * winner). Non-addressable rows (null/empty url) always pass.
    *
    * Stream ≡ batch EXACTLY (keys are per-document atomic — none of
    * the substring family's coverage subtleties), under the shared
    * first-arrival-is-lowest-id caveat; replay contract:
    * [[BatchRoot]], and [[compactIndex]] applies verbatim.
    */
  def urlDedupAgainstIndexSink(indexRoot: String, outRoot: String,
                               urlCol: String = "url",
                               idCol: String = "doc_id")
                              (batch: DataFrame, batchId: Long): Unit = {
    BatchRoot.reserve(batch, "urlDedupAgainstIndexSink", "url_key")
    // two consumers (out write + index roll-forward) — cached so the
    // winner election runs once per batch, not twice
    val kept = BatchRoot.prior(batch.sparkSession, indexRoot, batchId) match {
      case Some(index) => graft.ext.Dedup.urlDedupAgainstIndex(batch, index, urlCol, idCol)
      case None        => graft.ext.Dedup.urlDedup(batch, urlCol, idCol)
    }
    BatchRoot.cached(kept) {
      BatchRoot.land(kept, outRoot, batchId)
      BatchRoot.land(kept.where(col("url_key").isNotNull)
        .select(xxhash64(col("url_key")).as("__uh")).distinct(), indexRoot, batchId)
    }
  }

  /** foreachBatch sink: the COMPLETE incremental curation chain as one
    * streaming stage — [[graft.ext.CurationChain.runIncremental]]
    * (encoding gate → within-batch + vs-index exact dedup → vs-index +
    * within-batch near-dup → decontaminate → mixture) over the chain's
    * TWO persisted index families (the normalized-digest index and the
    * MinHash-LSH index, [[graft.ext.CurationChain.corpusState]]'s
    * layout split into `__batch=` partition roots). Per micro-batch:
    * probe both indexes strictly earlier, run the chain, land the
    * curated rows under `outRoot/__batch=<id>`, and roll BOTH indexes
    * forward with the kept rows — the streaming face of
    * `runIncremental` + `rollForward`; replay contract: [[BatchRoot]]
    * (the first batch curates against empty state).
    *
    * `benchmarkSource` is the chain's decontamination reference (the
    * eval set is defined on the ORIGINAL corpus, exactly as in batch) —
    * a bounded frame by contract, re-read per batch.
    *
    * Stream ≡ the batch-by-batch `runIncremental`/`rollForward` loop
    * EXACTLY (StreamingSpec pins it): the sink IS that loop, driven by
    * the engine. Cross-set drops are first-seen-wins; within-batch
    * policy is keep-min-id — the family caveats carry over unchanged.
    * [[compactIndex]] applies to both index roots verbatim.
    */
  def curationChainSink(normIndexRoot: String, minHashIndexRoot: String,
                        outRoot: String, benchmarkSource: DataFrame,
                        alsoLand: Seq[(DataFrame, Long) => Unit] = Nil)
                       (batch: DataFrame, batchId: Long): Unit = {
    import graft.ext.{CurationChain, Dedup, TextOps}
    // chain stages consume the batch several times (gate profile, two
    // dedup stages, index builds) — read the source once
    BatchRoot.cached(batch) {
      // first batch ever: empty state frames in corpusState's exact
      // schema, built from the batch's own (empty) slice
      lazy val empty = CurationChain.corpusState(batch.limit(0))
      val dig = BatchRoot.prior(batch.sparkSession, normIndexRoot, batchId).getOrElse(empty._1)
      val mh = BatchRoot.prior(batch.sparkSession, minHashIndexRoot, batchId).getOrElse(empty._2)
      val kept = CurationChain.runIncremental(batch, dig, mh, benchmarkSource)
      BatchRoot.cached(kept) {
        BatchRoot.land(kept, outRoot, batchId)
        // chained per-batch artifact sinks over the CACHED curated
        // frame (e.g. [[StreamingLang.scoreSink]] — one ingest pass
        // lands text + predictions without re-reading the landing);
        // each must be a pure function of (batch, its own frozen
        // state) under the [[BatchRoot]] replay contract
        alsoLand.foreach(sink => sink(kept, batchId))
        // rollForward's two halves as partition appends: digests can't
        // repeat across batches (a repeat falls at the exact stage), and
        // the MinHash probe tolerates accreted rows like every sink here
        BatchRoot.land(Dedup.exactIndex(
            kept.withColumn("__norm", TextOps.normalizeText(col("text"))), "__norm"),
          normIndexRoot, batchId)
        BatchRoot.land(Dedup.minHashIndex(kept, shingleSize = CurationChain.ShingleSize),
          minHashIndexRoot, batchId)
      }
    }
  }

  /** Maintenance op for any roll-forward `__batch=<id>` index the sinks
    * above accrete (digest / MinHash / ANN / chunk-signature — the
    * layout is shared): fold every partition EXCEPT the latest into a
    * single partition, sized toward `targetBytes` per file.
    *
    * Why it exists: each micro-batch appends one partition directory
    * forever, so after a week at a 10 s trigger the index is ~60k
    * directories of KB-files — listing, footer parses, and task
    * scheduling start to dominate every probe (the small-files disease
    * of any append-only table, compounded by partition discovery).
    *
    * Replay contract preserved BY CONSTRUCTION: the merged rows are
    * exactly `__batch < latest` — what a redelivery of the latest
    * batch is entitled to see — relabeled as one partition at the
    * SECOND-highest id (still `< latest`, still `< batchId` for every
    * future batch). The latest partition is never touched, because
    * after a crash it may belong to an uncommitted batch that will be
    * redelivered and must overwrite its own directory untouched by us.
    *
    * Not atomic (two rename windows): run it between restarts or
    * while the stream is quiesced. The staging and trash directories
    * carry no `=` in their names, so Spark's partition discovery never
    * sees them even mid-swap. Returns the number of batch partitions
    * folded away (0 = nothing to do).
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, indexRoot: String,
                   targetBytes: Long = 128L << 20): Int = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, "targetBytes must be positive")
    val partIds = BatchRoot.batchIds(spark, indexRoot)
    if (partIds.length <= 2) return 0 // one data + one live partition: nothing to fold
    val latest = partIds.last
    val mergeIds = partIds.dropRight(1)
    // the probe, verbatim — the fold IS the probe state
    val merged = BatchRoot.prior(spark, indexRoot, latest) match {
      case Some(probe) => probe.drop("__batch")
      case None        => return 0 // no committed partition: nothing to fold
    }
    val fs = new Path(indexRoot).getFileSystem(spark.sessionState.newHadoopConf())
    val mergeDirs = mergeIds.map(i => new Path(BatchRoot.dir(indexRoot, i)))
    val mergeBytes = mergeDirs.flatMap(fs.listStatus(_))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(mergeBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(s"$indexRoot/__compact_tmp")
    fs.delete(tmp, true) // stray staging from a crashed prior run
    merged.coalesce(nFiles).write.mode("overwrite").parquet(tmp.toString)
    val trash = mergeIds.zip(mergeDirs).map { case (i, d) =>
      val t = new Path(s"$indexRoot/__compact_old_$i")
      if (!fs.rename(d, t))
        throw new IllegalStateException(s"compaction swap failed moving $d (index readable, staging left)")
      t
    }
    if (!fs.rename(tmp, new Path(BatchRoot.dir(indexRoot, mergeIds.last)))) {
      trash.zip(mergeDirs).foreach { case (t, d) => fs.rename(t, d) } // restore
      throw new IllegalStateException(s"compaction swap failed for $indexRoot (original restored)")
    }
    trash.foreach(fs.delete(_, true))
    mergeIds.length - 1
  }
}
