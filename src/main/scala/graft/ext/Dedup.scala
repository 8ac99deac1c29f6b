package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard) for training-data pipelines — beyond-reference scope,
  * SURVEY.md §2c.
  *
  * Scale design (the 100 TB lens):
  *  - exact dedup groups on a 128-bit digest, never on the raw text —
  *    the shuffle carries 16-byte keys, not documents;
  *  - near-dup NEVER does an all-pairs comparison: MinHash-LSH buckets
  *    by banded signatures so the self-join only materializes pairs
  *    that collide in some band (expected O(n·b + true pairs)), and the
  *    exact-Jaccard verification runs only on those candidates;
  *  - the n-gram path is an inverted-index join (shuffle on shingle),
  *    the exact counterpart for moderate corpora; its known hazard at
  *    scale is hot shingles — drop stop-shingles / use prefix filtering
  *    before the join (documented, not needed at test SF).
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical text. The group
    * key is md5(text) (16 bytes) so the aggregation shuffle is narrow;
    * the winning ids come back to the full rows via a semi-join that
    * AQE converts to broadcast when the winner set is small.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val winners = docs
      .groupBy(md5(col(textCol)).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    docs.join(winners, Seq(idCol), "left_semi")
  }

  /** Persistable digest index for incremental EXACT dedup: one row per
    * distinct corpus text, as its 16-byte md5 (`__fp`). Write it as
    * parquet and probe each ingest batch with [[exactAgainst]] — the
    * exact-dup sibling of [[minHashIndex]]: the corpus is scanned once
    * at build, never per batch, and the index grows by the batch's own
    * digests after each ingest (`union` + `distinct`, or just append —
    * the anti-join semantics tolerate duplicate index rows).
    */
  def exactIndex(corpus: DataFrame, textCol: String = "text"): DataFrame =
    corpus.select(md5(col(textCol)).as("__fp")).distinct()

  /** Incremental exact dedup: drop batch rows whose text already exists
    * in the corpus index, then keep the lowest id per text within the
    * batch itself ([[exact]] semantics batch-side). The anti join
    * shuffles 16-byte digests, never text; at 100 TB the index side is
    * a digest-only parquet scan.
    */
  def exactAgainst(batch: DataFrame, index: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    exact(batch, idCol, textCol)
      .join(index, md5(col(textCol)) === index("__fp"), "left_anti")

  /** Bloom membership sketch OVER a digest index ([[exactIndex]]'s
    * `__fp` frame): one treeAggregate pass, no shuffle, ~1.2 bytes/key
    * at 1% fpp vs the index's 16-byte digests. Returned as a one-row
    * frame `(n_items, fpp, bloom)` — persist it as parquet next to the
    * index and hand it to [[exactAgainstBloom]].
    *
    * The inserted key is `xxhash64(__fp)` — derivable from BOTH the
    * index and raw text (`xxhash64(md5(text))`), which is what lets
    * the filter rebuild from the rolled-forward index alone (the
    * compaction cadence: index appends per batch, bloom rebuilds from
    * the compacted index — one digest-only columnar scan, no text).
    * A 64-bit pre-hash can alias two digests (P ≈ n²/2⁶⁵ — the
    * duplicatedSpans trade), which only ever ADDS a false positive;
    * the anti-join confirm keeps the result exact regardless.
    */
  def bloomOfIndex(index: DataFrame, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val hashed = index.select(xxhash64(col("__fp")).as("__h"))
    val n = math.max(hashed.count(), 1L)
    val bf = hashed.stat.bloomFilter("__h", n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val spark = index.sparkSession
    import spark.implicits._
    Seq((n, fpp, bos.toByteArray)).toDF("n_items", "fpp", "bloom")
  }

  /** [[exactAgainst]] with a Bloom prefilter: batch rows whose text
    * hash is bloom-NEGATIVE are definitely new and bypass the digest
    * anti-join entirely — they flow through a narrow codegen'd filter
    * with no shuffle. Only bloom-positive rows (true dups + the fpp
    * sliver) enter the join. No false negatives → the kept set is
    * EXACTLY [[exactAgainst]]'s (the q91 oracle is q74's), so the
    * filter is a pure shuffle-avoidance lever: on a fresh-content
    * ingest at 100 TB the join's probe side shrinks to ~fpp of the
    * batch, and when AQE sees it empty the index scan short-circuits.
    *
    * The filter deserializes once on the driver and ships as a
    * BROADCAST ([[graft.functions.BloomMightContainLong]]) — fetched
    * per executor, never per task. The two result branches share the
    * deduped-batch subplan; its aggregation exchange is reused
    * (ReuseExchange), so the batch is deduped once. A production
    * ingest loop that probes many indexes would `.persist()` the
    * deduped batch first; at one probe per batch the re-scan is noise.
    */
  def exactAgainstBloom(batch: DataFrame, index: DataFrame, bloom: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bytes = bloom.select(col("bloom")).head().getAs[Array[Byte]](0)
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val bc = batch.sparkSession.sparkContext.broadcast(bf)
    val flagged = exact(batch, idCol, textCol).withColumn("__maybe",
      graft.functions.ArrayExprs.bloomMightContainLong(xxhash64(md5(col(textCol))), bc))
    val fresh = flagged.where(!col("__maybe")).drop("__maybe")
    val confirmed = flagged.where(col("__maybe")).drop("__maybe")
      .join(index, md5(col(textCol)) === index("__fp"), "left_anti")
    fresh.unionByName(confirmed)
  }

  /** Cross-document duplicated spans: every `spanTokens`-token window
    * that occurs in at least `minDocs` distinct documents, with total
    * occurrence counts (within-document repeats included) — the
    * span-level primitive of exact-substring training-data dedup
    * (surfaces boilerplate, license headers, and templated text that
    * document-level dedup never sees). Top `topK` by occurrence count,
    * token-text tiebreak, for a stable report.
    *
    * Scale shape: windows explode to ~one row per token position, but
    * the GROUP KEY is the span's xxhash64 — the shuffle hashes and
    * compares 8-byte longs, and the span text rides along only as the
    * report's example (min per group, shipped once per distinct span
    * per partition by the map-side combine). A 64-bit fingerprint can
    * in principle alias two distinct spans (P ≈ n²/2⁶⁵ — negligible
    * below ~10¹² distinct spans; the same trade every published
    * suffix/span dedup pipeline makes). Raise `spanTokens` to the
    * 50-token regime of those pipelines at 100 TB; the plan shape is
    * unchanged. Top-k is a TakeOrdered, not a global sort.
    */
  def duplicatedSpans(docs: DataFrame, spanTokens: Int, minDocs: Int = 2,
                      topK: Int = 100, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    require(minDocs >= 2, "a span in fewer than 2 docs is not a cross-doc duplicate")
    // the ordered-window definition is shared with winnowing — one
    // place for the tokenization/guard semantics to live
    docs.select(col(idCol),
        explode(TextOps.shinglesOrdered(col(textCol), spanTokens)).as("span"))
      .groupBy(xxhash64(col("span")).as("__h"))
      .agg(min(col("span")).as("span"),
        count(lit(1)).as("n_occurrences"),
        count_distinct(col(idCol)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select("span", "n_occurrences", "n_docs")
      .orderBy(col("n_occurrences").desc, col("span").asc)
      .limit(topK)
  }

  /** Connected components over a near-dup pair set: label every member
    * with the smallest doc id reachable through pair edges (min-label
    * propagation to fixpoint, accelerated by pointer doubling). The
    * iteration runs over the PAIR graph — tiny relative to the corpus
    * (near-dup rate ≪ 1) — with two equi-joins per round (one-hop
    * neighbor min, then the L(v) ← L(L(v)) shortcut) and a driver-side
    * convergence check; the shortcut doubles the propagation reach
    * each round, so the round count is O(log diameter), not
    * O(diameter) — the per-round Spark-job cost is what dominates at
    * 100 TB. Returns (member, component).
    *
    * Materialization: every cut (the edge frame `cc_edges`, the initial
    * labels `cc_labels_0`, each round `cc_round_<i>`) goes through the
    * injectable [[CurationChain.StageMaterializer]] seam, which bounds
    * the lineage per round. The default eager localCheckpoint is the
    * single-host trade (executor block storage, unrecoverable if an
    * executor dies); at 100 TB pass a
    * [[CurationChain.DurableMaterializer]], whose parquet landings a
    * lost executor — or a resumed run — reads back. The stage names
    * are fixed, so one durable dir holds ONE component computation.
    *
    * Exiting via the `maxIterations` cap without a fixpoint would
    * silently return WRONG labels (some member not yet carrying its
    * component's minimum), so it throws instead; with pointer doubling
    * the default cap of 20 rounds covers component diameters beyond
    * 2^20 — far past any realistic near-dup chain.
    */
  def connectedComponents(pairs: DataFrame, maxIterations: Int = 20,
                          mat: CurationChain.StageMaterializer =
                            CurationChain.LocalCheckpointMaterializer): DataFrame =
    connectedComponentsWithRounds(pairs, maxIterations, mat)._1

  /** [[connectedComponents]] plus the number of label-propagation
    * rounds it ran — the round count is the real 100 TB cost (one
    * Spark job per round), so the spec pins it on a crafted long-chain
    * fixture to hold the logarithmic convergence below.
    */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, maxIterations: Int = 20,
      mat: CurationChain.StageMaterializer =
        CurationChain.LocalCheckpointMaterializer): (DataFrame, Int) = {
    val edges = mat("cc_edges")(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
        .distinct())
    var labels = mat("cc_labels_0")(edges.select(col("src").as("member"))
      .distinct()
      .withColumn("component", col("member")))
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // step 1 — propagate: each member adopts min(own label,
      // neighbors' labels), reaching one hop per round
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("member", "dst"), "dst")
        .groupBy(col("src").as("member"))
        .agg(min(col("component")).as("__nbr"))
      val prop = labels.select(col("member"), col("component").as("__old"))
        .join(viaNeighbors, Seq("member"), "left")
        .select(col("member"), col("__old"),
          least(col("__old"), coalesce(col("__nbr"), col("__old"))).as("__p"))
      // step 2 — pointer doubling (shortcut): L(v) ← L(L(v)). Labels
      // are always member ids (init = own id, min only moves them to
      // other members' ids), so every label resolves in the label
      // table itself; the jump composes two hops into one, making the
      // reach per round 2d+2 instead of d+1 — rounds ~ log2(diameter)
      // instead of diameter. One extra equi-join per round buys a
      // logarithmic job count: a 10 000-long chain converges in ~12
      // rounds instead of 10 000. The round carries its own change
      // flag so convergence is a scan of the just-materialized result.
      val shortMap = prop.select(col("member").as("__lm"), col("__p").as("__lc"))
      i += 1
      val next = mat(s"cc_round_$i")(
        prop.join(shortMap, col("__p") === col("__lm"), "left")
          .select(col("member"),
            coalesce(col("__lc"), col("__p")).as("component"),
            (coalesce(col("__lc"), col("__p")) < col("__old")).as("__changed")))
      converged = next.where(col("__changed")).isEmpty
      labels = next.select("member", "component")
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIterations iterations " +
          "(a component's diameter exceeds the cap); raise maxIterations")
    (labels, i)
  }

  /** Per-document BOILERPLATE FRACTION: the share of a document's token
    * positions covered by some `spanTokens`-token window that also
    * occurs in at least `minDocs` distinct documents — the C4-style
    * templated-text quality signal, document-level where
    * [[duplicatedSpans]] is corpus-level (a doc that is 80% license
    * header scores 0.8 even if no whole-document near-dup exists).
    * Exact integers until one final IEEE division — oracle-comparable.
    *
    * Scale shape: windows explode to one row per token position, but
    * the span text is dropped at the source — only (id, pos,
    * xxhash64(span)) transits the plan, so both shuffles (the
    * duplicated-span agg and the coverage semi join) move 8-byte keys;
    * position coverage is then the INTERVAL UNION of the flagged
    * [s, s+w) windows, computed ROW-LOCALLY from the per-doc sorted
    * flagged starts ([[graft.functions.MergedRuns]] — the same r13
    * shape as the exact-substring family), never a per-position
    * explode. Fingerprint aliasing as in [[duplicatedSpans]]
    * (P ≈ n²/2⁶⁵).
    */
  /** Per-document sorted FLAGGED WINDOW STARTS (positions whose
    * span occurs in ≥ minDocs documents) — the shared core of
    * [[boilerplateFraction]] (measure) and [[stripBoilerplate]] (act):
    * one `(id, __starts: array<int>)` row per affected document, from
    * which coverage is the row-local interval union.
    */
  private def coveredRunStarts(docs: DataFrame, spanTokens: Int, minDocs: Int,
                               idCol: String, textCol: String,
                               mat: CurationChain.StageMaterializer): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    require(minDocs >= 2, "a span in fewer than 2 docs is not boilerplate")
    // the (id, pos, hash) window frame feeds BOTH the duplicated-span
    // aggregate and the coverage semi join — cut it once so the span
    // explosion + hashing over the corpus runs one time, not two
    // (the span text never exists: TokenWindowHashes emits the same
    // xxhash64 values the span strings would hash to, computed in
    // place, so the explode moves 8-byte longs only).
    // HOW it cuts is the injectable StageMaterializer seam: the default
    // eager localCheckpoint is the single-host trade, a durable
    // deployment lands the frame as parquet instead (guide §5 — a lost
    // executor must not kill the run).
    val w = mat("span_positions")(docs.select(col(idCol),
      posexplode(graft.functions.ArrayExprs.tokenWindowHashes(col(textCol), spanTokens))
        .as(Seq("pos", "__h"))))
    val dup = w.groupBy("__h")
      .agg(count_distinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select("__h")
    w.join(dup, Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
  }

  def boilerplateFraction(docs: DataFrame, spanTokens: Int, minDocs: Int = 2,
                          idCol: String = "doc_id", textCol: String = "text",
                          mat: CurationChain.StageMaterializer =
                            CurationChain.LocalCheckpointMaterializer): DataFrame = {
    // covered position count = total length of the merged [s, s+w)
    // runs — the identical integer the former per-position explode +
    // distinct + count produced, in one row-local fold over the (few)
    // runs per affected document
    val covered = coveredRunStarts(docs, spanTokens, minDocs, idCol, textCol, mat)
      .select(col(idCol),
        aggregate(
          graft.functions.SpanExprs.mergedRuns(col("__starts"), lit(spanTokens)),
          lit(0L), (a, r) => a + r.getField("len")).as("__covered"))
    docs.withColumn("n_tokens", size(TextOps.tokens(col(textCol))).cast("long"))
      .join(covered, Seq(idCol), "left")
      .withColumn("boilerplate_frac",
        coalesce(col("__covered"), lit(0L)).cast("double") / col("n_tokens").cast("double"))
      .drop("__covered")
  }

  /** Boilerplate REMOVAL: rewrite each document with every token
    * position covered by a cross-doc duplicated span dropped —
    * [[boilerplateFraction]]'s measure turned into the cleanup act
    * (strip shared license headers / templated chrome, keep the
    * document's own prose; a fully-templated doc rewrites to the empty
    * string — downstream length filters catch it). Output: the input
    * columns plus (clean_text, n_tokens, n_removed).
    *
    * Scale shape: coverage as in [[boilerplateFraction]]; the rebuild
    * is ONE (id → sorted flagged starts) join back to the corpus and a
    * row-local splice ([[graft.functions.CutRuns]], token mode — the
    * exact-substring family's r13 shape): no per-token explode, no
    * anti join, no collect_list reassembly. Untouched documents keep
    * their text byte-verbatim (split-on-space/rejoin is lossless, so
    * the former concat_ws rebuild produced the same bytes).
    */
  def stripBoilerplate(docs: DataFrame, spanTokens: Int, minDocs: Int = 2,
                       idCol: String = "doc_id", textCol: String = "text",
                       mat: CurationChain.StageMaterializer =
                         CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val starts = coveredRunStarts(docs, spanTokens, minDocs, idCol, textCol, mat)
    val runs = graft.functions.SpanExprs.mergedRuns(col("__starts"), lit(spanTokens))
    val spliced = graft.functions.SpanExprs.cutRuns(col(textCol), runs, "token")
    docs.withColumn("n_tokens", size(TextOps.tokens(col(textCol))).cast("long"))
      .join(starts, Seq(idCol), "left")
      .withColumn("clean_text",
        when(col("__starts").isNotNull, spliced.getField("text"))
          // null text rebuilt to "" in the former concat_ws shape
          .otherwise(coalesce(col(textCol), lit(""))))
      .withColumn("n_removed",
        // n_tokens − n_tokens ≡ 0, or null for a null text — the
        // former `n_tokens - coalesce(kept, 0)` edge semantics
        when(col("__starts").isNull, col("n_tokens") - col("n_tokens"))
          .otherwise(spliced.getField("n_cut")))
      .drop("__starts")
  }

  /** Dedup IMPACT REPORT: what near-dup removal would do, per group
    * (source, language, …) — the accounting every production curation
    * run ships next to its output: docs seen, kept, removed
    * (keep-lowest-id policy, [[dedupNearDups]]), and distinct dup
    * clusters touching the group (a cluster spanning two sources
    * counts in both — that cross-source overlap is itself the signal).
    * Scale shape: one CC pass over the PAIR graph (≪ corpus), a
    * left join back on ids, and a map-side-combinable aggregation on
    * the low-cardinality group key.
    */
  def impactReport(docs: DataFrame, pairs: DataFrame, groupCols: Seq[String],
                   idCol: String = "doc_id", maxIterations: Int = 20,
                   mat: CurationChain.StageMaterializer =
                     CurationChain.LocalCheckpointMaterializer): DataFrame = {
    require(groupCols.nonEmpty, "impactReport needs at least one group column")
    val comp = connectedComponents(pairs, maxIterations, mat)
      .withColumnRenamed("member", idCol)
    docs.join(comp, Seq(idCol), "left")
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull && col(idCol) =!= col("component"), 1L)
          .otherwise(0L)).as("n_removed"),
        (count(lit(1)) - sum(when(col("component").isNotNull && col(idCol) =!= col("component"), 1L)
          .otherwise(0L))).as("n_kept"),
        count_distinct(col("component")).as("n_clusters"))
  }

  /** Near-duplicate REMOVAL: run pair detection, cluster the pairs, and
    * keep only each cluster's lowest-id member (plus every document in
    * no cluster). The anti-join ships only the small loser set.
    * `maxIterations`/`mat` pass through to [[connectedComponents]]
    * (a durable materializer lands its rounds at scale).
    */
  def dedupNearDups(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id", maxIterations: Int = 20,
                    mat: CurationChain.StageMaterializer =
                      CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val losers = connectedComponents(pairs, maxIterations, mat)
      .where(col("member") =!= col("component"))
      .select(col("member").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-duplicate removal: like [[dedupNearDups]], but
    * each cluster keeps its HIGHEST-`scoreCol` member (ties → lowest
    * id) instead of the lowest id — the production policy when a
    * quality signal exists (keep the longest/cleanest duplicate, drop
    * the rest). The ranking window runs over cluster members only
    * (≪ corpus — the per-component groups are near-dup cliques, tiny
    * by construction, so the window partition skew of a giant
    * component is bounded by the biggest dup cluster, not the corpus).
    */
  def dedupNearDupsBest(docs: DataFrame, pairs: DataFrame, scoreCol: String,
                        idCol: String = "doc_id", maxIterations: Int = 20,
                        mat: CurationChain.StageMaterializer =
                          CurationChain.LocalCheckpointMaterializer): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = connectedComponents(pairs, maxIterations, mat)
      .join(docs.select(col(idCol).as("member"), col(scoreCol).as("__score")), "member")
    val w = Window.partitionBy(col("component"))
      .orderBy(col("__score").desc, col("member").asc)
    val losers = members.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col("member").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------
  // MinHash
  // ---------------------------------------------------------------------

  /** Universal-hash parameters h_i(x) = (a_i·x + b_i) mod P, drawn
    * deterministically from a fixed seed. P = 2^31−1 (Mersenne prime)
    * keeps every product under 2^62 — Spark 4 runs ANSI mode, where a
    * 64-bit overflow is a runtime error, so the hash domain must
    * provably not overflow.
    */
  private val P = 2147483647L
  private def hashParams(numHashes: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val as = Seq.fill(numHashes)(1L + rnd.nextInt((P - 1).toInt).toLong)
    val bs = Seq.fill(numHashes)(rnd.nextInt(P.toInt).toLong)
    (as, bs)
  }

  /** MinHash signature column (array<bigint> of length `numHashes`)
    * over a shingle-array column. One xxhash64 per shingle (codegen'd
    * builtin), then a native k×n tight-loop expression for the affine
    * re-hashes (graft.functions.AffineMinHash) — per-row, no shuffle.
    * Empty shingle set → signature of P (sentinel larger than any real
    * hash) so short docs never collide with real content.
    */
  def minHashSignature(shingleArr: Column, numHashes: Int, seed: Long = 0xC0FFEE): Column =
    minHashFromHashes(transform(shingleArr, s => xxhash64(s)), numHashes, seed)

  /** Signature straight from pre-hashed shingles (ShingleHashes). */
  def minHashFromHashes(baseHashes: Column, numHashes: Int, seed: Long = 0xC0FFEE): Column = {
    val (as, bs) = hashParams(numHashes, seed)
    graft.functions.ArrayExprs.affineMinHash(baseHashes, as, bs)
  }

  /** LSH banding: (id, band_idx, band_hash) — one row per band, hash of
    * the band's signature slice. Docs agreeing on ALL rows of any band
    * land in the same bucket. With r rows/band and b bands, a pair of
    * Jaccard similarity s collides somewhere with prob 1−(1−s^r)^b —
    * at r=4, b=32: s=0.8 → 1−5e−8 (recall ~1), s=0.3 → 0.23 (cheap
    * false candidates, killed by the exact verify).
    */
  /** Choose LSH banding (bands, rowsPerBand) for a target Jaccard
    * threshold: among the divisor splits b·r = numHashes, pick the
    * LONGEST rows (fewest bands — fewest candidate collisions, i.e.
    * cheapest verify stage) whose detection probability at the
    * threshold, 1 − (1 − t^r)^b, still meets `minRecall`. Longer rows
    * sharpen the S-curve (precision); more bands push recall — this
    * resolves the trade explicitly instead of via magic constants. The
    * defaults (128 hashes, t = 0.8, recall 1−10⁻⁶) yield (32, 4) —
    * exactly the pair the operators ship with (SURVEY: recall 1−5·10⁻⁸
    * at J = 0.8). Pure arithmetic, deterministic.
    */
  def chooseBanding(numHashes: Int, threshold: Double,
                    minRecall: Double = 0.999999): (Int, Int) = {
    require(numHashes > 0 && threshold > 0 && threshold < 1,
      s"need numHashes > 0 and threshold in (0, 1), got ($numHashes, $threshold)")
    require(minRecall > 0 && minRecall < 1, s"minRecall must be in (0, 1), got $minRecall")
    def recall(b: Int, r: Int): Double =
      1.0 - StrictMath.pow(1.0 - StrictMath.pow(threshold, r), b)
    val splits = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b))
    val qualifying = splits.filter { case (b, r) => recall(b, r) >= minRecall }
    require(qualifying.nonEmpty,
      f"no (bands, rows) split of $numHashes hashes reaches recall $minRecall%.6g at " +
        f"threshold $threshold; the best achievable is ${recall(numHashes, 1)}%.6g with " +
        f"(bands=$numHashes, rows=1) — lower minRecall or raise numHashes")
    qualifying.minBy(_._1) // fewest bands among the qualifying splits
  }

  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      struct(j.as("band_idx"), hash(slice(sig, j * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash")))

  /** (id, band_idx, band_hash) rows from a `__sig` signature frame —
    * the shared banding projection of the symmetric and incremental
    * candidate joins.
    */
  private def bandedRows(docsWithSig: DataFrame, idCol: String,
                         bands: Int, rowsPerBand: Int): DataFrame =
    docsWithSig
      .select(col(idCol), explode(lshBands(col("__sig"), bands, rowsPerBand)).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"), col("b.band_hash").as("band_hash"))

  /** Candidate pairs (aId < bId) from LSH bucket collisions: explode
    * bands, self-join on (band_idx, band_hash), distinct. The shuffle
    * key is the band hash — uniformly distributed, so no skew; bucket
    * sizes stay small because agreeing on r=4 independent min-hashes is
    * rare for dissimilar docs.
    */
  def lshCandidates(docsWithSig: DataFrame, idCol: String,
                    bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = bandedRows(docsWithSig, idCol, bands, rowsPerBand)
    val a = banded.select(col("band_idx"), col("band_hash"), col(idCol).as("a_id"))
    val b = banded.select(col("band_idx"), col("band_hash"), col(idCol).as("b_id"))
    a.join(b, Seq("band_idx", "band_hash"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
  }

  /** Near-duplicate pairs by MinHash-LSH with exact verification:
    * shingle → sign → band → bucket-join → exact Jaccard on the
    * candidate pairs only → keep pairs ≥ threshold. Output:
    * (a_id, b_id, jaccard), deterministic — the LSH step only ever
    * *finds* candidates; the reported similarity is exact.
    */
  def nearDupMinHash(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", shingleSize: Int = 3,
                     threshold: Double = 0.8, numHashes: Int = 128,
                     bands: Int = 32, seed: Long = 0xC0FFEE,
                     mat: CurationChain.StageMaterializer =
                       CurationChain.LocalCheckpointMaterializer): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    // the signature frame is the operator's fingerprint pass: the
    // banding self-join consumes it twice and the exact verify four
    // more times (two size joins + two array joins), so an
    // unmaterialized lineage re-shingles and re-signs the corpus ~6×.
    // One cut computes it once; every downstream branch reads the
    // (id, hashes, signature) rows — never the text again. HOW it cuts
    // is the injectable StageMaterializer seam (default = eager
    // localCheckpoint, the single-host trade; durable deployments land
    // parquet and survive executor loss, guide §5).
    val withSig = mat("minhash_sigs")(docs.select(col(idCol),
        graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize).as("__hs"))
      .withColumn("__sig", minHashFromHashes(col("__hs"), numHashes, seed)))
    val cands = lshCandidates(withSig, idCol, bands, numHashes / bands)
    verifyJaccard(cands, withSig.select(col(idCol), col("__hs")), idCol, threshold)
  }

  /** Exact Jaccard on given (a_id, b_id) pairs from per-doc hashed
    * shingle sets (`__hs`: sorted distinct longs from ShingleHashes);
    * keeps pairs ≥ threshold. Joins are on doc id (narrow keys). The
    * per-pair work is a two-pointer merge scan — computed per pair,
    * while the sets themselves were hashed once per doc (64-bit
    * collisions are vanishingly rare and only this verify step sees
    * hashes). A size-compatibility prune —
    * J(A,B) ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|) — drops most
    * candidates before any array is touched.
    */
  def verifyJaccard(pairs: DataFrame, hashedSets: DataFrame, idCol: String,
                    threshold: Double): DataFrame =
    verifyJaccardTwoSided(pairs, hashedSets, hashedSets, idCol, threshold)

  /** [[verifyJaccard]] with distinct left/right set frames — the
    * asymmetric (query-vs-corpus) case.
    */
  def verifyJaccardTwoSided(pairs: DataFrame, aHashedSets: DataFrame,
                            bHashedSets: DataFrame, idCol: String,
                            threshold: Double): DataFrame = {
    // pass 1 on NARROW rows: join set sizes (8 bytes) and apply the
    // size-compatibility bound — only survivors ever touch an array
    val aSizes = aHashedSets.select(col(idCol), size(col("__hs")).as("__n"))
    val bSizes = bHashedSets.select(col(idCol), size(col("__hs")).as("__n"))
    // ε-slack on the size bound: t·max computed in double can exceed the
    // exact product by one ulp (0.8·35 = 28.000000000000004), which
    // would prune a pair with J exactly at threshold. Slack only ADMITS
    // candidates — the exact Jaccard below keeps correctness.
    val compat = pairs
      .join(aSizes.select(col(idCol).as("a_id"), col("__n").as("__na")), "a_id")
      .join(bSizes.select(col(idCol).as("b_id"), col("__n").as("__nb")), "b_id")
      .where(greatest(col("__na"), col("__nb")) * threshold <=
        least(col("__na"), col("__nb")) + lit(1e-9))
    verifySized(compat, aHashedSets, bHashedSets, idCol, threshold)
  }

  /** The array half of [[verifyJaccardTwoSided]]: exact Jaccard on
    * `(a_id, b_id, __na, __nb)` pairs that already carry both set sizes
    * and passed the size bound.
    */
  private def verifySized(compat: DataFrame, aHashedSets: DataFrame,
                          bHashedSets: DataFrame, idCol: String,
                          threshold: Double): DataFrame = {
    val aSets = aHashedSets.select(col(idCol).as("a_id"), col("__hs").as("__hsa"))
    val bSets = bHashedSets.select(col(idCol).as("b_id"), col("__hs").as("__hsb"))
    compat.join(aSets, "a_id").join(bSets, "b_id")
      .withColumn("__inter",
        graft.functions.ArrayExprs.sortedIntersectCount(col("__hsa"), col("__hsb")))
      .withColumn("jaccard",
        col("__inter").cast("double") /
          (col("__na") + col("__nb") - col("__inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup via an inverted-index join, with two
    * strategies — both exact, different cost shapes:
    *
    *  - `"count"` (default): full postings self-join on the shingle
    *    hash, count shared shingles per pair map-side, then Jaccard
    *    from the counts. Everything that moves is a 24-byte
    *    (shingle, id) / (a, b, count) row — no arrays ever transit the
    *    joins. Cost ≈ Σ_s f(s)² narrow rows: best when no shingle is
    *    shared by a large fraction of the corpus.
    *  - `"prefix"`: PPJoin-style prefix filtering — order each doc's
    *    shingles by global rarity; a pair with J ≥ t must share one of
    *    its first `|X| − ⌈t·|X|⌉ + 1` shingles, so only those postings
    *    are joined — and the join itself applies the exact PPJoin
    *    position bound (`1 + min(|A|−i, |B|−j) ≥ ⌈t/(1+t)·(|A|+|B|)⌉`
    *    for the rarest shared shingle at ranks i, j) plus the size
    *    bound (`t·max ≤ min`) BEFORE the candidate distinct, so most
    *    false candidates die inside the join instead of transiting the
    *    dedup shuffle. Verification merge-scans the full hashed sets.
    *    Kills the f² term on Zipfian corpora where a few stop-shingles
    *    are everywhere (the 100 TB text shape).
    *
    * Either way, no false negatives and the reported Jaccard is exact.
    *
    * `maxDocFreqFraction` (prefix strategy only): drop prefix postings
    * whose shingle appears in more than that fraction of documents from
    * the candidate join — the stop-shingle cut that is MANDATORY at
    * 100 TB (one shingle in 10% of a billion docs is a 10^16-pair join).
    * Each document unconditionally keeps its single rarest posting, so
    * a pair can be missed ONLY if every shingle it shares inside both
    * rarity-ordered prefixes is corpus-wide hot AND the docs disagree on
    * their rarest shingle — i.e. docs whose distinguishing content is
    * entirely stopwords, which is [[nearDupMinHash]] territory. With
    * `None` (default) the operator is exact with no caveat.
    *
    * `maxCountDocFreq` (count strategy only): the full postings
    * self-join costs Σ f(s)² pairs — quadratic in each shingle's
    * document frequency, so ONE viral shingle (f = 10⁶ docs) is a
    * 10¹²-pair join on its own. Like
    * [[Similarity.bruteForceTopK]]'s `maxExactRows`, the guard turns
    * that silent scale-killer into an immediate error: the hottest
    * shingle's df is checked (a map-side-combined agg, cheap next to
    * the join it gates) and the error routes to the prefix strategy,
    * whose `maxDocFreqFraction` cut handles Zipfian tails by design.
    * Raise it deliberately for verification runs on small corpora.
    */
  def nearDupNgramJaccard(docs: DataFrame, idCol: String = "doc_id",
                          textCol: String = "text", shingleSize: Int = 2,
                          threshold: Double = 0.7,
                          strategy: String = "prefix",
                          maxDocFreqFraction: Option[Double] = None,
                          maxCountDocFreq: Long = 10000L,
                          mat: CurationChain.StageMaterializer =
                            CurationChain.LocalCheckpointMaterializer): DataFrame = {
    // the hashed-set frame feeds every branch of either strategy —
    // postings (twice: docFreq + the candidate join), sizes, and the
    // exact verify's array joins — so an unmaterialized lineage
    // re-shingles the corpus up to ~8× (the q13 plan showed 16 shingle
    // projections over 20 scans). One cut computes it once; the HOW is
    // the injectable StageMaterializer seam (default localCheckpoint).
    val hs = mat("jaccard_hashed_sets")(docs.select(col(idCol),
        graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize).as("__hs")))
    val postings = hs.select(col(idCol), explode(col("__hs")).as("__s"))
    strategy match {
      case "count" =>
        val hottest = postings.groupBy("__s").agg(count(lit(1)).as("__df"))
          .agg(max(col("__df"))).collect()(0)
        val fMax = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
        require(fMax <= maxCountDocFreq,
          s"nearDupNgramJaccard(strategy=count) self-joins every posting list and got a " +
            s"shingle in $fMax documents (maxCountDocFreq=$maxCountDocFreq): that one list " +
            s"alone is a ${fMax}²-pair join — use strategy=prefix (with maxDocFreqFraction " +
            "for Zipfian corpora), or raise maxCountDocFreq deliberately")
        val sizes = hs.select(col(idCol), size(col("__hs")).as("__n"))
        val inter = postings.select(col("__s"), col(idCol).as("a_id"))
          .join(postings.select(col("__s"), col(idCol).as("b_id")), Seq("__s"))
          .where(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("__inter"))
        inter
          .join(sizes.select(col(idCol).as("a_id"), col("__n").as("__na")), "a_id")
          .join(sizes.select(col(idCol).as("b_id"), col("__n").as("__nb")), "b_id")
          .withColumn("jaccard",
            col("__inter").cast("double") /
              (col("__na") + col("__nb") - col("__inter")).cast("double"))
          .where(col("jaccard") >= threshold)
          .select("a_id", "b_id", "jaccard")
      case "prefix" =>
        import org.apache.spark.sql.expressions.Window
        val byRarity = Window.partitionBy(col(idCol))
          .orderBy(col("__df").asc, col("__s").asc)
        // |X| = the doc's posting count (shingleHashes is sorted
        // DISTINCT, so count ≡ size(__hs)) — RIDES THE EXPLODE as
        // size(__hs), 8 bytes per posting row. The r20 shape computed
        // it as a count(*) window over the per-doc partition, which
        // shared the rank's exchange but still buffered every posting
        // row through a second WindowExec pass; before that, a
        // doc-grain sizes join re-exchanged the whole frame. Carrying
        // the size through the explode costs neither (guide §2.3/§2.4).
        // The document frequency likewise needs no aggregate + join:
        // count(*) over the per-shingle partition IS df, on the same
        // exchange the join's probe side would have paid — minus the
        // aggregate branch, both SMJ sorts and the merge (guide §2.4).
        val prefixAll = hs
          .select(col(idCol), size(col("__hs")).as("__n"),
            explode(col("__hs")).as("__s"))
          .withColumn("__df",
            count(lit(1)).over(Window.partitionBy(col("__s"))))
          .withColumn("__rn", row_number().over(byRarity))
          .where(col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
        val prefix = (maxDocFreqFraction match {
          case Some(frac) =>
            // stop-shingle cut: hot postings leave the join; rank-1 stays
            val nDocs = hs.agg(count(lit(1)).as("__ndocs"))
            prefixAll.crossJoin(broadcast(nDocs))
              .where(col("__df") <= col("__ndocs") * frac || col("__rn") === 1)
          case None => prefixAll
        }).select(col("__s"), col(idCol), col("__rn"), col("__n"))
        // the candidate join consumes the prefix frame on BOTH sides
        // with different projections, so the rarity window (df agg +
        // join + per-doc row_number) would run twice; cut it once —
        // prefix rows are the pruned postings subset, narrow by
        // construction (same seam as the hashed-set cut above)
        val prefixCut = mat("jaccard_prefix")(prefix)
        // PPJoin position bound: for the RAREST shared shingle at ranks
        // (i, j), overlap ≤ 1 + min(|A|−i, |B|−j); J ≥ t needs overlap
        // ≥ ⌈t/(1+t)·(|A|+|B|)⌉ — a qualifying pair always passes on
        // its rarest shared row, so filtering rows then distinct-ing
        // pairs loses nothing (exact). The bound is ONLY valid at the
        // rarest shared row, so it must not combine with the df cut
        // (which may remove exactly that row): with maxDocFreqFraction
        // set, candidates rely on the size bound alone.
        val joined = prefixCut.select(col("__s"), col(idCol).as("a_id"),
            col("__rn").as("__rna"), col("__n").as("__na"))
          .join(prefixCut.select(col("__s"), col(idCol).as("b_id"),
            col("__rn").as("__rnb"), col("__n").as("__nb")), Seq("__s"))
          .where(col("a_id") < col("b_id"))
          // ε-slack on both bounds (see verifyJaccard): double rounding
          // must never over-require — e.g. ceil(0.8/1.8·63) computes 29
          // where the exact requirement is 28, silently dropping a pair
          // with J exactly 0.8. Slack only admits candidates; the exact
          // verify filters them.
          .where(greatest(col("__na"), col("__nb")) * threshold <=
            least(col("__na"), col("__nb")) + lit(1e-9))
        val bounded =
          if (maxDocFreqFraction.isEmpty)
            joined.where(
              lit(1) + least(col("__na") - col("__rna"), col("__nb") - col("__rnb")) >=
                ceil(lit(threshold / (1.0 + threshold)) * (col("__na") + col("__nb")) - lit(1e-9)))
          else joined
        // both sizes ride the candidate distinct (they are functions of
        // the ids) and the size bound already ran inside the join, so
        // the verify skips its size pass
        val cands = bounded.select("a_id", "b_id", "__na", "__nb").distinct()
        verifySized(cands, hs, hs, idCol, threshold)
      case other =>
        throw new IllegalArgumentException(s"unknown strategy '$other' (count|prefix)")
    }
  }

  /** DIRECTED shingle-set CONTAINMENT pairs: `(a_id, b_id,
    * containment)` where containment = |S(a) ∩ S(b)| / |S(a)| — the
    * fraction of a's distinct `shingleSize`-gram shingles that also
    * appear in b. Catches the asymmetric duplication symmetric Jaccard
    * (q13) structurally misses: a short document wholly quoted inside
    * a long one scores containment ≈ 1 while its Jaccard is ≈
    * |A|/|B| — arbitrarily far below any Jaccard threshold. This is
    * the subset-duplicate / quotation detector of curation pipelines.
    * Both directions are emitted independently (a-in-b and b-in-a each
    * judged against `threshold`); self-pairs never appear.
    *
    * Exact and oracle-comparable: integer intersection and set sizes,
    * one final IEEE division. Fingerprint aliasing as in
    * [[nearDupNgramJaccard]] (64-bit shingle hashes, P ≈ n²/2⁶⁵).
    *
    * Scale shape: a postings self-join on the 8-byte shingle hash —
    * only 16-byte (hash, id) rows transit — then a pair-count
    * aggregate and two narrow size joins. Cost is Σ_s f(s)² like the
    * count strategy of [[nearDupNgramJaccard]], and the same viral-
    * shingle guard applies: PPJoin-style prefix pruning is NOT valid
    * for containment (the prefix bound assumes symmetric Jaccard), so
    * at Zipfian 100 TB scale pre-drop corpus-wide stop shingles from
    * BOTH sides (which redefines the shingle universe, uniformly for
    * every pair) before calling — the guard routes there loudly
    * instead of letting one hot shingle cost f² pairs silently.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", shingleSize: Int = 3,
                       threshold: Double = 0.9,
                       maxCountDocFreq: Long = 10000L,
                       mat: CurationChain.StageMaterializer =
                         CurationChain.LocalCheckpointMaterializer): DataFrame =
    containmentPairsWithSizes(docs, idCol, textCol, shingleSize, threshold,
      maxCountDocFreq, mat)
      .select("a_id", "b_id", "containment")

  /** [[containmentPairs]] plus the two shingle-set sizes (`__na` of the
    * contained side, `__nb` of the containing side) — the internal
    * shape [[dedupContained]]'s absorption policy needs.
    */
  private def containmentPairsWithSizes(docs: DataFrame, idCol: String,
                                        textCol: String, shingleSize: Int,
                                        threshold: Double,
                                        maxCountDocFreq: Long,
                                        mat: CurationChain.StageMaterializer): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    // Materialized once: the projection feeds five plan branches (the
    // eager fMax guard, both sides of the postings self-join, and two
    // size joins) — unmaterialized, each branch re-shingles the whole
    // corpus from `docs`. The guard aggregate below already makes this
    // operator eager, so the default cut adds no new job, it just
    // stops the 5× lineage recompute; the HOW is the injectable
    // StageMaterializer seam (same trade as CurationChain.mat).
    val hs = mat("containment_hashed_sets")(docs.select(col(idCol),
        graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize).as("__hs")))
    val postings = hs.select(col(idCol), explode(col("__hs")).as("__s"))
    val hottest = postings.groupBy("__s").agg(count(lit(1)).as("__df"))
      .agg(max(col("__df"))).collect()(0)
    val fMax = if (hottest.isNullAt(0)) 0L else hottest.getLong(0)
    require(fMax <= maxCountDocFreq,
      s"containmentPairs self-joins every posting list and got a shingle in $fMax " +
        s"documents (maxCountDocFreq=$maxCountDocFreq): that one list alone is a " +
        s"${fMax}²-pair join — drop corpus-wide stop shingles from the shingle " +
        "universe first, or raise maxCountDocFreq deliberately")
    val sizes = hs.select(col(idCol), size(col("__hs")).as("__n"))
    val inter = postings.select(col("__s"), col(idCol).as("a_id"))
      .join(postings.select(col("__s"), col(idCol).as("b_id")), Seq("__s"))
      .where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("__inter"))
    val withSizes = inter
      .join(sizes.select(col(idCol).as("a_id"), col("__n").as("__na")), "a_id")
      .join(sizes.select(col(idCol).as("b_id"), col("__n").as("__nb")), "b_id")
    // both directions from ONE pass over the pair frame: the previous
    // unionAll consumed `withSizes` twice, re-running the postings
    // self-join merge, the pair aggregate and both size joins per
    // branch (ReuseExchange shares only the exchanges, not the sorts/
    // joins/final aggs above them). An explode of the two directed
    // rows emits the identical row set with the subtree executed once.
    withSizes.select(explode(array(
        struct(col("a_id"), col("b_id"),
          (col("__inter").cast("double") / col("__na").cast("double"))
            .as("containment"),
          col("__na"), col("__nb")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"),
          (col("__inter").cast("double") / col("__nb").cast("double"))
            .as("containment"),
          col("__nb").as("__na"), col("__na").as("__nb")))).as("__dir"))
      .select(col("__dir.a_id").as("a_id"), col("__dir.b_id").as("b_id"),
        col("__dir.containment").as("containment"),
        col("__dir.__na").as("__na"), col("__dir.__nb").as("__nb"))
      .where(col("containment") >= threshold)
  }

  /** CONTAINMENT DEDUP — the keep-superset policy over
    * [[containmentPairs]]: drop every document absorbed by a STRICTLY
    * LARGER document (more distinct shingles; equal sizes tie-break to
    * the lower id, so two mutually-contained near-copies keep exactly
    * one). Absorption is judged against ANY absorber, surviving or
    * not: if a ⊑ b and b ⊑ c, both a and b drop and c stays — the
    * conservative choice (the dropped content is still ≥ τ-covered by
    * SOME kept document through the size ordering, since absorption
    * chains are acyclic: sizes strictly decrease or ids strictly
    * increase along a chain). Returns the surviving rows of `docs`
    * unchanged.
    *
    * Scale shape: [[containmentPairs]]'s postings join produces the
    * absorbed-id set (8-byte keys), then one anti join back to `docs`
    * — the corpus transits once.
    */
  def dedupContained(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", shingleSize: Int = 3,
                     threshold: Double = 0.9,
                     maxCountDocFreq: Long = 10000L,
                     mat: CurationChain.StageMaterializer =
                       CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val absorbed = containmentPairsWithSizes(docs, idCol, textCol, shingleSize,
        threshold, maxCountDocFreq, mat)
      .where(col("__nb") > col("__na") ||
        (col("__nb") === col("__na") && col("b_id") < col("a_id")))
      .select(col("a_id").as(idCol))
      .distinct()
    docs.join(absorbed, Seq(idCol), "left_anti")
  }

  /** Per-document CONTAMINATION FRACTION against a benchmark corpus:
    * the share of a document's token positions covered by some
    * `spanTokens`-token window that appears verbatim in the benchmark.
    * [[graft.ext.TextOps.contamination]] counts shared shingles (a
    * drop/keep signal); this measures HOW MUCH of each document is
    * benchmark text — the per-document contamination-rate statistic
    * training-data audits report, and the graded sibling of
    * [[boilerplateFraction]] with the flagged-span set coming from an
    * external corpus instead of cross-document duplication.
    * Exact integers until one final IEEE division — oracle-comparable.
    *
    * Scale shape: the corpus side explodes to one (id, pos, 8-byte
    * hash) row per token position; the benchmark span set — eval sets
    * are tiny next to a training corpus — is distinct-ed and BROADCAST
    * into a semi join, so the corpus never shuffles for the match;
    * position coverage is then the row-local interval union of the
    * flagged windows' per-doc sorted starts. Matching on 64-bit
    * hashes can only ever over-count (aliasing P ≈ n²/2⁶⁵) —
    * conservative in the safe direction for contamination.
    */
  def contaminationFraction(docs: DataFrame, benchmark: DataFrame,
                            spanTokens: Int, idCol: String = "doc_id",
                            textCol: String = "text",
                            benchTextCol: String = "text"): DataFrame = {
    require(spanTokens > 0, "spanTokens must be positive")
    val w = docs.select(col(idCol),
      posexplode(graft.functions.ArrayExprs.tokenWindowHashes(col(textCol), spanTokens))
        .as(Seq("pos", "__h")))
    val flagged = benchmark.select(
        explode(graft.functions.ArrayExprs.tokenWindowHashes(col(benchTextCol), spanTokens))
          .as("__h"))
      .distinct()
    // covered positions = interval union of the flagged [s, s+w)
    // windows, row-local over the per-doc sorted starts (MergedRuns) —
    // the same integers the former per-position explode + distinct
    // produced, without the explode or its distinct shuffle
    val covered = w.join(broadcast(flagged), Seq("__h"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
      .select(col(idCol),
        aggregate(
          graft.functions.SpanExprs.mergedRuns(col("__starts"), lit(spanTokens)),
          lit(0L), (a, r) => a + r.getField("len")).as("__covered"))
    docs.withColumn("n_tokens", size(TextOps.tokens(col(textCol))).cast("long"))
      .join(covered, Seq(idCol), "left")
      .withColumn("contaminated_frac",
        coalesce(col("__covered"), lit(0L)).cast("double") / col("n_tokens").cast("double"))
      .drop("__covered")
  }

  /** Incremental near-dup: match NEW documents against an EXISTING
    * corpus (the ingest-time dedup — "is this incoming doc a near-copy
    * of anything we already hold?"). Same MinHash-LSH machinery as
    * [[nearDupMinHash]], but the band join is asymmetric
    * (query side × corpus side), so cost scales with
    * |new| · bands + collisions, never with |corpus|²; the corpus
    * banding is a pure scan that a real deployment computes once and
    * keeps as its index. Output: (a_id = query, b_id = corpus,
    * jaccard), exact-verified — ids may overlap between frames, pairs
    * are cross-frame only.
    */
  def nearDupMinHashAgainst(queryDocs: DataFrame, corpus: DataFrame,
                            idCol: String = "doc_id", textCol: String = "text",
                            shingleSize: Int = 3, threshold: Double = 0.8,
                            numHashes: Int = 128, bands: Int = 32,
                            seed: Long = 0xC0FFEE): DataFrame =
    nearDupMinHashAgainstIndex(queryDocs,
      minHashIndex(corpus, idCol, textCol, shingleSize, numHashes, bands, seed),
      idCol, textCol, shingleSize, threshold, numHashes, bands, seed)

  /** Build the PERSISTABLE MinHash-LSH corpus index for incremental
    * dedup: one row per corpus document with its hashed shingle set
    * (`__hs` — what the exact verify needs) and its banded signature
    * (`__bands` — what candidate generation needs). Write it as
    * parquet and probe it forever with
    * [[nearDupMinHashAgainstIndex]] — at 100 TB the banding IS the
    * index, and re-deriving it per ingest batch (a full corpus scan +
    * signature pass) is the cost this removes; the probe then touches
    * the corpus only through the index columns.
    *
    * The index is parameter-bound: probes must use the same
    * (shingleSize, numHashes, bands, seed) or candidates are garbage —
    * keep them with the index path like any model artifact.
    */
  def minHashIndex(corpus: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", shingleSize: Int = 3,
                   numHashes: Int = 128, bands: Int = 32,
                   seed: Long = 0xC0FFEE): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    corpus.select(col(idCol),
        graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize).as("__hs"))
      .withColumn("__sig", minHashFromHashes(col("__hs"), numHashes, seed))
      .select(col(idCol), col("__hs"),
        lshBands(col("__sig"), bands, numHashes / bands).as("__bands"))
  }

  /** Incremental near-dup probe against a PRE-BUILT corpus index (see
    * [[minHashIndex]]): the query batch is shingled/signed/banded with
    * the SAME parameters, candidates come from the asymmetric band
    * equi-join (query bands × index bands — cost ∝ ǀbatchǀ·bands +
    * collisions, the corpus never re-hashes), and the exact Jaccard
    * verify reads the index's stored shingle sets. Output:
    * (a_id = query, b_id = corpus, jaccard), exact-verified —
    * identical to [[nearDupMinHashAgainst]] by construction (that
    * operator IS this probe against a just-built index).
    */
  def nearDupMinHashAgainstIndex(queryDocs: DataFrame, index: DataFrame,
                                 idCol: String = "doc_id", textCol: String = "text",
                                 shingleSize: Int = 3, threshold: Double = 0.8,
                                 numHashes: Int = 128, bands: Int = 32,
                                 seed: Long = 0xC0FFEE,
                                 mat: CurationChain.StageMaterializer =
                                   CurationChain.LocalCheckpointMaterializer): DataFrame = {
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    // the batch's hashed-set frame feeds banding + the two-sided verify
    // (sizes + sets) — cut it once so the batch shingles once, not 3×
    // (batch-scale blocks; the corpus index side stays a parquet
    // probe); the cut policy is the injectable StageMaterializer seam
    val qh = mat("probe_hashed_sets")(queryDocs.select(col(idCol),
        graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize).as("__hs")))
    val qBanded = bandedRows(
      qh.withColumn("__sig", minHashFromHashes(col("__hs"), numHashes, seed)),
      idCol, bands, numHashes / bands)
    val cBanded = index
      .select(col(idCol), explode(col("__bands")).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"), col("b.band_hash").as("band_hash"))
    val cands = qBanded.select(col("band_idx"), col("band_hash"), col(idCol).as("a_id"))
      .join(cBanded.select(col("band_idx"), col("band_hash"), col(idCol).as("b_id")),
        Seq("band_idx", "band_hash"))
      .select("a_id", "b_id")
      .distinct()
    verifyJaccardTwoSided(cands, qh, index.select(col(idCol), col("__hs")), idCol, threshold)
  }

  /** Materialize the near-dup PAIR GRAPH once and share it: computes
    * [[nearDupMinHash]] and writes (a_id, b_id, jaccard) to `path` as
    * parquet. Downstream consumers — [[dedupNearDups]] (keep lowest
    * id), [[dedupNearDupsBest]] (keep best by score), audits — all
    * accept a `pairs` frame, so one signature+banding+verify job
    * serves every policy instead of each consumer re-deriving the
    * identical pipeline (the q23/q44 shape: same pair set, different
    * keep policy). At 100 TB the pair graph is the expensive artifact;
    * persist it next to the [[minHashIndex]].
    */
  def writePairGraph(docs: DataFrame, path: String, idCol: String = "doc_id",
                     textCol: String = "text", shingleSize: Int = 3,
                     threshold: Double = 0.8, numHashes: Int = 128,
                     bands: Int = 32, seed: Long = 0xC0FFEE): Unit =
    nearDupMinHash(docs, idCol, textCol, shingleSize, threshold, numHashes, bands, seed)
      .write.mode("overwrite").parquet(path)

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash over tokens (with multiplicity), kept as four
    * 16-bit chunk ints: chunked storage both sidesteps ANSI-mode signed
    * overflow when packing bit 63 and IS the dedup index — by
    * pigeonhole, two signatures within Hamming distance 3 agree on at
    * least one of the 4 chunks, so candidate generation is an equi-join
    * on (chunk_idx, chunk_value), never all-pairs. The 64-bit weight
    * accumulation runs as a native tight-loop expression
    * (graft.functions.SimHashChunks64).
    */
  def simHashChunks(text: Column): Column =
    graft.functions.ArrayExprs.simHashChunks(
      transform(TextOps.tokens(text), t => xxhash64(t)))

  /** Hamming distance between two chunked signatures — a native
    * codegen expression ([[graft.functions.ArrayExprs.chunkHamming]]):
    * the interpreted `aggregate(zip_with(bit_count(^)))` HOF chain it
    * replaces ran TWICE per candidate (Catalyst inlines the verify
    * into the chunk-join condition and again in the project) and broke
    * whole-stage codegen in the hottest loop of every signature
    * family. Same null contract (length mismatch → NULL).
    */
  def hammingDistance(a: Column, b: Column): Column =
    graft.functions.ArrayExprs.chunkHamming(a, b)

  /** Near-dup pairs by SimHash: chunk-collision candidates, verified by
    * full Hamming distance ≤ maxHamming (exact for maxHamming ≤ 3 with
    * 4 chunks). Output: (a_id, b_id, hamming).
    */
  def nearDupSimHash(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", maxHamming: Int = 3): DataFrame =
    nearDupChunkSigs(
      docs.select(col(idCol), simHashChunks(col(textCol)).as("__sig")),
      idCol, "__sig", maxHamming)

  /** Near-dup pairs from PRE-COMPUTED 64-bit signatures in the 4×16-bit
    * chunk layout — the signature-agnostic core of [[nearDupSimHash]],
    * shared with any other 64-bit fingerprint family (e.g. the
    * perceptual image dHash, [[Multimodal.dHash]]): by pigeonhole, two
    * signatures within Hamming distance 3 agree on at least one chunk,
    * so candidates come from an equi-join on (chunk_idx, chunk_value),
    * never all-pairs; every candidate is verified by full Hamming
    * distance. The 8-byte join key (chunk_idx, chunk_value ints) is
    * all that shuffles besides the two 16-byte signature arrays.
    */
  def nearDupChunkSigs(sigs: DataFrame, idCol: String, sigCol: String,
                       maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk index is only complete for Hamming distance <= 3")
    val chunks = sigs.select(col(idCol), col(sigCol).as("__sig"),
        posexplode(col(sigCol)).as(Seq("chunk_idx", "chunk_value")))
    val a = chunks.select(col("chunk_idx"), col("chunk_value"),
      col(idCol).as("a_id"), col("__sig").as("__siga"))
    val b = chunks.select(col("chunk_idx"), col("chunk_value"),
      col(idCol).as("b_id"), col("__sig").as("__sigb"))
    a.join(b, Seq("chunk_idx", "chunk_value"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hammingDistance(col("__siga"), col("__sigb")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** The PERSISTABLE SimHash corpus index: one row per document with
    * its 4×16-bit chunk signature — 16 bytes + id, the text itself
    * never lands. Write as parquet and probe forever with
    * [[nearDupSimHashAgainstIndex]]: the SimHash face of the
    * build-once/probe-forever split ([[minHashIndex]], `exactIndex`,
    * [[Multimodal.dHash]] + `sharedImageSigIndex`).
    */
  def simHashIndex(corpus: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    corpus.select(col(idCol), simHashChunks(col(textCol)).as("__sig"))

  /** Incremental SimHash near-dup probe: the query batch is hashed
    * fresh, candidates and verification run through the asymmetric
    * chunk join against the stored index signatures — cost ∝
    * |batch|·4 + collisions, the corpus text is never re-read.
    * Output: (a_id = query, b_id = corpus, hamming ≤ maxHamming).
    */
  def nearDupSimHashAgainstIndex(queryDocs: DataFrame, index: DataFrame,
                                 idCol: String = "doc_id", textCol: String = "text",
                                 maxHamming: Int = 3): DataFrame =
    nearDupChunkSigsAgainstIndex(
      queryDocs.select(col(idCol), simHashChunks(col(textCol)).as("__sig")),
      index, idCol, "__sig", maxHamming)

  /** Incremental chunk-signature probe against a PRE-BUILT signature
    * index — the build-once/probe-forever shape for EVERY 64-bit
    * fingerprint family ([[nearDupSimHash]] text, [[Multimodal.dHash]]
    * images): the corpus signatures
    * live as parquet (16 bytes + id per asset — the payloads
    * themselves never re-read), the query batch brings its own
    * signatures, and candidates come from the asymmetric chunk
    * equi-join — cost ∝ |batch|·4 + collisions, never |corpus|.
    * Output: (a_id = query, b_id = corpus, hamming ≤ maxHamming),
    * complete for maxHamming ≤ 3 by the pigeonhole argument. Ids
    * shared between the frames are treated as the same asset (the
    * self-match is excluded), so probing a corpus against its own
    * index reproduces [[nearDupChunkSigs]] exactly (up to the a<b
    * canonicalization, which the caller applies when ids overlap).
    */
  def nearDupChunkSigsAgainstIndex(querySigs: DataFrame, indexSigs: DataFrame,
                                   idCol: String, sigCol: String,
                                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk index is only complete for Hamming distance <= 3")
    val q = querySigs.select(col(idCol).as("a_id"), col(sigCol).as("__siga"),
      posexplode(col(sigCol)).as(Seq("chunk_idx", "chunk_value")))
    val c = indexSigs.select(col(idCol).as("b_id"), col(sigCol).as("__sigb"),
      posexplode(col(sigCol)).as(Seq("chunk_idx", "chunk_value")))
    q.join(c, Seq("chunk_idx", "chunk_value"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"),
        hammingDistance(col("__siga"), col("__sigb")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ---- exact-substring dedup (arbitrary-boundary duplicated runs) ----
  //
  // The published training-data dedup family the fixed-shingle span ops
  // ([[duplicatedSpans]], [[boilerplateFraction]], [[stripBoilerplate]])
  // deliberately do not cover: a duplicated token run is flagged
  // wherever it starts and however long it is — the "ExactSubstr"
  // recipe of Lee et al. 2022, "Deduplicating Training Data Makes
  // Language Models Better" (their released pipeline builds a global
  // suffix array, finds duplicated byte ranges of length ≥ 50, MERGES
  // overlapping ranges, and cuts them, keeping one occurrence).
  //
  // Semantics here (per-UNIT, exactly SQL-replayable; the unit is a
  // token for q109/q110's oracles or a CHARACTER for the published
  // 50-byte-threshold semantics — [[duplicatedCharRegions]] /
  // [[stripExactCharSubstrings]]): position q of a document is
  // DUPLICATED iff some `minUnits`-unit
  // window covering q occurs at least twice in the corpus — another
  // document or another offset of the same one. This is equivalent to
  // "q lies inside some exact duplicated substring of ≥ minTokens
  // tokens" (such a substring contributes all its windows twice;
  // conversely a twice-occurring window IS such a substring). Maximal
  // runs of duplicated positions are the reported REGIONS: every
  // region is ≥ minTokens long, and adjacent/overlapping duplicated
  // substrings merge into one region — possibly chaining matches
  // against DIFFERENT partners, which is precisely the range-merge the
  // published recipe performs before cutting.
  //
  // Scale shape — seed-anchored, never a global suffix array and never
  // a document-pair join: ONE shuffle of (64-bit window hash, doc, pos)
  // rows builds per-window occurrence stats with map-side partial
  // aggregation (the corpus text never shuffles); ONE equi-join flags
  // each window occurrence against its single stat row (a viral
  // boilerplate window costs f matched rows, never f²; AQE splits the
  // hot partition); coverage is the INTERVAL UNION of the flagged
  // [s, s+w) windows — the flagged starts aggregate to one sorted int
  // array per affected document and the merge/splice runs ROW-LOCALLY
  // ([[graft.functions.MergedRuns]]/[[graft.functions.CutRuns]]), so
  // after the stat join nothing is ever exploded per unit position
  // (the former sliding-max formulation paid one row per token/char).
  // Window equality is by 64-bit content hash (aliasing P ≈ n²/2⁶⁵,
  // the repo-wide fingerprint caveat); all other arithmetic is
  // integer-exact.

  /** The exact-substring family's UNIT: how a document decomposes into
    * positions (tokens or characters), how fixed-width windows over
    * those positions spell, and how survivors rejoin (empty `sep` =
    * char mode). Token mode is the SQL-friendliest (q109/q110); char
    * mode is the published recipe's native granularity (Lee et al.'s
    * 50-byte threshold).
    */
  private final case class SubstrUnit(
      windowHashes: (Column, Int) => Column, // in-place xxhash64 per window start
      mode: String, // CutRuns unit: "token" | "char"
      cutCol: String)
  private val TokenUnit =
    SubstrUnit(graft.functions.ArrayExprs.tokenWindowHashes, "token", "n_cut_tokens")
  private val CharUnit =
    SubstrUnit(graft.functions.ArrayExprs.charWindowHashes, "char", "n_cut_chars")

  /** Per-window occurrence rows: one (id, pos, 8-byte hash) per full
    * `minUnits`-unit window — the shared seed pass of
    * [[duplicatedSubstringRegions]] and [[stripExactSubstrings]].
    */
  private def substringWindows(docs: DataFrame, minUnits: Int,
                               idCol: String, textCol: String,
                               u: SubstrUnit = TokenUnit): DataFrame =
    docs.select(col(idCol),
      posexplode(u.windowHashes(col(textCol), minUnits)).as(Seq("pos", "__h")))

  /** All maximal duplicated regions: one row `(doc_id, start_pos,
    * region_len)` per maximal run of duplicated token positions
    * (0-based start; see the section comment for the exact semantics
    * and the scale shape). Documents with no duplicated run of
    * ≥ `minTokens` tokens contribute no rows.
    */
  def duplicatedSubstringRegions(docs: DataFrame, minTokens: Int,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 mat: CurationChain.StageMaterializer =
                                   CurationChain.LocalCheckpointMaterializer): DataFrame =
    substringRegionsImpl(docs, minTokens, idCol, textCol, TokenUnit, mat)

  /** [[duplicatedSubstringRegions]] at CHARACTER granularity — the
    * published recipe's native unit (Lee et al. find duplicated BYTE
    * ranges of length ≥ 50 and merge overlaps; the unit here is the
    * Unicode CODE POINT — what Spark's `length`/`substring` count —
    * identical on ASCII corpora). `(doc_id, start_pos, region_len)`
    * are code-point coordinates: a JVM caller slicing the original
    * `String` must convert via `offsetByCodePoints`, NOT
    * `String.substring` char indexes, or astral characters (emoji,
    * rare CJK) shift the cut. The seed-anchored shape carries over
    * verbatim, char windows instead of token shingles.
    */
  def duplicatedCharRegions(docs: DataFrame, minChars: Int = 50,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            mat: CurationChain.StageMaterializer =
                              CurationChain.LocalCheckpointMaterializer): DataFrame =
    substringRegionsImpl(docs, minChars, idCol, textCol, CharUnit, mat)

  private def substringRegionsImpl(docs: DataFrame, minUnits: Int,
                                   idCol: String, textCol: String,
                                   u: SubstrUnit,
                                   mat: CurationChain.StageMaterializer): DataFrame = {
    require(minUnits > 0, "window width must be positive")
    // the occurrence frame feeds both the per-window stat agg and the
    // flag join — cut it once so the window explosion + hashing over
    // the corpus text runs one time, not two (cut policy = the seam)
    val occ = mat("substring_windows")(
      substringWindows(docs, minUnits, idCol, textCol, u))
    val dupStarts = occ.join(
      occ.groupBy("__h").agg(count(lit(1)).as("__n"))
        .where(col("__n") >= 2).select("__h"),
      Seq("__h"), "left_semi")
    // coverage of a start set is the UNION of its [s, s+w) intervals:
    // aggregate the (few) flagged starts per document into one sorted
    // int array and merge ROW-LOCALLY ([[graft.functions.MergedRuns]])
    // — identical regions to the former per-position sliding-max +
    // gaps-and-islands pass, at one row per flagged start instead of
    // one row per unit position (the r13 rewrite that took the char
    // family from per-char exploded windows to start-count work)
    dupStarts.groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
      .select(col(idCol),
        explode(graft.functions.SpanExprs.mergedRuns(
          col("__starts"), lit(minUnits))).as("__r"))
      .select(col(idCol),
        col("__r.start").as("start_pos"), col("__r.len").as("region_len"))
  }

  /** Cut every duplicated region, KEEPING the corpus-wide first
    * occurrence (Lee et al.'s keep-one policy made deterministic): a
    * window occurrence is a REPEAT iff a lexicographically earlier
    * occurrence `(doc, pos)` of the same window exists anywhere, and a
    * token is cut iff a repeat window covers it — so of N copies of a
    * duplicated substring, exactly the (id, pos)-first survives.
    * Returns `docs` with `textCol` rewritten to the surviving tokens
    * (single-space joined; a fully-duplicated later copy becomes the
    * empty string — filter downstream if empty documents should drop)
    * plus an exact `n_cut_tokens` count. Documents with nothing cut
    * keep their text VERBATIM — the rewrite only touches documents
    * that lost tokens, so byte-identical round-trips are the common
    * case, not a tokenize/rejoin approximation.
    */
  def stripExactSubstrings(docs: DataFrame, minTokens: Int,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           mat: CurationChain.StageMaterializer =
                             CurationChain.LocalCheckpointMaterializer): DataFrame =
    stripSubstringsImpl(docs, minTokens, idCol, textCol, TokenUnit, mat)

  /** [[stripExactSubstrings]] at CHARACTER granularity (see
    * [[duplicatedCharRegions]] for the unit rationale): cut every
    * duplicated ≥ `minChars`-char run, keeping the corpus-wide
    * (id, pos)-first occurrence; survivors rejoin with NO separator,
    * so untouched spans keep their exact bytes and untouched documents
    * stay byte-verbatim. Reports `n_cut_chars`.
    */
  def stripExactCharSubstrings(docs: DataFrame, minChars: Int = 50,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               mat: CurationChain.StageMaterializer =
                                 CurationChain.LocalCheckpointMaterializer): DataFrame =
    stripSubstringsImpl(docs, minChars, idCol, textCol, CharUnit, mat)

  private def stripSubstringsImpl(docs: DataFrame, minUnits: Int,
                                  idCol: String, textCol: String,
                                  u: SubstrUnit,
                                  mat: CurationChain.StageMaterializer): DataFrame = {
    require(minUnits > 0, "window width must be positive")
    // same cut as substringRegionsImpl: the stat agg and the repeat
    // join both consume the occurrence frame (cut policy = the seam)
    val occ = mat("substring_windows")(
      substringWindows(docs, minUnits, idCol, textCol, u))
    val repeats = occ.join(
        occ.groupBy("__h")
          .agg(count(lit(1)).as("__n"),
            min(struct(col(idCol), col("pos"))).as("__first"))
          .where(col("__n") >= 2),
        Seq("__h"))
      .where(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
    cutCovered(docs, repeats, minUnits, idCol, textCol, u)
  }

  /** Shared rebuild tail of the substring cutters: cut every unit
    * covered by a window in `repeats` (keyed (idCol, pos)), rejoin the
    * survivors in order, keep untouched documents byte-verbatim, and
    * report exact cut counts.
    *
    * Shape (the r13 rewrite, same as [[substringRegionsImpl]]): repeat
    * starts aggregate to ONE sorted int array per AFFECTED document
    * (ids + ints — no unit-position explode, no text in the
    * aggregation), join back on the 8-byte id, and the splice is a
    * single linear row-local pass ([[graft.functions.CutRuns]]) —
    * byte-identical output to the former explode/sliding-max/
    * collect_list rebuild.
    */
  private def cutCovered(docs: DataFrame, repeats: DataFrame, minUnits: Int,
                         idCol: String, textCol: String,
                         u: SubstrUnit = TokenUnit): DataFrame = {
    val perDoc = repeats.groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__starts"))
    val runs = graft.functions.SpanExprs.mergedRuns(col("__starts"), lit(minUnits))
    val spliced = graft.functions.SpanExprs.cutRuns(col(textCol), runs, u.mode)
    val outCols = docs.columns.map {
      case c if c == textCol =>
        when(col("__starts").isNotNull, spliced.getField("text"))
          .otherwise(col(textCol)).as(textCol)
      case c => col(c)
    } :+ when(col("__starts").isNull, lit(0L))
      .otherwise(spliced.getField("n_cut")).as(u.cutCol)
    docs.join(perDoc, Seq(idCol), "left").select(outCols.toIndexedSeq: _*)
  }

  /** Persisted EXACT-SUBSTRING window index — the build-once/
    * probe-forever sibling every other dedup family already has
    * ([[minHashIndex]], [[simHashIndex]], [[exactIndex]]): one row per
    * distinct `minTokens`-window hash in the corpus with its occurrence
    * count. A few-KB-per-document parquet frame; probe batches against
    * it with [[stripExactSubstringsAgainstIndex]] and fold curated
    * batches back in with [[substringIndexRollForward]] — the corpus
    * text is never rescanned.
    */
  def substringIndex(corpus: DataFrame, minTokens: Int,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    substringIndexImpl(corpus, minTokens, idCol, textCol, TokenUnit)

  /** [[substringIndex]] at CHARACTER granularity — the persisted face
    * of [[stripExactCharSubstrings]]'s family (Lee et al.'s native
    * 50-unit grain; see [[duplicatedCharRegions]] for the code-point
    * unit rationale). Same two-column `(__h, __n)` layout, so the
    * parquet shape, compaction, and probe economics carry over
    * verbatim; `minChars` is a family parameter — keep it with the
    * index path like any model artifact.
    */
  def charSubstringIndex(corpus: DataFrame, minChars: Int = 50,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    substringIndexImpl(corpus, minChars, idCol, textCol, CharUnit)

  private def substringIndexImpl(corpus: DataFrame, minUnits: Int,
                                 idCol: String, textCol: String,
                                 u: SubstrUnit): DataFrame =
    substringWindows(corpus, minUnits, idCol, textCol, u)
      .groupBy("__h").agg(count(lit(1)).as("__n"))

  /** Cut every batch token duplicated AGAINST THE CORPUS: a batch
    * window is a repeat iff its hash exists in the index (the corpus
    * holds the first occurrence by definition — first-seen-wins, the
    * cross-set policy of [[exactAgainst]]/[[nearDupMinHashAgainstIndex]]).
    * Within-batch duplication is deliberately out of scope — run
    * [[stripExactSubstrings]] on the batch first (or after) for that.
    *
    * Scale shape: only the BATCH is tokenized and windowed; the index
    * side is a two-column semi join on 8-byte hashes — probe cost
    * ∝ ǀbatchǀ + matched hashes, never ∝ corpus.
    */
  def stripExactSubstringsAgainstIndex(batch: DataFrame, index: DataFrame,
                                       minTokens: Int,
                                       idCol: String = "doc_id",
                                       textCol: String = "text"): DataFrame =
    stripAgainstIndexImpl(batch, index, minTokens, idCol, textCol, TokenUnit)

  /** [[stripExactSubstringsAgainstIndex]] at CHARACTER granularity:
    * cut every ≥ `minChars`-char run of the batch that exists anywhere
    * in the corpus behind a [[charSubstringIndex]] (first-seen-wins:
    * the corpus holds the first occurrence by definition). Same probe
    * economics — only the batch is windowed, the index side is a
    * two-column semi join on 8-byte hashes. Reports `n_cut_chars`.
    */
  def stripExactCharSubstringsAgainstIndex(batch: DataFrame, index: DataFrame,
                                           minChars: Int = 50,
                                           idCol: String = "doc_id",
                                           textCol: String = "text"): DataFrame =
    stripAgainstIndexImpl(batch, index, minChars, idCol, textCol, CharUnit)

  private def stripAgainstIndexImpl(batch: DataFrame, index: DataFrame,
                                    minUnits: Int, idCol: String,
                                    textCol: String, u: SubstrUnit): DataFrame = {
    require(minUnits > 0, "window width must be positive")
    val repeats = substringWindows(batch, minUnits, idCol, textCol, u)
      .join(index.select("__h"), Seq("__h"), "left_semi")
      .select(col(idCol), col("pos"))
    cutCovered(batch, repeats, minUnits, idCol, textCol, u)
  }

  /** The COMBINED cut the streaming sink needs — exactly the one-shot
    * [[stripExactSubstrings]] keep-first semantics over
    * `history ∪ batch`, restricted to the batch side: a batch window
    * occurrence is a repeat iff its hash exists in `index` (some
    * strictly earlier occurrence) OR an earlier `(id, pos)` twin
    * exists WITHIN the batch; both repeat sets are computed on the
    * batch's ORIGINAL text and cut in ONE coverage pass.
    *
    * Running [[stripExactSubstringsAgainstIndex]] then
    * [[stripExactSubstrings]] sequentially is NOT equivalent: the
    * first cut splices previously-distant units together, so the
    * second pass would window RESPLICED text — cutting runs that never
    * existed and missing in-batch duplicates the first cut rewrote.
    * One union of repeat positions over the original text sidesteps
    * both (StreamingSpec pins stream ≡ batch through this).
    */
  def stripExactSubstringsWithIndex(batch: DataFrame, index: DataFrame,
                                    minTokens: Int,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame =
    stripWithIndexImpl(batch, index, minTokens, idCol, textCol, TokenUnit)

  /** [[stripExactSubstringsWithIndex]] at CHARACTER granularity. */
  def stripExactCharSubstringsWithIndex(batch: DataFrame, index: DataFrame,
                                        minChars: Int = 50,
                                        idCol: String = "doc_id",
                                        textCol: String = "text"): DataFrame =
    stripWithIndexImpl(batch, index, minChars, idCol, textCol, CharUnit)

  private def stripWithIndexImpl(batch: DataFrame, index: DataFrame,
                                 minUnits: Int, idCol: String,
                                 textCol: String, u: SubstrUnit): DataFrame = {
    require(minUnits > 0, "window width must be positive")
    val occ = substringWindows(batch, minUnits, idCol, textCol, u)
    val inBatch = occ.join(
        occ.groupBy("__h")
          .agg(count(lit(1)).as("__n"),
            min(struct(col(idCol), col("pos"))).as("__first"))
          .where(col("__n") >= 2),
        Seq("__h"))
      .where(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
    val inIndex = occ.join(index.select("__h"), Seq("__h"), "left_semi")
      .select(col(idCol), col("pos"))
    // duplicates collapse in cutCovered's collect_set — plain union
    cutCovered(batch, inBatch.unionByName(inIndex), minUnits, idCol, textCol, u)
  }

  /** Fold a (curated) batch's windows into the index: union + one
    * re-aggregation on the 8-byte hash — index-scale work.
    */
  def substringIndexRollForward(index: DataFrame, batch: DataFrame,
                                minTokens: Int, idCol: String = "doc_id",
                                textCol: String = "text"): DataFrame =
    index.unionByName(substringIndex(batch, minTokens, idCol, textCol))
      .groupBy("__h").agg(sum(col("__n")).as("__n"))

  /** [[substringIndexRollForward]] at CHARACTER granularity. */
  def charSubstringIndexRollForward(index: DataFrame, batch: DataFrame,
                                    minChars: Int = 50,
                                    idCol: String = "doc_id",
                                    textCol: String = "text"): DataFrame =
    index.unionByName(charSubstringIndex(batch, minChars, idCol, textCol))
      .groupBy("__h").agg(sum(col("__n")).as("__n"))

  // ---- line-level exact dedup (the C4/RefinedWeb unit) ----
  //
  // The LINE is the published unit of web-crawl boilerplate removal:
  // RefinedWeb/CCNet cut every line whose exact content occurs
  // elsewhere in the corpus (navigation chrome, cookie banners,
  // footers repeat verbatim across pages), and Gopher's repetition
  // rules score per-document duplicate-line and duplicate-line-CHAR
  // fractions. The span operators above cut token windows at fixed or
  // arbitrary boundaries; these cut at the boundary the recipes
  // actually use — `\n`.
  //
  // Keep-first semantics, same determinism as [[stripExactSubstrings]]:
  // of N occurrences of a line (across documents AND positions), the
  // (id, pos)-lexicographic first survives; every other occurrence is
  // removed. Lines shorter than `minChars` are exempt — never counted
  // as duplicates, never cut (empty lines are document structure, not
  // boilerplate; raise minChars to spare short headers too).
  //
  // Scale shape — strictly narrower than the token families: line
  // equality is by 64-bit xxhash64 (the repo-wide fingerprint caveat:
  // aliasing P ≈ n²/2⁶⁵, integer-exact otherwise), so the occurrence
  // stats shuffle (id, pos, 8-byte hash) rows with map-side partial
  // aggregation, never line text. The REBUILD side aggregates the cut
  // positions to one small int-array per AFFECTED document (ids +
  // ints), joins back on the 8-byte id (broadcast when the affected
  // set is small — the common case; an id-keyed hash join otherwise),
  // and rewrites row-locally with a split/filter/join projection — so
  // the only place document text can cross an exchange is that final
  // id-equi-join's docs side, never the dedup logic itself. Documents
  // with nothing cut keep their text byte-VERBATIM.

  /** One (idCol, pos, __len, __h) row per line of every document —
    * `__h` is null for non-qualifying (< `minChars` chars) lines, so
    * downstream joins skip them for free (null keys never match).
    */
  private def lineOccurrences(docs: DataFrame, minChars: Int,
                              idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "__line")))
      .select(col(idCol), col("pos"),
        length(col("__line")).cast("long").as("__len"),
        when(length(col("__line")) >= minChars, xxhash64(col("__line")))
          .as("__h"))

  /** Per-document duplicate-line report (Gopher's repetition lens):
    * `(idCol, n_lines, n_dup_lines, dup_line_frac, dup_char_frac)` —
    * a line occurrence is DUPLICATED iff its exact content occurs ≥ 2
    * times corpus-wide among qualifying (≥ `minChars` chars) lines;
    * every occurrence of such a line counts, including the first.
    * `dup_char_frac` is duplicated-line chars over all-line chars
    * (newlines excluded from both), 0.0 for an all-empty document —
    * integer counts and one IEEE division each, exactly
    * SQL-replayable.
    */
  def duplicateLineStats(docs: DataFrame, minChars: Int = 1,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    val occ = lineOccurrences(docs, minChars, idCol, textCol)
    val dupHashes = occ.where(col("__h").isNotNull)
      .groupBy("__h").agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 2)
    occ.join(dupHashes, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        count(col("__n")).as("n_dup_lines"),
        sum(col("__len")).as("__chars"),
        sum(when(col("__n").isNotNull, col("__len")).otherwise(0L))
          .as("__dup_chars"))
      .select(col(idCol), col("n_lines"), col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"),
        when(col("__chars") === 0L, lit(0.0))
          .otherwise(col("__dup_chars").cast("double") / col("__chars").cast("double"))
          .as("dup_char_frac"))
  }

  /** Corpus-wide duplicate-LINE removal, keep-first (the C4/RefinedWeb
    * recipe): every qualifying line occurrence with a lexicographically
    * earlier `(id, pos)` twin anywhere in the corpus is cut; `textCol`
    * is rewritten to the surviving lines (`\n`-joined — an untouched
    * document keeps its text verbatim) plus an exact `n_cut_lines`.
    * A document whose every line is cut becomes the empty string —
    * filter downstream if empty documents should drop.
    */
  def stripDuplicateLines(docs: DataFrame, minChars: Int = 1,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    val qual = lineOccurrences(docs, minChars, idCol, textCol)
      .where(col("__h").isNotNull)
    val firsts = qual.groupBy("__h")
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("pos"))).as("__first"))
      .where(col("__n") >= 2)
    val cuts = qual.join(firsts, Seq("__h"))
      .where(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
    rebuildCutLines(docs, cuts, idCol, textCol)
  }

  /** Shared rebuild tail of the line cutters: aggregate the cut
    * positions to ONE sorted int-array per affected document (ids +
    * ints — text never shuffles), join back on the id, and splice
    * row-locally in ONE linear pass ([[graft.functions.CutRuns]] at
    * line grain — consecutive cuts merge to width-1 runs first, so a
    * pathological fully-duplicated 100k-line document costs O(lines),
    * not the O(lines × cuts) of a per-line membership probe).
    * Untouched documents keep `textCol` byte-verbatim.
    */
  private def rebuildCutLines(docs: DataFrame, cuts: DataFrame,
                              idCol: String, textCol: String): DataFrame = {
    val perDoc = cuts.groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("__cut_pos"))
    val runs = graft.functions.SpanExprs.mergedRuns(col("__cut_pos"), lit(1))
    val spliced = graft.functions.SpanExprs.cutRuns(col(textCol), runs, "line")
    val nCut = when(col("__cut_pos").isNull, lit(0L))
      .otherwise(size(col("__cut_pos")).cast("long"))
    val outCols = docs.columns.map {
      case c if c == textCol =>
        when(nCut > 0L, spliced.getField("text"))
          .otherwise(col(textCol)).as(textCol)
      case c => col(c)
    } :+ nCut.as("n_cut_lines")
    docs.join(perDoc, Seq(idCol), "left").select(outCols.toIndexedSeq: _*)
  }

  /** Persisted LINE index — the build-once/probe-forever face
    * ([[exactIndex]]/[[substringIndex]] siblings): one `(__h, __n)`
    * row per distinct qualifying line in the corpus. Probe batches
    * with [[stripDuplicateLinesAgainstIndex]]; fold curated batches
    * back in with [[lineIndexRollForward]] — the corpus text is never
    * rescanned.
    */
  def lineIndex(corpus: DataFrame, minChars: Int = 1,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lineOccurrences(corpus, minChars, idCol, textCol)
      .where(col("__h").isNotNull)
      .groupBy("__h").agg(count(lit(1)).as("__n"))

  /** Cut every batch line that already exists in the corpus index (the
    * corpus holds the first occurrence by definition — the cross-set
    * first-seen-wins policy of [[exactAgainst]]). Within-batch
    * duplication is deliberately out of scope — run
    * [[stripDuplicateLines]] on the batch before or after. Probe cost
    * ∝ |batch| lines + matched hashes, never ∝ corpus.
    */
  def stripDuplicateLinesAgainstIndex(batch: DataFrame, index: DataFrame,
                                      minChars: Int = 1,
                                      idCol: String = "doc_id",
                                      textCol: String = "text"): DataFrame = {
    require(minChars >= 0, "minChars must be non-negative")
    val cuts = lineOccurrences(batch, minChars, idCol, textCol)
      .where(col("__h").isNotNull)
      .join(index.select("__h"), Seq("__h"), "left_semi")
      .select(col(idCol), col("pos"))
    rebuildCutLines(batch, cuts, idCol, textCol)
  }

  /** Fold a (curated) batch's lines into the index: union + one
    * re-aggregation on the 8-byte hash — index-scale work.
    */
  def lineIndexRollForward(index: DataFrame, batch: DataFrame,
                           minChars: Int = 1, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame =
    index.unionByName(lineIndex(batch, minChars, idCol, textCol))
      .groupBy("__h").agg(sum(col("__n")).as("__n"))

  /** URL-level dedup — RefinedWeb's STAGE-1 cut, before any content
    * heuristic: of all documents sharing a canonical source-URL key
    * ([[TextOps.canonicalUrlKey]] — fragment/tracking-param/trailing
    * noise removed, scheme+host lowercased, `www.`/default ports
    * stripped, query params sorted), keep the min-`idCol` one. Documents
    * with a NULL or empty `urlCol` are not URL-addressable and are all
    * KEPT (content-level dedup handles them downstream). Returns the
    * kept rows with a `url_key` column appended (null for the
    * non-addressable rows) — the key is the audit trail of WHY a
    * document survived.
    *
    * Scale shape (the [[exact]] discipline): canonicalization is
    * row-local codegen regex; the winner election groups on the
    * 8-byte xxhash64 of the key (the repo-wide fingerprint caveat,
    * P ≈ n²/2⁶⁵), so URL strings never shuffle — the keyed join back
    * is id+hash equi, map-side-combinable min().
    */
  def urlDedup(docs: DataFrame, urlCol: String = "url",
               idCol: String = "doc_id"): DataFrame = {
    val key = when(col(urlCol).isNull || col(urlCol) === "", lit(null))
      .otherwise(graft.ext.TextOps.canonicalUrlKey(col(urlCol)))
    val keyed = docs.withColumn("url_key", key)
      .withColumn("__h", xxhash64(col("url_key")))
    val winners = keyed.where(col("url_key").isNotNull)
      .groupBy("__h").agg(min(col(idCol)).as("__w"))
    keyed.join(winners, Seq("__h"), "left")
      .where(col("url_key").isNull || col(idCol) === col("__w"))
      .drop("__h", "__w")
  }

  /** Persisted URL-KEY index — [[exactIndex]]'s sibling one level
    * earlier in the pipeline: one row per distinct canonical-key hash
    * (`__uh`, the 8-byte xxhash64 of [[TextOps.canonicalUrlKey]] —
    * the repo-wide fingerprint caveat applies). Probe ingest batches
    * with [[urlDedupAgainstIndex]]; the anti-join semantics tolerate
    * duplicate index rows, so rolling forward is append-or-distinct,
    * caller's choice. Rows with a null/empty `urlCol` contribute
    * nothing (they are not URL-addressable).
    */
  def urlKeyIndex(corpus: DataFrame, urlCol: String = "url"): DataFrame =
    corpus.where(col(urlCol).isNotNull && col(urlCol) =!= "")
      .select(xxhash64(graft.ext.TextOps.canonicalUrlKey(col(urlCol))).as("__uh"))
      .distinct()

  /** Incremental URL dedup: keep-first WITHIN the batch
    * ([[urlDedup]]), then drop every survivor whose canonical key
    * already exists in the corpus index (cross-set first-seen-wins,
    * the [[exactAgainst]] policy). Non-addressable rows (null/empty
    * url) always pass. The anti join shuffles 8-byte hashes, never
    * URLs.
    */
  def urlDedupAgainstIndex(batch: DataFrame, index: DataFrame,
                           urlCol: String = "url",
                           idCol: String = "doc_id"): DataFrame = {
    val within = urlDedup(batch, urlCol, idCol)
    // null keys must never hash-match (xxhash64(null) is the non-null
    // seed) — the isNotNull conjunct keeps the anti join exact
    within.join(index,
      col("url_key").isNotNull &&
        xxhash64(col("url_key")) === index("__uh"), "left_anti")
  }
}
