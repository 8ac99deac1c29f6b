package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (beyond-reference scope; plan at SURVEY.md §2c).
  *
  * Everything here is expressed with built-in codegen'd/HOF expressions
  * over a `text` column — no UDFs, no driver-side loops — so each
  * operator is a narrow projection that runs inside whole-stage codegen
  * (or Spark's native HOF interpreter) and scales linearly with
  * documents: no shuffles are introduced by any per-document metric.
  */
object TextOps {

  /** Whitespace tokens of a single-space-normalized text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Characters of scripts written WITHOUT inter-word spaces — Han
    * (URO + extension A + compatibility), Hiragana/Katakana, Thai.
    * Whitespace tokenization silently under-segments these (a whole
    * Chinese sentence reads as ONE "word", so Gopher word stats,
    * packing counts, and decontamination shingles all degrade);
    * [[cjkSegmentText]] is the routing fix. Hangul is excluded:
    * Korean is space-delimited.
    */
  val SpacelessCharClass: String =
    "\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}" +
      "\\x{F900}-\\x{FAFF}\\x{0E00}-\\x{0E7F}"

  /** Mixed-script segmentation: each spaceless-script character is its
    * own token (the standard character-level fallback for Chinese —
    * what n-gram LMs and dedup shingles need to see), while embedded
    * Latin/digit runs stay whole words. Pattern is in the
    * RE2 ∩ Java subset (`\x{…}` class ranges, no lookaround), so the
    * oracle replays it verbatim.
    */
  val CjkSegPattern: String =
    s"[$SpacelessCharClass]|[^\\s$SpacelessCharClass]+"
  def cjkSafeTokens(text: Column): Column =
    regexp_extract_all(text, lit(CjkSegPattern), lit(0))

  /** Languages whose primary subtag routes to character segmentation
    * (zh/ja/th, any region/script suffix).
    */
  val SpacelessLangPattern: String = "^(zh|ja|th)([-_].*)?$"

  /** The per-language tokenizer ROUTING default, as a pre-segmentation
    * step: spaceless-script documents are re-spaced on
    * [[cjkSafeTokens]] boundaries so EVERY downstream whitespace
    * consumer — [[tokens]], [[shingles]]/ShingleHashes (dedup +
    * decontamination), [[gopherRules]] word stats, packing/manifest
    * token counts — segments sensibly with zero per-operator changes;
    * other languages pass through UNTOUCHED (bit-identical plans and
    * outputs). This is the classic pipeline shape: route once at
    * normalization time, not inside every operator. Row-local codegen
    * regex; exact-oracle replayable ([[cjkSegmentOracleSqlExpr]]).
    */
  def cjkSegmentText(text: Column, lang: Column): Column =
    when(lang.rlike(SpacelessLangPattern),
      array_join(cjkSafeTokens(text), " "))
      .otherwise(text)

  /** [[cjkSegmentText]] as a DuckDB SQL expression (same constants).
    * The COALESCE covers the empty/whitespace-only routed document:
    * DuckDB's `array_to_string([])` is NULL where Spark's `array_join`
    * gives '' (the same cross-engine class the url-key chain guards).
    */
  def cjkSegmentOracleSqlExpr(textExpr: String, langExpr: String): String =
    s"(CASE WHEN regexp_matches($langExpr, '$SpacelessLangPattern') " +
      s"THEN COALESCE(array_to_string(regexp_extract_all($textExpr, " +
      s"'$CjkSegPattern', 0), ' '), '') ELSE $textExpr END)"

  /** BPE-ish subword count: tokens further split at letter/digit and
    * lower/upper boundaries via regex — a cheap, deterministic stand-in
    * for a real tokenizer's piece count (no vocab download in this
    * environment).
    */
  def subwordCount(text: Column): Column =
    size(split(text, "[^\\p{L}\\p{N}]+|(?<=\\p{Ll})(?=\\p{Lu})|(?<=\\p{L})(?=\\p{N})|(?<=\\p{N})(?=\\p{L})"))

  /** Distinct n-word shingles (the near-dup unit). Guarded for short
    * docs: fewer than `n` tokens → empty set (Spark's `sequence` would
    * otherwise generate a DESCENDING range and index out of bounds).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Per-document quality metrics: token count, type count,
    * type-token ratio, average token length, and a quality band —
    * the short/repetitive/ok triage a filtering pipeline applies
    * before expensive downstream steps.
    */
  def qualityMetrics(df: DataFrame, textCol: String = "text",
                     nCharsCol: String = "n_chars"): DataFrame = {
    val toks = tokens(col(textCol))
    df.withColumn("n_tokens", size(toks))
      .withColumn("n_types", size(array_distinct(toks)))
      .withColumn("ttr", col("n_types").cast("double") / col("n_tokens"))
      // single-space-separated text: chars = sum(len) + (n_tokens - 1)
      .withColumn("avg_token_len",
        (col(nCharsCol) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))
      .withColumn("quality_band",
        when(col("n_tokens") < 20, "short")
          .when(col("ttr") < 0.35, "repetitive")
          .otherwise("ok"))
  }

  /** Marker-token language ID: score every (doc, candidate-language)
    * pair by the number of marker-token occurrences, pick the argmax
    * (ties → lexicographically first language). Scale shape: tokenize
    * ONCE per doc before the broadcast cross join (never N_lang×), take
    * the argmax with `min_by` over (−score, lang) — a hash aggregation
    * with map-side partial combine, so the shuffle carries one row per
    * (doc, lang) partial, not a window's full sorted groups — then
    * rejoin the winner to the doc row on the narrow id.
    */
  def languageId(docs: DataFrame, profiles: Seq[(String, Seq[String])],
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prof = profiles.toDF("lang_cand", "markers")
    val toks = docs.select(col(idCol), tokens(col(textCol)).as("__toks"))
    val scored = toks.crossJoin(broadcast(prof))
      .select(col(idCol), col("lang_cand"),
        size(filter(col("__toks"), t => array_contains(col("markers"), t))).as("score"))
    val best = scored.groupBy(col(idCol))
      .agg(min_by(
        struct(col("lang_cand"), col("score")),
        struct((-col("score")).as("neg_score"), col("lang_cand").as("lc"))).as("__best"))
      .select(col(idCol), col("__best.lang_cand").as("lang_cand"),
        col("__best.score").as("score"))
    docs.join(best, Seq(idCol))
  }

  /** Content fingerprint: md5 of the text (the cheap exact-dup key —
    * 128 bits, collision-free in practice, 16 bytes to shuffle instead
    * of the whole document).
    */
  def fingerprint(text: Column): Column = md5(text)

  /** Winnowing fingerprint (local-minima selection over k-gram hashes;
    * Schleimer/Wilkerson/Aiken's scheme): hash every k-token shingle,
    * slide a window of `w` hashes, keep each window's minimum — the
    * selected set is position-independent enough for robust partial-dup
    * detection while being ~1/w the size of the full shingle set.
    * Pure array HOFs: computed per document, no shuffle.
    */
  def winnowedFingerprints(text: Column, k: Int, w: Int): Column = {
    val hashes = graft.functions.ArrayExprs.tokenWindowHashes(text, k)
    when(size(hashes) >= w,
      array_distinct(transform(
        sequence(lit(0), size(hashes) - w),
        i => array_min(slice(hashes, i + 1, lit(w))))))
      .otherwise(when(size(hashes) > 0, array(array_min(hashes)))
        .otherwise(array().cast("array<bigint>")))
  }

  /** Ordered (non-distinct) n-word shingles — winnowing needs
    * positions, and Dedup.duplicatedSpans counts every occurrence.
    * THE single definition of a token window: short docs (< n tokens)
    * yield the empty array.
    */
  private[ext] def shinglesOrdered(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) >= n,
      transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Benchmark decontamination: count, per training document, the
    * distinct `n`-gram shingles it shares with a benchmark corpus — the
    * LLM training-data hygiene op (a doc containing test-set n-grams
    * verbatim leaks the benchmark into training). Returns `docs` with an
    * extra `n_hits` column (0 = clean); [[decontaminate]] keeps only the
    * clean rows.
    *
    * Scale shape: both sides shingle-hash to 8-byte keys ([[graft.functions.ArrayExprs.shingleHashes]]).
    * The benchmark side — test sets are tiny next to a training corpus —
    * is distinct-ed and BROADCAST, so the corpus side is one scan +
    * explode + broadcast semi-join + per-doc count: no corpus-side
    * all-to-all shuffle, and the corpus never moves. (If the benchmark
    * outgrows the broadcast threshold, drop `broadcast()` and it
    * degrades gracefully to a shuffled equi-join on the 8-byte hash.)
    * Matching is on 64-bit hashes: collision odds at even billions of
    * distinct shingles are ~n²/2⁶⁵ — negligible, and only ever
    * over-counts a hit (conservative for decontamination).
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, shingleSize: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    benchTextCol: String = "text"): DataFrame = {
    val docShingles = docs.select(col(idCol),
      explode(graft.functions.ArrayExprs.shingleHashes(col(textCol), shingleSize)).as("__s"))
    val benchShingles = benchmark.select(
      explode(graft.functions.ArrayExprs.shingleHashes(col(benchTextCol), shingleSize)).as("__s"))
      .distinct()
    val hits = docShingles.join(broadcast(benchShingles), "__s")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // doc shingles are distinct already
    docs.join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
  }

  /** Keep only documents sharing NO `n`-gram with the benchmark. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, shingleSize: Int,
                    idCol: String = "doc_id", textCol: String = "text",
                    benchTextCol: String = "text"): DataFrame =
    contamination(docs, benchmark, shingleSize, idCol, textCol, benchTextCol)
      .where(col("n_hits") === 0)
      .drop("n_hits")

  /** Repetition metrics — the classic repetitive-text filter signals
    * (popularized by the Gopher/MassiveText quality rules): fraction of
    * duplicated n-grams (1 − distinct/total) for n = 2 and 3, and the
    * share of the most frequent token. High values flag boilerplate,
    * keyword stuffing, and generation loops that a type-token ratio
    * alone misses. Narrow projection, no shuffle; short docs
    * (< n tokens) score 0.
    *
    * The per-document loops run as native tight-loop expressions, not
    * interpreted HOFs: distinct n-gram counts come from
    * [[graft.functions.ArrayExprs.shingleHashes]] (sorted distinct
    * 64-bit hashes — no intermediate shingle strings) and the
    * top-token count from
    * [[graft.functions.ArrayExprs.maxTokenMultiplicity]]. Both equal
    * the string-exact metrics modulo 64-bit hash collisions
    * (~n²/2⁶⁵, the shared contract of all hashed-shingle operators;
    * verified string-exact by the q35 oracle). The earlier
    * string-HOF version (`array_sort` + `aggregate` fold) measured
    * ~13 s on the sf0.1 bench; this one is a plain scan.
    *
    * PRECONDITION (shared with every ShingleHashes consumer): text is
    * single-space-normalized. The hash tokenizer skips empty tokens
    * while the `split`-based denominator counts them, so leading/
    * trailing/double spaces would skew the fractions — normalize
    * upstream (`trim` + `regexp_replace(text, ' +', ' ')`) for dirty
    * corpora.
    */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val nToks = size(tokens(col(textCol)))
    def dupFrac(n: Int): Column = {
      val total = nToks - (n - 1)
      when(total <= 0, lit(0.0)).otherwise(
        lit(1.0) -
          size(graft.functions.ArrayExprs.shingleHashes(col(textCol), n)).cast("double") / total)
    }
    docs
      .withColumn("dup_bigram_frac", dupFrac(2))
      .withColumn("dup_trigram_frac", dupFrac(3))
      .withColumn("top_token_frac",
        when(nToks === 0, lit(0.0))
          .otherwise(graft.functions.ArrayExprs.maxTokenMultiplicity(col(textCol))
            .cast("double") / nToks))
  }

  /** WITHIN-document duplicate-LINE repetition (Gopher A1.2's line-grain
    * rules, completing [[repetitionMetrics]]' n-gram lens): per document,
    * the fraction of lines that are repeats of an earlier line of the
    * SAME document and the fraction of characters those repeats carry —
    * `(…, n_lines, dup_line_frac, dup_line_char_frac)`. The corpus-wide
    * cousin (boilerplate shared ACROSS documents) is
    * [[graft.ext.Dedup.duplicateLineStats]]; this one needs no corpus
    * state at all.
    *
    * Definitions (exact, SQL-replayable): with L the line multiset and
    * D its distinct set, `dup_line_frac = (|L| − |D|) / |L|` and
    * `dup_line_char_frac = (chars(L) − chars(D)) / chars(L)` (newlines
    * excluded; 0.0 when the document has no line characters) — i.e.
    * every occurrence beyond a line's first counts, in lines and in
    * characters.
    *
    * Scale shape: ONE row-local projection — array expressions only
    * (`split`/`array_distinct`/`aggregate`), no explode, no join, no
    * shuffle. The cheapest member of the repetition family; at 100 TB
    * it rides whatever scan already reads the text.
    */
  def lineRepetition(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lines = split(col(textCol), "\n")
    val distinctLines = array_distinct(lines)
    val nL = size(lines).cast("long")
    val nD = size(distinctLines).cast("long")
    def charsOf(arr: Column): Column =
      aggregate(arr, lit(0L), (a, x) => a + length(x))
    val chars = charsOf(lines)
    val charsD = charsOf(distinctLines)
    docs
      .withColumn("n_lines", nL)
      .withColumn("dup_line_frac",
        (nL - nD).cast("double") / nL.cast("double"))
      .withColumn("dup_line_char_frac",
        when(chars === 0L, lit(0.0))
          .otherwise((chars - charsD).cast("double") / chars.cast("double")))
  }

  /** Sequence packing: assign ordered documents to fixed-capacity token
    * bins — the dataloader-prep step that turns a document corpus into
    * training windows. Deterministic contiguous packing: within each
    * shard, docs are taken in `idCol` order and a doc starts the next
    * bin once the running token total crosses `capacity` (bins may
    * overflow by one document; exact bin-packing is NP-hard and
    * needless here). Returns one row per (shard, bin) with membership
    * stats.
    *
    * Scale shape: the running total is a per-SHARD window — packing is
    * order-defined, so a global ordering would serialize into one
    * partition; sharding (by source/language/file-group) is what makes
    * it parallel, and is also semantically right: training shards are
    * packed independently anyway. One shuffle on the shard keys.
    *
    * `tokenCount` plugs in the caller's tokenizer: real training
    * pipelines pack by BPE/SentencePiece token counts, not whitespace
    * words. Pass any integral Column — a precomputed count column
    * carried on the frame (the operational shape: tokenize once
    * upstream, reuse everywhere) or an inline counting expression.
    * Default (None) keeps the whitespace counter, so existing outputs
    * (q34/q47 oracles) are unchanged.
    *
    * `subShards > 1` splits each shard into that many deterministic
    * LANES (`lane = md5(id) % subShards` — the q139 hash trick) and
    * packs each (shard, lane) independently, adding a `lane` column to
    * the output. This is the scale escape when the natural shard key
    * is too coarse (q151's shape: 5 language partitions serialize the
    * running-sum window into 5 tasks no matter how wide the cluster):
    * the lane is a pure function of the row id, so the binning stays
    * deterministic under any partitioning or cluster size, and
    * re-binning is identical per (shard, lane) — only the bin
    * BOUNDARIES move vs the unlaned packing, which is semantically
    * free (training shards are arbitrary groupings by construction).
    * [[derivedPackLanes]] sizes it from the data.
    */
  def packSequences(docs: DataFrame, capacity: Int, shardCols: Seq[String],
                    idCol: String = "doc_id", textCol: String = "text",
                    tokenCount: Option[Column] = None,
                    subShards: Int = 1): DataFrame =
    binnedDocs(docs, capacity, shardCols, idCol, textCol, tokenCount,
      subShards)
      .groupBy((laneKeys(shardCols, subShards) :+ "bin_id").map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__n")).cast("long").as("sum_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))

  /** The lane count the data asks for (the DerivedShuffle discipline,
    * applied to packing): enough lanes that the HOTTEST shard's window
    * carries at most `targetDocsPerLane` rows. One group-cardinality
    * aggregate + a bounded 1-row collect; feed the result to
    * [[packSequences]]' `subShards`.
    */
  def derivedPackLanes(docs: DataFrame, shardCols: Seq[String],
                       targetDocsPerLane: Long = 262144L): Int = {
    require(shardCols.nonEmpty, "derivedPackLanes: empty shard key")
    require(targetDocsPerLane >= 1,
      "derivedPackLanes: targetDocsPerLane must be >= 1")
    val m = docs.groupBy(shardCols.map(col): _*)
      .agg(count(lit(1)).as("__c")).agg(max(col("__c"))).collect()(0)
    val maxC = if (m.isNullAt(0)) 0L else m.getLong(0)
    math.max(1L, (maxC + targetDocsPerLane - 1) / targetDocsPerLane).toInt
  }

  private def laneKeys(shardCols: Seq[String], subShards: Int): Seq[String] =
    if (subShards > 1) shardCols :+ "lane" else shardCols

  /** The packing itself, not just its stats: one row per (shard, bin)
    * with the bin's documents concatenated in id order — the
    * training-window artifact a dataloader consumes. Same binning as
    * [[packSequences]]; the in-bin order is made deterministic by
    * sorting the collected (id, text) structs (bins are capacity-bounded
    * — a few thousand tokens — so the per-group array is small by
    * construction, never a corpus-sized collect).
    */
  def packSequencesText(docs: DataFrame, capacity: Int, shardCols: Seq[String],
                        idCol: String = "doc_id", textCol: String = "text",
                        sep: String = " ",
                        tokenCount: Option[Column] = None,
                        subShards: Int = 1): DataFrame =
    binnedDocs(docs, capacity, shardCols, idCol, textCol, tokenCount,
      subShards)
      .groupBy((laneKeys(shardCols, subShards) :+ "bin_id").map(col): _*)
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col(textCol).as("__t")))),
            s => s.getField("__t")),
          sep).as("packed_text"),
        count(lit(1)).as("n_docs"),
        sum(col("__n")).cast("long").as("sum_tokens"))

  /** Shared first-fit binning: adds `__n` (token count — the caller's
    * `tokenCount` expression, or the whitespace counter) and `bin_id`.
    */
  private def binnedDocs(docs: DataFrame, capacity: Int, shardCols: Seq[String],
                         idCol: String, textCol: String,
                         tokenCount: Option[Column] = None,
                         subShards: Int = 1): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    require(shardCols.nonEmpty,
      "packing needs shard columns: a global order would serialize into one partition")
    require(subShards >= 1, "subShards must be >= 1")
    require(subShards == 1 || !docs.columns.contains("lane"),
      "packing: input already carries 'lane' — rename or drop (the laned " +
        "packer OWNS this column)")
    import org.apache.spark.sql.expressions.Window
    // the derived lane: a pure function of the row id (Export's 60-bit
    // md5 fold, always non-negative), so bins are deterministic under
    // any partitioning — the window below just gains subShards× more,
    // proportionally smaller, partitions
    val laned =
      if (subShards > 1)
        docs.withColumn("lane",
          Export.md5Long60(concat(lit("lane:"), col(idCol).cast("string")))
            % subShards)
      else docs
    // explicit ROWS frame: the default RANGE frame would give duplicate
    // idCol values one shared cumulative total, breaking the sequential
    // first-fit semantics (idCol should be unique per shard; with dups
    // the within-tie order — and thus the packing — is undefined)
    val w = Window.partitionBy(laneKeys(shardCols, subShards).map(col): _*)
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    laned
      .withColumn("__n", tokenCount.getOrElse(size(tokens(col(textCol)))))
      .withColumn("__cum", sum(col("__n")).over(w))
      // exclusive prefix sum / capacity = first-fit-by-order bin id
      .withColumn("bin_id", floor((col("__cum") - col("__n")) / capacity).cast("long"))
  }

  /** URL match (scheme + host + optional path), in the RE2 ∩ Java
    * regex subset so oracles can replay it verbatim.
    */
  val UrlPattern = "https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9./_-]*)?"

  /** Capture group 1 = the host/domain of a URL. */
  val DomainPattern = "https?://([A-Za-z0-9.-]+)"

  /** All URLs of a text column (group 0 — the full match). */
  def extractUrls(text: Column): Column =
    regexp_extract_all(text, lit(UrlPattern), lit(0))

  def urlDomain(url: Column): Column = regexp_extract(url, DomainPattern, 1)

  /** Canonical dedup KEY of a URL — the RefinedWeb stage-1 unit ("dedup
    * by normalized source URL" runs before any content heuristic): the
    * fragment goes, known tracking parameters (utm_*, fbclid, gclid,
    * msclkid) go, a first `&` orphaned by a removed leading `?param`
    * is promoted back to `?`, then the URL splits at the first `?`
    * into base and query and each normalizes on published semantics:
    *
    *  - base: scheme+authority lowercase ONLY (paths stay
    *    case-sensitive — RFC 3986 §6.2.2.1 case-normalizes exactly
    *    the scheme and host), a leading `www.` goes, the scheme's
    *    default port (`:80` http / `:443` https) goes, a trailing
    *    path `/` goes;
    *  - query: parameters split on `&`, empties dropped, SORTED
    *    (param order is almost never semantic — `?a=1&b=2` and
    *    `?b=2&a=1` are one page), rejoined; an empty result drops
    *    the `?` entirely.
    *
    * Every step is a regexp/array op in the RE2 ∩ Java ∩ DuckDB
    * subset (anchored patterns where first-match/all-match semantics
    * could differ between engines; the sort is binary-collation in
    * both), so a SQL oracle replays it verbatim.
    */
  def canonicalUrlKey(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val noTrack = regexp_replace(noFrag,
      "[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*", "")
    // promote the FIRST orphaned & (left behind by a stripped leading
    // ?param) back to ? — [^?&]* so greed can't skip to a later &
    val promoted = regexp_replace(noTrack, "^([^?&]*)&", "$1?")
    val base = regexp_replace(promoted, "\\?.*", "")
    val query = regexp_extract(promoted, "\\?(.*)", 1)
    // lowercase exactly the scheme://authority prefix, keep the path
    val lowerAuth = concat(
      lower(regexp_extract(base, "^([^/]*//[^/]*)", 1)),
      regexp_replace(base, "^[^/]*//[^/]*", ""))
    val noWww = regexp_replace(lowerAuth, "^(https?://)www\\.", "$1")
    // default ports only, and only on the authority (no lookahead —
    // RE2 has none — so the boundary rides a captured ($|/))
    val noPort = regexp_replace(
      regexp_replace(noWww, "^(http://[^/:]+):80($|/)", "$1$2"),
      "^(https://[^/:]+):443($|/)", "$1$2")
    val cleanBase = regexp_replace(noPort, "/$", "")
    val sortedQ = array_join(
      array_sort(array_remove(split(query, "&"), "")), "&")
    when(sortedQ === lit(""), cleanBase)
      .otherwise(concat(cleanBase, lit("?"), sortedQ))
  }

  /** URL-level quality report — the RefinedWeb/C4 URL FILTERING stage
    * (it runs beside the q126 URL dedup, before any content heuristic):
    * per document, the measured URL statistics, the block/ban flags,
    * and one composed `keep`. Rules, all on the RAW url (published
    * recipes filter pre-canonicalization):
    *
    *  - `blocked_host`: the (lowercased, `www.`-stripped, port-free)
    *    host is on `blockedHosts` or is a subdomain of an entry — the
    *    strict blocklist cut;
    *  - `n_banned_words`: how many of `bannedWords` occur in the
    *    lowercased URL — the soft word-score cut (recipes threshold
    *    it; `keep` uses > 0);
    *  - `host_digit_frac`: digit fraction of the host (throwaway /
    *    generated domains are digit-heavy);
    *  - `url_len` / `path_depth`: the length-sanity signals.
    *
    * `keep` = not blocked, zero banned words, `url_len <= maxUrlLen`.
    * The fractions are surfaced (not thresholded) so callers tune
    * their own cuts — q116's Gopher-report shape at URL grain.
    *
    * Scale shape: entirely row-local codegen regex/CASE over the url
    * column — the block/ban lists are query literals (recipes ship
    * them as artifacts; for multi-million-entry blocklists use
    * [[dropByDomain]]'s broadcast-join face instead). Exact-oracled:
    * every rule replays verbatim in DuckDB.
    */
  def urlQualityReport(docs: DataFrame, blockedHosts: Seq[String],
                       bannedWords: Seq[String], maxUrlLen: Int = 2048,
                       urlCol: String = "url",
                       idCol: String = "doc_id"): DataFrame = {
    validateUrlRules(blockedHosts, bannedWords)
    val host = urlHost(col(urlCol))
    val blocked = urlBlocked(col(urlCol), blockedHosts)
    val nBanned = urlBannedCount(col(urlCol), bannedWords)
    val digitFrac = when(length(host) > 0,
      length(regexp_replace(host, "[^0-9]", "")).cast("double") /
        length(host).cast("double")).otherwise(lit(0.0))
    val path = regexp_replace(
      regexp_replace(col(urlCol), "^[^/]*//[^/]*", ""), "[?#].*", "")
    val depth = when(length(path) > 0, size(split(path, "/")) - 1)
      .otherwise(lit(0))
    val urlLen = length(col(urlCol))
    docs.select(col(idCol), col(urlCol),
      host.as("host"),
      blocked.as("blocked_host"),
      nBanned.cast("long").as("n_banned_words"),
      digitFrac.as("host_digit_frac"),
      urlLen.cast("long").as("url_len"),
      depth.cast("long").as("path_depth"),
      urlQualityKeep(col(urlCol), blockedHosts, bannedWords, maxUrlLen)
        .as("keep"))
  }

  /** The report's `keep` rule as a bare predicate COLUMN — for
    * pipelines that only filter (q131's chain): a row-local `.where`
    * instead of a report build + semi join, so the cut adds zero
    * scans, zero exchanges.
    */
  def urlQualityKeep(url: Column, blockedHosts: Seq[String],
                     bannedWords: Seq[String],
                     maxUrlLen: Int = 2048): Column = {
    validateUrlRules(blockedHosts, bannedWords)
    !urlBlocked(url, blockedHosts) &&
      urlBannedCount(url, bannedWords) === 0 &&
      length(url) <= maxUrlLen
  }

  private def validateUrlRules(blockedHosts: Seq[String],
                               bannedWords: Seq[String]): Unit = {
    require(bannedWords.forall(w => w.nonEmpty && w == w.toLowerCase),
      "banned words must be non-empty lowercase (they match a lowercased URL)")
    require(blockedHosts.forall(h => h.nonEmpty && h == h.toLowerCase),
      "blocked hosts must be non-empty lowercase")
  }

  /** Lowercased, `www.`-stripped, port-free host of a raw URL. */
  private def urlHost(url: Column): Column = regexp_replace(
    lower(regexp_extract(url, "^[^/]*//([^/:?#]+)", 1)), "^www\\.", "")

  private def urlBlocked(url: Column, blockedHosts: Seq[String]): Column = {
    val host = urlHost(url)
    blockedHosts.map(b => host === b || host.endsWith("." + b))
      .reduceOption(_ || _).getOrElse(lit(false))
  }

  private def urlBannedCount(url: Column, bannedWords: Seq[String]): Column = {
    val lowerUrl = lower(url)
    bannedWords.map(w => when(lowerUrl.contains(w), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
  }

  /** Per-domain link profile of a corpus: URL occurrences and distinct
    * linking documents — the domain-blocklist / source-mix signal.
    * Scale shape: extract per row (codegen regex, no shuffle), explode
    * to (doc, domain), then ONE hash aggregation with map-side partial
    * combine on the domain key; domains are low-cardinality relative
    * to documents, so the shuffle is tiny.
    */
  def domainStats(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame =
    docs.select(col(idCol), explode(extractUrls(col(textCol))).as("__url"))
      .select(col(idCol), urlDomain(col("__url")).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col(idCol)).as("n_docs"))

  /** Domain blocklist filter: drop every document containing a URL
    * whose domain is on the list — the C4/RefinedWeb-style source
    * filter that runs before any content heuristics. Scale shape:
    * codegen regex extraction per row; the blocklist (small by nature)
    * BROADCASTS into a semi join on the exploded (doc, domain) pairs,
    * and only matched doc ids reach the anti join — the corpus itself
    * never shuffles.
    */
  def dropByDomain(docs: DataFrame, blocked: Seq[String],
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist: nothing to drop")
    import docs.sparkSession.implicits._
    val hits = docs
      .select(col(idCol), explode(extractUrls(col(textCol))).as("__url"))
      .select(col(idCol), urlDomain(col("__url")).as("domain"))
      .join(broadcast(blocked.toDF("domain")), Seq("domain"), "left_semi")
      .select(idCol).distinct()
    docs.join(hits, Seq(idCol), "left_anti")
  }

  /** Global top-k token frequencies (occurrences + document frequency),
    * deterministic tie-break (count DESC, token ASC). Scale shape:
    * explode → hash aggregation with map-side combine (the shuffle
    * carries one row per distinct token per partition, not per
    * occurrence) → TakeOrdered top-k (no global sort materialization).
    */
  def topTokens(docs: DataFrame, k: Int, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occurrences"),
        count_distinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)

  /** The Gopher quality-rule set (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1.1) as ONE composed report: per document, the measured
    * statistics behind each published rule, a boolean per rule, and
    * the conjunction `keep` — the standard pre-filter a curation
    * pipeline runs before dedup. The document set is NOT filtered
    * (every input row gets a report row); `.where(col("keep"))` is the
    * act, and the per-rule flags are the audit.
    *
    * Rules (thresholds are the paper's, overridable):
    *  - word count in [minWords, maxWords];
    *  - mean word length in [minMeanWordLen, maxMeanWordLen];
    *  - TWO symbol-to-word ratios, thresholded INDEPENDENTLY like the
    *    paper's A1.1 table (one rule for '#', one for ellipses):
    *    `hash_ratio` = '#' chars per word ≤ maxSymbolRatio, and
    *    `ellipsis_ratio` = ellipsis occurrences ('...' or the unicode
    *    '…' U+2026) per word ≤ maxSymbolRatio — a document passing
    *    each rule individually (say 0.06 hash + 0.07 ellipsis) is
    *    KEPT, where a composite sum would wrongly reject it;
    *  - fraction of words with ≥1 alphabetic char ≥ minAlphaWordFrac;
    *  - ≥ minStopHits DISTINCT stop words present — the paper uses a
    *    fixed English function-word list; here the list is the
    *    corpus's own top-`stopTopK` tokens ([[topTokens]], the
    *    [[stopwordFraction]] adaptation that works for any language
    *    the corpus is actually in);
    *  - ≤ maxBulletLineFrac of lines starting with a bullet and
    *    ≤ maxEllipsisLineFrac ending with an ellipsis ('...' or '…').
    *
    * Exactness: every statistic is integer counting (array/string
    * ops) until one final IEEE division per ratio, so the whole
    * report — including the double threshold comparisons — is
    * bit-reproducible in any engine (the q72 argument). The ellipsis
    * ratio is computed as `(dotChars + 3·unicodeEll) / (3·words)` to
    * keep the numerator integral ('...' occurrences = dotChars/3;
    * each '…' counts as one occurrence).
    *
    * Scale shape: the stop list is one small aggregation
    * ([[topTokens]]: partial agg + TakeOrdered) folded into a ONE-row
    * array and BROADCAST against the corpus; everything else, the
    * stop-hit count included (`size(array_intersect(tokens, stops))`,
    * the distinct stop words present), is one row-local projection —
    * no explode, no shuffle of the corpus, no join back on the id.
    * [[gopherKeep]] is the filtering act at the paper's thresholds.
    */
  def gopherRules(docs: DataFrame,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  minAlphaWordFrac: Double = 0.8,
                  stopTopK: Int = 20, minStopHits: Int = 2,
                  maxBulletLineFrac: Double = 0.9,
                  maxEllipsisLineFrac: Double = 0.3,
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  carryCols: Seq[String] = Nil): DataFrame = {
    // collision guard (the binnedDocs 'lane' discipline): a carried
    // column named like a generated stat/flag output — or duplicating
    // the id — would silently yield duplicate/ambiguous columns that
    // only fail later with a confusing analysis error
    val generated = Seq("n_words", "mean_word_len", "hash_ratio",
      "ellipsis_ratio", "alpha_word_frac", "bullet_line_frac",
      "ellipsis_line_frac", "n_stop_hits", "ok_words",
      "ok_word_len", "ok_symbols", "ok_alpha", "ok_stops", "ok_lines",
      "keep", idCol)
    val clash = carryCols.filter(generated.contains)
    require(clash.isEmpty,
      s"gopherRules: carryCols ${clash.mkString(", ")} collide with the " +
        "report's generated columns (or the id) — rename or drop them " +
        "(the report OWNS these names)")
    // carryCols ride the row-local stats projection unchanged, so a
    // caller grouping the report by a doc attribute (q145's host
    // rollup) does not have to re-scan the corpus and join the
    // attribute back on by id — at scale that join exchanges BOTH the
    // verdict frame and the attribute frame by id (guide §3.3: carry
    // the column once instead of re-attaching it).
    val stops = topTokens(docs, stopTopK, idCol, textCol)
      .agg(collect_list(col("token")).as("__gopher_stops"))
    val toks = tokens(col(textCol))
    val lines = split(col(textCol), "\n")
    val nWords = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (acc, x) => acc + length(x))
    val nAlpha = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val nHash = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))).cast("long")
    val ellChars = (length(col(textCol)) -
      length(replace(col(textCol), lit("..."), lit("")))).cast("long")
    val ellUni = (length(col(textCol)) -
      length(replace(col(textCol), lit("…"), lit("")))).cast("long")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, x =>
      x.startsWith("- ") || x.startsWith("* ") || x.startsWith("•")))
      .cast("long")
    val nEllEnd = size(filter(lines, x =>
      x.endsWith("...") || x.endsWith("…"))).cast("long")
    val stats = docs.crossJoin(broadcast(stops)).select((col(idCol) +: carryCols.map(col)) ++ Seq(
        nWords.as("n_words"),
        (sumLen.cast("double") / nWords.cast("double")).as("mean_word_len"),
        (nHash.cast("double") / nWords.cast("double")).as("hash_ratio"),
        ((ellChars + lit(3L) * ellUni).cast("double") /
          (lit(3L) * nWords).cast("double")).as("ellipsis_ratio"),
        (nAlpha.cast("double") / nWords.cast("double")).as("alpha_word_frac"),
        (nBullet.cast("double") / nLines.cast("double")).as("bullet_line_frac"),
        (nEllEnd.cast("double") / nLines.cast("double")).as("ellipsis_line_frac"),
        when(toks.isNull, lit(0L))
          .otherwise(size(array_intersect(toks, stops("__gopher_stops"))).cast("long"))
          .as("n_stop_hits")): _*)
    stats
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_word_len",
        col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen)
      .withColumn("ok_symbols",
        col("hash_ratio") <= maxSymbolRatio &&
          col("ellipsis_ratio") <= maxSymbolRatio)
      .withColumn("ok_alpha", col("alpha_word_frac") >= minAlphaWordFrac)
      .withColumn("ok_stops", col("n_stop_hits") >= minStopHits)
      .withColumn("ok_lines",
        col("bullet_line_frac") <= maxBulletLineFrac &&
          col("ellipsis_line_frac") <= maxEllipsisLineFrac)
      .withColumn("keep",
        col("ok_words") && col("ok_word_len") && col("ok_symbols") &&
          col("ok_alpha") && col("ok_stops") && col("ok_lines"))
  }

  /** The rows of `docs` that pass [[gopherRules]] at the paper's
    * thresholds, every column unchanged — the rule set's act, with no
    * id joined back. The row rides the report as one struct column, so
    * a frame may carry columns named like the report's own (`keep`,
    * `n_words`, …).
    */
  def gopherKeep(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val row = "__gopher_row"
    gopherRules(docs.select(col(idCol), col(textCol),
        struct(docs.columns.toSeq.map(c => col(s"`$c`")): _*).as(row)),
        idCol = idCol, textCol = textCol, carryCols = Seq(row))
      .where(col("keep")).select(col(s"$row.*"))
  }

  /** Corpus-derived stopword fraction: share of each document's tokens
    * that fall in the corpus's own top-`topK` tokens — the
    * distribution-aware cousin of a fixed stopword list (works for any
    * language the corpus is actually in). A high fraction flags
    * function-word-only / boilerplate documents. Exact integer counts
    * and one division — cross-engine deterministic.
    *
    * Scale shape: pass 1 derives the stop list ([[topTokens]]: partial
    * agg + TakeOrdered, topK rows total), folded into a ONE-row array
    * and BROADCAST against the corpus; pass 2 is one row-local
    * projection — hits are the document's tokens found in that array,
    * counted with multiplicity (`size(filter(tokens, t ->
    * array_contains(stops, t)))`), the total is `size(tokens)` — no
    * explode, no shuffle of the corpus, no join back on the id (the
    * [[gopherRules]] shape). A NULL text counts 0 tokens.
    */
  def stopwordFraction(docs: DataFrame, topK: Int, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val stops = topTokens(docs, topK, idCol, textCol)
      .agg(collect_list(col("token")).as("__stopword_list"))
    val toks = tokens(col(textCol))
    def sizeOr0(arr: Column) = when(toks.isNull, lit(0L)).otherwise(size(arr).cast("long"))
    docs.crossJoin(broadcast(stops))
      .withColumn("n_tokens", sizeOr0(toks))
      .withColumn("stopword_frac",
        sizeOr0(filter(toks, t => array_contains(col("__stopword_list"), t))).cast("double") /
          col("n_tokens"))
      .drop("__stopword_list")
  }

  /** TF-IDF-style key terms: the top `k` tokens per document scored by
    * tf · (N / df) — term frequency times a RATIONAL inverse document
    * frequency. The classical log-idf is deliberately avoided: libm
    * ln() is not correctly rounded and differs across engines and
    * platforms, which would break bit-exact cross-engine verification.
    * The rational form keeps idf's monotonicity (rarer ⇒ larger) and
    * stays IEEE-exact: integer counts through one multiply and one
    * divide are correctly rounded everywhere. Ranking per document is
    * therefore identical to using any monotone idf transform only when
    * tf is constant; it is its own (documented) scoring function, not
    * an approximation of log-tf-idf.
    *
    * Scale shape: tf is one hash agg on (doc, token) with map-side
    * combine; df is a second hash agg over the tf rows (one row per
    * distinct (doc, token), never per occurrence); the df join back is
    * an equi-join on token (broadcast only if the vocabulary is known
    * small — left as a shuffle join because a 100 TB corpus vocabulary
    * is not). The corpus size N rides in as a broadcast 1-row
    * cross-join, not a driver-side count. Top-k per doc is a bounded
    * window over each document's distinct tokens.
    */
  def keyTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val tf = words.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__tf"))
    val df_ = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(df_, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("__tf").cast("double") * col("__n") / col("__df").cast("double"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col(idCol), col("token"), col("score"), col("rank"))
  }

  /** Character-class composition of a text column — digit/uppercase/
    * alphabetic/symbol fractions, the cheap formatting-quality signals
    * (code vs prose vs tables vs junk). Codegen regex length-diffs,
    * narrow projection, no shuffle. Empty text → all zeros.
    */
  def charClassProfile(df: DataFrame, textCol: String): DataFrame = {
    val len = length(col(textCol))
    def frac(pat: String): Column =
      when(len === 0, lit(0.0)).otherwise(
        (len - length(regexp_replace(col(textCol), pat, ""))).cast("double") /
          len.cast("double"))
    df.withColumn("digit_frac", frac("[0-9]"))
      .withColumn("upper_frac", frac("[A-Z]"))
      .withColumn("alpha_frac", frac("[A-Za-z]"))
      .withColumn("symbol_frac", frac("[^A-Za-z0-9 ]"))
  }

  /** Encoding-health profile — the corruption signals a web-scale
    * ingest pipeline filters on before any modeling: U+FFFD
    * replacement characters (a decoder already gave up), C0 control
    * characters outside tab/newline/CR (binary junk in "text"),
    * classic UTF-8-as-Latin-1 mojibake marker characters (Ã, Â, €),
    * and the ASCII fraction (prose vs binary-ish payloads). All four
    * are codegen regex length-diffs in the RE2 ∩ Java subset (the q42
    * construction) — exactly oracle-replayable, narrow projection, no
    * shuffle.
    */
  def encodingProfile(df: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val len = length(t)
    def cnt(pat: String): Column =
      (len - length(regexp_replace(t, pat, ""))).cast("long")
    df.select(col(idCol),
      cnt("�").as("replacement_chars"),
      cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("control_chars"),
      cnt("[ÃÂ€]").as("mojibake_marks"),
      when(len === 0, lit(0.0))
        .otherwise(cnt("[\\x20-\\x7E\\x09\\x0A\\x0D]").cast("double") / len.cast("double"))
        .as("ascii_frac"))
  }

  /** Canonical text normalization for dedup (the CCNet-style
    * pre-dedup pass): lowercase, trim, squeeze whitespace runs to one
    * space. Kept in the RE2 ∩ Java regex subset and ASCII semantics so
    * the normalize-then-dedup output is exactly oracle-replayable;
    * callers wanting unicode NFC bring their own expression (the
    * dedup machinery only sees a text column).
    */
  def normalizeText(text: Column): Column =
    // squeeze BEFORE trim: trim strips spaces only, so a leading tab
    // must first become a space to be trimmed (both engines agree).
    // Whitespace class spelled byte-for-byte: Java \s includes \x0B
    // (vertical tab) but RE2's does not, so \s+ would diverge between
    // Spark and an RE2-based oracle on any document containing VT —
    // exactly the control bytes encodingProfile exists to flag.
    trim(regexp_replace(lower(text), "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Document chunking: split each document into fixed-size token
    * windows starting every `stride` tokens (overlapping when
    * stride < chunkTokens) — the pre-embedding/RAG windowing step.
    * Output: (id, chunk_idx, chunk_text, chunk_tokens); the final
    * window may be shorter. Scale shape: per-row array slicing +
    * explode — narrow, no shuffle; output size is the token count
    * over stride, bounded and predictable.
    *
    * `tokensCol` plugs in the caller's tokenizer: pass any
    * array<string> Column (a precomputed BPE/SentencePiece piece
    * array, or an inline splitting expression) and the windows are
    * cut on THOSE token boundaries; `sep` is how a chunk's tokens are
    * reassembled into `chunk_text` (subword pieces usually want "").
    * Default (None) keeps the whitespace tokenizer and " " separator,
    * so existing outputs (the q49 oracle) are unchanged.
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int, stride: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     tokensCol: Option[Column] = None,
                     sep: String = " "): DataFrame = {
    require(chunkTokens > 0 && stride > 0, "chunkTokens and stride must be positive")
    val toks = tokensCol.getOrElse(tokens(col(textCol)))
    docs
      .select(col(idCol), toks.as("__toks"),
        explode(sequence(lit(1), size(toks), lit(stride))).as("__st"))
      .select(col(idCol),
        (((col("__st") - 1) / stride).cast("long")).as("chunk_idx"),
        concat_ws(sep, slice(col("__toks"), col("__st"), lit(chunkTokens))).as("chunk_text"),
        size(slice(col("__toks"), col("__st"), lit(chunkTokens))).cast("long").as("chunk_tokens"))
  }

  /** Per-group quantiles of a numeric column — exact by default
    * (`percentile`: a full sort-based aggregate, the cross-engine-
    * comparable definition q24 verifies), or `approx = true` for
    * Spark's Greenwald-Khanna sketch (`percentile_approx`): a
    * fixed-size mergeable summary, the 100 TB path — map-side partial
    * sketches merge like any other aggregation buffer, so the shuffle
    * carries one sketch per group per partition instead of every value.
    */
  def facetQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     probabilities: Seq[Double],
                     approx: Boolean = false): DataFrame = {
    require(probabilities.nonEmpty, "need at least one probability")
    // exact names, not rounded ones: 0.995 -> p99_5 (rounding to p100
    // would collide with 1.0's column and break downstream selects)
    def nameOf(p: Double): String = {
      val pct = p * 100
      if (pct == math.floor(pct)) s"p${pct.toLong}"
      else s"p${pct.toString.replace('.', '_')}"
    }
    val names = probabilities.map(nameOf)
    require(names.distinct.size == names.size,
      s"probabilities produce duplicate column names: $names")
    val aggs = probabilities.zip(names).map { case (p, name) =>
      if (approx) percentile_approx(col(valueCol), lit(p), lit(10000)).as(name)
      else percentile(col(valueCol), lit(p)).as(name)
    }
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Facet profile per group: doc counts, char totals/averages, token
    * totals, exact distinct-text count. `approxDistinct=true` swaps the
    * exact distinct for HyperLogLog `approx_count_distinct` — at 100 TB
    * the exact variant is a full shuffle of text digests per group,
    * while HLL is a fixed-size sketch merged map-side.
    */
  def facetStats(docs: DataFrame, groupCols: Seq[String],
                 textCol: String = "text", nCharsCol: String = "n_chars",
                 approxDistinct: Boolean = false): DataFrame = {
    val distinctAgg =
      if (approxDistinct) approx_count_distinct(col(textCol))
      else count_distinct(col(textCol))
    docs.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(nCharsCol)).as("sum_chars"),
        (sum(col(nCharsCol)).cast("double") / count(lit(1))).as("avg_chars"),
        sum(size(tokens(col(textCol)))).as("sum_tokens"),
        distinctAgg.as("n_distinct_docs"))
  }

  // ---------------------------------------------------------------------
  // Model-quality scoring (n-gram language model)
  // ---------------------------------------------------------------------

  /** N-gram language-model perplexity per document (default bigram;
    * `n=3` for trigram contexts and up), scored against the
    * corpus's own n-gram statistics — the classic LM quality signal for
    * training-data curation (fluent, ordinary text scores low; garbled
    * or machine-generated token soup scores high). Add-k smoothing over
    * the corpus vocabulary keeps unseen bigrams finite:
    * p(w|prev) = (c(prev,w) + k) / (c(prev) + k·V).
    *
    * Output: (id, n_bigrams, cross_entropy, perplexity) with
    * cross_entropy = -(1/n)·Σ log2 p over the doc's bigrams and
    * perplexity = 2^cross_entropy; single-token docs have no bigrams →
    * both NULL.
    *
    * Determinism: floating-point sums are order-dependent, so the
    * per-doc Σ log2 p folds SEQUENTIALLY over the doc's distinct
    * bigrams in (prev, cur) sort order — [[orderedDocSums]] — making
    * scores bit-identical across runs, partitionings, and cluster
    * sizes (the q31/cosine sequential-fold contract; repeated bigrams
    * fold once as multiplicity × log2 p). Spark's LOG/POWER
    * route through StrictMath (fdlibm), so the scores are also
    * platform-stable — but NOT oracle-comparable against engines on a
    * different libm, which is why the registry face of this operator
    * is the integer-exact [[unigramSurprisalBits]].
    *
    * Scale shape: counts are map-side-combinable hash aggs; the doc →
    * model joins are equi-joins on bigram/context keys carrying one row
    * per DISTINCT doc-bigram (never one per token); V and the model
    * tables shuffle once. The per-doc fold is a window over the doc's
    * distinct bigrams, never corpus-sized state.
    */
  def lmPerplexity(docs: DataFrame, addK: Double = 0.5,
                   idCol: String = "doc_id", textCol: String = "text",
                   n: Int = 2): DataFrame = {
    // self-scoring shares ONE n-gram pass between training and scoring:
    // the model's bigram counts are a ROLLUP of the per-doc
    // multiplicities (sums of counts — identical integers to counting
    // the raw pairs), so the corpus n-gram explosion runs once instead
    // of twice, and the [[CurationChain.StageMaterializer]] cut stops the
    // scoring joins from re-exploding it (the r20-before q73 plan: 10
    // corpus scans, 34 exchanges — SCALE_r18).
    val docBg = CurationChain.LocalCheckpointMaterializer("lm_doc_bigrams")(
      docBigramCounts(docs, idCol, textCol, n))
    val c2 = docBg.groupBy("prev", "cur").agg(sum(col("__m")).as("__c2"))
    val vocabRow = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .agg(count_distinct(col("token")).as("__c2"))
      .select(lit(null).cast("string").as("prev"),
        lit(null).cast("string").as("cur"), col("__c2"))
    scoreDocBigrams(docs.select(col(idCol)), docBg,
      c2.unionByName(vocabRow), addK, idCol)
  }

  /** Per-row n-gram (context, token) pairs of a document table — the
    * shared derivation of [[lmTrain]] and [[docBigramCounts]]
    * (narrow, no shuffle). `prev` is the n−1-token context joined on
    * spaces (tokens contain no spaces by the tokenizer's definition,
    * so the join is unambiguous); n=2 keeps the original bigram
    * columns exactly.
    */
  private def docNgrams(docs: DataFrame, idCol: String, textCol: String,
                        n: Int): DataFrame = {
    require(n >= 2, s"an n-gram LM needs n >= 2 (context + token), got $n")
    val ctx = (0 until n - 1).map(j => s"__t[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    docs.select(col(idCol), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(__t) - $n), i -> struct($ctx AS prev, __t[i+${n - 1}] AS cur))"))
        .as("__bg"))
      .select(col(idCol), col("__bg.prev").as("prev"), col("__bg.cur").as("cur"))
  }

  /** Distinct (doc, prev, cur) n-grams with multiplicity `__m` — the
    * join and fold unit of every LM scorer.
    */
  private def docBigramCounts(docs: DataFrame, idCol: String,
                              textCol: String, n: Int): DataFrame =
    docNgrams(docs, idCol, textCol, n)
      .groupBy(col(idCol), col("prev"), col("cur"))
      .agg(count(lit(1)).as("__m"))

  /** The deterministic per-doc double sum every linear scorer folds
    * (the LM and KN perplexities, [[QualityModel]], [[LangModel]]):
    * one row per doc of `joined` — which carries one row per distinct
    * (doc, `orderCols`) key with its multiplicity `__m` — holding
    * `__n` = Σ `__m` and, per term i, `__s<i>` = Σ term_i folded in
    * `orderCols` order.
    *
    * Each term sum is a window sum over the doc partition ordered by
    * the key, unique per doc, so the order is total. Sum's update is
    * coalesce(acc, 0.0) + x applied row by row in sort order: the same
    * IEEE op sequence as the interpreted `aggregate()` fold over
    * `sort_array(collect_list(...))` this replaced (acc = 0.0; acc + x
    * per element, key-ascending), so scores are bit-identical across
    * runs and partitionings (the StrictMath fixtures and golden
    * digests pin it), with the adds compiled in WindowExec. Every row
    * of a partition carries the same sums, so the `groupBy` max()
    * selects exactly that value, and it rides the window's hash
    * partitioning (no new exchange).
    */
  private[ext] def orderedDocSums(joined: DataFrame, idCol: String,
                                  orderCols: Seq[String],
                                  terms: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(idCol)).orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined
      .select(col(idCol) +: col("__m") +: terms.zipWithIndex.map { case (t, i) =>
        sum(t).over(byKey).as(s"__s$i") }: _*)
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("__n"), terms.indices.map(i =>
        max(col(s"__s$i")).as(s"__s$i")): _*)
  }

  /** The LM scorers' shared tail: fold each doc's m·log2 p over its
    * distinct bigrams, turn the sum into cross-entropy and perplexity,
    * and left-join back so docs with no bigrams score NULL.
    */
  private def perplexityOf(docIds: DataFrame, scored: DataFrame,
                           idCol: String): DataFrame = {
    val perDoc = orderedDocSums(scored, idCol, Seq("prev", "cur"),
        Seq(col("__m").cast("double") * col("__logp")))
      .select(col(idCol), col("__n").as("n_bigrams"),
        (negate(col("__s0")) / col("__n").cast("double")).as("cross_entropy"))
      .withColumn("perplexity", pow(lit(2.0), col("cross_entropy")))
    docIds.join(perDoc, Seq(idCol), "left")
  }

  /** Train the n-gram LM ONCE (default bigram; the model is bound to
    * its training `n` like the MinHash index is to its banding — score
    * with the same order) and get a persistable model — the CCNet
    * operational shape: fit on a trusted corpus, write the model as
    * parquet, score every candidate batch against it with
    * [[lmPerplexityAgainst]] (the LM sibling of [[Dedup.minHashIndex]]
    * and [[Similarity.ivfTrain]]).
    *
    * Model layout, one DataFrame: bigram rows (prev, cur, __c2) plus a
    * single VOCAB MARKER row (prev NULL, cur NULL, __c2 = vocabulary
    * size — the count of distinct corpus tokens, which smoothing needs
    * and bigram rows alone can't recover: a token seen only in
    * single-token documents appears in no bigram). Context counts
    * derive from the bigram rows at score time (a model-sized
    * aggregate, never a corpus rescan).
    */
  def lmTrain(corpus: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", n: Int = 2): DataFrame = {
    val c2 = docNgrams(corpus, idCol, textCol, n)
      .groupBy("prev", "cur").agg(count(lit(1)).as("__c2"))
    val vocabRow = corpus
      .select(explode(tokens(col(textCol))).as("token"))
      .agg(count_distinct(col("token")).as("__c2"))
      .select(lit(null).cast("string").as("prev"),
        lit(null).cast("string").as("cur"), col("__c2"))
    c2.unionByName(vocabRow)
  }

  /** Score a document batch against a PRE-TRAINED bigram model (see
    * [[lmTrain]]): add-k smoothing handles bigrams and contexts the
    * model never saw (count 0), so out-of-domain text scores HIGH
    * perplexity rather than failing — which is the point of the
    * operator. Same determinism contract as [[lmPerplexity]] (sorted
    * sequential fold, StrictMath): scoring the training corpus against
    * its own model reproduces [[lmPerplexity]] bit-for-bit.
    */
  def lmPerplexityAgainst(docs: DataFrame, model: DataFrame, addK: Double = 0.5,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 2): DataFrame = {
    scoreDocBigrams(docs.select(col(idCol)),
      docBigramCounts(docs, idCol, textCol, n), model, addK, idCol)
  }

  /** The scoring back half shared by [[lmPerplexity]] (which feeds it a
    * materialized doc-bigram frame so training and scoring split one
    * n-gram pass) and [[lmPerplexityAgainst]] (which derives the frame
    * from the batch). Join and fold sequence unchanged — scores stay
    * bit-identical to the pre-split operator.
    */
  private def scoreDocBigrams(docIds: DataFrame, docBg: DataFrame,
                              model: DataFrame, addK: Double,
                              idCol: String): DataFrame = {
    require(addK > 0, "addK must be positive (k=0 makes unseen n-grams -inf)")
    val c2 = model.where(col("prev").isNotNull)
    val c1 = c2.groupBy("prev").agg(sum(col("__c2")).as("__c1"))
    val vocab = model.where(col("prev").isNull)
      .select(col("__c2").cast("double").as("__v"))
    val scored = docBg
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("prev"), col("cur"), col("__m"),
        (log(2.0, coalesce(col("__c2"), lit(0L)).cast("double") + lit(addK)) -
          log(2.0, coalesce(col("__c1"), lit(0L)).cast("double") + lit(addK) * col("__v")))
          .as("__logp"))
    perplexityOf(docIds, scored, idCol)
  }

  /** Interpolated KNESER-NEY scoring against the SAME persisted model
    * artifact as [[lmPerplexityAgainst]] — KenLM/CCNet's smoother
    * (Kneser & Ney 1995; Chen & Goodman 1999's interpolated variant),
    * which fixes add-k's known bias: a word seen only inside one
    * frequent collocation ("Francisco") gets a LOW continuation
    * probability in novel contexts, because what matters for backoff
    * is in how many DISTINCT contexts a word appears, not how often.
    * Every KN statistic derives from the [[lmTrain]] bigram table —
    * c1(prev)=Σ c2, N1+(prev,·)=rows per prev, N1+(·,cur)=rows per
    * cur, T=total types — so one trained artifact serves both
    * smoothers; retraining is never needed to switch.
    *
    *   P(cur|prev) = max(c2−D,0)/c1 + (D·N1+(prev,·)/c1)·Pcont(cur)
    *   (unseen prev → Pcont(cur) alone);
    *   Pcont(cur) = (N1+(·,cur)+1)/(T+V+1)
    *
    * — add-one on the continuation distribution instead of carrying a
    * trained `<unk>` token (the KenLM way), so unseen words score
    * finite out of the box: a documented totality departure, same
    * spirit as add-k's. Determinism contract identical to
    * [[lmPerplexityAgainst]] (distinct doc-bigram join unit, sorted
    * sequential fold, StrictMath libm) — libm-bound, so spec-gated
    * (q144), not SQL-oracled. Scale shape: the same joins as the
    * add-k face plus one more model-cardinality equi-join (the
    * continuation counts); nothing new shuffles.
    */
  def knPerplexityAgainst(docs: DataFrame, model: DataFrame,
                          discount: Double = 0.75,
                          idCol: String = "doc_id", textCol: String = "text",
                          n: Int = 2): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"knPerplexityAgainst: discount must be in (0,1), got $discount")
    val c2 = model.where(col("prev").isNotNull)
    val c1 = c2.groupBy("prev").agg(sum(col("__c2")).as("__c1"),
      count(lit(1)).as("__n1p_prev"))
    val contCur = c2.groupBy("cur").agg(count(lit(1)).as("__n1p_cur"))
    val totals = c2.agg(count(lit(1)).cast("double").as("__t"))
      .crossJoin(model.where(col("prev").isNull)
        .select(col("__c2").cast("double").as("__v")))
    // the probability tree, in a FIXED associativity (the spec's
    // independent model mirrors it term for term)
    val pcont = (coalesce(col("__n1p_cur"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__t") + col("__v") + lit(1.0))
    val pSeen =
      greatest(coalesce(col("__c2"), lit(0L)).cast("double") - lit(discount),
        lit(0.0)) / col("__c1").cast("double") +
        lit(discount) * col("__n1p_prev").cast("double") /
          col("__c1").cast("double") * pcont
    val p = when(col("__c1").isNotNull, pSeen).otherwise(pcont)
    val scored = docBigramCounts(docs, idCol, textCol, n)
      .join(c2, Seq("prev", "cur"), "left")
      .join(c1, Seq("prev"), "left")
      .join(contCur, Seq("cur"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), col("prev"), col("cur"), col("__m"),
        log(2.0, p).as("__logp"))
    perplexityOf(docs.select(col(idCol)), scored, idCol)
  }

  /** Keep-rate rollup of any report frame carrying a boolean `keep`
    * (the Gopher/URL-quality/policy report shape) by an arbitrary
    * grouping column — the per-DOMAIN curation analysis published
    * pipelines run to turn per-document verdicts into source-level
    * decisions ("this host fails quality 90% of the time → blocklist
    * candidate"). Scale shape: one map-side-combinable aggregation on
    * the group key; the rate is a single IEEE division (exact
    * cross-engine — the q78 rule).
    */
  def keepRateBy(report: DataFrame, groupCol: String): DataFrame =
    report.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_keep"))
      .select(col(groupCol), col("n_docs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"))

  /** Integer-EXACT unigram surprisal profile — the oracle-verifiable
    * face of LM quality scoring. True cross-entropy needs libm logs,
    * whose last-ULP behavior differs across engines (documented at q65
    * for the same reason), so this scores each token by its
    * BIT-LENGTH surprisal: bitlen(N) - bitlen(cf(t)) ∈ [log2(N/cf),
    * log2(N/cf) + 1) bits — a within-1-bit integer quantization of
    * -log2 p(t) computed with pure integer/string ops (`bin` length;
    * no floating point until one final IEEE division, which is exact
    * cross-engine). Rare-token-heavy (low-quality or off-distribution)
    * docs score high, common fluent text scores low — same ranking
    * signal as [[lmPerplexity]], exactly reproducible anywhere.
    *
    * Output: (id, n_tokens, surprisal_bits, avg_bits). Scale shape:
    * one map-side-combinable token-count agg, an equi-join carrying one
    * row per distinct doc-token, and integer sums — order-independent
    * by construction.
    */
  def unigramSurprisalBits(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val words = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val cf = words.groupBy("token").agg(count(lit(1)).as("__cf"))
    val total = cf.agg(sum(col("__cf")).as("__n"))
    val docTok = words.groupBy(col(idCol), col("token")).agg(count(lit(1)).as("__m"))
    docTok.join(cf, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(sum(col("__m")).as("n_tokens"),
        sum(col("__m") * (length(bin(col("__n"))) - length(bin(col("__cf")))).cast("long"))
          .as("surprisal_bits"))
      .withColumn("avg_bits",
        col("surprisal_bits").cast("double") / col("n_tokens").cast("double"))
  }
}
