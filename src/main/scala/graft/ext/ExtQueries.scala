package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** CORRECTNESS registry for the LLM-data-pipeline operators over the
  * driver's `documents`/`embeddings` fixtures. Each query is an
  * end-to-end run of one [[TextOps]]/[[Dedup]]/[[Similarity]] operator
  * with an equivalent DuckDB oracle; the two approximate operators
  * (ANN, SimHash) have no SQL-expressible oracle and are registered
  * without one (driver rows-only check) — their accuracy is asserted
  * against exact baselines in ExtSpec instead.
  */
object ExtQueries {

  /** The driver's corpus fixtures are single-file, SINGLE-ROW-GROUP
    * parquet — Spark cannot split one row group, so without an explicit
    * fan-out every text/embedding operator's map side (shingling,
    * MinHash, regex profiles, cosine loops — the CPU-heavy stages
    * BEFORE the first exchange) runs as ONE task regardless of cores.
    * Fan the scan out once at the read: the text bytes moved are
    * trivial next to the per-document compute unlocked (measured ~3×
    * on the shingle-join family at sf0.1/local[32]). No pushdown is
    * lost — the corpus queries scan every document by design. At
    * 100 TB ingest files arrive with many row groups and this
    * repartition collapses to a cheap even-out; single-row-group
    * ingest (one hot shard) is exactly when it is load-bearing.
    */
  private def fanOut(df: DataFrame, spark: SparkSession): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
  private def docs(spark: SparkSession, dir: String): DataFrame =
    fanOut(Parquet.read(spark, s"$dir/documents.parquet"), spark)
  private def emb(spark: SparkSession, dir: String): DataFrame =
    fanOut(Parquet.read(spark, s"$dir/embeddings.parquet"), spark)

  /** Spark-visible scratch location for session-shared artifacts (the
    * pair graph, the MinHash index). `graft.scratch.dir` may point to
    * any URI every executor can reach — the lake root, an HDFS/S3
    * scratch bucket; the artifact lands under
    * `<root>/<artifact>/<appId>_<corpusHash>`. Without the conf, LOCAL
    * masters fall back to a driver temp dir (bench/test plumbing), and
    * a non-local deployment fails fast instead of silently writing
    * parquet to per-node local disks that no other executor can read.
    */
  private def scratchPath(spark: SparkSession, artifact: String, dir: String): String = {
    // full MD5 of the corpus dir: a 32-bit tag gives two corpora in one
    // application a ~2⁻³² path collision, where the second build would
    // silently overwrite parquet the first may still be reading — an
    // artifact path is not a place to spend collision probability
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    spark.conf.getOption("graft.scratch.dir") match {
      case Some(root) =>
        s"$root/$artifact/${spark.sparkContext.applicationId}_$tag"
      case None =>
        require(spark.sparkContext.isLocal,
          s"graft.scratch.dir must be set on a cluster: the shared $artifact " +
            "artifact needs a location every executor can read (lake root or " +
            "an HDFS/S3 scratch URI); a driver-local temp dir only works in local mode")
        java.nio.file.Files.createTempDirectory(s"graft_$artifact").toString
    }
  }

  /** The near-dup PAIR GRAPH shared by every keep policy over the same
    * corpus (q23 keeps the lowest id, q44 keeps the best member): the
    * signature + banding + exact-verify pipeline runs ONCE per
    * (session, corpus) and lands as parquet ([[Dedup.writePairGraph]])
    * under [[scratchPath]]; each consumer is then a cheap parquet scan
    * plus its own clustering/keep pass instead of a full re-derivation.
    * At 100 TB the pair graph is the expensive artifact — recomputing
    * it per policy doubles the dominant cost for byte-identical input.
    */
  private val pairGraphMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedPairGraph(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = pairGraphMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "pair_graph", dir)
      Dedup.writePairGraph(docs(spark, dir), p, shingleSize = 3, threshold = 0.8)
      p
    })
    Parquet.read(spark, path)
  }

  /** Marker-token language profiles (sorted by language, which is the
    * argmax tie-break order).
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("table", "join", "fast"),
    "en" -> Seq("the", "a", "value"),
    "es" -> Seq("row", "scan", "query"),
    "fr" -> Seq("sort", "merge", "line"),
    "zh" -> Seq("hash", "key", "window"))

  def q07(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir)).orderBy("doc_id")

  def q08(spark: SparkSession, dir: String): DataFrame =
    TextOps.facetStats(docs(spark, dir), Seq("lang", "source"))
      .withColumn("sum_tokens", col("sum_tokens").cast("long"))
      .orderBy("lang", "source")

  def q09(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityMetrics(docs(spark, dir))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_types").cast("long").as("n_types"), col("ttr"),
        col("avg_token_len"), col("quality_band"))
      .orderBy("doc_id")

  def q10(spark: SparkSession, dir: String): DataFrame =
    TextOps.languageId(docs(spark, dir), langProfiles)
      .select(col("doc_id"), col("lang"), col("lang_cand"),
        col("score").cast("long").as("score"))
      .orderBy("doc_id")

  def q11(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  def q12(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupMinHash(docs(spark, dir), shingleSize = 3, threshold = 0.8)
      .orderBy("a_id", "b_id")

  def q13(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupNgramJaccard(docs(spark, dir), shingleSize = 2, threshold = 0.7)
      .orderBy("a_id", "b_id")

  def q14(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(emb(spark, dir), threshold = 0.45)
      .orderBy("a_id", "b_id")

  def q15(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(emb(spark, dir), k = 5)
      .orderBy("vec_id", "rnk")

  def q16(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopK(emb(spark, dir), k = 5)
      .orderBy("vec_id", "rnk")

  def q17(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupSimHash(docs(spark, dir), maxHamming = 3)
      .orderBy("a_id", "b_id")

  /** The full near-dedup flow: LSH pairs → connected components → keep
    * each cluster's lowest-id member. The pair set comes from the
    * [[sharedPairGraph]] so q23 and q44 (same pairs, different keep
    * policy) pay for one signature job, not two.
    */
  def q23(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupNearDups(docs(spark, dir), sharedPairGraph(spark, dir))
      .orderBy("doc_id")

  def q26(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(emb(spark, dir), k = 5)
      .orderBy("vec_id", "rnk")

  /** As-of join: each event looks up the user's latest order placed at
    * or before the event (times compared as integral epoch-micros on
    * both engines).
    */
  def q27(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Queries.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val o = Parquet.read(spark, s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("user_id"),
        (unix_millis(col("o_orderdate").cast("timestamp")) * 1000).as("ous"))
    AsOfJoin.asOf(e, o, keyCols = Seq("user_id"),
      leftTs = "us", rightTs = "ous", tieBreak = "o_orderkey",
      rightPayload = Seq("o_orderkey"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"),
        col("asof_ts"))
      .orderBy("event_id")
  }

  /** Range join: same-user event pairs within one hour (grid-binned
    * interval join, strictly-later second event).
    */
  def q28(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Queries.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    RangeJoin.coOccurrence(e, keyCols = Seq("user_id"), idCol = "event_id",
      tsCol = "us", maxGap = 3600000000L)
      .orderBy("user_id", "a_id", "b_id")
  }

  /** Decontamination: every 20th document plays the "benchmark" set; the
    * remaining training docs are scored by distinct shared 5-grams.
    */
  def q30(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bench = d.where(col("doc_id") % 20 === 0)
    val train = d.where(col("doc_id") % 20 =!= 0)
    TextOps.contamination(train, bench, shingleSize = 5)
      .select(col("doc_id"), col("n_hits"))
      .orderBy("doc_id")
  }

  /** Quality-aware near-dedup: clusters from the same LSH pair set as
    * q23 — literally the same [[sharedPairGraph]] parquet — but each
    * cluster keeps its LONGEST member (n_chars, ties → min id), the
    * keep-the-best-duplicate policy.
    */
  def q44(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupNearDupsBest(docs(spark, dir), sharedPairGraph(spark, dir),
      scoreCol = "n_chars")
      .orderBy("doc_id")

  /** Overlapping 64-token chunks every 48 tokens (RAG windowing). */
  def q49(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocuments(docs(spark, dir), chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  /** Deterministic 20-docs-per-language eval sample. */
  def q50(spark: SparkSession, dir: String): DataFrame =
    Sampling.samplePerGroup(docs(spark, dir), k = 20, keyCol = "lang")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Top duplicated 8-token spans across documents (boilerplate radar). */
  def q51(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(spark, dir), spanTokens = 8, minDocs = 2, topK = 100)

  /** Top-3 key terms per document by rational tf-idf. */
  def q52(spark: SparkSession, dir: String): DataFrame =
    TextOps.keyTerms(docs(spark, dir), k = 3)
      .orderBy("doc_id", "rank")

  /** Gap-filled daily event counts per type with running cumulative. */
  def q54(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.resampleDaily(graft.Queries.events(spark, dir),
      keyCol = "event_type", tsCol = "ts")
      .orderBy("event_type", "day")

  /** Per-language winsorized doc lengths (5th/95th pct clip + flag). */
  def q56(spark: SparkSession, dir: String): DataFrame =
    Sampling.winsorizeByGroup(docs(spark, dir), keyCol = "lang",
      valueCol = "n_chars", pLo = 0.05, pHi = 0.95)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("n_chars_clipped"), col("is_clipped"))
      .orderBy("doc_id")

  /** Distributed dense ids == global row_number, no 1-partition window. */
  def q57(spark: SparkSession, dir: String): DataFrame =
    Ids.orderedIds(docs(spark, dir).select(col("doc_id"), col("n_chars")),
      orderCols = Seq("n_chars", "doc_id"), nPartitions = 8)
      .orderBy("doc_id")

  /** Data-quality gate over orders: scalar rules in one scan + a
    * referential orphan check, one report row per rule.
    */
  def q58(spark: SparkSession, dir: String): DataFrame = {
    val orders = Parquet.read(spark, s"$dir/orders.parquet")
    val customer = Parquet.read(spark, s"$dir/customer.parquet")
    val scalar = Checks.report(orders, Seq(
      Checks.Rule("null_custkey", col("o_custkey").isNull),
      Checks.Rule("totalprice_over_400k", col("o_totalprice") > 400000),
      Checks.Rule("unknown_status", !col("o_orderstatus").isin("F", "O", "P"))))
    val ref = Checks.orphans(orders, customer, "orphan_custkey",
      "o_custkey", "c_custkey")
    scalar.unionByName(ref).orderBy("rule")
  }

  /** Rolling 7-day z-score anomalies on the gap-filled event series. */
  def q59(spark: SparkSession, dir: String): DataFrame =
    TimeSeries.dailyAnomalies(
      TimeSeries.resampleDaily(graft.Queries.events(spark, dir),
        keyCol = "event_type", tsCol = "ts"),
      keyCol = "event_type")
      .select(col("event_type"), col("day"), col("n_events"),
        col("zscore"), col("is_anomaly"))
      .orderBy("event_type", "day")

  /** Column profile of orders (null + exact distinct counts per column). */
  def q60(spark: SparkSession, dir: String): DataFrame =
    Checks.profile(Parquet.read(spark, s"$dir/orders.parquet"),
      Seq("o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey"))
      .orderBy("col_name")

  /** Salted skew-safe join == plain inner join (the oracle proves it). */
  def q62(spark: SparkSession, dir: String): DataFrame =
    Joins.salted(
      Parquet.read(spark, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
      Parquet.read(spark, s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_name")),
      keys = Seq("o_custkey"), buckets = 8)
      .orderBy("o_orderkey")

  /** Length-weighted importance sample (~30% of docs, longer preferred). */
  def q64(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(docs(spark, dir), weightCol = "n_chars",
      fraction = 0.3)
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")

  /** Temperature (sqrt) rebalancing across languages. */
  def q48(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(docs(spark, dir), keyCol = "lang")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Packed-bin materialization: the concatenated training windows. */
  def q47(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequencesText(docs(spark, dir), capacity = 2048, shardCols = Seq("lang"))
      .orderBy("lang", "bin_id")

  /** Corpus-derived stopword fraction (top-10 token list). */
  def q45(spark: SparkSession, dir: String): DataFrame =
    TextOps.stopwordFraction(docs(spark, dir), topK = 10)
      .select(col("doc_id"), col("stopword_frac"))
      .orderBy("doc_id")

  /** Incremental near-dup: every 10th doc plays the "incoming batch",
    * matched against the remaining corpus (cross-set pairs only).
    */
  /** Incremental near-dup probes the PERSISTED corpus index (built once
    * per (session, corpus) like [[sharedPairGraph]]) — the operational
    * model the operator exists for: at 100 TB the banding IS the index
    * and each ingest batch pays only its own hashing + the band join.
    * Output ≡ the direct operator by construction (ExtSpec round-trip).
    */
  private val minHashIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Persisted substring-window index (corpus = `doc_id % 10 <> 0`),
    * parquet-round-tripped once per session like [[sharedMinHashIndex]].
    */
  private val substringIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedSubstringIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = substringIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "substr_index", dir)
      Dedup.substringIndex(docs(spark, dir).where(col("doc_id") % 10 =!= 0),
        minTokens = 8).write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Incremental exact-substring cut ([[Dedup.stripExactSubstringsAgainstIndex]]):
    * strip from the `doc_id % 10 = 0` batch every ≥8-token run that
    * already exists in the corpus's persisted window index — the
    * cross-set, first-seen-wins face of q110 (q74's batch/corpus split).
    */
  def q112(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripExactSubstringsAgainstIndex(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedSubstringIndex(spark, dir), minTokens = 8)
      .select(col("doc_id"), col("text"), col("n_cut_tokens"))
      .orderBy("doc_id")

  /** Persisted CHAR-grain substring-window index (corpus =
    * `doc_id % 10 <> 0`), parquet-round-tripped once per session like
    * [[sharedSubstringIndex]].
    */
  private val charSubstringIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedCharSubstringIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = charSubstringIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "char_substr_index", dir)
      Dedup.charSubstringIndex(docs(spark, dir).where(col("doc_id") % 10 =!= 0),
        minChars = 50).write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Incremental exact-substring cut at CHAR grain
    * ([[Dedup.stripExactCharSubstringsAgainstIndex]]): strip from the
    * `doc_id % 10 = 0` batch every ≥50-char run that already exists in
    * the corpus's persisted char-window index — q112's cross-set,
    * first-seen-wins face at q122's native Lee-et-al. granularity,
    * completing the build-once/probe-forever shape for the char family.
    */
  def q125(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripExactCharSubstringsAgainstIndex(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedCharSubstringIndex(spark, dir), minChars = 50)
      .select(col("doc_id"), col("text"), col("n_cut_chars"))
      .orderBy("doc_id")
  private[graft] def sharedMinHashIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = minHashIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "mh_index", dir)
      Dedup.minHashIndex(docs(spark, dir).where(col("doc_id") % 10 =!= 0),
        shingleSize = 3).write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  def q46(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupMinHashAgainstIndex(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedMinHashIndex(spark, dir),
      shingleSize = 3, threshold = 0.8)
      .orderBy("a_id", "b_id")

  /** Embedding hygiene stats (dims / L2 norm / max |component|). */
  def q31(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingStats(emb(spark, dir))
      .orderBy("vec_id")

  /** Reproducible train/val/test split assignment (md5-bucketed). */
  def q32(spark: SparkSession, dir: String): DataFrame =
    Sampling.assignSplit(docs(spark, dir),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .select(col("doc_id"), col("split"))
      .orderBy("doc_id")

  /** Mixture sampling by language: per-group keep rates, incl. a zero
    * rate and an unlisted group (both fully dropped).
    */
  def q33(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(docs(spark, dir),
      Map("de" -> 0.5, "en" -> 1.0, "es" -> 0.25, "fr" -> 0.0),
      keyCol = "lang")
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")

  /** Gopher-style repetition metrics per document. */
  def q35(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionMetrics(docs(spark, dir))
      .select(col("doc_id"), col("dup_bigram_frac"), col("dup_trigram_frac"),
        col("top_token_frac"))
      .orderBy("doc_id")

  /** Sequence packing into 2048-token bins, sharded by language. */
  def q34(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(spark, dir), capacity = 2048, shardCols = Seq("lang"))
      .orderBy("lang", "bin_id")

  /** The shared Spark/DuckDB construction of a PII-bearing contact note
    * per customer (the fixtures carry no raw PII, so the note is built
    * deterministically from customer columns — the REDACTION itself is
    * what the query verifies, hash-exact): an email derived from the
    * name, a phone, and — every 3rd customer — a 16-digit card number.
    */
  private val piiNoteSql: String =
    """'contact ' || c_name || ' <' || lower(replace(c_name, '#', '.')) ||
      |'@example.com> or (555) ' ||
      |lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') || '-' ||
      |lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
      |CASE WHEN c_custkey % 3 = 0
      |     THEN ' card 4' || lpad(CAST(c_custkey AS VARCHAR), 15, '0')
      |     ELSE '' END""".stripMargin.replace("\n", " ")

  private def piiNote: org.apache.spark.sql.Column =
    concat(lit("contact "), col("c_name"), lit(" <"),
      lower(regexp_replace(col("c_name"), "#", ".")), lit("@example.com> or (555) "),
      lpad((col("c_custkey") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("c_custkey") % 10000).cast("string"), 4, "0"),
      when(col("c_custkey") % 3 === 0,
        concat(lit(" card 4"), lpad(col("c_custkey").cast("string"), 15, "0")))
        .otherwise(lit("")))

  /** PII redaction scan over per-customer contact notes. */
  def q36(spark: SparkSession, dir: String): DataFrame =
    Privacy.piiScan(
      Parquet.read(spark, s"$dir/customer.parquet")
        .select(col("c_custkey").as("custkey"), piiNote.as("note")),
      "note")
      .select("custkey", "redacted", "n_emails", "n_cards", "n_phones")
      .orderBy("custkey")

  /** The shared URL enrichment of the documents table (fixture texts
    * carry no URLs; the EXTRACTION/grouping is what the query checks).
    */
  private val urlTextSql: String =
    """text || ' https://' || source || '.example.com/doc/' ||
      |CAST(doc_id AS VARCHAR) ||
      |CASE WHEN doc_id % 3 = 0
      |     THEN ' http://mirror.example.net/d/' || CAST(doc_id AS VARCHAR)
      |     ELSE '' END""".stripMargin.replace("\n", " ")

  private def urlText: org.apache.spark.sql.Column =
    concat(col("text"), lit(" https://"), col("source"), lit(".example.com/doc/"),
      col("doc_id").cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" http://mirror.example.net/d/"), col("doc_id").cast("string")))
        .otherwise(lit("")))

  /** One synthetic source URL per document, shaped so the CANONICALIZER
    * does real work: ~50 pages per source shared across documents, with
    * per-document tracking params, scheme-case variance, optional
    * trailing slash, and optional fragments — all of which must
    * collapse to one canonical key per (source, page).
    */
  private def sourceUrl: org.apache.spark.sql.Column =
    concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
      when(col("doc_id") % 7 === 0, lit("www.")).otherwise(lit("")),
      col("source"), lit(".Example.com"),
      when(col("doc_id") % 11 === 0, lit(":443")).otherwise(lit("")),
      lit("/Page/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 < 2,
        concat(lit("?utm_source=s"), col("doc_id").cast("string"), lit("&a=1&b=2")))
        .otherwise(
          concat(lit("?b=2&utm_campaign=c"), col("doc_id").cast("string"), lit("&a=1"))),
      when(col("doc_id") % 3 === 0,
        concat(lit("#frag"), col("doc_id").cast("string"))).otherwise(lit("")))

  private val sourceUrlSql: String =
    """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) ||
      |(CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END) ||
      |source || '.Example.com' ||
      |(CASE WHEN doc_id % 11 = 0 THEN ':443' ELSE '' END) ||
      |'/Page/' || CAST(doc_id % 50 AS VARCHAR) ||
      |(CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      |(CASE WHEN doc_id % 4 < 2
      |      THEN '?utm_source=s' || CAST(doc_id AS VARCHAR) || '&a=1&b=2'
      |      ELSE '?b=2&utm_campaign=c' || CAST(doc_id AS VARCHAR) || '&a=1' END) ||
      |(CASE WHEN doc_id % 3 = 0
      |      THEN '#frag' || CAST(doc_id AS VARCHAR) ELSE '' END)""".stripMargin.replace("\n", " ")

  /** URL-level dedup ([[Dedup.urlDedup]]): RefinedWeb's stage-1 cut —
    * keep one document per canonical source-URL key
    * ([[TextOps.canonicalUrlKey]]), min doc_id wins. The synthetic URL
    * column (above) gives every (source, doc_id % 50) page ~10
    * scheme-case / www. / default-port / tracking / param-order /
    * slash / fragment variants that must all collapse. Exact-oracled:
    * every canonicalization step is an anchored or global
    * regexp/array op in the RE2 ∩ Java ∩ DuckDB subset, replayed
    * verbatim in DuckDB.
    */
  def q126(spark: SparkSession, dir: String): DataFrame =
    Dedup.urlDedup(
      docs(spark, dir).select(col("doc_id"), sourceUrl.as("url")))
      .select(col("doc_id"), col("url_key"))
      .orderBy("doc_id")

  /** Synthetic HTML page per document — the real `text`/`source`
    * columns wrapped in a crafted page that exercises every extraction
    * rule: title with entities, a style block, a script subtree whose
    * STRING contains `</div>` (must vanish whole), a comment, block
    * structure (h1/p/ul/li/footer), two hrefs, and raw
    * `&lt;`/`&#39;`/`&nbsp;` entities in body text. Scala and SQL in
    * lockstep, the [[sourceUrl]] pattern.
    */
  private def sourceHtml: org.apache.spark.sql.Column =
    concat(
      lit("<!DOCTYPE html><html"),
      when(col("doc_id") % 2 === 0, lit(" lang=\"EN\"")).otherwise(lit("")),
      lit("><head>"),
      // %6==1/%6==4: residues coprime to the %3==0 'frag' URL cut, so
      // the policy rule bites docs the crawl front half otherwise
      // KEEPS (q147's composition must be non-vacuous)
      when(col("doc_id") % 6 === 1,
        lit("<meta name=\"robots\" content=\"NOINDEX, follow\">"))
        .when(col("doc_id") % 6 === 4,
          lit("<meta name=\"robots\" content=\"index, nofollow\">"))
        .otherwise(lit("")),
      lit("<meta name=\"description\" content=\"Doc about "),
      col("source"),
      lit(" &amp; co\"><title> Doc "),
      col("doc_id").cast("string"),
      lit(" &amp; notes </title><style type=\"text/css\">p { color: red; }" +
        "</style><script>var x = 1 < 2 && \"</div>\";</script></head>" +
        "<body><!-- hidden --><div id=\"main\"><h1>"),
      col("source"),
      lit("</h1><p>"), col("text"),
      lit("</p><ul><li><a href=\"https://"), col("source"),
      lit(".example.com/page/"), (col("doc_id") % 50).cast("string"),
      lit("\">Link A</a></li><li>&lt;raw&gt; &#39;q&#39;&nbsp;B</li></ul>" +
        "</div><footer><a href=\"HTTPS://Mirror.example.net/\">mirror</a>" +
        "</footer></body></html>"))

  private val sourceHtmlSql: String =
    """'<!DOCTYPE html><html' ||
      |(CASE WHEN doc_id % 2 = 0 THEN ' lang="EN"' ELSE '' END) ||
      |'><head>' ||
      |(CASE WHEN doc_id % 6 = 1 THEN '<meta name="robots" content="NOINDEX, follow">'
      |      WHEN doc_id % 6 = 4 THEN '<meta name="robots" content="index, nofollow">'
      |      ELSE '' END) ||
      |'<meta name="description" content="Doc about ' || source ||
      |' &amp; co"><title> Doc ' || CAST(doc_id AS VARCHAR) ||
      |' &amp; notes </title><style type="text/css">p { color: red; }</style><script>var x = 1 < 2 && "</div>";</script></head><body><!-- hidden --><div id="main"><h1>' ||
      |source || '</h1><p>' || text ||
      |'</p><ul><li><a href="https://' || source || '.example.com/page/' || CAST(doc_id % 50 AS VARCHAR) ||
      |'">Link A</a></li><li>&lt;raw&gt; &#39;q&#39;&nbsp;B</li></ul></div><footer><a href="HTTPS://Mirror.example.net/">mirror</a></footer></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** HTML → text extraction ([[Html.htmlToText]]): the web-ingest
    * front door — plain text, decoded title, and the outbound hrefs
    * out of every synthetic page (above). Exact-oracled: the whole
    * chain is deterministic regexp work in the RE2 ∩ Java subset,
    * and the oracle interpolates [[Html.oracleSqlExpr]] — the SAME
    * pattern constants the Spark expression compiles from. Scale
    * shape: one narrow codegen projection over the scan, no shuffle
    * until the final order-by.
    */
  def q127(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), sourceHtml.as("html"))
      .select(col("doc_id"),
        Html.htmlTitle(col("html")).as("title"),
        Html.htmlLang(col("html")).as("lang"),
        Html.htmlMetaContent(col("html"), "description").as("meta_desc"),
        Html.htmlToText(col("html")).as("text"),
        size(Html.htmlLinks(col("html"))).cast("long").as("n_links"),
        try_element_at(Html.htmlLinks(col("html")), lit(1)).as("first_href"))
      .orderBy("doc_id")

  /** Deterministic in-code WARC fixture — warcinfo + six responses
    * + one request, serialized with real framing and PER-RECORD gzip
    * members like a crawl shard, written under java.io.tmpdir (same
    * bytes every run; the registry has no WARC table in the sf dirs).
    * The fixture exists so q128 exercises the REAL distributed path:
    * binaryFiles → multi-member GZIPInputStream → streaming parse.
    */
  private def warcFixturePath(): String = {
    import graft.io.Warc
    def resp(url: String, date: String, id: Int, status: Int, html: String) =
      Warc.record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> url,
        "WARC-Date" -> date,
        "WARC-Record-ID" -> s"<urn:uuid:$id>",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(status, "text/html; charset=UTF-8", html))
    val records = Seq(
      Warc.record(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2017-03-06T04:02:00Z",
        "WARC-Record-ID" -> "<urn:uuid:0>",
        "Content-Type" -> "application/warc-fields"),
        "software: graft-fixture\r\n".getBytes("UTF-8")),
      resp("https://www.Example.com/a?utm_source=x&b=2&a=1",
        "2017-03-06T04:02:06Z", 1, 200,
        "<html><head><title>Alpha</title></head><body><p>Hello &amp; " +
          "welcome</p><p>Second line</p></body></html>"),
      Warc.record(Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> "https://www.Example.com/a",
        "WARC-Date" -> "2017-03-06T04:02:06Z",
        "WARC-Record-ID" -> "<urn:uuid:2>",
        "Content-Type" -> "application/http; msgtype=request"),
        "GET /a HTTP/1.1\r\nHost: www.example.com\r\n\r\n".getBytes("UTF-8")),
      resp("http://example.com:80/b", "2020-01-01T00:00:00Z", 3, 200,
        "<div>Beta page</div><script>x()</script>"),
      resp("https://example.com/c", "2021-06-15T12:30:45Z", 4, 404,
        "<p>Not found</p>"),
      // the full crawl envelope stack in wire order — body gzipped then
      // chunked, charset ISO-8859-1 (0xE9 = é) — the reader must undo
      // all three layers to produce 'Café page'
      locally {
        val gz = Warc.gzipMember("<p>Café page</p>".getBytes("ISO-8859-1"))
        val chunked = (gz.length.toHexString + "\r\n").getBytes("ISO-8859-1") ++
          gz ++ "\r\n0\r\n\r\n".getBytes("ISO-8859-1")
        Warc.record(Seq(
          "WARC-Type" -> "response",
          "WARC-Target-URI" -> "https://example.com/d",
          "WARC-Date" -> "2022-02-02T02:02:02Z",
          "WARC-Record-ID" -> "<urn:uuid:5>",
          "Content-Type" -> "application/http; msgtype=response"),
          ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n" +
            "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n")
            .getBytes("ISO-8859-1") ++ chunked)
      },
      // meta-declared charsets with NO transport charset — the WHATWG
      // prescan must decode them (<meta charset> form in ISO-8859-1;
      // http-equiv form in windows-1251); without the prescan both
      // pages would extract with U+FFFD damage
      Warc.record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://example.com/e",
        "WARC-Date" -> "2023-03-03T03:03:03Z",
        "WARC-Record-ID" -> "<urn:uuid:6>",
        "Content-Type" -> "application/http; msgtype=response"),
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes("ISO-8859-1") ++
          ("<html><head><meta charset=\"ISO-8859-1\"></head>" +
            "<body><p>Smörgåsbord</p></body></html>").getBytes("ISO-8859-1")),
      Warc.record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> "https://example.com/f",
        "WARC-Date" -> "2024-04-04T04:04:04Z",
        "WARC-Record-ID" -> "<urn:uuid:7>",
        "Content-Type" -> "application/http; msgtype=response"),
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes("ISO-8859-1") ++
          ("<html><head><meta http-equiv=\"Content-Type\" " +
            "content=\"text/html; charset=windows-1251\"></head>" +
            "<body><p>Привет мир</p></body></html>").getBytes("windows-1251")))
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warc_fixture")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("fixture.warc.gz")
    java.nio.file.Files.write(f,
      records.map(Warc.gzipMember).reduce(_ ++ _))
    f.toString
  }

  /** WARC → text, end to end ([[graft.io.Warc.responses]] →
    * [[Html.htmlToText]] → [[TextOps.canonicalUrlKey]]): the complete
    * web-ingest front door — crawl container in, per-page plain text
    * + canonical URL key out (including through chunked transfer coding,
    * gzip content-encoding, and a non-UTF-8 charset in one record), ready for the q126 URL cut and every
    * content stage after it. Exact-oracled against hand-computed
    * VALUES: the parser must reproduce them through real file I/O,
    * per-record gzip members, HTTP envelope split, and the extraction
    * chain. The request/warcinfo records prove the response filter.
    */
  def q128(spark: SparkSession, dir: String): DataFrame = {
    val path = warcFixturePath()
    graft.io.Warc.responses(spark, path)
      .select(col("url"),
        TextOps.canonicalUrlKey(col("url")).as("url_key"),
        col("ts").cast("long").as("ts_epoch"),
        col("http_status"),
        Html.htmlTitle(col("html")).as("title"),
        Html.htmlToText(col("html")).as("text"))
      .orderBy("url")
  }

  /** Main-content extraction ([[Html.htmlMainText]]): q127's page
    * through the jusText/Trafilatura-style line density rule — the
    * crafted boilerplate (title line, h1 source name, link-list items,
    * the entity line, the footer mirror link) is short/link-heavy and
    * must fall; the document's real prose survives. Exact-oracled via
    * [[Html.mainTextOracleSqlExpr]] (DuckDB list lambdas replaying
    * Spark's split → filter → transform → join).
    */
  def q129(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), sourceHtml.as("html"))
      .select(col("doc_id"),
        Html.htmlMainText(col("html")).as("main_text"))
      .orderBy("doc_id")

  /** Block-context main-content extraction ([[Html.htmlMainTextBlocks]]):
    * q129's line rule plus jusText's context-sensitive second pass — a
    * line failing the density rule survives when both neighbors pass
    * it (content-internal citations/links), while edge boilerplate
    * still falls. Exact-oracled: the rescue is a list-lambda replay
    * over the same strip/link/good snippets as q129's oracle (ExtSpec
    * carries the differential fixture where the two rules disagree).
    */
  def q135(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), sourceHtml.as("html"))
      .select(col("doc_id"),
        Html.htmlMainTextBlocks(col("html")).as("main_text"))
      .orderBy("doc_id")

  /** URL filtering stage ([[TextOps.urlQualityReport]]): RefinedWeb's
    * blocklist + word-score cut over the synthetic source URLs —
    * src3's host is blocklisted (exact + subdomain suffix), 'frag'
    * is a banned word (hits the doc_id%3 fragment variants), and the
    * digit/length/depth stats ride along. Exact-oracled: every rule is
    * row-local regex/CASE replayed verbatim.
    */
  def q130(spark: SparkSession, dir: String): DataFrame =
    TextOps.urlQualityReport(
      docs(spark, dir).select(col("doc_id"), sourceUrl.as("url")),
      blockedHosts = Seq("src3.example.com"),
      bannedWords = Seq("casino", "frag"))
      .orderBy("doc_id")

  /** The composed crawl FRONT HALF as one chain — the RefinedWeb
    * stage sequence the r15 operators exist for, end to end with one
    * exact oracle: URL filtering (q130's rules) → URL-level dedup
    * (q126's canonical cut) → HTML → text extraction (q127) → the
    * per-page token/line stats the content stages key on. Each stage
    * feeds the next exactly as a production pipeline would; the
    * oracle replays the whole composition as chained CTEs built from
    * the same constants. Scale shape: stages 1 and 3 are row-local
    * projections; the only shuffle is q126's 8-byte key-hash winner
    * election (plus the harness order-by).
    */
  def q131(spark: SparkSession, dir: String): DataFrame =
    crawlFrontHalf(spark, dir, respectNoindex = false)

  /** q147 — the same front half with the robots noindex opt-out wired
    * in as one more row-local predicate (the batch face of the
    * streaming ingest's `respectNoindex`; q142 surfaces the policy,
    * this composes it). Oracle: the SHARED q131 chain with the meta
    * rule injected — the composition's oracle re-derives the rule,
    * not the fixture pattern.
    */
  def q147(spark: SparkSession, dir: String): DataFrame =
    crawlFrontHalf(spark, dir, respectNoindex = true)

  private def crawlFrontHalf(spark: SparkSession, dir: String,
                             respectNoindex: Boolean): DataFrame = {
    val pages = docs(spark, dir)
      .select(col("doc_id"), sourceUrl.as("url"), sourceHtml.as("html"))
    // the quality cut is row-local: a bare predicate, not a report +
    // semi join — zero extra scans/exchanges in the chain plan; the
    // policy cut (q147) is one more predicate on the same scan
    val filtered = pages.where(TextOps.urlQualityKeep(col("url"),
      blockedHosts = Seq("src3.example.com"),
      bannedWords = Seq("casino", "frag")))
      .where(if (respectNoindex) !Html.robotsNoindex(col("html"))
             else lit(true))
    // the dedup KEY honors a declared canonical (q150's rule — mirrors
    // collapse onto their origin); the quality cut above stays on the
    // FETCH url (policy applies to what was actually fetched)
    val text = Dedup.urlDedup(
      filtered.withColumn("__durl",
        Html.declaredCanonicalOr(col("url"), col("html"))),
      urlCol = "__durl")
      .select(col("doc_id"), col("url_key"),
        Html.htmlToText(col("html")).as("text"))
    text
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
      .withColumn("n_lines", size(split(col("text"), "\n")).cast("long"))
      .orderBy("doc_id")
  }

  /** Shared constants of the MIXED-TYPE crawl fixture (q132/q133):
    * the fixture writer serializes exactly these (url, warc_type,
    * routing content-type, payload) tuples as WARC bytes, and the
    * q132/q133 oracles interpolate the SAME tuples into their VALUES
    * tables — so the Spark side must reproduce every one through real
    * gzip file I/O, HTTP envelope split, and charset decode before
    * the replayed chain even starts. Each record exists to exercise
    * one stage of the full pipeline:
    * a = the en keeper; a?utm = URL-dedup loser (same canonical key,
    * higher md5 id — checked by construction); b = exact-dup loser
    * (P1's text, case-shifted, normalizes equal); c = near-dup loser
    * (one trailing token differs → 3-shingle Jaccard 24/26 ≥ 0.8);
    * de/fr = mixture coin (de hex 8617 ≥ '8000' drops; fr rate 0
    * drops); bad = encoding-gate drop (raw 0xFF byte → U+FFFD);
    * notes.txt = text/plain routing (verbatim-normalized, never the
    * HTML chain); logo.png = binary routing (NULL text, dropped);
    * ads/casino = URL-filter drops (blocklist / banned word);
    * bench.example.org = the benchmark definition; contam = shares a
    * 5-gram with the benchmark → decontamination drop; the wet
    * conversion record = WET routing (text/plain, no HTTP envelope).
    */
  private[ext] object CrawlFixture {
    val HtmlCt = "text/html; charset=UTF-8"
    val PlainCt = "text/plain; charset=UTF-8"
    def page(lang: String, text: String): String =
      s"""<html lang="$lang"><body><p>$text</p></body></html>"""

    val P1Text = "the quick brown fox jumps over the lazy dog while the " +
      "curious cat watches from the old wooden fence near the quiet " +
      "garden gate every single morning"
    val P2Text = "The " + P1Text.stripPrefix("the ") // exact dup modulo case
    val P3Text = P1Text.stripSuffix("morning") + "evening" // near dup
    val BenchText = "standardized benchmark question about the annual " +
      "migration of arctic terns across hemispheres"
    val ContamText = "students discussed the annual migration of arctic " +
      "terns during class"
    val DeText = "der schnelle Zug erreicht den Bahnhof immer kurz vor " +
      "Sonnenaufgang und wartet dort geduldig"
    val FrText = "le vieux phare garde la baie tranquille pendant que les " +
      "bateaux rentrent lentement au port"
    val DamagedText = "damaged � byte inside an otherwise ordinary sentence"
    val NotesText = "plain text notes about seasonal rainfall patterns in " +
      "coastal regions\n\nwith a second paragraph about measurement methods\n"
    val WetText = "pre extracted conversion text about river navigation " +
      "and harbor logistics"

    /** (url, warc_type, routing ct, decoded payload), in file order. */
    val Records: Seq[(String, String, String, String)] = Seq(
      ("https://site.example.com/a", "response", HtmlCt, page("en", P1Text)),
      ("https://site.example.com/a?utm_source=feed", "response", HtmlCt,
        page("en", "duplicate fetch of the alpha page")),
      ("https://site.example.com/b", "response", HtmlCt, page("en", P2Text)),
      ("https://site.example.com/c", "response", HtmlCt, page("en", P3Text)),
      ("https://site.example.com/de", "response", HtmlCt, page("de", DeText)),
      ("https://site.example.com/fr", "response", HtmlCt, page("fr", FrText)),
      ("https://site.example.com/contam", "response", HtmlCt, page("en", ContamText)),
      ("https://site.example.com/bad", "response", "text/html", page("en", DamagedText)),
      ("https://site.example.com/notes.txt", "response", PlainCt, NotesText),
      ("https://site.example.com/logo.png", "response", "image/png", "�PNG"),
      ("https://ads.example.net/promo", "response", HtmlCt,
        page("en", "buy now and save big today")),
      ("https://site.example.com/casino-bonus", "response", HtmlCt,
        page("en", "spin to win a casino bonus")),
      ("https://bench.example.org/eval1", "response", HtmlCt, page("en", BenchText)),
      ("https://wet.example.com/w1", "conversion", "text/plain", WetText))

    val BlockedHosts = Seq("ads.example.net")
    val BannedWords = Seq("casino")
    val BenchHostPrefix = "https://bench.example.org/"
    val MixtureRates: Map[String, Double] =
      Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.0)
    val PackCapacity = 32
    val NShards = 4
  }

  /** The mixed fixture on disk — per-record gzip members like a crawl
    * shard ([[warcFixturePath]]'s discipline), plus a warcinfo and a
    * request record the type filter must exclude. The `/bad` page's
    * bytes carry a raw 0xFF (invalid UTF-8 → U+FFFD on decode, no
    * transport/meta charset to save it); `/logo.png` carries PNG magic
    * bytes (binary masquerading as a crawl payload).
    */
  private def warcMixedFixturePath(): String = {
    import graft.io.Warc
    def resp(url: String, ct: String, payload: String, id: Int): Array[Byte] = {
      val body: Array[Byte] =
        if (url.endsWith("/bad"))
          payload.replace('�', 'ÿ').getBytes("ISO-8859-1")
        else if (url.endsWith("/logo.png"))
          Array[Byte](0x89.toByte, 'P', 'N', 'G')
        else payload.getBytes("UTF-8")
      Warc.record(Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> url,
        "WARC-Date" -> f"2025-01-01T00:00:$id%02dZ",
        "WARC-Record-ID" -> s"<urn:uuid:$id>",
        "Content-Type" -> "application/http; msgtype=response"),
        (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n").getBytes("ISO-8859-1") ++ body)
    }
    val content = CrawlFixture.Records.zipWithIndex.map {
      case ((url, "conversion", ct, payload), i) =>
        Warc.record(Seq(
          "WARC-Type" -> "conversion",
          "WARC-Target-URI" -> url,
          "WARC-Date" -> f"2025-01-01T00:00:${i + 1}%02dZ",
          "WARC-Record-ID" -> s"<urn:uuid:${i + 1}>",
          "Content-Type" -> ct),
          payload.getBytes("UTF-8"))
      case ((url, _, ct, payload), i) => resp(url, ct, payload, i + 1)
    }
    val records = Seq(
      Warc.record(Seq(
        "WARC-Type" -> "warcinfo",
        "WARC-Date" -> "2025-01-01T00:00:00Z",
        "WARC-Record-ID" -> "<urn:uuid:0>",
        "Content-Type" -> "application/warc-fields"),
        "software: graft-mixed-fixture\r\n".getBytes("UTF-8"))) ++ content ++ Seq(
      Warc.record(Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> "https://site.example.com/a",
        "WARC-Date" -> "2025-01-01T00:00:59Z",
        "WARC-Record-ID" -> "<urn:uuid:99>",
        "Content-Type" -> "application/http; msgtype=request"),
        "GET /a HTTP/1.1\r\nHost: site.example.com\r\n\r\n".getBytes("UTF-8")))
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_warc_fixture_mixed")
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("fixture.warc.gz")
    java.nio.file.Files.write(f,
      records.map(Warc.gzipMember).reduce(_ ++ _))
    f.toString
  }

  /** A DuckDB string literal: quotes doubled, newlines as chr(10)
    * concatenation (raw newlines inside oracle SQL survive the JSON
    * dump, but the chr(10) spelling keeps the literals one-line
    * readable and matches the repo's other oracles).
    */
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  /** The mixed fixture's records as a VALUES relation — the q132/q133
    * oracles' ground truth, interpolated from [[CrawlFixture.Records]]
    * (the same constants the fixture writer serialized).
    */
  private def crawlValuesSql: String =
    CrawlFixture.Records.map { case (u, t, c, p) =>
      s"(${sqlLit(u)}, ${sqlLit(t)}, ${sqlLit(c)}, ${sqlLit(p)})"
    }.mkString("SELECT * FROM (VALUES\n    ", ",\n    ",
      ") AS t(url, rtype, ct, payload)")

  /** Parse + route the mixed fixture: every content record (response
    * or conversion — warcinfo/request excluded) with its ROUTING
    * content type (the HTTP header's for responses, the record's own
    * for conversions) and decoded payload. The shared front door of
    * q132/q133.
    */
  private def mixedRecords(spark: SparkSession): DataFrame =
    graft.io.Warc.read(spark, warcMixedFixturePath())
      .where(col("warc_type").isin("response", "conversion"))
      .select(col("url"), col("warc_type"),
        when(col("warc_type") === "response", col("http_content_type"))
          .otherwise(col("content_type")).as("ct"),
        col("html").as("payload"))

  /** Content-type routing over the mixed crawl fixture
    * ([[Html.routedText]]): HTML payloads go through the extraction
    * chain, `text/plain` (and WET conversion blocks) land
    * verbatim-normalized — a plain-text document's literal `<tag>` /
    * `&amp;` strings survive, which the HTML chain would eat — and
    * binary payloads rout to NULL. Exact-oracled: the oracle's VALUES
    * are the fixture's own constants and the routing CASE replays via
    * [[Html.routedOracleSqlExpr]].
    */
  def q133(spark: SparkSession, dir: String): DataFrame =
    mixedRecords(spark)
      .select(col("url"), col("warc_type"), col("ct"),
        Html.routedText(col("payload"), col("ct")).as("text"))
      .orderBy("url", "warc_type")

  /** THE FULL PIPELINE, crawl bytes → training-shard manifest, as one
    * composed query: WARC parse → content-type routing (q133) → URL
    * quality filter (q130) → URL dedup (q126) → encoding gate (q84) →
    * normalize-dedup (q85) → MinHash near-dup removal (q12+q23) →
    * decontamination against the benchmark HOST's pages (q30's
    * operator, the eval set defined by provenance as a crawl pipeline
    * would) → per-language mixture (q33) → sequence packing with the
    * packed text itself (q47) → sharded-export manifest (q93). Every
    * stage is an already-oracled operator; the oracle replays the
    * whole composition as chained CTEs from the SAME fixture
    * constants, so the manifest's XOR content checksums pin every
    * byte of every surviving document and the bin structure they
    * packed into.
    *
    * `lang` is the page's self-declared `<html lang>` ('en' default —
    * plain-text/WET records carry no tag), doc ids are the
    * cross-engine 60-bit md5 of (url, warc_type) ([[Export.md5Long60]]
    * — the fixture-grain stand-in for the streaming faces' xxhash64;
    * same determinism, SQL-replayable).
    *
    * Scale shape: this is the q131 front half (row-local projections
    * + one 8-byte-key winner election) feeding the q88 back half
    * (stages only shrink the corpus; the near-dup pair join is the
    * documented LSH shape) feeding q47/q93 (one narrow window per
    * language shard + one small-key-domain aggregate). No stage adds
    * a shuffle its standalone operator doesn't already pay; payloads
    * never ride a shuffle after extraction.
    */
  def q132(spark: SparkSession, dir: String): DataFrame =
    crawlFullChain(spark)

  /** q132's body with the materialization policy injectable — the
    * [[CurationChain.StageMaterializer]] seam the direct composition
    * used to bypass with hard-coded localCheckpoints (a durable
    * deployment lands each boundary as parquet and resumes; the
    * default is bit-identical to the old inlined cuts).
    */
  private[graft] def crawlFullChain(spark: SparkSession,
      mat: CurationChain.StageMaterializer =
        CurationChain.LocalCheckpointMaterializer): DataFrame = {
    import CrawlFixture._
    // the WARC parse + HTML extraction front door is consumed by TWO
    // branches (bench + filtered), and every curation stage below
    // consumes ITS input on 2-4 internal plan branches — so the
    // unmaterialized composition re-ran the gzip decode / envelope
    // split / text extraction dozens of times (the r20-before plan:
    // 30 parquet scans, 60+ exchanges). Cut the lineage once at the
    // front door and at each stage boundary — exactly
    // [[CurationChain.run]]'s StageMaterializer discipline.
    val routed = mat("crawl_routed")(mixedRecords(spark)
      .withColumn("text", Html.routedText(col("payload"), col("ct")))
      .withColumn("lang",
        when(Html.htmlLang(col("payload")) =!= "", Html.htmlLang(col("payload")))
          .otherwise(lit("en")))
      .withColumn("doc_id",
        Export.md5Long60(concat_ws("|", col("url"), col("warc_type"))))
      // the dedup KEY honors a declared canonical on HTML-ish payloads
      // only (q150's rule; a text/plain record QUOTING markup never
      // has a declaration parsed out of it) — policy/bench cuts stay
      // on the fetch url
      .withColumn("durl",
        when(Html.htmlishContentType(col("ct")),
          Html.declaredCanonicalOr(col("url"), col("payload")))
          .otherwise(col("url")))
      .where(col("text").isNotNull)
      .select("doc_id", "url", "durl", "lang", "text"))
    val bench = routed.where(col("url").startsWith(BenchHostPrefix))
    val filtered = routed.where(
      TextOps.urlQualityKeep(col("url"), BlockedHosts, BannedWords))
    val train0 = mat("crawl_train0")(Dedup.urlDedup(filtered, urlCol = "durl")
      .where(!col("url").startsWith(BenchHostPrefix))
      .select("doc_id", "url", "lang", "text"))
    // s1-s3 are pure FILTERS of train0's doc set, so only the surviving
    // 8-byte ids materialize at each boundary (guide §5: the old shape
    // stored three more corpus-text-scale frames in executor blocks);
    // each stage's text input rebuilds lazily as train0 ⋉ ids — train0
    // is already cut, so the rebuild is a block read + a narrow-key
    // semi join, never a recompute of the WARC front door.
    def ofTrain0(ids: DataFrame): DataFrame =
      train0.join(ids, Seq("doc_id"), "left_semi")
    val s1 = ofTrain0(mat("crawl_s1_ids")(
      CurationChain.encodingGate(train0).select("doc_id")))
    val s2 = ofTrain0(mat("crawl_s2_ids")(
      CurationChain.normalizeDedup(s1).select("doc_id")))
    val s3 = ofTrain0(mat("crawl_s3_ids")(
      CurationChain.nearDupDedup(s2, mat).select("doc_id")))
    val s4 = TextOps.decontaminate(s3, bench,
      shingleSize = CurationChain.DeconShingleSize)
    val s5 = Sampling.mixtureSample(s4, MixtureRates, keyCol = "lang")
    val packed = TextOps.packSequencesText(s5, capacity = PackCapacity,
        shardCols = Seq("lang"))
      .withColumn("pack_id", concat_ws(":", col("lang"), col("bin_id")))
    Export.shardManifest(packed, nShards = NShards,
        idCol = "pack_id", textCol = "packed_text")
      .orderBy("shard")
  }

  /** Per-domain link stats over URL-enriched documents. */
  def q37(spark: SparkSession, dir: String): DataFrame =
    TextOps.domainStats(
      docs(spark, dir).select(col("doc_id"), urlText.as("text")))
      .orderBy("domain")

  /** Global top-50 token frequencies (corpus vocabulary profile). */
  def q40(spark: SparkSession, dir: String): DataFrame =
    TextOps.topTokens(docs(spark, dir), k = 50)

  /** Domain blocklist filter over the URL-enriched corpus (q37's
    * enrichment): drop docs linking to the mirror host or to src7's
    * site; survivors joined back for their metadata.
    */
  def q76(spark: SparkSession, dir: String): DataFrame = {
    val enriched = docs(spark, dir).select(col("doc_id"), urlText.as("text"))
    val kept = TextOps.dropByDomain(enriched,
      Seq("mirror.example.net", "src7.example.com"))
    docs(spark, dir).select(col("doc_id"), col("lang"), col("source"))
      .join(kept.select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id")
  }

  /** Character-class composition over part labels (name+brand+type —
    * the fixtures' only mixed-case/digit/punctuation text).
    */
  def q42(spark: SparkSession, dir: String): DataFrame =
    TextOps.charClassProfile(
      Parquet.read(spark, s"$dir/part.parquet")
        .select(col("p_partkey").as("partkey"),
          concat_ws(" ", col("p_name"), col("p_brand"), col("p_type")).as("label")),
      "label")
      .select("partkey", "digit_frac", "upper_frac", "alpha_frac", "symbol_frac")
      .orderBy("partkey")

  /** Integer-exact unigram surprisal — the oracle-verifiable LM quality
    * score (bit-length log2, no libm; see
    * [[TextOps.unigramSurprisalBits]]).
    */
  def q72(spark: SparkSession, dir: String): DataFrame =
    TextOps.unigramSurprisalBits(docs(spark, dir))
      .orderBy("doc_id")

  /** Per-language dedup impact accounting over the shared pair graph
    * (q23/q44's pairs; keep-lowest-id policy).
    */
  def q77(spark: SparkSession, dir: String): DataFrame =
    Dedup.impactReport(docs(spark, dir), sharedPairGraph(spark, dir), Seq("lang"))
      .orderBy("lang")

  /** Per-doc boilerplate fraction: share of token positions covered by
    * 8-token spans occurring in ≥2 documents (q51's span unit,
    * document-level).
    */
  def q78(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateFraction(docs(spark, dir), spanTokens = 8)
      .select(col("doc_id"), col("n_tokens"), col("boilerplate_frac"))
      .orderBy("doc_id")

  /** Boilerplate removal: q78's covered spans stripped from the text
    * (the measure turned into the act).
    */
  def q79(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplate(docs(spark, dir), spanTokens = 8)
      .select(col("doc_id"), col("clean_text"), col("n_tokens"), col("n_removed"))
      .orderBy("doc_id")

  /** Incremental EXACT dedup: the ingest batch (doc_id % 10 == 0, the
    * q46 split) against the corpus digest index — kept rows are new
    * texts, lowest-id-deduped within the batch.
    */
  def q74(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.exactAgainst(
      d.where(col("doc_id") % 10 === 0),
      Dedup.exactIndex(d.where(col("doc_id") % 10 =!= 0)))
      .orderBy("doc_id")
  }

  /** The PERSISTED exact-dedup artifacts: the corpus digest index AND
    * its Bloom sketch, built once per (session, corpus) on the held
    * split and round-tripped through parquet under [[scratchPath]] —
    * the operational shape of [[Dedup.bloomOfIndex]]'s maintenance
    * story (index rolls forward per batch; bloom rebuilds from the
    * compacted index).
    */
  private val bloomIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private[graft] def sharedBloomIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val (ip, bp) = bloomIndexMemo.computeIfAbsent(key, _ => {
      val ip = scratchPath(spark, "exact_index", dir)
      val bp = scratchPath(spark, "exact_bloom", dir)
      Dedup.exactIndex(docs(spark, dir).where(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(ip)
      Dedup.bloomOfIndex(Parquet.read(spark, ip))
        .write.mode("overwrite").parquet(bp)
      (ip, bp)
    })
    (Parquet.read(spark, ip), Parquet.read(spark, bp))
  }

  /** q74's incremental exact dedup THROUGH the Bloom prefilter: the
    * ingest batch (doc_id % 10 == 0) probed against the persisted
    * digest index and its parquet-round-tripped Bloom sketch. The
    * bloom admits no false negatives and the anti-join confirms every
    * positive, so this shares q74's oracle VERBATIM — the oracled
    * proof the prefilter changes the plan, never the answer.
    */
  def q91(spark: SparkSession, dir: String): DataFrame = {
    val (idx, bloom) = sharedBloomIndex(spark, dir)
    Dedup.exactAgainstBloom(
      docs(spark, dir).where(col("doc_id") % 10 === 0), idx, bloom)
      .orderBy("doc_id")
  }

  /** Bigram LM perplexity (true floating-point cross-entropy). libm
    * log/pow last-ULP behavior differs across engines, so like
    * q16/q26 this ships oracle-less: golden-digest-pinned and
    * property-tested in ExtSpec (determinism under repartition,
    * hand-computed fixture, ranking agreement with q72).
    */
  def q73(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmPerplexity(docs(spark, dir), addK = 0.5)
      .orderBy("doc_id")

  /** The PERSISTED LM, trained once per (session, corpus) on the held
    * corpus (doc_id % 10 != 0 — the q46/q74 split) and landed as
    * parquet under [[scratchPath]] — the CCNet operational shape
    * (train on trusted text, score every candidate batch forever).
    */
  private val lmModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedLmModel(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = lmModelMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "lm_model", dir)
      TextOps.lmTrain(docs(spark, dir).where(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Persisted-LM probe: the ingest batch (doc_id % 10 == 0) scored
    * against the PRE-TRAINED parquet model — q73's operator in its
    * operational train-once/score-forever split. Bit-identical to
    * scoring against the in-memory model by the
    * [[TextOps.lmTrain]]/[[TextOps.lmPerplexityAgainst]] contract
    * (exact integer counts round-trip through parquet; ExtSpec pins
    * the equality). libm-bound like q73 → golden-pinned, no SQL
    * oracle.
    */
  def q80(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmPerplexityAgainst(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedLmModel(spark, dir), addK = 0.5)
      .orderBy("doc_id")

  /** The PERSISTED hyperplane-LSH ANN index, built once per (session,
    * corpus) over the held corpus (vec_id % 10 != 0 — the q46/q74/q80
    * split) and landed as parquet under [[scratchPath]] — the
    * embedding-space build-once/probe-forever shape
    * ([[Similarity.annIndex]]).
    */
  private val annIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedAnnIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = annIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "ann_index", dir)
      Similarity.annIndex(emb(spark, dir).where(col("vec_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Persisted-ANN probe: the ingest batch (vec_id % 10 == 0) top-k'd
    * against the PRE-BUILT signature index — q16's operator in its
    * operational split, never re-signing the corpus. Approximate and
    * seeded like q16 → no SQL oracle; ExtSpec pins probe-vs-direct
    * bit-equality, a cross-frame recall floor, and a golden digest.
    */
  def q81(spark: SparkSession, dir: String): DataFrame =
    Similarity.annTopKAgainstIndex(
      emb(spark, dir).where(col("vec_id") % 10 === 0),
      sharedAnnIndex(spark, dir), k = 3)
      .orderBy("vec_id", "rnk")

  /** End-to-end MULTIMODAL near-dup: each document rendered to a real
    * PNG ([[Multimodal.renderTextImage]] — deterministic bytes→pixels
    * bridge from the text testdata), then PNG-decode → 9×8 luminance
    * downsample → 64-bit perceptual dHash → chunked Hamming join
    * ([[Multimodal.nearDupImages]]). Near-dup documents render to
    * near-identical images, so the pairs are real planted structure.
    * ImageIO decode + bilinear resampling can't be spelled in DuckDB
    * → no SQL oracle; MultimodalSpec verifies planted pairs against
    * brute-force pixel distance and pins the sf0.001 pair set.
    */
  def q82(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val assets = docs(spark, dir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        Multimodal.Asset(id, "image", Multimodal.renderTextImage(text)) }
    Multimodal.nearDupImages(assets, maxHamming = 3).orderBy("a_id", "b_id")
  }

  /** The PERSISTED image-signature index: dHash chunk signatures of
    * the held corpus (doc_id % 10 != 0, rendered to real PNGs), built
    * once per (session, corpus) and landed as parquet under
    * [[scratchPath]] — 16 bytes + id per image; probes never re-read
    * or re-decode the corpus payloads.
    */
  private val imgSigIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedImageSigIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = imgSigIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "img_sig_index", dir)
      import spark.implicits._
      Multimodal.dHash(docs(spark, dir).where(col("doc_id") % 10 =!= 0)
          .select(col("doc_id"), col("text")).as[(Long, String)]
          .map { case (id, text) =>
            Multimodal.Asset(id, "image", Multimodal.renderTextImage(text)) })
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Incremental IMAGE dedup: the ingest batch (doc_id % 10 == 0,
    * rendered + dHashed fresh) probed against the PRE-BUILT signature
    * index — q82's operator in its operational split (the q74/q80/q81
    * pattern, now for the image modality). Probe cost ∝ batch; the
    * corpus payloads are never re-decoded. Non-SQL-expressible like
    * q82 → no oracle; MultimodalSpec pins probe-vs-full equivalence
    * and the sf0.001 output.
    */
  def q83(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchSigs = Multimodal.dHash(
      docs(spark, dir).where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.Asset(id, "image", Multimodal.renderTextImage(text)) })
    Dedup.nearDupChunkSigsAgainstIndex(batchSigs, sharedImageSigIndex(spark, dir),
        "asset_id", "phash", maxHamming = 3)
      .orderBy("a_id", "b_id")
  }

  def q84(spark: SparkSession, dir: String): DataFrame =
    TextOps.encodingProfile(docs(spark, dir)).orderBy("doc_id")

  /** Normalize-then-dedup: exact dedup keyed on the canonicalized text
    * ([[TextOps.normalizeText]]) — catches case/whitespace-variant
    * duplicates the byte-exact q07 misses, the usual first dedup pass
    * of a curation pipeline. Same narrow md5-key shuffle as q07.
    */
  def q85(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(
      docs(spark, dir).withColumn("__norm", TextOps.normalizeText(col("text"))),
      "doc_id", "__norm")
      .drop("__norm")
      .orderBy("doc_id")

  /** SemDeDup-style semantic dedup over embeddings (k-means cells +
    * within-cell cosine + keep-lowest-id). KMeans makes it
    * approximate/seeded like q16/q26 → no SQL oracle; golden-pinned
    * and exactness-anchored (nClusters=1 ≡ brute force) in ExtSpec.
    */
  def q75(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(emb(spark, dir), threshold = 0.45)
      .select(col("vec_id"))
      .orderBy("vec_id")

  /** Trainable quality-classifier score over the corpus, self-trained
    * with the `lang = 'en'` weak label (the classic "trusted slice vs
    * the rest" recipe on this corpus's only categorical text facet).
    * libm-bound like q73 (ln/exp in weights and sigmoid) → no SQL
    * oracle; golden-pinned and fixture-verified in ExtSpec.
    */
  def q86(spark: SparkSession, dir: String): DataFrame =
    QualityModel.qualityScore(
      docs(spark, dir).withColumn("label", col("lang") === "en"))
      .orderBy("doc_id")

  /** The PERSISTED quality model, trained once per (session, corpus)
    * on the held corpus (doc_id % 10 != 0 — the q46/q74/q80 split)
    * and landed as parquet under [[scratchPath]] — train-once/
    * score-forever, the GPT-3 quality-filter operational shape.
    */
  private val qualityModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedQualityModel(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = qualityModelMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "quality_model", dir)
      QualityModel.qualityTrain(
        docs(spark, dir).where(col("doc_id") % 10 =!= 0)
          .withColumn("label", col("lang") === "en"))
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Persisted-quality-model probe: the ingest batch (doc_id % 10 ==
    * 0) scored against the PRE-TRAINED parquet model — q86's operator
    * in its operational split, the model never refit. Bit-identical
    * to the in-memory model (exact integer counts round-trip through
    * parquet; ExtSpec pins the equality). libm-bound like q86 →
    * golden-pinned, no SQL oracle.
    */
  def q87(spark: SparkSession, dir: String): DataFrame =
    QualityModel.qualityScoreAgainst(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedQualityModel(spark, dir))
      .orderBy("doc_id")

  /** The PERSISTED language-ID model ([[LangModel]]), trained once per
    * (session, corpus) on the held split with the corpus's own `lang`
    * facet as the label (the self-supervised fit a curation pipeline
    * bootstraps from its already-routed slice) and landed as parquet —
    * train-once/route-forever, the fastText-lid operational shape.
    */
  private val langModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedLangModel(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = langModelMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "lang_model", dir)
      LangModel.langTrain(docs(spark, dir).where(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Trained-language-ID probe: the ingest slice (doc_id % 10 == 0)
    * routed by the PRE-TRAINED persisted char-n-gram NB model — q87's
    * operational split for language identification, replacing the
    * fixed marker profiles (q10) with a model fit from labeled text.
    * libm-bound (ln in priors/likelihoods) → golden-pinned, no SQL
    * oracle; ExtSpec pins hand-computed likelihoods, separability,
    * parquet-round-trip bit-identity, and the digest.
    */
  def q134(spark: SparkSession, dir: String): DataFrame =
    LangModel.langScoreAgainst(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedLangModel(spark, dir))
      .orderBy("doc_id")

  /** The CCNet pipeline routed by the TRAINED persisted lang model
    * ([[CcNet.curateWithModel]] over q134's model) — the
    * published shape end to end: model-predicted language →
    * per-language LM surprisal → head/middle/tail bands → band
    * sampling. libm-bound twice over (NB likelihoods + LM surprisal)
    * → golden-pinned; ExtSpec pins marker-vs-model face equality on
    * crafted corpora and the abstention cut.
    */
  def q136(spark: SparkSession, dir: String): DataFrame =
    CcNet.curateWithModel(
      docs(spark, dir).drop("lang"),
      sharedLangModel(spark, dir))
      .select("doc_id", "lang_cand", "band")
      .orderBy("doc_id")

  /** The predictions artifact built once per (session, corpus) from the
    * shared trained model over the full corpus
    * ([[LangModel.writePredictions]]) — the score-once/probe-forever
    * face SCALE_r18's q136 measurement points at.
    */
  private val predictionsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedPredictions(spark: SparkSession, dir: String): String = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    predictionsMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "lang_predictions", dir)
      LangModel.writePredictions(spark, docs(spark, dir).drop("lang"),
        sharedLangModel(spark, dir), p)
      p
    })
  }

  /** q136 through the PERSISTED predictions artifact
    * ([[CcNet.curateWithPredictions]] over [[sharedPredictions]]):
    * the production probe — the corpus's dominant linear cost (the
    * trained scorer, measured ~0.55 ms/doc in SCALE_r18) is paid once
    * at build time; every curation probe after that is the cheap back
    * half (abstention cut → surprisal → bands → band sampling).
    * Bit-identical to q136 (parquet round-trips the scores unchanged —
    * ExtSpec pins it); libm-bound like q136 → spec-gated, no SQL
    * oracle.
    */
  def q158(spark: SparkSession, dir: String): DataFrame =
    CcNet.curateWithPredictions(
      docs(spark, dir).drop("lang"),
      LangModel.predictions(spark, sharedPredictions(spark, dir)))
      .select("doc_id", "lang_cand", "band")
      .orderBy("doc_id")

  /** Synthetic OUTLINK page per document — the link-graph fixture
    * ([[sourceUrl]]'s lockstep Scala/SQL pattern). Each page carries:
    * a cross-host link whose target varies NON-uniformly
    * (`src{(doc_id²)%20}` — quadratic residues mod 20, so in-degrees
    * range from 0 to 4 linking hosts and four hosts link to
    * themselves, exercising the self-edge drop), a hub link with
    * case/www/port noise the host fold must collapse (duplicated for
    * doc_id%4==0 — n_links vs n_pages diverge), an explicit self
    * link, a relative href, and a mailto: (the last three must all
    * drop out of the graph). The cross-host link's anchor TEXT (q141)
    * alternates between an entity+nested-tag form ("read &amp; learn
    * <b>now</b>" — the normalization must decode and strip) and five
    * "topic k" phrase variants.
    */
  private def sourceLinkHtml: org.apache.spark.sql.Column =
    concat(
      lit("<html><body><p>Doc "), col("doc_id").cast("string"), lit("</p>"),
      lit("<a href=\"https://src"),
      ((col("doc_id") * col("doc_id")) % 20).cast("string"),
      lit(".example.com/p/"), (col("doc_id") % 7).cast("string"), lit("\">"),
      when(col("doc_id") % 2 === 0, lit("read &amp; learn <b>now</b>"))
        .otherwise(concat(lit("topic "), (col("doc_id") % 5).cast("string"))),
      lit("</a>"),
      lit("<a href=\"HTTP://www.Hub"), (col("doc_id") % 3).cast("string"),
      lit(".Example.net:8080/x?q=1\">h</a>"),
      when(col("doc_id") % 4 === 0,
        concat(lit("<a href=\"HTTP://www.Hub"),
          (col("doc_id") % 3).cast("string"),
          lit(".Example.net:8080/x?q=1\">h2</a>"))).otherwise(lit("")),
      lit("<a href=\"https://"), col("source"), lit(".example.com/self\">s</a>"),
      lit("<a href=\"/about\">rel</a><a href=\"mailto:ops@example.org\">m</a>"),
      lit("</body></html>"))

  private val sourceLinkHtmlSql: String =
    """'<html><body><p>Doc ' || CAST(doc_id AS VARCHAR) || '</p>' ||
      |'<a href="https://src' || CAST((doc_id * doc_id) % 20 AS VARCHAR) ||
      |'.example.com/p/' || CAST(doc_id % 7 AS VARCHAR) || '">' ||
      |(CASE WHEN doc_id % 2 = 0 THEN 'read &amp; learn <b>now</b>'
      |      ELSE 'topic ' || CAST(doc_id % 5 AS VARCHAR) END) || '</a>' ||
      |'<a href="HTTP://www.Hub' || CAST(doc_id % 3 AS VARCHAR) ||
      |'.Example.net:8080/x?q=1">h</a>' ||
      |(CASE WHEN doc_id % 4 = 0
      |      THEN '<a href="HTTP://www.Hub' || CAST(doc_id % 3 AS VARCHAR) ||
      |           '.Example.net:8080/x?q=1">h2</a>' ELSE '' END) ||
      |'<a href="https://' || source || '.example.com/self">s</a>' ||
      |'<a href="/about">rel</a><a href="mailto:ops@example.org">m</a>' ||
      |'</body></html>'""".stripMargin.replace("\n", " ")

  /** The synthetic link pages as a (doc_id, url, html) frame — the
    * shared input of the q137/q138/q140 graph family.
    */
  private def linkPages(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), sourceUrl.as("url"),
      sourceLinkHtml.as("html"))

  /** Canonical-declaration fixture (q150): every page keeps the
    * variant-rich [[sourceUrl]] as its FETCH url; doc_id%3==0 pages
    * are MIRRORS — they declare an absolute canonical on a different
    * host entirely (`origin.example.org/item/<doc_id%25>`, the
    * syndicated-copy shape no fetch-URL canonicalization can see);
    * %3==1 pages declare a RELATIVE canonical (must be ignored — the
    * absolute-only contract); %3==2 pages declare none. Scala and SQL
    * in lockstep, the [[sourceUrl]] pattern.
    */
  private def sourceCanonHtml: org.apache.spark.sql.Column =
    concat(
      lit("<html><head>"),
      when(col("doc_id") % 3 === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://origin.example.org/item/"),
          (col("doc_id") % 25).cast("string"), lit("\">")))
        .when(col("doc_id") % 3 === 1,
          lit("<link rel=\"canonical\" href=\"/canonical/relative\">"))
        .otherwise(lit("")),
      lit("</head><body><p>Doc "), col("doc_id").cast("string"),
      lit("</p></body></html>"))

  private val sourceCanonHtmlSql: String =
    """'<html><head>' ||
      |(CASE WHEN doc_id % 3 = 0
      |      THEN '<link rel="canonical" href="https://origin.example.org/item/' ||
      |           CAST(doc_id % 25 AS VARCHAR) || '">'
      |      WHEN doc_id % 3 = 1
      |      THEN '<link rel="canonical" href="/canonical/relative">'
      |      ELSE '' END) ||
      |'</head><body><p>Doc ' || CAST(doc_id AS VARCHAR) || '</p></body></html>'"""
      .stripMargin.replace("\n", " ")

  /** The anchor-keyword BLOCK CUT composed onto the page frame
    * ([[LinkGraph.anchorKeywordKeep]]): q149's signal consumed the way
    * production consumes it — hosts whose inbound-anchor keyword rate
    * reaches 0.5 drop with every page they serve, hosts with no
    * profile keep (absent evidence is not a block verdict). The
    * broadcast LEFT-ANTI join means the page side never shuffles
    * (plan-pinned). Exact-oracled: the q149 signal CTEs + the ≥-cut +
    * an anti join, all exact integers/one division.
    */
  def q152(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.anchorKeywordKeep(
      linkPages(spark, dir).select(col("doc_id"), col("url")),
      LinkGraph.anchorTexts(linkPages(spark, dir)),
      keywords = Seq("now", "topic 4"), maxRate = 0.5)
      .select(col("doc_id"), col("host"))
      .orderBy("doc_id")

  /** DOMAIN-grain link graph ([[LinkGraph.domainEdges]]): the q137
    * edges folded to registered domains (eTLD+1) — the grain where
    * subdomain farms collapse to one voice. On the fixture every
    * src/hub HOST collapses into its registered domain, so the entire
    * src→hub link mass folds onto ONE inter-domain edge whose exact
    * n_links/n_pages counts the oracle must reproduce (the host-grain
    * graph has ~76 edges at sf0.01 — the fold is drastic and its
    * arithmetic is fully checked); cross-subdomain navigation drops
    * as domain-grain self-edges. LinkGraphSpec carries the
    * multi-label-suffix (co.uk) and short-host semantics.
    */
  def q154(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.domainEdges(linkPages(spark, dir))
      .orderBy("src_host", "dst_host")

  /** Per-SOURCE page cap ([[LinkGraph.hostOf]] →
    * [[Sampling.samplePerGroup]]): the single-source dominance bound
    * the published recipes apply beside the quality cuts — no host
    * contributes more than k pages, chosen by the deterministic
    * seeded md5 order (reproducible, order-insensitive, and unbiased
    * w.r.t. doc ids — a plain "first k by id" would systematically
    * prefer early-crawled pages). [[LinkGraph.domainOf]] is the
    * drop-in key for the registered-domain grain (this fixture's
    * hosts all share one registered domain, so the host grain is the
    * non-degenerate demonstration). Exact-oracled: the md5 ordering +
    * id tiebreak replay verbatim (q50's discipline) over the shared
    * host fold.
    */
  def q155(spark: SparkSession, dir: String): DataFrame =
    Sampling.samplePerGroup(
      docs(spark, dir).select(col("doc_id"), sourceUrl.as("url"))
        .withColumn("host", LinkGraph.hostOf(col("url"))),
      k = 3, keyCol = "host")
      .select(col("doc_id"), col("host"))
      .orderBy("doc_id")

  /** THE FULLY-GATED FRONT HALF — every ingest gate the repo ships, in
    * production order, one oracled chain: URL quality (q130) → robots
    * noindex (q142) → PERSISTED-rank prior (q148's snapshot — the
    * previous-crawl artifact) → anchor-keyword block (q152) →
    * canonical-aware URL dedup (q150) → extraction + stats. The cheap
    * row-local gates and the two BROADCAST cuts run before dedup and
    * extraction, so twins and blocked pages never pay the regex chain
    * — the ordering a 100 TB ingest needs, pinned as one composition.
    * Non-vacuous at every stage on the fixture: the rank cut keeps
    * only the strongly-endorsed host tiers, the anchor block then
    * removes the "now"-anchored hosts among them, and the survivors
    * still carry canonical/tracking variants for the dedup to fold.
    */
  def q153(spark: SparkSession, dir: String): DataFrame =
    gatedFrontHalf(spark, dir)

  /** q153's body with the materialization policy injectable (the
    * [[CurationChain.StageMaterializer]] seam; default bit-identical).
    */
  private[graft] def gatedFrontHalf(spark: SparkSession, dir: String,
      mat: CurationChain.StageMaterializer =
        CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val pages = docs(spark, dir)
      .select(col("doc_id"), sourceUrl.as("url"), sourceHtml.as("html"))
    val policy = pages
      .where(TextOps.urlQualityKeep(col("url"),
        blockedHosts = Seq("src3.example.com"),
        bannedWords = Seq("casino", "frag")))
      .where(!Html.robotsNoindex(col("html")))
    val snap = sharedRankSnapshot(spark, dir)
    val rank = LinkGraph.rankSnapshot(spark, snap)
    // threshold floor from the snapshot's LANDED n_hosts/damping — no
    // scan-and-count per probe; same IEEE ops, so bit-identical to the
    // build-side derivation
    val meta = LinkGraph.rankSnapshotMeta(spark, snap)
    val ranked = LinkGraph.hostRankKeep(policy, rank,
      minRank = 1.5 * meta.floor).drop("host", "rank")
    val gated = LinkGraph.anchorKeywordKeep(ranked,
      LinkGraph.anchorTexts(linkPages(spark, dir)),
      keywords = Seq("now", "topic 4"), maxRate = 0.5)
    // urlDedup consumes its input TWICE (winner election + join back),
    // and this input's lineage is the whole policy → rank → anchor gate
    // chain over raw HTML payloads — cut it once so the HTML parsing
    // (robots/canonical extraction) runs one time, not two. The cut
    // frame is NARROW (id, host, dedup key — the html payload stays out
    // of executor block storage, guide §5/§8): the survivors' html
    // re-attaches by unique doc_id from the raw page scan, so the text
    // extraction still runs once, on survivors only.
    val gatedKeys = mat("gated_durl")(
      gated.withColumn("__durl",
        Html.declaredCanonicalOr(col("url"), col("html")))
        .select("doc_id", "host", "__durl"))
    Dedup.urlDedup(gatedKeys, urlCol = "__durl")
      .join(pages.select(col("doc_id"), col("html")), Seq("doc_id"))
      .select(col("doc_id"), col("host"), col("url_key"),
        Html.htmlToText(col("html")).as("text"))
      .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast("long"))
      .orderBy("doc_id")
  }

  /** CJK-text fixture (q151): zh-lang documents get a real Han tail
    * appended (no synthesized corpus — the driver text plus a constant
    * suffix, Scala/SQL lockstep), so the segmentation router has
    * actual spaceless-script bytes to work on; every other language's
    * text is untouched.
    */
  private def cjkDocText: org.apache.spark.sql.Column =
    when(col("lang") === "zh",
      concat(col("text"), lit(" 数据质量与去重分片评估管道")))
      .otherwise(col("text"))
  private val cjkDocTextSql: String =
    "(CASE WHEN lang = 'zh' THEN text || ' 数据质量与去重分片评估管道' " +
      "ELSE text END)"

  /** CJK-safe sequence packing ([[TextOps.cjkSegmentText]] →
    * [[TextOps.packSequences]]): the per-language tokenizer routing
    * composed into the training-side consumer — zh documents are
    * re-spaced on character boundaries BEFORE the whitespace token
    * counter, so the zh shard's bins fill by real token counts (one
    * Chinese sentence is no longer "one word"); de/en/es/fr bins are
    * bit-identical to q34's. Exact-oracled: the segmentation regex +
    * the q34 packing CTEs replay verbatim.
    */
  def q151(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(
      docs(spark, dir).withColumn("text",
        TextOps.cjkSegmentText(cjkDocText, col("lang"))),
      capacity = 2048, shardCols = Seq("lang"))
      .orderBy("lang", "bin_id")

  /** Canonical-aware URL dedup ([[Html.declaredCanonicalOr]] feeding
    * [[Dedup.urlDedup]]): q126's cut with the page's own declaration
    * honored — mirror pages collapse onto the origin they declare
    * (cross-HOST, which no fetch-URL rule can do), relative
    * declarations are ignored, undeclared pages key on the fetch URL
    * exactly as before. Exact-oracled: the declaration CASE + the
    * q126 canonicalization chain replay verbatim.
    */
  def q150(spark: SparkSession, dir: String): DataFrame =
    Dedup.urlDedup(
      docs(spark, dir)
        .select(col("doc_id"), sourceUrl.as("url"), sourceCanonHtml.as("html"))
        .withColumn("__durl",
          Html.declaredCanonicalOr(col("url"), col("html"))),
      urlCol = "__durl")
      .select(col("doc_id"), col("url_key"))
      .orderBy("doc_id")

  /** Host-level link-graph edges ([[LinkGraph.hostEdges]]): the crawl
    * corpus reduced to its endorsement structure — Common Crawl's
    * host "webgraph" artifact. Exact-oracled: href extraction, host
    * folding, self/host-less drops, and the pair aggregation all
    * replay verbatim in DuckDB.
    */
  def q137(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.hostEdges(linkPages(spark, dir))
      .orderBy("src_host", "dst_host")

  /** Host centrality ([[LinkGraph.hostRank]]): 3-iteration PageRank
    * over the q137 graph — the link-based quality prior. Exact-oracled
    * bit-for-bit: the per-node contribution sums run as sorted
    * sequential folds in BOTH engines (see [[LinkGraph]]'s
    * determinism note), and every constant is interpolated in its
    * round-trip double form, so the oracle replays the identical
    * IEEE op sequence as 3 chained CTEs.
    */
  def q138(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.hostRank(LinkGraph.hostEdges(linkPages(spark, dir)),
      iterations = 3)
      .orderBy("host")

  /** Link-WEIGHTED host centrality ([[LinkGraph.hostRank]] with
    * `weightedByLinks`): each source host's vote splits by link count
    * instead of uniformly — the endorsement-intensity variant of
    * q138. Exact-oracled bit-for-bit by the same sorted-fold replay
    * (weights are integer-valued doubles, so every weight sum is
    * exact in any order; the contribution tree is (rank·w)/Σw).
    */
  def q146(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.hostRank(LinkGraph.hostEdges(linkPages(spark, dir)),
      iterations = 3, weightedByLinks = true)
      .orderBy("host")

  /** The PERSISTED rank snapshot, built once per (session, corpus)
    * from the fixture graph at q138's parameters and landed under
    * [[scratchPath]] ([[LinkGraph.writeRankSnapshot]]) — the
    * build-once/probe-forever face of the centrality family (the
    * pair-graph/ANN-index pattern).
    */
  private val rankSnapshotMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedRankSnapshot(spark: SparkSession, dir: String): String = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    rankSnapshotMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "rank_snapshot", dir)
      LinkGraph.writeRankSnapshot(spark,
        LinkGraph.hostEdges(linkPages(spark, dir)), p, iterations = 3)
      p
    })
  }

  /** Persisted-rank page cut ([[LinkGraph.hostRankKeep]]): pages
    * probed against the PRE-BUILT rank snapshot at 1.5× the
    * un-endorsed floor `(1-d)/n` (see [[LinkGraph.hostRankKeep]]'s
    * threshold note; the fixture's page-host rank tiers sit at 1.85×,
    * 1.82×, 1.21×, and 1.00× the floor at every sf, so the bar keeps
    * the two strongly-endorsed tiers and drops the rest — non-vacuous
    * both ways with a wide ulp margin) — q140's prior in its
    * production form (score against a persisted previous-snapshot
    * rank, not raw in-degree). Exact-oracled end to end: parquet
    * round-trips the q138-replay ranks bit-exactly, and the threshold
    * is the same IEEE `1.5·((1−0.85)/n)` op sequence in both engines,
    * so the comparison replays on identical bits.
    */
  def q148(spark: SparkSession, dir: String): DataFrame = {
    val snap = sharedRankSnapshot(spark, dir)
    val rank = LinkGraph.rankSnapshot(spark, snap)
    // the floor derives from the snapshot's landed metadata (n_hosts +
    // damping) — the probe never counts the rank table
    LinkGraph.hostRankKeep(
      linkPages(spark, dir).select(col("doc_id"), col("url")),
      rank, minRank = 1.5 * LinkGraph.rankSnapshotMeta(spark, snap).floor)
      .select(col("doc_id"), col("host"), col("rank"))
      .orderBy("doc_id")
  }

  /** Seeded deterministic training order ([[Export.trainingOrder]]):
    * the epoch-shuffle primitive — shard + dense within-shard
    * position, both pure functions of (seed, doc_id), no global sort.
    * Exact-oracled: md5 hex-fold, modulo, and the per-shard
    * row_number replay verbatim in DuckDB.
    */
  def q139(spark: SparkSession, dir: String): DataFrame =
    Export.trainingOrder(
      docs(spark, dir).select(col("doc_id")), nShards = 6, seed = "epoch0")
      .orderBy("doc_id")

  /** The link-graph QUALITY PRIOR applied as a page cut
    * ([[LinkGraph.hostPriorKeep]]): keep pages whose host at least 2
    * distinct other hosts link to — what no content heuristic can
    * see. Composes q137's edges into a broadcast filter on the page
    * frame (the corpus side never shuffles; plan-pinned).
    */
  def q140(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.hostPriorKeep(
      linkPages(spark, dir).select(col("doc_id"), col("url")),
      LinkGraph.hostEdges(linkPages(spark, dir)), minInHosts = 2)
      .select(col("doc_id"), col("host"), col("in_hosts"))
      .orderBy("doc_id")

  /** Page indexing-policy report ([[Html.robotsDirectives]]): the
    * publisher's `<meta name="robots">` opt-out surfaced per page —
    * the compliance cut the streaming ingest honors by default
    * (`respectNoindex`). The fixture plants "NOINDEX, follow" on
    * doc_id%6==1 (case fold must catch it) and "index, nofollow" on
    * %6==4; `keep` is the not-noindex rule. Exact-oracled via the
    * shared meta replay ([[Html.metaOracleSqlExpr]]).
    */
  def q142(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), sourceHtml.as("html"))
      .select(col("doc_id"),
        Html.robotsDirectives(col("html")).as("robots"),
        Html.robotsNoindex(col("html")).as("noindex"),
        Html.robotsNofollow(col("html")).as("nofollow"),
        (!Html.robotsNoindex(col("html"))).as("keep"))
      .orderBy("doc_id")

  /** Per-HOST quality rollup ([[TextOps.keepRateBy]] over
    * [[TextOps.gopherRules]] verdicts joined to the source hosts):
    * the per-domain analysis that turns per-document verdicts into
    * source-level decisions — a host failing quality most of the time
    * is a blocklist candidate, feeding back into the q130/q140 cuts.
    * Exact-oracled: the q116 report CTE is shared verbatim (one
    * source of truth for the rule constants) and the rollup is exact
    * integers plus one IEEE division.
    */
  def q145(spark: SparkSession, dir: String): DataFrame =
    // `host` is a row-local derivation of (doc_id, source), so it rides
    // gopherRules' stats projection (carryCols) instead of a second
    // corpus scan joined back on by id — same rows, one scan, no join
    TextOps.keepRateBy(
      TextOps.gopherRules(
        docs(spark, dir).withColumn("host", LinkGraph.hostOf(sourceUrl)),
        carryCols = Seq("host")),
      "host")
      .orderBy("host")

  /** Kneser-Ney perplexity probe ([[TextOps.knPerplexityAgainst]]):
    * the q80 operational split (train on doc_id%10!=0 once, score the
    * held-out slice against the PERSISTED model) under the KenLM/CCNet
    * smoother — same model artifact, better backoff. Libm-bound like
    * q73/q80 → spec-gated (hand-computed fixture, persisted ≡ direct,
    * ranking, golden digest), no SQL oracle.
    */
  def q144(spark: SparkSession, dir: String): DataFrame =
    TextOps.knPerplexityAgainst(
      docs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedLmModel(spark, dir), discount = 0.75)
      .orderBy("doc_id")

  /** Pack → epoch-shuffle composed ([[TextOps.packSequencesText]] →
    * [[Export.trainingOrder]]): the training-side tail of the
    * pipeline — q47's capacity-packed bins get a seeded global
    * shuffle order, i.e. "what the dataloader reads, in what order".
    * Bins are identified by the composite (lang, bin_id) key as one
    * string id. Exact-oracled: q47's packing CTEs chain into q139's
    * md5-order replay — the composition proves the stages agree on
    * the bin identities, not just pass in isolation.
    */
  def q143(spark: SparkSession, dir: String): DataFrame =
    Export.trainingOrder(
      TextOps.packSequencesText(docs(spark, dir), capacity = 2048,
        shardCols = Seq("lang"))
        .select(
          concat(col("lang"), lit(":"), col("bin_id").cast("string"))
            .as("pack_id"),
          col("sum_tokens")),
      nShards = 4, seed = "epoch0", idCol = "pack_id")
      .orderBy("pack_id")

  /** Anchor-text mining ([[LinkGraph.anchorTexts]]): how the web
    * describes each target host — per-(dst_host, anchor) counts over
    * the synthetic link pages, whose cross-host anchors alternate an
    * entity+nested-tag form (must decode `&amp;` and strip `<b>`) with
    * five phrase variants. Exact-oracled: element extraction and the
    * normalization chain replay verbatim ([[Html.anchorTextOracleSqlExpr]]).
    */
  def q141(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.anchorTexts(linkPages(spark, dir))
      .orderBy("dst_host", "anchor")

  /** Anchor-keyword host signal ([[LinkGraph.anchorKeywordSignal]]):
    * q141's profiles CONSUMED — per-host keyword rates over the
    * inbound anchor text, the blocklist-candidate feed for the
    * q130/q140 cut family ([[LinkGraph.anchorKeywordKeep]] applies it
    * as a broadcast anti-join page cut; LinkGraphSpec pins that
    * face). The fixture's anchors split the hosts three ways under
    * keywords ("now", "topic 4"): the even-doc targets rate 1.0
    * (every anchor is "read & learn now"), src1 rates MIXED (its
    * inbound anchors alternate "topic 1"/"topic 4"), and the
    * hub/topic-0/topic-2-3 targets rate 0.0 — the division does real
    * work. Exact-oracled: integer counts + one IEEE division (the
    * q145 discipline) over the q141 replay.
    */
  def q149(spark: SparkSession, dir: String): DataFrame =
    LinkGraph.anchorKeywordSignal(
      LinkGraph.anchorTexts(linkPages(spark, dir)),
      keywords = Seq("now", "topic 4"))
      .withColumn("blocked", col("kw_rate") >= 0.5)
      .orderBy("dst_host")

  /** The FULL curation chain composed end-to-end (encoding gate →
    * normalize-dedup → MinHash near-dup removal → decontamination →
    * mixture sample → sequence packing; [[CurationChain]]): every
    * stage is an already-oracled operator with the same constants, so
    * the composition stays exactly SQL-replayable — the one oracled
    * query that proves the stages compose, not just pass in isolation.
    * PipelineSpec additionally pins that driving the SAME stages
    * through PipelineRunner as YAML fn steps lands this exact result.
    */
  def q88(spark: SparkSession, dir: String): DataFrame =
    CurationChain.run(docs(spark, dir)).orderBy("lang", "bin_id")

  /** q92 — per-document drop-stage audit of the q88 chain: the
    * curation-debugging surface ("why was my document removed"),
    * exact-oracled against the same CTE pipeline as q88.
    */
  def q92(spark: SparkSession, dir: String): DataFrame =
    CurationChain.audit(docs(spark, dir)).orderBy("doc_id")

  /** Near-dup VIDEO pairs over clips rendered from the documents table
    * (each doc → a 4-frame scrolling-window GIF, the q82
    * text-to-pixels bridge one modality up): near-dup documents
    * render to clips sharing most frames, which the frame-level
    * chunk join + per-pair aggregation must find. GIF encode/decode +
    * per-frame dHash are non-SQL like q82 → no oracle; MultimodalSpec
    * pins planted twin-clip semantics (GIF + MP4 + GRFT paths) and
    * the sf0.001 pair set.
    */
  def q89(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.nearDupVideos(
      docs(spark, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          Multimodal.Asset(id, "video", Multimodal.renderTextGif(text)) },
      stride = 1)
      .orderBy("a_id", "b_id")
  }

  /** The PERSISTED BPE merge table, trained once per (session, corpus)
    * on the held corpus (doc_id % 10 != 0, the standard split) and
    * landed as parquet under [[scratchPath]] — tokenize-once/
    * segment-forever ([[Bpe]]).
    */
  private val bpeModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedBpeMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = bpeModelMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "bpe_model", dir)
      Bpe.bpeTrain(docs(spark, dir).where(col("doc_id") % 10 =!= 0),
          numMerges = 100)
        .write.mode("overwrite").parquet(p)
      p
    })
    Bpe.loadMerges(Parquet.read(spark, path))
  }

  /** Sequence packing by SUBWORD (BPE) token counts from the persisted
    * in-engine tokenizer — q34's operator fed through the
    * bring-your-own-tokenizer seam with a model trained on the held
    * split. The BPE segmentation itself is not SQL-expressible →
    * no oracle; ExtSpec pins the hand-computed fit, the parquet
    * round-trip, repartition determinism, and this query's golden
    * digest (q34's own whitespace default stays oracled separately).
    */
  def q90(spark: SparkSession, dir: String): DataFrame = {
    val merges = sharedBpeMerges(spark, dir)
    TextOps.packSequences(docs(spark, dir), capacity = 2048,
        shardCols = Seq("lang"),
        tokenCount = Some(size(Bpe.tokens(col("text"), merges))))
      .orderBy("lang", "bin_id")
  }

  private val unigramModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedUnigramModel(spark: SparkSession, dir: String): UnigramLm.Model = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = unigramModelMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "unigram_model", dir)
      UnigramLm.unigramTrain(docs(spark, dir).where(col("doc_id") % 10 =!= 0),
          vocabSize = 300, maxPieceLen = 6)
        .write.mode("overwrite").parquet(p)
      p
    })
    UnigramLm.loadModel(Parquet.read(spark, path))
  }

  /** Sequence packing by UNIGRAM-LM (SentencePiece-style) token counts
    * from the persisted in-engine tokenizer ([[UnigramLm]]) — q90's
    * bring-your-own-tokenizer seam fed by the OTHER standard subword
    * family (prune-from-large + Viterbi, where BPE merges bottom-up),
    * model trained on the held split. Viterbi segmentation is not
    * SQL-expressible → no oracle; ExtSpec pins the hand-traced fit,
    * parquet round-trip, repartition determinism, and this query's
    * golden digest.
    */
  def q123(spark: SparkSession, dir: String): DataFrame = {
    val model = sharedUnigramModel(spark, dir)
    TextOps.packSequences(docs(spark, dir), capacity = 2048,
        shardCols = Seq("lang"),
        tokenCount = Some(size(UnigramLm.tokens(col("text"), model))))
      .orderBy("lang", "bin_id")
  }

  /** Sharded-export manifest over the corpus: deterministic md5 shard
    * assignment (8 shards) with per-shard doc/token/byte counts and an
    * order-insensitive XOR content checksum — the audit record a
    * training-data export ships with ([[Export]]). Exact-oracled: the
    * shard hash, whitespace token count, UTF-8 byte length, and
    * 60-bit XOR checksum are all replayable verbatim in DuckDB.
    */
  def q93(spark: SparkSession, dir: String): DataFrame =
    Export.shardManifest(docs(spark, dir), nShards = 8).orderBy("shard")

  /** Mergeable per-(source, lang) HLL distinct-count sketches of the
    * NORMALIZED corpus text ([[Sketches]]) — "how many distinct docs
    * after normalization, per facet" without an exact
    * count(distinct)'s full re-shuffle. HLL estimates are
    * approximate by contract → no SQL oracle; SketchSpec pins the
    * 3-sigma error envelope vs exact counts, merge ≡ rebuild, the
    * parquet round-trip, and this query's golden digest.
    */
  def q94(spark: SparkSession, dir: String): DataFrame =
    Sketches.estimates(
      Sketches.build(
        docs(spark, dir).withColumn("__norm", TextOps.normalizeText(col("text"))),
        Seq("source", "lang"), "__norm"),
      Seq("source", "lang"))
      .orderBy("source", "lang")

  /** Snapshot diff of a normalize-then-dedup run ([[Diff]]): per-doc
    * status between the raw corpus and the q85 survivor set carrying
    * its normalized text — `removed` (dedup loser), `changed`
    * (normalization rewrote the text), `unchanged`. The audit surface
    * for "what did this run do", and the driver of incremental
    * re-processing (only changed docs re-embed). Exact-oracled.
    */
  def q95(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val survivors = Dedup.exact(
        d.withColumn("__norm", TextOps.normalizeText(col("text"))),
        "doc_id", "__norm")
      .select(col("doc_id"), col("__norm").as("text"))
    Diff.snapshotDiff(d, survivors).orderBy("doc_id")
  }

  /** Cross-split content-leakage estimate via THETA sketch overlap
    * ([[Sketches.overlap]]): per source, the distinct normalized
    * texts of the q32 train split vs the test split and their
    * estimated intersection — duplicate content straddling the
    * train/test boundary, the sketch-scale sibling of q30's exact
    * decontamination. Theta sketches are EXACT below 2^lgK distinct
    * values per facet (nothing samples until then), and this registry
    * config keeps every tested SF below that line (per-source distinct
    * texts ≈ 2.3k at the 10× validation vs the 4096 cap) — so the
    * estimates ARE the exact set cardinalities and the query carries a
    * real DuckDB oracle — enforced IN-PLAN by `requireExact`
    * ([[graft.functions.SketchGuards]]): a run beyond the capacity
    * fails with an explicit "sketch left exact mode" diagnostic, not
    * a confusing hash mismatch. The above-capacity approximation
    * envelope stays pinned by ExportSpec at 50k values.
    */
  def q96(spark: SparkSession, dir: String): DataFrame = {
    val d = Sampling.assignSplit(
      docs(spark, dir).withColumn("__norm", TextOps.normalizeText(col("text"))),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val tr = Sketches.thetaBuild(d.where(col("split") === "train"), Seq("source"), "__norm")
    val te = Sketches.thetaBuild(d.where(col("split") === "test"), Seq("source"), "__norm")
    Sketches.overlap(tr, te, Seq("source"), requireExact = true).orderBy("source")
  }

  /** Per-source heavy-hitter tokens via the mergeable frequent-items
    * (Misra-Gries) sketch ([[Sketches.freqBuild]]/[[Sketches.freqTopK]])
    * — the sketch-scale sibling of q40's exact top-k: partials keep at
    * most `maxMapSize` (item, count) pairs, so only bounded sketches
    * shuffle at 100 TB, never the distinct-token table. Misra-Gries
    * never purges while a facet stays under 0.75·maxMapSize distinct
    * items, and 4096 keeps every tested SF below that line (per-source
    * vocabulary ≈ 310 at the 10× validation vs the 3072 threshold) —
    * so est IS the exact count, lb = ub = est, max_err = 0, and the
    * query carries a real DuckDB oracle — enforced IN-PLAN by
    * `requireExact` ([[graft.functions.SketchGuards]]): an
    * above-capacity run fails with the explicit "sketch left exact
    * mode" diagnostic. The above-capacity purge behavior (bound
    * bracketing, no-false-negative completeness) stays pinned by
    * ExportSpec with deliberately tiny maps.
    */
  def q99(spark: SparkSession, dir: String): DataFrame =
    Sketches.freqTopK(
      Sketches.freqBuild(
        docs(spark, dir).select(col("source"),
          explode(TextOps.tokens(col("text"))).as("token")),
        Seq("source"), "token", maxMapSize = 4096),
      Seq("source"), k = 10, requireExact = true)
      .orderBy(col("source"), col("est").desc, col("item"))

  /** Shuffle-key skew diagnosis of `events.user_id`
    * ([[Checks.skewHistogram]]/[[Checks.skewStats]]): the log2
    * key-frequency histogram with the one-row summary (total rows/keys,
    * mean frequency, hottest-key ratio, and the exact-integer
    * `salt_buckets` = ceil(max/mean) recommendation that feeds
    * [[Joins.salted]] / `graft.merge.saltBuckets`). Everything is
    * integer arithmetic or single IEEE divisions — exact-oracled. ONE
    * pass: the summary is derived from the histogram's per-bucket sums
    * (plan-pinned single scan in ExtSpec), so the corpus is never
    * counted twice.
    */
  def q100(spark: SparkSession, dir: String): DataFrame =
    Checks.skewReport(graft.Queries.events(spark, dir), Seq("user_id"))

  /** INCREMENTAL curation ([[CurationChain.runIncremental]]): the q88
    * chain's production sibling — the `doc_id % 10 == 0` batch curated
    * against the persisted state of the rest of the corpus (normalized
    * digest index + the q46 MinHash index, both parquet-shaped) instead
    * of re-running the whole corpus. Exact-oracled end-to-end: every
    * stage is exact (encoding regexes, md5 digests, exact-Jaccard
    * verify, 5-gram decontamination, md5-rate mixture), with cross-set
    * first-seen-wins semantics on the two index probes.
    */
  def q101(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val batch = d.where(col("doc_id") % 10 === 0)
    val corpus = d.where(col("doc_id") % 10 =!= 0)
    val digestIdx = Dedup.exactIndex(
      corpus.withColumn("__norm", TextOps.normalizeText(col("text"))), "__norm")
    CurationChain.runIncremental(batch, digestIdx,
        sharedMinHashIndex(spark, dir), benchmarkSource = d)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Per-source text-length quantiles via the deterministic mergeable
    * quantile sketch ([[Sketches.quantBuild]]/[[Sketches.quantEstimates]])
    * — build-once/merge-forever percentile summaries, the persistable
    * sibling of q24's one-shot GK pass. Below `k` values per facet
    * nothing ever compacts, every value is retained at weight 1, and
    * each estimate is the EXACT order statistic (the smallest value
    * whose cumulative weight exceeds q·(n−1), i.e. sorted[⌊q·(n−1)⌋])
    * — and k = 4096 keeps every tested SF below that line (2.5k values
    * per source at the 10× validation), so the query carries a real
    * DuckDB oracle replaying that order statistic verbatim — enforced
    * IN-PLAN by `requireExact` ([[graft.functions.SketchGuards]]): an
    * above-capacity run fails with the explicit "sketch left exact
    * mode" diagnostic. The above-capacity compactor envelope,
    * merge ≡ build, k-drift raise, and parquet round-trip stay pinned
    * by QuantileSpec.
    */
  def q102(spark: SparkSession, dir: String): DataFrame =
    Sketches.quantEstimates(
      Sketches.quantBuild(
        docs(spark, dir).withColumn("__len", length(col("text"))),
        Seq("source"), "__len", k = 4096),
      Seq("source"), qs = Seq(0.1, 0.5, 0.9, 0.99), requireExact = true)
      .orderBy("source")

  /** Composition drift ([[Diff.bandDrift]]): the per-language mixture
    * shift a length gate (n_chars ≥ 300) introduces — exact counts,
    * per-band shares/deltas and chi-square terms, all integer counts +
    * fixed IEEE double trees → exact-oracled.
    */
  def q103(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Diff.bandDrift(d, d.where(col("n_chars") >= 300), bandCol = "lang")
      .orderBy("band")
  }

  /** Directed containment pairs ([[Dedup.containmentPairs]]): documents
    * ≥ 60% of whose 3-gram shingle set appears inside another document
    * — the subset-duplicate/quotation detector symmetric Jaccard (q13)
    * misses. Exact integer intersections + one division → exact-oracled.
    */
  def q104(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(spark, dir), shingleSize = 3, threshold = 0.6)
      .orderBy("a_id", "b_id")

  /** Per-doc contamination fraction ([[Dedup.contaminationFraction]]):
    * share of each training document's token positions covered by a
    * 5-gram that appears in the benchmark split (`doc_id % 20 == 0`,
    * the q30 split) — q30 grades drop/keep, this grades HOW MUCH.
    */
  def q105(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dedup.contaminationFraction(
        d.where(col("doc_id") % 20 =!= 0),
        d.where(col("doc_id") % 20 === 0), spanTokens = 5)
      .select(col("doc_id"), col("n_tokens"), col("contaminated_frac"))
      .orderBy("doc_id")
  }

  /** Mixture epoch plan ([[Sampling.epochPlan]]): what a 1M-token run
    * at fixed per-language weights costs against the held corpus —
    * epochs, keep-rates, and the needs-upsampling flag per language.
    */
  def q106(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochPlan(docs(spark, dir), epochPlanWeights,
        tokenBudget = 1000000L, keyCol = "lang")
      .orderBy("lang")

  /** The q106 mixture design, shared with its oracle's VALUES list. */
  private val epochPlanWeights: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.15, "fr" -> 0.15, "es" -> 0.1, "zh" -> 0.1)

  /** Containment dedup ([[Dedup.dedupContained]]): drop documents ≥ 60%
    * of whose 3-gram shingle set sits inside a strictly-larger (or
    * tie-lower-id) document — q104's pair set turned into the
    * keep-superset act.
    */
  def q107(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupContained(docs(spark, dir), shingleSize = 3, threshold = 0.6)
      .orderBy("doc_id")

  /** Consistent 100-doc panel ([[Sampling.consistentSample]]): the
    * bottom-100 by md5(id‖salt) — a fixed-size eval panel stable under
    * corpus growth, exact-oracled (DuckDB computes the same md5 order).
    */
  def q108(spark: SparkSession, dir: String): DataFrame =
    Sampling.consistentSample(docs(spark, dir), k = 100)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")

  /** Exact-substring duplication ([[Dedup.duplicatedSubstringRegions]]):
    * every maximal run of token positions covered by a ≥2×-occurring
    * 8-token window — arbitrary-boundary duplicated substrings, merged
    * Lee-et-al-style, where q51 only surfaces whole fixed windows.
    */
  def q109(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSubstringRegions(docs(spark, dir), minTokens = 8)
      .orderBy("doc_id", "start_pos")

  /** Exact-substring cut ([[Dedup.stripExactSubstrings]]): remove every
    * duplicated ≥8-token run except its corpus-wide (doc, pos)-first
    * occurrence; untouched documents keep their text verbatim.
    */
  def q110(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripExactSubstrings(docs(spark, dir), minTokens = 8)
      .select(col("doc_id"), col("text"), col("n_cut_tokens"))
      .orderBy("doc_id")

  /** CCNet-style per-language LM bucketing ([[CcNet.curate]]):
    * language-ID → per-language integer-exact LM scoring → tercile
    * banding → band-keyed keep. The composed pipeline stays exactly
    * DuckDB-replayable because the LM score is q72's bit-length
    * surprisal, not libm cross-entropy.
    */
  def q111(spark: SparkSession, dir: String): DataFrame =
    CcNet.curate(docs(spark, dir), langProfiles)
      .select(col("doc_id"), col("lang_cand"), col("n_tokens"),
        col("surprisal_bits"), col("avg_bits"), col("band"))
      .orderBy("doc_id")

  /** DSIR importance scoring ([[Dsir.dsirScore]]): every document's
    * hashed-unigram+bigram importance weight against an in-corpus
    * target domain (lang='en'), bit-length-quantized so the composed
    * score stays integer-exact and DuckDB-replayable.
    */
  def q113(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dsir.dsirScore(d, d.where(col("lang") === "en"))
      .orderBy("doc_id")
  }

  /** DSIR selection ([[Dsir.dsirSelect]]): the 200 most target-like
    * documents by (weight_bits DESC, doc_id) — the deterministic face
    * of the paper's resample step.
    */
  def q114(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Dsir.dsirSelect(d, d.where(col("lang") === "en"), k = 200)
      .select(col("doc_id"), col("lang"), col("source"), col("weight_bits"))
      .orderBy("doc_id")
  }

  private val dsirModelMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private[graft] def sharedDsirModels(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val (rawP, tgtP) = dsirModelMemo.computeIfAbsent(key, _ => {
      val corpus = docs(spark, dir).where(col("doc_id") % 10 =!= 0)
      val rp = scratchPath(spark, "dsir_raw_model", dir)
      val tp = scratchPath(spark, "dsir_tgt_model", dir)
      Dsir.dsirModel(corpus).write.mode("overwrite").parquet(rp)
      Dsir.dsirModel(corpus.where(col("lang") === "en"))
        .write.mode("overwrite").parquet(tp)
      (rp, tp)
    })
    (Parquet.read(spark, rawP), Parquet.read(spark, tgtP))
  }

  /** Incremental DSIR ([[Dsir.dsirScoreAgainstModels]]): the
    * `doc_id % 10 = 0` batch scored against PERSISTED raw/target
    * models built once from the corpus side — only the batch
    * tokenizes; q74's batch/corpus split applied to q113.
    */
  def q115(spark: SparkSession, dir: String): DataFrame = {
    val (raw, tgt) = sharedDsirModels(spark, dir)
    Dsir.dsirScoreAgainstModels(
      docs(spark, dir).where(col("doc_id") % 10 === 0), raw, tgt)
      .orderBy("doc_id")
  }

  /** Gopher rule-set report ([[TextOps.gopherRules]]): every document
    * with the published quality statistics, per-rule flags, and the
    * conjunction `keep` — integer counting + one IEEE division per
    * ratio, so the whole report (threshold booleans included) is
    * exactly DuckDB-replayable.
    */
  def q116(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(docs(spark, dir)).orderBy("doc_id")

  /** Composed selection pipeline, every stage exact: Gopher rule keep
    * ([[TextOps.gopherRules]]) → exact dedup ([[Dedup.exact]]) → DSIR
    * top-k toward the in-corpus target ([[Dsir.dsirSelect]]) — the
    * quality-then-dedup-then-match chain a curation run actually
    * executes, end-to-end DuckDB-replayable because each stage is.
    */
  def q117(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // [[CurationChain.StageMaterializer]] cuts: the dedup reads its
    // input twice and dsirSelect reads ITS input twice, so uncut the
    // gopher+dedup lineage re-runs per branch
    val cut = CurationChain.LocalCheckpointMaterializer
    val kept = cut("q117_gopher_keep")(TextOps.gopherKeep(d))
    val deduped = cut("q117_exact_dedup")(Dedup.exact(kept))
    Dsir.dsirSelect(deduped, deduped.where(col("lang") === "en"), k = 100)
      .select(col("doc_id"), col("lang"), col("source"), col("weight_bits"))
      .orderBy("doc_id")
  }

  /** Token-level drift ([[Diff.tokenDrift]]): the 200 tokens whose
    * corpus share moved most between the corpus side and the held-out
    * tenth — the vocabulary lens of the drift family (q95 documents,
    * q103 bands, this words).
    */
  def q118(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    Diff.tokenDrift(d.where(col("doc_id") % 10 =!= 0),
        d.where(col("doc_id") % 10 === 0), k = 200)
      .orderBy("token")
  }

  /** The driver corpus is single-line; the LINE-dedup queries reflow it
    * deterministically — every 8 tokens become one line — so line
    * structure exists to dedup and the reflow is replayable verbatim
    * in SQL (the q49 chunking spelling with stride = width = 8). Real
    * multi-line corpora skip this and call the operators directly.
    */
  private def reflowedDocs(spark: SparkSession, dir: String,
                           perLine: Int = 8): DataFrame = {
    val toks = split(col("text"), " ")
    // integer line count: Column `/` is IEEE division, so floor+cast
    // (token counts are non-negative — truncation IS the floor)
    val lastLine = floor((size(toks) - 1).cast("double") / perLine.toDouble)
      .cast("int")
    docs(spark, dir).withColumn("text",
      array_join(
        transform(sequence(lit(0), lastLine),
          i => array_join(slice(toks, i * lit(perLine) + 1, lit(perLine)), " ")),
        "\n"))
  }

  /** Per-document duplicate-LINE report ([[Dedup.duplicateLineStats]]):
    * Gopher's duplicate-line and duplicate-line-char fractions over
    * the corpus-wide exact-line equality the C4/RefinedWeb recipes cut
    * by. Integer counts + one IEEE division per fraction —
    * exact-oracled.
    */
  def q119(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateLineStats(reflowedDocs(spark, dir)).orderBy("doc_id")

  /** Corpus-wide duplicate-line cut, keep-first
    * ([[Dedup.stripDuplicateLines]]): every line occurrence except its
    * (id, pos)-first is removed; untouched documents stay verbatim.
    * Exact-oracled (the oracle replays the keep-first rule with a
    * window over (doc_id, pos)).
    */
  def q120(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicateLines(reflowedDocs(spark, dir))
      .select(col("doc_id"), col("text"), col("n_cut_lines"))
      .orderBy("doc_id")

  private val lineIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private[graft] def sharedLineIndex(spark: SparkSession, dir: String): DataFrame = {
    val key = spark.sparkContext.applicationId + "@" + dir + "@" +
      spark.conf.getOption("graft.scratch.dir").getOrElse("")
    val path = lineIndexMemo.computeIfAbsent(key, _ => {
      val p = scratchPath(spark, "line_index", dir)
      Dedup.lineIndex(reflowedDocs(spark, dir).where(col("doc_id") % 10 =!= 0))
        .write.mode("overwrite").parquet(p)
      p
    })
    Parquet.read(spark, path)
  }

  /** Incremental duplicate-line cut
    * ([[Dedup.stripDuplicateLinesAgainstIndex]]): strip from the
    * `doc_id % 10 = 0` batch every line the corpus side's PERSISTED
    * line index already holds — the cross-set first-seen-wins face of
    * q120 (q74's batch/corpus split at line grain).
    */
  def q121(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicateLinesAgainstIndex(
      reflowedDocs(spark, dir).where(col("doc_id") % 10 === 0),
      sharedLineIndex(spark, dir))
      .select(col("doc_id"), col("text"), col("n_cut_lines"))
      .orderBy("doc_id")

  /** Exact-substring cut at CHARACTER granularity
    * ([[Dedup.stripExactCharSubstrings]]): the published ExactSubstr
    * semantics — Lee et al.'s 50-unit threshold at the recipe's native
    * grain — where q110 runs the token-mode adaptation. Keep-first,
    * survivors rejoin with no separator, untouched docs byte-verbatim.
    * Exact-oracled (substr windows + the q110 window replay).
    */
  def q122(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripExactCharSubstrings(docs(spark, dir), minChars = 50)
      .select(col("doc_id"), col("text"), col("n_cut_chars"))
      .orderBy("doc_id")

  /** WITHIN-document duplicate-line repetition
    * ([[TextOps.lineRepetition]]): Gopher A1.2's line-grain repetition
    * fractions as one row-local projection — q35's n-gram lens
    * completed at line grain, q119's corpus-wide cousin scoped to a
    * single document. The 2-token reflow (vs q119's 8) is deliberate:
    * the synthetic corpus repeats short token runs within a document,
    * so in-doc line repetition only exists at narrow widths. Exact
    * integer counts + one IEEE division per fraction — exact-oracled.
    */
  def q124(spark: SparkSession, dir: String): DataFrame =
    TextOps.lineRepetition(reflowedDocs(spark, dir, perLine = 2))
      .select(col("doc_id"), col("n_lines"),
        col("dup_line_frac"), col("dup_line_char_frac"))
      .orderBy("doc_id")

  /** Epoch materialization ([[Sampling.materializeEpochs]] →
    * [[Export.trainingOrder]]): the q106 planner's repetition decision
    * EXECUTED — each language gets floor(E) complete passes plus the
    * md5-threshold fractional tail (q48's encoding), and the resulting
    * (doc, epoch) stream is given the seeded training order keyed on
    * the composite id. The weights are deliberately skewed against the
    * corpus shares so BOTH branches do real work at every sf: zh/de
    * upsample (multi-epoch), en/es/fr downsample (fractional epoch 0
    * only). Exact-oracled end to end: integer epoch counts, the 4-hex
    * threshold pipeline, and the q139 order replay verbatim.
    */
  def q156(spark: SparkSession, dir: String): DataFrame =
    Export.trainingOrder(
      Sampling.materializeEpochs(
        docs(spark, dir).select(col("doc_id"), col("lang"), col("text")),
        weights = Map("en" -> 0.1, "zh" -> 0.45, "de" -> 0.3,
          "es" -> 0.05, "fr" -> 0.1),
        tokenBudget = 30000L, keyCol = "lang")
        .withColumn("sample_id", concat(col("doc_id").cast("string"),
          lit(":"), col("epoch").cast("string"))),
      nShards = 4, seed = "ep", idCol = "sample_id")
      .select(col("doc_id"), col("lang"), col("epoch"),
        col("shard"), col("seq"))
      .orderBy("doc_id", "epoch")

  /** LANED sequence packing ([[TextOps.packSequences]] with
    * `subShards`): q151's CJK-routed packing with each language split
    * into 4 deterministic md5 lanes, so the running-sum window
    * parallelizes 4× beyond the language cardinality — the scale
    * escape for coarse shard keys (q151's measured 11.9× growth was
    * exactly the 5-language serialization;
    * [[TextOps.derivedPackLanes]] sizes the lane count from data).
    * Exact-oracled: the lane fold (q139's md5 trick) + the q34 packing
    * CTEs at (lang, lane) grain replay verbatim.
    */
  def q157(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(
      docs(spark, dir).withColumn("text",
        TextOps.cjkSegmentText(cjkDocText, col("lang"))),
      capacity = 2048, shardCols = Seq("lang"), subShards = 4)
      .orderBy("lang", "lane", "bin_id")

  /** PSL fixture host per document (Scala/SQL lockstep, the
    * [[sourceUrl]] pattern): five shapes exercising every rule kind —
    * a `co.uk` plain match, a `com` match that coincides with the
    * implicit default, a `*.ck` wildcard, a `sub.www.ck` exception
    * (which ALSO matches the wildcard — the election does real work),
    * and a bare single label (the implicit-`*` default).
    */
  private def pslFixtureHost: org.apache.spark.sql.Column =
    when(col("doc_id") % 5 === 0,
      concat(lit("shop"), (col("doc_id") % 3).cast("string"),
        lit(".example.co.uk")))
      .when(col("doc_id") % 5 === 1,
        concat(lit("www.site"), (col("doc_id") % 3).cast("string"),
          lit(".com")))
      .when(col("doc_id") % 5 === 2,
        concat(lit("w.x.y"), (col("doc_id") % 3).cast("string"), lit(".ck")))
      .when(col("doc_id") % 5 === 3, lit("sub.www.ck"))
      .otherwise(lit("localhost"))
  private val pslFixtureHostSql: String =
    "(CASE WHEN doc_id % 5 = 0 THEN 'shop' || CAST(doc_id % 3 AS VARCHAR) " +
      "|| '.example.co.uk' " +
      "WHEN doc_id % 5 = 1 THEN 'www.site' || CAST(doc_id % 3 AS VARCHAR) || '.com' " +
      "WHEN doc_id % 5 = 2 THEN 'w.x.y' || CAST(doc_id % 3 AS VARCHAR) || '.ck' " +
      "WHEN doc_id % 5 = 3 THEN 'sub.www.ck' ELSE 'localhost' END)"
  private[graft] val PslFixtureRules: Seq[String] =
    Seq("// PSL fixture", "", "com", "co.uk", "*.ck", "!www.ck")

  /** Full-PSL registered-domain fold ([[LinkGraph.pslDomainTable]]):
    * the exact publicsuffix.org algorithm over a fixture rule list —
    * parsing (comments/blanks/`!`/`*.`), the exception-beats-wildcard
    * election, longest-match, and the implicit-`*` default, each
    * non-vacuous on the synthesized hosts. Exact-oracled: the rule
    * parse, the label-suffix explode, the broadcast join, and the
    * (exception, length) max election replay verbatim in DuckDB.
    */
  def q159(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LinkGraph.pslDomainTable(
      docs(spark, dir).select(pslFixtureHost.as("host")),
      PslFixtureRules.toDF("rule"))
      .orderBy("host")
  }

  /** PSL-grain link fixture (Scala/SQL lockstep, the [[sourceLinkHtml]]
    * pattern): page hosts are a SUBDOMAIN FARM over every rule kind —
    * shop/blog subdomains of five `brand<k>.co.uk` registered domains
    * (the multi-label plain rule), 4-label `*.ck` wildcard hosts, and
    * `!www.ck` exception hosts — and each page links a CDN subdomain
    * of the NEXT brand (cross-domain), an `m<k>.www.ck` mirror host
    * (cross-domain except FROM the exception pages, where it is a
    * PSL-grain self-edge), its own brand's asset subdomain (a
    * self-edge for the farm pages — intra-domain navigation that must
    * NOT count as endorsement), and a relative link (hostless, drops).
    */
  private def pslLinkUrl: org.apache.spark.sql.Column =
    concat(lit("https://"),
      when(col("doc_id") % 4 === 0,
        concat(lit("shop"), (col("doc_id") % 3).cast("string"),
          lit(".brand"), (col("doc_id") % 5).cast("string"), lit(".co.uk")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("blog"), (col("doc_id") % 3).cast("string"),
            lit(".brand"), (col("doc_id") % 5).cast("string"), lit(".co.uk")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("x.a"), (col("doc_id") % 3).cast("string"),
            lit(".w"), (col("doc_id") % 2).cast("string"), lit(".ck")))
        .otherwise(concat(lit("d"), (col("doc_id") % 2).cast("string"),
          lit(".sub.www.ck"))),
      lit("/p/"), col("doc_id").cast("string"))
  private val pslLinkUrlSql: String =
    """'https://' ||
      |(CASE WHEN doc_id % 4 = 0
      |      THEN 'shop' || CAST(doc_id % 3 AS VARCHAR) || '.brand' ||
      |           CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
      |      WHEN doc_id % 4 = 1
      |      THEN 'blog' || CAST(doc_id % 3 AS VARCHAR) || '.brand' ||
      |           CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
      |      WHEN doc_id % 4 = 2
      |      THEN 'x.a' || CAST(doc_id % 3 AS VARCHAR) || '.w' ||
      |           CAST(doc_id % 2 AS VARCHAR) || '.ck'
      |      ELSE 'd' || CAST(doc_id % 2 AS VARCHAR) || '.sub.www.ck' END) ||
      |'/p/' || CAST(doc_id AS VARCHAR)""".stripMargin.replace("\n", " ")
  private def pslLinkHtml: org.apache.spark.sql.Column =
    concat(
      lit("<html><body><a href=\"https://cdn"),
      (col("doc_id") % 7).cast("string"), lit(".brand"),
      ((col("doc_id") + 1) % 5).cast("string"), lit(".co.uk/r\">c</a>"),
      lit("<a href=\"https://m"), (col("doc_id") % 5).cast("string"),
      lit(".www.ck/z\">e</a>"),
      lit("<a href=\"https://assets.brand"),
      (col("doc_id") % 5).cast("string"), lit(".co.uk/s\">a</a>"),
      lit("<a href=\"/rel\">r</a></body></html>"))
  private val pslLinkHtmlSql: String =
    """'<html><body><a href="https://cdn' || CAST(doc_id % 7 AS VARCHAR) ||
      |'.brand' || CAST((doc_id + 1) % 5 AS VARCHAR) || '.co.uk/r">c</a>' ||
      |'<a href="https://m' || CAST(doc_id % 5 AS VARCHAR) ||
      |'.www.ck/z">e</a>' ||
      |'<a href="https://assets.brand' || CAST(doc_id % 5 AS VARCHAR) ||
      |'.co.uk/s">a</a>' ||
      |'<a href="/rel">r</a></body></html>'""".stripMargin.replace("\n", " ")
  private def pslLinkPages(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(col("doc_id"), pslLinkUrl.as("url"),
      pslLinkHtml.as("html"))

  /** PSL-grain link graph ([[LinkGraph.domainEdgesPsl]]): the q154
    * fold driven by the FULL public-suffix algorithm instead of the
    * bundled battery — the q159 lookup finally CONSUMED. The shop/blog
    * farm collapses onto one `brand<k>.co.uk` voice per registered
    * domain (n_pages counts distinct pages across both subdomains),
    * `!www.ck` exception hosts collapse with their `m<k>.www.ck`
    * mirrors (so the mirror link is a self-edge exactly on the
    * exception pages — the election is load-bearing for the edge
    * set), and the farm's asset links vanish as intra-domain
    * self-edges. Exact-oracled end to end: link extraction, the PSL
    * election CTEs, the two-endpoint fold, and the edge aggregation
    * replay verbatim in DuckDB.
    */
  def q160(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    LinkGraph.domainEdgesPsl(pslLinkPages(spark, dir),
      PslFixtureRules.toDF("rule"))
      .orderBy("src_host", "dst_host")
  }

  /** Epoch-aware export manifest ([[Sampling.materializeEpochs]] →
    * [[Export.epochShardManifest]]): q156's repetition decision landed
    * as BYTES-ON-DISK accounting — one row per (epoch, shard) with
    * doc/token/byte counts and the XOR content checksum, the epoch
    * index bound into both the shard hash (every epoch a fresh
    * permutation) and the checksum (two epochs of one doc set land
    * distinct checksums). Exact end to end: q156's epoch arithmetic + q93's md5/checksum
    * spelling at (epoch, shard) grain.
    */
  def q161(spark: SparkSession, dir: String): DataFrame =
    Export.epochShardManifest(
      Sampling.materializeEpochs(
        docs(spark, dir).select(col("doc_id"), col("lang"), col("text")),
        weights = Map("en" -> 0.1, "zh" -> 0.45, "de" -> 0.3,
          "es" -> 0.05, "fr" -> 0.1),
        tokenBudget = 30000L, keyCol = "lang"),
      nShards = 4, seed = "ep")
      .orderBy("epoch", "shard")

  /** Per-source page cap at the FULL-PSL registered-domain grain
    * ([[LinkGraph.withPslDomain]] → [[Sampling.samplePerGroup]]):
    * q155's dominance bound with the cap key folded through the exact
    * lookup — the grain where it actually bites a subdomain farm. On
    * the fixture a QUARTER of all pages (the `!www.ck` exception
    * shapes, every `d<k>.sub.www.ck` host) collapse onto ONE
    * registered domain and get capped to 3 pages total, where the
    * host-grain cap would have kept 3 per subdomain — the fold is
    * load-bearing, not decorative. Exact-oracled: the PSL election
    * CTEs + q50's md5-order-and-id-tiebreak replay verbatim.
    */
  def q162(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = pslLinkPages(spark, dir).select(col("doc_id"), col("url"))
    Sampling.samplePerGroup(
      LinkGraph.withPslDomain(pages,
        LinkGraph.pslLookupFor(pages, PslFixtureRules.toDF("rule"))),
      k = 3, keyCol = "domain")
      .select(col("doc_id"), col("domain"))
      .orderBy("doc_id")
  }

  /** PACKED multi-epoch export manifest ([[Sampling
    * .materializeEpochs]] → [[TextOps.packSequencesText]] →
    * [[Export.epochShardManifest]]): q156's repetition decision first-fit PACKED into
    * capacity-bounded training windows at (epoch, lang, lane) bin
    * grain, then accounted as the (epoch, shard) dataloader manifest —
    * the artifact a trainer actually mounts (bins, not raw docs).
    * The bin key `lang:lane:bin_id` joins the epoch in the shard
    * hash and the XOR checksum COVERS the packed text, so the oracle
    * verifies the in-bin concatenation order bit-for-bit. Exact end to
    * end: q156's epoch CTEs → q157's lane/packing CTEs (with epoch in
    * the window key) → q161's manifest spelling over the bins.
    */
  def q163(spark: SparkSession, dir: String): DataFrame =
    Export.epochShardManifest(
      Export.packedEpochBins(
        Sampling.materializeEpochs(
          docs(spark, dir).select(col("doc_id"), col("lang"), col("text")),
          weights = Map("en" -> 0.1, "zh" -> 0.45, "de" -> 0.3,
            "es" -> 0.05, "fr" -> 0.1),
          tokenBudget = 30000L, keyCol = "lang"),
        capacity = 2048, subShards = 4),
      nShards = 4, idCol = "bin_key", textCol = "packed_text", seed = "ep",
      tokenCount = Some(col("sum_tokens")))
      .orderBy("epoch", "shard")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q163_packed_epoch_export" -> (q163 _),
    "q162_psl_page_cap" -> (q162 _),
    "q161_epoch_manifest" -> (q161 _),
    "q160_psl_edges" -> (q160 _),
    "q159_psl_domains" -> (q159 _),
    "q158_ccnet_persisted_probe" -> (q158 _),
    "q157_laned_packing" -> (q157 _),
    "q156_epoch_materialize" -> (q156 _),
    "q155_host_page_cap" -> (q155 _),
    "q154_domain_edges" -> (q154 _),
    "q153_gated_front_half" -> (q153 _),
    "q152_anchor_block_cut" -> (q152 _),
    "q151_cjk_packing" -> (q151 _),
    "q150_canonical_url_dedup" -> (q150 _),
    "q149_anchor_keyword_signal" -> (q149 _),
    "q148_rank_persisted_probe" -> (q148 _),
    "q147_policy_front_half" -> (q147 _),
    "q146_host_rank_weighted" -> (q146 _),
    "q145_host_quality" -> (q145 _),
    "q144_kn_perplexity" -> (q144 _),
    "q143_packed_epoch" -> (q143 _),
    "q142_page_policy" -> (q142 _),
    "q141_anchor_texts" -> (q141 _),
    "q140_host_prior" -> (q140 _),
    "q139_training_order" -> (q139 _),
    "q138_host_rank" -> (q138 _),
    "q137_host_edges" -> (q137 _),
    "q136_ccnet_trained" -> (q136 _),
    "q135_html_main_blocks" -> (q135 _),
    "q134_lang_id_trained" -> (q134 _),
    "q133_content_routing" -> (q133 _),
    "q132_crawl_full_chain" -> (q132 _),
    "q131_crawl_front_half" -> (q131 _),
    "q130_url_quality" -> (q130 _),
    "q129_html_main_text" -> (q129 _),
    "q128_warc_responses" -> (q128 _),
    "q127_html_to_text" -> (q127 _),
    "q126_url_dedup" -> (q126 _),
    "q125_strip_char_substrings_incremental" -> (q125 _),
    "q124_line_repetition" -> (q124 _),
    "q123_unigram_packing" -> (q123 _),
    "q122_strip_char_substrings" -> (q122 _),
    "q119_dup_line_stats" -> (q119 _),
    "q120_strip_dup_lines" -> (q120 _),
    "q121_strip_dup_lines_incremental" -> (q121 _),
    "q118_token_drift" -> (q118 _),
    "q117_selection_pipeline" -> (q117 _),
    "q116_gopher_rules" -> (q116 _),
    "q109_dup_substring_regions" -> (q109 _),
    "q110_strip_substrings" -> (q110 _),
    "q111_ccnet_buckets" -> (q111 _),
    "q112_strip_substrings_incremental" -> (q112 _),
    "q113_dsir_score" -> (q113 _),
    "q114_dsir_select" -> (q114 _),
    "q115_dsir_incremental" -> (q115 _),
    "q07_dedup_exact" -> (q07 _),
    "q99_heavy_hitters" -> (q99 _),
    "q100_skew_report" -> (q100 _),
    "q101_incremental_curation" -> (q101 _),
    "q102_quantile_sketch" -> (q102 _),
    "q103_drift_report" -> (q103 _),
    "q104_containment" -> (q104 _),
    "q105_contamination_frac" -> (q105 _),
    "q106_epoch_plan" -> (q106 _),
    "q107_dedup_contained" -> (q107 _),
    "q108_consistent_sample" -> (q108 _),
    "q08_text_stats" -> (q08 _),
    "q09_text_quality" -> (q09 _),
    "q10_lang_id" -> (q10 _),
    "q11_fingerprint" -> (q11 _),
    "q12_near_dup_minhash" -> (q12 _),
    "q13_near_dup_jaccard" -> (q13 _),
    "q14_embed_near_dup" -> (q14 _),
    "q15_similarity_topk" -> (q15 _),
    "q16_similarity_ann" -> (q16 _),
    "q17_near_dup_simhash" -> (q17 _),
    "q23_dedup_near_dups" -> (q23 _),
    "q26_similarity_ivf" -> (q26 _),
    "q27_asof_join" -> (q27 _),
    "q28_range_join" -> (q28 _),
    "q30_decontamination" -> (q30 _),
    "q31_embed_stats" -> (q31 _),
    "q32_split_assignment" -> (q32 _),
    "q33_mixture_sample" -> (q33 _),
    "q34_sequence_packing" -> (q34 _),
    "q35_repetition_metrics" -> (q35 _),
    "q36_pii_redaction" -> (q36 _),
    "q37_url_domains" -> (q37 _),
    "q40_top_tokens" -> (q40 _),
    "q42_char_classes" -> (q42 _),
    "q44_dedup_keep_best" -> (q44 _),
    "q45_stopword_fraction" -> (q45 _),
    "q46_incremental_near_dup" -> (q46 _),
    "q47_packed_text" -> (q47 _),
    "q48_temperature_sample" -> (q48 _),
    "q49_chunking" -> (q49 _),
    "q50_sample_per_group" -> (q50 _),
    "q51_duplicated_spans" -> (q51 _),
    "q52_key_terms" -> (q52 _),
    "q54_resample_daily" -> (q54 _),
    "q56_winsorize" -> (q56 _),
    "q57_ordered_ids" -> (q57 _),
    "q58_data_quality" -> (q58 _),
    "q59_daily_anomalies" -> (q59 _),
    "q60_profile" -> (q60 _),
    "q62_salted_join" -> (q62 _),
    "q64_weighted_sample" -> (q64 _),
    "q72_lm_surprisal" -> (q72 _),
    "q73_lm_perplexity" -> (q73 _),
    "q74_exact_incremental" -> (q74 _),
    "q75_semantic_dedup" -> (q75 _),
    "q76_domain_blocklist" -> (q76 _),
    "q77_dedup_impact" -> (q77 _),
    "q78_boilerplate_fraction" -> (q78 _),
    "q79_strip_boilerplate" -> (q79 _),
    "q80_lm_persisted_probe" -> (q80 _),
    "q81_ann_persisted_probe" -> (q81 _),
    "q82_image_near_dup" -> (q82 _),
    "q83_image_dedup_incremental" -> (q83 _),
    "q84_encoding_profile" -> (q84 _),
    "q85_normalized_dedup" -> (q85 _),
    "q86_quality_score" -> (q86 _),
    "q87_quality_persisted_probe" -> (q87 _),
    "q88_curation_chain" -> (q88 _),
    "q89_video_near_dup" -> (q89 _),
    "q90_bpe_packing" -> (q90 _),
    "q91_exact_bloom_probe" -> (q91 _),
    "q92_curation_audit" -> (q92 _),
    "q93_shard_manifest" -> (q93 _),
    "q94_distinct_sketch" -> (q94 _),
    "q95_snapshot_diff" -> (q95 _),
    "q96_overlap_sketch" -> (q96 _)
  )

  /** DuckDB shingle-set Jaccard (the exact ground truth the Spark LSH
    * path must reproduce), parameterized by shingle width/threshold.
    */
  /** Shared CTE body computing exact shingle-Jaccard pairs ≥ threshold. */
  private def jaccardPairsCte(shingleWidth: Int, threshold: Double): String = {
    val joins = (2 to shingleWidth)
      .map(i => s"JOIN w t$i ON t1.doc_id=t$i.doc_id AND t$i.pos=t1.pos+${i - 1}")
      .mkString(" ")
    val concat = (1 to shingleWidth).map(i => s"t$i.tok").mkString(" || ' ' || ")
    s"""w AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
       |  FROM documents),
       |sh AS (SELECT DISTINCT t1.doc_id, $concat AS s FROM w t1 $joins),
       |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT a_id, b_id, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jaccard
       |  FROM inter
       |  JOIN sz sa ON sa.doc_id = a_id
       |  JOIN sz sb ON sb.doc_id = b_id
       |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $threshold)""".stripMargin
  }

  private def jaccardOracle(shingleWidth: Int, threshold: Double): String =
    s"""WITH ${jaccardPairsCte(shingleWidth, threshold)}
       |SELECT a_id, b_id, jaccard FROM jpairs ORDER BY a_id, b_id""".stripMargin

  private val langProfileValues = langProfiles
    .map { case (l, ms) => s"('$l', [${ms.map(m => s"'$m'").mkString(",")}])" }
    .mkString(", ")

  /** The q88 chain as ONE DuckDB CTE pipeline through the `mix`
    * survivor set — shared verbatim by the q88 packing oracle and the
    * q92 per-document audit oracle, so both replay the SAME stage
    * semantics (gated \u2192 normed \u2192 shingle-walk near-dup \u2192 dd \u2192
    * contaminated \u2192 clean \u2192 mix).
    */
  private val curationCtes: String =
      """WITH RECURSIVE gated AS (
        |  SELECT * FROM documents
        |  WHERE len(text) - len(regexp_replace(text, '�', '', 'g')) = 0
        |    AND len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) = 0
        |    AND len(text) - len(regexp_replace(text, '[ÃÂ€]', '', 'g')) = 0),
        |normed AS MATERIALIZED (
        |  SELECT * FROM gated
        |  WHERE doc_id IN (
        |    SELECT min(doc_id) FROM gated
        |    GROUP BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))))),
        |w AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM normed),
        |sh AS MATERIALIZED (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
        |  FROM w t1 JOIN w t2 ON t1.doc_id=t2.doc_id AND t2.pos=t1.pos+1
        |            JOIN w t3 ON t1.doc_id=t3.doc_id AND t3.pos=t1.pos+2),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jpairs AS MATERIALIZED (
        |  SELECT a_id, b_id
        |  FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |edges AS MATERIALIZED (SELECT a_id AS s, b_id AS d FROM jpairs
        |  UNION SELECT b_id, a_id FROM jpairs),
        |walk(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT w2.s, e.d FROM walk w2 JOIN edges e ON w2.d = e.s),
        |comp AS MATERIALIZED (SELECT s AS member, least(s, min(d)) AS component FROM walk GROUP BY s),
        |dd AS MATERIALIZED (
        |  SELECT * FROM normed
        |  WHERE doc_id NOT IN (SELECT member FROM comp WHERE member <> component)),
        |wb AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents WHERE doc_id % 20 = 0),
        |bsh AS MATERIALIZED (SELECT DISTINCT
        |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
        |  FROM wb t1 JOIN wb t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |             JOIN wb t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
        |             JOIN wb t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
        |             JOIN wb t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
        |wt AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM dd WHERE doc_id % 20 <> 0),
        |tsh AS MATERIALIZED (SELECT DISTINCT t1.doc_id,
        |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
        |  FROM wt t1 JOIN wt t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |             JOIN wt t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
        |             JOIN wt t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
        |             JOIN wt t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
        |contaminated AS MATERIALIZED (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b ON t.s = b.s),
        |clean AS MATERIALIZED (
        |  SELECT * FROM dd
        |  WHERE doc_id % 20 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |mix AS MATERIALIZED (
        |  SELECT * FROM clean
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
        |    CASE lang WHEN 'de' THEN '8000' WHEN 'en' THEN 'g'
        |              WHEN 'es' THEN '4000' ELSE '0000' END)
        |""".stripMargin.trim


  /** The q116 Gopher report replay, shared verbatim by the per-host
    * rollup (q145) — one source of truth for the rule constants.
    */
  private val gopherReportSql: String =
    """WITH stops AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS n
        |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |    GROUP BY token ORDER BY n DESC, token ASC LIMIT 20)),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_stop_hits FROM (
        |    SELECT DISTINCT doc_id, token FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents))
        |  WHERE token IN (SELECT token FROM stops) GROUP BY doc_id),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(string_split(text, ' '),
        |      x -> length(x)), 'sum') AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST(length(text) - length(replace(text, '...', '')) AS BIGINT) AS ell_chars,
        |    CAST(length(text) - length(replace(text, '…', '')) AS BIGINT) AS ell_uni,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      x -> starts_with(x, '- ') OR starts_with(x, '* ')
        |           OR starts_with(x, '•'))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      x -> ends_with(x, '...') OR ends_with(x, '…'))) AS BIGINT) AS n_ell_end
        |  FROM documents),
        |r AS (
        |  SELECT s.doc_id, s.n_words,
        |    CAST(s.sum_len AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS mean_word_len,
        |    CAST(s.n_hash AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS hash_ratio,
        |    CAST(s.ell_chars + 3 * s.ell_uni AS DOUBLE)
        |      / CAST(3 * s.n_words AS DOUBLE) AS ellipsis_ratio,
        |    CAST(s.n_alpha AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS alpha_word_frac,
        |    CAST(s.n_bullet AS DOUBLE) / CAST(s.n_lines AS DOUBLE) AS bullet_line_frac,
        |    CAST(s.n_ell_end AS DOUBLE) / CAST(s.n_lines AS DOUBLE) AS ellipsis_line_frac,
        |    coalesce(sh.n_stop_hits, 0) AS n_stop_hits
        |  FROM s LEFT JOIN sh USING (doc_id))
        |SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
        |  alpha_word_frac, bullet_line_frac, ellipsis_line_frac, n_stop_hits,
        |  (n_words >= 50 AND n_words <= 100000) AS ok_words,
        |  (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_word_len,
        |  (hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1) AS ok_symbols,
        |  (alpha_word_frac >= 0.8) AS ok_alpha,
        |  (n_stop_hits >= 2) AS ok_stops,
        |  (bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3) AS ok_lines,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
        |    AND alpha_word_frac >= 0.8 AND n_stop_hits >= 2
        |    AND bullet_line_frac <= 0.9 AND ellipsis_line_frac <= 0.3) AS keep
        |FROM r""".stripMargin

  /** The q131 chained-CTE oracle, parameterized so composed variants
    * (q147 adds the robots noindex rule) replay the identical chain
    * with one injected filter — one source of truth for the stages.
    */
  private def crawlFrontHalfOracleSql(extraFilter: String): String =
      s"""WITH u AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceHtmlSql AS html
         |  FROM documents),
         |q AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)),
         |      '^www\\.', '') AS host,
         |    (CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END) +
         |    (CASE WHEN contains(lower(url), 'frag') THEN 1 ELSE 0 END) AS nb
         |  FROM u),
         |flt AS (
         |  SELECT u.* FROM u JOIN q USING (doc_id)
         |  WHERE NOT (q.host = 'src3.example.com'
         |             OR q.host LIKE '%.src3.example.com')
         |    AND q.nb = 0 $extraFilter AND length(u.url) <= 2048),
         |eu AS (
         |  SELECT doc_id, html,
         |    ${graft.ext.Html.declaredCanonicalOracleSqlExpr("url", "html")} AS url
         |  FROM flt),
         |p AS (
         |  SELECT doc_id, html,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(url, '#.*', '', 'g'),
         |      '[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
         |      '^([^?&]*)&', '\\1?') AS pu
         |  FROM eu),
         |s AS (
         |  SELECT doc_id, html,
         |    regexp_replace(pu, '\\?.*', '') AS base,
         |    regexp_extract(pu, '\\?(.*)', 1) AS query
         |  FROM p),
         |b AS (
         |  SELECT doc_id, html, query,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |      lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
         |        regexp_replace(base, '^[^/]*//[^/]*', ''),
         |      '^(https?://)www\\.', '\\1'),
         |      '^(http://[^/:]+):80($$|/)', '\\1\\2'),
         |      '^(https://[^/:]+):443($$|/)', '\\1\\2'),
         |      '/$$', '') AS clean_base
         |  FROM s),
         |k AS (
         |  SELECT doc_id, html,
         |    CASE WHEN sq = '' THEN clean_base
         |         ELSE clean_base || '?' || sq END AS url_key
         |  FROM (SELECT doc_id, html, clean_base,
         |          COALESCE(array_to_string(list_sort(
         |            list_filter(string_split(query, '&'), x -> x <> '')), '&'), '') AS sq
         |        FROM b)),
         |win AS (SELECT url_key, min(doc_id) AS doc_id FROM k GROUP BY url_key),
         |ext AS (
         |  SELECT k.doc_id, k.url_key,
         |    ${graft.ext.Html.oracleSqlExpr("k.html")} AS text
         |  FROM k JOIN win ON k.doc_id = win.doc_id AND k.url_key = win.url_key)
         |SELECT doc_id, url_key, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
         |FROM ext ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // q137 — the host edge list replayed: href extraction
    // (regexp_extract_all, the q127 pattern), the shared host fold
    // (LinkGraph.hostOfOracleSqlExpr — same constants as the Spark
    // expression), self/host-less drops, pair aggregation
    "q137_host_edges" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst
         |  FROM x)
         |SELECT src AS src_host, dst AS dst_host,
         |  count(*) AS n_links, count(DISTINCT doc_id) AS n_pages
         |FROM e
         |WHERE src <> '' AND dst <> '' AND src <> dst
         |GROUP BY src, dst
         |ORDER BY src, dst""".stripMargin,
    // q155 — the per-source page cap replayed: the shared host fold +
    // q50's md5 ordering + id tiebreak + the <= k cut
    "q155_host_page_cap" ->
      s"""SELECT doc_id, host FROM (
         |  SELECT doc_id, host,
         |    row_number() OVER (
         |      PARTITION BY host
         |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft') ASC, doc_id ASC) AS rn
         |  FROM (SELECT doc_id,
         |          ${LinkGraph.hostOfOracleSqlExpr(s"($sourceUrlSql)")} AS host
         |        FROM documents) h) t
         |WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    // q154 — the domain-grain edge list replayed: the q137 derivation
    // with the eTLD+1 fold (shared suffix-list constants) on both
    // endpoints, domain-grain self-edges dropped
    "q154_domain_edges" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.domainOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.domainOfOracleSqlExpr("href")} AS dst
         |  FROM x)
         |SELECT src AS src_host, dst AS dst_host,
         |  count(*) AS n_links, count(DISTINCT doc_id) AS n_pages
         |FROM e
         |WHERE src <> '' AND dst <> '' AND src <> dst
         |GROUP BY src, dst
         |ORDER BY src, dst""".stripMargin,
    // q146 — link-weighted PageRank replayed bit-for-bit: the q137
    // edge derivation WITH counts feeds the weighted rankOracleCtes
    "q146_host_rank_weighted" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |e2 AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst
         |  FROM x),
         |edges AS (
         |  SELECT src AS src_host, dst AS dst_host,
         |    count(*) AS n_links
         |  FROM e2
         |  WHERE src <> '' AND dst <> '' AND src <> dst
         |  GROUP BY src, dst),
         |${LinkGraph.rankOracleCtes(iterations = 3, damping = 0.85,
            weightedByLinks = true)}
         |SELECT host, rank FROM r3 ORDER BY host""".stripMargin,
    // q138 — 3-iteration PageRank replayed bit-for-bit: the q137 edge
    // derivation feeds LinkGraph.rankOracleCtes' chained CTEs; every
    // per-node sum is a sorted sequential fold in both engines and
    // the constants parse to identical doubles (see LinkGraph's
    // determinism note)
    "q138_host_rank" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |edges AS (
         |  SELECT src AS src_host,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst_host
         |  FROM x
         |  WHERE src <> '' AND ${LinkGraph.hostOfOracleSqlExpr("href")} <> ''
         |    AND src <> ${LinkGraph.hostOfOracleSqlExpr("href")}),
         |${LinkGraph.rankOracleCtes(iterations = 3, damping = 0.85)}
         |SELECT host, rank FROM r3 ORDER BY host""".stripMargin,
    // q148 — the persisted-rank page cut replayed: the q138 rank CTEs
    // (bit-exact through the parquet round-trip — doubles land
    // unchanged), the 1/n threshold as the same IEEE division, the
    // host-fold join back onto the pages
    "q148_rank_persisted_probe" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |edges AS (
         |  SELECT src AS src_host,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst_host
         |  FROM x
         |  WHERE src <> '' AND ${LinkGraph.hostOfOracleSqlExpr("href")} <> ''
         |    AND src <> ${LinkGraph.hostOfOracleSqlExpr("href")}),
         |${LinkGraph.rankOracleCtes(iterations = 3, damping = 0.85)},
         |thr AS (SELECT CAST(1.5 AS DOUBLE) *
         |  ((CAST(1.0 AS DOUBLE) - CAST('0.85' AS DOUBLE)) / np.n) AS t FROM np)
         |SELECT p2.doc_id, r3.host, r3.rank
         |FROM (SELECT doc_id,
         |        ${LinkGraph.hostOfOracleSqlExpr(s"($sourceUrlSql)")} AS host
         |      FROM documents) p2
         |JOIN r3 ON r3.host = p2.host CROSS JOIN thr
         |WHERE r3.rank >= thr.t
         |ORDER BY p2.doc_id""".stripMargin,
    // q139 — seeded training order replayed: the q93 md5 hex-fold,
    // modulo shard, per-shard row_number over (ord, id)
    "q139_training_order" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      AS ord
        |  FROM documents)
        |SELECT doc_id, ord % 6 AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord % 6 ORDER BY ord, doc_id) - 1
        |       AS BIGINT) AS seq
        |FROM s ORDER BY doc_id""".stripMargin,
    // q140 — the host prior replayed: q137's edges → distinct
    // in-hosts per host → the >= 2 cut → join back onto the pages by
    // the same host fold
    "q140_host_prior" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst
         |  FROM x),
         |indeg AS (
         |  SELECT dst AS host, count(DISTINCT src) AS in_hosts
         |  FROM e
         |  WHERE src <> '' AND dst <> '' AND src <> dst
         |  GROUP BY dst),
         |k AS (SELECT host, in_hosts FROM indeg WHERE in_hosts >= 2)
         |SELECT p2.doc_id, k.host, k.in_hosts
         |FROM (SELECT doc_id,
         |        ${LinkGraph.hostOfOracleSqlExpr(s"($sourceUrlSql)")} AS host
         |      FROM documents) p2
         |JOIN k ON k.host = p2.host
         |ORDER BY p2.doc_id""".stripMargin,
    // q143 — pack → epoch-shuffle composed: q47's packing CTEs chain
    // into q139's md5-order replay over the composite bin id
    "q143_packed_epoch" ->
      """WITH sized AS (
        |  SELECT lang, doc_id, text, len(string_split(text, ' ')) AS n,
        |    SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents),
        |packed AS (
        |  SELECT lang || ':' ||
        |      CAST(CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS VARCHAR)
        |      AS pack_id,
        |    CAST(SUM(n) AS BIGINT) AS sum_tokens
        |  FROM sized
        |  GROUP BY lang, CAST(FLOOR((cum - n) / 2048.0) AS BIGINT)),
        |s AS (
        |  SELECT pack_id, sum_tokens,
        |    ('0x' || substr(md5('epoch0:' || pack_id), 1, 15))::BIGINT AS ord
        |  FROM packed)
        |SELECT pack_id, sum_tokens, ord % 4 AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord % 4 ORDER BY ord, pack_id) - 1
        |       AS BIGINT) AS seq
        |FROM s ORDER BY pack_id""".stripMargin,
    // q142 — the robots policy replayed: the shared meta extraction
    // (name-anchored, entity-decoded, ws-normalized) lowered, the
    // DELIMITED-TOKEN match for noindex/nofollow/none (the shared
    // Html pattern constants), keep = NOT noindex
    "q142_page_policy" ->
      s"""WITH h AS (
         |  SELECT doc_id, $sourceHtmlSql AS html FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    lower(${graft.ext.Html.metaOracleSqlExpr("html", "robots")}) AS robots
         |  FROM h)
         |SELECT doc_id, robots,
         |  ${graft.ext.Html.robotsTokenOracleSqlExpr("robots",
              graft.ext.Html.RobotsNoindexPattern)} AS noindex,
         |  ${graft.ext.Html.robotsTokenOracleSqlExpr("robots",
              graft.ext.Html.RobotsNofollowPattern)} AS nofollow,
         |  NOT ${graft.ext.Html.robotsTokenOracleSqlExpr("robots",
              graft.ext.Html.RobotsNoindexPattern)} AS keep
         |FROM r ORDER BY doc_id""".stripMargin,
    // q141 — anchor-text mining replayed: whole-element extraction,
    // href host fold, the anchor normalization chain (tag strip →
    // entity decode amp-last → ws collapse), per-target aggregation
    "q141_anchor_texts" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html,
         |      '${graft.ext.Html.AnchorHrefPattern.replace("'", "''")}', 0)) AS a
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr(graft.ext.Html.anchorHrefOracleSqlExpr("a"))} AS dst,
         |    ${graft.ext.Html.anchorTextOracleSqlExpr("a")} AS anchor
         |  FROM x)
         |SELECT dst AS dst_host, anchor,
         |  count(*) AS n_links, count(DISTINCT src) AS n_hosts
         |FROM e
         |WHERE src <> '' AND dst <> '' AND src <> dst AND anchor <> ''
         |GROUP BY dst, anchor
         |ORDER BY dst, anchor""".stripMargin,
    // q149 — the anchor-keyword signal replayed: the q141 profile
    // chain, the case-insensitive keyword CASE, integer count sums,
    // ONE IEEE division, the 0.5 block flag on the divided value
    "q149_anchor_keyword_signal" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html,
         |      '${graft.ext.Html.AnchorHrefPattern.replace("'", "''")}', 0)) AS a
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr(graft.ext.Html.anchorHrefOracleSqlExpr("a"))} AS dst,
         |    ${graft.ext.Html.anchorTextOracleSqlExpr("a")} AS anchor
         |  FROM x),
         |prof AS (
         |  SELECT dst AS dst_host, anchor, count(*) AS n_links
         |  FROM e
         |  WHERE src <> '' AND dst <> '' AND src <> dst AND anchor <> ''
         |  GROUP BY dst, anchor),
         |sig AS (
         |  SELECT dst_host,
         |    CAST(SUM(n_links) AS BIGINT) AS n_links,
         |    CAST(SUM(CASE WHEN ${LinkGraph.anchorKeywordOracleSqlExpr(
                              "anchor", Seq("now", "topic 4"))}
         |             THEN n_links ELSE 0 END) AS BIGINT) AS kw_links
         |  FROM prof GROUP BY dst_host)
         |SELECT dst_host, n_links, kw_links,
         |  CAST(kw_links AS DOUBLE) / CAST(n_links AS DOUBLE) AS kw_rate,
         |  (CAST(kw_links AS DOUBLE) / CAST(n_links AS DOUBLE)) >= 0.5
         |    AS blocked
         |FROM sig ORDER BY dst_host""".stripMargin,
    // q113 — the DSIR score replayed: hashed unigram∪bigram features
    // (md5 4-hex buckets, the engine's verbatim hashing), add-one-
    // smoothed bit-length surprisal under raw vs target models, one
    // final IEEE division (q72's exactness argument applies term for
    // term; 65536 = the bucket count = the smoothing mass).
    "q113_dsir_score" ->
      """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
        |fb AS (
        |  SELECT doc_id, substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT doc_id,
        |      unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok)),
        |rawcf AS (SELECT b, count(*) AS cf FROM fb GROUP BY b),
        |rn AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM rawcf),
        |tfb AS (
        |  SELECT substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok JOIN documents USING (doc_id) WHERE documents.lang = 'en')),
        |tgtcf AS (SELECT b, count(*) AS tcf FROM tfb GROUP BY b),
        |tn AS (SELECT CAST(coalesce(sum(tcf), 0) AS BIGINT) AS n FROM tgtcf),
        |agg AS (
        |  SELECT fb.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_features,
        |    CAST(sum(
        |      (length(format('{:b}', rn.n + 65536)) - length(format('{:b}', rawcf.cf + 1)))
        |      - (length(format('{:b}', tn.n + 65536))
        |         - length(format('{:b}', coalesce(tgtcf.tcf, 0) + 1)))) AS BIGINT)
        |      AS weight_bits
        |  FROM fb JOIN rawcf USING (b) LEFT JOIN tgtcf USING (b)
        |  CROSS JOIN rn CROSS JOIN tn
        |  GROUP BY fb.doc_id)
        |SELECT doc_id, n_features, weight_bits,
        |  CAST(weight_bits AS DOUBLE) / CAST(n_features AS DOUBLE) AS avg_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    // q118 — token drift replayed: per-side occurrence counts, one
    // division per share, |delta| ranked with the (abs DESC, token)
    // total order — identical doubles, identical ties, identical cut.
    // q124 — within-doc line repetition over the 2-token reflow: line
    // multiset vs distinct set, counts and char sums both ways, one
    // IEEE division per fraction.
    "q124_line_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |l AS (
        |  SELECT doc_id, array_to_string(list_slice(sp, st, st + 1), ' ') AS line
        |  FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp), 2)) AS st
        |        FROM t)),
        |a AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(DISTINCT line) AS BIGINT) AS nd,
        |    CAST(sum(length(line)) AS BIGINT) AS c
        |  FROM l GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, CAST(sum(length(line)) AS BIGINT) AS cd
        |  FROM (SELECT DISTINCT doc_id, line FROM l) GROUP BY doc_id)
        |SELECT a.doc_id, a.n AS n_lines,
        |  CAST(a.n - a.nd AS DOUBLE) / CAST(a.n AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN a.c = 0 THEN 0.0
        |       ELSE CAST(a.c - b.cd AS DOUBLE) / CAST(a.c AS DOUBLE)
        |  END AS dup_line_char_frac
        |FROM a JOIN b USING (doc_id) ORDER BY a.doc_id""".stripMargin,
    // q119/q120/q121 — the reflow CTE (t, l) replays reflowedDocs
    // verbatim: 1-based slice starts every 8, list_slice end-inclusive,
    // (st-1)/8 always an exact multiple so the BIGINT cast never
    // rounds. Line dedup then replays in plain SQL: q119 counts
    // occurrences of ≥2×-occurring qualifying (len ≥ 1) lines; q120
    // cuts every occurrence but the (doc_id, pos)-first via a window;
    // q121 cuts batch lines present in the corpus side's line set.
    "q119_dup_line_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |l AS (
        |  SELECT doc_id, CAST((st - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(list_slice(sp, st, st + 7), ' ') AS line
        |  FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp), 8)) AS st
        |        FROM t)),
        |q AS (SELECT doc_id, pos, line, CAST(length(line) AS BIGINT) AS len FROM l),
        |dup AS (
        |  SELECT line FROM q WHERE len >= 1 GROUP BY line HAVING count(*) >= 2)
        |SELECT q.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(dup.line) AS BIGINT) AS n_dup_lines,
        |  CAST(count(dup.line) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN sum(q.len) = 0 THEN 0.0
        |       ELSE CAST(sum(CASE WHEN dup.line IS NOT NULL THEN q.len ELSE 0 END)
        |                 AS DOUBLE) / CAST(sum(q.len) AS DOUBLE)
        |  END AS dup_char_frac
        |FROM q LEFT JOIN dup ON q.line = dup.line
        |GROUP BY q.doc_id ORDER BY q.doc_id""".stripMargin,
    "q120_strip_dup_lines" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |l AS (
        |  SELECT doc_id, CAST((st - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(list_slice(sp, st, st + 7), ' ') AS line
        |  FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp), 8)) AS st
        |        FROM t)),
        |q AS (SELECT doc_id, pos, line FROM l),
        |r AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
        |  FROM q WHERE length(line) >= 1),
        |cuts AS (SELECT doc_id, pos FROM r WHERE rk >= 2)
        |SELECT q.doc_id,
        |  coalesce(string_agg(CASE WHEN cuts.pos IS NULL THEN q.line END,
        |                      chr(10) ORDER BY q.pos), '') AS text,
        |  CAST(count(cuts.pos) AS BIGINT) AS n_cut_lines
        |FROM q LEFT JOIN cuts ON q.doc_id = cuts.doc_id AND q.pos = cuts.pos
        |GROUP BY q.doc_id ORDER BY q.doc_id""".stripMargin,
    "q121_strip_dup_lines_incremental" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |l AS (
        |  SELECT doc_id, CAST((st - 1) / 8 AS BIGINT) AS pos,
        |         array_to_string(list_slice(sp, st, st + 7), ' ') AS line
        |  FROM (SELECT doc_id, sp, unnest(generate_series(1, len(sp), 8)) AS st
        |        FROM t)),
        |corpus AS (
        |  SELECT DISTINCT line FROM l
        |  WHERE doc_id % 10 <> 0 AND length(line) >= 1),
        |q AS (SELECT doc_id, pos, line FROM l WHERE doc_id % 10 = 0),
        |cuts AS (
        |  SELECT q.doc_id, q.pos FROM q JOIN corpus USING (line))
        |SELECT q.doc_id,
        |  coalesce(string_agg(CASE WHEN cuts.pos IS NULL THEN q.line END,
        |                      chr(10) ORDER BY q.pos), '') AS text,
        |  CAST(count(cuts.pos) AS BIGINT) AS n_cut_lines
        |FROM q LEFT JOIN cuts ON q.doc_id = cuts.doc_id AND q.pos = cuts.pos
        |GROUP BY q.doc_id ORDER BY q.doc_id""".stripMargin,
    "q118_token_drift" ->
      """WITH oc AS (
        |  SELECT token, count(*) AS n_old FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 <> 0) GROUP BY token),
        |nc AS (
        |  SELECT token, count(*) AS n_new FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token
        |    FROM documents WHERE doc_id % 10 = 0) GROUP BY token),
        |j AS (
        |  SELECT token,
        |    CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
        |    CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
        |  FROM oc FULL OUTER JOIN nc USING (token)),
        |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS tot_old,
        |             CAST(sum(n_new) AS BIGINT) AS tot_new FROM j),
        |r AS (
        |  SELECT token, n_old, n_new,
        |    CAST(n_old AS DOUBLE) / CAST(tot_old AS DOUBLE) AS share_old,
        |    CAST(n_new AS DOUBLE) / CAST(tot_new AS DOUBLE) AS share_new,
        |    CAST(n_new AS DOUBLE) / CAST(tot_new AS DOUBLE)
        |      - CAST(n_old AS DOUBLE) / CAST(tot_old AS DOUBLE) AS share_diff
        |  FROM j CROSS JOIN t)
        |SELECT token, n_old, n_new, share_old, share_new, share_diff FROM (
        |  SELECT * FROM r ORDER BY abs(share_diff) DESC, token ASC LIMIT 200)
        |ORDER BY token""".stripMargin,
    // q117 — the composed chain replayed stage for stage: q116's keep
    // conjunction selects, q07's min-id-per-md5 dedups, q113/q114's
    // DSIR machinery scores the DEDUPED set against its own lang='en'
    // subset and cuts the top 100 by the total (weight DESC, id) order.
    "q117_selection_pipeline" ->
      """WITH stops AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS n
        |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |    GROUP BY token ORDER BY n DESC, token ASC LIMIT 20)),
        |sh AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_stop_hits FROM (
        |    SELECT DISTINCT doc_id, token FROM (
        |      SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents))
        |  WHERE token IN (SELECT token FROM stops) GROUP BY doc_id),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(list_aggregate(list_transform(string_split(text, ' '),
        |      x -> length(x)), 'sum') AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST(length(text) - length(replace(text, '...', '')) AS BIGINT) AS ell_chars,
        |    CAST(length(text) - length(replace(text, '…', '')) AS BIGINT) AS ell_uni,
        |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      x -> starts_with(x, '- ') OR starts_with(x, '* ')
        |           OR starts_with(x, '•'))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(string_split(text, chr(10)),
        |      x -> ends_with(x, '...') OR ends_with(x, '…'))) AS BIGINT) AS n_ell_end
        |  FROM documents),
        |g AS (
        |  SELECT s.doc_id FROM s LEFT JOIN sh USING (doc_id)
        |  WHERE s.n_words >= 50 AND s.n_words <= 100000
        |    AND CAST(s.sum_len AS DOUBLE) / CAST(s.n_words AS DOUBLE) >= 3.0
        |    AND CAST(s.sum_len AS DOUBLE) / CAST(s.n_words AS DOUBLE) <= 10.0
        |    AND CAST(s.n_hash AS DOUBLE) / CAST(s.n_words AS DOUBLE) <= 0.1
        |    AND CAST(s.ell_chars + 3 * s.ell_uni AS DOUBLE)
        |        / CAST(3 * s.n_words AS DOUBLE) <= 0.1
        |    AND CAST(s.n_alpha AS DOUBLE) / CAST(s.n_words AS DOUBLE) >= 0.8
        |    AND coalesce(sh.n_stop_hits, 0) >= 2
        |    AND CAST(s.n_bullet AS DOUBLE) / CAST(s.n_lines AS DOUBLE) <= 0.9
        |    AND CAST(s.n_ell_end AS DOUBLE) / CAST(s.n_lines AS DOUBLE) <= 0.3),
        |kept AS (SELECT d.* FROM documents d JOIN g USING (doc_id)),
        |dd AS (SELECT * FROM kept
        |  WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY md5(text))),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM dd),
        |fb AS (
        |  SELECT doc_id, substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT doc_id,
        |      unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok)),
        |rawcf AS (SELECT b, count(*) AS cf FROM fb GROUP BY b),
        |rn AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM rawcf),
        |tfb AS (
        |  SELECT substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok JOIN dd USING (doc_id) WHERE dd.lang = 'en')),
        |tgtcf AS (SELECT b, count(*) AS tcf FROM tfb GROUP BY b),
        |tn AS (SELECT CAST(coalesce(sum(tcf), 0) AS BIGINT) AS n FROM tgtcf),
        |agg AS (
        |  SELECT fb.doc_id,
        |    CAST(sum(
        |      (length(format('{:b}', rn.n + 65536))
        |       - length(format('{:b}', coalesce(rawcf.cf, 0) + 1)))
        |      - (length(format('{:b}', tn.n + 65536))
        |         - length(format('{:b}', coalesce(tgtcf.tcf, 0) + 1)))) AS BIGINT)
        |      AS weight_bits
        |  FROM fb LEFT JOIN rawcf USING (b) LEFT JOIN tgtcf USING (b)
        |  CROSS JOIN rn CROSS JOIN tn
        |  GROUP BY fb.doc_id)
        |SELECT doc_id, lang, source, weight_bits FROM (
        |  SELECT dd.doc_id, dd.lang, dd.source, agg.weight_bits
        |  FROM dd JOIN agg USING (doc_id)
        |  ORDER BY agg.weight_bits DESC, dd.doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    // q116 — the Gopher rule report replayed: integer counts per
    // statistic, one division per ratio, threshold comparisons on the
    // identical IEEE doubles; the stop list is the q40 top-k with its
    // deterministic (count DESC, token ASC) tie-break.
    "q116_gopher_rules" -> s"$gopherReportSql ORDER BY doc_id",
    // q145 — the per-host rollup of the q116 verdicts: the same
    // report CTE joined to the synthetic source hosts, one keep-rate
    // aggregate per host (exact integers + one IEEE division)
    "q145_host_quality" ->
      s"""WITH g AS ($gopherReportSql),
         |h AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr(s"($sourceUrlSql)")} AS host
         |  FROM documents)
         |SELECT h.host, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN g.keep THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS keep_rate
         |FROM g JOIN h USING (doc_id)
         |GROUP BY h.host ORDER BY h.host""".stripMargin,
    // q115 — the incremental probe replayed: models over the corpus
    // side (doc_id % 10 <> 0; target = its lang='en' subset), batch
    // features left-joined with coalesce-0 on BOTH models (the
    // persisted model may miss batch vocabulary), same +1 smoothing.
    "q115_dsir_incremental" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |cfb AS (
        |  SELECT substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok WHERE doc_id % 10 <> 0)),
        |rawcf AS (SELECT b, count(*) AS cf FROM cfb GROUP BY b),
        |rn AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM rawcf),
        |tfb AS (
        |  SELECT substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok JOIN documents USING (doc_id)
        |    WHERE tok.doc_id % 10 <> 0 AND documents.lang = 'en')),
        |tgtcf AS (SELECT b, count(*) AS tcf FROM tfb GROUP BY b),
        |tn AS (SELECT CAST(coalesce(sum(tcf), 0) AS BIGINT) AS n FROM tgtcf),
        |bfb AS (
        |  SELECT doc_id, substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT doc_id,
        |      unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok WHERE doc_id % 10 = 0)),
        |agg AS (
        |  SELECT bfb.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_features,
        |    CAST(sum(
        |      (length(format('{:b}', rn.n + 65536))
        |       - length(format('{:b}', coalesce(rawcf.cf, 0) + 1)))
        |      - (length(format('{:b}', tn.n + 65536))
        |         - length(format('{:b}', coalesce(tgtcf.tcf, 0) + 1)))) AS BIGINT)
        |      AS weight_bits
        |  FROM bfb LEFT JOIN rawcf USING (b) LEFT JOIN tgtcf USING (b)
        |  CROSS JOIN rn CROSS JOIN tn
        |  GROUP BY bfb.doc_id)
        |SELECT doc_id, n_features, weight_bits,
        |  CAST(weight_bits AS DOUBLE) / CAST(n_features AS DOUBLE) AS avg_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    // q114 — q113's score joined back and cut to the top 200 by
    // (weight_bits DESC, doc_id): a total order, so both engines
    // select the identical set.
    "q114_dsir_select" ->
      """WITH tok AS (SELECT doc_id, text, string_split(text, ' ') AS l FROM documents),
        |fb AS (
        |  SELECT doc_id, substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT doc_id,
        |      unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok)),
        |rawcf AS (SELECT b, count(*) AS cf FROM fb GROUP BY b),
        |rn AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM rawcf),
        |tfb AS (
        |  SELECT substr(md5(f || 'graft'), 1, 4) AS b FROM (
        |    SELECT unnest(list_concat(l,
        |        list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1]))) AS f
        |    FROM tok JOIN documents USING (doc_id) WHERE documents.lang = 'en')),
        |tgtcf AS (SELECT b, count(*) AS tcf FROM tfb GROUP BY b),
        |tn AS (SELECT CAST(coalesce(sum(tcf), 0) AS BIGINT) AS n FROM tgtcf),
        |agg AS (
        |  SELECT fb.doc_id,
        |    CAST(sum(
        |      (length(format('{:b}', rn.n + 65536)) - length(format('{:b}', rawcf.cf + 1)))
        |      - (length(format('{:b}', tn.n + 65536))
        |         - length(format('{:b}', coalesce(tgtcf.tcf, 0) + 1)))) AS BIGINT)
        |      AS weight_bits
        |  FROM fb JOIN rawcf USING (b) LEFT JOIN tgtcf USING (b)
        |  CROSS JOIN rn CROSS JOIN tn
        |  GROUP BY fb.doc_id)
        |SELECT doc_id, lang, source, weight_bits FROM (
        |  SELECT d.doc_id, d.lang, d.source, agg.weight_bits
        |  FROM documents d JOIN agg USING (doc_id)
        |  ORDER BY agg.weight_bits DESC, d.doc_id LIMIT 200)
        |ORDER BY doc_id""".stripMargin,
    "q07_dedup_exact" ->
      """SELECT * FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,
    // q46's batch/corpus split; batch-side min-id dedup + corpus anti
    "q74_exact_incremental" ->
      """WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0)
        |SELECT b.* FROM batch b
        |WHERE b.doc_id IN (SELECT min(doc_id) FROM batch GROUP BY md5(text))
        |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,
    // q74's oracle VERBATIM: the Bloom prefilter is semantically
    // transparent (no false negatives; positives confirmed exactly)
    "q91_exact_bloom_probe" ->
      """WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |corpus AS (SELECT DISTINCT text FROM documents WHERE doc_id % 10 <> 0)
        |SELECT b.* FROM batch b
        |WHERE b.doc_id IN (SELECT min(doc_id) FROM batch GROUP BY md5(text))
        |  AND NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)
        |ORDER BY b.doc_id""".stripMargin,
    "q08_text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(n_chars) AS DOUBLE)/count(*) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  count(DISTINCT text) AS n_distinct_docs
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q09_text_quality" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_types,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS ttr,
        |  CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len,
        |  CASE WHEN len(string_split(text, ' ')) < 20 THEN 'short'
        |       WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |              / len(string_split(text, ' ')) < 0.35 THEN 'repetitive'
        |       ELSE 'ok' END AS quality_band
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q10_lang_id" ->
      s"""WITH prof AS (SELECT * FROM (VALUES $langProfileValues) p(lang_cand, markers)),
         |scored AS (
         |  SELECT d.doc_id, d.lang, p.lang_cand,
         |    CAST(len(list_filter(string_split(d.text, ' '),
         |                         t -> list_contains(p.markers, t))) AS BIGINT) AS score
         |  FROM documents d CROSS JOIN prof p),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY score DESC, lang_cand ASC) AS rn
         |  FROM scored)
         |SELECT doc_id, lang, lang_cand, score FROM r WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "q11_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id",
    "q12_near_dup_minhash" -> jaccardOracle(3, 0.8),
    "q13_near_dup_jaccard" -> jaccardOracle(2, 0.7),
    "q14_embed_near_dup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       list_cosine_similarity(a.v, b.v) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
        |ORDER BY a_id, b_id""".stripMargin,
    "q15_similarity_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id, b.vec_id AS neighbor_id,
        |         list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        |r AS (
        |  SELECT vec_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY vec_id
        |                       ORDER BY sim DESC, neighbor_id ASC) AS rnk
        |  FROM p)
        |SELECT vec_id, neighbor_id, CAST(rnk AS INT) AS rnk, sim
        |FROM r WHERE rnk <= 5 ORDER BY vec_id, rnk""".stripMargin,
    // near-dedup ground truth: transitive closure over the exact pair
    // set (recursive CTE), drop every member that is not its
    // component's minimum
    "q23_dedup_near_dups" ->
      s"""WITH RECURSIVE ${jaccardPairsCte(3, 0.8)},
         |edges AS (
         |  SELECT a_id AS s, b_id AS d FROM jpairs
         |  UNION SELECT b_id, a_id FROM jpairs),
         |walk(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s),
         |comp AS (
         |  SELECT s AS member, least(s, min(d)) AS component
         |  FROM walk GROUP BY s)
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT member FROM comp WHERE member <> component)
         |ORDER BY doc_id""".stripMargin,
    // 1-based window starts (vs Spark's 0-based): coverage is a
    // position-SET size, identical under the shift; integers until the
    // final division
    "q78_boilerplate_fraction" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |w AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |spans AS (
        |  SELECT doc_id, st, array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM w),
        |dup AS (
        |  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |cov0 AS (
        |  SELECT s.doc_id, s.st, unnest(generate_series(0, 7)) AS k
        |  FROM spans s JOIN dup USING (span)),
        |cov AS (SELECT DISTINCT doc_id, st + k AS p FROM cov0),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.sp) AS BIGINT) AS n_tokens,
        |  COALESCE(c.covered, 0) / CAST(len(t.sp) AS DOUBLE) AS boilerplate_frac
        |FROM t LEFT JOIN c USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // q78's coverage CTEs; kept tokens reassembled in position order
    // (string_agg ORDER BY = Spark's sorted-struct rebuild)
    "q84_encoding_profile" ->
      """SELECT doc_id,
        |  CAST(len(text) - len(regexp_replace(text, '�', '', 'g')) AS BIGINT)
        |    AS replacement_chars,
        |  CAST(len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
        |    AS control_chars,
        |  CAST(len(text) - len(regexp_replace(text, '[ÃÂ€]', '', 'g')) AS BIGINT)
        |    AS mojibake_marks,
        |  CASE WHEN len(text) = 0 THEN 0.0
        |       ELSE CAST(len(text) - len(regexp_replace(text, '[\x20-\x7E\x09\x0A\x0D]', '', 'g'))
        |              AS DOUBLE) / len(text) END AS ascii_frac
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q85_normalized_dedup" ->
      """SELECT * FROM documents
        |WHERE doc_id IN (
        |  SELECT min(doc_id) FROM documents
        |  GROUP BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))))
        |ORDER BY doc_id""".stripMargin,
    // the q84→q85→q12/q23→q30→q33→q34 composition: each CTE block is
    // the corresponding standalone oracle re-rooted on the previous
    // stage's survivor set (bench 5-grams stay rooted on the FULL
    // corpus — an eval set is defined independently of the gates)
    "q88_curation_chain" -> (curationCtes +
      """,
        |sized AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n,
        |    SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM mix)
        |SELECT lang,
        |  CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM sized GROUP BY lang, bin_id
        |ORDER BY lang, bin_id""".stripMargin),
    // q92 — the audit is a CASE over the SAME survivor CTEs, first
    // missing set wins; `benchmark` outranks `contaminated` exactly as
    // the chain removes the eval slice before the 5-gram check
    "q92_curation_audit" -> (curationCtes +
      """
        |SELECT d.doc_id, d.lang,
        |  CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM gated) THEN 'encoding'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM normed) THEN 'exact_dup'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM dd) THEN 'near_dup'
        |       WHEN d.doc_id % 20 = 0 THEN 'benchmark'
        |       WHEN d.doc_id IN (SELECT doc_id FROM contaminated) THEN 'contaminated'
        |       WHEN d.doc_id NOT IN (SELECT doc_id FROM mix) THEN 'mixture'
        |       ELSE 'kept' END AS drop_stage
        |FROM documents d ORDER BY d.doc_id""".stripMargin),
    // q93 — the shard hash and checksum are spelled with DuckDB's
    // ('0x'||hex)::BIGINT parse of the same md5 prefixes Spark folds
    // via conv(..,16,10); sums cast back to BIGINT (DuckDB widens SUM
    // to HUGEINT, which would stringify differently only when negative
    // — cast anyway for symmetry with the Spark LongType columns)
    "q93_shard_manifest" ->
      """WITH s AS (
        |  SELECT
        |    (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 15))::BIGINT) % 8
        |      AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(strlen(text) AS BIGINT) AS nbytes,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15))::BIGINT
        |      AS h
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(nbytes) AS BIGINT) AS n_bytes,
        |  bit_xor(h) AS checksum
        |FROM s GROUP BY shard ORDER BY shard""".stripMargin,
    // q95 — survivors replay q85's min-id-per-normalized-digest rule;
    // a CASE over digest presence/equality replays the diff statuses
    // (no 'added' arm: the new snapshot is a subset of the old by
    // construction — ExtSpec exercises 'added' on the generic op)
    "q95_snapshot_diff" ->
      """WITH nd AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS ntext
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, ntext FROM nd
        |  WHERE doc_id IN (SELECT min(doc_id) FROM nd GROUP BY md5(ntext))),
        |d AS (
        |  SELECT o.doc_id, md5(o.text) AS old_fp, md5(s.ntext) AS new_fp
        |  FROM documents o LEFT JOIN surv s USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN new_fp IS NULL THEN 'removed'
        |       WHEN old_fp <> new_fp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  old_fp, new_fp
        |FROM d ORDER BY doc_id""".stripMargin,
    // q96 — theta sketches never sample below 2^lgK=4096 distinct
    // values per facet (the registry config's tested-SF ceiling is
    // ~2.3k), so every estimate is the EXACT set cardinality: the
    // oracle computes the same per-source distinct-normalized-text
    // sets and their exact intersection/differences; the inner join
    // reproduces overlap()'s drop-absent-facet contract.
    "q96_overlap_sketch" ->
      """WITH n AS (
        |  SELECT doc_id, source,
        |    trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < 'e666'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < 'f333'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |tr AS (SELECT DISTINCT source, norm FROM n WHERE split = 'train'),
        |te AS (SELECT DISTINCT source, norm FROM n WHERE split = 'test'),
        |a AS (SELECT source, count(*) AS a_n FROM tr GROUP BY source),
        |b AS (SELECT source, count(*) AS b_n FROM te GROUP BY source),
        |o AS (SELECT source, count(*) AS o_n
        |      FROM tr JOIN te USING (source, norm) GROUP BY source)
        |SELECT a.source,
        |  CAST(a.a_n AS DOUBLE) AS a_distinct,
        |  CAST(b.b_n AS DOUBLE) AS b_distinct,
        |  CAST(coalesce(o.o_n, 0) AS DOUBLE) AS overlap_est,
        |  CAST(a.a_n - coalesce(o.o_n, 0) AS DOUBLE) AS a_only_est,
        |  CAST(b.b_n - coalesce(o.o_n, 0) AS DOUBLE) AS b_only_est
        |FROM a JOIN b USING (source) LEFT JOIN o USING (source)
        |ORDER BY a.source""".stripMargin,
    // q99 — Misra-Gries never purges under 0.75·maxMapSize=3072
    // distinct items per facet (tested-SF vocabulary ≈ 310), so
    // est = exact count, lb = ub = est, max_err = 0; the oracle is
    // q40's exact counting with freqTopK's (est DESC, item ASC)
    // per-facet top-10 cut.
    "q99_heavy_hitters" ->
      """WITH w AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
        |      FROM w GROUP BY source, token),
        |r AS (SELECT source, token, n,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY n DESC, token ASC) AS rk
        |      FROM c)
        |SELECT source, token AS item, n AS est, n AS lb, n AS ub,
        |  CAST(0 AS BIGINT) AS max_err
        |FROM r WHERE rk <= 10
        |ORDER BY source, est DESC, item""".stripMargin,
    // q102 — below k=4096 values per facet nothing compacts and each
    // estimate is the exact order statistic sorted[⌊q·(n−1)⌋] (the
    // smallest value whose weight-1 cumulative count exceeds q·(n−1));
    // q·(n−1) is forced to IEEE DOUBLE on both engines so the floor
    // lands identically.
    "q102_quantile_sketch" ->
      """WITH v AS (
        |  SELECT source, CAST(length(text) AS DOUBLE) AS len FROM documents),
        |r AS (
        |  SELECT source, len,
        |    row_number() OVER (PARTITION BY source ORDER BY len) - 1 AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM v)
        |SELECT source, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rn = CAST(floor(CAST(0.1 AS DOUBLE) * (n - 1)) AS BIGINT)
        |           THEN len END) AS q10,
        |  max(CASE WHEN rn = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT)
        |           THEN len END) AS q50,
        |  max(CASE WHEN rn = CAST(floor(CAST(0.9 AS DOUBLE) * (n - 1)) AS BIGINT)
        |           THEN len END) AS q90,
        |  max(CASE WHEN rn = CAST(floor(CAST(0.99 AS DOUBLE) * (n - 1)) AS BIGINT)
        |           THEN len END) AS q99
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q100 — the log2 bucket is integer bit-length (length of the binary
    // string, no libm); mean/ratio are single IEEE divisions spelled
    // identically; salt_buckets is exact integer ceil-division (DuckDB
    // `//` == Spark `div`).
    "q100_skew_report" ->
      """WITH kc AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |hist AS (
        |  SELECT length(bin(cnt)) - 1 AS bucket, count(*) AS n_keys,
        |         min(cnt) AS min_count, max(cnt) AS max_count
        |  FROM kc GROUP BY 1),
        |stats AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total_rows, count(*) AS total_keys,
        |         CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_count,
        |         max(cnt) / (CAST(sum(cnt) AS DOUBLE) / count(*)) AS skew_ratio,
        |         CAST(greatest(1, (max(cnt) * count(*) + sum(cnt) - 1) // sum(cnt))
        |              AS BIGINT) AS salt_buckets
        |  FROM kc)
        |SELECT h.bucket, h.n_keys, h.min_count, h.max_count,
        |       s.total_rows, s.total_keys, s.mean_count, s.skew_ratio, s.salt_buckets
        |FROM hist h CROSS JOIN stats s
        |ORDER BY h.bucket""".stripMargin,
    // q103 — exact counts; shares/deltas/chi-square spelled as the SAME
    // fixed tree of double ops as the Spark side (two divisions, one
    // subtraction, square/divide) so both engines round identically.
    "q103_drift_report" ->
      """WITH o AS (SELECT lang AS band, count(*) AS c FROM documents GROUP BY 1),
        |n AS (SELECT lang AS band, count(*) AS c FROM documents
        |      WHERE n_chars >= 300 GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(o.band, n.band) AS band,
        |         CAST(COALESCE(o.c, 0) AS BIGINT) AS n_old,
        |         CAST(COALESCE(n.c, 0) AS BIGINT) AS n_new
        |  FROM o FULL JOIN n ON o.band = n.band),
        |t AS (SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |             CAST(SUM(n_new) AS BIGINT) AS tot_new FROM j)
        |SELECT j.band, j.n_old, j.n_new,
        |  CAST(j.n_old AS DOUBLE) / CAST(t.tot_old AS DOUBLE) AS share_old,
        |  CAST(j.n_new AS DOUBLE) / CAST(t.tot_new AS DOUBLE) AS share_new,
        |  CAST(j.n_new AS DOUBLE) / CAST(t.tot_new AS DOUBLE)
        |    - CAST(j.n_old AS DOUBLE) / CAST(t.tot_old AS DOUBLE) AS share_diff,
        |  CASE WHEN j.n_old > 0 THEN
        |    (CAST(j.n_new AS DOUBLE) / CAST(t.tot_new AS DOUBLE)
        |      - CAST(j.n_old AS DOUBLE) / CAST(t.tot_old AS DOUBLE))
        |    * (CAST(j.n_new AS DOUBLE) / CAST(t.tot_new AS DOUBLE)
        |      - CAST(j.n_old AS DOUBLE) / CAST(t.tot_old AS DOUBLE))
        |    / (CAST(j.n_old AS DOUBLE) / CAST(t.tot_old AS DOUBLE)) END AS chi2_term
        |FROM j CROSS JOIN t ORDER BY band""".stripMargin,
    // q104 — directed containment over exact distinct 3-gram shingle
    // sets: integer intersection counts, one division per direction.
    "q104_containment" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |sh AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
        |  FROM w t1 JOIN w t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |            JOIN w t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT i.a_id, i.b_id,
        |         CAST(i.c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
        |  UNION ALL
        |  SELECT i.b_id, i.a_id,
        |         CAST(i.c AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment
        |  FROM inter i JOIN sz sb ON sb.doc_id = i.b_id)
        |SELECT a_id, b_id, containment FROM dir
        |WHERE containment >= 0.6 ORDER BY a_id, b_id""".stripMargin,
    // q105 — q78's coverage CTEs with the flagged-span set drawn from
    // the benchmark split instead of cross-document duplication.
    "q105_contamination_frac" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp
        |           FROM documents WHERE doc_id % 20 <> 0),
        |bt AS (SELECT string_split(text, ' ') AS sp
        |       FROM documents WHERE doc_id % 20 = 0),
        |w AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 4)) AS st
        |  FROM t WHERE len(sp) >= 5),
        |spans AS (
        |  SELECT doc_id, st, array_to_string(list_slice(sp, st, st + 4), ' ') AS span
        |  FROM w),
        |bw AS (
        |  SELECT sp, unnest(generate_series(1, len(sp) - 4)) AS st
        |  FROM bt WHERE len(sp) >= 5),
        |bspans AS (
        |  SELECT DISTINCT array_to_string(list_slice(sp, st, st + 4), ' ') AS span
        |  FROM bw),
        |cov0 AS (
        |  SELECT s.doc_id, s.st, unnest(generate_series(0, 4)) AS k
        |  FROM spans s JOIN bspans USING (span)),
        |cov AS (SELECT DISTINCT doc_id, st + k AS p FROM cov0),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.sp) AS BIGINT) AS n_tokens,
        |  COALESCE(c.covered, 0) / CAST(len(t.sp) AS DOUBLE) AS contaminated_frac
        |FROM t LEFT JOIN c USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // q107 — q104's directed pair set with the absorption predicate
    // (strictly larger, or equal-size lower id) as an anti join.
    "q107_dedup_contained" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |sh AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
        |  FROM w t1 JOIN w t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |            JOIN w t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |dir AS (
        |  SELECT i.a_id, i.b_id,
        |         CAST(i.c AS DOUBLE) / CAST(sa.n AS DOUBLE) AS containment,
        |         sa.n AS na, sb.n AS nb
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
        |               JOIN sz sb ON sb.doc_id = i.b_id
        |  UNION ALL
        |  SELECT i.b_id, i.a_id,
        |         CAST(i.c AS DOUBLE) / CAST(sb.n AS DOUBLE) AS containment,
        |         sb.n, sa.n
        |  FROM inter i JOIN sz sa ON sa.doc_id = i.a_id
        |               JOIN sz sb ON sb.doc_id = i.b_id),
        |absorbed AS (
        |  SELECT DISTINCT a_id AS doc_id FROM dir
        |  WHERE containment >= 0.6
        |    AND (nb > na OR (nb = na AND b_id < a_id)))
        |SELECT * FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM absorbed)
        |ORDER BY doc_id""".stripMargin,
    // q108 — the identical md5-hex bottom-k in DuckDB (BIGINT || VARCHAR
    // concat casts the id the same way Spark's cast-to-string does).
    "q108_consistent_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source FROM documents
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft'), doc_id
        |  LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    // q109 — the exact replay of duplicatedSubstringRegions: duplicated
    // 8-token window starts (grouped by span STRING where Spark groups
    // by its 64-bit hash), trailing-frame coverage max, then
    // gaps-and-islands; min(q)-1 converts DuckDB's 1-based positions to
    // Spark's 0-based starts.
    "q109_dup_substring_regions" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |w AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |spans AS (
        |  SELECT doc_id, st, array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM w),
        |dup AS (SELECT span FROM spans GROUP BY span HAVING count(*) >= 2),
        |starts AS (SELECT doc_id, st FROM spans WHERE span IN (SELECT span FROM dup)),
        |tok AS (SELECT doc_id, unnest(generate_series(1, len(sp))) AS q FROM t),
        |cov AS (
        |  SELECT tok.doc_id, tok.q,
        |    max(CASE WHEN s.st IS NOT NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY tok.doc_id ORDER BY tok.q
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS dup
        |  FROM tok LEFT JOIN starts s ON s.doc_id = tok.doc_id AND s.st = tok.q),
        |lagd AS (
        |  SELECT doc_id, q, dup,
        |    coalesce(lag(dup) OVER (PARTITION BY doc_id ORDER BY q), 0) AS prev
        |  FROM cov),
        |isl AS (
        |  SELECT doc_id, q, dup,
        |    SUM(CASE WHEN dup = 1 AND prev = 0 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY doc_id ORDER BY q) AS rid
        |  FROM lagd)
        |SELECT doc_id, CAST(min(q) - 1 AS BIGINT) AS start_pos,
        |  count(*) AS region_len
        |FROM isl WHERE dup = 1 GROUP BY doc_id, rid
        |ORDER BY doc_id, start_pos""".stripMargin,
    // q111 — the composed CCNet pipeline replayed stage for stage:
    // q10's argmax language-ID, q72's bit-length surprisal with
    // per-language frequencies, exact terciles (quantile_cont ==
    // Spark's percentile, verified by q24), and q33's md5 threshold
    // rule keyed by band (1.0 -> 'g', 0.5 -> '8000', 0.0 -> '0000').
    "q111_ccnet_buckets" ->
      s"""WITH prof AS (SELECT * FROM (VALUES $$LANGPROFILES) p(lang_cand, markers)),
         |s0 AS (
         |  SELECT d.doc_id, d.text, p.lang_cand,
         |    CAST(len(list_filter(string_split(d.text, ' '),
         |                         t -> list_contains(p.markers, t))) AS BIGINT) AS score
         |  FROM documents d CROSS JOIN prof p),
         |lid AS MATERIALIZED (
         |  SELECT doc_id, text, lang_cand FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |                                 ORDER BY score DESC, lang_cand ASC) AS rn
         |    FROM s0) WHERE rn = 1),
         |w AS MATERIALIZED (
         |  SELECT doc_id, lang_cand, unnest(string_split(text, ' ')) AS token FROM lid),
         |cf AS (SELECT lang_cand, token, count(*) AS cf FROM w GROUP BY 1, 2),
         |tot AS (SELECT lang_cand, count(*) AS n FROM w GROUP BY 1),
         |dt AS (SELECT doc_id, lang_cand, token, count(*) AS m FROM w GROUP BY 1, 2, 3),
         |sc AS MATERIALIZED (
         |  SELECT dt.doc_id, dt.lang_cand,
         |    CAST(sum(dt.m) AS BIGINT) AS n_tokens,
         |    CAST(sum(dt.m * (length(format('{:b}', tot.n)) -
         |                     length(format('{:b}', cf.cf)))) AS BIGINT) AS surprisal_bits
         |  FROM dt JOIN cf USING (lang_cand, token) JOIN tot USING (lang_cand)
         |  GROUP BY 1, 2),
         |av AS (
         |  SELECT doc_id, lang_cand, n_tokens, surprisal_bits,
         |    CAST(surprisal_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_bits
         |  FROM sc),
         |cuts AS (
         |  SELECT lang_cand, quantile_cont(avg_bits, 1.0/3) AS lo,
         |         quantile_cont(avg_bits, 2.0/3) AS hi
         |  FROM av GROUP BY 1),
         |banded AS (
         |  SELECT av.doc_id, av.lang_cand, av.n_tokens, av.surprisal_bits, av.avg_bits,
         |    CASE WHEN avg_bits <= lo THEN 'head'
         |         WHEN avg_bits <= hi THEN 'middle' ELSE 'tail' END AS band
         |  FROM av JOIN cuts USING (lang_cand))
         |SELECT doc_id, lang_cand, n_tokens, surprisal_bits, avg_bits, band
         |FROM banded
         |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
         |  CASE band WHEN 'head' THEN 'g' WHEN 'middle' THEN '8000' ELSE '0000' END
         |ORDER BY doc_id""".stripMargin.replace("$LANGPROFILES", langProfileValues),
    // q112 — the cross-set cut replayed: a batch window is a repeat iff
    // its span exists anywhere in the corpus slice (first-seen-wins:
    // the corpus holds the first occurrence by definition); coverage
    // and rebuild exactly as q110, restricted to the batch side.
    "q112_strip_substrings_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS sp
        |  FROM documents WHERE doc_id % 10 = 0),
        |cw AS MATERIALIZED (
        |  SELECT DISTINCT array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM (
        |    SELECT sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |    FROM (SELECT string_split(text, ' ') AS sp
        |          FROM documents WHERE doc_id % 10 <> 0)
        |    WHERE len(sp) >= 8)),
        |bw AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |rep AS (
        |  SELECT doc_id, st FROM (
        |    SELECT doc_id, st,
        |      array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |    FROM bw)
        |  WHERE span IN (SELECT span FROM cw)),
        |tok AS (
        |  SELECT doc_id, q, sp[q] AS token FROM (
        |    SELECT doc_id, sp, unnest(generate_series(1, len(sp))) AS q FROM t)),
        |cov AS (
        |  SELECT tok.doc_id, tok.q, tok.token,
        |    max(CASE WHEN r.st IS NOT NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY tok.doc_id ORDER BY tok.q
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS dup
        |  FROM tok LEFT JOIN rep r ON r.doc_id = tok.doc_id AND r.st = tok.q),
        |agg AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN dup = 0 THEN token END, ' ' ORDER BY q), '') AS clean,
        |    CAST(SUM(dup) AS BIGINT) AS ncut
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN coalesce(agg.ncut, 0) > 0 THEN agg.clean ELSE t.text END AS text,
        |  CAST(coalesce(agg.ncut, 0) AS BIGINT) AS n_cut_tokens
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q110 — stripExactSubstrings replayed: a window occurrence is a
    // repeat iff it is not the (doc_id, st)-first of its span;
    // coverage as in q109; survivors re-join with single spaces, and
    // untouched documents keep their verbatim text (ncut = 0 branch).
    "q110_strip_substrings" ->
      """WITH t AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS sp FROM documents),
        |w AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |spans AS (
        |  SELECT doc_id, st, array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM w),
        |rep AS (
        |  SELECT doc_id, st FROM (
        |    SELECT doc_id, st,
        |      row_number() OVER (PARTITION BY span ORDER BY doc_id, st) AS rn,
        |      count(*) OVER (PARTITION BY span) AS n
        |    FROM spans) x
        |  WHERE n >= 2 AND rn > 1),
        |tok AS (
        |  SELECT doc_id, q, sp[q] AS token FROM (
        |    SELECT doc_id, sp, unnest(generate_series(1, len(sp))) AS q FROM t)),
        |cov AS (
        |  SELECT tok.doc_id, tok.q, tok.token,
        |    max(CASE WHEN r.st IS NOT NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY tok.doc_id ORDER BY tok.q
        |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS dup
        |  FROM tok LEFT JOIN rep r ON r.doc_id = tok.doc_id AND r.st = tok.q),
        |agg AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN dup = 0 THEN token END, ' ' ORDER BY q), '') AS clean,
        |    CAST(SUM(dup) AS BIGINT) AS ncut
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN coalesce(agg.ncut, 0) > 0 THEN agg.clean ELSE t.text END AS text,
        |  CAST(coalesce(agg.ncut, 0) AS BIGINT) AS n_cut_tokens
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q125 — the q112 cross-set replay at char grain: a batch char
    // window is a repeat iff its 50-char span exists anywhere in the
    // corpus slice (first-seen-wins); coverage/rebuild as in q122,
    // restricted to the batch side.
    "q125_strip_char_substrings_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |cw AS MATERIALIZED (
        |  SELECT DISTINCT substr(text, st, 50) AS span
        |  FROM (
        |    SELECT text, unnest(generate_series(1, length(text) - 49)) AS st
        |    FROM documents WHERE doc_id % 10 <> 0 AND length(text) >= 50)),
        |w AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 49)) AS st
        |  FROM t WHERE length(text) >= 50),
        |rep AS (
        |  SELECT w.doc_id, st
        |  FROM w JOIN t USING (doc_id)
        |  WHERE substr(t.text, st, 50) IN (SELECT span FROM cw)),
        |ch AS (
        |  SELECT doc_id, q, substr(text, q, 1) AS c FROM (
        |    SELECT doc_id, text, unnest(generate_series(1, length(text))) AS q
        |    FROM t)),
        |cov AS (
        |  SELECT ch.doc_id, ch.q, ch.c,
        |    max(CASE WHEN r.st IS NOT NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY ch.doc_id ORDER BY ch.q
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS dup
        |  FROM ch LEFT JOIN rep r ON r.doc_id = ch.doc_id AND r.st = ch.q),
        |agg AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN dup = 0 THEN c END, '' ORDER BY q), '') AS clean,
        |    CAST(SUM(dup) AS BIGINT) AS ncut
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN coalesce(agg.ncut, 0) > 0 THEN agg.clean ELSE t.text END AS text,
        |  CAST(coalesce(agg.ncut, 0) AS BIGINT) AS n_cut_chars
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q122 — the q110 replay at char grain: substr windows, per-char
    // coverage (substr(text, q, 1) is the unit), survivors rejoin with
    // NO separator; keep-first by (doc_id, st) as in q110.
    "q122_strip_char_substrings" ->
      """WITH t AS (SELECT doc_id, text FROM documents),
        |w AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 49)) AS st
        |  FROM t WHERE length(text) >= 50),
        |spans AS (
        |  SELECT w.doc_id, st, substr(t.text, st, 50) AS span
        |  FROM w JOIN t USING (doc_id)),
        |rep AS (
        |  SELECT doc_id, st FROM (
        |    SELECT doc_id, st,
        |      row_number() OVER (PARTITION BY span ORDER BY doc_id, st) AS rn,
        |      count(*) OVER (PARTITION BY span) AS n
        |    FROM spans) x
        |  WHERE n >= 2 AND rn > 1),
        |ch AS (
        |  SELECT doc_id, q, substr(text, q, 1) AS c FROM (
        |    SELECT doc_id, text, unnest(generate_series(1, length(text))) AS q
        |    FROM t)),
        |cov AS (
        |  SELECT ch.doc_id, ch.q, ch.c,
        |    max(CASE WHEN r.st IS NOT NULL THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY ch.doc_id ORDER BY ch.q
        |      ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS dup
        |  FROM ch LEFT JOIN rep r ON r.doc_id = ch.doc_id AND r.st = ch.q),
        |agg AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN dup = 0 THEN c END, '' ORDER BY q), '') AS clean,
        |    CAST(SUM(dup) AS BIGINT) AS ncut
        |  FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN coalesce(agg.ncut, 0) > 0 THEN agg.clean ELSE t.text END AS text,
        |  CAST(coalesce(agg.ncut, 0) AS BIGINT) AS n_cut_chars
        |FROM t LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q156 — the epoch materializer replayed: q106's plan arithmetic
    // (explicit DOUBLE weights), floor/frac split, the q33/q48 4-hex
    // threshold pipeline for the fractional tail, a range-generate per
    // (doc, group), then q139's seeded order on the composite id
    // q161 — the epoch manifest replayed: q156's epoch CTEs through
    // `kept`, then q93's manifest spelling at (epoch, shard) grain —
    // the seeded sample hash 'ep:id:epoch' drives the shard, and the
    // checksum hash binds the epoch (md5(id:epoch:text))
    // q163 — the PACKED multi-epoch export replayed: q156's epoch CTEs
    // through `kept` (text carried), q157's lane fold + first-fit
    // packing CTEs with epoch joined into the window key, then q161's
    // manifest spelling over the BINS — id = lang:lane:bin_id, text =
    // the bin's id-ordered concatenation, n_tokens = the packer's sum
    "q163_packed_epoch_export" ->
      """WITH wts AS (
        |  SELECT 'de' AS lang, CAST(0.3 AS DOUBLE) AS weight
        |  UNION ALL SELECT 'en', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'es', CAST(0.05 AS DOUBLE)
        |  UNION ALL SELECT 'fr', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'zh', CAST(0.45 AS DOUBLE)),
        |a AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT a.lang,
        |    CAST(CAST(FLOOR(CAST(30000 AS DOUBLE) * w.weight) AS BIGINT) AS DOUBLE)
        |      / CAST(a.n_tokens AS DOUBLE) AS epochs
        |  FROM a JOIN wts w USING (lang)),
        |f AS (
        |  SELECT lang, CAST(FLOOR(epochs) AS BIGINT) AS nfull,
        |    printf('%04x', LEAST(CAST(FLOOR((epochs - FLOOR(epochs)) * 65536)
        |      AS INT), 65535)) AS thr
        |  FROM p),
        |m0 AS (
        |  SELECT d.doc_id, d.lang, d.text, f.nfull, f.thr
        |  FROM documents d JOIN f USING (lang)),
        |m AS (
        |  SELECT doc_id, lang, text, nfull, thr,
        |    unnest(range(0, nfull + 1)) AS epoch
        |  FROM m0),
        |kept AS (
        |  SELECT doc_id, lang, text, epoch FROM m
        |  WHERE epoch < nfull
        |     OR substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < thr),
        |laned AS (
        |  SELECT epoch, lang, doc_id, text,
        |    ('0x' || substr(md5('lane:' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      ::BIGINT % 4 AS lane
        |  FROM kept),
        |sized AS (
        |  SELECT epoch, lang, lane, doc_id, text,
        |    len(string_split(text, ' ')) AS n,
        |    SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY epoch, lang, lane ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM laned),
        |bins AS (
        |  SELECT epoch, lang, lane,
        |    CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
        |    string_agg(text, ' ' ORDER BY doc_id) AS packed,
        |    CAST(SUM(n) AS BIGINT) AS sumtok
        |  FROM sized GROUP BY epoch, lang, lane, bin_id),
        |keyed AS (
        |  SELECT epoch,
        |    lang || ':' || CAST(lane AS VARCHAR) || ':' ||
        |      CAST(bin_id AS VARCHAR) AS bin_key,
        |    packed, sumtok
        |  FROM bins),
        |s AS (
        |  SELECT epoch,
        |    (('0x' || substr(md5('ep:' || bin_key || ':' ||
        |      CAST(epoch AS VARCHAR)), 1, 15))::BIGINT) % 4 AS shard,
        |    sumtok,
        |    CAST(strlen(packed) AS BIGINT) AS nbytes,
        |    ('0x' || substr(md5(bin_key || ':' ||
        |      CAST(epoch AS VARCHAR) || ':' || packed), 1, 15))::BIGINT AS h
        |  FROM keyed)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  CAST(sum(sumtok) AS BIGINT) AS n_tokens,
        |  CAST(sum(nbytes) AS BIGINT) AS n_bytes,
        |  bit_xor(h) AS checksum
        |FROM s GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin,
    "q161_epoch_manifest" ->
      """WITH wts AS (
        |  SELECT 'de' AS lang, CAST(0.3 AS DOUBLE) AS weight
        |  UNION ALL SELECT 'en', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'es', CAST(0.05 AS DOUBLE)
        |  UNION ALL SELECT 'fr', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'zh', CAST(0.45 AS DOUBLE)),
        |a AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT a.lang,
        |    CAST(CAST(FLOOR(CAST(30000 AS DOUBLE) * w.weight) AS BIGINT) AS DOUBLE)
        |      / CAST(a.n_tokens AS DOUBLE) AS epochs
        |  FROM a JOIN wts w USING (lang)),
        |f AS (
        |  SELECT lang, CAST(FLOOR(epochs) AS BIGINT) AS nfull,
        |    printf('%04x', LEAST(CAST(FLOOR((epochs - FLOOR(epochs)) * 65536)
        |      AS INT), 65535)) AS thr
        |  FROM p),
        |m0 AS (
        |  SELECT d.doc_id, d.lang, d.text, f.nfull, f.thr
        |  FROM documents d JOIN f USING (lang)),
        |m AS (
        |  SELECT doc_id, text, nfull, thr,
        |    unnest(range(0, nfull + 1)) AS epoch
        |  FROM m0),
        |kept AS (
        |  SELECT doc_id, text, epoch FROM m
        |  WHERE epoch < nfull
        |     OR substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < thr),
        |s AS (
        |  SELECT epoch,
        |    (('0x' || substr(md5('ep:' || CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(epoch AS VARCHAR)), 1, 15))::BIGINT) % 4 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    CAST(strlen(text) AS BIGINT) AS nbytes,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(epoch AS VARCHAR) || ':' || text), 1, 15))::BIGINT AS h
        |  FROM kept)
        |SELECT epoch, shard, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(nbytes) AS BIGINT) AS n_bytes,
        |  bit_xor(h) AS checksum
        |FROM s GROUP BY epoch, shard ORDER BY epoch, shard""".stripMargin,
    "q156_epoch_materialize" ->
      """WITH wts AS (
        |  SELECT 'de' AS lang, CAST(0.3 AS DOUBLE) AS weight
        |  UNION ALL SELECT 'en', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'es', CAST(0.05 AS DOUBLE)
        |  UNION ALL SELECT 'fr', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'zh', CAST(0.45 AS DOUBLE)),
        |a AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT a.lang,
        |    CAST(CAST(FLOOR(CAST(30000 AS DOUBLE) * w.weight) AS BIGINT) AS DOUBLE)
        |      / CAST(a.n_tokens AS DOUBLE) AS epochs
        |  FROM a JOIN wts w USING (lang)),
        |f AS (
        |  SELECT lang, CAST(FLOOR(epochs) AS BIGINT) AS nfull,
        |    printf('%04x', LEAST(CAST(FLOOR((epochs - FLOOR(epochs)) * 65536)
        |      AS INT), 65535)) AS thr
        |  FROM p),
        |m0 AS (
        |  SELECT d.doc_id, d.lang, f.nfull, f.thr
        |  FROM documents d JOIN f USING (lang)),
        |m AS (
        |  SELECT doc_id, lang, nfull, thr,
        |    unnest(range(0, nfull + 1)) AS epoch
        |  FROM m0),
        |kept AS (
        |  SELECT doc_id, lang, epoch FROM m
        |  WHERE epoch < nfull
        |     OR substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < thr),
        |o AS (
        |  SELECT doc_id, lang, epoch,
        |    ('0x' || substr(md5('ep:' || CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(epoch AS VARCHAR)), 1, 15))::BIGINT AS ord,
        |    CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS sid
        |  FROM kept)
        |SELECT doc_id, lang, epoch, CAST(ord % 4 AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY ord % 4 ORDER BY ord, sid) - 1
        |    AS BIGINT) AS seq
        |FROM o ORDER BY doc_id, epoch""".stripMargin,
    // q106 — weights as explicit DOUBLE casts (DuckDB parses bare 0.15
    // as DECIMAL); target/epochs/rate spelled as the same double tree.
    "q106_epoch_plan" ->
      """WITH wts AS (
        |  SELECT 'de' AS lang, CAST(0.15 AS DOUBLE) AS weight
        |  UNION ALL SELECT 'en', CAST(0.5 AS DOUBLE)
        |  UNION ALL SELECT 'es', CAST(0.1 AS DOUBLE)
        |  UNION ALL SELECT 'fr', CAST(0.15 AS DOUBLE)
        |  UNION ALL SELECT 'zh', CAST(0.1 AS DOUBLE)),
        |a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT a.lang, a.n_docs, a.n_tokens, w.weight,
        |         CAST(FLOOR(CAST(1000000 AS DOUBLE) * w.weight) AS BIGINT) AS target_tokens
        |  FROM a JOIN wts w USING (lang))
        |SELECT lang, n_docs, n_tokens, weight, target_tokens,
        |  CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs,
        |  LEAST(1.0, CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS sample_rate,
        |  CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 1.0 AS needs_upsampling
        |FROM p ORDER BY lang""".stripMargin,
    // q101 — the incremental chain: q88's stage CTEs with cross-set
    // semantics. Batch = doc_id%10=0, corpus state = the rest; the two
    // index probes are first-seen-wins (any match drops the batch doc),
    // the within-batch stages replay q88's rules verbatim.
    "q101_incremental_curation" ->
      """WITH RECURSIVE gated AS (
        |  SELECT * FROM documents
        |  WHERE doc_id % 10 = 0
        |    AND len(text) - len(regexp_replace(text, '�', '', 'g')) = 0
        |    AND len(text) - len(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) = 0
        |    AND len(text) - len(regexp_replace(text, '[ÃÂ€]', '', 'g')) = 0),
        |bnormed AS MATERIALIZED (
        |  SELECT * FROM gated
        |  WHERE doc_id IN (
        |    SELECT min(doc_id) FROM gated
        |    GROUP BY md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))))),
        |fresh AS MATERIALIZED (
        |  SELECT * FROM bnormed
        |  WHERE md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) NOT IN (
        |    SELECT md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')))
        |    FROM documents WHERE doc_id % 10 <> 0)),
        |w AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |sh AS MATERIALIZED (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
        |  FROM w t1 JOIN w t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |            JOIN w t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2),
        |sz AS MATERIALIZED (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |xinter AS MATERIALIZED (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id IN (SELECT doc_id FROM fresh) AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2),
        |crossdrop AS MATERIALIZED (
        |  SELECT DISTINCT a_id AS doc_id
        |  FROM xinter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |bkept AS MATERIALIZED (
        |  SELECT * FROM fresh WHERE doc_id NOT IN (SELECT doc_id FROM crossdrop)),
        |binter AS MATERIALIZED (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM bkept)
        |    AND b.doc_id IN (SELECT doc_id FROM bkept)
        |  GROUP BY 1, 2),
        |jpairs AS MATERIALIZED (
        |  SELECT a_id, b_id
        |  FROM binter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
        |edges AS MATERIALIZED (SELECT a_id AS s, b_id AS d FROM jpairs
        |  UNION SELECT b_id, a_id FROM jpairs),
        |walk(s, d) AS (
        |  SELECT s, d FROM edges
        |  UNION
        |  SELECT w2.s, e.d FROM walk w2 JOIN edges e ON w2.d = e.s),
        |comp AS MATERIALIZED (SELECT s AS member, least(s, min(d)) AS component FROM walk GROUP BY s),
        |dd AS MATERIALIZED (
        |  SELECT * FROM bkept
        |  WHERE doc_id NOT IN (SELECT member FROM comp WHERE member <> component)),
        |wb AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents WHERE doc_id % 20 = 0),
        |bsh AS MATERIALIZED (SELECT DISTINCT
        |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
        |  FROM wb t1 JOIN wb t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |             JOIN wb t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
        |             JOIN wb t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
        |             JOIN wb t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
        |wt AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM dd WHERE doc_id % 20 <> 0),
        |tsh AS MATERIALIZED (SELECT DISTINCT t1.doc_id,
        |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
        |  FROM wt t1 JOIN wt t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
        |             JOIN wt t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
        |             JOIN wt t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
        |             JOIN wt t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
        |contaminated AS MATERIALIZED (SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b ON t.s = b.s),
        |clean AS MATERIALIZED (
        |  SELECT * FROM dd
        |  WHERE doc_id % 20 <> 0
        |    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |mix AS MATERIALIZED (
        |  SELECT * FROM clean
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
        |    CASE lang WHEN 'de' THEN '8000' WHEN 'en' THEN 'g'
        |              WHEN 'es' THEN '4000' ELSE '0000' END)
        |SELECT doc_id, lang, source FROM mix ORDER BY doc_id""".stripMargin,
    "q79_strip_boilerplate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |w AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |spans AS (
        |  SELECT doc_id, st, array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM w),
        |dup AS (
        |  SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
        |cov0 AS (
        |  SELECT s.doc_id, s.st, unnest(generate_series(0, 7)) AS k
        |  FROM spans s JOIN dup USING (span)),
        |cov AS (SELECT DISTINCT doc_id, st + k AS p FROM cov0),
        |toks AS (
        |  SELECT doc_id, unnest(sp) AS tok,
        |         unnest(generate_series(1, len(sp))) AS p
        |  FROM t),
        |kept AS (
        |  SELECT tk.doc_id, tk.p, tk.tok FROM toks tk
        |  WHERE NOT EXISTS (SELECT 1 FROM cov
        |                    WHERE cov.doc_id = tk.doc_id AND cov.p = tk.p)),
        |r AS (
        |  SELECT doc_id,
        |    COALESCE(string_agg(tok, ' ' ORDER BY p), '') AS clean_text,
        |    CAST(count(*) AS BIGINT) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id,
        |  COALESCE(r.clean_text, '') AS clean_text,
        |  CAST(len(t.sp) AS BIGINT) AS n_tokens,
        |  CAST(len(t.sp) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM t LEFT JOIN r USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    // same component CTE as q23; per-lang accounting of the
    // keep-lowest-id policy (NULL components = unpaired docs)
    "q77_dedup_impact" ->
      s"""WITH RECURSIVE ${jaccardPairsCte(3, 0.8)},
         |edges AS (
         |  SELECT a_id AS s, b_id AS d FROM jpairs
         |  UNION SELECT b_id, a_id FROM jpairs),
         |walk(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s),
         |comp AS (
         |  SELECT s AS member, least(s, min(d)) AS component
         |  FROM walk GROUP BY s),
         |lab AS (
         |  SELECT d.lang, d.doc_id, c.component
         |  FROM documents d LEFT JOIN comp c ON c.member = d.doc_id)
         |SELECT lang,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN component IS NOT NULL AND doc_id <> component
         |               THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(count(*) - sum(CASE WHEN component IS NOT NULL AND doc_id <> component
         |                          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  count(DISTINCT component) AS n_clusters
         |FROM lab GROUP BY lang ORDER BY lang""".stripMargin,
    // as-of semantics expressed relationally: per (event, user), the
    // order with max (time, orderkey) among orders at/before the event
    "q27_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |o AS (
        |  SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate)*1000 AS ous
        |  FROM orders),
        |j AS (
        |  SELECT e.event_id, e.user_id, o.o_orderkey, o.ous
        |  FROM e JOIN o ON o.o_custkey = e.user_id AND o.ous <= e.us),
        |m AS (
        |  SELECT event_id, user_id, CAST(max(ous) AS BIGINT) AS asof_ts
        |  FROM j GROUP BY event_id, user_id)
        |SELECT m.event_id, m.user_id,
        |  max(j.o_orderkey) AS o_orderkey, m.asof_ts
        |FROM m JOIN j ON j.event_id = m.event_id AND j.ous = m.asof_ts
        |GROUP BY m.event_id, m.user_id, m.asof_ts
        |ORDER BY m.event_id""".stripMargin,
    "q28_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events)
        |SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  b.us - a.us AS gap
        |FROM e a JOIN e b
        |  ON a.user_id = b.user_id
        | AND b.us > a.us AND b.us <= a.us + 3600000000
        |ORDER BY a.user_id, a_id, b_id""".stripMargin,
    // benchmark = every 20th doc; shared distinct 5-grams per train doc
    "q30_decontamination" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT t1.doc_id,
        |    t1.tok || ' ' || t2.tok || ' ' || t3.tok || ' ' || t4.tok || ' ' || t5.tok AS s
        |  FROM w t1
        |  JOIN w t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |  JOIN w t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
        |  JOIN w t4 ON t4.doc_id = t1.doc_id AND t4.pos = t1.pos + 3
        |  JOIN w t5 ON t5.doc_id = t1.doc_id AND t5.pos = t1.pos + 4),
        |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        |  FROM sh d JOIN bench b ON d.s = b.s
        |  WHERE d.doc_id % 20 <> 0
        |  GROUP BY d.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits
        |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
        |WHERE d.doc_id % 20 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    // the L2 fold is sequential in both engines (list_reduce ≡ the
    // Spark aggregate fold: 0.0 + x² left-accumulation) -> bit-exact
    "q31_embed_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
        |SELECT vec_id,
        |  CAST(len(v) AS BIGINT) AS n_dims,
        |  sqrt(list_reduce(list_transform(v, x -> x*x), (a, b) -> a + b)) AS l2_norm,
        |  list_max(list_transform(v, x -> abs(x))) AS max_abs
        |FROM e ORDER BY vec_id""".stripMargin,
    // identical md5-hex bucketing on both engines: thresholds are
    // floor(cum_fraction * 65536) as 4-char hex (0.9 -> e666, 0.95 -> f333)
    "q32_split_assignment" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < 'e666'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) < 'f333'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-lang keep thresholds: 0.5 -> 8000, 1.0 -> 'g' (after all hex),
    // 0.25 -> 4000, 0.0 and unlisted -> 0000 (dropped)
    "q33_mixture_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
        |  CASE lang WHEN 'de' THEN '8000' WHEN 'en' THEN 'g'
        |            WHEN 'es' THEN '4000' ELSE '0000' END
        |ORDER BY doc_id""".stripMargin,
    // contiguous first-fit packing: exclusive prefix token sum / 2048
    "q34_sequence_packing" ->
      """WITH sized AS (
        |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n,
        |    SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT lang,
        |  CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM sized GROUP BY lang, bin_id
        |ORDER BY lang, bin_id""".stripMargin,
    // dup-n-gram fraction = 1 − distinct/total; top token share from the
    // max per-token count — both in plain double arithmetic
    "q35_repetition_metrics" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |b2 AS (
        |  SELECT t1.doc_id, count(DISTINCT t1.tok || ' ' || t2.tok) AS c
        |  FROM w t1 JOIN w t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |  GROUP BY t1.doc_id),
        |b3 AS (
        |  SELECT t1.doc_id,
        |    count(DISTINCT t1.tok || ' ' || t2.tok || ' ' || t3.tok) AS c
        |  FROM w t1
        |  JOIN w t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |  JOIN w t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
        |  GROUP BY t1.doc_id),
        |top AS (
        |  SELECT doc_id, max(c) AS mc
        |  FROM (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY doc_id, tok)
        |  GROUP BY doc_id)
        |SELECT n.doc_id,
        |  CASE WHEN n.n - 1 <= 0 THEN 0.0
        |       ELSE 1.0 - COALESCE(b2.c, 0) / CAST(n.n - 1 AS DOUBLE) END
        |    AS dup_bigram_frac,
        |  CASE WHEN n.n - 2 <= 0 THEN 0.0
        |       ELSE 1.0 - COALESCE(b3.c, 0) / CAST(n.n - 2 AS DOUBLE) END
        |    AS dup_trigram_frac,
        |  CASE WHEN n.n = 0 THEN 0.0
        |       ELSE COALESCE(top.mc, 0) / CAST(n.n AS DOUBLE) END
        |    AS top_token_frac
        |FROM n
        |LEFT JOIN b2 USING (doc_id)
        |LEFT JOIN b3 USING (doc_id)
        |LEFT JOIN top USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin,
    // identical regex text on both engines (RE2 ∩ Java subset); DuckDB
    // needs the 'g' flag to match Spark's replace-all default
    "q36_pii_redaction" ->
      s"""WITH noted AS (
         |  SELECT c_custkey AS custkey, $piiNoteSql AS note FROM customer)
         |SELECT custkey,
         |  regexp_replace(regexp_replace(regexp_replace(note,
         |    '${Privacy.EmailPattern}', '<EMAIL>', 'g'),
         |    '${Privacy.CardPattern}', '<CARD>', 'g'),
         |    '${Privacy.PhonePattern}', '<PHONE>', 'g') AS redacted,
         |  CAST(len(regexp_extract_all(note, '${Privacy.EmailPattern}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(note, '${Privacy.CardPattern}')) AS BIGINT)
         |    AS n_cards,
         |  CAST(len(regexp_extract_all(note, '${Privacy.PhonePattern}')) AS BIGINT)
         |    AS n_phones
         |FROM noted ORDER BY custkey""".stripMargin,
    // q131 — the composed crawl front half: q130's keep, q126's
    // canonical cut, q127's extraction, then token/line counts —
    // chained CTEs from the same building blocks
    // q133 — content routing replayed: the VALUES are the fixture's
    // own (url, type, ct, payload) constants; the Spark side must
    // reproduce them through real WARC file I/O before the routing
    // CASE (Html.routedOracleSqlExpr — the same dispatch + chains)
    // replays over them.
    "q133_content_routing" ->
      s"""WITH recs AS ($crawlValuesSql)
         |SELECT url, rtype AS warc_type, ct,
         |  ${graft.ext.Html.routedOracleSqlExpr("payload", "ct")} AS text
         |FROM recs ORDER BY url, rtype""".stripMargin,
    // q132 — the WHOLE pipeline replayed as one chained-CTE program
    // over the fixture constants: routing, lang default, md5-60 doc
    // ids, URL quality filter, canonical-key dedup (q126's steps),
    // encoding gate, normalize-dedup, 3-shingle Jaccard near-dup with
    // the recursive component walk, 5-gram decontamination against
    // the benchmark host, mixture thresholds, first-fit packing, and
    // the manifest's md5 shard/checksum arithmetic — every constant
    // shared with the Spark side.
    "q132_crawl_full_chain" ->
      s"""WITH RECURSIVE recs AS ($crawlValuesSql),
         |routed AS (
         |  SELECT url,
         |    CASE WHEN ${graft.ext.Html.htmlishCtOracleSqlExpr("ct")}
         |         THEN ${graft.ext.Html.declaredCanonicalOracleSqlExpr("url", "payload")}
         |         ELSE url END AS durl,
         |    ${graft.ext.Html.routedOracleSqlExpr("payload", "ct")} AS text,
         |    CASE WHEN lower(regexp_extract(payload, '${graft.ext.Html.LangPattern}', 1)) <> ''
         |         THEN lower(regexp_extract(payload, '${graft.ext.Html.LangPattern}', 1))
         |         ELSE 'en' END AS lang,
         |    ('0x' || substr(md5(url || '|' || rtype), 1, 15))::BIGINT AS doc_id
         |  FROM recs),
         |live AS (SELECT * FROM routed WHERE text IS NOT NULL),
         |bench AS (SELECT * FROM live WHERE url LIKE 'https://bench.example.org/%'),
         |hq AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)),
         |      '^www\\.', '') AS host,
         |    (CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END) AS nb
         |  FROM live),
         |flt AS (
         |  SELECT live.* FROM live JOIN hq USING (doc_id)
         |  WHERE NOT (hq.host = 'ads.example.net' OR hq.host LIKE '%.ads.example.net')
         |    AND hq.nb = 0 AND length(live.url) <= 2048),
         |p AS (
         |  SELECT doc_id, lang, text, url,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(durl, '#.*', '', 'g'),
         |      '[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
         |      '^([^?&]*)&', '\\1?') AS pu
         |  FROM flt),
         |s AS (
         |  SELECT doc_id, lang, text, url,
         |    regexp_replace(pu, '\\?.*', '') AS base,
         |    regexp_extract(pu, '\\?(.*)', 1) AS query
         |  FROM p),
         |b AS (
         |  SELECT doc_id, lang, text, url, query,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |      lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
         |        regexp_replace(base, '^[^/]*//[^/]*', ''),
         |      '^(https?://)www\\.', '\\1'),
         |      '^(http://[^/:]+):80($$|/)', '\\1\\2'),
         |      '^(https://[^/:]+):443($$|/)', '\\1\\2'),
         |      '/$$', '') AS clean_base
         |  FROM s),
         |k AS (
         |  SELECT doc_id, lang, text, url,
         |    CASE WHEN sq = '' THEN clean_base
         |         ELSE clean_base || '?' || sq END AS url_key
         |  FROM (SELECT doc_id, lang, text, url, clean_base,
         |          COALESCE(array_to_string(list_sort(
         |            list_filter(string_split(query, '&'), x -> x <> '')), '&'), '') AS sq
         |        FROM b)),
         |win AS (SELECT url_key, min(doc_id) AS doc_id FROM k GROUP BY url_key),
         |train0 AS (
         |  SELECT k.doc_id, k.lang, k.text FROM k
         |  JOIN win ON k.doc_id = win.doc_id AND k.url_key = win.url_key
         |  WHERE k.url NOT LIKE 'https://bench.example.org/%'),
         |gated AS (
         |  SELECT * FROM train0
         |  WHERE len(text) - len(regexp_replace(text, '�', '', 'g')) = 0
         |    AND len(text) - len(regexp_replace(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]', '', 'g')) = 0
         |    AND len(text) - len(regexp_replace(text, '[ÃÂ€]', '', 'g')) = 0),
         |normed AS MATERIALIZED (
         |  SELECT * FROM gated
         |  WHERE doc_id IN (
         |    SELECT min(doc_id) FROM gated
         |    GROUP BY md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))))),
         |w AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |  FROM normed),
         |sh AS MATERIALIZED (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
         |  FROM w t1 JOIN w t2 ON t1.doc_id=t2.doc_id AND t2.pos=t1.pos+1
         |            JOIN w t3 ON t1.doc_id=t3.doc_id AND t3.pos=t1.pos+2),
         |sz AS MATERIALIZED (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |inter AS MATERIALIZED (
         |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jpairs AS MATERIALIZED (
         |  SELECT a_id, b_id
         |  FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
         |  WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8),
         |edges AS MATERIALIZED (SELECT a_id AS s, b_id AS d FROM jpairs
         |  UNION SELECT b_id, a_id FROM jpairs),
         |walk(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT w2.s, e.d FROM walk w2 JOIN edges e ON w2.d = e.s),
         |comp AS MATERIALIZED (SELECT s AS member, least(s, min(d)) AS component FROM walk GROUP BY s),
         |dd AS MATERIALIZED (
         |  SELECT * FROM normed
         |  WHERE doc_id NOT IN (SELECT member FROM comp WHERE member <> component)),
         |wb AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |  FROM bench),
         |bsh AS MATERIALIZED (SELECT DISTINCT
         |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
         |  FROM wb t1 JOIN wb t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
         |             JOIN wb t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
         |             JOIN wb t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
         |             JOIN wb t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
         |wtr AS MATERIALIZED (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
         |  FROM dd),
         |tsh AS MATERIALIZED (SELECT DISTINCT t1.doc_id,
         |    t1.tok||' '||t2.tok||' '||t3.tok||' '||t4.tok||' '||t5.tok AS s
         |  FROM wtr t1 JOIN wtr t2 ON t2.doc_id=t1.doc_id AND t2.pos=t1.pos+1
         |              JOIN wtr t3 ON t3.doc_id=t1.doc_id AND t3.pos=t1.pos+2
         |              JOIN wtr t4 ON t4.doc_id=t1.doc_id AND t4.pos=t1.pos+3
         |              JOIN wtr t5 ON t5.doc_id=t1.doc_id AND t5.pos=t1.pos+4),
         |contaminated AS MATERIALIZED (
         |  SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh b2 ON t.s = b2.s),
         |clean AS MATERIALIZED (
         |  SELECT * FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
         |mix AS MATERIALIZED (
         |  SELECT * FROM clean
         |  WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
         |    CASE lang WHEN 'en' THEN 'g' WHEN 'de' THEN '8000'
         |              ELSE '0000' END),
         |sized AS (
         |  SELECT lang, doc_id, text, len(string_split(text, ' ')) AS n,
         |    SUM(len(string_split(text, ' ')))
         |      OVER (PARTITION BY lang ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM mix),
         |bins AS (
         |  SELECT lang, CAST(FLOOR((cum - n) / 32.0) AS BIGINT) AS bin_id, doc_id, text
         |  FROM sized),
         |packed AS (
         |  SELECT lang || ':' || CAST(bin_id AS VARCHAR) AS pack_id,
         |    string_agg(text, ' ' ORDER BY doc_id) AS packed_text
         |  FROM bins GROUP BY lang, bin_id),
         |man AS (
         |  SELECT
         |    (('0x' || substr(md5(pack_id || 'graft'), 1, 15))::BIGINT) % 4 AS shard,
         |    CAST(len(string_split(packed_text, ' ')) AS BIGINT) AS ntok,
         |    CAST(strlen(packed_text) AS BIGINT) AS nbytes,
         |    ('0x' || substr(md5(pack_id || ':' || packed_text), 1, 15))::BIGINT AS h
         |  FROM packed)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(nbytes) AS BIGINT) AS n_bytes,
         |  bit_xor(h) AS checksum
         |FROM man GROUP BY shard ORDER BY shard""".stripMargin,
    "q131_crawl_front_half" -> crawlFrontHalfOracleSql(""),
    // q147 — the same chained front half with the robots noindex
    // opt-out injected as one more filter rule (the meta replay, not
    // the fixture pattern — the RULE is what the oracle re-derives)
    "q147_policy_front_half" -> crawlFrontHalfOracleSql(
      s"AND NOT ${graft.ext.Html.robotsTokenOracleSqlExpr(
        s"lower(${graft.ext.Html.metaOracleSqlExpr("u.html", "robots")})",
        graft.ext.Html.RobotsNoindexPattern)} "),
    // q130 — urlQualityReport replayed: host extraction, blocklist
    // exact+suffix (LIKE '.'-literal), banned-word CASE sum, digit
    // fraction as double/double, path depth via string_split
    "q130_url_quality" ->
      s"""WITH u AS (
         |  SELECT doc_id, $sourceUrlSql AS url FROM documents),
         |h AS (
         |  SELECT doc_id, url,
         |    regexp_replace(lower(regexp_extract(url, '^[^/]*//([^/:?#]+)', 1)),
         |      '^www\\.', '') AS host,
         |    regexp_replace(regexp_replace(url, '^[^/]*//[^/]*', ''),
         |      '[?#].*', '') AS p,
         |    (CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END) +
         |    (CASE WHEN contains(lower(url), 'frag') THEN 1 ELSE 0 END) AS nb
         |  FROM u),
         |f AS (
         |  SELECT doc_id, url, host,
         |    (host = 'src3.example.com' OR host LIKE '%.src3.example.com')
         |      AS blocked_host,
         |    CAST(nb AS BIGINT) AS n_banned_words,
         |    CASE WHEN length(host) > 0
         |         THEN CAST(length(regexp_replace(host, '[^0-9]', '', 'g')) AS DOUBLE)
         |              / CAST(length(host) AS DOUBLE)
         |         ELSE 0.0 END AS host_digit_frac,
         |    CAST(length(url) AS BIGINT) AS url_len,
         |    CAST(CASE WHEN length(p) > 0 THEN len(string_split(p, '/')) - 1
         |              ELSE 0 END AS BIGINT) AS path_depth,
         |    (NOT (host = 'src3.example.com' OR host LIKE '%.src3.example.com')
         |      AND nb = 0 AND length(url) <= 2048) AS keep
         |  FROM h)
         |SELECT * FROM f ORDER BY doc_id""".stripMargin,
    // q129 — htmlMainText replayed: the q127 page through the density
    // rule, DuckDB list lambdas for Spark's higher-order functions
    "q129_html_main_text" ->
      s"""WITH h AS (
         |  SELECT doc_id, $sourceHtmlSql AS html FROM documents)
         |SELECT doc_id,
         |  ${graft.ext.Html.mainTextOracleSqlExpr("html")} AS main_text
         |FROM h ORDER BY doc_id""".stripMargin,
    // q135 — the block-context rescue replayed: the same marked-text /
    // strip / link / good snippets as q129's oracle, with the
    // neighbor check as an indexed list lambda (1-based here, 0-based
    // in Spark's filter — the guards map i>1/i<len to i>0/i<n-1)
    "q135_html_main_blocks" ->
      s"""WITH h AS (
         |  SELECT doc_id, $sourceHtmlSql AS html FROM documents),
         |t AS (
         |  SELECT doc_id, ${graft.ext.Html.markedTextOracleSqlExpr("html")} AS text
         |  FROM h),
         |l AS (
         |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM t),
         |gc AS (
         |  SELECT doc_id, lines,
         |    list_transform(lines, x -> ${graft.ext.Html.goodOracleSqlExpr("x", 25, 0.5)}) AS g
         |  FROM l)
         |SELECT doc_id, array_to_string(
         |  list_filter(
         |    list_transform(range(1, len(lines) + 1), i ->
         |      CASE WHEN g[i] OR (i > 1 AND i < len(lines) AND g[i-1] AND g[i+1])
         |           THEN ${graft.ext.Html.stripOracleSqlExpr("lines[i]")} END),
         |    y -> y IS NOT NULL),
         |  chr(10)) AS main_text
         |FROM gc ORDER BY doc_id""".stripMargin,
    // q128 — the WARC fixture's expected rows, hand-computed from the
    // fixture HTML through the same extraction/canonicalization rules
    // (epochs from the fixture's WARC-Date headers). VALUES-only is
    // deliberate: DuckDB cannot parse WARC; the Spark side must
    // reproduce these exact rows through real gzip file I/O.
    "q128_warc_responses" ->
      """SELECT * FROM (VALUES
        |  ('http://example.com:80/b', 'http://example.com/b',
        |   CAST(1577836800 AS BIGINT), 200, '', 'Beta page'),
        |  ('https://example.com/c', 'https://example.com/c',
        |   CAST(1623760245 AS BIGINT), 404, '', 'Not found'),
        |  ('https://example.com/d', 'https://example.com/d',
        |   CAST(1643767322 AS BIGINT), 200, '', 'Café page'),
        |  ('https://example.com/e', 'https://example.com/e',
        |   CAST(1677812583 AS BIGINT), 200, '', 'Smörgåsbord'),
        |  ('https://example.com/f', 'https://example.com/f',
        |   CAST(1712203444 AS BIGINT), 200, '', 'Привет мир'),
        |  ('https://www.Example.com/a?utm_source=x&b=2&a=1',
        |   'https://example.com/a?a=1&b=2', CAST(1488772926 AS BIGINT), 200,
        |   'Alpha', 'Alpha' || chr(10) || 'Hello & welcome' || chr(10) || 'Second line'))
        |AS t(url, url_key, ts_epoch, http_status, title, text)
        |ORDER BY url""".stripMargin,
    // q127 — htmlToText replayed: the oracle interpolates
    // Html.oracleSqlExpr / titleOracleSqlExpr, built from the same
    // pattern constants the Spark expression uses; list indexing is
    // 1-based NULL-on-miss in both engines (try_element_at ↔ [1])
    "q127_html_to_text" ->
      s"""WITH h AS (
         |  SELECT doc_id, $sourceHtmlSql AS html FROM documents)
         |SELECT doc_id,
         |  ${graft.ext.Html.titleOracleSqlExpr("html")} AS title,
         |  lower(regexp_extract(html, '${graft.ext.Html.LangPattern}', 1)) AS lang,
         |  ${graft.ext.Html.metaOracleSqlExpr("html", "description")} AS meta_desc,
         |  ${graft.ext.Html.oracleSqlExpr("html")} AS text,
         |  CAST(len(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS BIGINT) AS n_links,
         |  regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)[1] AS first_href
         |FROM h ORDER BY doc_id""".stripMargin,
    // q126 — urlDedup replayed: the canonical key is the same step
    // sequence (DuckDB needs the explicit 'g' flag where Spark's
    // replace-all is implicit; the anchored steps are single-match in
    // both engines; list_filter/list_sort mirror Spark's
    // array_remove/array_sort under binary collation), winner =
    // min(doc_id) per key.
    "q126_url_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id, $sourceUrlSql AS url FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(url, '#.*', '', 'g'),
         |      '[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
         |      '^([^?&]*)&', '\\1?') AS pu
         |  FROM u),
         |s AS (
         |  SELECT doc_id,
         |    regexp_replace(pu, '\\?.*', '') AS base,
         |    regexp_extract(pu, '\\?(.*)', 1) AS query
         |  FROM p),
         |b AS (
         |  SELECT doc_id, query,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |      lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
         |        regexp_replace(base, '^[^/]*//[^/]*', ''),
         |      '^(https?://)www\\.', '\\1'),
         |      '^(http://[^/:]+):80($$|/)', '\\1\\2'),
         |      '^(https://[^/:]+):443($$|/)', '\\1\\2'),
         |      '/$$', '') AS clean_base
         |  FROM s),
         |k AS (
         |  SELECT doc_id,
         |    CASE WHEN sq = '' THEN clean_base
         |         ELSE clean_base || '?' || sq END AS url_key
         |  FROM (SELECT doc_id, clean_base,
         |          COALESCE(array_to_string(list_sort(
         |            list_filter(string_split(query, '&'), x -> x <> '')), '&'), '') AS sq
         |        FROM b)),
         |keep AS (SELECT url_key, min(doc_id) AS doc_id FROM k GROUP BY url_key)
         |SELECT doc_id, url_key FROM keep ORDER BY doc_id""".stripMargin,
    // q153 — THE FULLY-GATED FRONT HALF replayed as one chained-CTE
    // program: quality+robots policy filters, the bit-exact rank CTEs
    // + 1.5×-floor threshold (q148), the anchor signal + block cut
    // (q152), the canonical CASE + q126 canonicalization chain (q150),
    // extraction + stats — every constant shared with the Spark side
    "q153_gated_front_half" ->
      s"""WITH u AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceHtmlSql AS html
         |  FROM documents),
         |qq AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS host,
         |    (CASE WHEN contains(lower(url), 'casino') THEN 1 ELSE 0 END) +
         |    (CASE WHEN contains(lower(url), 'frag') THEN 1 ELSE 0 END) AS nb
         |  FROM u),
         |flt AS (
         |  SELECT u.*, qq.host FROM u JOIN qq USING (doc_id)
         |  WHERE NOT (qq.host = 'src3.example.com'
         |             OR qq.host LIKE '%.src3.example.com')
         |    AND qq.nb = 0 AND length(u.url) <= 2048
         |    AND NOT ${graft.ext.Html.robotsTokenOracleSqlExpr(
                s"lower(${graft.ext.Html.metaOracleSqlExpr("u.html", "robots")})",
                graft.ext.Html.RobotsNoindexPattern)}),
         |lp AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM lp),
         |edges AS (
         |  SELECT src AS src_host,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dst_host
         |  FROM x
         |  WHERE src <> '' AND ${LinkGraph.hostOfOracleSqlExpr("href")} <> ''
         |    AND src <> ${LinkGraph.hostOfOracleSqlExpr("href")}),
         |${LinkGraph.rankOracleCtes(iterations = 3, damping = 0.85)},
         |thr AS (SELECT CAST(1.5 AS DOUBLE) *
         |  ((CAST(1.0 AS DOUBLE) - CAST('0.85' AS DOUBLE)) / np.n) AS t FROM np),
         |xa AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html,
         |      '${graft.ext.Html.AnchorHrefPattern.replace("'", "''")}', 0)) AS a
         |  FROM lp),
         |ea AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr(graft.ext.Html.anchorHrefOracleSqlExpr("a"))} AS dst,
         |    ${graft.ext.Html.anchorTextOracleSqlExpr("a")} AS anchor
         |  FROM xa),
         |prof AS (
         |  SELECT dst AS dst_host, anchor, count(*) AS n_links
         |  FROM ea
         |  WHERE src <> '' AND dst <> '' AND src <> dst AND anchor <> ''
         |  GROUP BY dst, anchor),
         |sig AS (
         |  SELECT dst_host,
         |    SUM(n_links) AS n_links,
         |    SUM(CASE WHEN ${LinkGraph.anchorKeywordOracleSqlExpr(
                         "anchor", Seq("now", "topic 4"))}
         |        THEN n_links ELSE 0 END) AS kw_links
         |  FROM prof GROUP BY dst_host),
         |blocked AS (
         |  SELECT dst_host AS host FROM sig
         |  WHERE CAST(kw_links AS DOUBLE) / CAST(n_links AS DOUBLE) >= 0.5),
         |keep1 AS (
         |  SELECT flt.* FROM flt
         |  JOIN r3 ON r3.host = flt.host CROSS JOIN thr
         |  WHERE r3.rank >= thr.t),
         |keep2 AS (
         |  SELECT keep1.* FROM keep1
         |  ANTI JOIN blocked ON blocked.host = keep1.host),
         |eu AS (
         |  SELECT doc_id, host, html,
         |    ${graft.ext.Html.declaredCanonicalOracleSqlExpr("url", "html")} AS url
         |  FROM keep2),
         |p AS (
         |  SELECT doc_id, host, html,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(url, '#.*', '', 'g'),
         |      '[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
         |      '^([^?&]*)&', '\\1?') AS pu
         |  FROM eu),
         |s AS (
         |  SELECT doc_id, host, html,
         |    regexp_replace(pu, '\\?.*', '') AS base,
         |    regexp_extract(pu, '\\?(.*)', 1) AS query
         |  FROM p),
         |b AS (
         |  SELECT doc_id, host, html, query,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |      lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
         |        regexp_replace(base, '^[^/]*//[^/]*', ''),
         |      '^(https?://)www\\.', '\\1'),
         |      '^(http://[^/:]+):80($$|/)', '\\1\\2'),
         |      '^(https://[^/:]+):443($$|/)', '\\1\\2'),
         |      '/$$', '') AS clean_base
         |  FROM s),
         |k AS (
         |  SELECT doc_id, host, html,
         |    CASE WHEN sq = '' THEN clean_base
         |         ELSE clean_base || '?' || sq END AS url_key
         |  FROM (SELECT doc_id, host, html, clean_base,
         |          COALESCE(array_to_string(list_sort(
         |            list_filter(string_split(query, '&'), x -> x <> '')), '&'), '') AS sq
         |        FROM b)),
         |win AS (SELECT url_key, min(doc_id) AS doc_id FROM k GROUP BY url_key),
         |ext AS (
         |  SELECT k.doc_id, k.host, k.url_key,
         |    ${graft.ext.Html.oracleSqlExpr("k.html")} AS text
         |  FROM k JOIN win ON k.doc_id = win.doc_id AND k.url_key = win.url_key)
         |SELECT doc_id, host, url_key, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |FROM ext ORDER BY doc_id""".stripMargin,
    // q152 — the anchor-keyword block cut replayed: the q149 signal
    // chain, the >= 0.5 cut, an ANTI join back onto the pages by the
    // shared host fold (unprofiled hosts keep)
    "q152_anchor_block_cut" ->
      s"""WITH p AS (
         |  SELECT doc_id, $sourceUrlSql AS url, $sourceLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS src,
         |    unnest(regexp_extract_all(html,
         |      '${graft.ext.Html.AnchorHrefPattern.replace("'", "''")}', 0)) AS a
         |  FROM p),
         |e AS (
         |  SELECT doc_id, src,
         |    ${LinkGraph.hostOfOracleSqlExpr(graft.ext.Html.anchorHrefOracleSqlExpr("a"))} AS dst,
         |    ${graft.ext.Html.anchorTextOracleSqlExpr("a")} AS anchor
         |  FROM x),
         |prof AS (
         |  SELECT dst AS dst_host, anchor, count(*) AS n_links
         |  FROM e
         |  WHERE src <> '' AND dst <> '' AND src <> dst AND anchor <> ''
         |  GROUP BY dst, anchor),
         |sig AS (
         |  SELECT dst_host,
         |    SUM(n_links) AS n_links,
         |    SUM(CASE WHEN ${LinkGraph.anchorKeywordOracleSqlExpr(
                         "anchor", Seq("now", "topic 4"))}
         |        THEN n_links ELSE 0 END) AS kw_links
         |  FROM prof GROUP BY dst_host),
         |blocked AS (
         |  SELECT dst_host AS host FROM sig
         |  WHERE CAST(kw_links AS DOUBLE) / CAST(n_links AS DOUBLE) >= 0.5)
         |SELECT p2.doc_id, p2.host
         |FROM (SELECT doc_id,
         |        ${LinkGraph.hostOfOracleSqlExpr(s"($sourceUrlSql)")} AS host
         |      FROM documents) p2
         |ANTI JOIN blocked ON blocked.host = p2.host
         |ORDER BY p2.doc_id""".stripMargin,
    // q151 — CJK-safe packing replayed: the segmentation CASE (shared
    // regex constants) feeds the IDENTICAL q34 first-fit packing CTEs
    // q162 — the PSL-grain page cap replayed: the q159/q160 election
    // CTEs over the page-url hosts, the fold joined back, then q155's
    // md5-seeded row_number cap at DOMAIN grain
    "q162_psl_page_cap" ->
      s"""WITH raw(rule) AS (VALUES ${PslFixtureRules
            .map(r => s"('${r.replace("'", "''")}')").mkString(", ")}),
         |parsed AS (
         |  SELECT CASE WHEN starts_with(r, '!') THEN 1 ELSE 0 END AS exc,
         |    CASE WHEN starts_with(r, '!') THEN substring(r, 2)
         |         WHEN starts_with(r, '*.') THEN substring(r, 3)
         |         ELSE r END AS key,
         |    CASE WHEN starts_with(r, '!')
         |           THEN len(string_split(substring(r, 2), '.')) - 1
         |         WHEN starts_with(r, '*.')
         |           THEN len(string_split(substring(r, 3), '.')) + 1
         |         ELSE len(string_split(r, '.')) END AS pslab
         |  FROM (SELECT trim(rule) AS r FROM raw)
         |  WHERE r <> '' AND NOT starts_with(r, '//')),
         |p AS (
         |  SELECT doc_id, $pslLinkUrlSql AS url FROM documents),
         |ph AS (
         |  SELECT doc_id, ${LinkGraph.hostOfOracleSqlExpr("url")} AS host
         |  FROM p),
         |hl AS (
         |  SELECT DISTINCT host, string_split(host, '.') AS labels,
         |    len(string_split(host, '.')) AS n
         |  FROM ph WHERE host IS NOT NULL AND host <> ''),
         |kk AS (SELECT host, n, unnest(range(1, least(n, 5) + 1)) AS k FROM hl),
         |cand AS (
         |  SELECT kk.host,
         |    array_to_string(list_slice(hl.labels, kk.n - kk.k + 1, kk.n), '.')
         |      AS key
         |  FROM kk JOIN hl USING (host)),
         |best AS (
         |  SELECT c.host, max(pp.exc * 1000 + pp.pslab) AS w
         |  FROM cand c JOIN parsed pp ON pp.key = c.key
         |  GROUP BY c.host),
         |dd AS (
         |  SELECT hl.host, hl.labels, hl.n,
         |    least(coalesce(b.w % 1000, 1) + 1, hl.n) AS d
         |  FROM hl LEFT JOIN best b USING (host)),
         |psl AS (
         |  SELECT host,
         |    array_to_string(list_slice(labels, n - d + 1, n), '.') AS domain
         |  FROM dd)
         |SELECT doc_id, domain FROM (
         |  SELECT ph.doc_id, psl.domain,
         |    row_number() OVER (
         |      PARTITION BY psl.domain
         |      ORDER BY md5(CAST(ph.doc_id AS VARCHAR) || 'graft') ASC,
         |               ph.doc_id ASC) AS rn
         |  FROM ph JOIN psl USING (host)) t
         |WHERE rn <= 3 ORDER BY doc_id""".stripMargin,
    // q160 — the PSL-grain edge list replayed end to end: the q154
    // link-extraction CTEs over the farm fixture, the q159 PSL
    // election CTEs over the UNION of src+href hosts, the
    // two-endpoint fold as two joins against the lookup, then the
    // q137 edge aggregation with folded-grain self-edges dropped
    "q160_psl_edges" ->
      s"""WITH raw(rule) AS (VALUES ${PslFixtureRules
            .map(r => s"('${r.replace("'", "''")}')").mkString(", ")}),
         |parsed AS (
         |  SELECT CASE WHEN starts_with(r, '!') THEN 1 ELSE 0 END AS exc,
         |    CASE WHEN starts_with(r, '!') THEN substring(r, 2)
         |         WHEN starts_with(r, '*.') THEN substring(r, 3)
         |         ELSE r END AS key,
         |    CASE WHEN starts_with(r, '!')
         |           THEN len(string_split(substring(r, 2), '.')) - 1
         |         WHEN starts_with(r, '*.')
         |           THEN len(string_split(substring(r, 3), '.')) + 1
         |         ELSE len(string_split(r, '.')) END AS pslab
         |  FROM (SELECT trim(rule) AS r FROM raw)
         |  WHERE r <> '' AND NOT starts_with(r, '//')),
         |p AS (
         |  SELECT doc_id, $pslLinkUrlSql AS url, $pslLinkHtmlSql AS html
         |  FROM documents),
         |x AS (
         |  SELECT doc_id,
         |    ${LinkGraph.hostOfOracleSqlExpr("url")} AS srch,
         |    unnest(regexp_extract_all(html, '${graft.ext.Html.HrefPattern}', 1)) AS href
         |  FROM p),
         |ef AS (
         |  SELECT doc_id, srch,
         |    ${LinkGraph.hostOfOracleSqlExpr("href")} AS dsth
         |  FROM x
         |  WHERE srch <> ''),
         |ef2 AS (SELECT * FROM ef WHERE dsth <> ''),
         |hosts0 AS (
         |  SELECT srch AS host FROM ef2
         |  UNION SELECT dsth FROM ef2),
         |hl AS (
         |  SELECT host, string_split(host, '.') AS labels,
         |    len(string_split(host, '.')) AS n
         |  FROM hosts0 WHERE host IS NOT NULL AND host <> ''),
         |kk AS (SELECT host, n, unnest(range(1, least(n, 5) + 1)) AS k FROM hl),
         |cand AS (
         |  SELECT kk.host,
         |    array_to_string(list_slice(hl.labels, kk.n - kk.k + 1, kk.n), '.')
         |      AS key
         |  FROM kk JOIN hl USING (host)),
         |best AS (
         |  SELECT c.host, max(p.exc * 1000 + p.pslab) AS w
         |  FROM cand c JOIN parsed p ON p.key = c.key
         |  GROUP BY c.host),
         |dd AS (
         |  SELECT hl.host, hl.labels, hl.n,
         |    least(coalesce(b.w % 1000, 1) + 1, hl.n) AS d
         |  FROM hl LEFT JOIN best b USING (host)),
         |psl AS (
         |  SELECT host,
         |    array_to_string(list_slice(labels, n - d + 1, n), '.') AS domain
         |  FROM dd),
         |e2 AS (
         |  SELECT ef2.doc_id, ls.domain AS src, ld.domain AS dst
         |  FROM ef2
         |  JOIN psl ls ON ls.host = ef2.srch
         |  JOIN psl ld ON ld.host = ef2.dsth)
         |SELECT src AS src_host, dst AS dst_host,
         |  count(*) AS n_links, count(DISTINCT doc_id) AS n_pages
         |FROM e2
         |WHERE src <> dst
         |GROUP BY src, dst
         |ORDER BY src, dst""".stripMargin,
    // q159 — the PSL fold replayed: rule parse (comment/blank skip,
    // !/*. prefixes, per-kind public-suffix label count), label-suffix
    // explode (≤5), equi-join, the (exception, length) election as a
    // lexicographic max encoded exc*1000+pslab (pslab < 1000 —
    // identical ordering to Spark's max(struct)), then suffix+1 slice
    "q159_psl_domains" ->
      s"""WITH raw(rule) AS (VALUES ${PslFixtureRules
            .map(r => s"('${r.replace("'", "''")}')").mkString(", ")}),
         |parsed AS (
         |  SELECT CASE WHEN starts_with(r, '!') THEN 1 ELSE 0 END AS exc,
         |    CASE WHEN starts_with(r, '!') THEN substring(r, 2)
         |         WHEN starts_with(r, '*.') THEN substring(r, 3)
         |         ELSE r END AS key,
         |    CASE WHEN starts_with(r, '!')
         |           THEN len(string_split(substring(r, 2), '.')) - 1
         |         WHEN starts_with(r, '*.')
         |           THEN len(string_split(substring(r, 3), '.')) + 1
         |         ELSE len(string_split(r, '.')) END AS pslab
         |  FROM (SELECT trim(rule) AS r FROM raw)
         |  WHERE r <> '' AND NOT starts_with(r, '//')),
         |hosts0 AS (SELECT DISTINCT $pslFixtureHostSql AS host FROM documents),
         |hl AS (
         |  SELECT host, string_split(host, '.') AS labels,
         |    len(string_split(host, '.')) AS n
         |  FROM hosts0 WHERE host IS NOT NULL AND host <> ''),
         |kk AS (SELECT host, n, unnest(range(1, least(n, 5) + 1)) AS k FROM hl),
         |cand AS (
         |  SELECT kk.host,
         |    array_to_string(list_slice(hl.labels, kk.n - kk.k + 1, kk.n), '.')
         |      AS key
         |  FROM kk JOIN hl USING (host)),
         |best AS (
         |  SELECT c.host, max(p.exc * 1000 + p.pslab) AS w
         |  FROM cand c JOIN parsed p ON p.key = c.key
         |  GROUP BY c.host),
         |dd AS (
         |  SELECT hl.host, hl.labels, hl.n,
         |    least(coalesce(b.w % 1000, 1) + 1, hl.n) AS d
         |  FROM hl LEFT JOIN best b USING (host))
         |SELECT host,
         |  array_to_string(list_slice(labels, n - d + 1, n), '.') AS domain
         |FROM dd ORDER BY host""".stripMargin,
    // q157 — laned packing replayed: the q151 segmentation, the q139
    // md5 lane fold, then the q34 packing CTEs at (lang, lane) grain
    "q157_laned_packing" ->
      s"""WITH seg AS (
         |  SELECT lang, doc_id,
         |    ${graft.ext.TextOps.cjkSegmentOracleSqlExpr(cjkDocTextSql, "lang")}
         |      AS text
         |  FROM documents),
         |laned AS (
         |  SELECT lang, doc_id, text,
         |    ('0x' || substr(md5('lane:' || CAST(doc_id AS VARCHAR)), 1, 15))
         |      ::BIGINT % 4 AS lane
         |  FROM seg),
         |sized AS (
         |  SELECT lang, lane, doc_id, len(string_split(text, ' ')) AS n,
         |    SUM(len(string_split(text, ' ')))
         |      OVER (PARTITION BY lang, lane ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM laned)
         |SELECT lang, lane,
         |  CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc,
         |  MAX(doc_id) AS last_doc
         |FROM sized GROUP BY lang, lane, bin_id
         |ORDER BY lang, lane, bin_id""".stripMargin,
    "q151_cjk_packing" ->
      s"""WITH seg AS (
         |  SELECT lang, doc_id,
         |    ${graft.ext.TextOps.cjkSegmentOracleSqlExpr(cjkDocTextSql, "lang")}
         |      AS text
         |  FROM documents),
         |sized AS (
         |  SELECT lang, doc_id, len(string_split(text, ' ')) AS n,
         |    SUM(len(string_split(text, ' ')))
         |      OVER (PARTITION BY lang ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM seg)
         |SELECT lang,
         |  CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
         |  MIN(doc_id) AS first_doc,
         |  MAX(doc_id) AS last_doc
         |FROM sized GROUP BY lang, bin_id
         |ORDER BY lang, bin_id""".stripMargin,
    // q150 — canonical-aware URL dedup replayed: the declaration CASE
    // (shared pattern constants — extraction + absolute test), then
    // the IDENTICAL q126 canonicalization chain over the effective URL
    "q150_canonical_url_dedup" ->
      s"""WITH raw AS (
         |  SELECT doc_id, $sourceUrlSql AS furl, $sourceCanonHtmlSql AS html
         |  FROM documents),
         |u AS (
         |  SELECT doc_id,
         |    ${graft.ext.Html.declaredCanonicalOracleSqlExpr("furl", "html")} AS url
         |  FROM raw),
         |p AS (
         |  SELECT doc_id,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(url, '#.*', '', 'g'),
         |      '[?&](utm_[a-zA-Z0-9]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
         |      '^([^?&]*)&', '\\1?') AS pu
         |  FROM u),
         |s AS (
         |  SELECT doc_id,
         |    regexp_replace(pu, '\\?.*', '') AS base,
         |    regexp_extract(pu, '\\?(.*)', 1) AS query
         |  FROM p),
         |b AS (
         |  SELECT doc_id, query,
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |    regexp_replace(
         |      lower(regexp_extract(base, '^([^/]*//[^/]*)', 1)) ||
         |        regexp_replace(base, '^[^/]*//[^/]*', ''),
         |      '^(https?://)www\\.', '\\1'),
         |      '^(http://[^/:]+):80($$|/)', '\\1\\2'),
         |      '^(https://[^/:]+):443($$|/)', '\\1\\2'),
         |      '/$$', '') AS clean_base
         |  FROM s),
         |k AS (
         |  SELECT doc_id,
         |    CASE WHEN sq = '' THEN clean_base
         |         ELSE clean_base || '?' || sq END AS url_key
         |  FROM (SELECT doc_id, clean_base,
         |          COALESCE(array_to_string(list_sort(
         |            list_filter(string_split(query, '&'), x -> x <> '')), '&'), '') AS sq
         |        FROM b)),
         |keep AS (SELECT url_key, min(doc_id) AS doc_id FROM k GROUP BY url_key)
         |SELECT doc_id, url_key FROM keep ORDER BY doc_id""".stripMargin,
    "q37_url_domains" ->
      s"""WITH enriched AS (
         |  SELECT doc_id, $urlTextSql AS text FROM documents),
         |u AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(text, '${TextOps.UrlPattern}')) AS url
         |  FROM enriched)
         |SELECT regexp_extract(url, '${TextOps.DomainPattern}', 1) AS domain,
         |  count(*) AS n_urls,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM u GROUP BY domain ORDER BY domain""".stripMargin,
    // q37's enrichment; blocklist hits via the same extract-then-domain
    // pipeline, survivors anti-joined
    "q76_domain_blocklist" ->
      s"""WITH enriched AS (
         |  SELECT doc_id, $urlTextSql AS text FROM documents),
         |u AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(text, '${TextOps.UrlPattern}')) AS url
         |  FROM enriched),
         |hits AS (
         |  SELECT DISTINCT doc_id FROM u
         |  WHERE regexp_extract(url, '${TextOps.DomainPattern}', 1)
         |    IN ('mirror.example.net', 'src7.example.com'))
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q40_top_tokens" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM w GROUP BY token
        |ORDER BY n_occurrences DESC, token ASC LIMIT 50""".stripMargin,
    // 1-based window starts every 48; list_slice is end-inclusive so
    // the window is [st, st+63]; last chunk may be short
    "q49_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |s AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp), 48)) AS st
        |  FROM t)
        |SELECT doc_id,
        |  CAST((st - 1) / 48 AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(sp, st, st + 63), ' ') AS chunk_text,
        |  CAST(len(list_slice(sp, st, st + 63)) AS BIGINT) AS chunk_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin,
    // identical md5 ordering + id tiebreak on both engines
    "q50_sample_per_group" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (
        |      PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || 'graft') ASC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    // full windows only (len >= 8); within-doc repeats count toward
    // n_occurrences; span string itself is the group key on both sides
    "q51_duplicated_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
        |s AS (
        |  SELECT doc_id, sp, unnest(generate_series(1, len(sp) - 7)) AS st
        |  FROM t WHERE len(sp) >= 8),
        |spans AS (
        |  SELECT doc_id, array_to_string(list_slice(sp, st, st + 7), ' ') AS span
        |  FROM s)
        |SELECT span, count(*) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM spans GROUP BY span
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_occurrences DESC, span ASC LIMIT 100""".stripMargin,
    // same cast order as the Spark side: (tf -> DOUBLE) * N / df keeps
    // the arithmetic IEEE-identical; rational idf (no ln) on both sides
    "q52_key_terms" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.token,
        |    CAST(tf.tf AS DOUBLE) * n.n / CAST(df.df AS DOUBLE) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, score, rank FROM (
        |  SELECT s.*, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
        |  FROM s) ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // per-key dense day grid; DuckDB generate_series over dates yields
    // timestamps, so the grid day is cast back to DATE; counts and the
    // running sum are cast to BIGINT (DuckDB widens SUM to HUGEINT)
    "q54_resample_daily" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |spans AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                                CAST(d1 AS TIMESTAMP),
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans),
        |counts AS (
        |  SELECT event_type, day, count(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT g.event_type, g.day,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events,
        |  CAST(SUM(coalesce(c.n, 0)) OVER (
        |    PARTITION BY g.event_type ORDER BY g.day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events
        |FROM grid g LEFT JOIN counts c USING (event_type, day)
        |ORDER BY g.event_type, g.day""".stripMargin,
    // quantile_cont == Spark's exact percentile (same interpolation,
    // verified by q24); same greatest(lo, least(hi, v)) clip order so
    // the double arithmetic is IEEE-identical
    "q56_winsorize" ->
      """WITH b AS (
        |  SELECT lang,
        |    quantile_cont(n_chars, 0.05) AS lo,
        |    quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang, n_chars,
        |  greatest(b.lo, least(b.hi, CAST(n_chars AS DOUBLE))) AS n_chars_clipped,
        |  (n_chars < b.lo OR n_chars > b.hi) AS is_clipped
        |FROM documents d JOIN b USING (lang)
        |ORDER BY doc_id""".stripMargin,
    // the oracle IS the naive single-window spelling the operator
    // refuses to plan — identical numbering, different physics
    "q57_ordered_ids" ->
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // per-rule counts; DuckDB integer '/' is float division like the
    // Spark cast-to-double, so violation_frac is IEEE-identical
    "q58_data_quality" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM orders)
        |SELECT rule, n_violations, n_rows,
        |  CAST(n_violations AS DOUBLE) / n_rows AS violation_frac
        |FROM (
        |  SELECT 'null_custkey' AS rule,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations, (SELECT n_rows FROM n) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT 'totalprice_over_400k',
        |    CAST(sum(CASE WHEN o_totalprice > 400000 THEN 1 ELSE 0 END) AS BIGINT),
        |    (SELECT n_rows FROM n) FROM orders
        |  UNION ALL
        |  SELECT 'unknown_status',
        |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT),
        |    (SELECT n_rows FROM n) FROM orders
        |  UNION ALL
        |  SELECT 'orphan_custkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |     WHERE o.o_custkey IS NULL
        |        OR NOT EXISTS (SELECT 1 FROM customer c
        |                       WHERE c.c_custkey = o.o_custkey)),
        |    (SELECT n_rows FROM n))
        |ORDER BY rule""".stripMargin,
    // q54's dense grid + a rolling window; integer window sums, then
    // the IDENTICAL double expression tree (s2/n - (s/n)*(s/n)) and
    // the same <=0 variance guard on both engines
    "q59_daily_anomalies" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |spans AS (
        |  SELECT event_type, min(day) AS d0, max(day) AS d1
        |  FROM ev GROUP BY 1),
        |grid AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |                                CAST(d1 AS TIMESTAMP),
        |                                INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans),
        |counts AS (
        |  SELECT event_type, day, count(*) AS n FROM ev GROUP BY 1, 2),
        |dense AS (
        |  SELECT g.event_type, g.day,
        |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
        |  FROM grid g LEFT JOIN counts c USING (event_type, day)),
        |roll AS (
        |  SELECT event_type, day, n_events,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(n_events) OVER w AS BIGINT) AS s,
        |    CAST(sum(n_events * n_events) OVER w AS BIGINT) AS s2
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
        |scored AS (
        |  SELECT event_type, day, n_events,
        |    CASE WHEN s2 / n - (s / n) * (s / n) <= (s2 / n) * 1e-12 THEN 0.0
        |         ELSE (n_events - s / n) / sqrt(s2 / n - (s / n) * (s / n))
        |    END AS zscore
        |  FROM roll)
        |SELECT event_type, day, n_events, zscore,
        |  (abs(zscore) > 2.0) AS is_anomaly
        |FROM scored ORDER BY event_type, day""".stripMargin,
    // COUNT(DISTINCT) excludes NULLs on both engines; one UNION ALL
    // branch per profiled column
    "q60_profile" ->
      """WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderstatus' AS col_name,
        |    CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
        |    (SELECT n_rows FROM n) AS n_rows FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
        |    (SELECT n_rows FROM n) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate',
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT o_orderdate) AS BIGINT),
        |    (SELECT n_rows FROM n) FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT o_custkey) AS BIGINT),
        |    (SELECT n_rows FROM n) FROM orders)
        |ORDER BY col_name""".stripMargin,
    // the salted join's contract IS the plain inner join
    "q62_salted_join" ->
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // q48's threshold encoding with a per-row rate: the identical
    // ((w*f)*n)/sumw double tree on both engines, 'g' for clamped rows
    "q64_weighted_sample" ->
      """WITH t AS (
        |  SELECT CAST(sum(n_chars) AS DOUBLE) AS sumw, count(*) AS n
        |  FROM documents)
        |SELECT doc_id, n_chars FROM documents, t
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'graft'), 1, 4) <
        |  CASE WHEN CAST(n_chars AS DOUBLE) * 0.3 * n / sumw >= 1 THEN 'g'
        |       ELSE printf('%04x', LEAST(CAST(FLOOR(
        |         CAST(n_chars AS DOUBLE) * 0.3 * n / sumw * 65536) AS INT), 65535))
        |  END
        |ORDER BY doc_id""".stripMargin,
    // bit-length surprisal: pure integer/string ops until the single
    // final IEEE division — exact cross-engine (format('{:b}') length
    // == Spark length(bin()); both are the integer's bit length)
    "q72_lm_surprisal" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |cf AS (SELECT token, count(*) AS cf FROM w GROUP BY token),
        |n AS (SELECT CAST(sum(cf) AS BIGINT) AS n FROM cf),
        |dt AS (SELECT doc_id, token, count(*) AS m FROM w GROUP BY doc_id, token),
        |agg AS (
        |  SELECT dt.doc_id,
        |    CAST(sum(dt.m) AS BIGINT) AS n_tokens,
        |    CAST(sum(dt.m * (length(format('{:b}', n.n)) -
        |                     length(format('{:b}', cf.cf)))) AS BIGINT) AS surprisal_bits
        |  FROM dt JOIN cf USING (token) CROSS JOIN n
        |  GROUP BY dt.doc_id)
        |SELECT doc_id, n_tokens, surprisal_bits,
        |  CAST(surprisal_bits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    // the identical count -> sqrt -> floor -> 4-hex pipeline (integer
    // inputs through IEEE correctly-rounded ops = bit-stable across
    // engines); keep-all groups use the 'g' sentinel like q33
    "q48_temperature_sample" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |m AS (SELECT min(cnt) AS mn FROM c),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN cnt <= mn THEN 'g'
        |         ELSE printf('%04x', LEAST(
        |           CAST(FLOOR(SQRT(CAST(mn AS DOUBLE) / cnt) * 65536) AS INT), 65535)) END
        |      AS thr
        |  FROM c, m)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN r USING (lang)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || 'graft'), 1, 4) < r.thr
        |ORDER BY d.doc_id""".stripMargin,
    // same binning as q34; the bin artifact = id-ordered concatenation
    "q47_packed_text" ->
      """WITH sized AS (
        |  SELECT lang, doc_id, text, len(string_split(text, ' ')) AS n,
        |    SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |SELECT lang,
        |  CAST(FLOOR((cum - n) / 2048.0) AS BIGINT) AS bin_id,
        |  string_agg(text, ' ' ORDER BY doc_id) AS packed_text,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens
        |FROM sized GROUP BY lang, bin_id
        |ORDER BY lang, bin_id""".stripMargin,
    "q45_stopword_fraction" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |stops AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS c FROM w GROUP BY token
        |    ORDER BY c DESC, token ASC LIMIT 10)),
        |n AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        |h AS (
        |  SELECT w.doc_id, CAST(count(*) AS BIGINT) AS hits
        |  FROM w JOIN stops USING (token) GROUP BY w.doc_id)
        |SELECT n.doc_id,
        |  COALESCE(h.hits, 0) / CAST(n.n AS DOUBLE) AS stopword_frac
        |FROM n LEFT JOIN h USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin,
    // cross-set exact Jaccard: query docs (id % 10 = 0) vs the rest —
    // NO a<b constraint; sides are fixed by set membership instead
    "q46_incremental_near_dup" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text,' ')))) AS pos
        |  FROM documents),
        |sh AS (SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok || ' ' || t3.tok AS s
        |  FROM w t1
        |  JOIN w t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
        |  JOIN w t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2),
        |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id a_id, b.doc_id b_id, count(*) c
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jaccard
        |FROM inter
        |JOIN sz sa ON sa.doc_id = a_id
        |JOIN sz sb ON sb.doc_id = b_id
        |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin,
    // same transitive-closure clustering as q23; winner = argmax
    // (n_chars, -doc_id) per component instead of min id
    "q44_dedup_keep_best" ->
      s"""WITH RECURSIVE ${jaccardPairsCte(3, 0.8)},
         |edges AS (
         |  SELECT a_id AS s, b_id AS d FROM jpairs
         |  UNION SELECT b_id, a_id FROM jpairs),
         |walk(s, d) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT w.s, e.d FROM walk w JOIN edges e ON w.d = e.s),
         |comp AS (
         |  SELECT s AS member, least(s, min(d)) AS component
         |  FROM walk GROUP BY s),
         |ranked AS (
         |  SELECT c.member,
         |    row_number() OVER (PARTITION BY c.component
         |                       ORDER BY d.n_chars DESC, c.member ASC) AS rn
         |  FROM comp c JOIN documents d ON d.doc_id = c.member)
         |SELECT * FROM documents
         |WHERE doc_id NOT IN (SELECT member FROM ranked WHERE rn > 1)
         |ORDER BY doc_id""".stripMargin,
    "q42_char_classes" ->
      """WITH labeled AS (
        |  SELECT p_partkey AS partkey,
        |    p_name || ' ' || p_brand || ' ' || p_type AS label
        |  FROM part)
        |SELECT partkey,
        |  CASE WHEN len(label) = 0 THEN 0.0
        |       ELSE CAST(len(label) - len(regexp_replace(label, '[0-9]', '', 'g'))
        |              AS DOUBLE) / len(label) END AS digit_frac,
        |  CASE WHEN len(label) = 0 THEN 0.0
        |       ELSE CAST(len(label) - len(regexp_replace(label, '[A-Z]', '', 'g'))
        |              AS DOUBLE) / len(label) END AS upper_frac,
        |  CASE WHEN len(label) = 0 THEN 0.0
        |       ELSE CAST(len(label) - len(regexp_replace(label, '[A-Za-z]', '', 'g'))
        |              AS DOUBLE) / len(label) END AS alpha_frac,
        |  CASE WHEN len(label) = 0 THEN 0.0
        |       ELSE CAST(len(label) - len(regexp_replace(label, '[^A-Za-z0-9 ]', '', 'g'))
        |              AS DOUBLE) / len(label) END AS symbol_frac
        |FROM labeled ORDER BY partkey""".stripMargin
    // q16 (ANN), q17 (SimHash), and q26 (IVF) intentionally have no
    // DuckDB oracle: their outputs depend on hash families DuckDB cannot
    // replay (seeded random hyperplanes + xxhash64 candidates for q16,
    // xxhash64 token SimHash for q17, seeded Spark-ML KMeans cells for
    // q26) — an "oracle" would be a DuckDB re-implementation of the
    // same approximation, asserting nothing. They are regression-gated
    // in ExtSpec instead, HARDER than a rows-only check: recall floors
    // pinned at the fixed-seed measurements (ANN ≥0.45 of measured
    // 0.464, IVF ≥0.65 of measured 0.674), golden md5 digests of the
    // full q16/q26 outputs, and the exact q17 pair set at sf0.001.
  )
}
