package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.exec.EtlContext
import graft.io.Parquet

/** TABLE-LEVEL operators as named fn steps — the SQL-pipeline seam for
  * everything a scalar function cannot express.
  *
  * The exposure model, in one place (FunctionsSpec pins the matrix and
  * README documents it):
  *  - ROW-level expressions (cosine similarity, shingle hashes,
  *    simhash, subword tokenizers, …) register as real SQL functions via
  *    [[graft.functions.GraftFunctions]] — use them inside any SQL
  *    step.
  *  - TABLE-level operators (dedup families, decontamination,
  *    boilerplate/substring stripping) cannot be SQL scalar functions
  *    — they consume and produce whole tables. Their seam is the
  *    framework's fn STEP (F17): a YAML pipeline interleaves them with
  *    SQL steps through the shared temp-view hand-off below. The
  *    composed pipelines keep their own registries with pipeline-
  *    specific stage names ([[CurationChain.fns]], [[CcNet.fns]]); the
  *    sketch/aggregate states (HLL, theta, quantile, Misra-Gries) are
  *    SQL-reachable as grouped expressions through GraftFunctions'
  *    aggregate registrations where defined, and as DataFrame ops in
  *    [[Sketches]] otherwise.
  *
  * Conventions (all overridable through pipeline variables, so YAML
  * drives them without code):
  *  - steps transform the temp view named `GRAFT_FN_VIEW` (default
  *    `graft`); `graft_init` seeds it from the view/dependency alias
  *    named `GRAFT_FN_SOURCE` (default `documents`);
  *  - id/text columns come from `GRAFT_ID_COL`/`GRAFT_TEXT_COL`
  *    (defaults `doc_id`/`text`);
  *  - `graft_decontaminate` reads its benchmark side from the view
  *    named `GRAFT_BENCH_VIEW` (required — there is no safe default
  *    for an eval set);
  *  - span/shingle widths come from `GRAFT_MIN_TOKENS` (default 8)
  *    and `GRAFT_SHINGLE_SIZE` (default 3).
  *
  * Register with `ctx.copy(fns = GraftFns.standard ++ yourOwn)`.
  */
object GraftFns {

  val DefaultView = "graft"

  private def view(ctx: EtlContext): String =
    ctx.variables.getOrElse("GRAFT_FN_VIEW", DefaultView)
  private def idCol(ctx: EtlContext): String =
    ctx.variables.getOrElse("GRAFT_ID_COL", "doc_id")
  private def textCol(ctx: EtlContext): String =
    ctx.variables.getOrElse("GRAFT_TEXT_COL", "text")
  private def minTokens(ctx: EtlContext): Int =
    ctx.variables.getOrElse("GRAFT_MIN_TOKENS", "8").toInt
  private def shingleSize(ctx: EtlContext): Int =
    ctx.variables.getOrElse("GRAFT_SHINGLE_SIZE", "3").toInt

  /** The link-graph cut family's audit columns (`host`, `rank`,
    * `in_hosts`) are re-derived by every cut from the SAME url fold,
    * so inside a step CHAIN a previous cut's attachments are stale
    * duplicates, not caller data — strip them at the next cut's entry
    * (q153's manual `.drop("host", "rank")` between cuts, as a step
    * concern) instead of tripping the operators' clash guard. Only
    * columns STAMPED by a sibling cut strip ([[LinkGraph.CutAuditMeta]]
    * schema metadata): a caller-owned column merely NAMED `host` has
    * no stamp, survives to the operator, and its clash guard raises
    * naming it — the step never silently discards caller data (the
    * direct-API posture, FunctionsSpec pins both sides).
    */
  private def stripCutAudit(d: DataFrame): DataFrame = {
    val stamped = d.schema.fields.collect {
      case f if Seq("host", "rank", "in_hosts").contains(f.name) &&
        f.metadata.contains(LinkGraph.CutAuditMetaKey) => f.name
    }
    d.drop(stamped.toSeq: _*)
  }

  private def step(name: String)(f: (EtlContext, DataFrame) => DataFrame)
    : (String, (SparkSession, EtlContext) => Option[DataFrame]) =
    name -> { (spark: SparkSession, ctx: EtlContext) =>
      val out = f(ctx, spark.table(view(ctx)))
      out.createOrReplaceTempView(view(ctx))
      Some(out)
    }

  def standard: Map[String, (SparkSession, EtlContext) => Option[DataFrame]] = Map(
    ("graft_init" -> { (spark: SparkSession, ctx: EtlContext) =>
      val out = spark.table(ctx.variables.getOrElse("GRAFT_FN_SOURCE", "documents"))
      out.createOrReplaceTempView(view(ctx))
      Some(out)
    }),
    step("graft_exact_dedup")((ctx, d) =>
      Dedup.exact(d, idCol(ctx), textCol(ctx))),
    step("graft_normalize_dedup")((ctx, d) =>
      Dedup.exact(d.withColumn("__norm",
          TextOps.normalizeText(org.apache.spark.sql.functions.col(textCol(ctx)))),
        idCol(ctx), "__norm").drop("__norm")),
    step("graft_near_dup_dedup")((ctx, d) =>
      Dedup.dedupNearDups(d,
        Dedup.nearDupMinHash(d, idCol(ctx), textCol(ctx),
          shingleSize = shingleSize(ctx)),
        idCol(ctx))),
    step("graft_decontaminate")((ctx, d) =>
      TextOps.decontaminate(d,
        d.sparkSession.table(ctx.variables.getOrElse("GRAFT_BENCH_VIEW",
          throw new graft.config.ConfigException(
            "graft_decontaminate requires the GRAFT_BENCH_VIEW variable"))),
        shingleSize = minTokens(ctx), idCol = idCol(ctx), textCol = textCol(ctx))),
    step("graft_strip_boilerplate")((ctx, d) =>
      Dedup.stripBoilerplate(d, spanTokens = minTokens(ctx),
        idCol = idCol(ctx), textCol = textCol(ctx))),
    step("graft_strip_exact_substrings")((ctx, d) =>
      Dedup.stripExactSubstrings(d, minTokens = minTokens(ctx),
        idCol(ctx), textCol(ctx))),
    step("graft_strip_dup_lines")((ctx, d) =>
      Dedup.stripDuplicateLines(d,
        minChars = ctx.variables.getOrElse("GRAFT_MIN_CHARS", "1").toInt,
        idCol = idCol(ctx), textCol = textCol(ctx))),
    // the char-grain ExactSubstr cut (Lee et al.'s native unit) — the
    // published default of 50 chars, overridable via its OWN variable
    // (GRAFT_SUBSTR_MIN_CHARS) so a pipeline using both this and the
    // line step can set the two thresholds independently; pipelines
    // written against the original GRAFT_MIN_CHARS key still apply
    // (deprecated fallback — the new key wins when both are set)
    step("graft_strip_char_substrings")((ctx, d) =>
      Dedup.stripExactCharSubstrings(d,
        minChars = ctx.variables.get("GRAFT_SUBSTR_MIN_CHARS")
          .orElse {
            val legacy = ctx.variables.get("GRAFT_MIN_CHARS")
            legacy.foreach(v => System.err.println(
              s"[graft] graft_strip_char_substrings: GRAFT_MIN_CHARS=$v is deprecated " +
                "here; set GRAFT_SUBSTR_MIN_CHARS (honoring the legacy key this run)"))
            legacy
          }.getOrElse("50").toInt,
        idCol = idCol(ctx), textCol = textCol(ctx))),
    // the web-ingest front door: derive the pipeline's text column
    // from a raw-HTML column (GRAFT_HTML_COL, default "html") — run
    // FIRST, everything downstream consumes the extracted text
    step("graft_html_to_text")((ctx, d) =>
      d.withColumn(textCol(ctx),
        graft.ext.Html.htmlToText(
          org.apache.spark.sql.functions.col(
            ctx.variables.getOrElse("GRAFT_HTML_COL", "html"))))),
    // RefinedWeb URL FILTERING (runs beside the URL dedup): keep rows
    // passing the quality predicate; the rule lists ride
    // comma-separated variables (empty/absent = rule off)
    step("graft_url_filter")((ctx, d) => {
      def list(k: String): Seq[String] = ctx.variables.get(k)
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      d.where(graft.ext.TextOps.urlQualityKeep(
        org.apache.spark.sql.functions.col(
          ctx.variables.getOrElse("GRAFT_URL_COL", "url")),
        blockedHosts = list("GRAFT_URL_BLOCKLIST"),
        bannedWords = list("GRAFT_URL_BANNED"),
        maxUrlLen = ctx.variables.getOrElse("GRAFT_URL_MAX_LEN", "2048").toInt))
    }),
    // RefinedWeb stage 1: URL-level keep-first by canonical source-URL
    // key; the url column name comes from GRAFT_URL_COL
    step("graft_url_dedup")((ctx, d) =>
      Dedup.urlDedup(d,
        urlCol = ctx.variables.getOrElse("GRAFT_URL_COL", "url"),
        idCol = idCol(ctx))),
    step("graft_gopher_filter")((ctx, d) =>
      TextOps.gopherKeep(d, idCol = idCol(ctx), textCol = textCol(ctx))),
    step("graft_dsir_select")((ctx, d) =>
      Dsir.dsirSelect(d,
        d.sparkSession.table(ctx.variables.getOrElse("GRAFT_TARGET_VIEW",
          throw new graft.config.ConfigException(
            "graft_dsir_select requires the GRAFT_TARGET_VIEW variable"))),
        k = ctx.variables.getOrElse("GRAFT_TOP_K", "1000").toInt,
        idCol = idCol(ctx), textCol = textCol(ctx))),
    // the in-engine tokenizers as steps: add a piece-array column
    // (GRAFT_TOKENS_COL, default "tokens") from the persisted model at
    // GRAFT_BPE_MODEL / GRAFT_UNIGRAM_MODEL — model parameters travel
    // with the artifact (merge ranks / max_piece_len), so the step
    // needs only the path
    step("graft_bpe_tokenize")((ctx, d) =>
      d.withColumn(tokensCol(ctx),
        Bpe.tokens(org.apache.spark.sql.functions.col(textCol(ctx)),
          Bpe.loadMerges(Parquet.read(d.sparkSession, 
            ctx.variables.getOrElse("GRAFT_BPE_MODEL",
              throw new graft.config.ConfigException(
                "graft_bpe_tokenize requires the GRAFT_BPE_MODEL variable (model parquet path)"))))))),
    step("graft_unigram_tokenize")((ctx, d) =>
      d.withColumn(tokensCol(ctx),
        UnigramLm.tokens(org.apache.spark.sql.functions.col(textCol(ctx)),
          UnigramLm.loadModel(Parquet.read(d.sparkSession, 
            ctx.variables.getOrElse("GRAFT_UNIGRAM_MODEL",
              throw new graft.config.ConfigException(
                "graft_unigram_tokenize requires the GRAFT_UNIGRAM_MODEL variable (model parquet path)"))))))),
    // sequence packing as a step, completing the SQL-only tokenize→pack
    // chain: shard columns from GRAFT_SHARD_COLS (comma-separated),
    // capacity from GRAFT_PACK_CAPACITY, and the per-doc token count
    // from the GRAFT_TOKEN_COUNT_COL column when set (e.g. a
    // size(graft_unigram_tokens(...)) a prior SQL step computed) —
    // whitespace counting otherwise
    // publisher opt-out (q142/q147's rule as a step): drop rows whose
    // raw-HTML column carries <meta name="robots"> noindex — run
    // beside graft_url_filter, BEFORE any dedup claims URL keys
    step("graft_robots_filter")((ctx, d) =>
      d.where(!graft.ext.Html.robotsNoindex(
        org.apache.spark.sql.functions.col(
          ctx.variables.getOrElse("GRAFT_HTML_COL", "html"))))),
    // link-graph quality prior (q140's cut as a step): keep rows whose
    // URL host at least GRAFT_MIN_IN_HOSTS distinct hosts link to, per
    // the edge frame registered at GRAFT_EDGES_VIEW (a persisted
    // hostEdges artifact — typically the PREVIOUS crawl snapshot's
    // graph, the GRAFT_BENCH_VIEW convention)
    step("graft_host_prior")((ctx, d) =>
      graft.ext.LinkGraph.hostPriorKeep(stripCutAudit(d),
        d.sparkSession.table(ctx.variables.getOrElse("GRAFT_EDGES_VIEW",
          throw new graft.config.ConfigException(
            "graft_host_prior requires the GRAFT_EDGES_VIEW variable"))),
        minInHosts = ctx.variables.getOrElse("GRAFT_MIN_IN_HOSTS", "2").toLong,
        urlCol = ctx.variables.getOrElse("GRAFT_URL_COL", "url"))),
    // seeded epoch order (q139 as a step): add shard + within-shard
    // seq columns; a new GRAFT_EPOCH_SEED is a fresh permutation
    step("graft_training_order")((ctx, d) =>
      Export.trainingOrder(d,
        nShards = ctx.variables.getOrElse("GRAFT_NSHARDS", "64").toInt,
        seed = ctx.variables.getOrElse("GRAFT_EPOCH_SEED", "graft"),
        idCol = idCol(ctx))),
    // persisted-rank page cut (q148 as a step): keep rows whose URL
    // host clears the threshold in the rank snapshot at GRAFT_RANK_DIR
    // (a writeRankSnapshot artifact from a previous crawl — the
    // production prior). Threshold: GRAFT_MIN_RANK when set, else
    // GRAFT_RANK_FLOOR_MULTIPLE (default 1.5) × the snapshot's LANDED
    // un-endorsed floor (1-d)/n — no count scan, no hand-carried n
    // GRAFT_PSL_DIR (a writePslSnapshot artifact) switches the page
    // fold to the FULL-PSL registered-domain grain — the landed lookup
    // is PROBED, never recomputed per run; the rank artifact must have
    // been built at the same grain (domainEdgesByLookup edges)
    step("graft_rank_keep")((ctx, d) => {
      val dir = ctx.variables.getOrElse("GRAFT_RANK_DIR",
        throw new graft.config.ConfigException(
          "graft_rank_keep requires the GRAFT_RANK_DIR variable (rank snapshot path)"))
      val minRank = ctx.variables.get("GRAFT_MIN_RANK").map(_.toDouble)
        .getOrElse(
          ctx.variables.getOrElse("GRAFT_RANK_FLOOR_MULTIPLE", "1.5").toDouble *
            graft.ext.LinkGraph.rankSnapshotMeta(d.sparkSession, dir).floor)
      val urlCol = ctx.variables.getOrElse("GRAFT_URL_COL", "url")
      ctx.variables.get("GRAFT_PSL_DIR") match {
        case Some(psl) => graft.ext.LinkGraph.hostRankKeepByLookup(
          stripCutAudit(d),
          graft.ext.LinkGraph.rankSnapshot(d.sparkSession, dir),
          minRank = minRank,
          lookup = graft.ext.LinkGraph.pslSnapshot(d.sparkSession, psl),
          urlCol = urlCol)
        case None => graft.ext.LinkGraph.hostRankKeep(stripCutAudit(d),
          graft.ext.LinkGraph.rankSnapshot(d.sparkSession, dir),
          minRank = minRank, urlCol = urlCol)
      }
    }),
    // anchor-keyword host block (q149's cut as a step): drop rows
    // whose host's inbound-anchor keyword rate (per the anchor-profile
    // view at GRAFT_ANCHORS_VIEW, a q141 artifact) reaches
    // GRAFT_MAX_KW_RATE for the comma-separated GRAFT_KEYWORDS
    step("graft_anchor_filter")((ctx, d) => {
      val anchors = d.sparkSession.table(
        ctx.variables.getOrElse("GRAFT_ANCHORS_VIEW",
          throw new graft.config.ConfigException(
            "graft_anchor_filter requires the GRAFT_ANCHORS_VIEW variable")))
      val keywords = ctx.variables.getOrElse("GRAFT_KEYWORDS",
        throw new graft.config.ConfigException(
          "graft_anchor_filter requires the GRAFT_KEYWORDS variable"))
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val maxRate = ctx.variables.getOrElse("GRAFT_MAX_KW_RATE", "0.5").toDouble
      val urlCol = ctx.variables.getOrElse("GRAFT_URL_COL", "url")
      ctx.variables.get("GRAFT_PSL_DIR") match {
        case Some(psl) => graft.ext.LinkGraph.anchorKeywordKeepByLookup(
          stripCutAudit(d), anchors, keywords, maxRate,
          lookup = graft.ext.LinkGraph.pslSnapshot(d.sparkSession, psl),
          urlCol = urlCol)
        case None => graft.ext.LinkGraph.anchorKeywordKeep(stripCutAudit(d),
          anchors, keywords, maxRate, urlCol = urlCol)
      }
    }),
    // canonical-aware URL dedup (q150 as a step): key on the declared
    // <link rel="canonical"> when absolute, the fetch URL otherwise
    step("graft_canonical_url_dedup")((ctx, d) =>
      Dedup.urlDedup(
        d.withColumn("__durl", graft.ext.Html.declaredCanonicalOr(
          org.apache.spark.sql.functions.col(
            ctx.variables.getOrElse("GRAFT_URL_COL", "url")),
          org.apache.spark.sql.functions.col(
            ctx.variables.getOrElse("GRAFT_HTML_COL", "html")))),
        urlCol = "__durl", idCol = idCol(ctx)).drop("__durl")),
    // CJK-safe segmentation (q151's router as a step): re-space
    // spaceless-script rows per GRAFT_LANG_COL so every downstream
    // whitespace consumer (packing, shingles, Gopher) segments
    step("graft_cjk_segment")((ctx, d) =>
      d.withColumn(textCol(ctx), TextOps.cjkSegmentText(
        org.apache.spark.sql.functions.col(textCol(ctx)),
        org.apache.spark.sql.functions.col(
          ctx.variables.getOrElse("GRAFT_LANG_COL", "lang"))))),
    // GRAFT_SUB_SHARDS > 1 packs per-shard md5 LANES (q157): the
    // scale escape when the shard key is too coarse for the window
    step("graft_pack_sequences")((ctx, d) =>
      TextOps.packSequences(d,
        capacity = ctx.variables.getOrElse("GRAFT_PACK_CAPACITY", "2048").toInt,
        shardCols = ctx.variables.get("GRAFT_SHARD_COLS")
          .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
        idCol = idCol(ctx), textCol = textCol(ctx),
        tokenCount = ctx.variables.get("GRAFT_TOKEN_COUNT_COL")
          .map(org.apache.spark.sql.functions.col),
        subShards = ctx.variables.getOrElse("GRAFT_SUB_SHARDS", "1").toInt)),
    // full-PSL registered-domain fold (q159 as a step): attach a
    // `domain` column from the exact publicsuffix.org algorithm over
    // the rules view at GRAFT_PSL_RULES_VIEW (one raw PSL line per
    // row in a `rule` column) — the lookup is host-cardinality and
    // broadcasts back into the view
    // GRAFT_PSL_DIR (a writePslSnapshot artifact) PROBES the landed
    // lookup instead of recomputing the fold from GRAFT_PSL_RULES_VIEW
    // each run — the build-once/probe-forever face; hosts absent from
    // the snapshot raise in-plan (roll it forward at ingest)
    step("graft_psl_domain")((ctx, d) => {
      val urlC = org.apache.spark.sql.functions.col(
        ctx.variables.getOrElse("GRAFT_URL_COL", "url"))
      require(!d.columns.contains("domain") && !d.columns.contains("host"),
        "graft_psl_domain: input already carries domain/host — rename or " +
          "drop (the step OWNS these columns)")
      ctx.variables.get("GRAFT_PSL_DIR") match {
        case Some(psl) =>
          graft.ext.LinkGraph.withPslDomain(
            d.withColumn("host", graft.ext.LinkGraph.hostOf(urlC)),
            graft.ext.LinkGraph.pslSnapshot(d.sparkSession, psl),
            urlCol = ctx.variables.getOrElse("GRAFT_URL_COL", "url"))
        case None =>
          val hosted = d.withColumn("host", graft.ext.LinkGraph.hostOf(urlC))
          val table = graft.ext.LinkGraph.pslDomainTable(
            hosted.select("host"),
            d.sparkSession.table(ctx.variables.getOrElse("GRAFT_PSL_RULES_VIEW",
              throw new graft.config.ConfigException(
                "graft_psl_domain requires the GRAFT_PSL_RULES_VIEW variable " +
                  "(a view with one raw PSL line per row in a 'rule' column) " +
                  "or GRAFT_PSL_DIR (a landed writePslSnapshot artifact)"))))
          hosted.join(
            org.apache.spark.sql.functions.broadcast(table), Seq("host"), "left")
      }
    }),
    // epoch materialization (q156 as a step): repeat each row per its
    // group's epochPlan count — GRAFT_MIX_WEIGHTS is 'key:weight,...'
    // (the mixture design), GRAFT_TOKEN_BUDGET the total token target
    step("graft_epoch_materialize")((ctx, d) =>
      graft.ext.Sampling.materializeEpochs(d,
        weights = ctx.variables.getOrElse("GRAFT_MIX_WEIGHTS",
          throw new graft.config.ConfigException(
            "graft_epoch_materialize requires the GRAFT_MIX_WEIGHTS variable " +
              "('key:weight,key:weight,...')"))
          .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          .map { kv =>
            val i = kv.lastIndexOf(':')
            require(i > 0 && i < kv.length - 1, s"malformed weight '$kv'")
            kv.substring(0, i) -> kv.substring(i + 1).toDouble
          }.toMap,
        tokenBudget = ctx.variables.getOrElse("GRAFT_TOKEN_BUDGET",
          throw new graft.config.ConfigException(
            "graft_epoch_materialize requires the GRAFT_TOKEN_BUDGET variable"))
          .toLong,
        keyCol = ctx.variables.getOrElse("GRAFT_MIX_KEY", "source"),
        textCol = textCol(ctx), idCol = idCol(ctx),
        maxEpochs = ctx.variables.getOrElse("GRAFT_MAX_EPOCHS", "1000").toInt)))

  private def tokensCol(ctx: EtlContext): String =
    ctx.variables.getOrElse("GRAFT_TOKENS_COL", "tokens")
}
