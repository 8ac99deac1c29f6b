package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Parquet

/** Host-level link graph — the crawl-curation stage the URL/content
  * filters don't cover: WHO LINKS WHOM. Common Crawl publishes exactly
  * this artifact (the host/domain "webgraph") and the big curation
  * recipes use link-based host centrality as a quality prior next to
  * the URL blocklist (a host nobody links to is far more likely spam
  * than one half the web points at).
  *
  * Three operators, each a stage of that recipe:
  *  - [[hostEdges]]   — pages (url, html) → the (src_host, dst_host)
  *    edge list with link/page weights. Extraction is row-local
  *    codegen regex riding the ingest scan (the [[Html.htmlLinks]] /
  *    q127 discipline); the only shuffle is ONE map-side-combinable
  *    aggregation keyed on the host PAIR — host-cardinality², in
  *    practice ≪ page count (the 100 TB page scan reduces to a
  *    graph frame measured in GBs).
  *  - [[hostDegrees]] — per-host in/out fan from the edge frame (two
  *    small aggs + one outer join, all host-cardinality).
  *  - [[hostRank]]    — fixed-iteration PageRank over the distinct
  *    host edges (Page et al. 1999, the simplified iteration:
  *    dangling mass is dropped, not redistributed — scores are a
  *    RANKING signal, not a probability; documented departure).
  *
  * Cross-engine determinism (the repo's exact-oracle rule): PageRank
  * is +,*,/ on doubles — no libm — so bit-exact replay only needs a
  * deterministic ADDITION ORDER. Per-node contribution sums run as a
  * sorted-ascending sequential fold (`aggregate(sort_array(...))`
  * here, `list_reduce(list_sort(...))` in DuckDB), the same trick the
  * LM-perplexity family uses for its per-doc folds. The price is a
  * collect_list bounded by per-host IN-DEGREE (host grain, not page
  * grain); for graphs with extreme hubs (millions of distinct
  * in-hosts) pass `sortedFold = false` to use a plain `sum` — order-
  * free shuffle-partial addition, no longer bit-replayable across
  * engines, same ranking to ~1 ulp per round.
  *
  * Reference scope note: the reference framework (airflow_etl.py)
  * has no crawl/graph surface at all — this family is part of the
  * beyond-reference LLM-pipeline extension (SURVEY §2c).
  */
object LinkGraph {

  /** Lowercased, `www.`-stripped, port-free host of a URL column —
    * the [[TextOps.canonicalUrlKey]] host rule, shared so the graph's
    * node ids collapse exactly like the URL-dedup keys ("" when the
    * value has no `//` authority, e.g. relative links / mailto:).
    */
  def hostOf(url: Column): Column = regexp_replace(
    lower(regexp_extract(url, "^[^/]*//([^/:?#]+)", 1)), "^www\\.", "")

  /** [[hostOf]] as a DuckDB SQL expression over `expr` (oracle replay;
    * same constants).
    */
  def hostOfOracleSqlExpr(expr: String): String =
    s"regexp_replace(lower(regexp_extract($expr, '^[^/]*//([^/:?#]+)', 1)), " +
      "'^www\\.', '')"

  /** The host-level edge list of a page corpus:
    * `(src_host, dst_host, n_links, n_pages)` — one row per ordered
    * host pair, `n_links` = href occurrences, `n_pages` = distinct
    * linking pages. Self-edges (intra-host navigation — the vast
    * majority of raw hrefs) and host-less links (relative paths,
    * mailto:, fragments) are dropped: the graph captures the
    * ENDORSEMENT structure, which is inter-host by definition.
    *
    * Scale shape: href extraction + host folding are row-local
    * codegen regex over the scan (no UDF); the explode multiplies
    * rows by links-per-page (bounded, ~tens) BEFORE the one hash
    * aggregation on (src_host, dst_host) with map-side partial
    * combine — the shuffle carries one row per distinct host pair
    * per map partition, never per href. Page payloads never shuffle.
    */
  def hostEdges(pages: DataFrame, urlCol: String = "url",
                htmlCol: String = "html",
                idCol: String = "doc_id"): DataFrame =
    edgesBy(pages, hostOf, urlCol, htmlCol, idCol)

  /** Registered-domain fold (eTLD+1, simplified): the last two labels
    * of the [[hostOf]] host, or three when the tail matches a
    * well-known multi-label public suffix (`co.uk`-style,
    * [[MultiLabelSuffixes]]). Real pipelines consult the full Public
    * Suffix List (thousands of entries, updated continuously); the
    * short list here covers the common country-commercial suffixes so
    * the aggregation grain is right for the overwhelming majority of
    * hosts, and the list is a PARAMETER for callers carrying the full
    * PSL. Hosts with fewer labels than the fold (bare `localhost`,
    * already-registered domains) pass through whole; "" stays "".
    */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "com.tw", "com.sg", "co.za", "com.ar", "com.tr", "co.nz")
  def domainOfHost(host: Column,
                   multiLabelSuffixes: Seq[String] = MultiLabelSuffixes): Column = {
    require(multiLabelSuffixes.nonEmpty, "domainOfHost: empty suffix list")
    // the fold references its host ~25× (21 suffix arms + the label
    // split + both CASE branches); binding it to a lambda variable via
    // a one-element `transform` evaluates the host expression ONCE per
    // call — otherwise composing over hostOf (2 regexes + lower)
    // inlines the regex work per reference, and filter pushdown then
    // multiplies the whole inlined tree again (q154's plan carried
    // ~50 regexp evaluations per link row; conditional CASE arms sit
    // outside codegen's common-subexpression elimination, so the
    // optimizer never deduplicates them).
    element_at(transform(array(host), h => {
      val labels = split(h, "\\.")
      val n = size(labels)
      val k = when(multiLabelSuffixes
        .map(sfx => h.endsWith("." + sfx)).reduce(_ || _), lit(3))
        .otherwise(lit(2))
      when(n <= k, h)
        .otherwise(array_join(slice(labels, n - k + 1, k), "."))
    }), 1)
  }
  def domainOf(url: Column): Column = domainOfHost(hostOf(url))

  /** [[domainOf]] as a DuckDB SQL expression over a URL expr (same
    * constants; list_slice/string_split mirror Spark's slice/split).
    */
  def domainOfOracleSqlExpr(urlExpr: String): String = {
    val h = hostOfOracleSqlExpr(urlExpr)
    val suffixTest = MultiLabelSuffixes
      .map(sfx => s"ends_with($h, '.$sfx')").mkString(" OR ")
    s"(CASE WHEN len(string_split($h, '.')) <= " +
      s"(CASE WHEN $suffixTest THEN 3 ELSE 2 END) THEN $h " +
      s"ELSE array_to_string(list_slice(string_split($h, '.'), " +
      s"len(string_split($h, '.')) - (CASE WHEN $suffixTest THEN 3 ELSE 2 END) + 1, " +
      s"len(string_split($h, '.'))), '.') END)"
  }

  /** Registered-domain LOOKUP TABLE from a FULL public-suffix list —
    * the exact publicsuffix.org algorithm, for callers carrying the
    * complete published list (a public artifact, ~15k rules) instead
    * of the bundled [[MultiLabelSuffixes]] battery. `rules` is a
    * one-string-column frame of raw PSL lines: comments (`//…`) and
    * blanks skip; `!exception` rules beat `*.wildcard` and plain
    * rules; otherwise the LONGEST matching rule wins; the registered
    * domain is the winning public suffix plus one label (an exception
    * rule's body IS registrable); no rule matches → the implicit `*`
    * default (public suffix = the last label). A host that is itself
    * a public suffix passes through whole ([[domainOfHost]]'s
    * posture); "" never enters (filtered).
    *
    * Returns `(host, domain)` over the DISTINCT input hosts — a
    * host-cardinality table the caller broadcast-joins into page
    * frames (the rank-snapshot consumption shape; the page corpus
    * never shuffles for the fold). Scale shape: each distinct host
    * explodes into label-suffix candidates bounded by the rules' own
    * MAX KEY LABEL COUNT (derived — one model-sized aggregate over
    * the parsed rules, so a rule longer than any fixed guess can
    * never silently stop matching), equi-joins the BROADCAST parsed
    * rule table, and one max-by-(exception, length) election per host
    * picks the winner — rule list MBs, work ∝ distinct hosts.
    * `maxRuleLabels` is a runaway CAP, not the bound: a corrupt rules
    * file whose longest key exceeds it RAISES naming both numbers
    * (the real PSL carries 5-label keys; default 10 leaves headroom)
    * instead of exploding every host that wide.
    */
  def pslDomainTable(hosts: DataFrame, rules: DataFrame,
                     hostCol: String = "host",
                     ruleCol: String = "rule",
                     maxRuleLabels: Int = 10,
                     mat: CurationChain.StageMaterializer =
                       CurationChain.LocalCheckpointMaterializer): DataFrame = {
    require(maxRuleLabels >= 1, "pslDomainTable: maxRuleLabels must be >= 1")
    val parsed = rules.select(trim(col(ruleCol)).as("__r"))
      .where(col("__r") =!= "" && !col("__r").startsWith("//"))
      .select(
        when(col("__r").startsWith("!"), lit(1)).otherwise(lit(0)).as("__exc"),
        when(col("__r").startsWith("!"), expr("substring(__r, 2)"))
          .when(col("__r").startsWith("*."), expr("substring(__r, 3)"))
          .otherwise(col("__r")).as("__key"),
        // the public-suffix label count each rule yields on a match:
        // plain = its own labels; wildcard = one more (the '*' label);
        // exception = one fewer (the exception body is ps + 1 already)
        when(col("__r").startsWith("!"),
          size(split(expr("substring(__r, 2)"), "\\.")) - 1)
          .when(col("__r").startsWith("*."),
            size(split(expr("substring(__r, 3)"), "\\.")) + 1)
          .otherwise(size(split(col("__r"), "\\."))).as("__pslab"))
    // the candidate bound DERIVES from the rules (one bounded 1-row
    // aggregate — the bounded-collect pattern): a rule key longer than
    // any fixed default can never silently stop matching, and the
    // explode is exactly as wide as the longest key needs
    val kRow = parsed.agg(max(size(split(col("__key"), "\\.")))).collect()(0)
    val derivedK = if (kRow.isNullAt(0)) 1 else math.max(kRow.getInt(0), 1)
    require(derivedK <= maxRuleLabels,
      s"pslDomainTable: the parsed rules carry a $derivedK-label key but " +
        s"maxRuleLabels=$maxRuleLabels — a corrupt rules file is the thing " +
        "this cap catches; raise the bound deliberately if the list is real")
    // the distinct-host frame materializes ONCE (the q136 boundary
    // discipline): it appears on two plan branches below (candidate
    // explode + the final left join), and without the cut each branch
    // would re-run the host derivation — which, fed from pslLookupFor,
    // re-SCANS the page corpus per branch. Host-cardinality, narrow.
    // HOW it materializes goes through the injectable seam (the CcNet
    // discipline): the default eager localCheckpoint is the right
    // single-host trade, a dynamic-allocation deployment passes
    // [[CurationChain.DurableMaterializer]] for a replicated landing.
    val h = mat("psl_hosts")(hosts.select(col(hostCol).as("host"))
      .where(col("host").isNotNull && col("host") =!= "").distinct()
      .withColumn("__labels", split(col("host"), "\\."))
      .withColumn("__n", size(col("__labels"))))
    val cand = h.select(col("host"), col("__labels"), col("__n"),
        explode(sequence(lit(1), least(col("__n"), lit(derivedK))))
          .as("__k"))
      .withColumn("__key", array_join(
        slice(col("__labels"), col("__n") - col("__k") + 1, col("__k")), "."))
    // election: exception first, then longest public suffix — ties are
    // harmless (identical __pslab ⇒ identical domain)
    val best = cand.join(broadcast(parsed), Seq("__key"))
      .groupBy("host")
      .agg(max(struct(col("__exc"), col("__pslab"))).as("__w"))
      .select(col("host"), col("__w").getField("__pslab").as("__pslab"))
    h.join(best, Seq("host"), "left")
      .withColumn("__dlab",
        least(coalesce(col("__pslab"), lit(1)) + 1, col("__n")))
      .select(col("host"), array_join(
        slice(col("__labels"), col("__n") - col("__dlab") + 1, col("__dlab")),
        ".").as("domain"))
  }

  /** Order-insensitive digest of a PSL rules frame: XOR of a 60-bit
    * md5 over the EFFECTIVE lines (trimmed; comments and blanks out).
    * Rule ORDER never affects the fold — the election is by
    * (exception, length) — so reordering the published file is not
    * drift; adding, removing, or editing any effective rule is.
    * One bounded 1-row aggregate (rule lists are ~15k lines).
    */
  def pslRulesDigest(rules: DataFrame, ruleCol: String = "rule"): Long = {
    // distinct before hashing: an XOR fold cancels pairwise, so a file
    // carrying an even number of copies of a rule would digest as if
    // the rule were absent — and duplicates never change the
    // (exception, length) election, so distinct keeps the
    // order-insensitive property while closing the cancellation hole
    val eff = rules.select(trim(col(ruleCol)).as("__r"))
      .where(col("__r") =!= "" && !col("__r").startsWith("//"))
      .distinct()
      .select(Export.md5Long60(col("__r")).as("__h"))
    val r = eff.agg(coalesce(expr("bit_xor(__h)"), lit(0L))).collect()(0)
    r.getLong(0)
  }

  /** The full-PSL fold attached as a column — the LOOKUP-TABLE face of
    * the family's `nodeOf: Column => Column` seam, for the grain a
    * row-local expression cannot compute ([[pslDomainTable]]'s exact
    * publicsuffix.org election). `lookup` is a `(host, domain)` frame
    * (a [[pslDomainTable]] result or a [[pslSnapshot]] probe) that
    * BROADCASTS into `df`; the fold key is [[hostOf]] of `urlCol`, so
    * lookup tables built from the same fold cover by construction
    * ([[pslLookupFor]]). A host ABSENT from the lookup RAISES in-plan
    * naming it — silently falling back to a different fold would mix
    * two grains in one frame (the failure the rank snapshot's drift
    * guard exists for, at the node-id level); roll the snapshot
    * forward ([[rollForwardPsl]]) or build the lookup over this
    * frame's hosts instead. URL-less rows ("" host) keep "" — the
    * [[hostOf]] posture.
    */
  def withPslDomain(df: DataFrame, lookup: DataFrame,
                    urlCol: String = "url",
                    outCol: String = "domain"): DataFrame = {
    require(!df.columns.contains(outCol),
      s"withPslDomain: input already carries '$outCol' — rename or drop " +
        "(the fold OWNS this column)")
    foldHost(df.withColumn("__graft_ph", hostOf(col(urlCol))),
      "__graft_ph", lookup, outCol)
  }

  /** Broadcast-join fold of `hostCol` through a `(host, domain)`
    * lookup into `outCol`, dropping `hostCol`: "" folds to "" and an
    * unknown host raises in-plan (see [[withPslDomain]]).
    */
  private def foldHost(df: DataFrame, hostCol: String, lookup: DataFrame,
                       outCol: String): DataFrame = {
    val hc = s"__graft_${outCol}_h"
    val dc = s"__graft_${outCol}_d"
    val l = broadcast(lookup.select(col("host").as(hc), col("domain").as(dc)))
    // a NULL host (null url through hostOf) keeps the "" posture too:
    // without the arm it would skip the '' branch, miss the lookup
    // join, and fire the absent-host raise with a null-propagated
    // message — an unnamed crash where the host-grain cuts silently
    // dropped such rows
    df.join(l, col(hostCol) === col(hc), "left")
      .withColumn(outCol,
        when(col(hostCol).isNull || col(hostCol) === "", lit(""))
          .when(col(dc).isNull, raise_error(concat(
            lit("LinkGraph: host '"), col(hostCol),
            lit("' is absent from the PSL lookup — build the lookup over " +
              "this frame's hosts (pslLookupFor) or roll the snapshot " +
              "forward (rollForwardPsl); a silent fallback would mix two " +
              "node grains in one frame"))))
          .otherwise(col(dc)))
      .drop(hc, dc, hostCol)
  }

  /** The COMPLETE lookup for a page frame: [[pslDomainTable]] over the
    * frame's URL hosts plus (when `htmlCol` is given) every href host
    * its pages link to — the host universe [[domainEdgesPsl]] and the
    * ByLookup cuts touch, so the in-plan absent-host raise can never
    * fire on the standard composition. Work ∝ distinct hosts.
    */
  def pslLookupFor(pages: DataFrame, rules: DataFrame,
                   urlCol: String = "url",
                   htmlCol: Option[String] = None,
                   ruleCol: String = "rule",
                   maxRuleLabels: Int = 10,
                   mat: CurationChain.StageMaterializer =
                     CurationChain.LocalCheckpointMaterializer): DataFrame = {
    val urlHosts = pages.select(hostOf(col(urlCol)).as("host"))
    val all = htmlCol.fold(urlHosts) { h =>
      urlHosts.unionByName(
        pages.select(explode(Html.htmlLinks(col(h))).as("__href"))
          .select(hostOf(col("__href")).as("host")))
    }
    pslDomainTable(all, rules, "host", ruleCol, maxRuleLabels, mat)
  }

  /** The DOMAIN-grain edge list — [[hostEdges]] with nodes folded to
    * registered domains ([[domainOf]]): the grain Common Crawl's
    * domain webgraph publishes, and the right one for endorsement
    * analysis when subdomain farms would inflate host-grain
    * in-degrees (blog.x.com, shop.x.com, www.x.com are ONE voice).
    * Self-edges at DOMAIN grain drop — cross-subdomain navigation
    * inside one registered domain is not endorsement. Same scale
    * shape as [[hostEdges]]; consumers ([[hostDegrees]], [[hostRank]],
    * the snapshot family) take either grain's frame unchanged.
    */
  def domainEdges(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html",
                  idCol: String = "doc_id"): DataFrame =
    edgesBy(pages, domainOf, urlCol, htmlCol, idCol)

  /** The edge list at the FULL-PSL registered-domain grain — the
    * lookup-table face of [[domainEdges]], for callers carrying the
    * complete published suffix list: both endpoints fold through a
    * broadcast `(host, domain)` lookup ([[pslDomainTable]]), so a
    * subdomain farm collapses under the exact `*.wildcard` /
    * `!exception` election the 21-suffix battery cannot express.
    * Same output contract as [[hostEdges]]/[[domainEdges]]
    * (`src_host, dst_host, n_links, n_pages`; self-edges at the
    * FOLDED grain drop), so every consumer — [[hostDegrees]],
    * [[hostRank]], the snapshot family, the cut family — takes the
    * frame unchanged. A host absent from the lookup raises in-plan
    * ([[withPslDomain]]); "" hosts (relative/mailto links) drop as in
    * [[edgesBy]]. Scale shape: identical to [[hostEdges]] plus two
    * broadcast joins on the distinct-host-cardinality lookup — page
    * payloads still never shuffle.
    */
  def domainEdgesByLookup(pages: DataFrame, lookup: DataFrame,
                          urlCol: String = "url", htmlCol: String = "html",
                          idCol: String = "doc_id"): DataFrame =
    foldRawEdges(rawHostEdges(pages, urlCol, htmlCol, idCol), lookup, idCol)

  /** The un-folded `(id, __srch, __dsth)` link rows shared by
    * [[domainEdgesByLookup]] (which derives them from the pages) and
    * [[domainEdgesPsl]] (which materializes them once so the lookup
    * build does not re-explode the corpus HTML).
    */
  private def rawHostEdges(pages: DataFrame, urlCol: String,
                           htmlCol: String, idCol: String): DataFrame =
    pages
      .select(col(idCol),
        hostOf(col(urlCol)).as("__srch"),
        explode(Html.htmlLinks(col(htmlCol))).as("__href"))
      .select(col(idCol), col("__srch"), hostOf(col("__href")).as("__dsth"))
      .where(col("__srch") =!= "" && col("__dsth") =!= "")

  /** [[domainEdgesByLookup]]'s fold + aggregate tail over raw rows. */
  private def foldRawEdges(raw: DataFrame, lookup: DataFrame,
                           idCol: String): DataFrame =
    foldHost(foldHost(raw, "__srch", lookup, "__src"),
      "__dsth", lookup, "__dst")
      .where(col("__src") =!= col("__dst"))
      .groupBy(col("__src").as("src_host"), col("__dst").as("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col(idCol)).as("n_pages"))

  /** [[domainEdgesByLookup]] with the lookup built in from raw PSL
    * rules ([[pslLookupFor]] covers url + href hosts, so the
    * absent-host raise cannot fire) — the one-call face.
    */
  def domainEdgesPsl(pages: DataFrame, rules: DataFrame,
                     urlCol: String = "url", htmlCol: String = "html",
                     idCol: String = "doc_id",
                     ruleCol: String = "rule",
                     mat: CurationChain.StageMaterializer =
                       CurationChain.LocalCheckpointMaterializer): DataFrame = {
    // the raw link rows materialize FIRST: the lookup build and the
    // fold both need the corpus's hosts, and deriving the lookup from
    // the cut raw frame (instead of pslLookupFor's second pass over
    // the pages) halves the HTML link explosions — the lookup only has
    // to cover hosts the fold will actually see, and raw's host set is
    // exactly that, so the fold (and the absent-host raise posture)
    // is unchanged. The lookup then materializes at the composition
    // boundary: both endpoint folds broadcast it, and without the cut
    // each broadcast exchange re-runs the whole election lineage
    // (host-cardinality, two narrow columns — the cheapest possible
    // cut); the HOW rides the same injectable seam pslDomainTable uses
    val raw = mat("psl_raw_edges")(
      rawHostEdges(pages, urlCol, htmlCol, idCol))
    val hosts = raw.select(col("__srch").as("host"))
      .unionByName(raw.select(col("__dsth").as("host")))
    foldRawEdges(raw,
      mat("psl_lookup")(
        pslDomainTable(hosts, rules, "host", ruleCol, 10, mat)),
      idCol)
  }

  private def edgesBy(pages: DataFrame, nodeOf: Column => Column,
                      urlCol: String, htmlCol: String,
                      idCol: String): DataFrame =
    pages
      .select(col(idCol),
        nodeOf(col(urlCol)).as("__src"),
        explode(Html.htmlLinks(col(htmlCol))).as("__href"))
      .select(col(idCol), col("__src"),
        nodeOf(col("__href")).as("__dst"))
      .where(col("__src") =!= "" && col("__dst") =!= "" &&
        col("__src") =!= col("__dst"))
      .groupBy(col("__src").as("src_host"), col("__dst").as("dst_host"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col(idCol)).as("n_pages"))

  /** Anchor-text profile per TARGET host:
    * `(dst_host, anchor, n_links, n_hosts)` — how the rest of the web
    * DESCRIBES each host, the classic link-text relevance signal
    * (anchor text describes the target better than the target's own
    * page — the web-search insight, reused by curation pipelines as
    * target-side quality/topic evidence no content filter can see).
    * Inter-host anchors only (intra-host navigation text — "home",
    * "next page" — is noise for this purpose) and empty-text anchors
    * (image links) drop.
    *
    * Scale shape: element extraction + text normalization are
    * row-local codegen regex riding the scan ([[hostEdges]]'
    * discipline); ONE map-side-combinable aggregation keyed on
    * (dst_host, anchor) — anchor phrases repeat heavily, so partials
    * collapse before the shuffle. Page payloads never shuffle.
    */
  def anchorTexts(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html",
                  idCol: String = "doc_id"): DataFrame =
    pages
      .select(col(idCol),
        hostOf(col(urlCol)).as("__src"),
        explode(Html.htmlAnchorElements(col(htmlCol))).as("__a"))
      .select(col(idCol), col("__src"),
        hostOf(Html.anchorHref(col("__a"))).as("__dst"),
        Html.anchorText(col("__a")).as("anchor"))
      .where(col("__src") =!= "" && col("__dst") =!= "" &&
        col("__src") =!= col("__dst") && col("anchor") =!= "")
      .groupBy(col("__dst").as("dst_host"), col("anchor"))
      .agg(count(lit(1)).as("n_links"),
        count_distinct(col("__src")).as("n_hosts"))
      // ONE exchange (the distinct-count's two-phase expand reuses it);
      // deriving via [[anchorEdges]] → [[anchorTextsFromEdges]] lands
      // the identical rows (LinkGraphSpec pins it) at one extra
      // exchange — the snapshot path pays that at BUILD time because
      // it needs the src grain for exact roll-forward; the one-shot
      // profile consumers (q141/q149/q152/q153) should not

  /** The SRC-grain anchor frame:
    * `(src_host, dst_host, anchor, n_links)` — one row per (linking
    * host, target host, normalized anchor phrase). This is the
    * snapshot family's ROLL-FORWARD grain: `n_links` is additive
    * across crawls (each page counted in exactly one), while the
    * profile's `n_hosts` is a count-DISTINCT and therefore NOT —
    * advancing a snapshot must sum edges and re-derive the profile,
    * never add profiles ([[rollForwardAnchors]]). Same scale shape as
    * [[hostEdges]]: row-local extraction, one map-side-combinable
    * aggregation.
    */
  def anchorEdges(pages: DataFrame, urlCol: String = "url",
                  htmlCol: String = "html",
                  idCol: String = "doc_id"): DataFrame =
    pages
      .select(col(idCol),
        hostOf(col(urlCol)).as("__src"),
        explode(Html.htmlAnchorElements(col(htmlCol))).as("__a"))
      .select(col(idCol), col("__src"),
        hostOf(Html.anchorHref(col("__a"))).as("__dst"),
        Html.anchorText(col("__a")).as("anchor"))
      .where(col("__src") =!= "" && col("__dst") =!= "" &&
        col("__src") =!= col("__dst") && col("anchor") =!= "")
      .groupBy(col("__src").as("src_host"), col("__dst").as("dst_host"),
        col("anchor"))
      .agg(count(lit(1)).as("n_links"))

  /** The per-target profile derived from [[anchorEdges]] — identical
    * output to aggregating the pages directly (sums of counts; the
    * distinct-src count sees each (src, dst, anchor) once either way).
    */
  def anchorTextsFromEdges(edges: DataFrame): DataFrame =
    edges.groupBy(col("dst_host"), col("anchor"))
      .agg(sum(col("n_links")).as("n_links"),
        count_distinct(col("src_host")).as("n_hosts"))

  /** Per-host fan-in/fan-out report from an edge frame:
    * `(host, out_hosts, in_hosts, out_links, in_links)` — distinct
    * neighbor counts plus link-weighted totals, zero-filled on the
    * side a host doesn't appear on. `in_hosts` is the quality prior
    * ([[hostPriorKeep]]); `out_hosts`/`out_links` flag link farms.
    * Scale shape: two aggregations and one full outer join, all on
    * host-cardinality frames — immaterial next to the page scan that
    * built the edges.
    */
  def hostDegrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src_host").as("host"))
      .agg(count_distinct(col("dst_host")).as("out_hosts"),
        sum(col("n_links")).as("out_links"))
    val in = edges.groupBy(col("dst_host").as("host"))
      .agg(count_distinct(col("src_host")).as("in_hosts"),
        sum(col("n_links")).as("in_links"))
    out.join(in, Seq("host"), "full_outer")
      .select(col("host"),
        coalesce(col("out_hosts"), lit(0L)).as("out_hosts"),
        coalesce(col("in_hosts"), lit(0L)).as("in_hosts"),
        coalesce(col("out_links"), lit(0L)).as("out_links"),
        coalesce(col("in_links"), lit(0L)).as("in_links"))
  }

  /** Fixed-iteration PageRank over the DISTINCT host edges:
    * `(host, rank)` with
    * `rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u)/outdeg(u)`,
    * rank_0 = 1/N. Dangling hosts (no out-links) leak their mass —
    * Page et al.'s simplified iteration; ranks order hosts, they are
    * not a distribution (documented departure from the
    * stochastic-matrix formulation, which needs a global dangling-sum
    * reduction per round that buys nothing for a ranking prior).
    *
    * `iterations` is FIXED (not run-to-convergence): the result is a
    * pure function of (edges, iterations, damping) — replayable as
    * `iterations` chained CTEs in an exact oracle, and at 100 TB the
    * job count is known up front (one join + one agg per round over
    * the host-cardinality rank frame; the page corpus is long gone).
    * A handful of rounds separates spam from endorsed hosts; run ~20
    * for near-converged ranks and set `checkpointEvery` so lineage
    * stays bounded. Every cut (`rank_pairs`, `rank_nodes`,
    * `rank_weighted`, every `checkpointEvery`-th round as
    * `rank_iter_<i>`) goes through `mat`, the
    * [[CurationChain.StageMaterializer]] seam shared with
    * [[Dedup.connectedComponents]]: the default localCheckpoint for
    * single-node runs, a [[CurationChain.DurableMaterializer]] on a
    * cluster.
    *
    * `sortedFold = true` (default) makes per-node sums bit-replayable
    * across engines (see the object doc); pass false at extreme hub
    * in-degrees to fall back to shuffle-partial `sum`. The wrong
    * default is made IMPOSSIBLE, not documented: when any hub's
    * in-degree exceeds `maxSortedFoldInDegree` the operator raises
    * up front, naming the hub size and the escape — never silently
    * building an unbounded collect_list row per iteration.
    *
    * `weightedByLinks = true` splits each source host's vote by LINK
    * COUNT (`n_links / Σ n_links(src)`) instead of uniformly across
    * distinct targets — a host linking b.com 99 times and c.org once
    * endorses b.com harder. Same op tree shape (integer weights, one
    * IEEE division per edge), so the oracle replay stays bit-exact;
    * with equal weights it reduces to the unweighted iteration
    * EXACTLY (w/Σw computes the same division as 1/outdeg — pinned
    * in the spec).
    */
  def hostRank(edges: DataFrame, iterations: Int = 5,
               damping: Double = 0.85,
               sortedFold: Boolean = true,
               checkpointEvery: Int = 0,
               mat: CurationChain.StageMaterializer =
                 CurationChain.LocalCheckpointMaterializer,
               weightedByLinks: Boolean = false,
               maxSortedFoldInDegree: Long = 1000000L): DataFrame = {
    require(iterations >= 1, "hostRank: iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0,
      s"hostRank: damping must be in (0,1), got $damping")
    // the graph frames materialize ONCE ([[Dedup.connectedComponents]]'s
    // discipline): they are host-cardinality, and without this every
    // iteration's lazy plan would re-derive them — re-SCANNING the
    // page corpus behind the edge frame once per reuse (a 3-iteration
    // lazy plan carried 28 scans; materialized it carries none)
    // link weights are integer-valued doubles throughout, so every
    // weight sum is EXACT regardless of combine order (below 2^53)
    val pairs = mat("rank_pairs")(
      if (weightedByLinks)
        edges.groupBy(col("src_host").as("__src"),
          col("dst_host").as("__dst"))
          .agg(sum(col("n_links")).cast("double").as("__w"))
      else
        edges.select(col("src_host").as("__src"),
          col("dst_host").as("__dst")).distinct()
          .withColumn("__w", lit(1.0)))
    val nodes = mat("rank_nodes")(pairs.select(col("__src").as("host"))
      .union(pairs.select(col("__dst").as("host"))).distinct())
    // N collects once — a single long, the bounded-collect pattern
    // (the base term needs a literal so the oracle's constant parses
    // to the identical double)
    val n = nodes.count()
    require(n > 0, "hostRank: empty edge frame — no hosts to rank")
    if (sortedFold) {
      // the sorted fold builds one collect_list row per node, bounded
      // by that node's IN-DEGREE — fail LOUDLY on an extreme hub
      // instead of letting one unbounded row OOM an executor (the
      // maxCountDocFreq discipline, [[Dedup]]): the pairs frame is
      // host-cardinality and already materialized, so the guard agg
      // is cheap next to the iterations it protects
      val hub = pairs.groupBy(col("__dst"))
        .agg(count(lit(1)).as("__in")).agg(max(col("__in"))).collect()(0)
      val maxIn = if (hub.isNullAt(0)) 0L else hub.getLong(0)
      require(maxIn <= maxSortedFoldInDegree,
        s"hostRank: a hub host has $maxIn distinct in-hosts " +
          s"(maxSortedFoldInDegree=$maxSortedFoldInDegree) — the sorted " +
          "bit-replayable fold would build one row that large per " +
          "iteration; pass sortedFold=false (order-free shuffle-partial " +
          "sum, same ranking to ~1 ulp) or raise the bound deliberately")
    }
    val base = (1.0 - damping) / n
    val outdeg = pairs.groupBy(col("__src"))
      .agg(sum(col("__w")).as("__outdeg"))
    val weighted = mat("rank_weighted")(pairs.join(outdeg, "__src"))
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      val contribs = weighted
        .join(ranks.withColumnRenamed("host", "__src"), "__src")
        .select(col("__dst").as("host"),
          (col("rank") * col("__w") / col("__outdeg")).as("__c"))
      val summed =
        if (sortedFold)
          contribs.groupBy("host").agg(
            aggregate(sort_array(collect_list(col("__c"))),
              lit(0.0), (acc, x) => acc + x).as("__s"))
        else
          contribs.groupBy("host").agg(sum(col("__c")).as("__s"))
      val next = nodes.join(summed, Seq("host"), "left")
        .select(col("host"),
          (lit(base) + lit(damping) * coalesce(col("__s"), lit(0.0)))
            .as("rank"))
      ranks =
        if (checkpointEvery > 0 && i % checkpointEvery == 0 &&
          i < iterations) mat(s"rank_iter_$i")(next)
        else next
    }
    ranks
  }

  /** [[hostRank]]'s iteration replayed as DuckDB chained CTEs over an
    * edge CTE named `edges(src_host, dst_host)` (distinct pairs not
    * required — the replay distincts). Emits CTE bodies `nodes`,
    * `outdeg`, `r0`, `r1` … `r<iterations>`; the caller SELECTs from
    * `r<iterations>`. Constants are interpolated via Double.toString
    * (shortest round-trip form — both engines parse back the same
    * bits), so the only in-engine arithmetic is the same IEEE
    * +,*,/ sequence the Spark plan runs, in the same sorted-fold
    * order. `n` must be the host count the Spark side derived.
    */
  def rankOracleCtes(iterations: Int, damping: Double,
                     weightedByLinks: Boolean = false): String = {
    // damping interpolates via Double.toString — the shortest form
    // that parses back to the identical bits; the base term
    // (1-d)/N and the init 1/N are computed IN-ENGINE from the node
    // count so the oracle holds at every scale factor, with the same
    // IEEE op sequence the Spark side runs in the driver. Weighted
    // mode: integer-valued double weights, so every weight sum is
    // exact regardless of order; the contribution tree is
    // (rank * w) / wsum — with w = 1 it is bit-identical to the
    // unweighted rank / outdeg.
    val d = s"CAST('$damping' AS DOUBLE)"
    val contrib = if (weightedByLinks) "r.rank * p.w / o.outdeg"
                  else "r.rank / o.outdeg"
    val pairsCte = if (weightedByLinks)
      """pairs AS (
        |  SELECT src_host, dst_host, CAST(SUM(n_links) AS DOUBLE) AS w
        |  FROM edges GROUP BY src_host, dst_host)""".stripMargin
    else
      """pairs AS (
        |  SELECT DISTINCT src_host, dst_host FROM edges)""".stripMargin
    val outdegCte = if (weightedByLinks)
      """outdeg AS (
        |  SELECT src_host, SUM(w) AS outdeg FROM pairs GROUP BY src_host)"""
        .stripMargin
    else
      """outdeg AS (
        |  SELECT src_host, CAST(count(*) AS DOUBLE) AS outdeg
        |  FROM pairs GROUP BY src_host)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s"""c$i AS (
         |  SELECT p.dst_host AS host,
         |    list_reduce(list_sort(list($contrib)), (a, b) -> a + b)
         |      AS s
         |  FROM pairs p
         |  JOIN r${i - 1} r ON r.host = p.src_host
         |  JOIN outdeg o ON o.src_host = p.src_host
         |  GROUP BY p.dst_host),
         |r$i AS (
         |  SELECT nodes.host,
         |    (CAST(1.0 AS DOUBLE) - $d) / np.n + $d *
         |      coalesce(c$i.s, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN np LEFT JOIN c$i ON c$i.host = nodes.host)"""
        .stripMargin
    }.mkString(",\n")
    s"""$pairsCte,
       |nodes AS (
       |  SELECT src_host AS host FROM pairs
       |  UNION SELECT dst_host FROM pairs),
       |np AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |$outdegCte,
       |r0 AS (
       |  SELECT host, CAST(1.0 AS DOUBLE) / np.n AS rank
       |  FROM nodes CROSS JOIN np),
       |$iters""".stripMargin
  }

  /** The host-graph QUALITY PRIOR as a page cut: keep pages whose
    * host at least `minInHosts` DISTINCT other hosts link to — the
    * link-based filter that runs beside the URL blocklist (q130) and
    * catches what no content heuristic can: freshly-minted spam hosts
    * nobody endorses. Returns the pages frame filtered, with `host`
    * and `in_hosts` attached for the audit trail.
    *
    * Scale shape: the degree frame is host-cardinality and BROADCASTS
    * into the page frame — the 100 TB page side never shuffles. The
    * edge frame would normally come from a PREVIOUS crawl snapshot's
    * persisted graph (self-referential priors are circular); passing
    * the same corpus is the bootstrap case.
    *
    * `nodeOf` picks the page-side grain (the cut family's shared
    * parameter): the default [[hostOf]] matches host-grain artifacts;
    * pass [[domainOf]] when the edges/rank/anchor frames were built at
    * the registered-domain grain — the page fold must match the
    * artifact's node ids or the join silently keeps nothing.
    */
  /** The cut family's column-ownership guard (Export.trainingOrder's
    * discipline): each keep operator ATTACHES audit columns, and a
    * same-named caller column would be silently clobbered by the
    * withColumn — raise up front instead.
    */
  private def requireNoClash(pages: DataFrame, owned: Seq[String],
                             op: String): Unit = {
    val clash = owned.filter(pages.columns.contains)
    require(clash.isEmpty,
      s"$op: input already carries ${clash.mkString(", ")} — rename or " +
        "drop before the cut (the operator OWNS these audit columns)")
  }

  /** Schema-metadata marker every cut operator stamps on the audit
    * columns it attaches (`host`/`rank`/`in_hosts`). The fn-step chain
    * ([[GraftFns]]) strips ONLY marked columns between cuts — a
    * caller-owned column with the same name carries no marker, so it
    * survives to the operator's [[requireNoClash]], which raises naming
    * it instead of silently discarding caller data (metadata rides the
    * schema through temp views, projections, and parquet round-trips).
    */
  private[graft] val CutAuditMetaKey = "graft_cut_audit"
  private[graft] val CutAuditMeta: org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean(CutAuditMetaKey, true).build()
  private def markAudit(d: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(d)((acc, c) => acc.withMetadata(c, CutAuditMeta))

  def hostPriorKeep(pages: DataFrame, edges: DataFrame, minInHosts: Long,
                    urlCol: String = "url",
                    nodeOf: Column => Column = hostOf): DataFrame = {
    require(minInHosts >= 1, "hostPriorKeep: minInHosts must be >= 1")
    requireNoClash(pages, Seq("host", "in_hosts"), "hostPriorKeep")
    val endorsed = hostDegrees(edges)
      .where(col("in_hosts") >= minInHosts)
      .select(col("host"), col("in_hosts"))
    markAudit(pages.withColumn("host", nodeOf(col(urlCol)))
      .join(broadcast(endorsed), Seq("host"), "inner"),
      "host", "in_hosts")
  }

  /** The family's BUILD-ONCE artifact: land a crawl snapshot's graph
    * under `outDir` as two parquet frames —
    *
    *   `outDir/edges` — the aggregated host-edge frame (the
    *     roll-forward input: the next crawl's edges sum into it);
    *   `outDir/rank`  — [[hostRank]] over those landed edges (the
    *     probe side: what production page cuts score against).
    *
    * Returns the rank RE-READ from disk. Parquet round-trips doubles
    * bit-exactly, so the persisted rank is bit-identical to the direct
    * computation (LinkGraphSpec pins it) — the build-once/probe-forever
    * shape every other index family has ([[Dedup.writePairGraph]],
    * `Similarity.annIndex`). A production crawl scores pages against
    * the PREVIOUS snapshot's rank (self-referential priors are
    * circular); [[rollForwardRank]] is the advance.
    */
  def writeRankSnapshot(spark: SparkSession, edges: DataFrame, outDir: String,
                        iterations: Int = 5, damping: Double = 0.85,
                        weightedByLinks: Boolean = false,
                        sortedFold: Boolean = true): DataFrame = {
    edges.write.mode("overwrite").parquet(s"$outDir/edges")
    hostRank(Parquet.read(spark, s"$outDir/edges"), iterations, damping,
      sortedFold, weightedByLinks = weightedByLinks)
      .write.mode("overwrite").parquet(s"$outDir/rank")
    // the metadata the PROBE side needs, landed WITH the artifact (the
    // sketch family's lgK-drift discipline): n_hosts lets a threshold
    // floor (1-d)/n derive without a scan-and-count per probe, and the
    // build parameters let roll-forward fail loudly on drift instead of
    // silently chaining ranks that mean different things
    import spark.implicits._
    Seq((Parquet.read(spark, s"$outDir/rank").count(),
      iterations, damping, weightedByLinks, sortedFold))
      .toDF("n_hosts", "iterations", "damping", "weighted_by_links",
        "sorted_fold")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/meta")
    rankSnapshot(spark, outDir)
  }

  /** The persisted rank face of a snapshot dir (see
    * [[writeRankSnapshot]]) — a cheap parquet scan, host-cardinality.
    */
  def rankSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    Parquet.read(spark, s"$snapshotDir/rank")

  /** A snapshot's landed build record (see [[writeRankSnapshot]]). */
  final case class RankSnapshotMeta(nHosts: Long, iterations: Int,
                                    damping: Double,
                                    weightedByLinks: Boolean,
                                    sortedFold: Boolean) {
    /** The un-endorsed rank FLOOR `(1-d)/n` — every host with zero
      * in-links sits exactly here ([[hostRankKeep]]'s threshold note:
      * cut at a multiple of THIS, never `1/n`). Derived from the landed
      * values with the same IEEE op sequence the build-side drivers
      * run, so a probe reconstructs bit-identical thresholds without a
      * count scan.
      */
    def floor: Double = (1.0 - damping) / nHosts
  }

  /** The snapshot's metadata row ([[writeRankSnapshot]] lands it).
    * One bounded 1-row read; a snapshot dir without `meta/` raises
    * naming the rebuild path (the artifact contract is all-or-nothing
    * — probing a half-landed snapshot must not silently degrade).
    */
  def rankSnapshotMeta(spark: SparkSession,
                       snapshotDir: String): RankSnapshotMeta = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$snapshotDir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"rankSnapshotMeta: $snapshotDir has no meta/ — not a " +
        "writeRankSnapshot artifact (rebuild the snapshot; pre-metadata " +
        "snapshot dirs must be re-landed, not probed blind)")
    val r = Parquet.read(spark, s"$snapshotDir/meta").collect()(0) // 1 row
    RankSnapshotMeta(r.getAs[Long]("n_hosts"), r.getAs[Int]("iterations"),
      r.getAs[Double]("damping"), r.getAs[Boolean]("weighted_by_links"),
      r.getAs[Boolean]("sorted_fold"))
  }

  /** Advance the snapshot by one crawl: sum the new crawl's edges into
    * the previous snapshot's edge frame (per-pair addition — the
    * [[graft.streaming.StreamingGraph]] additivity contract: each page
    * is counted in exactly one crawl's edges), recompute the rank, and
    * land both under `outDir` ([[writeRankSnapshot]]). Bit-identical
    * to rebuilding from the union of all crawls' pages, because edge
    * aggregation is associative integer addition and [[hostRank]] is a
    * pure function of the aggregated edges (LinkGraphSpec pins
    * roll-forward ≡ rebuild). Scale shape: everything here is
    * host-pair-cardinality — the old crawls' page corpora are never
    * touched again.
    */
  def rollForwardRank(spark: SparkSession, prevSnapshotDir: String,
                      newEdges: DataFrame, outDir: String,
                      iterations: Int = 5, damping: Double = 0.85,
                      weightedByLinks: Boolean = false,
                      sortedFold: Boolean = true): DataFrame = {
    // parameter drift between build and roll-forward fails LOUDLY (the
    // sketch family's lgK/k-drift discipline): a chain that silently
    // switches iterations/damping/weighting produces ranks that no
    // longer mean one thing across snapshots
    val prev = rankSnapshotMeta(spark, prevSnapshotDir)
    require(prev.iterations == iterations && prev.damping == damping &&
      prev.weightedByLinks == weightedByLinks &&
      prev.sortedFold == sortedFold,
      s"rollForwardRank: parameter drift — $prevSnapshotDir was built " +
        s"with (iterations=${prev.iterations}, damping=${prev.damping}, " +
        s"weightedByLinks=${prev.weightedByLinks}, " +
        s"sortedFold=${prev.sortedFold}) but the roll-forward " +
        s"asked for (iterations=$iterations, damping=$damping, " +
        s"weightedByLinks=$weightedByLinks, sortedFold=$sortedFold); " +
        "pass the snapshot's own parameters or rebuild from scratch " +
        "with the new ones (sortedFold changes the per-node summation " +
        "ORDER — flipping it silently breaks bit-replayability against " +
        "the prior snapshot, the exact drift this guard exists to catch)")
    val merged = Parquet.read(spark, s"$prevSnapshotDir/edges")
      .unionByName(newEdges)
      .groupBy("src_host", "dst_host")
      .agg(sum(col("n_links")).as("n_links"),
        sum(col("n_pages")).as("n_pages"))
    writeRankSnapshot(spark, merged, outDir, iterations, damping,
      weightedByLinks, sortedFold)
  }

  /** The anchor-profile twin of [[writeRankSnapshot]], same two-frame
    * layout: land a crawl's SRC-grain [[anchorEdges]] under
    * `outDir/edges` (the roll-forward input) and the derived
    * [[anchorTextsFromEdges]] profile under `outDir/anchors` (the
    * probe side — what [[anchorKeywordKeep]] and the streaming ingest
    * gate consume). Both are (host × phrase)-cardinality — GB-scale
    * next to the page corpus. Returns the profile re-read from disk.
    */
  def writeAnchorSnapshot(spark: SparkSession, anchorEdges: DataFrame,
                          outDir: String): DataFrame = {
    anchorEdges.write.mode("overwrite").parquet(s"$outDir/edges")
    anchorTextsFromEdges(Parquet.read(spark, s"$outDir/edges"))
      .write.mode("overwrite").parquet(s"$outDir/anchors")
    anchorSnapshot(spark, outDir)
  }

  /** The persisted anchor-profile face of a snapshot dir (see
    * [[writeAnchorSnapshot]]).
    */
  def anchorSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    Parquet.read(spark, s"$snapshotDir/anchors")

  /** Advance the anchor snapshot by one crawl — [[rollForwardRank]]'s
    * twin: sum the new crawl's [[anchorEdges]] into the previous
    * snapshot's edge frame (per-(src, dst, anchor) integer addition —
    * additive because each page is counted in exactly one crawl),
    * re-derive the profile, land both. Bit-identical to rebuilding
    * from the union of all crawls' pages (LinkGraphSpec pins it) —
    * note the profile's `n_hosts` is a count-DISTINCT and could NOT be
    * advanced by adding profiles; the src-grain edge artifact is what
    * makes the roll-forward exact. Old page corpora are never
    * rescanned.
    */
  def rollForwardAnchors(spark: SparkSession, prevSnapshotDir: String,
                         newEdges: DataFrame, outDir: String): DataFrame =
    writeAnchorSnapshot(spark,
      Parquet.read(spark, s"$prevSnapshotDir/edges")
        .unionByName(newEdges)
        .groupBy("src_host", "dst_host", "anchor")
        .agg(sum(col("n_links")).as("n_links")),
      outDir)

  /** The PSL lookup as a BUILD-ONCE artifact ([[writeRankSnapshot]]'s
    * layout discipline): land the fold of a host vocabulary under
    * `outDir` as three frames —
    *
    *   `outDir/rules`   — the raw rule lines (the roll-forward input:
    *     advancing the snapshot re-folds only NEW hosts against them);
    *   `outDir/domains` — [[pslDomainTable]] over the hosts (the probe
    *     side: what [[withPslDomain]] / the ByLookup cuts consume);
    *   `outDir/meta`    — `(n_hosts, rules_digest)`, the drift guard's
    *     landed record ([[pslRulesDigest]]).
    *
    * The fold is host-vocabulary work — score it once per crawl, probe
    * it from ingest forever (the q148/q158 artifact shape). Returns
    * the domains table re-read from disk (strings round-trip parquet
    * exactly; round-trip ≡ direct is pinned in LinkGraphSpec).
    */
  def writePslSnapshot(spark: SparkSession, hosts: DataFrame,
                       rules: DataFrame, outDir: String,
                       hostCol: String = "host", ruleCol: String = "rule",
                       maxRuleLabels: Int = 10): DataFrame = {
    rules.select(col(ruleCol).as("rule"))
      .write.mode("overwrite").parquet(s"$outDir/rules")
    val landedRules = Parquet.read(spark, s"$outDir/rules")
    pslDomainTable(hosts, landedRules, hostCol, "rule", maxRuleLabels)
      .write.mode("overwrite").parquet(s"$outDir/domains")
    import spark.implicits._
    Seq((Parquet.read(spark, s"$outDir/domains").count(),
      pslRulesDigest(landedRules)))
      .toDF("n_hosts", "rules_digest")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/meta")
    pslSnapshot(spark, outDir)
  }

  /** The persisted `(host, domain)` face of a [[writePslSnapshot]]
    * dir — a cheap parquet scan, distinct-host cardinality.
    */
  def pslSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    Parquet.read(spark, s"$snapshotDir/domains")

  /** A PSL snapshot's landed build record (see [[writePslSnapshot]]). */
  final case class PslSnapshotMeta(nHosts: Long, rulesDigest: Long)

  /** The snapshot's metadata row; a dir without `meta/` raises naming
    * the rebuild path ([[rankSnapshotMeta]]'s all-or-nothing contract).
    */
  def pslSnapshotMeta(spark: SparkSession,
                      snapshotDir: String): PslSnapshotMeta = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$snapshotDir/meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"pslSnapshotMeta: $snapshotDir has no meta/ — not a " +
        "writePslSnapshot artifact (rebuild the snapshot; a bare domains " +
        "table cannot be drift-guarded and must not be probed blind)")
    val r = Parquet.read(spark, s"$snapshotDir/meta").collect()(0) // 1 row
    PslSnapshotMeta(r.getAs[Long]("n_hosts"), r.getAs[Long]("rules_digest"))
  }

  /** Advance the PSL snapshot by one crawl's host vocabulary: fold
    * ONLY the genuinely new hosts (anti-join against the landed table
    * — work ∝ batch, the incremental-probe discipline) and land the
    * union under `outDir`. Bit-identical to rebuilding over the union
    * of all crawls' hosts because the fold is a per-host pure function
    * of the rules (LinkGraphSpec pins roll-forward ≡ rebuild). A rules
    * drift RAISES naming both digests: a changed public-suffix list
    * can re-fold EXISTING hosts, so an incremental advance would
    * silently mix two folds in one table — rebuild from scratch
    * instead.
    */
  def rollForwardPsl(spark: SparkSession, prevSnapshotDir: String,
                     newHosts: DataFrame, rules: DataFrame, outDir: String,
                     hostCol: String = "host", ruleCol: String = "rule",
                     maxRuleLabels: Int = 10): DataFrame =
    writePslSnapshotTable(spark,
      pslProbeMerge(spark, prevSnapshotDir, newHosts, rules, hostCol,
        ruleCol, maxRuleLabels),
      rules, pslRulesDigest(rules, ruleCol), outDir, ruleCol)

  /** The roll-forward's MERGE without the landing: the previous
    * snapshot's table plus the fold of the genuinely NEW hosts
    * (anti-join — work ∝ batch), digest-guarded exactly like
    * [[rollForwardPsl]]. This is the per-batch PROBE face the
    * streaming ingest consumes: gate the batch against the merged
    * table now, land the batch, and only then advance the snapshot
    * ([[writePslSnapshotTable]]) — the URL-index ordering.
    */
  def pslProbeMerge(spark: SparkSession, prevSnapshotDir: String,
                    newHosts: DataFrame, rules: DataFrame,
                    hostCol: String = "host", ruleCol: String = "rule",
                    maxRuleLabels: Int = 10): DataFrame = {
    val prev = pslSnapshotMeta(spark, prevSnapshotDir)
    val newDigest = pslRulesDigest(rules, ruleCol)
    require(prev.rulesDigest == newDigest,
      s"rollForwardPsl: rules drift — $prevSnapshotDir was built from a " +
        s"rule list with digest ${prev.rulesDigest} but the roll-forward " +
        s"carries digest $newDigest; a changed public-suffix list re-folds " +
        "EXISTING hosts, so advance would mix two folds — rebuild with " +
        "writePslSnapshot instead")
    val prevTable = pslSnapshot(spark, prevSnapshotDir)
    val fresh = newHosts.select(col(hostCol).as("host"))
      .where(col("host").isNotNull && col("host") =!= "").distinct()
      .join(prevTable.select("host"), Seq("host"), "left_anti")
    prevTable.unionByName(
      pslDomainTable(fresh, rules, "host", ruleCol, maxRuleLabels))
  }

  /** Land an ALREADY-MERGED `(host, domain)` table as a snapshot dir
    * (rules + domains + meta) — [[rollForwardPsl]]'s writer, split out
    * so a caller that materialized the merge for its own gating (the
    * streaming probe) advances the snapshot without recomputing it.
    */
  def writePslSnapshotTable(spark: SparkSession, merged: DataFrame,
                            rules: DataFrame, rulesDigest: Long,
                            outDir: String,
                            ruleCol: String = "rule"): DataFrame = {
    rules.select(col(ruleCol).as("rule"))
      .write.mode("overwrite").parquet(s"$outDir/rules")
    merged.write.mode("overwrite").parquet(s"$outDir/domains")
    import spark.implicits._
    Seq((Parquet.read(spark, s"$outDir/domains").count(), rulesDigest))
      .toDF("n_hosts", "rules_digest")
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/meta")
    pslSnapshot(spark, outDir)
  }

  /** The RANK-threshold page cut — [[hostPriorKeep]]'s production
    * face: keep pages whose host's PERSISTED rank (a previous
    * snapshot's [[rankSnapshot]]) clears `minRank`, with `host` and
    * `rank` attached for the audit trail. Rank dominates raw
    * in-degree as the prior: it resists in-degree inflation (a spam
    * ring linking itself a million times moves n_links, barely moves
    * rank, because the ring's own rank is low). A natural threshold is
    * a multiple of the un-endorsed FLOOR `(1-d)/n_hosts` (every host
    * with zero in-links sits exactly there) — NOT `1/n_hosts`: the
    * simplified iteration leaks dangling mass, so after a few rounds
    * most ranks sit below uniform and an above-uniform bar can go
    * vacuous.
    *
    * Scale shape: the rank table is host-cardinality and BROADCASTS
    * into the page frame — the 100 TB page side never shuffles
    * (plan-pinned, the q140 discipline).
    */
  def hostRankKeep(pages: DataFrame, rank: DataFrame, minRank: Double,
                   urlCol: String = "url",
                   nodeOf: Column => Column = hostOf): DataFrame = {
    require(minRank > 0.0, s"hostRankKeep: minRank must be > 0, got $minRank")
    requireNoClash(pages, Seq("host", "rank"), "hostRankKeep")
    markAudit(pages.withColumn("host", nodeOf(col(urlCol)))
      .join(broadcast(rank.where(col("rank") >= minRank)), Seq("host"), "inner"),
      "host", "rank")
  }

  /** [[hostRankKeep]] at a LOOKUP-TABLE node grain — the full-PSL face
    * the `nodeOf: Column => Column` seam cannot express: the page-side
    * fold is a broadcast join through `lookup` (`(host, domain)`, a
    * [[pslSnapshot]] probe), matching a rank artifact BUILT at the same
    * grain ([[domainEdgesByLookup]] edges → [[writeRankSnapshot]]).
    * The page corpus still never shuffles (two stacked broadcast
    * joins); the audit `host` column carries the FOLDED node id — the
    * id the rank table actually scored.
    */
  def hostRankKeepByLookup(pages: DataFrame, rank: DataFrame,
                           minRank: Double, lookup: DataFrame,
                           urlCol: String = "url"): DataFrame = {
    require(minRank > 0.0,
      s"hostRankKeepByLookup: minRank must be > 0, got $minRank")
    requireNoClash(pages, Seq("host", "rank"), "hostRankKeepByLookup")
    markAudit(
      withPslDomain(pages, lookup, urlCol, outCol = "host")
        .join(broadcast(rank.where(col("rank") >= minRank)), Seq("host"),
          "inner"),
      "host", "rank")
  }

  /** The anchor-text CONSUMER — what [[anchorTexts]]' profiles exist
    * for: a per-target-host KEYWORD signal. For each dst_host, the
    * fraction of inbound inter-host anchor links whose (normalized)
    * text carries any of `keywords` as a DELIMITED token phrase
    * (case-insensitive; [[anchorKeywordPattern]] — pass
    * `wordBoundary = false` for raw substring containment):
    * `(dst_host, n_links, kw_links, kw_rate)` — the web-search
    * insight turned into a curation signal (the rest of the web
    * describes a host better than the host describes itself; a host
    * whose inbound anchors are dominated by spam phrases is a
    * blocklist candidate no content filter sees). Counts + ONE IEEE
    * division (the [[TextOps.keepRateBy]] discipline), so the signal
    * is exact-oracle replayable.
    *
    * Scale shape: the anchor frame is (host × anchor-phrase)
    * cardinality; the keyword predicate is row-local codegen and the
    * rollup is one map-side-combinable aggregation on dst_host.
    */
  /** Regex-literal escape shared by the keyword pattern's two engines:
    * only the metacharacter set both Java regex and RE2 treat special
    * is escaped (escaping an ordinary letter is an ERROR in Java, so a
    * blanket quote-everything would not compile cross-engine).
    */
  private def regexLiteral(s: String): String =
    s.flatMap(c =>
      if ("\\.^$|?*+()[]{}".indexOf(c.toInt) >= 0) s"\\$c" else c.toString)

  /** The DELIMITED-TOKEN keyword pattern over a lowercased anchor: a
    * keyword phrase counts only between non-alphanumeric boundaries
    * (start/end of the anchor, space, punctuation) — the
    * [[Html.RobotsNoindexPattern]] discipline. "now" must NOT hit
    * "snow"/"known": substring containment lets a host whose anchors
    * are dominated by innocent containing words cross the block rate.
    * In the RE2 ∩ Java subset (char classes + alternation, no
    * lookaround), so the oracle replays it verbatim
    * ([[anchorKeywordOracleSqlExpr]]).
    */
  def anchorKeywordPattern(keywords: Seq[String]): String = {
    val alts = keywords.map(k => regexLiteral(k.toLowerCase)).mkString("|")
    s"(^|[^\\p{L}\\p{N}])($alts)($$|[^\\p{L}\\p{N}])"
  }

  /** The keyword hit as a DuckDB boolean over an anchor expr — the
    * oracle replay of [[anchorKeywordSignal]]'s predicate, same
    * pattern constant.
    */
  def anchorKeywordOracleSqlExpr(anchorExpr: String,
                                 keywords: Seq[String]): String =
    s"regexp_matches(lower($anchorExpr), " +
      s"'${anchorKeywordPattern(keywords).replace("'", "''")}')"

  def anchorKeywordSignal(anchors: DataFrame, keywords: Seq[String],
                          wordBoundary: Boolean = true): DataFrame = {
    require(keywords.nonEmpty, "anchorKeywordSignal: keywords must be non-empty")
    require(keywords.forall(_.nonEmpty),
      "anchorKeywordSignal: empty keyword — '' is contained in every anchor, " +
        "which would flag every host")
    val hit =
      if (wordBoundary) lower(col("anchor")).rlike(anchorKeywordPattern(keywords))
      else keywords.map(k => lower(col("anchor")).contains(k.toLowerCase))
        .reduce(_ || _)
    anchors.groupBy("dst_host")
      .agg(sum(col("n_links")).as("n_links"),
        sum(when(hit, col("n_links")).otherwise(lit(0L))).as("kw_links"))
      .withColumn("kw_rate",
        col("kw_links").cast("double") / col("n_links").cast("double"))
  }

  /** [[anchorKeywordSignal]] applied as a page cut, the q130/q140
    * family's shape: DROP pages whose host's inbound-anchor keyword
    * rate reaches `maxRate` (a broadcast LEFT-ANTI join — the page
    * corpus never shuffles, and hosts with no anchor profile keep:
    * absent evidence is not a block verdict). The anchor frame would
    * come from a previous crawl snapshot in production, like the rank
    * prior.
    */
  def anchorKeywordKeep(pages: DataFrame, anchors: DataFrame,
                        keywords: Seq[String], maxRate: Double,
                        urlCol: String = "url",
                        nodeOf: Column => Column = hostOf,
                        wordBoundary: Boolean = true): DataFrame = {
    require(maxRate > 0.0 && maxRate <= 1.0,
      s"anchorKeywordKeep: maxRate must be in (0,1], got $maxRate")
    requireNoClash(pages, Seq("host"), "anchorKeywordKeep")
    val blocked = anchorKeywordSignal(anchors, keywords, wordBoundary)
      .where(col("kw_rate") >= maxRate)
      .select(col("dst_host").as("host"))
    markAudit(pages.withColumn("host", nodeOf(col(urlCol)))
      .join(broadcast(blocked), Seq("host"), "left_anti"),
      "host")
  }

  /** [[anchorKeywordKeep]] at a lookup-table node grain (see
    * [[hostRankKeepByLookup]]): the anchor profile must have been
    * built at the same grain ([[anchorEdges]] over lookup-folded
    * hosts, or a domain-grain snapshot) or the block join silently
    * misses — the shared-grain contract of the whole cut family.
    */
  def anchorKeywordKeepByLookup(pages: DataFrame, anchors: DataFrame,
                                keywords: Seq[String], maxRate: Double,
                                lookup: DataFrame,
                                urlCol: String = "url",
                                wordBoundary: Boolean = true): DataFrame = {
    require(maxRate > 0.0 && maxRate <= 1.0,
      s"anchorKeywordKeepByLookup: maxRate must be in (0,1], got $maxRate")
    requireNoClash(pages, Seq("host"), "anchorKeywordKeepByLookup")
    val blocked = anchorKeywordSignal(anchors, keywords, wordBoundary)
      .where(col("kw_rate") >= maxRate)
      .select(col("dst_host").as("host"))
    markAudit(
      withPslDomain(pages, lookup, urlCol, outCol = "host")
        .join(broadcast(blocked), Seq("host"), "left_anti"),
      "host")
  }
}
