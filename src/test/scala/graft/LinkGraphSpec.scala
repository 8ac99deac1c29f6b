package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.{Export, LinkGraph}
import graft.streaming.StreamingGraph

/** Page fixture for the streaming link-graph sink (top-level so the
  * Product encoder has no outer-class pointer).
  */
case class LinkPage(doc_id: Long, url: String, html: String)

/** Host link graph (q137/q138/q140) + seeded training order (q139):
  * crafted-fixture semantics, an independent-model differential for
  * PageRank, the determinism contracts, and the plan shapes the
  * 100 TB story rests on (broadcast prior, no global sort).
  */
class LinkGraphSpec extends AnyFunSuite {
  private val spark = SparkTestBase.spark
  import spark.implicits._

  // ---------------------------------------------------------- hostOf

  test("hostOf: lowercase, www-strip, port-strip; host-less forms fold to ''") {
    val got = Seq(
      "HTTPS://WWW.Example.COM:8443/Path?q=1#f",
      "http://sub.www.example.org/x", // www only strips as a PREFIX
      "https://example.net",
      "/relative/path",
      "mailto:ops@example.org",
      "no-scheme-at-all")
      .toDF("u").select(LinkGraph.hostOf(col("u"))).as[String].collect()
    assert(got === Seq("example.com", "sub.www.example.org", "example.net",
      "", "", ""))
  }

  // ------------------------------------------------------- hostEdges

  private def pages(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "url", "html")

  test("hostEdges: self-edges and host-less hrefs drop; n_links vs n_pages") {
    val df = pages(
      // two hrefs to b (one with www/port/case noise), one self, one
      // relative, one mailto
      (1L, "https://a.com/p1",
        """<a href="https://b.com/x">1</a><a href="HTTP://www.B.com:80/y">2</a>
          |<a href="https://a.com/self">s</a><a href="/rel">r</a>
          |<a href="mailto:z@q.org">m</a>""".stripMargin),
      // a second page of a.com linking b.com once and c.org once
      (2L, "https://a.com/p2",
        """<a href="https://b.com/z">1</a><a href="https://c.org/w">2</a>"""),
      // a page whose own URL has no host: src '' rows must drop
      (3L, "not-a-url", """<a href="https://b.com/k">1</a>"""))
    val got = LinkGraph.hostEdges(df).orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(got === Seq(
      ("a.com", "b.com", 3L, 2L), // 3 hrefs across 2 distinct pages
      ("a.com", "c.org", 1L, 1L)))
  }

  // ----------------------------------------------------- anchorTexts

  test("anchorTexts: normalization, empty/self/intra-host drops, per-target counts") {
    val df = pages(
      (1L, "https://a.com/p1",
        // nested tag + entity + whitespace noise → "read & learn now";
        // an image link (empty text) and a self link must drop
        """<a href="https://b.com/x"> read &amp;
          |  learn <b>now</b> </a><a href="https://b.com/y"><img src="i.png"></a>
          |<a href="https://a.com/self">home</a>""".stripMargin),
      (2L, "https://c.org/p2",
        """<a href="https://b.com/z">read &amp; learn <b>now</b></a>
          |<a href="https://a.com/w">alpha site</a>""".stripMargin))
    val got = LinkGraph.anchorTexts(df).orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect()
    assert(got === Seq(
      ("a.com", "alpha site", 1L, 1L),
      ("b.com", "read & learn now", 2L, 2L))) // same phrase, two hosts
  }

  // -------------------------------------------------------- domainOf

  test("domainOf: eTLD+1 fold — two labels, multi-label suffixes, short hosts") {
    val got = Seq(
      "https://blog.shop.example.com/x", // deep subdomain → example.com
      "https://www.example.com/y",       // www strips first → example.com
      "https://example.com/z",           // already registered: unchanged
      "https://news.press.co.uk/a",      // multi-label suffix → press.co.uk
      "https://press.co.uk/b",           // exactly eTLD+1: unchanged
      "https://deep.sub.site.com.au/c",  // com.au → site.com.au
      "http://localhost/d",              // single label: whole
      "/relative")                       // no host: ""
      .toDF("u").select(LinkGraph.domainOf(col("u"))).as[String].collect()
    assert(got === Seq("example.com", "example.com", "example.com",
      "press.co.uk", "press.co.uk", "site.com.au", "localhost", ""))
    // the bundled ccTLD battery is the DEFAULT: unrelated registrable
    // domains under a multi-label suffix must NOT merge into one node
    val ccPair = Seq("https://a.co.uk/x", "https://b.co.uk/y")
      .toDF("u").select(LinkGraph.domainOf(col("u"))).as[String].collect()
    assert(ccPair === Seq("a.co.uk", "b.co.uk"),
      "a.co.uk and b.co.uk are distinct registrable domains by default")
    intercept[IllegalArgumentException] {
      LinkGraph.domainOfHost(col("u"), Seq.empty) }
  }

  test("domainEdges: subdomain farms collapse to one voice; intra-domain drops") {
    val df = pages(
      // three subdomains of farm.com all endorsing target.org — ONE
      // domain-grain edge with the summed counts
      (1L, "https://blog.farm.com/p", """<a href="https://www.target.org/x">l</a>"""),
      (2L, "https://shop.farm.com/p", """<a href="https://cdn.target.org/y">l</a>"""),
      (3L, "https://farm.com/p", """<a href="https://target.org/z">l</a>"""),
      // cross-SUBDOMAIN navigation inside one domain: drops entirely
      (4L, "https://a.site.co.uk/p", """<a href="https://b.site.co.uk/w">l</a>"""))
      .toDF("doc_id", "url", "html")
    val got = LinkGraph.domainEdges(df).orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(got === Seq(("farm.com", "target.org", 3L, 3L)))
    // the host-grain graph sees what the domain grain correctly folds
    assert(LinkGraph.hostEdges(df).count() === 4)
    // and domain-grain frames feed the shared consumers unchanged
    val deg = LinkGraph.hostDegrees(LinkGraph.domainEdges(df))
      .orderBy("host").as[(String, Long, Long, Long, Long)].collect()
    assert(deg === Seq(("farm.com", 1L, 0L, 3L, 0L),
      ("target.org", 0L, 1L, 0L, 3L)))
  }

  test("the cut family takes the domain grain: subdomain pages gate by domain artifacts") {
    // a DOMAIN-grain edge frame (e.g. a previous crawl's domainEdges
    // snapshot): good.org endorsed by two domains
    val edges = Seq(("a.com", "good.org", 1L, 1L), ("b.net", "good.org", 1L, 1L),
      ("a.com", "lone.io", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    val p = Seq(
      (1L, "https://blog.good.org/x"), // subdomain page: folds to good.org
      (2L, "https://www.good.org/y"),
      (3L, "https://cdn.lone.io/z"),
      (4L, "https://fresh.biz/w"))
      .toDF("doc_id", "url")
    val kept = LinkGraph.hostPriorKeep(p, edges, minInHosts = 2,
      nodeOf = LinkGraph.domainOf)
    assert(kept.select("doc_id").as[Long].collect().sorted === Seq(1L, 2L),
      "subdomain pages must fold onto their domain's endorsement")
    // the DEFAULT host fold only matches where host == domain (the
    // www page, whose www. strips to the bare domain) — the true
    // subdomain pages silently miss the artifact's node ids, exactly
    // the grain mismatch the parameter exists to make explicit
    assert(LinkGraph.hostPriorKeep(p, edges, minInHosts = 2)
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
  }

  // --------------------------------------- anchorKeywordSignal / Keep

  test("anchorKeywordSignal: link-weighted per-host rates, case-insensitive") {
    val anchors = Seq(
      // casino.biz: 3 of 4 inbound links carry a spam keyword
      ("casino.biz", "Best CASINO bonus", 2L, 2L),
      ("casino.biz", "free spins casino", 1L, 1L),
      ("casino.biz", "unrelated review", 1L, 1L),
      // news.org: clean
      ("news.org", "daily news", 5L, 3L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    val got = LinkGraph.anchorKeywordSignal(anchors, Seq("casino", "spins"))
      .orderBy("dst_host").as[(String, Long, Long, Double)].collect()
    assert(got === Seq(
      ("casino.biz", 4L, 3L, 3.0 / 4.0),
      ("news.org", 5L, 0L, 0.0)))
    intercept[IllegalArgumentException] {
      LinkGraph.anchorKeywordSignal(anchors, Seq.empty) }
    intercept[IllegalArgumentException] {
      LinkGraph.anchorKeywordSignal(anchors, Seq("casino", "")) }
  }

  test("anchorKeywordSignal: delimited tokens — 'now' must not match 'known'/'snow'") {
    val anchors = Seq(
      ("w.org", "buy now", 1L, 1L),          // hit: space boundary
      ("w.org", "now available", 1L, 1L),    // hit: start + space
      ("w.org", "act now!", 1L, 1L),         // hit: punctuation boundary
      ("w.org", "well known brand", 1L, 1L), // contains 'now' — NOT a hit
      ("w.org", "fresh snow report", 1L, 1L),// contains 'now' — NOT a hit
      ("w.org", "nowhere fast", 1L, 1L))     // prefix 'now' — NOT a hit
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    val got = LinkGraph.anchorKeywordSignal(anchors, Seq("now"))
      .as[(String, Long, Long, Double)].head()
    assert(got === (("w.org", 6L, 3L, 0.5)),
      "token-delimited matching: containing words must not count")
    // the escape hatch reverts to raw substring containment
    val raw = LinkGraph.anchorKeywordSignal(anchors, Seq("now"),
      wordBoundary = false).as[(String, Long, Long, Double)].head()
    assert(raw._3 === 6L, "wordBoundary=false restores containment")
    // a multi-word phrase is one delimited token sequence
    val phrase = Seq(
      ("p.org", "see topic 4 here", 1L, 1L), // hit
      ("p.org", "topic 40 index", 1L, 1L),   // '4' runs into '0': no hit
      ("p.org", "subtopic 4", 1L, 1L))       // 'topic' runs out of 'subtopic': no hit
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    assert(LinkGraph.anchorKeywordSignal(phrase, Seq("topic 4"))
      .as[(String, Long, Long, Double)].head()._3 === 1L)
    // regex metacharacters in a keyword are literal text
    val meta = Seq(("m.org", "get c++ jobs", 1L, 1L),
      ("m.org", "plain c jobs", 1L, 1L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    assert(LinkGraph.anchorKeywordSignal(meta, Seq("c++"))
      .as[(String, Long, Long, Double)].head()._3 === 1L)
  }

  test("the cut family owns its audit columns: caller host/rank clash raises") {
    val p = Seq((1L, "https://a.com/x", "precomputed"))
      .toDF("doc_id", "url", "host")
    val rank = Seq(("a.com", 0.5)).toDF("host", "rank")
    val anchors = Seq(("a.com", "casino", 1L, 1L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    val edges = Seq(("b.com", "a.com", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    val e1 = intercept[IllegalArgumentException] {
      LinkGraph.hostRankKeep(p, rank, minRank = 0.1) }
    assert(e1.getMessage.contains("host"))
    intercept[IllegalArgumentException] {
      LinkGraph.anchorKeywordKeep(p, anchors, Seq("casino"), maxRate = 0.5) }
    intercept[IllegalArgumentException] {
      LinkGraph.hostPriorKeep(p, edges, minInHosts = 1) }
    // a caller 'rank' column alone also raises in hostRankKeep
    val pr = Seq((1L, "https://a.com/x", 9.9)).toDF("doc_id", "url", "rank")
    intercept[IllegalArgumentException] {
      LinkGraph.hostRankKeep(pr, rank, minRank = 0.1) }
  }

  test("anchorKeywordKeep: anti-join cut broadcasts; unprofiled hosts keep") {
    val anchors = Seq(
      ("casino.biz", "casino bonus", 3L, 2L),
      ("news.org", "casino exposé", 1L, 1L), // 1/5 — below the bar
      ("news.org", "daily news", 4L, 3L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    val p = Seq(
      (1L, "https://casino.biz/x"), (2L, "https://news.org/y"),
      (3L, "https://fresh.net/z")) // no profile at all: keeps
      .toDF("doc_id", "url")
    val kept = LinkGraph.anchorKeywordKeep(p, anchors, Seq("casino"),
      maxRate = 0.5)
    assert(kept.select("doc_id").as[Long].collect().sorted === Seq(2L, 3L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "the block signal must broadcast anti-join — pages never shuffle")
    intercept[IllegalArgumentException] {
      LinkGraph.anchorKeywordKeep(p, anchors, Seq("casino"), maxRate = 0.0) }
  }

  test("anchor snapshot: edges grain rolls forward == rebuild; profiles are NOT additive") {
    val crawl1 = pages(
      (1L, "https://a.org/p",
        """<a href="https://t.com/x">buy now</a><a href="https://t.com/y">buy now</a>"""),
      (2L, "https://b.net/p", """<a href="https://t.com/z">daily news</a>"""))
    val crawl2 = pages(
      // a.org links the SAME anchor again in crawl 2 — the distinct-src
      // count must NOT double (the trap that makes profiles non-additive)
      (3L, "https://a.org/q", """<a href="https://t.com/w">buy now</a>"""),
      (4L, "https://c.io/q", """<a href="https://t.com/v">buy now</a>"""))
    // the profile derivation == the direct aggregation
    val direct = LinkGraph.anchorTexts(crawl1)
      .orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect().toSeq
    val viaEdges = LinkGraph.anchorTextsFromEdges(LinkGraph.anchorEdges(crawl1))
      .orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(viaEdges === direct)
    // roll-forward == rebuild from all crawls' pages, bit-for-bit
    val snap1 = SparkTestBase.tmpDir("graft_anchor_rf1")
    val snap2 = SparkTestBase.tmpDir("graft_anchor_rf2")
    LinkGraph.writeAnchorSnapshot(spark, LinkGraph.anchorEdges(crawl1), snap1)
    val rolled = LinkGraph.rollForwardAnchors(spark, snap1,
      LinkGraph.anchorEdges(crawl2), snap2)
      .orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect().toSeq
    val rebuilt = LinkGraph.anchorTexts(crawl1.unionByName(crawl2))
      .orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect().toSeq
    assert(rolled === rebuilt,
      "src-grain edges advance exactly; profiles could not (n_hosts is a distinct count)")
    // the trap, pinned: a.org links "buy now" in BOTH crawls — 4 links
    // but only 2 distinct hosts (a profile sum would have said 3)
    assert(rebuilt.find(_._2 == "buy now").get === (("t.com", "buy now", 4L, 2L)))
    // the probe face reads the landed profile
    assert(LinkGraph.anchorSnapshot(spark, snap2)
      .orderBy("dst_host", "anchor")
      .as[(String, String, Long, Long)].collect().toSeq === rebuilt)
  }

  // -------------------------------------------------- pslDomainTable

  test("pslDomainTable: exception beats wildcard, longest match, implicit default") {
    val rules = Seq("// the PSL fixture", "", "com", "co.uk", "*.ck",
      "!www.ck").toDF("rule")
    val hosts = Seq(
      "shop.example.co.uk",  // plain multi-label rule -> example.co.uk
      "www.site.com",        // plain 1-label rule -> site.com
      "w.x.y.ck",            // wildcard: ps = y.ck -> x.y.ck
      "sub.www.ck",          // exception beats the wildcard -> www.ck
      "www.ck",              // the exception body itself is registrable
      "co.uk",               // a host that IS a public suffix: whole
      "localhost",           // no rule: implicit-* default, single label
      "deep.sub.other.org")  // no rule: default 2-label fold
      .toDF("host")
    val got = LinkGraph.pslDomainTable(hosts, rules)
      .as[(String, String)].collect().toMap
    assert(got === Map(
      "shop.example.co.uk" -> "example.co.uk",
      "www.site.com" -> "site.com",
      "w.x.y.ck" -> "x.y.ck",
      "sub.www.ck" -> "www.ck",
      "www.ck" -> "www.ck",
      "co.uk" -> "co.uk",
      "localhost" -> "localhost",
      "deep.sub.other.org" -> "other.org"))
    // distinct output over duplicate/empty/null inputs
    val dups = Seq("a.com", "a.com", "", null.asInstanceOf[String])
      .toDF("host")
    assert(LinkGraph.pslDomainTable(dups, rules)
      .as[(String, String)].collect().toSeq === Seq(("a.com", "a.com")))
    intercept[IllegalArgumentException] {
      LinkGraph.pslDomainTable(hosts, rules, maxRuleLabels = 0) }
  }

  test("pslDomainTable: DurableMaterializer build == default bit-for-bit; landing is reused") {
    import graft.ext.CurationChain
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck").toDF("rule")
    val hosts = Seq("shop.example.co.uk", "w.x.y.ck", "sub.www.ck",
      "localhost", "a.site.com").toDF("host")
    val default = LinkGraph.pslDomainTable(hosts, rules)
      .as[(String, String)].collect().toMap
    val dir = SparkTestBase.tmpDir("graft_psl_mat")
    val durable = LinkGraph.pslDomainTable(hosts, rules,
      mat = CurationChain.DurableMaterializer(spark, dir, hosts))
      .as[(String, String)].collect().toMap
    assert(durable === default)
    // the seam landed the stage durably (replicated parquet, not
    // executor-local checkpoint blocks) and a re-run reuses it
    assert(new java.io.File(s"$dir/psl_hosts/_SUCCESS").exists())
    val again = LinkGraph.pslDomainTable(hosts, rules,
      mat = CurationChain.DurableMaterializer(spark, dir, hosts))
      .as[(String, String)].collect().toMap
    assert(again === default)
  }

  test("pslRulesDigest: order-insensitive, duplicate rules do NOT cancel") {
    val base = Seq("com", "co.uk", "*.ck", "!www.ck").toDF("rule")
    val reordered = Seq("!www.ck", "com", "*.ck", "co.uk").toDF("rule")
    val doubled = Seq("com", "co.uk", "co.uk", "*.ck", "!www.ck")
      .toDF("rule")
    val missing = Seq("com", "*.ck", "!www.ck").toDF("rule")
    val d = LinkGraph.pslRulesDigest(base)
    assert(LinkGraph.pslRulesDigest(reordered) === d,
      "reordering the published file is not drift")
    // an XOR fold without distinct would cancel the pair: a file with
    // an EVEN number of copies of co.uk would digest as if the rule
    // were absent, and the drift guard would silently pass
    assert(LinkGraph.pslRulesDigest(doubled) === d,
      "duplicates never change the election — same digest")
    assert(LinkGraph.pslRulesDigest(missing) !== d,
      "dropping a rule IS drift")
  }

  test("withPslDomain: a null url folds to '' (the hostOf posture), not a raise") {
    val rules = Seq("com").toDF("rule")
    val pages = Seq((1L, "https://a.site.com/x"),
      (2L, null.asInstanceOf[String])).toDF("doc_id", "url")
    val lookup = LinkGraph.pslLookupFor(pages, rules)
    val got = LinkGraph.withPslDomain(pages, lookup)
      .select("doc_id", "domain").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "site.com", 2L -> ""))
  }

  test("domainEdgesPsl: the farm collapses under the exact election; self-edges drop at PSL grain") {
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck").toDF("rule")
    val df = pages(
      // two subdomains of ONE registered domain both link the same
      // cross-domain target: the farm must fold to one src voice
      (1L, "https://shop.acme.co.uk/a",
        """<a href="https://cdn.other.co.uk/x">1</a>
          |<a href="https://assets.acme.co.uk/s">self</a>""".stripMargin),
      (2L, "https://blog.acme.co.uk/b",
        """<a href="https://img.other.co.uk/y">1</a>"""),
      // an exception-rule page: its link to another www.ck subdomain
      // is a PSL-grain SELF-edge (both fold to www.ck) and must drop
      (3L, "https://d.sub.www.ck/c",
        """<a href="https://m.www.ck/z">1</a>
          |<a href="https://cdn.other.co.uk/k">2</a>""".stripMargin),
      // a wildcard page: ps = w.ck, domain = a.w.ck
      (4L, "https://x.a.w.ck/d", """<a href="https://shop.acme.co.uk/q">1</a>"""))
    val got = LinkGraph.domainEdgesPsl(df, rules)
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(got === Seq(
      ("a.w.ck", "acme.co.uk", 1L, 1L),
      ("acme.co.uk", "other.co.uk", 2L, 2L), // shop+blog = ONE voice
      ("www.ck", "other.co.uk", 1L, 1L)),    // the m.www.ck link self-folded away
      "wildcard/exception/multi-label elections drive the edge set; " +
        "intra-domain navigation never counts as endorsement")
    // the battery-grain fold would NOT have collapsed the .ck shapes:
    // domainOf folds d.sub.www.ck to www.ck? no — the battery has no
    // ck rule, so it folds to sub-less 2-label 'www.ck'... the real
    // difference is the wildcard host: battery folds x.a.w.ck to
    // 'w.ck' (2 labels), the PSL election lands 'a.w.ck' (ps+1 = 3)
    val battery = LinkGraph.domainEdges(df)
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(battery.exists(_._1 == "w.ck") && !battery.exists(_._1 == "a.w.ck"),
      "the 21-suffix battery demonstrably cannot express the wildcard grain")
  }

  test("the ByLookup cut family gates pages at PSL grain; absent hosts and clashes raise") {
    val rules = Seq("com", "co.uk", "*.ck", "!www.ck").toDF("rule")
    val crawl = pages(
      (1L, "https://shop.acme.co.uk/a",
        """<a href="https://cdn.good.co.uk/x">1</a>"""),
      (2L, "https://blog.good.co.uk/b",
        """<a href="https://img.acme.co.uk/y">1</a>
          |<a href="https://m.www.ck/z">2</a>""".stripMargin),
      (3L, "https://d.sub.www.ck/c",
        """<a href="https://p.good.co.uk/k">1</a>"""))
    val lookup = LinkGraph.pslLookupFor(crawl, rules, htmlCol = Some("html"))
    val edges = LinkGraph.domainEdgesByLookup(crawl, lookup)
    // rank artifact BUILT at PSL grain feeds the rank cut at PSL grain
    val rank = LinkGraph.hostRank(edges, iterations = 2)
    val floor = (1.0 - 0.85) / rank.count()
    val rkept = LinkGraph.hostRankKeepByLookup(
      crawl.select($"doc_id", $"url"), rank, minRank = floor * 1.0001, lookup)
      .select("doc_id", "host").as[(Long, String)].collect().toSeq.sorted
    assert(rkept.forall(r => Set("good.co.uk", "acme.co.uk", "www.ck")(r._2)),
      "audit host carries the folded id the rank table actually scored")
    // anchor block at the folded grain: an anchor profile keyed on
    // registered domains blocks every subdomain page of the target
    val anchors = Seq(("good.co.uk", "casino bonus", 5L, 3L))
      .toDF("dst_host", "anchor", "n_links", "n_hosts")
    val akept = LinkGraph.anchorKeywordKeepByLookup(
      crawl.select($"doc_id", $"url"), anchors, Seq("casino"),
      maxRate = 0.5, lookup)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(akept === Seq(1L, 3L), "the blog subdomain blocks via its domain")
    // a host ABSENT from the lookup raises in-plan, naming it
    val partial = lookup.where($"host" =!= "shop.acme.co.uk")
    val e = intercept[Exception] {
      LinkGraph.hostRankKeepByLookup(
        crawl.select($"doc_id", $"url"), rank, floor, partial).collect()
    }
    assert(e.getMessage.contains("shop.acme.co.uk"),
      "silent fallback would mix two node grains — must raise naming the host")
    // caller-owned audit columns clash loudly, the family contract
    intercept[IllegalArgumentException] {
      LinkGraph.hostRankKeepByLookup(
        crawl.select($"doc_id", $"url", lit("x").as("rank")), rank, floor, lookup)
    }
    // withPslDomain: '' hosts fold to '' (the hostOf posture) and the
    // out column is ownership-guarded
    val folded = LinkGraph.withPslDomain(
      Seq((9L, "not-a-url")).toDF("doc_id", "url"), lookup)
    assert(folded.select("domain").as[String].collect() === Seq(""))
    intercept[IllegalArgumentException] {
      LinkGraph.withPslDomain(crawl.withColumn("domain", lit("d")), lookup)
    }
  }

  test("PSL snapshot: round-trip == direct; roll-forward == rebuild; rules drift raises") {
    val rules = Seq("// public suffix list", "com", "co.uk", "*.ck",
      "!www.ck").toDF("rule")
    val hosts1 = Seq("shop.acme.co.uk", "blog.acme.co.uk", "x.a.w.ck")
      .toDF("host")
    val dir1 = SparkTestBase.tmpDir("graft_psl_snap1")
    val landed = LinkGraph.writePslSnapshot(spark, hosts1, rules, dir1)
      .orderBy("host").as[(String, String)].collect().toSeq
    val direct = LinkGraph.pslDomainTable(hosts1, rules)
      .orderBy("host").as[(String, String)].collect().toSeq
    assert(landed === direct, "strings round-trip parquet exactly")
    val meta = LinkGraph.pslSnapshotMeta(spark, dir1)
    assert(meta.nHosts === 3L)
    // roll-forward folds ONLY new hosts, result == full rebuild
    val hosts2 = Seq("shop.acme.co.uk", "d.sub.www.ck", "m.www.ck").toDF("host")
    val dir2 = SparkTestBase.tmpDir("graft_psl_snap2")
    val rolled = LinkGraph.rollForwardPsl(spark, dir1, hosts2, rules, dir2)
      .orderBy("host").as[(String, String)].collect().toSeq
    val rebuilt = LinkGraph.pslDomainTable(hosts1.unionByName(hosts2), rules)
      .orderBy("host").as[(String, String)].collect().toSeq
    assert(rolled === rebuilt,
      "the fold is a per-host pure function of the rules — advance == rebuild")
    assert(LinkGraph.pslSnapshotMeta(spark, dir2).nHosts === 5L)
    // REORDERING the published file is NOT drift (the election is
    // order-free), so the digest must be order-insensitive
    val reordered = Seq("!www.ck", "*.ck", "co.uk", "com",
      "// moved comment").toDF("rule")
    assert(LinkGraph.pslRulesDigest(reordered) === meta.rulesDigest)
    val dir3 = SparkTestBase.tmpDir("graft_psl_snap3")
    LinkGraph.rollForwardPsl(spark, dir2, Seq("z.com").toDF("host"),
      reordered, dir3) // must NOT raise
    // an EDITED rule list IS drift: raise naming both digests — a new
    // list can re-fold EXISTING hosts, advance would mix two folds
    val changed = Seq("com", "co.uk", "*.ck").toDF("rule") // !www.ck dropped
    val e = intercept[IllegalArgumentException] {
      LinkGraph.rollForwardPsl(spark, dir2, Seq("q.com").toDF("host"),
        changed, SparkTestBase.tmpDir("graft_psl_snap4"))
    }
    assert(e.getMessage.contains(meta.rulesDigest.toString) &&
      e.getMessage.contains(LinkGraph.pslRulesDigest(changed).toString),
      "drift must name both digests")
    // a bare domains table without meta/ refuses the probe
    val bare = SparkTestBase.tmpDir("graft_psl_bare")
    LinkGraph.pslDomainTable(hosts1, rules).write.parquet(s"$bare/domains")
    val e2 = intercept[IllegalArgumentException] {
      LinkGraph.pslSnapshotMeta(spark, bare) }
    assert(e2.getMessage.contains("meta/"))
  }

  test("pslDomainTable: the candidate bound derives from the rules; the cap raises loudly") {
    // a 5-label rule (the real PSL carries these, e.g. the S3 dualstack
    // endpoints) — a fixed 4-label bound would have silently never
    // matched it, folding the host to the implicit default instead
    val rules = Seq("com", "s3.dualstack.ap-south-1.amazonaws.com").toDF("rule")
    val hosts = Seq("bucket.s3.dualstack.ap-south-1.amazonaws.com").toDF("host")
    assert(LinkGraph.pslDomainTable(hosts, rules)
      .as[(String, String)].collect().toSeq ===
      Seq(("bucket.s3.dualstack.ap-south-1.amazonaws.com",
        "bucket.s3.dualstack.ap-south-1.amazonaws.com")),
      "the 5-label public suffix matches under the DERIVED bound — the " +
        "whole host is ps+1 and passes through registrable")
    // a rules file whose longest key exceeds the runaway cap raises
    // naming both numbers, never silently mis-folds
    val e = intercept[IllegalArgumentException] {
      LinkGraph.pslDomainTable(hosts, rules, maxRuleLabels = 4) }
    assert(e.getMessage.contains("5-label") && e.getMessage.contains("4"))
  }

  // ----------------------------------------------------- hostDegrees

  test("hostDegrees: zero-fills the side a host never appears on") {
    val edges = Seq(
      ("a.com", "b.com", 3L, 2L),
      ("a.com", "c.org", 1L, 1L),
      ("b.com", "c.org", 2L, 2L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    val got = LinkGraph.hostDegrees(edges).orderBy("host")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got === Seq(
      // host, out_hosts, in_hosts, out_links, in_links
      ("a.com", 2L, 0L, 4L, 0L), // pure source
      ("b.com", 1L, 1L, 2L, 3L),
      ("c.org", 0L, 2L, 0L, 3L))) // pure sink (dangling)
  }

  // -------------------------------------------------------- hostRank

  /** Independent PageRank model: plain Scala maps, the same simplified
    * iteration (dangling mass dropped), per-node sums as a sorted
    * sequential fold — the differential oracle for the DataFrame
    * implementation.
    */
  private def modelRank(pairs: Seq[(String, String)], iterations: Int,
                        damping: Double): Map[String, Double] = {
    val dedup = pairs.distinct
    val nodes = (dedup.map(_._1) ++ dedup.map(_._2)).distinct.sorted
    val outdeg = dedup.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val base = (1.0 - damping) / nodes.size
    var ranks = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to iterations) {
      val contribs = dedup.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => ranks(s) / outdeg(s) }.sorted
          .foldLeft(0.0)(_ + _)).toMap
      ranks = nodes.map(v =>
        v -> (base + damping * contribs.getOrElse(v, 0.0))).toMap
    }
    ranks
  }

  private def rankDf(pairs: Seq[(String, String)]) =
    pairs.toDF("src_host", "dst_host")
      .withColumn("n_links", lit(1L)).withColumn("n_pages", lit(1L))

  test("hostRank == independent model, bit-for-bit (sorted-fold determinism)") {
    // a graph with a hub, a cycle, a dangling sink, and a duplicate
    // edge the internal distinct must fold
    val pairs = Seq(
      "a" -> "hub", "b" -> "hub", "c" -> "hub", "hub" -> "a",
      "a" -> "b", "b" -> "c", "c" -> "sink", "a" -> "hub")
    for (iters <- Seq(1, 3, 7)) {
      val want = modelRank(pairs, iters, 0.85)
      val got = LinkGraph.hostRank(rankDf(pairs), iterations = iters)
        .as[(String, Double)].collect().toMap
      assert(got.keySet === want.keySet)
      got.foreach { case (h, r) =>
        assert(r === want(h), s"host $h at $iters iterations") }
    }
  }

  test("hostRank: one hand-computed iteration on a triangle") {
    // a->b, b->c, c->a; outdeg 1 each; N=3; after one iteration every
    // rank is (1-d)/3 + d*(1/3)  (exact doubles — same ops)
    val got = LinkGraph.hostRank(
      rankDf(Seq("a" -> "b", "b" -> "c", "c" -> "a")), iterations = 1)
      .as[(String, Double)].collect().toMap
    val want = (1.0 - 0.85) / 3 + 0.85 * (1.0 / 3)
    assert(got.values.toSeq === Seq(want, want, want))
  }

  test("hostRank: dangling mass leaks (sum < 1), hub outranks leaves") {
    val pairs = Seq("a" -> "hub", "b" -> "hub", "c" -> "hub",
      "hub" -> "sink", "a" -> "b")
    val got = LinkGraph.hostRank(rankDf(pairs), iterations = 5)
      .as[(String, Double)].collect().toMap
    assert(got.values.sum < 1.0) // sink keeps no out-edges: mass drops
    assert(got("hub") > got("a") && got("hub") > got("c"))
    assert(got("sink") > got("c")) // fed by the hub it outranks leaves
  }

  test("hostRank: sortedFold=false matches to float noise, same ordering") {
    val pairs = (1 to 40).map(i => s"h$i" -> s"h${(i * 7) % 41}") ++
      (1 to 40).map(i => s"h$i" -> "hub")
    val exact = LinkGraph.hostRank(rankDf(pairs), iterations = 4)
      .as[(String, Double)].collect().toMap
    val fast = LinkGraph.hostRank(rankDf(pairs), iterations = 4,
      sortedFold = false).as[(String, Double)].collect().toMap
    assert(exact.keySet === fast.keySet)
    exact.foreach { case (h, r) => assert(math.abs(r - fast(h)) < 1e-12) }
    assert(exact.toSeq.sortBy(-_._2).map(_._1) ===
      fast.toSeq.sortBy(-_._2).map(_._1))
  }

  test("hostRank: checkpointEvery materializes mid-loop, same result") {
    val pairs = Seq("a" -> "b", "b" -> "c", "c" -> "a", "a" -> "c")
    val plain = LinkGraph.hostRank(rankDf(pairs), iterations = 5)
      .as[(String, Double)].collect().toMap
    val ck = LinkGraph.hostRank(rankDf(pairs), iterations = 5,
      checkpointEvery = 2).as[(String, Double)].collect().toMap
    assert(plain === ck)
  }

  test("hostRank weightedByLinks: hand-computed split vote; unit weights reduce exactly") {
    // a → b with 3 links, a → c with 1: a's vote splits 3/4 vs 1/4
    val edges = Seq(("a", "b", 3L, 1L), ("a", "c", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    val got = LinkGraph.hostRank(edges, iterations = 1, weightedByLinks = true)
      .as[(String, Double)].collect().toMap
    val r0 = 1.0 / 3; val base = (1.0 - 0.85) / 3
    assert(got("b") === base + 0.85 * (r0 * 3.0 / 4.0))
    assert(got("c") === base + 0.85 * (r0 * 1.0 / 4.0))
    assert(got("b") > got("c"), "heavier endorsement must outrank")
    // all-unit weights: (rank·1)/Σ1 is the SAME double tree as
    // rank/outdeg — weighted must equal unweighted bit-for-bit
    val unit = rankDf(Seq("a" -> "hub", "b" -> "hub", "hub" -> "a", "a" -> "b"))
    val w = LinkGraph.hostRank(unit, iterations = 4, weightedByLinks = true)
      .as[(String, Double)].collect().toMap
    val u = LinkGraph.hostRank(unit, iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(w === u)
  }

  test("hostRank: validation raises on bad iterations/damping/empty graph") {
    val edges = rankDf(Seq("a" -> "b"))
    intercept[IllegalArgumentException] {
      LinkGraph.hostRank(edges, iterations = 0) }
    intercept[IllegalArgumentException] {
      LinkGraph.hostRank(edges, damping = 1.0) }
    intercept[IllegalArgumentException] {
      LinkGraph.hostRank(rankDf(Seq.empty), iterations = 1) }
  }

  // ---------------------------------------------------- hostPriorKeep

  test("hostPriorKeep: endorsed hosts survive, prior side broadcasts") {
    val p = Seq(
      (1L, "https://good.com/x"), (2L, "https://good.com/y"),
      (3L, "https://lone.net/z"), (4L, "https://spam.biz/w"))
      .toDF("doc_id", "url")
    // good.com endorsed by 2 hosts, lone.net by 1, spam.biz by none
    val edges = rankDf(Seq("a.org" -> "good.com", "b.org" -> "good.com",
      "a.org" -> "lone.net"))
    val kept = LinkGraph.hostPriorKeep(p, edges, minInHosts = 2)
    assert(kept.select("doc_id").as[Long].collect().sorted === Seq(1L, 2L))
    assert(kept.select("in_hosts").distinct().as[Long].collect() === Seq(2L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the host prior must broadcast — the page corpus never shuffles")
    intercept[IllegalArgumentException] {
      LinkGraph.hostPriorKeep(p, edges, minInHosts = 0) }
  }

  // ---------------------------------------------------- trainingOrder

  test("snapshotEdges: materialized snapshot == fold; stable across compaction; feeds rank") {
    val edgeRoot = SparkTestBase.tmpDir("graft_edges_snap") + "/idx"
    val snapDir = SparkTestBase.tmpDir("graft_edges_snap_out") + "/snap"
    val sink = StreamingGraph.linkGraphSink(edgeRoot) _
    for (b <- 0L until 5L)
      sink(pages((b, s"https://s${b % 2}.com/p$b",
        """<a href="https://hub.net/x">l</a><a href="https://s9.org/y">m</a>""")), b)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("src_host", "dst_host")
        .as[(String, String, Long, Long)].collect().toSeq
    val fold = collect(StreamingGraph.currentEdges(spark, edgeRoot))
    val snap = collect(StreamingGraph.snapshotEdges(spark, edgeRoot, snapDir))
    assert(snap === fold, "the landed snapshot must equal the live fold")
    // consumers read a SCAN, not a re-aggregation: no per-read fold
    val plan = spark.read.parquet(snapDir).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate"), "snapshot readers must not re-fold")
    // compaction doesn't change what a fresh snapshot sees
    graft.streaming.StreamingDedup.compactIndex(spark, edgeRoot)
    val snap2 = collect(StreamingGraph.snapshotEdges(spark, edgeRoot,
      snapDir + "2"))
    assert(snap2 === fold, "snapshot after compaction must be unchanged")
    // and the snapshot IS writeRankSnapshot's edge input: stream →
    // persisted rank, bit-identical to ranking the live fold
    val rankDir = SparkTestBase.tmpDir("graft_edges_snap_rank")
    val viaSnap = LinkGraph.writeRankSnapshot(spark,
      spark.read.parquet(snapDir), rankDir, iterations = 3)
      .as[(String, Double)].collect().toMap
    val direct = LinkGraph.hostRank(
      StreamingGraph.currentEdges(spark, edgeRoot), iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(viaSnap === direct)
  }

  test("the production loop: stream -> snapshot -> rank gates crawl 2 -> roll-forward") {
    // the operational story composed end to end: crawl 1 accretes the
    // graph per micro-batch, the fold lands as a snapshot, rank builds
    // from it, crawl 2's pages are GATED by that previous-crawl rank,
    // and crawl 2's edges advance the snapshot — provably equal to
    // rebuilding from both crawls
    val edgeRoot = SparkTestBase.tmpDir("graft_loop_edges") + "/idx"
    val snap1 = SparkTestBase.tmpDir("graft_loop_snap1")
    val snap2 = SparkTestBase.tmpDir("graft_loop_snap2")
    val sink = StreamingGraph.linkGraphSink(edgeRoot) _
    // crawl 1, three micro-batches: good.com endorsed by three hosts
    sink(pages((1L, "https://a.org/p", """<a href="https://good.com/x">l</a>""")), 0L)
    sink(pages((2L, "https://b.org/p", """<a href="https://good.com/y">l</a>""")), 1L)
    sink(pages((3L, "https://c.io/p",
      """<a href="https://good.com/z">l</a><a href="https://lone.net/w">m</a>""")), 2L)
    // snapshot the accreted fold, build the rank artifact from it
    val edges1 = StreamingGraph.snapshotEdges(spark, edgeRoot, s"$snap1/edges0")
    val rank1 = LinkGraph.writeRankSnapshot(spark,
      spark.read.parquet(s"$snap1/edges0"), snap1, iterations = 3)
    val n = rank1.count()
    // crawl 2's fetch list, gated by CRAWL 1's persisted rank — the
    // endorsed host's pages pass, an unendorsed newcomer's don't
    val crawl2Fetch = Seq(
      (10L, "https://good.com/new1"), (11L, "https://good.com/new2"),
      (12L, "https://fresh.biz/spam")).toDF("doc_id", "url")
    val gated = LinkGraph.hostRankKeep(crawl2Fetch,
      LinkGraph.rankSnapshot(spark, snap1),
      minRank = 1.5 * ((1.0 - 0.85) / n))
    assert(gated.select("doc_id").as[Long].collect().sorted === Seq(10L, 11L),
      "crawl 2 is gated by crawl 1's persisted rank")
    // crawl 2's fetched pages accrete and roll the snapshot forward
    val crawl2Pages = pages(
      (10L, "https://good.com/new1", """<a href="https://lone.net/q">l</a>"""),
      (11L, "https://good.com/new2", """<a href="https://d.dev/r">l</a>"""))
    val rolled = LinkGraph.rollForwardRank(spark, snap1,
      LinkGraph.hostEdges(crawl2Pages), snap2, iterations = 3)
      .as[(String, Double)].collect().toMap
    // ... provably == ranking the union of both crawls' edge folds
    val rebuilt = LinkGraph.hostRank(
      edges1.unionByName(LinkGraph.hostEdges(crawl2Pages))
        .groupBy("src_host", "dst_host")
        .agg(sum($"n_links").as("n_links"), sum($"n_pages").as("n_pages")),
      iterations = 3).as[(String, Double)].collect().toMap
    assert(rolled === rebuilt,
      "advancing the snapshot must equal rebuilding from both crawls")
    assert(rolled.contains("d.dev"), "crawl 2's new host entered the graph")
  }

  test("linkGraphSink: compactIndex folds batch partitions without changing the graph") {
    val edgeRoot = SparkTestBase.tmpDir("graft_edges_compact") + "/idx"
    val sink = StreamingGraph.linkGraphSink(edgeRoot) _
    for (b <- 0L until 4L)
      sink(pages((b, s"https://s$b.com/p", // one page per batch, all → hub
        """<a href="https://hub.net/x">l</a>""")), b)
    val before = StreamingGraph.currentEdges(spark, edgeRoot)
      .orderBy("src_host").as[(String, String, Long, Long)].collect().toSeq
    val folded = graft.streaming.StreamingDedup.compactIndex(spark, edgeRoot)
    assert(folded === 2, "4 batch partitions: all but the latest fold to one")
    val after = StreamingGraph.currentEdges(spark, edgeRoot)
      .orderBy("src_host").as[(String, String, Long, Long)].collect().toSeq
    assert(after === before,
      "compaction must not change the accreted graph (the fold re-aggregates)")
  }

  test("trainingOrder: a permutation — dense per-shard seq, balanced shards") {
    val docs = (0L until 300L).toDF("doc_id")
    val got = Export.trainingOrder(docs, nShards = 4, seed = "e1")
      .as[(Long, Long, Long)].collect()
    assert(got.length === 300)
    assert(got.map(_._1).sorted === (0L until 300L).toArray) // ids preserved
    got.groupBy(_._2).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < 4)
      // seq is dense 0..k-1 within the shard
      assert(rows.map(_._3).sorted === rows.indices.map(_.toLong).toArray)
      // md5 mod 4 keeps shards near-uniform (300/4 = 75 ± noise)
      assert(rows.length > 40 && rows.length < 110, s"shard $shard skewed")
    }
  }

  test("trainingOrder: deterministic per seed, reshuffled across seeds") {
    val docs = (0L until 200L).toDF("doc_id")
    def run(seed: String) =
      Export.trainingOrder(docs, 4, seed).as[(Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
    assert(run("e1") === run("e1")) // same seed: bit-identical
    val a = run("e1"); val b = run("e2")
    assert(a !== b) // a fresh epoch is a fresh permutation
    // and not just relabeled shards: within-shard ORDER changes too
    val orderA = a.sortBy(r => (r._2, r._3)).map(_._1)
    val orderB = b.sortBy(r => (r._2, r._3)).map(_._1)
    assert(orderA !== orderB)
  }

  // --------------------------------------------------- streaming face

  test("linkGraphSink: accreted graph == one-shot batch graph; replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val edgeRoot = SparkTestBase.tmpDir("graft_edges") + "/idx"
    def pg(id: Long, host: String, hrefs: String*) = LinkPage(id,
      s"https://$host/p$id",
      hrefs.map(h => s"""<a href="https://$h/x">l</a>""").mkString)
    val b1 = Seq(pg(1, "a.com", "b.com", "c.org"), pg(2, "a.com", "b.com"))
    val b2 = Seq(pg(3, "b.com", "c.org"), pg(4, "a.com", "b.com", "b.com"))
    val input = MemoryStream[LinkPage]
    val q = input.toDS().toDF().writeStream
      .foreachBatch(StreamingGraph.linkGraphSink(edgeRoot) _)
      .option("checkpointLocation", SparkTestBase.tmpDir("graft_edges_ck"))
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = StreamingGraph.currentEdges(spark, edgeRoot)
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    val batch = LinkGraph.hostEdges((b1 ++ b2).toDF())
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(streamed === batch)
    assert(streamed === Seq(
      ("a.com", "b.com", 4L, 3L), // page 4's doubled href counts twice
      ("a.com", "c.org", 1L, 1L),
      ("b.com", "c.org", 1L, 1L)))
    // redelivery overwrites its own partition: same fold afterwards
    StreamingGraph.linkGraphSink(edgeRoot)(b2.toDF(), 1L)
    val replayed = StreamingGraph.currentEdges(spark, edgeRoot)
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(replayed === batch)
    // and the fold feeds the batch consumers directly
    val deg = LinkGraph.hostDegrees(StreamingGraph.currentEdges(spark, edgeRoot))
      .where(col("host") === "b.com")
      .select("in_hosts", "in_links").as[(Long, Long)].collect()
    assert(deg === Seq((1L, 4L)))
  }

  // ------------------------------------------- persisted rank snapshot

  test("writeRankSnapshot: parquet round-trip == direct hostRank bit-for-bit") {
    val edges = rankDf(Seq("a" -> "hub", "b" -> "hub", "c" -> "hub",
      "hub" -> "a", "a" -> "b", "b" -> "c", "c" -> "sink"))
    val direct = LinkGraph.hostRank(edges, iterations = 4)
      .as[(String, Double)].collect().toMap
    val dir = SparkTestBase.tmpDir("graft_rank_snap")
    val landed = LinkGraph.writeRankSnapshot(spark, edges, dir, iterations = 4)
      .as[(String, Double)].collect().toMap
    assert(landed === direct, "doubles must land unchanged")
    // the re-read face is the same frame
    val reread = LinkGraph.rankSnapshot(spark, dir)
      .as[(String, Double)].collect().toMap
    assert(reread === direct)
    // and the edge face round-trips for the roll-forward input
    val e = spark.read.parquet(s"$dir/edges")
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(e === edges.orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect())
    // the landed metadata records host count + build params, and the
    // derived floor is the same IEEE sequence the probes interpolate
    val meta = LinkGraph.rankSnapshotMeta(spark, dir)
    assert(meta === LinkGraph.RankSnapshotMeta(direct.size.toLong, 4, 0.85,
      weightedByLinks = false, sortedFold = true))
    assert(meta.floor === (1.0 - 0.85) / direct.size.toLong)
  }

  test("rank snapshot metadata: probes without meta/ and param drift raise loudly") {
    val edges = rankDf(Seq("a" -> "hub", "b" -> "hub"))
    // a bare rank/edges layout (NOT a writeRankSnapshot artifact) must
    // refuse the metadata probe, not silently degrade
    val bare = SparkTestBase.tmpDir("graft_rank_bare")
    edges.write.parquet(s"$bare/edges")
    LinkGraph.hostRank(edges, iterations = 2).write.parquet(s"$bare/rank")
    val e0 = intercept[IllegalArgumentException] {
      LinkGraph.rankSnapshotMeta(spark, bare) }
    assert(e0.getMessage.contains("meta/"))
    // roll-forward with drifted params refuses, naming BOTH sides
    val snap = SparkTestBase.tmpDir("graft_rank_drift")
    LinkGraph.writeRankSnapshot(spark, edges, snap, iterations = 3)
    val out = SparkTestBase.tmpDir("graft_rank_drift_out")
    val e1 = intercept[IllegalArgumentException] {
      LinkGraph.rollForwardRank(spark, snap,
        rankDf(Seq("c" -> "hub")), out, iterations = 5) }
    assert(e1.getMessage.contains("iterations=3") &&
      e1.getMessage.contains("iterations=5"), "drift must name both sides")
    val e2 = intercept[IllegalArgumentException] {
      LinkGraph.rollForwardRank(spark, snap,
        rankDf(Seq("c" -> "hub")), out, iterations = 3, damping = 0.9) }
    assert(e2.getMessage.contains("0.85") && e2.getMessage.contains("0.9"))
    // sortedFold drift too: flipping it silently changes the per-node
    // SUMMATION ORDER — ranks would no longer bit-replay against the
    // prior snapshot, the exact failure mode the guard exists for
    val e3 = intercept[IllegalArgumentException] {
      LinkGraph.rollForwardRank(spark, snap,
        rankDf(Seq("c" -> "hub")), out, iterations = 3, sortedFold = false) }
    assert(e3.getMessage.contains("sortedFold=true") &&
      e3.getMessage.contains("sortedFold=false"),
      "fold-order drift must name both sides")
    // matching params still roll forward, and the new snapshot's meta
    // carries the advanced host count
    LinkGraph.rollForwardRank(spark, snap,
      rankDf(Seq("c" -> "hub")), out, iterations = 3)
    assert(LinkGraph.rankSnapshotMeta(spark, out).nHosts === 4L)
  }

  test("rollForwardRank == rebuild from all crawls' pages, bit-for-bit") {
    val crawl1 = pages(
      (1L, "https://a.com/p1",
        """<a href="https://b.com/x">1</a><a href="https://c.org/y">2</a>"""),
      (2L, "https://b.com/p2", """<a href="https://c.org/z">1</a>"""))
    val crawl2 = pages(
      (3L, "https://a.com/p3", """<a href="https://b.com/k">1</a>"""),
      (4L, "https://d.net/p4",
        """<a href="https://a.com/m">1</a><a href="https://b.com/n">2</a>"""))
    val snap1 = SparkTestBase.tmpDir("graft_rf_snap1")
    val snap2 = SparkTestBase.tmpDir("graft_rf_snap2")
    LinkGraph.writeRankSnapshot(spark, LinkGraph.hostEdges(crawl1), snap1,
      iterations = 3)
    val rolled = LinkGraph.rollForwardRank(spark, snap1,
      LinkGraph.hostEdges(crawl2), snap2, iterations = 3)
      .as[(String, Double)].collect().toMap
    val rebuilt = LinkGraph.hostRank(
      LinkGraph.hostEdges(crawl1.unionByName(crawl2)), iterations = 3)
      .as[(String, Double)].collect().toMap
    assert(rolled === rebuilt,
      "edge aggregation is associative — advancing must equal rebuilding")
    // the rolled snapshot's edge face equals the rebuilt edge frame too
    val rolledEdges = spark.read.parquet(s"$snap2/edges")
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    val rebuiltEdges = LinkGraph.hostEdges(crawl1.unionByName(crawl2))
      .orderBy("src_host", "dst_host")
      .as[(String, String, Long, Long)].collect()
    assert(rolledEdges === rebuiltEdges)
  }

  test("hostRankKeep: rank-threshold cut, prior side broadcasts; validation") {
    val edges = rankDf(Seq("a.org" -> "good.com", "b.org" -> "good.com",
      "c.io" -> "good.com", "good.com" -> "lone.net"))
    val dir = SparkTestBase.tmpDir("graft_rankkeep_snap")
    val rank = LinkGraph.writeRankSnapshot(spark, edges, dir, iterations = 3)
    val n = rank.count()
    val p = Seq(
      (1L, "https://good.com/x"), (2L, "https://lone.net/y"),
      (3L, "https://a.org/z"), (4L, "https://nowhere.biz/w"))
      .toDF("doc_id", "url")
    val kept = LinkGraph.hostRankKeep(p, rank,
      minRank = 1.5 * ((1.0 - 0.85) / n))
    val got = kept.select("doc_id").as[Long].collect().sorted
    // good.com (3 in-hosts) and lone.net (fed by good.com) clear 1.5×
    // the un-endorsed floor; the pure sources sit exactly AT the floor
    // and nowhere.biz is not in the graph at all
    assert(got === Seq(1L, 2L))
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the rank prior must broadcast — the page corpus never shuffles")
    intercept[IllegalArgumentException] {
      LinkGraph.hostRankKeep(p, rank, minRank = 0.0) }
  }

  test("hostRank: sorted-fold in-degree guard raises loudly; escapes work") {
    // hub with in-degree 3 under a bound of 2 → refuse, name the escape
    val edges = rankDf(Seq("a" -> "hub", "b" -> "hub", "c" -> "hub"))
    val e = intercept[IllegalArgumentException] {
      LinkGraph.hostRank(edges, iterations = 1, maxSortedFoldInDegree = 2) }
    assert(e.getMessage.contains("sortedFold=false"))
    assert(e.getMessage.contains("3 distinct in-hosts"))
    // both escapes: the order-free fold, or raising the bound
    LinkGraph.hostRank(edges, iterations = 1, sortedFold = false,
      maxSortedFoldInDegree = 2).collect()
    LinkGraph.hostRank(edges, iterations = 1,
      maxSortedFoldInDegree = 3).collect()
  }

  test("trainingOrder: extra columns ride along; null id raises; no global sort") {
    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val got = Export.trainingOrder(docs, 2)
    assert(got.columns.toSeq === Seq("doc_id", "text", "shard", "seq"))
    val bad = Seq(Some(1L), None).toDF("doc_id")
    val e = intercept[Exception] {
      Export.trainingOrder(bad, 2).collect() }
    assert(e.getMessage.contains("null id") ||
      e.getCause != null && e.getCause.getMessage.contains("null id"))
    intercept[IllegalArgumentException] { Export.trainingOrder(docs, 0) }
    // column ownership: inputs already carrying shard/seq/__ord refuse
    // loudly instead of being silently clobbered
    val clash = intercept[IllegalArgumentException] {
      Export.trainingOrder(Seq((1L, 0L)).toDF("doc_id", "shard"), 2) }
    assert(clash.getMessage.contains("shard"))
    // the scale contract: ONE hash exchange (the window on shard),
    // never a range exchange (global sort)
    val plan = Export.trainingOrder((0L until 50L).toDF("doc_id"), 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange rangepartitioning"),
      "trainingOrder must not global-sort")
    assert("Exchange hashpartitioning".r.findAllMatchIn(plan).size === 1)
  }
}
