package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.exec.Params
import graft.merge.JournalMerge

/** ScalaCheck property tests (SURVEY §5): model-based checks of the
  * merge comparator and the SQL parameter substitution.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def check(p: Prop, minSuccessful: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  // ---- Params.fill ----------------------------------------------------

  private val nameGen = Gen.identifier.suchThat(_.nonEmpty).map(_.take(8))
  private val litGen = Gen.listOf(Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.const(" "),
    1 -> Gen.oneOf("{{", "}}"))).map(_.mkString)

  test("property: fill resolves every placeholder and unescapes braces") {
    val tmplGen = for {
      parts <- Gen.listOfN(4, litGen)
      names <- Gen.listOfN(3, nameGen)
    } yield (parts, names)
    check(Prop.forAll(tmplGen) { case (parts, names) =>
      val values = names.map(n => n -> s"V_$n").toMap
      val sql = parts.zipAll(names.map(n => s"{$n}"), "", "").map { case (a, b) => a + b }.mkString
      val out = Params.fill(sql, values)
      val expected = parts.zipAll(names.map(values), "", "").map { case (a, b) =>
        a.replace("{{", "{").replace("}}", "}") + b
      }.mkString
      out == expected
    })
  }

  test("property: unresolved placeholder always throws MissingParamException") {
    check(Prop.forAll(nameGen) { n =>
      Prop.throws(classOf[Params.MissingParamException]) {
        Params.fill(s"SELECT {$n}", Map.empty[String, String])
      }
    })
  }

  // ---- merge comparator vs a sequential model -------------------------

  private case class Rec(id: Int, v: String, t: Option[Int], l: Option[Int], s: Option[Int])
  private val recGen = for {
    id <- Gen.choose(0, 5)
    v <- Gen.identifier.map(_.take(6))
    t <- Gen.option(Gen.choose(0, 3))
    l <- Gen.option(Gen.choose(0, 3))
    s <- Gen.option(Gen.choose(0, 3))
  } yield Rec(id, v, t, l, s)

  /** Postgres-parity comparator: transform DESC NULLS FIRST, load DESC
    * NULLS FIRST, seqno ASC NULLS LAST — None models SQL NULL.
    */
  private def beats(a: Rec, b: Rec): Boolean = {
    def descNullsFirst(x: Option[Int], y: Option[Int]): Int = (x, y) match {
      case (None, None) => 0
      case (None, _) => -1 // null sorts first on DESC -> wins
      case (_, None) => 1
      case (Some(i), Some(j)) => j.compareTo(i)
    }
    def ascNullsLast(x: Option[Int], y: Option[Int]): Int = (x, y) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(i), Some(j)) => i.compareTo(j)
    }
    val c1 = descNullsFirst(a.t, b.t)
    if (c1 != 0) return c1 < 0
    val c2 = descNullsFirst(a.l, b.l)
    if (c2 != 0) return c2 < 0
    ascNullsLast(a.s, b.s) < 0
  }

  test("property: latestPerKey == sequential-model winner per key (incl. NULL orders)") {
    // ties on the full chain are broken arbitrarily in both the window
    // and the model, so generators keep (t,l,s) chains collision-free
    // per id by construction: filter journals with duplicate chains
    val journalGen = Gen.listOfN(12, recGen)
      .map(rs => rs.groupBy(r => (r.id, r.t, r.l, r.s)).map(_._2.head).toList)
    check(Prop.forAll(journalGen) { rs =>
      rs.isEmpty || {
        val df = rs.map(r => (r.id, r.v,
            r.t.map(i => java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")).orNull,
            r.l.map(i => java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")).orNull,
            r.s.map(_.toLong).map(java.lang.Long.valueOf).orNull))
          .toDF("id", "v", "__transform_dt", "__load_dt", "__seqno")
          .withColumn("__record_state", org.apache.spark.sql.functions.lit("A"))
        val got = JournalMerge.full(df, Seq("id"))
          .select("id", "v").as[(Int, String)].collect().toMap
        val want = rs.groupBy(_.id).map { case (id, group) =>
          id -> group.reduceLeft((a, b) => if (beats(b, a)) b else a).v
        }
        // compare only keys whose winner is unique under the comparator
        want.forall { case (id, v) =>
          val group = rs.filter(_.id == id)
          val winner = group.reduceLeft((a, b) => if (beats(b, a)) b else a)
          val coWinners = group.filterNot(g => beats(winner, g))
          coWinners.size > 1 || got(id) == v
        }
      }
    }, minSuccessful = 30)
  }

  // ---- as-of join vs a sequential model -------------------------------

  test("property: asOf == model on random keys/times (incl. nulls)") {
    import graft.ext.AsOfJoin
    val keyGen = Gen.option(Gen.oneOf("a", "b"))
    val tradeGen = Gen.listOfN(8, Gen.zip(keyGen, Gen.choose(0L, 20L)))
    val quoteGen = Gen.listOfN(8, Gen.zip(keyGen, Gen.option(Gen.choose(0L, 20L))))
    check(Prop.forAll(tradeGen, quoteGen) { (ts, qs) =>
      val trades = ts.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val quotes = qs.zipWithIndex.map { case ((k, t), i) => (100L + i, k, t) }
      val tDf = trades.toDF("trade_id", "sym", "t")
      val qDf = quotes.toDF("quote_id", "sym", "qt")
      // model: candidates share the key (null-safe) and have qt <= t or
      // a null qt (null time sorts first = before everything); winner =
      // max by (qt with null lowest, quote_id)
      val want = trades.flatMap { case (tid, k, t) =>
        val cands = quotes.filter { case (_, qk, qt) =>
          qk == k && qt.forall(_ <= t)
        }
        if (cands.isEmpty) None
        else Some(tid -> cands.maxBy { case (qid, _, qt) =>
          (qt.getOrElse(Long.MinValue), qid)
        }._1)
      }.toSet
      def run(df: => org.apache.spark.sql.DataFrame) =
        df.select("trade_id", "quote_id").as[(Long, Long)].collect().toSet
      run(AsOfJoin.asOf(tDf, qDf, Seq("sym"), "t", "qt",
        "quote_id", Seq("quote_id"))) == want
    }, minSuccessful = 15)
  }

  // ---- ShingleHashes vs the string-shingle model ----------------------

  test("property: hashed shingle sets have the model's cardinality and Jaccard") {
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val textGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))
    check(Prop.forAll(textGen, textGen) { (ta, tb) =>
      val df = Seq((1L, ta), (2L, tb)).toDF("doc_id", "text")
      val hs = df.select($"doc_id",
        graft.functions.ArrayExprs.shingleHashes($"text", 2).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      def model(t: String): Set[String] =
        t.split(" ").sliding(2).map(_.mkString(" ")).toSet
      val (ma, mb) = (model(ta), model(tb))
      hs(1L).size == ma.size && hs(2L).size == mb.size && {
        val inter = hs(1L).toSet.intersect(hs(2L).toSet).size
        inter == ma.intersect(mb).size
      }
    }, minSuccessful = 30)
  }

  // ---- deterministic sampling / ids vs Scala-side models --------------

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("property: samplePerGroup == md5-order model, invariant under repartitioning") {
    import graft.ext.Sampling
    val caseGen = for {
      ids <- Gen.listOfN(30, Gen.choose(0L, 500L)).map(_.distinct)
      keys <- Gen.listOfN(30, Gen.oneOf("a", "b", "c"))
      parts <- Gen.choose(1, 8)
    } yield (ids.zip(keys), parts)
    check(Prop.forAll(caseGen) { case (rows0, parts) =>
      // distinct ids AND distinct (id,key) rows; never empty (>=1 id)
      val rows = rows0.distinctBy(_._1)
      val df = rows.toDF("doc_id", "lang").repartition(parts)
      val got = Sampling.samplePerGroup(df, k = 4, keyCol = "lang")
        .select("doc_id").as[Long].collect().toSet
      // model: per group, rank by (md5(id+salt), id), take 4
      val want = rows.groupBy(_._2).values.flatMap { g =>
        g.map(_._1).sortBy(id => (md5hex(id.toString + "graft"), id)).take(4)
      }.toSet
      got == want
    }, minSuccessful = 10)
  }

  test("property: orderedIds == sorted-index model for any partitioning") {
    import graft.ext.Ids
    val caseGen = for {
      vs <- Gen.listOfN(40, Gen.choose(-1000L, 1000L)).map(_.distinct)
      shuffleParts <- Gen.choose(1, 6)
      rangeParts <- Gen.choose(1, 6)
    } yield (vs, shuffleParts, rangeParts)
    check(Prop.forAll(caseGen) { case (vs, shuffleParts, rangeParts) =>
      val df = vs.toDF("v").repartition(shuffleParts)
      val got = Ids.orderedIds(df, Seq("v"), rangeParts)
        .select("v", "row_id").as[(Long, Long)].collect().toMap
      val want = vs.sorted.zipWithIndex.map { case (v, i) => v -> (i + 1L) }.toMap
      got == want
    }, minSuccessful = 10)
  }

  test("property: salted merge == plain merge on random journals (unique winners)") {
    // the q71 contract under fuzzing, not just hot-key fixtures: with
    // the same comparator, two-phase (pk, salt) -> pk dedup must pick
    // the identical winner wherever the winner is UNIQUE (full-chain
    // ties are broken arbitrarily in both variants, like the
    // reference's unordered row_number ties)
    val journalGen = Gen.listOfN(12, recGen)
      .map(rs => rs.groupBy(r => (r.id, r.t, r.l, r.s)).map(_._2.head).toList)
    check(Prop.forAll(journalGen) { rs =>
      rs.isEmpty || {
        val df = rs.map(r => (r.id, r.v,
            r.t.map(i => java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")).orNull,
            r.l.map(i => java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 00:00:00")).orNull,
            r.s.map(_.toLong).map(java.lang.Long.valueOf).orNull))
          .toDF("id", "v", "__transform_dt", "__load_dt", "__seqno")
          .withColumn("__record_state", org.apache.spark.sql.functions.lit("A"))
        val plain = JournalMerge.latestPerKey(df, Seq("id"))
          .select("id", "v").as[(Int, String)].collect().toMap
        val salted = JournalMerge.latestPerKeySalted(df, Seq("id"), saltBuckets = 4)
          .select("id", "v").as[(Int, String)].collect().toMap
        rs.groupBy(_.id).forall { case (id, group) =>
          val winner = group.reduceLeft((a, b) => if (beats(b, a)) b else a)
          val coWinners = group.filterNot(g => beats(winner, g))
          coWinners.size > 1 || (plain(id) == salted(id))
        }
      }
    }, minSuccessful = 20)
  }

  // ---- lmPerplexity vs an independent sequential model ----------------

  test("property: lmPerplexity matches an independent Scala bigram model bit-for-bit") {
    import graft.ext.TextOps
    // small alphabet forces real bigram collisions across docs
    val tokGen = Gen.oneOf("a", "b", "c", "d")
    val docGen = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, tokGen))
    val corpusGen = Gen.chooseNum(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    val k = 0.5
    check(Prop.forAll(corpusGen) { docs =>
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
      val got = TextOps.lmPerplexity(df, addK = k)
        .select("doc_id", "n_bigrams", "cross_entropy")
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None
          else Some((r.getLong(1), r.getDouble(2))))).toMap
      // independent model: plain Scala maps + the SAME double tree the
      // operator promises (StrictMath log2, multiplicity-folded in
      // (prev, cur) sort order, one division)
      def log2(x: Double) = StrictMath.log(x) / StrictMath.log(2.0)
      val bigrams = docs.map(_.sliding(2).filter(_.length == 2)
        .map(p => (p(0), p(1))).toList)
      val c2 = bigrams.flatten.groupBy(identity).map { case (bg, xs) => bg -> xs.length }
      val c1 = c2.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
      val v = docs.flatten.distinct.length.toDouble
      val want = docs.indices.map { i =>
        val bgs = bigrams(i)
        i.toLong -> (if (bgs.isEmpty) None else {
          val byBg = bgs.groupBy(identity).view.mapValues(_.length).toList
            .sortBy(_._1) // (prev, cur) lexicographic = the operator's fold order
          val sum = byBg.foldLeft(0.0) { case (acc, (bg, m)) =>
            acc + m.toDouble * (log2(c2(bg) + k) - log2(c1(bg._1) + k * v))
          }
          Some((bgs.length.toLong, -sum / bgs.length.toDouble))
        })
      }.toMap
      got == want
    }, minSuccessful = 15)
  }

  // ---- SimHash vs an exhaustive all-pairs model -----------------------

  test("property: nearDupSimHash == exhaustive all-pairs model on randomized corpora") {
    import graft.ext.Dedup
    // the differential closes q17's oracle gap two ways: the signature
    // math (bit-count accumulation, 16-bit chunk packing) is recomputed
    // independently, and the pair set comes from brute-force ALL-PAIRS
    // Hamming over full signatures — so equality also proves the
    // 4-chunk pigeonhole index generates every <=3-Hamming candidate
    val vocab = (0 until 48).map(i => s"tok$i")
    // token hashes are the model's INPUT encoding (Spark's xxhash64,
    // fetched once); everything after the hash is independent Scala
    val hashOf: Map[String, Long] = vocab.toDF("w")
      .select($"w", org.apache.spark.sql.functions.xxhash64($"w").as("h"))
      .as[(String, Long)].collect().toMap
    def modelSig(tokens: Seq[String]): Seq[Long] = {
      val counts = new Array[Int](64)
      for (t <- tokens; b <- 0 until 64)
        if (((hashOf(t) >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
      (0 until 4).map { c =>
        (0 until 16).foldLeft(0L)((acc, i) =>
          acc * 2 + (if (counts(c * 16 + i) > 0) 1L else 0L))
      }
    }
    def hamming(a: Seq[Long], b: Seq[Long]): Int =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
    // corpora of base docs plus light mutations: nmut=0 yields exact
    // duplicates (Hamming 0), small nmut lands near the <=3 boundary —
    // both sides of the cut get exercised every run
    val corpusGen: Gen[Seq[Seq[String]]] = Gen.choose(2, 3).flatMap { nBase =>
      Gen.listOfN(nBase, for {
        base <- Gen.listOfN(40, Gen.oneOf(vocab))
        k <- Gen.choose(1, 3)
        muts <- Gen.listOfN(k, for {
          nmut <- Gen.choose(0, 3)
          pw <- Gen.listOfN(nmut, Gen.zip(Gen.choose(0, 39), Gen.oneOf(vocab)))
        } yield pw.foldLeft(base.toVector) { case (v, (p, w)) =>
          v.updated(p, w)
        }.toSeq)
      } yield base.toSeq +: muts).map(_.flatten)
    }
    check(Prop.forAll(corpusGen) { docs =>
      val sigs = docs.zipWithIndex.map { case (ts, i) => (i.toLong, modelSig(ts)) }
      val want = (for {
        (a, sa) <- sigs
        (b, sb) <- sigs if a < b
        h = hamming(sa, sb) if h <= 3
      } yield (a, b, h)).toSet
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dedup.nearDupSimHash(df).as[(Long, Long, Int)].collect().toSet
      got == want
    }, minSuccessful = 10)
  }

  test("property: containmentPairs and dedupContained == set-based Scala model") {
    import graft.ext.Dedup
    // small vocab forces real overlap; 2-gram shingles, τ = 0.5 sits in
    // the middle so both kept and dropped pairs occur every run
    val vocab = (0 until 8).map(i => s"w$i")
    val corpusGen: Gen[Seq[Seq[String]]] = Gen.choose(3, 5).flatMap { n =>
      Gen.listOfN(n, Gen.choose(4, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.toSeq)))
    }
    val tau = 0.5
    check(Prop.forAll(corpusGen) { docs =>
      def sh(ts: Seq[String]): Set[String] =
        if (ts.length < 2) Set.empty else ts.sliding(2).map(_.mkString(" ")).toSet
      val sets = docs.zipWithIndex.map { case (ts, i) => i.toLong -> sh(ts) }
      val wantPairs = (for {
        (a, sa) <- sets; (b, sb) <- sets
        if a != b && sa.nonEmpty
        inter = sa.intersect(sb).size if inter > 0
        cont = inter.toDouble / sa.size.toDouble if cont >= tau
      } yield (a, b, cont)).toSet
      val df = docs.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("doc_id", "text")
      val gotPairs = Dedup.containmentPairs(df, shingleSize = 2, threshold = tau)
        .as[(Long, Long, Double)].collect().toSet
      val wantKept = sets.collect { case (a, sa) if !wantPairs.exists {
        case (pa, pb, _) =>
          pa == a && {
            val nb = sets.toMap.apply(pb).size
            nb > sa.size || (nb == sa.size && pb < a)
          }
      } => a }.toSet
      val gotKept = Dedup.dedupContained(df, shingleSize = 2, threshold = tau)
        .select("doc_id").as[Long].collect().toSet
      gotPairs == wantPairs && gotKept == wantKept
    }, minSuccessful = 20)
  }

  test("property: native chunk_hamming == the HOF chain it replaced (incl. mismatched lengths)") {
    import org.apache.spark.sql.functions.{aggregate, bit_count, col, lit, zip_with}
    val sigGen = Gen.choose(2, 6).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 0xFFFF)).map(_.toArray))
    check(Prop.forAll(Gen.listOfN(24, Gen.zip(sigGen, sigGen))) { pairs =>
      val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a, b) }.toDF("i", "a", "b")
      val out = df.select(col("i"),
          graft.functions.ArrayExprs.chunkHamming(col("a"), col("b")).as("native"),
          aggregate(zip_with(col("a"), col("b"), (x, y) => bit_count(x.bitwiseXOR(y))),
            lit(0), (acc, v) => acc + v).as("hof"))
        .collect()
      out.forall { r =>
        // equal lengths: identical distance; mismatched: both NULL
        (r.isNullAt(1) && r.isNullAt(2)) || (!r.isNullAt(1) && r.getInt(1) == r.getInt(2))
      }
    }, minSuccessful = 20)
  }

  test("chunk_hamming: non-nullable mismatched-width inputs yield NULL under codegen") {
    import org.apache.spark.sql.functions.{array, col, lit}
    // array(lit...) columns are non-nullable: without the expression's
    // `nullable = true` override the generated `isNull = true;` would
    // assign to a constant false literal (Janino failure → silent
    // interpreted fallback) and eval could hand an undeclared null
    // downstream. This pins the declared contract.
    val df = spark.range(2).select(
      array(lit(1), lit(2)).as("a"),
      array(lit(1), lit(2), lit(3)).as("b"))
    assert(!df.schema("a").nullable && !df.schema("b").nullable)
    val out = df.select(
      graft.functions.ArrayExprs.chunkHamming(col("a"), col("b")).as("d"),
      graft.functions.ArrayExprs.chunkHamming(col("a"), col("a")).as("same"))
    assert(out.schema("d").nullable,
      "chunk_hamming must declare nullable: it produces null beyond child-null")
    out.collect().foreach { r =>
      assert(r.isNullAt(0), "mismatched widths must be NULL, not truncated")
      assert(r.getInt(1) == 0)
    }
  }

  test("property: quantile compactor rank error stays in envelope; split-merge == whole below capacity") {
    import graft.functions.QuantileBuffer
    // random multisets, random k: every grid quantile's RANK error must
    // stay within the deterministic-compactor envelope; and with
    // n < k the estimate must be the exact order statistic
    val caseGen = for {
      k <- Gen.oneOf(64, 128, 256)
      n <- Gen.choose(1, 4000)
      vs <- Gen.listOfN(n, Gen.choose(-1e6, 1e6))
    } yield (k, vs)
    check(Prop.forAll(caseGen) { case (k, vs) =>
      val buf = new QuantileBuffer(k)
      vs.foreach(buf.update)
      val sorted = vs.sorted
      val n = vs.size
      Seq(0.0, 0.1, 0.5, 0.9, 1.0).forall { q =>
        val est = buf.estimate(q).get
        if (n < k) {
          est == sorted(math.floor(q * (n - 1)).toInt)
        } else {
          // rank of the estimate vs the target rank, both as fractions.
          // The envelope scales with 1/k: the top compaction level's
          // value spacing alone is ~2·n/k ranks, plus the uncancelled
          // half-compaction per level — 6/k covers both with margin.
          val rank = sorted.count(_ <= est).toDouble
          val target = q * (n - 1) + 1
          math.abs(rank - target) / n <= 6.0 / k
        }
      }
    }, minSuccessful = 40)
    // split-merge == whole, below capacity (no compaction anywhere)
    check(Prop.forAll(Gen.listOfN(100, Gen.choose(-100.0, 100.0)), Gen.choose(1, 99)) {
      (vs: List[Double], cut: Int) =>
        val whole = new QuantileBuffer(256)
        vs.foreach(whole.update)
        val a = new QuantileBuffer(256); vs.take(cut).foreach(a.update)
        val b = new QuantileBuffer(256); vs.drop(cut).foreach(b.update)
        a.merge(b)
        Seq(0.0, 0.25, 0.5, 0.75, 1.0).forall(q => a.estimate(q) == whole.estimate(q))
    }, minSuccessful = 40)
  }

  test("property: gopherRules == independent rule model on randomized punctuated corpora") {
    import graft.ext.TextOps
    // vocab deliberately hits every rule: short/long tokens, '#', '...'
    // and unicode '…' symbols, non-alphabetic tokens, bullet and
    // ellipsis line shapes; docs are 1-3 LINES of 1-12 tokens
    val vocab = Seq("aa", "bb", "cc", "dd", "longword", "x", "#", "...",
      "12", "zz...", "…", "ee…")
    val lineGen = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
      .flatMap(toks => Gen.oneOf("", "- ", "* ").map(pfx => pfx + toks.mkString(" ")))
    val docGen = Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, lineGen))
      .map(_.mkString("\n"))
    val corpusGen = Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, docGen))
    val (minW, maxW, minL, maxL, maxSym, minAl, topK, minStops, maxBul, maxEll) =
      (3, 20, 1.0, 4.0, 0.2, 0.5, 3, 1, 0.5, 0.4)
    check(Prop.forAll(corpusGen) { docs =>
      // independent model: plain Scala over the same rule definitions
      val tokOf = (t: String) => t.split(" ", -1).toSeq
      val counts = docs.flatMap(tokOf).groupBy(identity)
        .map { case (k, v) => k -> v.size }
      val stops = counts.toSeq.sortBy { case (t, n) => (-n, t) }.take(topK)
        .map(_._1).toSet
      val want = docs.zipWithIndex.map { case (text, i) =>
        val toks = tokOf(text)
        val lines = text.split("\n", -1).toSeq
        val nW = toks.size.toLong
        val meanLen = toks.map(_.length).sum.toDouble / nW
        val nHash = text.count(_ == '#').toLong
        val ellChars = (text.length - text.replace("...", "").length).toLong
        val ellUni = text.count(_ == '…').toLong
        val hashR = nHash.toDouble / nW
        val ellR = (ellChars + 3L * ellUni).toDouble / (3L * nW)
        val alpha = toks.count(_.exists(c =>
          (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z'))).toDouble / nW
        val bul = lines.count(l => l.startsWith("- ") || l.startsWith("* ") ||
          l.startsWith("•")).toDouble / lines.size
        val ell = lines.count(l => l.endsWith("...") || l.endsWith("…"))
          .toDouble / lines.size
        val hits = toks.distinct.count(stops.contains).toLong
        val keep = nW >= minW && nW <= maxW && meanLen >= minL &&
          meanLen <= maxL && hashR <= maxSym && ellR <= maxSym &&
          alpha >= minAl && hits >= minStops && bul <= maxBul && ell <= maxEll
        i.toLong -> ((nW, meanLen, hashR, ellR, alpha, bul, ell, hits, keep))
      }.toMap
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextOps.gopherRules(df, minW, maxW, minL, maxL, maxSym,
          minAl, topK, minStops, maxBul, maxEll)
        .select("doc_id", "n_words", "mean_word_len", "hash_ratio",
          "ellipsis_ratio", "alpha_word_frac", "bullet_line_frac",
          "ellipsis_line_frac", "n_stop_hits", "keep")
        .as[(Long, Long, Double, Double, Double, Double, Double, Double, Long, Boolean)]
        .collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10)))
        .toMap
      got == want
    }, minSuccessful = 10)
  }

  test("property: stripDuplicateLines == independent keep-first model on randomized corpora") {
    import graft.ext.Dedup
    // tiny line vocabulary FORCES cross-doc and within-doc collisions;
    // empty lines appear too (minChars exemption exercised every run)
    val lineGen = Gen.frequency(
      6 -> Gen.choose(1, 3).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "d"))).map(_.mkString(" ")),
      1 -> Gen.const(""))
    val docGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, lineGen))
      .map(_.mkString("\n"))
    val corpusGen = Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
    check(Prop.forAll(corpusGen) { docs =>
      // independent model: plain Scala over the same keep-first rule —
      // a qualifying (len >= 1) occurrence survives iff it is the
      // (id, pos)-lexicographic first of its line corpus-wide
      val occ = docs.zipWithIndex.flatMap { case (t, id) =>
        t.split("\n", -1).zipWithIndex.map { case (l, p) => (id.toLong, p, l) } }
      val firstOf = occ.filter(_._3.nonEmpty).groupBy(_._3)
        .map { case (l, os) => l -> os.map(o => (o._1, o._2)).min }
      val want = docs.zipWithIndex.map { case (t, id) =>
        val lines = t.split("\n", -1).zipWithIndex
        val kept = lines.filter { case (l, p) =>
          l.isEmpty || firstOf(l) == ((id.toLong, p)) }
        id.toLong -> ((kept.map(_._1).mkString("\n"),
          (lines.length - kept.length).toLong))
      }.toMap
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.stripDuplicateLines(df)
        .select("doc_id", "text", "n_cut_lines")
        .as[(Long, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      got == want
    }, minSuccessful = 15)
  }

  test("property: dsirScore == independent hashed-feature importance model") {
    import graft.ext.Dsir
    // small vocab FORCES shared features and bucket collisions between
    // random candidate/target corpora — the smoothing, the left-join
    // coalesce, and the bit-length quantization all get exercised on
    // every run; the model recomputes everything from MessageDigest up
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def feats(toks: Seq[String]): Seq[String] =
      toks ++ toks.zip(toks.drop(1)).map { case (a, b) => s"$a $b" }
    def bucket(f: String): String = md5hex(f + "graft").substring(0, 4)
    def bl(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val vocab = (0 until 10).map(i => s"w$i")
    val docGen = Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    val caseGen = for {
      cand <- Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, docGen))
      tgt <- Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, docGen))
    } yield (cand, tgt)
    check(Prop.forAll(caseGen) { case (cand, tgt) =>
      val rawB = cand.flatMap(d => feats(d)).map(bucket)
      val tgtB = tgt.flatMap(d => feats(d)).map(bucket)
      val rawCf = rawB.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tgtCf = tgtB.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val rn = rawB.size.toLong
      val tn = tgtB.size.toLong
      val want = cand.zipWithIndex.map { case (d, i) =>
        val bs = feats(d).map(bucket)
        i.toLong -> ((bs.size.toLong, bs.map(b =>
          (bl(rn + 65536L) - bl(rawCf(b) + 1L)) -
            (bl(tn + 65536L) - bl(tgtCf.getOrElse(b, 0L) + 1L))).sum))
      }.toMap
      val candDf = cand.zipWithIndex
        .map { case (d, i) => (i.toLong, d.mkString(" ")) }.toDF("doc_id", "text")
      val tgtDf = tgt.zipWithIndex
        .map { case (d, i) => (1000L + i, d.mkString(" ")) }.toDF("doc_id", "text")
      val got = Dsir.dsirScore(candDf, tgtDf)
        .select("doc_id", "n_features", "weight_bits")
        .as[(Long, Long, Long)].collect()
        .map { case (id, n, w) => id -> ((n, w)) }.toMap
      got == want
    }, minSuccessful = 10)
  }

  test("property: runDag statuses == independent reachability model, both modes") {
    import graft.exec.{DagStatus, EtlTask, Tasks}
    // random DAGs by construction (edges only i -> j with i < j), with
    // random task failures sprinkled in; duplicate edges kept sometimes
    // to exercise the single-edge collapse
    val dagGen = for {
      n <- Gen.choose(1, 10)
      edges <- if (n < 2) Gen.const(List.empty[(Int, Int)])
               else Gen.listOf(for {
                 j <- Gen.choose(1, n - 1)
                 i <- Gen.choose(0, j - 1)
               } yield (i, j))
      // per task: attempts that FAIL before one would succeed (0 =
      // clean first try) and the retry budget — a task ultimately
      // fails iff failsFirst > retries (Airflow's semantics)
      failsFirst <- Gen.listOfN(n, Gen.frequency(
        4 -> Gen.const(0), 1 -> Gen.choose(1, 3)))
      retries <- Gen.listOfN(n, Gen.choose(0, 2))
    } yield (n, edges, failsFirst, retries)
    check(Prop.forAll(dagGen) { case (n, edges, failsFirst, retries) =>
      val ids = (0 until n).map(i => f"t$i%02d")
      val deps = edges.groupBy(_._2)
        .map { case (d, es) => ids(d) -> es.map(e => ids(e._1)) }
      val upsOf = (0 until n)
        .map(j => edges.filter(_._2 == j).map(_._1).distinct).toVector
      val fails = (0 until n).map(i => failsFirst(i) > retries(i))
      // a task succeeds iff its whole ancestry (and itself) is clean;
      // fails iff its flag is set but the ancestry is clean; skips
      // otherwise — computable in index order since edges point forward
      val clean = Array.fill(n)(false)
      for (i <- 0 until n)
        clean(i) = upsOf(i).forall(u => clean(u) && !fails(u))
      val want = (0 until n).map(i =>
        if (!clean(i)) "skipped" else if (fails(i)) "failed" else "ok")
      Seq(1, 3).forall { par =>
        val tasks = (0 until n).map { i =>
          val made = new java.util.concurrent.atomic.AtomicInteger(0)
          EtlTask(ids(i),
            () => if (made.incrementAndGet() <= failsFirst(i))
              throw new RuntimeException("boom"),
            retries = retries(i))
        }
        val run = Tasks.runDag(tasks, deps, parallelism = par)
        val statusesMatch = (0 until n).forall { i =>
          run.status.get(ids(i)) match {
            case Some(DagStatus.Succeeded) => want(i) == "ok"
            case Some(DagStatus.Failed(_)) => want(i) == "failed"
            case Some(DagStatus.Skipped(blocked)) => want(i) == "skipped" &&
              blocked == upsOf(i).map(ids).filter(u =>
                run.status(u) != DagStatus.Succeeded).sorted
            case None => false
          }
        }
        // completionOrder: exactly the non-skipped tasks, once each, and
        // never before an upstream that also ran
        val order = run.completionOrder
        val pos = order.zipWithIndex.toMap
        statusesMatch && order.distinct == order &&
          order.toSet == (0 until n).filter(want(_) != "skipped").map(ids).toSet &&
          edges.forall { case (u, d) =>
            !pos.contains(ids(d)) || pos(ids(u)) < pos(ids(d)) }
      }
    }, minSuccessful = 40)
  }

  // ---- Warc framing ----------------------------------------------------

  test("property: WARC write-parse round-trip, plain == gzip, for arbitrary records") {
    import graft.io.Warc
    val urlGen = for {
      host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(12))
      path <- Gen.listOf(Gen.alphaNumChar).map(_.mkString.take(20))
    } yield s"https://$host.example.com/$path"
    val bodyGen = Gen.listOf(Gen.choose(0, 255)).map(_.map(_.toByte).toArray)
    val typGen = Gen.oneOf("resource", "conversion", "metadata")
    check(Prop.forAll(Gen.nonEmptyListOf(Gen.zip(urlGen, typGen, bodyGen))) { recs =>
      // one stream of many records, arbitrary binary blocks (any byte,
      // incl. things that LOOK like record boundaries inside blocks —
      // Content-Length framing must not resynchronize on them)
      val bytes = recs.map { case (url, typ, body) =>
        Warc.record(Seq("WARC-Type" -> typ, "WARC-Target-URI" -> url,
          "Content-Type" -> "application/octet-stream"), body)
      }.reduce(_ ++ _)
      val plain = Warc.parseBytes("t", bytes)
      val gz = Warc.parseBytes("t", Warc.gzipMember(bytes))
      val perRec = Warc.parseBytes("t", recs.map { case (url, typ, body) =>
        Warc.gzipMember(Warc.record(Seq("WARC-Type" -> typ,
          "WARC-Target-URI" -> url,
          "Content-Type" -> "application/octet-stream"), body))
      }.reduce(_ ++ _))
      plain.length == recs.length &&
        plain.zip(recs).forall { case (r, (url, typ, body)) =>
          r.url.contains(url) && r.warc_type == typ &&
            r.n_block_bytes == body.length
        } && gz == plain && perRec == plain
    }, minSuccessful = 40)
  }

  test("property: htmlToText is total and deterministic on arbitrary markup soup") {
    import graft.ext.Html
    val soupGen = Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("<", ">", "&", ";", "/", "\"", " ", "\n", "\r", "\t"),
      1 -> Gen.oneOf("<div>", "</p>", "<script>", "</script>", "<style>",
        "&amp;", "&lt;", "<!--", "-->", "<a href=\"x\">", "</a>",
        "<TITLE>", "</title>"))).map(_.mkString.take(400))
    // ONE Spark job over a batch of samples (a job per sample would be
    // 60 tiny jobs); totality = the codegen'd chain never throws, and
    // running it twice is bit-identical
    val samples = Gen.listOfN(200, soupGen).sample.get
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "html")
    def run() = df.select($"doc_id", Html.htmlToText($"html").as("t"),
        Html.htmlTitle($"html").as("ti"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val a = run()
    assert(a.length === samples.length, "total: every soup row produces a row")
    assert(a.forall { case (_, t, ti) => t != null && ti != null })
    assert(a === run(), "deterministic: identical output on a second run")
  }

  test("property: cjkSegmentText is idempotent, token-preserving, and a no-op off-route") {
    import graft.ext.TextOps
    import org.apache.spark.sql.functions.lit
    // mixed-script soup: Latin words, Han/kana/Thai runs, digits, spaces
    val cjkChar = Gen.oneOf(
      Gen.choose(0x4E00, 0x4EFF).map(_.toChar.toString),
      Gen.choose(0x3040, 0x309F).map(_.toChar.toString),
      Gen.choose(0x0E01, 0x0E2E).map(_.toChar.toString))
    val piece = Gen.frequency(
      4 -> Gen.alphaNumStr.map(_.take(6)),
      4 -> Gen.listOfN(3, cjkChar).map(_.mkString),
      2 -> Gen.const(" "))
    val textGen = Gen.listOf(piece).map(_.mkString.take(200))
    val samples = Gen.listOfN(150, textGen).sample.get
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("doc_id", "text")
    val seg = df.select($"doc_id",
        TextOps.cjkSegmentText($"text", lit("zh")).as("s1"),
        TextOps.cjkSegmentText(
          TextOps.cjkSegmentText($"text", lit("zh")), lit("zh")).as("s2"),
        TextOps.cjkSafeTokens($"text").as("toks"),
        TextOps.cjkSegmentText($"text", lit("en")).as("off"),
        $"text")
      .as[(Long, String, String, Seq[String], String, String)]
      .collect().sortBy(_._1)
    seg.foreach { case (i, s1, s2, toks, off, raw) =>
      // idempotent: re-spacing already-segmented text changes nothing
      // (every CJK char is already whitespace-delimited after pass 1)
      assert(s1 === s2, s"row $i: segmentation must be idempotent")
      // token-preserving: the segmented string whitespace-splits back
      // to exactly the router's token stream (what downstream sees)
      assert(s1.split(" ").filter(_.nonEmpty).toSeq === toks.filter(_.nonEmpty),
        s"row $i: segmented text must round-trip to the routed tokens")
      // off-route languages pass through BIT-identically
      assert(off === raw, s"row $i: non-spaceless langs must be untouched")
    }
  }

  test("property: declaredCanonicalOr is total; key equals fetch XOR declared") {
    import graft.ext.Html
    val urlGen = Gen.oneOf(
      Gen.alphaNumStr.map(s => s"https://h$s.example.com/p"),
      Gen.alphaNumStr.map(s => s"/relative/$s"),
      Gen.const(""))
    val declGen = Gen.option(urlGen)
    val soup = for {
      fetch <- Gen.alphaNumStr.map(s => s"https://f$s.example.org/x")
      decl <- declGen
      noise <- Gen.listOf(Gen.oneOf("<p>t</p>", "&amp;", "<div>", " ")).map(_.mkString)
    } yield (fetch,
      decl.map(d => s"""<html><head><link rel="canonical" href="$d">$noise""")
        .getOrElse(s"<html><head>$noise"), decl)
    val samples = Gen.listOfN(200, soup).sample.get
    val df = samples.zipWithIndex
      .map { case ((u, h, d), i) => (i.toLong, u, h, d.getOrElse(" NONE")) }
      .toDF("doc_id", "url", "html", "decl")
    val got = df.select($"doc_id", $"url", $"decl",
        Html.declaredCanonicalOr($"url", $"html").as("eff"))
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    got.foreach { case (i, url, decl, eff) =>
      assert(eff != null, s"row $i: total")
      val declared = if (decl == " NONE") None else Some(decl)
      val absolute = declared.exists(_.matches("^[A-Za-z][A-Za-z0-9+.-]*://.*"))
      if (absolute) assert(eff === declared.get,
        s"row $i: an absolute declaration must win")
      else assert(eff === url,
        s"row $i: relative/absent declarations fall back to the fetch URL")
    }
  }
}
