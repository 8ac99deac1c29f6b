package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.config.MergeMode
import graft.io.FileWarehouse
import graft.merge.JournalMerge

/** Journal-merge semantics (reference: airflow_etl.py:131-223):
  * tie-break ordering, Postgres null placement, delta delete-then-insert,
  * state flip, and idempotence/permutation properties.
  */
class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("v", StringType),
    StructField("__transform_dt", TimestampType),
    StructField("__load_dt", TimestampType),
    StructField("__seqno", LongType),
    StructField("__record_state", StringType)))

  private def ts(s: String): java.sql.Timestamp =
    if (s == null) null else java.sql.Timestamp.valueOf(s)

  private def journal(rows: (Int, String, String, String, java.lang.Long, String)*): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v, t, l, s, st) =>
        Row(Int.box(id), v, ts(t), ts(l), s, st)
      }: _*), schema)

  private def winners(df: DataFrame): Map[Int, String] =
    df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap

  test("full merge picks latest __transform_dt") {
    val j = journal(
      (1, "old", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "H"),
      (1, "new", "2024-01-02 00:00:00", "2024-01-01 00:00:00", 2L, "A"),
      (2, "only", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 3L, "A"))
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "new", 2 -> "only"))
  }

  test("tie on __transform_dt falls to __load_dt DESC") {
    val j = journal(
      (1, "a", "2024-01-01 00:00:00", "2024-01-01 05:00:00", 1L, "A"),
      (1, "b", "2024-01-01 00:00:00", "2024-01-01 09:00:00", 2L, "A"))
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "b"))
  }

  test("tie on both timestamps falls to __seqno ASC") {
    val j = journal(
      (1, "late", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 7L, "A"),
      (1, "early", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 3L, "A"))
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "early"))
  }

  test("NULL __transform_dt sorts FIRST on DESC (Postgres row_number parity)") {
    // In Postgres, DESC puts NULLs first, so a NULL transform_dt WINS.
    val j = journal(
      (1, "dated", "2024-01-02 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "nulled", null, "2024-01-01 00:00:00", 2L, "A"))
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "nulled"))
  }

  test("NULL __seqno sorts LAST on ASC (Postgres parity)") {
    val j = journal(
      (1, "withseq", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 5L, "A"),
      (1, "nullseq", "2024-01-01 00:00:00", "2024-01-01 00:00:00", null, "A"))
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "withseq"))
  }

  test("full merge includes historical ('H') rows; delta only active ('A')") {
    val j = journal(
      (1, "hist-latest", "2024-01-05 00:00:00", "2024-01-01 00:00:00", 1L, "H"),
      (1, "act-older", "2024-01-02 00:00:00", "2024-01-01 00:00:00", 2L, "A"))
    // full: scans whole journal regardless of state -> hist wins
    assert(winners(JournalMerge.full(j, Seq("id"))) == Map(1 -> "hist-latest"))
    // delta: only active rows are considered for insert
    val master = journal()
    assert(winners(JournalMerge.delta(master, j, Seq("id"))) == Map(1 -> "act-older"))
  }

  test("delta merge deletes changed keys, keeps unchanged master rows") {
    val master = journal(
      (1, "m1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (2, "m2", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2L, "A"))
    val j = journal(
      (2, "m2-new", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 3L, "A"),
      (3, "m3", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 4L, "A"),
      (4, "stale", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 5L, "H"))
    val out = winners(JournalMerge.delta(master, j, Seq("id")))
    assert(out == Map(1 -> "m1", 2 -> "m2-new", 3 -> "m3")) // 4 is H: ignored
  }

  test("flip turns A into H and leaves H alone") {
    val j = journal(
      (1, "x", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (2, "y", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2L, "H"))
    val states = JournalMerge.flip(j).collect().map(_.getString(5)).toSeq.sorted
    assert(states == Seq("H", "H"))
  }

  test("warehouse run: full merge + flip makes re-run of delta a no-op (idempotence)") {
    val root = SparkTestBase.tmpDir("graft_merge_wh")
    val wh = new FileWarehouse(spark, root)
    wh.registerPrimaryKey("dwh", "t", Seq("id"))
    wh.append(journal(
      (1, "v1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "v2", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2L, "A")),
      "dwh", "t__journal")
    JournalMerge.run(wh, "dwh", "t", MergeMode.Delta)
    assert(winners(wh.read("dwh", "t")) == Map(1 -> "v2"))
    // journal now all H
    assert(wh.read("dwh", "t__journal").where("__record_state = 'A'").count() == 0)
    // append a losing older record, delta-merge: key 1 is re-merged from
    // active rows only -> older active version replaces (delete+insert)
    wh.append(journal((1, "v0", "2023-12-01 00:00:00", "2023-12-01 00:00:00", 0L, "A")),
      "dwh", "t__journal")
    JournalMerge.run(wh, "dwh", "t", MergeMode.Delta)
    assert(winners(wh.read("dwh", "t")) == Map(1 -> "v0"))
    // re-running delta with no active rows changes nothing (flip happened)
    JournalMerge.run(wh, "dwh", "t", MergeMode.Delta)
    assert(winners(wh.read("dwh", "t")) == Map(1 -> "v0"))
  }

  test("salted latest-per-key == plain latest-per-key under a hot key") {
    // one hot key (id=0) with 300 versions, plus normal keys
    val rows = (1 to 300).map { i =>
      (0, s"hot$i", f"2024-01-${i % 28 + 1}%02d ${i % 24}%02d:00:00",
        f"2024-01-${(i * 5) % 28 + 1}%02d 00:00:00", java.lang.Long.valueOf(i.toLong), "A")
    } ++ (1 to 20).map { i =>
      (i, s"v$i", f"2024-01-${i % 28 + 1}%02d 00:00:00",
        "2024-01-01 00:00:00", java.lang.Long.valueOf(i.toLong), "A")
    }
    val j = journal(rows: _*)
    val plain = winners(JournalMerge.latestPerKey(j, Seq("id")))
    val salted = winners(JournalMerge.latestPerKeySalted(j, Seq("id"), saltBuckets = 8))
    assert(salted == plain)
  }

  test("graft.merge.saltBuckets conf routes production merges through the salted path") {
    // hot key: one id carries ~50% of all journal rows
    val rows = (1 to 200).map { i =>
      (0, s"hot$i", f"2024-01-${i % 28 + 1}%02d ${i % 24}%02d:00:00",
        "2024-01-01 00:00:00", java.lang.Long.valueOf(i.toLong), "A")
    } ++ (1 to 200).map { i =>
      (i % 50 + 1, s"v$i", f"2024-01-${i % 28 + 1}%02d 00:00:00",
        "2024-01-01 00:00:00", java.lang.Long.valueOf(i.toLong), "A")
    }
    val j = journal(rows: _*)
    val unsalted = winners(JournalMerge.full(j, Seq("id")))
    spark.conf.set(JournalMerge.SaltBucketsConf, "8")
    try {
      val saltedDf = JournalMerge.full(j, Seq("id"))
      // the dispatch actually took the two-phase path...
      assert(saltedDf.queryExecution.executedPlan.toString.contains("__graft_salt"),
        "conf-enabled merge must plan the salted two-phase window")
      // ...and produced identical winners
      assert(winners(saltedDf) == unsalted)
      // delta path dispatches too
      val master = journal((99, "kept", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"))
      val d = JournalMerge.delta(master, j, Seq("id"))
      assert(d.queryExecution.executedPlan.toString.contains("__graft_salt"))
      assert(winners(d) == unsalted + (99 -> "kept"))
    } finally spark.conf.unset(JournalMerge.SaltBucketsConf)
  }

  test("property: full merge is invariant under journal row permutation") {
    val rows = (1 to 40).map { i =>
      (i % 7, s"v$i", f"2024-01-${i % 28 + 1}%02d 00:00:00",
        f"2024-01-${(i * 3) % 28 + 1}%02d 00:00:00", java.lang.Long.valueOf(i.toLong), "A")
    }
    val expected = winners(JournalMerge.full(journal(rows: _*), Seq("id")))
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val shuffled = rnd.shuffle(rows)
      assert(winners(JournalMerge.full(journal(shuffled: _*), Seq("id"))) == expected)
    }
  }

  test("property: full merge over whole journal == sequential delta merges") {
    // batches of versions; applying delta per batch must equal one full merge
    val batches = Seq(
      Seq((1, "a1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
          (2, "b1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2L, "A")),
      Seq((1, "a2", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3L, "A"),
          (3, "c1", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 4L, "A")),
      Seq((2, "b2", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 5L, "A")))
    val root = SparkTestBase.tmpDir("graft_merge_seq")
    val wh = new FileWarehouse(spark, root)
    wh.registerPrimaryKey("dwh", "s", Seq("id"))
    batches.foreach { b =>
      wh.append(journal(b.map(t => (t._1, t._2, t._3, t._4, java.lang.Long.valueOf(t._5), t._6)): _*),
        "dwh", "s__journal")
      JournalMerge.run(wh, "dwh", "s", MergeMode.Delta)
    }
    val viaDelta = winners(wh.read("dwh", "s"))
    val allRows = batches.flatten.map(t => (t._1, t._2, t._3, t._4, java.lang.Long.valueOf(t._5), t._6))
    val viaFull = winners(JournalMerge.full(journal(allRows: _*), Seq("id")))
    assert(viaDelta == viaFull)
  }

  test("saltBuckets=auto measures the journal: hot key salts, uniform does not, results identical") {
    // one key with 8 of 12 versions → ceil(8/(12/5)) = 4 lanes
    val hot = (1 to 8).map(i =>
      (1, s"v$i", s"2024-01-0$i 00:00:00", s"2024-01-0$i 00:00:00", i.toLong, "A")) ++
      Seq(2, 3, 4, 5).zipWithIndex.map { case (id, i) =>
        (id, "x", "2024-01-01 00:00:00", "2024-01-01 00:00:00", (20 + i).toLong, "A") }
    val j = journal(hot.map(t => (t._1, t._2, t._3, t._4, java.lang.Long.valueOf(t._5), t._6)): _*)
    assert(JournalMerge.derivedSaltBuckets(j, Seq("id")) === 4)
    // uniform journal derives 1 — auto must NOT salt
    val uni = journal((1 to 4).map(i =>
      (i, "x", "2024-01-01 00:00:00", "2024-01-01 00:00:00",
        java.lang.Long.valueOf(i.toLong), "A")): _*)
    assert(JournalMerge.derivedSaltBuckets(uni, Seq("id")) === 1)
    // auto-dispatched merge == plain merge on the hot journal
    val plain = winners(JournalMerge.full(j, Seq("id")))
    spark.conf.set(JournalMerge.SaltBucketsConf, "auto")
    try assert(winners(JournalMerge.full(j, Seq("id"))) === plain)
    finally spark.conf.unset(JournalMerge.SaltBucketsConf)
  }

  // --- SCD2 (Type-2) history over the same journal contract ---
  import graft.merge.Scd2

  private def intervals(df: DataFrame): Seq[(Int, String, String, String, Boolean)] =
    df.orderBy("id", Scd2.ValidFrom).collect().toSeq.map { r =>
      (r.getInt(r.fieldIndex("id")), r.getString(r.fieldIndex("v")),
        Option(r.getTimestamp(r.fieldIndex(Scd2.ValidFrom))).map(_.toString).orNull,
        Option(r.getTimestamp(r.fieldIndex(Scd2.ValidTo))).map(_.toString).orNull,
        r.getBoolean(r.fieldIndex(Scd2.IsCurrent)))
    }

  test("scd2: tracked-change rows open intervals, unchanged versions collapse") {
    val j = journal(
      (1, "A", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "A", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2L, "A"), // collapses
      (1, "B", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 3L, "A"),
      (1, "A", "2024-01-04 00:00:00", "2024-01-04 00:00:00", 4L, "A"), // A again: NEW interval
      (2, "X", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 5L, "A"))
    val h = Scd2.history(j, Seq("id"), trackCols = Seq("v"))
    assert(intervals(h) == Seq(
      (1, "A", "2024-01-01 00:00:00.0", "2024-01-03 00:00:00.0", false),
      (1, "B", "2024-01-03 00:00:00.0", "2024-01-04 00:00:00.0", false),
      (1, "A", "2024-01-04 00:00:00.0", null, true),
      (2, "X", "2024-01-01 00:00:00.0", null, true)))
  }

  test("scd2: empty trackCols retains every version") {
    val j = journal(
      (1, "A", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "A", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2L, "A"))
    assert(Scd2.history(j, Seq("id")).count() == 2)
  }

  test("scd2: current view == journal merge winner (comparator reversal consistency)") {
    // includes a ts tie where the SMALLER seqno is the merge winner —
    // chronologically LAST under the reversed comparator
    val j = journal(
      (1, "a", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "b", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 7L, "A"),
      (1, "c", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3L, "A"),
      (2, "x", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2L, "A"))
    import org.apache.spark.sql.functions.col
    val cur = winners(Scd2.history(j, Seq("id")).where(col(Scd2.IsCurrent)).select("id", "v"))
    assert(cur == winners(JournalMerge.full(j, Seq("id")).select("id", "v")))
  }

  test("scd2: asOf reconstructs the dimension at a point in time") {
    val j = journal(
      (1, "A", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "B", "2024-01-03 00:00:00", "2024-01-03 00:00:00", 2L, "A"),
      (2, "X", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3L, "A"))
    val h = Scd2.history(j, Seq("id"), trackCols = Seq("v"))
    import org.apache.spark.sql.functions.{lit, col}
    // before anything existed
    assert(Scd2.asOf(h, lit("2023-12-31 00:00:00").cast("timestamp")).count() == 0)
    // mid-history: key 1 still A, key 2 not yet born
    assert(winners(Scd2.asOf(h, lit("2024-01-01 12:00:00").cast("timestamp"))
      .select("id", "v")) == Map(1 -> "A"))
    // far future == current rows
    assert(winners(Scd2.asOf(h, lit("2099-01-01 00:00:00").cast("timestamp"))
      .select("id", "v")) == winners(h.where(col(Scd2.IsCurrent)).select("id", "v")))
    // interval boundary is [from, to): AT the change instant the NEW row holds
    assert(winners(Scd2.asOf(h, lit("2024-01-03 00:00:00").cast("timestamp"))
      .select("id", "v")) == Map(1 -> "B", 2 -> "X"))
  }

  test("scd2: ONE shuffle serves both windows (collapse lag + interval lead share the sort)") {
    val j = journal(
      (1, "A", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "B", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2L, "A"))
    val plan = Scd2.history(j, Seq("id"), trackCols = Seq("v"))
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1,
      s"the filter between the windows preserves partitioning — expected 1 Exchange, got $exchanges:\n$plan")
    assert(plan.linesIterator.count(_.contains("Sort [")) === 1,
      s"expected the lead window to reuse the lag window's sort:\n$plan")
  }

  test("scd2: merge roll-forward over monotone batches == full-journal history") {
    val b1 = Seq(
      (1, "A", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1L, "A"),
      (1, "A", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2L, "A"),
      (2, "X", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 3L, "A"),
      (3, "q", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 4L, "A"))
    val b2 = Seq(
      (1, "B", "2024-01-05 00:00:00", "2024-01-05 00:00:00", 5L, "A"),
      (2, "X", "2024-01-06 00:00:00", "2024-01-06 00:00:00", 6L, "A")) // unchanged: collapses
    def box(s: Seq[(Int, String, String, String, Long, String)]) =
      s.map(t => (t._1, t._2, t._3, t._4, java.lang.Long.valueOf(t._5), t._6))
    val h1 = Scd2.history(journal(box(b1): _*), Seq("id"), trackCols = Seq("v"))
    val rolled = Scd2.merge(h1, journal(box(b2): _*), Seq("id"), trackCols = Seq("v"))
    val full = Scd2.history(journal(box(b1 ++ b2): _*), Seq("id"), trackCols = Seq("v"))
    assert(intervals(rolled) == intervals(full))
    // untouched key 3 passed through byte-identical (single interval, still open)
    assert(intervals(rolled).filter(_._1 == 3) ==
      Seq((3, "q", "2024-01-01 00:00:00.0", null, true)))
  }
}
