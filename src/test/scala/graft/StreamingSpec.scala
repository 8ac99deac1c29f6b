package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.merge.JournalMerge
import graft.streaming.StreamingMerge
import graft.streaming.StreamingMerge.StreamRecord

/** Event fixture for the streaming-anomaly bridge (top-level so the
  * Product encoder has no outer-class pointer).
  */
case class AnomEvent(k: String, ts: Timestamp)

/** Streaming merge must agree with the batch merge on the same data —
  * one merge semantic across both planes.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def rec(k: String, p: String, t: String, l: String, s: Long) =
    StreamRecord(k, p, ts(t), ts(l), s)

  test("streaming latestPerKey == batch full merge over all micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamRecord]
    val q = StreamingMerge.latestPerKey(input.toDS())
      .writeStream.format("memory").queryName("latest_sink")
      .outputMode("update").start()
    try {
      input.addData(
        rec("u1", "v1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1),
        rec("u2", "w1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2))
      q.processAllAvailable()
      input.addData(
        rec("u1", "v2", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3),
        // same timestamps as w1 but LOWER seqno: seqno ASC wins
        rec("u2", "w0", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1))
      q.processAllAvailable()

      // batch-merge ALL records and compare winners per key
      val allRecs = Seq(
        rec("u1", "v1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1),
        rec("u2", "w1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 2),
        rec("u1", "v2", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3),
        rec("u2", "w0", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1))
      val batchJournal = allRecs.toDF()
        .withColumnRenamed("transformDt", "__transform_dt")
        .withColumnRenamed("loadDt", "__load_dt")
        .withColumnRenamed("seqno", "__seqno")
      val batchWinners = JournalMerge.full(batchJournal, Seq("key"))
        .select("key", "payload").as[(String, String)].collect().toMap

      // the LAST emitted record per key in the streaming sink must match
      val lastEmitted = spark.sql(
        """SELECT key, payload FROM (
          |  SELECT key, payload,
          |    row_number() OVER (PARTITION BY key
          |      ORDER BY transformDt DESC, loadDt DESC, seqno ASC) rn
          |  FROM latest_sink) WHERE rn = 1""".stripMargin)
        .as[(String, String)].collect().toMap

      assert(batchWinners === Map("u1" -> "v2", "u2" -> "w0"))
      assert(lastEmitted === batchWinners)
    } finally q.stop()
  }

  test("null version timestamps: stream winner matches batch desc_nulls_first (null wins)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamRecord]
    val q = StreamingMerge.latestPerKey(input.toDS())
      .writeStream.format("memory").queryName("nulls_sink")
      .outputMode("update").start()
    try {
      input.addData(
        rec("u1", "dated", "2024-01-02 00:00:00", "2024-01-01 00:00:00", 1),
        StreamRecord("u1", "nulled", null, ts("2024-01-01 00:00:00"), 2))
      q.processAllAvailable()
      // MergeSpec's batch rule: NULL __transform_dt sorts FIRST on DESC
      val winner = spark.table("nulls_sink")
        .select("payload").as[String].collect().toSeq
      assert(winner === Seq("nulled"))
    } finally q.stop()
  }

  test("watermarked latestPerKey: late data dropped, idle keys expire from state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamRecord]
    val q = StreamingMerge.latestPerKeyWatermarked(input.toDS(),
      watermarkDelay = "10 minutes", stateTtlMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("wm_latest_sink")
      .outputMode("update").start()
    try {
      input.addData(rec("u1", "v1", "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1))
      q.processAllAvailable()
      input.addData(rec("u1", "v2", "2024-01-01 11:00:00", "2024-01-01 11:00:00", 2))
      q.processAllAvailable()
      // watermark = 11:00 − 10 min: a record LOADED at 10:20 is late -> dropped
      input.addData(rec("u2", "late", "2024-01-01 10:20:00", "2024-01-01 10:20:00", 3))
      q.processAllAvailable()
      assert(spark.table("wm_latest_sink").where("key = 'u2'").count() === 0,
        "late record must be dropped by the watermark")
      // advance the watermark far past u1's ttl: u1's state expires
      input.addData(rec("u3", "w1", "2024-01-01 12:00:00", "2024-01-01 12:00:00", 4))
      q.processAllAvailable()
      // u1's state is gone, so an OLDER version arriving (on time) wins a
      // fresh slate — it could never beat v2 if the state had survived
      input.addData(rec("u1", "v0", "2024-01-01 00:30:00", "2024-01-01 12:05:00", 5))
      q.processAllAvailable()
      val u1Payloads = spark.table("wm_latest_sink")
        .where("key = 'u1'").select("payload").as[String].collect().toSet
      assert(u1Payloads.contains("v0"),
        "after expiry the old version must win against empty state")
    } finally q.stop()
  }

  test("watermarked latestPerKey: cold-start keys survive the first watermark jump") {
    // regression: the TTL used to anchor at the current watermark, which
    // is 0 (epoch) during batch 0 — the first real watermark advance
    // then expired every cold-start key after seconds, not the TTL
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamRecord]
    val q = StreamingMerge.latestPerKeyWatermarked(input.toDS(),
      watermarkDelay = "10 minutes", stateTtlMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("coldstart_sink")
      .outputMode("update").start()
    try {
      input.addData(rec("u1", "v2", "2024-01-01 11:00:00", "2024-01-01 11:00:00", 1))
      q.processAllAvailable()
      // watermark jumps 0 -> 10:50; u1's TTL (11:00 + 30min) must hold
      input.addData(rec("u2", "w1", "2024-01-01 11:05:00", "2024-01-01 11:05:00", 2))
      q.processAllAvailable()
      // an OLDER version of u1 arrives on time: live state must beat it
      input.addData(rec("u1", "v1", "2024-01-01 09:00:00", "2024-01-01 11:06:00", 3))
      q.processAllAvailable()
      val u1Payloads = spark.table("coldstart_sink")
        .where("key = 'u1'").select("payload").as[String].collect().toSet
      assert(!u1Payloads.contains("v1"),
        s"older version must lose against surviving state, got $u1Payloads")
    } finally q.stop()
  }

  test("watermarked tumbling-window aggregation finalizes windows in append mode") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(Timestamp, Long)]
    val q = input.toDS().toDF("ts", "user_id")
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("win_start"), $"n")
      .writeStream.format("memory").queryName("win_sink")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), 1L),
        (ts("2024-01-01 10:40:00"), 2L),
        (ts("2024-01-01 11:10:00"), 3L))
      q.processAllAvailable()
      // nothing final yet: watermark = 11:10 - 1h = 10:10 < 11:00
      assert(spark.table("win_sink").count() === 0)
      // advance event time far enough to close the 10:00 and 11:00 windows
      input.addData((ts("2024-01-01 13:30:00"), 4L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 15:30:00"), 5L))
      q.processAllAvailable()
      val closed = spark.table("win_sink")
        .as[(Timestamp, Long)].collect().toMap
      assert(closed(ts("2024-01-01 10:00:00")) === 2L)
      assert(closed(ts("2024-01-01 11:00:00")) === 1L)
    } finally q.stop()
  }

  test("streaming exact dedup: twins within the watermark drop, aged-out twins re-emit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val input = MemoryStream[(Timestamp, String)]
    val q = StreamingDedup.exactWithinWatermark(
      input.toDS().toDF("ts", "text"), "text", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), "doc a"),
        (ts("2024-01-01 10:01:00"), "doc a"), // in-window twin: dropped
        (ts("2024-01-01 10:02:00"), "doc b"))
      q.processAllAvailable()
      // push event time far past "doc a"'s watermark window, then repeat it
      input.addData((ts("2024-01-01 13:00:00"), "advance"))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 13:01:00"), "doc a")) // state expired: re-emitted
      q.processAllAvailable()
      val counts = spark.table("dedup_sink").groupBy("text").count()
        .as[(String, Long)].collect().toMap
      assert(counts("doc a") === 2, s"expected in-window dedup + post-expiry re-emit: $counts")
      assert(counts("doc b") === 1)
    } finally q.stop()
  }

  test("streaming sessionization: gap-merged sessions finalize once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSessions
    val input = MemoryStream[(Timestamp, Long)]
    val q = StreamingSessions.sessionize(
      input.toDS().toDF("ts", "user_id"), "user_id", "ts",
      gap = "30 minutes", delay = "1 hour")
      .writeStream.format("memory").queryName("sess_sink")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L),
        (ts("2024-01-01 10:20:00"), 1L), // 20 min gap: same session
        (ts("2024-01-01 11:30:00"), 1L), // >30 min silence: new session
        (ts("2024-01-01 10:05:00"), 2L))
      q.processAllAvailable()
      // watermark (11:30 - 1h = 10:30) has not passed any session end yet
      // except user 2's candidate (10:35)... not yet: 10:30 < 10:35 -> open
      assert(spark.table("sess_sink").count() === 0)
      // advance event time; every session above closes
      input.addData((ts("2024-01-01 14:00:00"), 9L))
      q.processAllAvailable()
      val out = spark.table("sess_sink")
        .as[(Long, Timestamp, Timestamp, Long)].collect()
        .map(r => (r._1, r._2, r._4)).toSet
      assert(out === Set(
        (1L, ts("2024-01-01 10:00:00"), 2L), // two events merged
        (1L, ts("2024-01-01 11:30:00"), 1L),
        (2L, ts("2024-01-01 10:05:00"), 1L)))
    } finally q.stop()
  }

  test("foreachBatch bridge: micro-batched journal ingestion == batch merges") {
    import graft.io.FileWarehouse
    val root = SparkTestBase.tmpDir("graft_stream_wh")
    val wh = new FileWarehouse(spark, root)
    wh.registerPrimaryKey("dwh", "s", Seq("key"))
    val sink = StreamingMerge.journalToWarehouse(wh, "dwh", "s") _

    def batchDf(rows: StreamRecord*) = rows.toDF()
      .withColumnRenamed("transformDt", "__transform_dt")
      .withColumnRenamed("loadDt", "__load_dt")
      .withColumnRenamed("seqno", "__seqno")
      .withColumn("__record_state", org.apache.spark.sql.functions.lit("A"))

    sink(batchDf(rec("u1", "v1", "2024-01-01 00:00:00", "2024-01-01 00:00:00", 1)), 0L)
    sink(batchDf(
      rec("u1", "v2", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 2),
      rec("u2", "w1", "2024-01-02 00:00:00", "2024-01-02 00:00:00", 3)), 1L)
    val master = wh.read("dwh", "s").select("key", "payload")
      .as[(String, String)].collect().toMap
    assert(master === Map("u1" -> "v2", "u2" -> "w1"))
    // journal fully flipped to historical after the second merge
    assert(wh.read("dwh", "s__journal").where("__record_state = 'A'").count() === 0)
  }

  test("streaming anomaly report == batch dailyAnomalies over all micro-batches") {
    import graft.ext.TimeSeries
    import graft.streaming.StreamingAnomalies
    implicit val sqlCtx = spark.sqlContext
    val work = SparkTestBase.tmpDir("graft_stream_anom")
    val input = MemoryStream[AnomEvent]
    val q = input.toDS().toDF()
      .writeStream
      .foreachBatch(StreamingAnomalies.reportToDir(
        s"$work/counts", s"$work/report", "k", "ts", zThreshold = 1.2) _)
      .start()
    def ev(k: String, t: String) = AnomEvent(k, ts(t))
    try {
      // batch 1: two quiet days for key a
      input.addData((1 to 5).map(i => ev("a", s"2024-01-01 0$i:00:00")) ++
        (1 to 5).map(i => ev("a", s"2024-01-02 0$i:00:00")): _*)
      q.processAllAvailable()
      // batch 2: a spike day for a, plus key b appearing
      input.addData((1 to 50).map(i => ev("a", s"2024-01-03 ${10 + i % 10}:0${i % 6}:00")) ++
        (1 to 3).map(i => ev("b", s"2024-01-01 0$i:30:00")): _*)
      q.processAllAvailable()
    } finally q.stop()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"k", $"day".cast("string"), $"n_events", $"zscore", $"is_anomaly")
      .as[(String, String, Long, Double, Boolean)].collect().sorted.toSeq

    val streamed = norm(spark.read.parquet(s"$work/report"))
    // batch reference: same anomaly op over ALL events at once
    val allEvents = ((1 to 5).map(i => ev("a", s"2024-01-01 0$i:00:00")) ++
      (1 to 5).map(i => ev("a", s"2024-01-02 0$i:00:00")) ++
      (1 to 50).map(i => ev("a", s"2024-01-03 ${10 + i % 10}:0${i % 6}:00")) ++
      (1 to 3).map(i => ev("b", s"2024-01-01 0$i:30:00"))).toDF()
    // z for the spike day over its 3-day frame is (50-20)/sqrt(450) ≈ 1.41,
    // so the test threshold sits below it (the default 2.0 needs a
    // longer quiet history than this fixture carries)
    val batch = norm(TimeSeries.dailyAnomalies(
      TimeSeries.resampleDaily(allEvents, "k", "ts"), "k", zThreshold = 1.2))
    assert(streamed === batch, "stream must equal batch over the same data")
    assert(streamed.exists(r => r._1 == "a" && r._2 == "2024-01-03" && r._5),
      "the spike day must be flagged")
  }

  test("anomaly bridge replay: re-delivering the same batch id does not double-count") {
    import graft.streaming.StreamingAnomalies
    val work = SparkTestBase.tmpDir("graft_anom_replay")
    val sink = StreamingAnomalies.reportToDir(
      s"$work/counts", s"$work/report", "k", "ts") _
    val b0 = (1 to 5).map(i => AnomEvent("a", ts(s"2024-01-01 0$i:00:00"))).toDF()
    sink(b0, 0L)
    val first = spark.read.parquet(s"$work/report")
      .select($"n_events").as[Long].collect().sorted.toSeq
    // at-least-once delivery: the SAME batch id arrives again
    sink(b0, 0L)
    val replayed = spark.read.parquet(s"$work/report")
      .select($"n_events").as[Long].collect().sorted.toSeq
    assert(replayed === first, "a replayed batch must not change the report")
    // a genuinely new batch still accumulates
    sink((1 to 3).map(i => AnomEvent("a", ts(s"2024-01-02 0$i:00:00"))).toDF(), 1L)
    val extended = spark.read.parquet(s"$work/report").count()
    assert(extended === 2, "day 2 must appear after batch 1")
  }

  test("index-backed streaming exact dedup: whole-history dedup, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_idx")
    val sink = StreamingDedup.exactAgainstIndexSink(s"$work/index", s"$work/out") _
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // b0: in-batch dup (1,2 same text); b1: cross-batch dup of b0 (id 11)
    // + fresh; b2: dup of b1's fresh + fresh
    sink(batchDf(1L -> "alpha", 2L -> "alpha", 3L -> "beta"), 0L)
    sink(batchDf(11L -> "alpha", 12L -> "gamma"), 1L)
    sink(batchDf(21L -> "gamma", 22L -> "delta"), 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === Seq(1L, 3L, 12L, 22L))
    // the streamed keep set == batch exact dedup over the full history
    // (ids increase with arrival order, so first-arrival == lowest id)
    val full = batchDf(1L -> "alpha", 2L -> "alpha", 3L -> "beta",
      11L -> "alpha", 12L -> "gamma", 21L -> "gamma", 22L -> "delta")
    val batchKeep = graft.ext.Dedup.exact(full)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === batchKeep, "stream history dedup drifted from batch semantics")
    // REPLAY batch 1 (failure recovery): per-batch overwrite + own-batch
    // exclusion must reproduce the identical state, not double-drop
    sink(batchDf(11L -> "alpha", 12L -> "gamma"), 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
  }

  test("index-backed streaming LINE dedup: whole-history cut == batch keep-first, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_line_idx")
    val sink = StreamingDedup.lineDedupAgainstIndexSink(s"$work/index", s"$work/out") _
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // b0: in-batch dup line; b1: cross-batch dup of b0 survivors +
    // in-batch dup of a fresh line; b2: dup of a line b1 introduced
    val b0 = batchDf(1L -> "header\nbody one", 2L -> "header\nbody two")
    val b1 = batchDf(11L -> "body two\nfresh line",
      12L -> "header\nfresh line\nanother")
    val b2 = batchDf(21L -> "another\nfinal words")
    sink(b0, 0L); sink(b1, 1L); sink(b2, 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    // streamed rewrite == one-shot batch keep-first over the history
    // (ids increase with arrival, so first-arrival == (id, pos)-first)
    val full = b0.unionByName(b1).unionByName(b2)
    val batchKeep = graft.ext.Dedup.stripDuplicateLines(full)
      .select("doc_id", "text", "n_cut_lines")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out() === batchKeep, "stream line dedup drifted from batch keep-first")
    assert(out().map(_._2) === Seq("header\nbody one", "body two",
      "fresh line", "another", "final words"))
    // replay b1 (failure recovery): strictly-earlier probe + per-batch
    // overwrite reproduce the identical state
    sink(b1, 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
    // the rolled-forward index holds exactly the SURVIVING lines
    val survivors = batchKeep.flatMap(_._2.split("\n", -1))
      .filter(_.nonEmpty).distinct.size.toLong
    assert(spark.read.parquet(s"$work/index")
      .select("__h").distinct().count() === survivors)
  }

  test("index-backed streaming SUBSTRING dedup: whole-history cut == one-shot batch, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_substr_idx")
    val sink = StreamingDedup.substringDedupAgainstIndexSink(
      s"$work/index", s"$work/out", minUnits = 3) _
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // b0: seeds; b1: cross-batch dup prefix + an in-batch dup pair;
    // b2: the index-everything-seen case — "t1 a1 b1" exists only in
    // doc11's ORIGINAL text (its prefix was cut against doc1), so a
    // kept-text index would miss doc21's copy while the one-shot batch
    // cut catches it
    val b0 = batchDf(1L -> "q1 w1 e1 r1 t1", 2L -> "u1 u2 u3 u4")
    val b1 = batchDf(11L -> "q1 w1 e1 r1 t1 a1 b1 c1",
      12L -> "z1 a1 b1 c1 z2", 13L -> "z1 a1 b1 c1 z2")
    val b2 = batchDf(21L -> "t1 a1 b1 x9")
    sink(b0, 0L); sink(b1, 1L); sink(b2, 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out() === Seq((1L, "q1 w1 e1 r1 t1", 0L), (2L, "u1 u2 u3 u4", 0L),
      (11L, "a1 b1 c1", 5L), (12L, "z1 z2", 3L), (13L, "", 5L),
      (21L, "x9", 3L)))
    // byte-identical to the one-shot batch cut over the full history
    // (ids increase with arrival, so first-arrival == (id, pos)-first)
    val full = b0.unionByName(b1).unionByName(b2)
    val batchKeep = graft.ext.Dedup.stripExactSubstrings(full, minTokens = 3)
      .select("doc_id", "text", "n_cut_tokens")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out() === batchKeep, "stream substring dedup drifted from one-shot batch")
    // replay b1 (failure recovery): strictly-earlier probe + per-batch
    // overwrite reproduce the identical state
    sink(b1, 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
    // reserved accounting column rejected up front
    intercept[IllegalArgumentException] {
      sink(Seq((30L, "a", 0L)).toDF("doc_id", "text", "n_cut_tokens"), 3L)
    }

    // char grain: same sink at the published unit, stream == one-shot
    val cwork = SparkTestBase.tmpDir("graft_stream_char_substr_idx")
    val csink = StreamingDedup.substringDedupAgainstIndexSink(
      s"$cwork/index", s"$cwork/out", minUnits = 10, charGrain = true) _
    val c0 = batchDf(100L -> "abcdefghijKLM")
    val c1 = batchDf(101L -> "XXabcdefghijYY")
    csink(c0, 0L); csink(c1, 1L)
    val cout = spark.read.parquet(s"$cwork/out")
      .select("doc_id", "text", "n_cut_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(cout === Seq((100L, "abcdefghijKLM", 0L), (101L, "XXYY", 10L)))
    val cBatch = graft.ext.Dedup
      .stripExactCharSubstrings(c0.unionByName(c1), minChars = 10)
      .select("doc_id", "text", "n_cut_chars")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(cout === cBatch, "char-grain stream drifted from one-shot batch")
  }

  test("index-backed streaming URL dedup: whole-history keep-first == one-shot batch, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_url_idx")
    val sink = StreamingDedup.urlDedupAgainstIndexSink(s"$work/index", s"$work/out") _
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "url")
    val b0 = batchDf(1L -> "https://a.example.com/p/1?utm_source=x",
      2L -> "https://a.example.com/p/2")
    // b1: canonical twin of b0's page 1 (case+slash+fragment variants)
    // + a fresh page + its in-batch tracking-variant dup
    val b1 = batchDf(11L -> "HTTPS://a.example.com/p/1/#frag",
      12L -> "https://a.example.com/p/9",
      13L -> "https://a.example.com/p/9?utm_source=y")
    // b2: twin of the page b1 introduced + a non-addressable row
    val b2 = Seq((21L, "https://a.example.com/p/9/"),
      (22L, null.asInstanceOf[String])).toDF("doc_id", "url")
    sink(b0, 0L); sink(b1, 1L); sink(b2, 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === Seq(1L, 2L, 12L, 22L))
    // stream == one-shot urlDedup over the concatenated history
    val full = b0.unionByName(b1).unionByName(b2)
    val batchKeep = graft.ext.Dedup.urlDedup(full)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === batchKeep, "stream URL dedup drifted from one-shot batch")
    // replay b1 (failure recovery): strictly-earlier probe + per-batch
    // overwrite reproduce the identical state
    sink(b1, 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
    // reserved audit column rejected up front
    intercept[IllegalArgumentException] {
      sink(Seq((30L, "https://x.example.com", "k")).toDF("doc_id", "url", "url_key"), 3L)
    }
  }

  test("streaming composed curation: sink == batch runIncremental/rollForward loop, replay-idempotent") {
    import graft.ext.CurationChain
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_curation")
    def docsDf(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "srcS") }
        .toDF("doc_id", "text", "lang", "source")
    val b0 = docsDf(
      1L -> "alpha beta gamma delta",
      2L -> "one two three four five six seven eight nine ten eleven twelve")
    val b1 = docsDf(
      21L -> "Alpha  Beta GAMMA delta", // normalized exact dup of 1 -> index drop
      41L -> "one two three four five six seven eight nine ten eleven twelve thirteen", // near-dup of 2 -> index probe drop
      61L -> "completely novel content nothing shares these tokens", // kept
      81L -> "batch twin text appearing twice in this batch", // within-batch twins:
      101L -> "batch twin text appearing twice in this batch") //   keep-min-id keeps 81
    val bench = b0.unionByName(b1) // no id % 20 == 0 -> empty bench slice
    val sink = StreamingDedup.curationChainSink(
      s"$work/dig", s"$work/mh", s"$work/out", bench) _
    sink(b0, 0L); sink(b1, 1L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the reference: the hand-driven runIncremental + rollForward loop
    val empty = CurationChain.corpusState(b0.limit(0))
    val c0 = CurationChain.runIncremental(b0, empty._1, empty._2, bench)
    val (d1, m1) = CurationChain.rollForward(empty._1, empty._2, c0)
    val c1 = CurationChain.runIncremental(b1, d1, m1, bench)
    val expected = (c0.select("doc_id").as[Long].collect() ++
      c1.select("doc_id").as[Long].collect()).sorted.toSeq
    assert(expected === Seq(1L, 2L, 61L, 81L),
      "crafted cross-set semantics: exact/near dups fall to the index, twins to keep-min-id")
    assert(out() === expected, "stream drifted from the hand-driven incremental loop")
    // replay (failure recovery): strictly-earlier probes + per-batch
    // overwrites reproduce the identical state and output
    sink(b1, 1L)
    assert(out() === expected, "replay of a delivered batch changed the output")
  }

  test("streaming crawl ingest: WARC shards -> quality cut -> URL dedup vs history -> text, replay-idempotent") {
    import graft.io.Warc
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_crawl")
    def shard(pages: (String, String)*): Array[Byte] =
      pages.map { case (url, html) => Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", html))) }.reduce(_ ++ _)
    def batchDf(shards: Array[Byte]*) = shards.zipWithIndex
      .map { case (b, i) => (s"shard$i.warc.gz", b) }.toDF("path", "content")
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out",
      blockedHosts = Seq("blocked.example.net"), bannedWords = Seq("casino")) _
    // batch 0: one good page, one blocked host, one banned word
    sink(batchDf(shard(
      "https://a.example.com/p1?utm_source=x" -> "<p>Page one body</p>",
      "https://blocked.example.net/x" -> "<p>never lands</p>",
      "https://a.example.com/casino" -> "<p>never lands</p>")), 0L)
    // batch 1: canonical twin of p1 (drops against history) + a new page
    val b1 = batchDf(shard(
      "HTTPS://a.example.com/p1/" -> "<p>twin content differs</p>",
      "https://a.example.com/p2" -> "<p>Page two</p>"))
    sink(b1, 1L)
    def out() = spark.read.parquet(s"$work/out")
      .select("url", "text").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out() === Seq(
      ("https://a.example.com/p1?utm_source=x", "Page one body"),
      ("https://a.example.com/p2", "Page two")),
      "quality cut + whole-history canonical-key keep-first + extraction")
    // replay (failure recovery): identical output and index state
    sink(b1, 1L)
    assert(out().size === 2, "replay of a delivered batch changed the output")
  }

  test("streaming crawl ingest honors the robots noindex opt-out") {
    import graft.io.Warc
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_noindex")
    def member(url: String, html: String) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", html)))
    val shard =
      member("https://n.example.com/private",
        """<html><head><meta name="robots" content="NoIndex, follow">""" +
          "</head><body><p>opted out</p></body></html>") ++
      member("https://n.example.com/follownot",
        """<html><head><meta name="robots" content="nofollow"></head>""" +
          "<body><p>nofollow alone is fine</p></body></html>") ++
      member("https://n.example.com/open", "<html><body><p>public</p></body></html>")
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out") _
    sink(Seq(("s.warc.gz", shard)).toDF("path", "content"), 0L)
    assert(spark.read.parquet(s"$work/out").select("url").as[String]
      .collect().sorted.toSeq === Seq(
      "https://n.example.com/follownot", "https://n.example.com/open"),
      "noindex (case-folded) dropped; nofollow alone kept")
    // dropped BEFORE dedup: the opted-out page never claimed its key
    assert(spark.read.parquet(s"$work/idx").count() === 2)
    // the compliance cut is a policy switch, not hardwired
    val keepAll = StreamingCrawl.crawlIngestSink(s"$work/idx2", s"$work/out2",
      respectNoindex = false) _
    keepAll(Seq(("s.warc.gz", shard)).toDF("path", "content"), 0L)
    assert(spark.read.parquet(s"$work/out2").count() === 3)
  }

  test("streaming crawl ingest honors a declared canonical: mirrors collapse cross-host") {
    import graft.io.Warc
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_canon")
    def member(url: String, ct: String, body: String) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, ct, body)))
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out") _
    // batch 0: the origin page
    sink(Seq(("s0.warc.gz", member("https://origin.org/story", "text/html",
      "<p>the original story</p>"))).toDF("path", "content"), 0L)
    // batch 1: a mirror on ANOTHER host declaring the origin canonical
    // (must drop against history — no fetch-URL rule could catch it),
    // plus a text/plain record QUOTING a declaration (must NOT be
    // parsed — it keys on its own fetch URL and lands)
    sink(Seq(("s1.warc.gz",
      member("https://mirror.cdn.net/story-copy", "text/html",
        "<html><head><link rel=\"canonical\" href=\"https://origin.org/story\">" +
          "</head><body><p>mirrored copy</p></body></html>") ++
      member("https://docs.example.com/howto.txt", "text/plain",
        "add <link rel=\"canonical\" href=\"https://origin.org/story\"> to your head")))
      .toDF("path", "content"), 1L)
    assert(spark.read.parquet(s"$work/out").select("url").as[String]
      .collect().sorted.toSeq === Seq(
      "https://docs.example.com/howto.txt", "https://origin.org/story"),
      "mirror collapsed onto its declared origin; quoted markup in plain text ignored")
    // the switch: with honorCanonical=false the mirror keys on its own URL
    val plain = StreamingCrawl.crawlIngestSink(s"$work/idx2", s"$work/out2",
      honorCanonical = false) _
    plain(Seq(("s0.warc.gz", member("https://origin.org/story", "text/html",
      "<p>the original story</p>"))).toDF("path", "content"), 0L)
    plain(Seq(("s1.warc.gz",
      member("https://mirror.cdn.net/story-copy", "text/html",
        "<html><head><link rel=\"canonical\" href=\"https://origin.org/story\">" +
          "</head><body><p>mirrored copy</p></body></html>")))
      .toDF("path", "content"), 1L)
    assert(spark.read.parquet(s"$work/out2").count() === 2,
      "honorCanonical=false reverts to fetch-URL keying")
  }

  test("streaming crawl ingest routes by content type: WET/plain verbatim, binary never lands") {
    import graft.io.Warc
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_crawl_route")
    def member(warcType: String, url: String, ct: String, block: Array[Byte]) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> warcType, "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z", "Content-Type" -> ct), block))
    val shard =
      member("response", "https://r.example.com/page",
        "application/http; msgtype=response",
        Warc.httpResponseBlock(200, "text/html", "<p>Html &amp; body</p>")) ++
      member("response", "https://r.example.com/notes.txt",
        "application/http; msgtype=response",
        Warc.httpResponseBlock(200, "text/plain",
          "literal <tag> &amp; entities stay\n\n\nsecond line")) ++
      member("response", "https://r.example.com/logo.png",
        "application/http; msgtype=response",
        "HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n\r\n".getBytes("ISO-8859-1") ++
          Array[Byte](0x89.toByte, 'P', 'N', 'G')) ++
      member("conversion", "https://r.example.com/wet", "text/plain",
        "already extracted text".getBytes("UTF-8"))
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out") _
    sink(Seq(("shard0.warc.gz", shard)).toDF("path", "content"), 0L)
    val out = spark.read.parquet(s"$work/out").select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    assert(out === Seq(
      ("https://r.example.com/notes.txt",
        "literal <tag> &amp; entities stay\nsecond line"),
      ("https://r.example.com/page", "Html & body"),
      ("https://r.example.com/wet", "already extracted text")),
      "HTML through the chain, text/plain+WET verbatim-normalized, binary dropped")
    assert(spark.read.parquet(s"$work/idx").count() === 3,
      "the binary record must never enter the URL index")
  }

  test("composed crawl->curation stream: WARC bytes to curated text vs all three histories, replay-idempotent") {
    import graft.io.Warc
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_crawl_chain")
    def shard(pages: (String, String)*): Array[Byte] =
      pages.map { case (url, html) => Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", s"<p>$html</p>"))) }.reduce(_ ++ _)
    def batchDf(shards: Array[Byte]*) = shards.zipWithIndex
      .map { case (b, i) => (s"shard$i.warc.gz", b) }.toDF("path", "content")
    // 30-token texts so a one-token edit is a near-dup (J ≈ 0.84)
    def base(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val (tA, tB, tC) = (base("a"), base("b"), base("c"))
    val bench = Seq((20L, "benchmark five gram pattern here now")).toDF("doc_id", "text")
    val sink = StreamingCrawl.crawlToCurationSink(
      s"$work/uidx", s"$work/didx", s"$work/midx", s"$work/out", bench) _
    sink(batchDf(shard(
      "https://c.example.com/a" -> tA,
      "https://c.example.com/b" -> tB)), 0L)
    // batch 1: exact twin of tA (case shift) at a NEW url -> digest-index
    // drop; near-dup of tA -> MinHash-index drop; a page sharing a
    // benchmark 5-gram -> decontamination drop; one genuinely new page
    val b1 = batchDf(shard(
      "https://c.example.com/a2" -> tA.toUpperCase,
      "https://c.example.com/a3" -> tA.replace("a15", "zz"),
      "https://c.example.com/contam" -> ("students repeat the benchmark five gram pattern here now " + tC),
      // base("e"), not base("d"): this page's xxhash64 doc_id must stay
      // OUT of the %20==0 benchmark slice (checked; "d" lands mod 0)
      "https://c.example.com/fresh" -> base("e")))
    sink(b1, 1L)
    def outUrls() = spark.read.parquet(s"$work/out")
      .select("url").as[String].collect().sorted.toSeq
    assert(outUrls() === Seq(
      "https://c.example.com/a", "https://c.example.com/b",
      "https://c.example.com/fresh"),
      "cross-batch exact/near dups and the contaminated page must fall; fresh pages land")
    // all three indexes rolled forward
    assert(spark.read.parquet(s"$work/uidx").count() >= 3)
    assert(spark.read.parquet(s"$work/didx").count() === 3)
    assert(spark.read.parquet(s"$work/midx").select("doc_id").distinct().count() === 3)
    // replay (failure recovery): identical output, no double landings
    sink(b1, 1L)
    assert(outUrls() === Seq(
      "https://c.example.com/a", "https://c.example.com/b",
      "https://c.example.com/fresh"),
      "replay of a delivered batch changed the curated output")
  }

  test("chained crawl->curation->lang: one ingest pass lands text + predictions == standalone scoreSink") {
    import graft.io.Warc
    import graft.streaming.{StreamingCrawl, StreamingLang}
    import graft.ext.LangModel
    val work = SparkTestBase.tmpDir("graft_stream_crawl_lang")
    // the frozen scorer (the q158 posture): two crafted languages
    def sent(words: Seq[String], k: Int, n: Int) =
      (0 until n).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val train = ((1 to 5).map(i => (i.toLong, sent(aw, i, 8), "aa")) ++
      (6 to 10).map(i => (i.toLong, sent(bw, i, 8), "bb")))
      .toDF("doc_id", "text", "lang")
    LangModel.langTrain(train).write.parquet(s"$work/model")
    def shard(pages: (String, String)*): Array[Byte] =
      pages.map { case (url, html) => Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", s"<p>$html</p>"))) }
        .reduce(_ ++ _)
    def batchDf(b: Array[Byte]) = Seq(("s.warc.gz", b)).toDF("path", "content")
    val bench = Seq((20L, "benchmark five gram pattern here now"))
      .toDF("doc_id", "text")
    val sink = StreamingCrawl.crawlToCurationSink(
      s"$work/uidx", s"$work/didx", s"$work/midx", s"$work/out", bench,
      langModelPath = Some(s"$work/model"),
      langPredRoot = Some(s"$work/pred")) _
    sink(batchDf(shard(
      "https://c.example.com/a" -> sent(aw, 1, 12),
      "https://c.example.com/b" -> sent(bw, 2, 12))), 0L)
    // page c uses a third inventory: a bw rotation would near-dup
    // against batch 0's page b and never land
    val cw = Seq("brix", "florp", "zind", "quav", "melk")
    sink(batchDf(shard(
      "https://c.example.com/c" -> sent(cw, 4, 12),
      // an exact twin: drops in curation, so it must NOT be scored
      "https://c.example.com/a2" -> sent(aw, 1, 12))), 1L)
    def preds(root: String) = spark.read.parquet(root)
      .select("doc_id", "lang_pred", "logprob", "margin")
      .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    // predictions cover exactly the CURATED landings, batch by batch
    val curated = spark.read.parquet(s"$work/out")
    assert(curated.count() === 3L)
    assert(preds(s"$work/pred").map(_._1).toSet ===
      curated.select("doc_id").as[Long].collect().toSet,
      "one prediction row per curated doc, none for curation drops")
    // chained == the standalone sink replayed over the landed batches
    val standalone = StreamingLang.scoreSink(s"$work/model", s"$work/pred2") _
    for (id <- Seq(0L, 1L))
      standalone(spark.read.parquet(s"$work/out/__batch=$id"), id)
    assert(preds(s"$work/pred") === preds(s"$work/pred2"),
      "chained predictions drifted from the standalone scoreSink")
    // replay: re-delivering batch 1 rewrites byte-identical predictions
    val before = preds(s"$work/pred")
    sink(batchDf(shard(
      "https://c.example.com/c" -> sent(cw, 4, 12),
      "https://c.example.com/a2" -> sent(aw, 1, 12))), 1L)
    assert(preds(s"$work/pred") === before,
      "replay of a delivered batch changed the predictions")
  }

  test("streaming gated front half: persisted rank + anchor block gate before URL keys; stream == batch") {
    import graft.io.Warc
    import graft.ext.LinkGraph
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_gated")
    // previous-crawl artifacts (q148/q149's persisted faces):
    // endorsed.com and spam.biz each have 3 in-hosts (above 1.5× the
    // floor); weak.org is absent from the graph entirely; spam.biz's
    // inbound anchors are keyword-saturated (rate 1.0)
    val edges = Seq(
      ("a.org", "endorsed.com", 1L, 1L), ("b.org", "endorsed.com", 1L, 1L),
      ("c.io", "endorsed.com", 1L, 1L),
      ("a.org", "spam.biz", 1L, 1L), ("b.org", "spam.biz", 1L, 1L),
      ("c.io", "spam.biz", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    LinkGraph.writeRankSnapshot(spark, edges, s"$work/rank_snap",
      iterations = 3)
    val anchorEdges = Seq(
      ("a.org", "spam.biz", "buy now", 2L),
      ("b.org", "spam.biz", "buy now", 2L),
      ("c.io", "spam.biz", "buy now", 1L),
      ("a.org", "endorsed.com", "a great long read", 2L),
      ("b.org", "endorsed.com", "a great long read", 2L))
      .toDF("src_host", "dst_host", "anchor", "n_links")
    val anchors = LinkGraph.writeAnchorSnapshot(spark, anchorEdges,
      s"$work/anchor_snap")
    def member(url: String, html: String) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", html)))
    def batchDf(pages: Seq[(String, String)], name: String) =
      Seq((name, pages.map((member _).tupled).reduce(_ ++ _)))
        .toDF("path", "content")
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out",
      rankSnapshotDir = Some(s"$work/rank_snap"),
      anchorSnapshotDir = Some(s"$work/anchor_snap"),
      blockKeywords = Seq("now")) _
    val b0 = Seq(
      "https://endorsed.com/a" -> "<p>Page A body</p>",
      // unendorsed host: the rank prior cuts it
      "https://weak.org/w" -> "<p>unendorsed</p>",
      // anchor-BLOCKED host serving a MIRROR that declares the endorsed
      // origin canonical: the gate runs before dedup, so this page must
      // never claim the origin's key
      "https://spam.biz/mirror" ->
        ("<html><head><link rel=\"canonical\" " +
          "href=\"https://endorsed.com/story\"></head>" +
          "<body><p>mirrored copy</p></body></html>"))
    val b1 = Seq(
      // the REAL origin lands — proof the blocked mirror claimed nothing
      "https://endorsed.com/story" -> "<p>the real story</p>",
      // canonical twin of batch 0's page: drops against history
      "https://endorsed.com/a?utm_source=x" -> "<p>twin body</p>")
    sink(batchDf(b0, "s0.warc.gz"), 0L)
    sink(batchDf(b1, "s1.warc.gz"), 1L)
    def outUrls() = spark.read.parquet(s"$work/out")
      .select("url").as[String].collect().sorted.toSeq
    assert(outUrls() === Seq(
      "https://endorsed.com/a", "https://endorsed.com/story"),
      "rank prior cuts weak.org, anchor block cuts spam.biz BEFORE the " +
        "mirror claims the origin key, twins fall to history")
    // replay-idempotent (the family's redelivery contract)
    sink(batchDf(b1, "s1.warc.gz"), 1L)
    assert(outUrls() === Seq(
      "https://endorsed.com/a", "https://endorsed.com/story"))
    // stream == the batch q153-shaped composition over the full history
    // (key-set equality: winner election order differs across the two
    // faces only within a key, never across keys)
    val allPages = (b0 ++ b1).zipWithIndex
      .map { case ((u, h), i) => (i.toLong, u, h) }
      .toDF("doc_id", "url", "html")
    val meta = LinkGraph.rankSnapshotMeta(spark, s"$work/rank_snap")
    val gated = LinkGraph.anchorKeywordKeep(
      LinkGraph.hostRankKeep(allPages,
        LinkGraph.rankSnapshot(spark, s"$work/rank_snap"),
        minRank = 1.5 * meta.floor).drop("host", "rank"),
      anchors, Seq("now"), maxRate = 0.5)
    val batchKeys = graft.ext.Dedup.urlDedup(
      gated.withColumn("__durl",
        graft.ext.Html.declaredCanonicalOr($"url", $"html")),
      urlCol = "__durl")
      .select("url_key").as[String].collect().sorted.toSeq
    val streamKeys = spark.read.parquet(s"$work/out")
      .select("url_key").as[String].collect().sorted.toSeq
    assert(streamKeys === batchKeys,
      "the streaming gates drifted from the batch q153 composition")
    // misconfiguration fails loudly: an anchor snapshot without keywords
    val bad = StreamingCrawl.crawlIngestSink(s"$work/idx2", s"$work/out2",
      anchorSnapshotDir = Some(s"$work/anchor_snap")) _
    intercept[IllegalArgumentException] { bad(batchDf(b0, "s.warc.gz"), 0L) }
  }

  test("streaming PSL-grain gates: farm subdomains gate by registered domain; stream == batch ByLookup") {
    import graft.io.Warc
    import graft.ext.LinkGraph
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_psl")
    Seq("// psl", "com", "org", "co.uk", "*.ck", "!www.ck").toDF("rule")
      .write.parquet(s"$work/psl_rules")
    // previous-crawl artifacts BUILT AT THE REGISTERED-DOMAIN grain
    // (domainEdgesByLookup edges — the shared-grain contract):
    // acme.co.uk endorsed by 3 domains, spamco.co.uk endorsed but
    // anchor-saturated, weak.org at the floor (absent from the graph)
    val edges = Seq(
      ("a.org", "acme.co.uk", 1L, 1L), ("b.org", "acme.co.uk", 1L, 1L),
      ("c.io", "acme.co.uk", 1L, 1L),
      ("a.org", "spamco.co.uk", 1L, 1L), ("b.org", "spamco.co.uk", 1L, 1L),
      ("c.io", "spamco.co.uk", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    LinkGraph.writeRankSnapshot(spark, edges, s"$work/rank_snap",
      iterations = 3)
    val anchors = LinkGraph.writeAnchorSnapshot(spark, Seq(
      ("a.org", "spamco.co.uk", "buy now", 2L),
      ("b.org", "spamco.co.uk", "buy now", 1L))
      .toDF("src_host", "dst_host", "anchor", "n_links"), s"$work/anchor_snap")
    def member(url: String, html: String) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", html)))
    def batchDf(pages: Seq[(String, String)], name: String) =
      Seq((name, pages.map((member _).tupled).reduce(_ ++ _)))
        .toDF("path", "content")
    val sink = StreamingCrawl.crawlIngestSink(s"$work/idx", s"$work/out",
      rankSnapshotDir = Some(s"$work/rank_snap"),
      anchorSnapshotDir = Some(s"$work/anchor_snap"),
      blockKeywords = Seq("now"),
      pslRulesPath = Some(s"$work/psl_rules")) _
    val b0 = Seq(
      // TWO subdomains of the endorsed domain: neither host appears in
      // the rank table, both must ride their registered domain's rank
      "https://shop.acme.co.uk/a" -> "<p>shop page body</p>",
      "https://blog.acme.co.uk/b" -> "<p>blog page body</p>",
      // floor domain: the rank prior cuts it
      "https://weak.org/w" -> "<p>unendorsed</p>",
      // a subdomain of the anchor-blocked domain: cut via the fold
      "https://m.spamco.co.uk/x" -> "<p>spam mirror</p>")
    sink(batchDf(b0, "p0.warc.gz"), 0L)
    def outUrls() = spark.read.parquet(s"$work/out")
      .select("url").as[String].collect().sorted.toSeq
    assert(outUrls() === Seq(
      "https://blog.acme.co.uk/b", "https://shop.acme.co.uk/a"),
      "farm subdomains gate by their registered domain; weak.org rank-cuts; " +
        "the spamco subdomain anchor-cuts via the fold")
    // the HOST-grain gate against the same (domain-grain) artifacts
    // would have kept NOTHING — the fold is load-bearing, not cosmetic
    val pages = b0.zipWithIndex.map { case ((u, h), i) => (i.toLong, u, h) }
      .toDF("doc_id", "url", "html")
    val meta = LinkGraph.rankSnapshotMeta(spark, s"$work/rank_snap")
    assert(LinkGraph.hostRankKeep(pages,
        LinkGraph.rankSnapshot(spark, s"$work/rank_snap"),
        minRank = 1.5 * meta.floor).count() === 0L,
      "host-grain consumption of a domain-grain artifact matches nothing")
    // stream == the batch ByLookup composition over the same pages
    val lookup = LinkGraph.pslLookupFor(pages,
      spark.read.parquet(s"$work/psl_rules"))
    val gated = LinkGraph.anchorKeywordKeepByLookup(
      LinkGraph.hostRankKeepByLookup(pages,
        LinkGraph.rankSnapshot(spark, s"$work/rank_snap"),
        minRank = 1.5 * meta.floor, lookup).drop("host", "rank"),
      anchors, Seq("now"), maxRate = 0.5, lookup = lookup)
    val batchKeys = graft.ext.Dedup.urlDedup(
      gated.withColumn("__durl",
        graft.ext.Html.declaredCanonicalOr($"url", $"html")),
      urlCol = "__durl")
      .select("url_key").as[String].collect().sorted.toSeq
    val streamKeys = spark.read.parquet(s"$work/out")
      .select("url_key").as[String].collect().sorted.toSeq
    assert(streamKeys === batchKeys,
      "the streaming PSL fold drifted from the batch ByLookup cuts")
    // replay-idempotent (redelivery contract unchanged by the fold)
    sink(batchDf(b0, "p0.warc.gz"), 0L)
    assert(outUrls() === Seq(
      "https://blog.acme.co.uk/b", "https://shop.acme.co.uk/a"))
    // misconfiguration fails loudly: a PSL fold with no gate to feed
    val bad = StreamingCrawl.crawlIngestSink(s"$work/idx2", s"$work/out2",
      pslRulesPath = Some(s"$work/psl_rules")) _
    intercept[IllegalArgumentException] { bad(batchDf(b0, "p.warc.gz"), 0L) }
  }

  test("streaming PSL snapshot probe: probed gate == per-batch rebuild over novel hosts; drift raises; replay-idempotent") {
    import graft.io.Warc
    import graft.ext.LinkGraph
    import graft.streaming.StreamingCrawl
    val work = SparkTestBase.tmpDir("graft_stream_psl_snap")
    val rules = Seq("// psl", "com", "org", "co.uk", "*.ck", "!www.ck")
    rules.toDF("rule").write.parquet(s"$work/psl_rules")
    val edges = Seq(
      ("a.org", "acme.co.uk", 1L, 1L), ("b.org", "acme.co.uk", 1L, 1L),
      ("c.io", "acme.co.uk", 1L, 1L),
      ("a.org", "spamco.co.uk", 1L, 1L), ("b.org", "spamco.co.uk", 1L, 1L),
      ("c.io", "spamco.co.uk", 1L, 1L))
      .toDF("src_host", "dst_host", "n_links", "n_pages")
    LinkGraph.writeRankSnapshot(spark, edges, s"$work/rank_snap",
      iterations = 3)
    LinkGraph.writeAnchorSnapshot(spark, Seq(
      ("a.org", "spamco.co.uk", "buy now", 2L),
      ("b.org", "spamco.co.uk", "buy now", 1L))
      .toDF("src_host", "dst_host", "anchor", "n_links"), s"$work/anchor_snap")
    def member(url: String, html: String) =
      Warc.gzipMember(Warc.record(Seq(
        "WARC-Type" -> "response", "WARC-Target-URI" -> url,
        "WARC-Date" -> "2024-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        Warc.httpResponseBlock(200, "text/html", html)))
    def batchDf(pages: Seq[(String, String)], name: String) =
      Seq((name, pages.map((member _).tupled).reduce(_ ++ _)))
        .toDF("path", "content")
    def sinkFor(tag: String, snapshotRoot: Option[String]) =
      StreamingCrawl.crawlIngestSink(s"$work/idx_$tag", s"$work/out_$tag",
        rankSnapshotDir = Some(s"$work/rank_snap"),
        anchorSnapshotDir = Some(s"$work/anchor_snap"),
        blockKeywords = Seq("now"),
        pslRulesPath = Some(s"$work/psl_rules"),
        pslSnapshotRoot = snapshotRoot) _
    val rebuild = sinkFor("a", None)                     // per-batch fold
    val probed = sinkFor("b", Some(s"$work/psl_snap"))   // snapshot probe
    // every batch carries hosts the snapshot has never seen (novel
    // subdomains of both the endorsed and the anchor-blocked domain,
    // plus a fresh unendorsed domain), alongside a known host
    val batches = Seq(
      Seq("https://shop.acme.co.uk/a" -> "<p>shop page body</p>",
        "https://blog.acme.co.uk/b" -> "<p>blog page body</p>",
        "https://weak.org/w" -> "<p>unendorsed</p>",
        "https://m.spamco.co.uk/x" -> "<p>spam mirror</p>"),
      Seq("https://shop2.acme.co.uk/c" -> "<p>second shop</p>",
        "https://blog.acme.co.uk/d" -> "<p>known host new page</p>",
        "https://weak2.org/y" -> "<p>still unendorsed</p>"),
      Seq("https://shop3.acme.co.uk/e" -> "<p>third shop</p>",
        "https://m2.spamco.co.uk/z" -> "<p>another mirror</p>"))
    def landed(tag: String) = spark.read.parquet(s"$work/out_$tag")
      .select("doc_id", "url", "ts", "url_key", "text")
      .collect().map(_.toString).sorted.toSeq
    for ((pages, id) <- batches.zipWithIndex) {
      rebuild(batchDf(pages, s"p$id.warc.gz"), id.toLong)
      probed(batchDf(pages, s"p$id.warc.gz"), id.toLong)
      assert(landed("b") === landed("a"),
        s"batch $id: snapshot-probed gate drifted from the per-batch fold")
      // the snapshot advanced AFTER the landing: one dir per batch
      assert(new java.io.File(s"$work/psl_snap/__batch=$id/meta").exists())
    }
    // the accreted snapshot == a from-scratch fold over every host the
    // stream ever saw (roll-forward ≡ rebuild, incrementally)
    val allHosts = batches.flatten.map(_._1)
      .map(u => u.stripPrefix("https://").takeWhile(_ != '/')).distinct
    val rebuiltTable = LinkGraph.pslDomainTable(
      allHosts.toDF("host"), rules.toDF("rule"))
      .as[(String, String)].collect().toMap
    val snapTable = LinkGraph.pslSnapshot(spark, s"$work/psl_snap/__batch=2")
      .as[(String, String)].collect().toMap
    assert(snapTable === rebuiltTable)
    assert(LinkGraph.pslSnapshotMeta(spark, s"$work/psl_snap/__batch=2")
      .nHosts === allHosts.size.toLong)
    // replay of batch 1 probes the strictly-earlier snapshot and
    // re-advances identically: landings and snapshots both unchanged
    val before = landed("b")
    probed(batchDf(batches(1), "p1.warc.gz"), 1L)
    assert(landed("b") === before, "replay must be idempotent")
    assert(LinkGraph.pslSnapshot(spark, s"$work/psl_snap/__batch=1")
      .as[(String, String)].collect().toMap ===
      LinkGraph.pslDomainTable(
        (batches(0) ++ batches(1)).map(_._1)
          .map(u => u.stripPrefix("https://").takeWhile(_ != '/')).distinct
          .toDF("host"), rules.toDF("rule"))
        .as[(String, String)].collect().toMap,
      "the re-advanced snapshot must rebuild bit-identically")
    // a rules drift mid-stream RAISES before any row is gated: an
    // incremental advance under changed rules would mix two folds
    (rules :+ "io").toDF("rule").write.mode("overwrite")
      .parquet(s"$work/psl_rules")
    intercept[IllegalArgumentException] {
      probed(batchDf(batches(2), "p3.warc.gz"), 3L)
    }
  }

  test("__batch= roll-forward concurrent-writer contract: last-writer-wins sequentially, torn landings fail loudly") {
    import graft.streaming.BatchRoot
    val work = SparkTestBase.tmpDir("graft_batch_landing")
    val dir = s"$work/idx/__batch=0"
    // sequential same-batch writers: the overwrite replaces the WHOLE
    // partition — last writer wins at directory grain, state consistent
    BatchRoot.land(Seq(1L, 2L, 3L).toDF("k"), s"$work/idx", 0L)
    BatchRoot.land(Seq(7L, 8L).toDF("k"), s"$work/idx", 0L)
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq === Seq(7L, 8L),
      "a clean second overwrite stands in full — the stated last-writer-wins grain")
    // a TORN landing (another writer's delete interleaved inside ours)
    // is what the post-commit count detects: clobber a committed part
    // file and re-verify — must fail loudly naming the directory
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    assert(part.delete())
    val e = intercept[IllegalStateException] {
      BatchRoot.verify(spark, dir, 2L)
    }
    assert(e.getMessage.contains("concurrent writer") && e.getMessage.contains(dir))
  }

  test("a cold index root holding no committed partition cold-starts") {
    import graft.streaming.{StreamingDedup, StreamingDsir}
    import graft.ext.Dsir
    val tgt = SparkTestBase.tmpDir("graft_stream_cold_tgt") + "/tgt"
    Dsir.dsirModel(Seq((100L, "the quick brown fox")).toDF("doc_id", "text"))
      .write.parquet(tgt)
    def docs(rows: (Long, String)*) =
      rows.map { case (id, t) => (id, t, "en", "srcS") }
        .toDF("doc_id", "text", "lang", "source")
    val texts = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta",
      3L -> "one two three four five six seven eight nine ten")
    val urls = Seq(1L -> "https://a.example.com/p/1",
      2L -> "https://a.example.com/p/1?utm_source=x").toDF("doc_id", "url")
    // (sink, the state roots it probes, built against a work dir)
    val cases: Seq[(String, Seq[String], String => (org.apache.spark.sql.DataFrame, Long) => Unit,
        org.apache.spark.sql.DataFrame)] = Seq(
      ("exactAgainstIndexSink", Seq("index"),
        w => StreamingDedup.exactAgainstIndexSink(s"$w/index", s"$w/out"), texts),
      ("urlDedupAgainstIndexSink", Seq("index"),
        w => StreamingDedup.urlDedupAgainstIndexSink(s"$w/index", s"$w/out"), urls),
      ("StreamingDsir.scoreSink", Seq("raw"),
        w => StreamingDsir.scoreSink(s"$w/raw", tgt, s"$w/out"), texts),
      ("curationChainSink", Seq("dig", "mh"),
        w => StreamingDedup.curationChainSink(s"$w/dig", s"$w/mh", s"$w/out", texts),
        texts))
    // an operator-pre-created empty root, and the root a crash inside
    // the first batch's index write leaves behind
    val shapes: Seq[(String, String => Unit)] = Seq(
      ("empty", r => new java.io.File(r).mkdirs()),
      ("crashed first batch", { r =>
        val t = new java.io.File(s"$r/__batch=0/_temporary/0")
        t.mkdirs()
        java.nio.file.Files.write(new java.io.File(t, "part-00000.parquet").toPath,
          Array[Byte](1, 2, 3))
      }))
    def landed(w: String) = spark.read.parquet(s"$w/out").collect().map(_.toString).sorted.toSeq
    for ((sink, roots, build, batch) <- cases) {
      val fresh = SparkTestBase.tmpDir("graft_stream_cold_ref")
      build(fresh)(batch, 0L)
      val want = landed(fresh)
      assert(want.nonEmpty, s"$sink landed nothing from a fresh root")
      for ((shape, make) <- shapes) {
        val w = SparkTestBase.tmpDir("graft_stream_cold")
        roots.foreach(r => make(s"$w/$r"))
        build(w)(batch, 0L)
        assert(landed(w) === want, s"$sink over a $shape root drifted from a fresh root")
      }
    }
  }

  test("index-backed streaming LINE dedup rejects its reserved accounting columns") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_line_guard")
    val sink = StreamingDedup.lineDedupAgainstIndexSink(s"$work/index", s"$work/out") _
    // either reserved name on the incoming batch would be silently
    // renamed/overwritten by the cut accounting — must reject up front
    val e = intercept[IllegalArgumentException] {
      sink(Seq((1L, "a", 0L)).toDF("doc_id", "text", "n_cut_lines"), 0L)
    }
    assert(e.getMessage.contains("n_cut_lines"))
    intercept[IllegalArgumentException] {
      sink(Seq((1L, "a", 0L)).toDF("doc_id", "text", "__cross_cut"), 0L)
    }
  }

  test("index-backed streaming NEAR-dup dedup: whole-history, stream == batch, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_neardup_idx")
    val sink = StreamingDedup.nearDupAgainstIndexSink(
      s"$work/index", s"$work/out", threshold = 0.6) _
    // 30-token docs; a one-token edit leaves 3-shingle Jaccard ≈ 0.81
    def base(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val (tA, tB, tC, tD) = (base("a"), base("b"), base("c"), base("d"))
    val tA2 = tA.replace("a15", "zz") // near-dup of tA
    val tA3 = tA.replace("a17", "yy") // near-dup of tA, arrives a batch later
    val tC2 = tC.replace("c20", "qq") // near-dup of tC
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // b0: in-batch near-dup pair (1,2) + fresh; b1: cross-batch near-dup
    // of the INDEXED survivor + fresh; b2: near-dup of b1's fresh + fresh
    sink(batchDf(1L -> tA, 2L -> tA2, 3L -> tB), 0L)
    sink(batchDf(11L -> tA3, 12L -> tC), 1L)
    sink(batchDf(21L -> tC2, 22L -> tD), 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === Seq(1L, 3L, 12L, 22L))
    // streamed keep set == one-shot batch near-dup dedup over the full
    // history (ids increase with arrival, so first-arrival == lowest id)
    val full = batchDf(1L -> tA, 2L -> tA2, 3L -> tB,
      11L -> tA3, 12L -> tC, 21L -> tC2, 22L -> tD)
    val batchKeep = graft.ext.Dedup.dedupNearDups(full,
        graft.ext.Dedup.nearDupMinHash(full, threshold = 0.6), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out() === batchKeep, "stream history near-dup drifted from batch semantics")
    // the rolled-forward index holds only the RETAINED corpus
    assert(spark.read.parquet(s"$work/index").select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L, 12L, 22L))
    // replay batch 1: strictly-earlier probe + per-batch overwrite must
    // reproduce the identical state
    sink(batchDf(11L -> tA3, 12L -> tC), 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
  }

  test("index-backed streaming SEMANTIC dedup: whole-history, stream == batch, replay-idempotent") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_semantic_idx")
    val sink = StreamingDedup.semanticAgainstIndexSink(
      s"$work/index", s"$work/out", threshold = 0.9, dims = 8) _
    // star-shaped clusters in an 8-dim space: tiny perturbations of a
    // base vector have cosine ≈ 0.9997 (>= 0.9); distinct bases are
    // orthogonal (cosine 0 < 0.9)
    def v(base: Int, eps: Float): Array[Float] = {
      val a = Array.fill(8)(0f); a(base) = 1f; a((base + 1) % 8) = eps; a
    }
    def batchDf(rows: (Long, Array[Float])*) = rows.toDF("vec_id", "embedding")
    // b0: in-batch twin pair (1,2) + fresh; b1: cross-batch twin of the
    // INDEXED survivor + fresh; b2: twin of b1's fresh + fresh
    sink(batchDf(1L -> v(0, 0f), 2L -> v(0, 0.02f), 3L -> v(1, 0f)), 0L)
    sink(batchDf(11L -> v(0, 0.03f), 12L -> v(2, 0f)), 1L)
    sink(batchDf(21L -> v(2, 0.02f), 22L -> v(3, 0f)), 2L)
    def out() = spark.read.parquet(s"$work/out")
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out() === Seq(1L, 3L, 12L, 22L))
    // streamed keep set == one-shot batch semantic dedup over the full
    // history (ids increase with arrival, so first-arrival == lowest id;
    // nClusters=1 = the exact all-pairs anchor path)
    val full = batchDf(1L -> v(0, 0f), 2L -> v(0, 0.02f), 3L -> v(1, 0f),
      11L -> v(0, 0.03f), 12L -> v(2, 0f), 21L -> v(2, 0.02f), 22L -> v(3, 0f))
    val batchKeep = graft.ext.Similarity.semanticDedup(full, threshold = 0.9, nClusters = 1)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out() === batchKeep, "stream history semantic dedup drifted from batch semantics")
    // the rolled-forward index holds only the RETAINED corpus
    assert(spark.read.parquet(s"$work/index").select("vec_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L, 12L, 22L))
    // replay batch 1: strictly-earlier probe + per-batch overwrite must
    // reproduce the identical state
    sink(batchDf(11L -> v(0, 0.03f), 12L -> v(2, 0f)), 1L)
    assert(out() === batchKeep, "replay of a delivered batch changed the output")
  }

  test("index-backed streaming IMAGE dedup: whole-history, stream == batch, payloads land, replay-idempotent") {
    import graft.streaming.StreamingDedup
    import graft.ext.Multimodal
    import graft.ext.Multimodal.Asset
    val work = SparkTestBase.tmpDir("graft_stream_img_idx")
    val sink = StreamingDedup.chunkSigAgainstIndexSink(s"$work/index", s"$work/out") _
    def grayPng(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val v = math.max(0, math.min(255, f(x, y)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // scenes: 9 vertical bands with distinct alternation patterns —
    // pairwise dHash distance 48-64 bits (a monotone gradient would
    // hash every scene to the same all-ones pattern); the twin's
    // small +25 overlay can't flip any 200-step band gradient
    val bandsOf = Map(
      0 -> Array(30, 230, 30, 230, 30, 230, 30, 230, 30),
      1 -> Array(30, 30, 230, 230, 30, 30, 230, 230, 30),
      2 -> Array(230, 30, 230, 30, 230, 30, 230, 30, 230),
      3 -> Array(230, 230, 30, 30, 230, 230, 30, 30, 230))
    def scene(s: Int)(x: Int, y: Int) = bandsOf(s)(x * 9 / 64)
    def twin(s: Int)(x: Int, y: Int) =
      scene(s)(x, y) + (if (x >= 20 && x < 26 && y >= 20 && y < 26) 25 else 0)
    def batchDf(rows: (Long, Array[Byte])*) =
      rows.map { case (id, p) => Asset(id, "image", p) }.toDF()
    // b0: in-batch twin pair (1,2) + a fresh scene; b1: cross-batch twin
    // of the INDEXED survivor + fresh; b2: twin of b1's fresh + fresh
    sink(batchDf(1L -> grayPng(scene(0)), 2L -> grayPng(twin(0)), 3L -> grayPng(scene(1))), 0L)
    sink(batchDf(11L -> grayPng(twin(0)), 12L -> grayPng(scene(2))), 1L)
    sink(batchDf(21L -> grayPng(twin(2)), 22L -> grayPng(scene(3))), 2L)
    def out() = spark.read.parquet(s"$work/out")
    assert(out().select("asset_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L, 12L, 22L))
    // the landing carries the PAYLOADS (curated corpus, not just ids)
    assert(out().where($"asset_id" === 1L).select("payload").as[Array[Byte]].head()
      .sameElements(grayPng(scene(0))))
    // streamed keep set == one-shot batch image dedup over full history
    val full = batchDf(1L -> grayPng(scene(0)), 2L -> grayPng(twin(0)), 3L -> grayPng(scene(1)),
      11L -> grayPng(twin(0)), 12L -> grayPng(scene(2)), 21L -> grayPng(twin(2)),
      22L -> grayPng(scene(3))).as[Asset]
    val batchKeep = graft.ext.Dedup.dedupNearDups(Multimodal.dHash(full),
        Multimodal.nearDupImages(full), "asset_id")
      .select("asset_id").as[Long].collect().sorted.toSeq
    assert(out().select("asset_id").as[Long].collect().sorted.toSeq === batchKeep,
      "stream history image dedup drifted from batch semantics")
    // index holds only retained signatures; replay reproduces state
    assert(spark.read.parquet(s"$work/index").select("asset_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 3L, 12L, 22L))
    sink(batchDf(11L -> grayPng(twin(0)), 12L -> grayPng(scene(2))), 1L)
    assert(out().select("asset_id").as[Long].collect().sorted.toSeq === batchKeep,
      "replay of a delivered batch changed the output")
  }

  test("streaming NEAR-dup on a transitive chain: greedy keeps the far end (pinned divergence from batch CC)") {
    import graft.streaming.StreamingDedup
    val work = SparkTestBase.tmpDir("graft_stream_neardup_chain")
    val sink = StreamingDedup.nearDupAgainstIndexSink(
      s"$work/index", s"$work/out", threshold = 0.6) _
    // chain A~B~C with A!~C: B shares 25 leading tokens with A and 25
    // trailing tokens with C; A and C share only the middle 20.
    // 3-shingle Jaccard: J(A,B)=J(B,C)=23/33≈0.70 > 0.6; J(A,C)=18/38≈0.47 < 0.6
    val mid = (6 to 25).map(i => s"x$i").mkString(" ")
    val tA = (1 to 5).map(i => s"a$i").mkString(" ") + " " + mid + " " + (26 to 30).map(i => s"a$i").mkString(" ")
    val tB = (1 to 5).map(i => s"a$i").mkString(" ") + " " + mid + " " + (26 to 30).map(i => s"c$i").mkString(" ")
    val tC = (1 to 5).map(i => s"c$i").mkString(" ") + " " + mid + " " + (26 to 30).map(i => s"c$i").mkString(" ")
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    sink(batchDf(1L -> tA), 0L) // A kept, indexed
    sink(batchDf(2L -> tB), 1L) // B near-dups retained A -> dropped, NOT indexed
    sink(batchDf(3L -> tC), 2L) // C near-dups only the dropped B -> kept
    val streamed = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // greedy/online semantics: every retained doc is pairwise-distant
    // from every other retained doc — C stays because it is genuinely
    // not a near-copy of anything retained
    assert(streamed === Seq(1L, 3L))
    // batch connected-components over the same corpus merges the chain
    // into one cluster and drops C — the documented divergence
    val full = batchDf(1L -> tA, 2L -> tB, 3L -> tC)
    val batchKeep = graft.ext.Dedup.dedupNearDups(full,
        graft.ext.Dedup.nearDupMinHash(full, threshold = 0.6), "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(batchKeep === Seq(1L),
      "batch CC semantics changed — revisit the documented greedy-vs-CC divergence")
  }

  test("compactIndex folds all-but-latest partitions; every probe and the sink survive") {
    import graft.streaming.StreamingDedup
    import org.apache.hadoop.fs.Path
    val work = SparkTestBase.tmpDir("graft_idx_compact")
    val indexRoot = s"$work/index"
    val sink = StreamingDedup.exactAgainstIndexSink(indexRoot, s"$work/out") _
    def batchDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    sink(batchDf(1L -> "alpha", 2L -> "beta"), 0L)
    sink(batchDf(11L -> "gamma"), 1L)
    sink(batchDf(21L -> "delta", 22L -> "epsilon"), 2L)
    sink(batchDf(31L -> "zeta"), 3L)
    def digests() = spark.read.parquet(indexRoot).drop("__batch")
      .as[String].collect().sorted.toSeq
    def probe(batchId: Long) = spark.read.parquet(indexRoot)
      .where($"__batch" < batchId).drop("__batch")
      .as[String].collect().sorted.toSeq
    val allBefore = digests()
    val latestReplayBefore = probe(3L) // what a redelivery of b3 sees
    val folded = StreamingDedup.compactIndex(spark, indexRoot)
    assert(folded === 2, "expected partitions 0..2 folded into one")
    val fs = new Path(indexRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new Path(indexRoot)).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq
    assert(dirs === Seq("__batch=2", "__batch=3"),
      s"latest untouched + one folded partition expected, got $dirs")
    // no staging/trash leftovers
    assert(!dirs.exists(d => d.contains("compact")))
    assert(digests() === allBefore, "compaction changed the index contents")
    assert(probe(3L) === latestReplayBefore,
      "replay view of the latest batch changed — replay contract broken")
    assert(probe(4L) === allBefore, "next batch's probe view changed")
    // the sink still dedups against the folded history
    sink(batchDf(41L -> "alpha", 42L -> "eta"), 4L)
    val out = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out === Seq(1L, 2L, 11L, 21L, 22L, 31L, 42L),
      "post-compaction batch failed to dedup against folded history")
    // idempotent maintenance: a second run right away is a no-op
    assert(StreamingDedup.compactIndex(spark, indexRoot) === 1,
      "expected exactly the two pre-latest partitions to fold")
    assert(StreamingDedup.compactIndex(spark, indexRoot) === 0,
      "expected a no-op once only one folded + latest partition remain")
    // b4 rolled the index forward with the WHOLE batch's digests
    assert(digests() === (allBefore ++ graft.ext.Dedup
      .exactIndex(batchDf(41L -> "alpha", 42L -> "eta")).as[String].collect()).sorted)
  }

  test("streaming theta sketch index: stream == batch estimates, replay-idempotent, compactable") {
    import graft.streaming.{StreamingDedup, StreamingSketches}
    val work = SparkTestBase.tmpDir("graft_stream_sketch")
    val indexRoot = s"$work/sketches"
    val sink = StreamingSketches.thetaStatsSink(indexRoot, Seq("src"), "text") _
    def batchDf(rows: (String, String)*) = rows.toDF("src", "text")
    // overlapping values across batches: distinct-per-src must reflect
    // the UNION of history, not the sum of batches
    sink(batchDf("a" -> "t1", "a" -> "t2", "b" -> "u1"), 0L)
    sink(batchDf("a" -> "t2", "a" -> "t3", "b" -> "u1"), 1L)
    sink(batchDf("a" -> "t1", "b" -> "u2"), 2L)
    def est() = StreamingSketches.currentEstimates(spark, indexRoot, Seq("src"))
      .as[(String, Double)].collect().toMap
    assert(est() === Map("a" -> 3.0, "b" -> 2.0),
      "stream history estimates must equal batch-over-union (exact below nominal)")
    // stream == batch: same estimates as a single build over all rows
    val full = batchDf("a" -> "t1", "a" -> "t2", "b" -> "u1",
      "a" -> "t2", "a" -> "t3", "b" -> "u1", "a" -> "t1", "b" -> "u2")
    val batchEst = graft.ext.Sketches.thetaEstimates(
      graft.ext.Sketches.thetaBuild(full, Seq("src"), "text"), Seq("src"))
      .as[(String, Double)].collect().toMap
    assert(est() === batchEst, "stream sketch index drifted from batch semantics")
    // replay: redelivering batch 1 overwrites its own partition, no drift
    sink(batchDf("a" -> "t2", "a" -> "t3", "b" -> "u1"), 1L)
    assert(est() === batchEst, "replay of a delivered batch changed the estimates")
    // the generic index compaction applies to this layout unchanged
    assert(StreamingDedup.compactIndex(spark, indexRoot) >= 1)
    assert(est() === batchEst, "compaction changed the merged estimates")
    // two indexes compose: overlap of this index against itself is total
    val cur = StreamingSketches.currentSketches(spark, indexRoot, Seq("src"))
    val ov = graft.ext.Sketches.overlap(cur, cur, Seq("src"))
      .as[(String, Double, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(ov === Map("a" -> 3.0, "b" -> 2.0))
  }

  test("streaming freq + quantile sketch indexes: stream == batch, replay-idempotent, compactable") {
    import graft.streaming.{StreamingDedup, StreamingSketches}
    val work = SparkTestBase.tmpDir("graft_stream_fq")
    // heavy hitters: counts must be the SUM of history (below capacity → exact)
    val fRoot = s"$work/freq"
    val fSink = StreamingSketches.freqStatsSink(fRoot, Seq("src"), "tok") _
    def fDf(rows: (String, String)*) = rows.toDF("src", "tok")
    fSink(fDf("a" -> "x", "a" -> "x", "a" -> "y"), 0L)
    fSink(fDf("a" -> "x", "a" -> "z"), 1L)
    def top() = StreamingSketches.currentTopK(spark, fRoot, Seq("src"), k = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(top() === Seq(("a", "x", 3L, 3L, 3L, 0L), ("a", "y", 1L, 1L, 1L, 0L),
      ("a", "z", 1L, 1L, 1L, 0L)))
    fSink(fDf("a" -> "x", "a" -> "z"), 1L) // replay
    assert(top() === Seq(("a", "x", 3L, 3L, 3L, 0L), ("a", "y", 1L, 1L, 1L, 0L),
      ("a", "z", 1L, 1L, 1L, 0L)), "replay of a delivered batch changed the counts")
    assert(StreamingDedup.compactIndex(spark, fRoot) >= 0)
    assert(top().map(t => (t._2, t._3)) === Seq("x" -> 3L, "y" -> 1L, "z" -> 1L))

    // quantiles: history distribution, exact below capacity
    val qRoot = s"$work/quant"
    val qSink = StreamingSketches.quantStatsSink(qRoot, Seq("src"), "v") _
    def qDf(vs: Double*) = vs.map("a" -> _).toDF("src", "v")
    qSink(qDf(1, 2, 3), 0L)
    qSink(qDf(4, 5), 1L)
    def med() = StreamingSketches.currentQuantiles(spark, qRoot, Seq("src"), Seq(0.5))
      .select("src", "n", "q50").as[(String, Long, Double)].collect().head
    assert(med() === (("a", 5L, 3.0)), "history median must fold all batches")
    qSink(qDf(4, 5), 1L) // replay
    assert(med() === (("a", 5L, 3.0)), "replay changed the quantile state")
  }

  test("streaming drift monitor: stream == batch drift, replay-idempotent, compactable") {
    import graft.streaming.{StreamingDedup, StreamingDrift}
    import graft.ext.Diff
    val work = SparkTestBase.tmpDir("graft_stream_drift")
    val indexRoot = s"$work/bands"
    val sink = StreamingDrift.bandCountsSink(indexRoot, "lang") _
    def df(rows: String*) = rows.toDF("lang")
    val baseline = Diff.bandCounts(df("en", "en", "de", "fr"), "lang")
    sink(df("en", "de"), 0L)
    sink(df("en", "en", "zh"), 1L)
    def drift() = StreamingDrift.currentDrift(spark, indexRoot, baseline)
      .orderBy("band")
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect().toSeq
    // stream == batch: folding the batches must equal one bandDrift
    // over the concatenated history
    val batchDrift = Diff.bandDrift(df("en", "en", "de", "fr"),
        df("en", "de", "en", "en", "zh"), "lang")
      .orderBy("band")
      .as[(String, Long, Long, Double, Double, Double, Option[Double])]
      .collect().toSeq
    assert(drift() === batchDrift, "streamed drift drifted from batch semantics")
    assert(drift().map(r => r._1 -> r._3).toMap ===
      Map("de" -> 1L, "en" -> 3L, "fr" -> 0L, "zh" -> 1L))
    // replay: redelivering batch 1 overwrites its own partition
    sink(df("en", "en", "zh"), 1L)
    assert(drift() === batchDrift, "replay of a delivered batch changed the drift")
    // the generic index compaction applies to this layout unchanged
    assert(StreamingDedup.compactIndex(spark, indexRoot) >= 0)
    assert(drift() === batchDrift, "compaction changed the folded counts")
  }

  /** An SCD2 journal batch of (id, v, load time, seqno) rows. */
  private def jdf(rows: (Int, String, String, Long)*) = {
    import org.apache.spark.sql.functions.{col, lit, to_timestamp}
    rows.toDF("id", "v", "__t", "__seqno")
      .withColumn("__transform_dt", to_timestamp(col("__t")))
      .withColumn("__load_dt", to_timestamp(col("__t")))
      .withColumn("__record_state", lit("A"))
      .drop("__t")
  }

  test("streaming SCD2 sink: stream == batch history, touched-buckets-only rewrite, replay-idempotent") {
    import graft.merge.Scd2
    import graft.streaming.StreamingScd2
    val root = SparkTestBase.tmpDir("graft_stream_scd2") + "/history"
    val nB = 8
    val sink = StreamingScd2.scd2Sink(root, Seq("id"), trackCols = Seq("v"), nBuckets = nB) _
    val b0 = jdf((1, "A", "2024-01-01 00:00:00", 1L), (2, "X", "2024-01-01 00:00:00", 2L))
    val b1 = jdf((1, "B", "2024-01-03 00:00:00", 3L)) // closes key 1's interval
    val b2 = jdf((3, "Q", "2024-01-04 00:00:00", 4L)) // fresh key, other bucket
    sink(b0, 0L); sink(b1, 1L)

    def hist(): Seq[(Int, String, String, Boolean)] =
      StreamingScd2.readHistory(spark, root)
        .orderBy("id", Scd2.ValidFrom).collect().toSeq.map { r =>
          (r.getInt(r.fieldIndex("id")), r.getString(r.fieldIndex("v")),
            r.getTimestamp(r.fieldIndex(Scd2.ValidFrom)).toString,
            r.getBoolean(r.fieldIndex(Scd2.IsCurrent)))
        }
    assert(hist() === Seq(
      (1, "A", "2024-01-01 00:00:00.0", false),
      (1, "B", "2024-01-03 00:00:00.0", true),
      (2, "X", "2024-01-01 00:00:00.0", true)))

    // bucket isolation: b2 touches only key 3's bucket — key 2's
    // partition files must be byte-identical afterwards
    val buckets = Seq(1, 2, 3).map(i => i ->
      jdf((i, "?", "2024-01-01 00:00:00", 0L))
        .select(StreamingScd2.bucketOf(Seq("id"), nB)).head().getLong(0)).toMap
    assert(buckets(3) !== buckets(2), "fixture ids must land in different buckets")
    def partFiles(b: Long): Map[String, Long] = {
      val d = new java.io.File(s"$root/${StreamingScd2.BucketCol}=$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = partFiles(buckets(2))
    sink(b2, 2L)
    assert(partFiles(buckets(2)) === before,
      "a batch must not rewrite partitions its keys don't touch")
    assert(hist().map(_._1).toSet === Set(1, 2, 3))

    // stream == batch over the full journal
    val full = Scd2.history(b0.unionByName(b1).unionByName(b2), Seq("id"), Seq("v"))
      .orderBy("id", Scd2.ValidFrom).collect().toSeq.map { r =>
        (r.getInt(r.fieldIndex("id")), r.getString(r.fieldIndex("v")),
          r.getTimestamp(r.fieldIndex(Scd2.ValidFrom)).toString,
          r.getBoolean(r.fieldIndex(Scd2.IsCurrent)))
      }
    assert(hist() === full, "streamed history drifted from the batch rebuild")

    // replay of a delivered batch reproduces identical state
    sink(b1, 1L)
    assert(hist() === full, "replay of a delivered batch changed the history")
  }

  test("streaming SCD2 sink: a committed history that fails to read throws and keeps every older version") {
    import graft.merge.Scd2
    import graft.streaming.StreamingScd2
    val root = SparkTestBase.tmpDir("graft_stream_scd2_unreadable") + "/history"
    val nB = 4
    val sink = StreamingScd2.scd2Sink(root, Seq("id"), trackCols = Seq("v"), nBuckets = nB) _
    val ids = 1 to 8
    sink(jdf(ids.map(i => (i, "A", "2024-01-01 00:00:00", i.toLong)): _*), 0L)
    def hist(): Seq[(Int, String, Boolean)] =
      StreamingScd2.readHistory(spark, root).orderBy("id", Scd2.ValidFrom)
        .select("id", "v", Scd2.IsCurrent).as[(Int, String, Boolean)].collect().toSeq
    val before = hist()
    assert(before.map(_._1).toSet === ids.toSet)
    // a stray non-partition directory holding a data file: the root is
    // committed, but partition discovery rejects it
    val stray = new java.io.File(s"$root/stray")
    val part = new java.io.File(s"$root/${StreamingScd2.BucketCol}=" +
      jdf((1, "?", "2024-01-01 00:00:00", 0L))
        .select(StreamingScd2.bucketOf(Seq("id"), nB)).head().getLong(0))
      .listFiles().find(_.getName.endsWith(".parquet")).get
    stray.mkdirs()
    java.nio.file.Files.copy(part.toPath, new java.io.File(stray, part.getName).toPath)
    intercept[Exception] {
      sink(jdf(ids.map(i => (i, "B", "2024-01-03 00:00:00", 100L + i)): _*), 1L)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(stray)
    assert(hist() === before, "a failed history read dropped older versions")
  }

  test("streaming DSIR scoring: rolled raw model == batch-built prior models, replay-idempotent") {
    import graft.streaming.StreamingDsir
    import graft.ext.Dsir
    val work = SparkTestBase.tmpDir("graft_stream_dsir")
    def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val corpus = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "zxq vvk wop qnd lrm")
    val target = docsDf(100L -> "the quick brown fox runs over the green hill")
    // seed: corpus raw model under __batch=-1, frozen target model
    Dsir.dsirModel(corpus).write.parquet(s"$work/raw/__batch=-1")
    Dsir.dsirModel(target).write.parquet(s"$work/tgt")
    val sink = StreamingDsir.scoreSink(s"$work/raw", s"$work/tgt", s"$work/out") _
    val b0 = docsDf(10L -> "the lazy dog sleeps", 11L -> "ppq rrs ttu")
    val b1 = docsDf(20L -> "the quick fox naps near the lazy dog")
    sink(b0, 0L)
    sink(b1, 1L)
    def scored() = StreamingDsir.scores(spark, s"$work/out")
      .select("doc_id", "n_features", "weight_bits")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // batch equivalent: each batch scored against corpus + strictly
    // earlier batches (raw) and the frozen target
    def direct(batch: org.apache.spark.sql.DataFrame,
               priorRaw: org.apache.spark.sql.DataFrame) =
      Dsir.dsirScoreAgainstModels(batch, Dsir.dsirModel(priorRaw),
          spark.read.parquet(s"$work/tgt"))
        .select("doc_id", "n_features", "weight_bits")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val want = (direct(b0, corpus) ++ direct(b1, corpus.unionByName(b0)))
      .sortBy(_._1)
    assert(scored() === want, "streamed scores drifted from the batch rebuild")
    // replay of batch 0: strictly-earlier probe must reproduce the
    // original scores even though batch 1's model partition exists
    sink(b0, 0L)
    assert(scored() === want, "replay of a delivered batch changed its scores")
  }

  test("streaming lang predictions: stream == batch writePredictions; replay-idempotent; compactable; feeds curation") {
    import graft.streaming.{StreamingLang, StreamingDedup}
    import graft.ext.{CcNet, LangModel}
    val work = SparkTestBase.tmpDir("graft_stream_lang")
    // two crafted languages with disjoint inventories (ExtSpec's
    // fixture discipline); the model trains once and FREEZES
    def sent(words: Seq[String], k: Int, n: Int) =
      (0 until n).map(i => words((i + k) % words.size)).mkString(" ")
    val aw = Seq("kala", "meri", "tulo", "sinu", "vesi")
    val bw = Seq("zorb", "gryx", "phex", "wyrd", "quzz")
    val train = ((1 to 5).map(i => (i.toLong, sent(aw, i, 8), "aa")) ++
      (6 to 10).map(i => (i.toLong, sent(bw, i, 8), "bb")))
      .toDF("doc_id", "text", "lang")
    LangModel.langTrain(train).write.parquet(s"$work/model")
    val sink = StreamingLang.scoreSink(s"$work/model", s"$work/out") _
    val b0 = ((20 to 25).map(i => (i.toLong, sent(aw, i, 10))) :+
      (26L, sent(bw, 3, 10))).toDF("doc_id", "text")
    val b1 = ((30 to 35).map(i => (i.toLong, sent(bw, i, 10))) :+
      (36L, sent(aw, 4, 10))).toDF("doc_id", "text")
    val b2 = Seq((40L, sent(aw, 7, 10)), (41L, sent(bw, 7, 10)))
      .toDF("doc_id", "text")
    sink(b0, 0L)
    sink(b1, 1L)
    sink(b2, 2L)
    def streamed() = StreamingLang.predictions(spark, s"$work/out")
      .select("doc_id", "lang_pred", "logprob", "margin")
      .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    // stream == the batch artifact over the full history, bit-for-bit
    // (per-doc scores are independent of the rest of the frame)
    val batchDir = SparkTestBase.tmpDir("graft_stream_lang_batch")
    val want = LangModel.writePredictions(spark,
        b0.unionByName(b1).unionByName(b2),
        spark.read.parquet(s"$work/model"), batchDir)
      .select("doc_id", "lang_pred", "logprob", "margin")
      .as[(Long, String, Double, Double)].collect().sortBy(_._1).toSeq
    assert(streamed() === want,
      "streamed predictions drifted from the batch writePredictions artifact")
    // replay of a delivered batch rewrites identical rows
    sink(b0, 0L)
    assert(streamed() === want, "replay of a delivered batch changed predictions")
    // compaction folds the per-batch partitions without changing a probe
    val folded = StreamingDedup.compactIndex(spark, s"$work/out")
    assert(folded > 0, "compaction should fold at least one partition")
    assert(streamed() === want, "compaction changed the prediction history")
    // the landed history feeds the curation tail exactly like the
    // batch artifact: curateWithPredictions(stream) == curateWithModel
    val docs = b0.unionByName(b1).unionByName(b2)
    val viaStream = CcNet.curateWithPredictions(docs,
        StreamingLang.predictions(spark, s"$work/out"))
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val viaModel = CcNet.curateWithModel(docs,
        spark.read.parquet(s"$work/model"))
      .select("doc_id", "lang_cand", "band")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(viaStream === viaModel,
      "ingest-scored predictions must drive the identical curation")
  }

  test("streaming DSIR: cold start scores exactly; model compaction preserves scores") {
    import graft.streaming.{StreamingDsir, StreamingDedup}
    import graft.ext.Dsir
    val work = SparkTestBase.tmpDir("graft_stream_dsir_cold")
    def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val target = docsDf(100L -> "the quick brown fox")
    Dsir.dsirModel(target).write.parquet(s"$work/tgt")
    val sink = StreamingDsir.scoreSink(s"$work/raw", s"$work/tgt", s"$work/out") _
    // NO raw-model seed: batch 0 scores against the empty model (every
    // count smooths to 1) — compare against the direct probe spelling
    val b0 = docsDf(10L -> "the lazy dog", 11L -> "ppq rrs")
    sink(b0, 0L)
    val direct0 = Dsir.dsirScoreAgainstModels(b0,
        Dsir.dsirModel(b0.limit(0)), spark.read.parquet(s"$work/tgt"))
      .select("doc_id", "weight_bits").as[(Long, Long)].collect().sortBy(_._1).toSeq
    def outFor(ids: Set[Long]) = spark.read.parquet(s"$work/out")
      .select("doc_id", "weight_bits").as[(Long, Long)].collect()
      .filter(r => ids.contains(r._1)).sortBy(_._1).toSeq
    assert(outFor(Set(10L, 11L)) === direct0, "cold-start scores drifted")
    // accrete two more batches, then fold the model partitions: the
    // NEXT batch must score identically to the uncompacted state
    sink(docsDf(20L -> "the quick dog"), 1L)
    sink(docsDf(30L -> "ppq the fox"), 2L)
    val wantNext = Dsir.dsirScoreAgainstModels(docsDf(40L -> "the lazy fox runs"),
        Dsir.dsirModel(b0.unionByName(docsDf(20L -> "the quick dog"))
          .unionByName(docsDf(30L -> "ppq the fox"))),
        spark.read.parquet(s"$work/tgt"))
      .select("doc_id", "weight_bits").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val folded = StreamingDedup.compactIndex(spark, s"$work/raw")
    assert(folded > 0, "compaction should fold at least one partition")
    sink(docsDf(40L -> "the lazy fox runs"), 3L)
    assert(outFor(Set(40L)) === wantNext,
      "scores after model compaction drifted from the uncompacted rebuild")
  }
}
