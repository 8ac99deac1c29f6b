package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, lit}
import graft.ext.Multimodal
import graft.ext.Multimodal._

/** Multimodal plumbing: the fake codec is deterministic, so the full
  * binary-column contract (schema, batch transforms, flatMap shape) is
  * exactly testable even though real decoders are stubbed.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val assets = Multimodal.syntheticAssets(spark, 30, bodyLen = 1024)

  test("decode parses typed metadata out of the binary header") {
    val d = Multimodal.decode(assets).collect().map(x => x.asset_id -> x).toMap
    assert(d.size === 30)
    assert(d(0L).kind === "image" && d(0L).width === 64 && d(0L).nFrames === 1)
    assert(d(1L).kind === "audio" && d(1L).sampleRate === 16000)
    assert(d(2L).kind === "video" && d(2L).nFrames === 6)
    assert(d.values.forall(_.payloadBytes === 1024 + FakeCodec.HeaderLen))
  }

  test("decode rejects a non-GRFT payload loudly") {
    val bad = Seq(Asset(99L, "image", Array.fill[Byte](64)(0))).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.decode(bad).collect()
    }
    assert(e.getMessage.contains("bad magic") ||
      Option(e.getCause).exists(_.getMessage.contains("bad magic")))
  }

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_ARGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, 0xFF000000 | ((x * 80) << 16) | ((y * 80) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real PNG payloads decode via ImageIO (not the GRFT header)") {
    val real = Seq(Asset(100L, "image", pngBytes(2, 2)),
      Asset(101L, "image", pngBytes(5, 3))).toDS()
    val d = Multimodal.decode(real).collect().map(x => x.asset_id -> x).toMap
    assert(d(100L).width === 2 && d(100L).height === 2 && d(100L).nFrames === 1)
    assert(d(101L).width === 5 && d(101L).height === 3)
  }

  private def wavBytes(nSamples: Int, rate: Float = 8000f): Array[Byte] = {
    import javax.sound.sampled._
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v = (math.sin(i * 0.1) * 16000).toInt.toShort
      pcm(2 * i) = (v & 0xFF).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val ais = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real WAV payloads decode via javax.sound (sample rate + frame count)") {
    val real = Seq(Asset(200L, "audio", wavBytes(400, 8000f)),
      Asset(201L, "audio", wavBytes(100, 16000f))).toDS()
    val d = Multimodal.decode(real).collect().map(x => x.asset_id -> x).toMap
    assert(d(200L).sampleRate === 8000 && d(200L).nFrames === 400)
    assert(d(201L).sampleRate === 16000 && d(201L).nFrames === 100)
  }

  /** Deterministic animated GIF: `n` solid-color full frames. */
  private def gifBytes(w: Int, h: Int, n: Int): Array[Byte] = {
    val frames = (0 until n).map { f =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(40 * f % 256, 80, 200))
      g.fillRect(0, 0, w, h)
      g.dispose()
      img
    }
    Multimodal.Codec.writeGif(frames)
  }

  test("real animated GIF decodes via ImageIO: dims + frame count") {
    val real = Seq(Asset(300L, "video", gifBytes(6, 4, 5)),
      Asset(301L, "video", gifBytes(3, 3, 1))).toDS()
    val d = Multimodal.decode(real).collect().map(x => x.asset_id -> x).toMap
    assert(d(300L).width === 6 && d(300L).height === 4 && d(300L).nFrames === 5)
    assert(d(301L).nFrames === 1)
  }

  test("real GIF frame sampling: every strideth stored frame decodes at the GIF's dims") {
    val gif = gifBytes(4, 4, 7)
    val frames = Multimodal.Codec.readGifFrames(gif)
    assert(frames.length === 7)
    frames.foreach(f => assert(f.getWidth === 4 && f.getHeight === 4))
    val sampled = Multimodal.videoFrameSigs(Seq(Asset(300L, "video", gif)).toDS(), stride = 2)
      .select("frame_idx").as[Int].collect().sorted
    assert(sampled.toSeq === Seq(0, 2, 4, 6))
  }

  // ---- MP4 container demux (ISO BMFF built box-by-box per spec) ----

  private def beInt(v: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).putInt(v).array()
  private def mp4Box(typ: String, content: Array[Byte]*): Array[Byte] = {
    val body = content.flatten.toArray
    beInt(8 + body.length) ++ typ.getBytes("US-ASCII") ++ body
  }

  /** 5 samples (sizes 3..7, sample i filled with byte 10·i+1) laid out
    * as 2 chunks (2 + 3 samples), with an audio trak FIRST so handler
    * selection is exercised. Offsets: ftyp is 16 bytes, mdat header 8,
    * so chunk 1 starts at 24 and chunk 2 at 31.
    */
  private def mp4Bytes(fill: (Int, Int) => Byte = (i, _) => (10 * i + 1).toByte)
    : (Array[Byte], IndexedSeq[Array[Byte]]) = {
    val samples = (0 until 5).map(i => Array.tabulate[Byte](3 + i)(j => fill(i, j)))
    val ftyp = mp4Box("ftyp", "isom".getBytes("US-ASCII"), beInt(0))
    val mdat = mp4Box("mdat", samples.flatten.toArray)
    val tkhd = mp4Box("tkhd", beInt(0), // version 0 + flags
      Array.fill[Byte](4 * 5 + 8 + 2 + 2 + 2 + 2 + 36)(0), // times/ids/layer/matrix
      beInt(320 << 16), beInt(240 << 16)) // 16.16 fixed dims
    val hdlrV = mp4Box("hdlr", beInt(0), beInt(0), "vide".getBytes("US-ASCII"),
      Array.fill[Byte](13)(0))
    val hdlrA = mp4Box("hdlr", beInt(0), beInt(0), "soun".getBytes("US-ASCII"),
      Array.fill[Byte](13)(0))
    val stsd = mp4Box("stsd", beInt(0), beInt(1),
      beInt(16), "avc1".getBytes("US-ASCII"), Array.fill[Byte](8)(0))
    val stsz = mp4Box("stsz", beInt(0), beInt(0), beInt(5),
      samples.map(s => beInt(s.length)).flatten.toArray)
    val stsc = mp4Box("stsc", beInt(0), beInt(2),
      beInt(1), beInt(2), beInt(1),  // chunks 1..1: 2 samples each
      beInt(2), beInt(3), beInt(1))  // chunks 2..:  3 samples each
    val stco = mp4Box("stco", beInt(0), beInt(2), beInt(24), beInt(31))
    val stbl = mp4Box("stbl", stsd, stsz, stsc, stco)
    val trakA = mp4Box("trak", mp4Box("mdia", hdlrA))
    val trakV = mp4Box("trak", tkhd, mp4Box("mdia", hdlrV, mp4Box("minf", stbl)))
    (ftyp ++ mdat ++ mp4Box("moov", trakA, trakV), samples)
  }

  test("real MP4 demux: dims from tkhd, frame count from stsz, vide track selected") {
    val (payload, samples) = mp4Bytes()
    val d = Multimodal.decode(Seq(Asset(1L, "video", payload)).toDS).collect().head
    assert((d.width, d.height, d.nFrames) === ((320, 240, samples.length)))
    assert(Multimodal.Codec.readMp4Video(payload).codec === "avc1")
  }

  test("real MP4 frame sampling extracts the exact encoded access units") {
    val (payload, samples) = mp4Bytes()
    val v = Multimodal.Codec.readMp4Video(payload)
    assert(v.sampleSizes.length === 5)
    samples.indices.foreach { i =>
      val start = v.sampleOffsets(i).toInt
      assert(payload.slice(start, start + v.sampleSizes(i)).toSeq === samples(i).toSeq,
        s"sample $i bytes drifted from the stsz/stsc/stco map")
    }
    val strided = Multimodal.videoFrameSigs(Seq(Asset(7L, "video", payload)).toDS, stride = 2)
      .select("frame_idx").as[Int].collect().sorted
    assert(strided.toSeq === Seq(0, 2, 4))
  }

  private def grayPng(w: Int, h: Int)(lum: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = math.max(0, math.min(255, lum(x, y)))
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("image near-dup: perturbed twin pairs up, distinct image stays apart, pixel distance agrees") {
    // "photo"-like smooth gradient; its twin adds a small bright
    // overlay (a watermark/logo edit); the third image reverses the
    // gradient — near-identical pixels vs structurally different ones
    def base(x: Int, y: Int) = 40 + x * 3 + y * 2
    def twin(x: Int, y: Int) =
      base(x, y) + (if (x >= 20 && x < 26 && y >= 20 && y < 26) 25 else 0)
    def other(x: Int, y: Int) = 220 - x * 3 + (y % 7) * 4
    val assets = Seq(Asset(1L, "image", grayPng(64, 64)(base)),
      Asset(2L, "image", grayPng(64, 64)(twin)),
      Asset(3L, "image", grayPng(64, 64)(other))).toDS()
    val pairs = Multimodal.nearDupImages(assets)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), s"expected only the planted twin pair, got $pairs")
    // brute-force pixel distance (mean abs luminance diff) confirms the
    // dHash verdict with a wide margin: the paired images are ~50x
    // closer than any unpaired combination
    def dist(f: (Int, Int) => Int, g: (Int, Int) => Int): Double =
      (for (y <- 0 until 64; x <- 0 until 64)
        yield math.abs(f(x, y) - g(x, y)).toDouble).sum / 4096.0
    assert(dist(base, twin) < 1.0, "planted twin must be pixel-close")
    assert(dist(base, other) > 40 && dist(twin, other) > 40,
      "unpaired images must be pixel-far")
  }

  test("dHash survives re-encode and 2x resize (gradients outlive the pixels)") {
    // the same scene at 64x64 and 128x128: raw bytes differ everywhere,
    // but the 9x8 downsampled gradient signs — the dHash — agree
    def scene(x: Int, y: Int) = 30 + x * 2 + (y * y) / 20
    val assets = Seq(
      Asset(1L, "image", grayPng(64, 64)((x, y) => scene(x, y))),
      Asset(2L, "image", grayPng(128, 128)((x, y) => scene(x / 2, y / 2)))).toDS()
    val pairs = Multimodal.nearDupImages(assets)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)), "resized re-encode of the same scene must near-dup")
  }

  test("incremental chunk-sig probe == full pair set (cross-frame), corpus never re-decodes") {
    // split the q82-style corpus: index on doc_id%10!=0, probe the rest;
    // the probe must reproduce exactly the cross-frame slice of the
    // full-corpus pair set
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def assetsOf(pred: org.apache.spark.sql.Column) =
      docs.where(pred).select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) => Asset(id, "image", Multimodal.renderTextImage(text)) }
    val full = Multimodal.nearDupImages(assetsOf(lit(true)))
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    val crossFrameFull = full.filter { case (a, b, _) =>
      (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b, h) => if (a % 10 == 0) (a, b, h) else (b, a, h) }
    val probed = graft.ext.ExtQueries.q83(spark, sf)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(probed === crossFrameFull,
      "persisted-index probe drifted from the full-corpus cross-frame pairs")
  }

  test("q83 plan: index side is a bare signature parquet scan — corpus payloads never re-decode") {
    val plan = graft.ext.ExtQueries.q83(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan.toString
    // exactly ONE hash pipeline (the query batch's render+dHash); the
    // corpus enters as a two-column parquet relation of signatures
    val hashPipelines = "MapPartitions".r.findAllIn(plan).size
    assert(hashPipelines === 1,
      s"expected one dHash mapPartitions (query side only), got $hashPipelines:\n$plan")
    assert(plan.contains("Relation [asset_id") && plan.contains("phash"),
      s"index side must be the signature parquet scan:\n$plan")
  }

  test("q82: document-rendered PNG near-dup pair set is pinned at sf0.001") {
    // end-to-end: text -> real PNG -> ImageIO decode -> downsample ->
    // dHash -> chunked Hamming join; deterministic, so pinned exactly
    val rows = graft.ext.ExtQueries.q82(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length === 28, s"q82 pair count drifted: ${rows.length}")
    val s = rows.map(r => r.getLong(0) + "," + r.getLong(1) + "," + r.getInt(2)).mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md5 === "dba2e6f242a10690f27050cdc94f9a97", s"q82 pair set drifted ($md5)")
  }

  // ---- video near-dup (frame-sampled dHash family) ----

  /** Avalanched deterministic byte — distinct (seed, i) give ~random
    * grids, so distinct frames sit FAR apart in Hamming space while
    * identical seeds reproduce identical frames.
    */
  private def noise(seed: Int, i: Int): Int = {
    var h = seed * 0x9E3779B1 + i * 0x85EBCA77
    h ^= h >>> 13; h *= 0xC2B2AE3D; h ^= h >>> 16
    h & 0xFF
  }

  /** One 9×8 grayscale frame of avalanche noise per seed. */
  private def noiseFrame(seed: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (i <- 0 until 72) {
      val v = noise(seed, i)
      img.setRGB(i % 9, i / 9, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def gifClip(frameSeeds: Int*): Array[Byte] =
    Multimodal.Codec.writeGif(frameSeeds.map(noiseFrame))

  test("video near-dup (GIF path): twin clips sharing 3 of 4 decoded frames pair, disjoint clips don't") {
    val clips = Seq(
      Asset(1L, "video", gifClip(11, 12, 13, 14)),
      Asset(2L, "video", gifClip(11, 12, 13, 99)), // one frame re-shot
      Asset(3L, "video", gifClip(51, 52, 53, 54)), // unrelated clip
      Asset(9L, "image", gifClip(11, 12, 13, 14))) // image kind: not a video
    val got = Multimodal.nearDupVideos(clips.toDS(), stride = 1)
      .select("a_id", "b_id", "matched_frames", "n_frames_a", "n_frames_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 3L, 4L, 4L)),
      s"expected exactly the planted twin pair, got $got")
  }

  test("video near-dup (GIF path): a trimmed clip still matches (order-free frame sets)") {
    // clip 2 = clip 1 missing its FIRST frame: frame indices shift,
    // which must not matter — matching is on frame content, not index
    val clips = Seq(
      Asset(1L, "video", gifClip(21, 22, 23, 24)),
      Asset(2L, "video", gifClip(22, 23, 24)))
    val got = Multimodal.nearDupVideos(clips.toDS(), stride = 1)
      .select("a_id", "b_id", "matched_frames")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 3L)),
      "all 3 frames of the trimmed clip should match despite the index shift")
  }

  test("video near-dup (MP4 path): re-encode of one access unit keeps the pair") {
    val (payload, _) = mp4Bytes((i, j) => noise(i, j).toByte)
    val twin = payload.clone()
    // corrupt sample 0 (chunk 1 starts at byte 24, sample 0 is 3 bytes)
    twin(24) = (twin(24) ^ 0x55).toByte
    twin(25) = (twin(25) ^ 0x55).toByte
    val clips = Seq(Asset(1L, "video", payload), Asset(2L, "video", twin))
    val got = Multimodal.nearDupVideos(clips.toDS(), stride = 1)
      .select("a_id", "b_id", "matched_frames", "n_frames_a")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.length === 1 && got.head._1 === 1L && got.head._2 === 2L)
    assert(got.head._3 >= 4L && got.head._4 === 5L,
      s"at least the 4 untouched samples must match: $got")
  }

  test("video near-dup (GRFT path): per-frame body twins pair, full re-shoots don't") {
    def grftClip(id: Long, frameSeeds: Seq[Int], perFrame: Int = 72): Array[Byte] = {
      val p = FakeCodec.encode(
        MediaMeta("video", 8, 8, 0, frameSeeds.length), id, perFrame * frameSeeds.length)
      for (f <- frameSeeds.indices; j <- 0 until perFrame)
        p(FakeCodec.HeaderLen + f * perFrame + j) = noise(frameSeeds(f), j).toByte
      p
    }
    val clips = Seq(
      Asset(1L, "video", grftClip(1L, Seq(31, 32, 33, 34))),
      Asset(2L, "video", grftClip(2L, Seq(31, 32, 99, 34))),
      Asset(3L, "video", grftClip(3L, Seq(61, 62, 63, 64))))
    val got = Multimodal.nearDupVideos(clips.toDS(), stride = 1)
      .select("a_id", "b_id", "matched_frames")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 3L)), s"got $got")
  }

  test("videoFrameSigs: stride samples every strideth frame; non-video kinds are skipped") {
    val clips = Seq(
      Asset(1L, "video", gifClip(1, 2, 3, 4, 5, 6, 7)),
      Asset(2L, "image", gifClip(1)),
      Asset(3L, "audio", gifClip(1)))
    val got = Multimodal.videoFrameSigs(clips.toDS(), stride = 2)
      .select("asset_id", "frame_idx")
      .as[(Long, Int)].collect().sorted.toSeq
    assert(got === Seq((1L, 0), (1L, 2), (1L, 4), (1L, 6)))
  }

  test("golden pair set: q89 video near-dup at sf0.001 is exactly pinned") {
    // the no_oracle row's hard signal (q82 contract, one modality up):
    // any drift in GIF encode, frame decode, per-frame dHash, the
    // chunk join, or the match-fraction gate changes this set.
    // Re-pin ONLY for an intentional change.
    val rows = graft.ext.ExtQueries.q89(spark, "/root/testdata/sf0.001")
      .select("a_id", "b_id", "matched_frames", "n_frames_a", "n_frames_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val s = rows.map(r => s"${r._1},${r._2},${r._3},${r._4},${r._5}").mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.nonEmpty, "q89 should find the corpus's rendered near-dup clips")
    assert(md5 === "1475cf7499b95963458fcf46c2159997", s"q89 pair set drifted ($md5, ${rows.length} rows)")
  }

  test("corrupt MP4 sample tables fail with actionable errors, not garbage frames") {
    val (payload, _) = mp4Bytes()
    // point chunk 2 past the end of the payload: the demux must refuse
    val broken = payload.clone()
    val stcoAt = {
      // locate the stco box and its second offset entry
      val idx = payload.indexOfSlice("stco".getBytes("US-ASCII"))
      idx + 4 + 4 + 4 + 4 // type + verflags + count + first entry
    }
    java.nio.ByteBuffer.wrap(broken).putInt(stcoAt, payload.length + 100)
    val e = intercept[IllegalArgumentException](Multimodal.Codec.readMp4Video(broken))
    assert(e.getMessage.contains("overruns"))
    val noMoov = intercept[IllegalArgumentException](
      Multimodal.Codec.readMp4Video(mp4Box("ftyp", "isom".getBytes("US-ASCII"), beInt(0))
        ++ mp4Box("mdat", Array[Byte](1, 2, 3))))
    assert(noMoov.getMessage.contains("moov"))
  }
}
