package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Multimodal plumbing: schema contract, batch-iterator decode stage,
  * frame sampling — real imageio decode for images (pixel statistics
  * asserted against the synthetic PNG's known content), stub decoder
  * determinism pinned for audio/video.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("image features are real pixel statistics of the decoded PNG") {
    val media = Multimodal.syntheticMedia(spark, 6)
    val feats = Multimodal.extractFeatures(media)
      .filter(col("media_type") === "image")
      .select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    // media_id 0: base color (0,0,0) + 0..63 horizontal gradient,
    // so every channel mean is mean(shade)/255 = 31.5/255
    val f0 = feats(0L)
    assert(f0(0) === 128f && f0(1) === 96f)             // true decoded dims
    assert(math.abs(f0(2) - 128f / 96f) < 1e-4)         // aspect
    val expectedMean = 31.5f / 255f
    Seq(f0(3), f0(4), f0(5), f0(6)).foreach(m => assert(math.abs(m - expectedMean) < 0.01,
      s"channel mean $m != $expectedMean"))
    assert(f0(7) > 0f)                                  // gradient -> nonzero luma std
    // media_id 3: base (111, 219, 197) -> channels differ from each other
    val f3 = feats(3L)
    assert(f3(3) < f3(4) && f3(5) < f3(4))
  }

  test("resized payloads are decodable PNGs with the target dimensions") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val rows = Multimodal.resizeImages(media, 64, 48).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val img = Multimodal.decodeImage(r.getAs[Array[Byte]](1))
      assert(img.isDefined, s"media ${r.getLong(0)} not decodable after resize")
      assert(img.get.getWidth === 64 && img.get.getHeight === 48)
    }
  }

  test("audio features are real waveform statistics of the decoded WAV") {
    val media = Multimodal.syntheticMedia(spark, 6)
    val feats = Multimodal.extractFeatures(media)
      .filter(col("media_type") === "audio")
      .select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    // media_id 1: 16-bit mono 8 kHz sine, freq = 200 + (1%20)*20 = 220 Hz,
    // amplitude 0.5, 800 samples
    val f1 = feats(1L)
    assert(f1(0) === 8000f && f1(1) === 1f)                  // true decoded format
    assert(math.abs(f1(2) - 0.1f) < 1e-4)                    // duration = 800/8000 s
    assert(math.abs(f1(3) - 0.5 / math.sqrt(2.0)) < 0.01,    // RMS = A/sqrt(2)
      s"rms ${f1(3)}")
    assert(math.abs(f1(4) - 2.0 * 220 / 8000) < 0.01,        // ZCR = 2f/sr
      s"zcr ${f1(4)}")
    assert(f1(5) > 0.48f && f1(5) <= 0.51f)                  // peak ~= amplitude
    assert(f1(7) === 16f)                                    // bits per sample
    // media_id 4: freq 280 Hz -> higher zero-crossing rate than 220 Hz
    val f4 = feats(4L)
    assert(f4(4) > f1(4))
  }

  test("feature extraction preserves ids and emits fixed-dim vectors") {
    val media = Multimodal.syntheticMedia(spark, 60)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === 60)
    val dims = feats.select(size(col("feature"))).distinct().as[Int].collect()
    assert(dims === Array(Multimodal.featureDim))
  }

  test("decode stub is deterministic across runs") {
    val media = Multimodal.syntheticMedia(spark, 20)
    val a = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val b = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    assert(a === b)
  }

  test("decode stub: same payload -> same feature, null payload -> zeros") {
    val f1 = Multimodal.decodeStub(Array[Byte](1, 2, 3))
    val f2 = Multimodal.decodeStub(Array[Byte](1, 2, 3))
    assert(f1 === f2)
    assert(Multimodal.decodeStub(null) === Array.fill(Multimodal.featureDim)(0f))
  }

  test("resize stage rewrites dimensions, shrinks payloads, stays deterministic") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val resized = Multimodal.resizeImages(media, 64, 48)
    val rows = resized.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(2) === 64 && r.getInt(3) === 48))
    // images were 640x480; payloads shrink proportionally and deterministically
    val orig = media.filter(col("media_type") === "image")
      .select("media_id", "payload").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]](1).length < orig(r.getLong(0)).length)
    }
    def key(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1)
    val again = Multimodal.resizeImages(media, 64, 48).collect()
    assert(key(rows) === key(again))
  }

  test("perceptual hash: identical bytes -> equal, distinct seeds -> far, edits -> close") {
    import graft.multimodal.Multimodal
    def ph(bytes: Array[Byte]): Long =
      Multimodal.decodeImage(bytes).map(Multimodal.averageHash).get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val a = ph(Multimodal.syntheticPatternPng(1))
    assert(a === ph(Multimodal.syntheticPatternPng(1)), "hash must be deterministic")
    assert(ham(a, ph(Multimodal.syntheticPatternPng(2))) > 12,
      "independent block-noise images must be far apart")
    assert(ham(a, ph(Multimodal.syntheticPatternPng(1, editBlocks = 2))) <= 8,
      "a 2-block edit must stay within a few bits")
  }

  test("banded phash near-dup join finds planted copies, skips unrelated") {
    import graft.multimodal.Multimodal
    val corpus = Multimodal.syntheticImageCorpus(spark, 40, nEdited = 5, nExact = 5)
    val pairs = Multimodal.imagePhashNearDups(corpus)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    for (i <- 5L until 10L)
      assert(byPair.get((i, 2000L + i)).contains(0), s"exact copy of $i must hash at 0")
    for (i <- 0L until 5L)
      assert(byPair.contains((i, 1000L + i)), s"edited near-dup of $i must be found")
    assert(pairs.forall(_._3 <= 8))
  }

  test("audio fingerprint: gain-invariant, seed-distinctive") {
    import graft.multimodal.Multimodal
    def fp(bytes: Array[Byte]): Long =
      Multimodal.decodeAudio(bytes).map { case (_, s) => Multimodal.audioEnergyHash(s) }.get
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val a = fp(Multimodal.syntheticEnvelopeWav(3))
    assert(a === fp(Multimodal.syntheticEnvelopeWav(3)), "fingerprint must be deterministic")
    assert(ham(a, fp(Multimodal.syntheticEnvelopeWav(3, gain = 0.5))) <= 5,
      "uniform gain must not move the energy contour")
    assert(ham(a, fp(Multimodal.syntheticEnvelopeWav(4))) > 12,
      "independent envelopes must be far apart")
  }

  test("banded audio near-dup join finds gain-scaled and exact copies") {
    import graft.multimodal.Multimodal
    val corpus = Multimodal.syntheticAudioCorpus(spark, 40, nGained = 5, nExact = 5)
    val pairs = Multimodal.audioFingerprintNearDups(corpus)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    for (i <- 5L until 10L)
      assert(byPair.get((i, 2000L + i)).contains(0), s"exact copy of $i must hash at 0")
    for (i <- 0L until 5L)
      assert(byPair.contains((i, 1000L + i)), s"gain-scaled copy of $i must be found")
  }

  test("banded hamming join: adversarial one-diff-per-band pair is still found") {
    import graft.multimodal.Multimodal
    // maxHamming = 8 -> 9 disjoint bands. Plant a pair differing in
    // EXACTLY 8 bits placed one per band of the former buggy uniform
    // 8-bit layout {7,15,23,31,39,47,55,63}: under that layout no band
    // agreed (the 9th band silently duplicated band 0), so this pair was
    // missed; the even disjoint-band layout must find it.
    val h1 = 0L
    val h2 = Seq(7, 15, 23, 31, 39, 47, 55, 63).map(1L << _).reduce(_ | _)
    val far = 0x5555555555555555L // hamming 32 from h1 — must NOT pair
    val df = Seq((1L, h1), (2L, h2), (3L, far)).toDF("id", "h")
    val pairs = Multimodal.hammingBandJoin(df, maxHamming = 8)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((1L, 2L, 8)))
  }

  test("MJPEG split recovers exact frame boundaries and each frame decodes") {
    val clip = Multimodal.syntheticMjpeg(3, nFrames = 5)
    val frames = Multimodal.splitMjpeg(clip)
    assert(frames.length === 5)
    frames.foreach { b =>
      val img = Multimodal.decodeImage(b)
      assert(img.isDefined, "split frame must be a standalone decodable JPEG")
      assert(img.get.getWidth === 64 && img.get.getHeight === 48)
    }
    // the split is exact: re-concatenating the frames reproduces the clip
    assert(frames.flatten === clip.toSeq)
    // non-MJPEG bytes yield no frames (routes to the stub path)
    assert(Multimodal.splitMjpeg(Array.tabulate[Byte](64)(_.toByte)).isEmpty)
    assert(Multimodal.splitMjpeg(null).isEmpty)
  }

  test("MJPEG split terminates fast on adversarial all-SOI payloads") {
    import graft.multimodal.Multimodal
    // 1 MB of repeated FF D8: every offset is an SOI and every marker
    // walk runs to the end — unbounded retries would do ~n²/4 byte reads
    // (≈2.5e11 here, minutes); the retry budget keeps it O(budget·n)
    val evil = Array.tabulate[Byte](1 << 20)(i => if (i % 2 == 0) 0xFF.toByte else 0xD8.toByte)
    val t0 = System.nanoTime()
    assert(Multimodal.splitMjpeg(evil).isEmpty)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs < 5000, s"adversarial split took ${elapsedMs}ms")
    // and a garbage prefix within the retry budget still recovers frames
    val clip = Multimodal.syntheticMjpeg(3, nFrames = 2)
    val prefixed = Array.fill[Byte](7)(0xFF.toByte) ++ Array[Byte](0xD8.toByte) ++ clip
    assert(Multimodal.splitMjpeg(prefixed).length === 2)
  }

  test("video frame stats are real per-frame pixel statistics of the MJPEG clip") {
    val media = Multimodal.syntheticMedia(spark, 9) // video ids: 2, 5, 8
    val stats = Multimodal.videoFrameStats(media).collect()
    assert(stats.length === 3 * 5)
    // id 2: frame f is flat gray at shade 16*(f+1) + 2 — DC-only JPEG, so
    // decoded mean luma tracks the shade and within-frame std ≈ 0
    stats.filter(_.getLong(0) == 2L).sortBy(_.getInt(1)).zipWithIndex.foreach { case (r, f) =>
      assert(r.getInt(1) === f)
      assert(r.getInt(2) === 64 && r.getInt(3) === 48)
      val expected = (16f * (f + 1) + 2f) / 255f
      assert(math.abs(r.getFloat(4) - expected) < 0.02,
        s"frame $f mean_luma ${r.getFloat(4)} != $expected")
      assert(r.getFloat(5) < 0.02, s"flat frame $f std_luma ${r.getFloat(5)}")
    }
  }

  test("video features are real MJPEG statistics: frame count, dims, motion ramp") {
    val media = Multimodal.syntheticMedia(spark, 9)
    val feats = Multimodal.extractFeatures(media)
      .filter(col("media_type") === "video")
      .select("media_id", "feature").as[(Long, Seq[Float])].collect().toMap
    val f2 = feats(2L)
    assert(f2(0) === 5f)                       // true frame count
    assert(f2(1) === 64f && f2(2) === 48f)     // true decoded dims
    // shades 18,34,50,66,82 → mean luma 50/255; motion = 16/255 per step
    assert(math.abs(f2(4) - 50f / 255f) < 0.02, s"mean luma ${f2(4)}")
    assert(math.abs(f2(6) - 16f / 255f) < 0.02, s"motion ${f2(6)}")
  }

  test("frame sampling expands videos by duration at the given cadence") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.sampleFrames(media, everyMs = 5000)
    val check = frames.groupBy("media_id").count()
      .join(media.select(col("media_id"), col("duration_ms")), "media_id")
      .withColumn("expected", (col("duration_ms") / 5000).cast("long") + 1)
      .filter(col("count") =!= col("expected"))
    assert(check.count() === 0)
    // only videos are expanded
    val nonVideo = frames.join(
      media.filter(col("media_type") =!= "video").select("media_id"), "media_id")
    assert(nonVideo.count() === 0)
  }
}
