package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition in
  * batches — the Scala analog of a `mapInPandas` decode/feature stage.
  *
  * IMAGES are decoded for real with the JDK's built-in `javax.imageio`
  * (PNG/JPEG/BMP/GIF — no external dependency): feature extraction
  * computes actual pixel statistics and resize is an actual
  * decode→scale→re-encode. AUDIO is decoded for real with the JDK's
  * built-in `javax.sound.sampled` (WAV/PCM/AIFF/AU): feature extraction
  * computes actual waveform statistics (duration, RMS, zero-crossing
  * rate, peak). VIDEO is decoded for real for MJPEG clips (VERDICT r5
  * #5): an MJPEG stream is concatenated JPEGs, so [[splitMjpeg]] walks
  * the JPEG marker structure to cut frame boundaries and each frame
  * goes through the existing `javax.imageio` path — zero new
  * dependencies; per-frame pixel statistics and inter-frame motion are
  * real. Inter-frame codecs (H.264 etc.) remain STUBBED — the JDK ships
  * no such codec — via `decodeStub`'s deterministic hash-derived vector,
  * which is also the fallback for any payload that fails to decode. The
  * surrounding design — the schema contract, the batch-iterator shape,
  * partition-level parallelism, repartitioning by media type so one
  * task decodes one codec — is identical for all paths and tested
  * (MultimodalSpec).
  */
object Multimodal {

  /** Sample rate (Hz) of every synthetic WAV fixture. */
  private val WavSampleRate = 8000f

  // executor-side codec init: no AWT display needed, and no ImageIO
  // tmp-file cache per decode (it defaults to disk-backed streams)
  locally {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** Media-row schema: opaque payload + typed metadata, the at-rest form
    * of a multimodal training corpus (payloads inline for small media;
    * at 100 TB the `payload` column holds a pointer + byte-range into
    * blob storage and this schema is unchanged).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),  // image|audio|video
    StructField("payload", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("codec", StringType)))

  val featureDim = 8

  /** Real image decode (JDK `javax.imageio`): PNG/JPEG/BMP/GIF payloads
    * to a BufferedImage; None for null/undecodable bytes.
    */
  private[graft] def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (payload == null) None
    else
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      // NonFatal only (ADVICE r3): a corrupt payload degrades to the
      // stub, but VM-fatal errors (OOM on a huge decode) must propagate
      // and fail the task rather than silently emit stub features
      catch { case scala.util.control.NonFatal(_) => None }

  /** Real image features from decoded pixels: [width, height, aspect,
    * meanR, meanG, meanB, meanLuma, stdLuma] (channel stats normalized
    * to 0..1). Pixels are subsampled on a ≤64×64 grid so the per-image
    * cost is bounded regardless of resolution — the per-row work stays
    * O(1) at 100 TB.
    */
  private[graft] def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val stepX = math.max(1, w / 64)
    val stepY = math.max(1, h / 64)
    var sr, sg, sb, sl, sl2 = 0.0
    var n = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val l = 0.299 * r + 0.587 * g + 0.114 * b
        sr += r; sg += g; sb += b; sl += l; sl2 += l * l
        n += 1
        x += stepX
      }
      y += stepY
    }
    val inv = 1.0 / math.max(n, 1)
    val meanL = sl * inv
    val varL = math.max(sl2 * inv - meanL * meanL, 0.0)
    Array(w.toFloat, h.toFloat, (w.toDouble / math.max(h, 1)).toFloat,
      (sr * inv / 255.0).toFloat, (sg * inv / 255.0).toFloat, (sb * inv / 255.0).toFloat,
      (meanL / 255.0).toFloat, (math.sqrt(varL) / 255.0).toFloat)
  }

  /** Real audio decode (JDK `javax.sound.sampled` — WAV/PCM/AIFF/AU, no
    * external dependency): parses the container, converts to signed PCM,
    * and returns per-sample amplitudes normalized to [-1, 1] (channels
    * averaged) plus the format. None for null/unparseable bytes.
    */
  private[graft] def decodeAudio(payload: Array[Byte]): Option[(javax.sound.sampled.AudioFormat, Array[Double])] =
    if (payload == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val bits = fmt.getSampleSizeInBits
        val channels = fmt.getChannels
        val bytesPerSample = bits / 8
        if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED) return None
        val raw = ais.readAllBytes()
        val frameSize = bytesPerSample * channels
        if (frameSize == 0 || bits % 8 != 0 || bits > 32) return None
        val nFrames = raw.length / frameSize
        val samples = new Array[Double](nFrames)
        val big = fmt.isBigEndian
        val unsigned = fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED
        val maxVal = (1L << (bits - 1)).toDouble
        var f = 0
        while (f < nFrames) {
          var acc = 0.0
          var c = 0
          while (c < channels) {
            val off = f * frameSize + c * bytesPerSample
            var v = 0L
            var k = 0
            while (k < bytesPerSample) {
              val idx = if (big) off + k else off + (bytesPerSample - 1 - k)
              v = (v << 8) | (raw(idx) & 0xffL)
              k += 1
            }
            // sign-extend (or re-center unsigned PCM)
            val shifted = v << (64 - bits)
            val signed = if (unsigned) v - maxVal.toLong else shifted >> (64 - bits)
            acc += signed / maxVal
            c += 1
          }
          samples(f) = acc / channels
          f += 1
        }
        Some((fmt, samples))
      } finally ais.close()
    } catch { case scala.util.control.NonFatal(_) => None }  // see decodeImage

  /** Real audio features from decoded samples: [sampleRate, channels,
    * durationSec, rms, zeroCrossingRate, peak, meanAbs, bitsPerSample] —
    * one pass over the waveform (the standard cheap audio-quality
    * signals a corpus filter computes before training).
    */
  private[graft] def audioFeatures(fmt: javax.sound.sampled.AudioFormat,
                                   samples: Array[Double]): Array[Float] = {
    val n = samples.length
    var s2 = 0.0; var sAbs = 0.0; var peak = 0.0
    var crossings = 0
    var i = 0
    while (i < n) {
      val x = samples(i)
      s2 += x * x
      val a = math.abs(x)
      sAbs += a
      if (a > peak) peak = a
      if (i > 0 && (samples(i - 1) >= 0) != (x >= 0)) crossings += 1
      i += 1
    }
    val inv = 1.0 / math.max(n, 1)
    Array(fmt.getSampleRate, fmt.getChannels.toFloat,
      (n / math.max(fmt.getSampleRate, 1f)),
      math.sqrt(s2 * inv).toFloat, (crossings.toDouble / math.max(n - 1, 1)).toFloat,
      peak.toFloat, (sAbs * inv).toFloat, fmt.getSampleSizeInBits.toFloat)
  }

  /** Split a concatenated-JPEG (MJPEG) byte stream into frames by
    * walking the JPEG marker structure — NOT a naive FFD8/FFD9 byte
    * scan: SOI/EOI byte pairs legitimately occur inside entropy-coded
    * scan data, so each frame is parsed segment by segment (markers
    * carry a 2-byte length except the standalone SOI/EOI/RSTn/TEM;
    * after SOS the entropy stream runs until the next non-RST,
    * non-stuffed marker). Returns the frames as standalone JPEG byte
    * arrays; bytes that never form a complete SOI..EOI frame are
    * skipped. One linear pass over the payload.
    */
  private[graft] def splitMjpeg(payload: Array[Byte]): Seq[Array[Byte]] = {
    if (payload == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val n = payload.length
    @inline def u(i: Int): Int = payload(i) & 0xff
    var i = 0
    var aborts = 16 // failed-walk retry budget (see the abort branch)
    while (i + 1 < n) {
      if (u(i) == 0xFF && u(i + 1) == 0xD8) {
        val start = i
        var p = i + 2
        var end = -1
        var abort = false
        while (end < 0 && !abort && p + 1 < n) {
          if (u(p) != 0xFF) abort = true // structure violation: not a frame
          else u(p + 1) match {
            case 0xD9 => end = p + 2                               // EOI
            case 0xD8 | 0x01 => p += 2                              // SOI (spurious) / TEM
            case m if m >= 0xD0 && m <= 0xD7 => p += 2              // RSTn
            case 0xDA =>                                            // SOS → entropy data
              if (p + 3 >= n) abort = true
              else {
                p += 2 + ((u(p + 2) << 8) | u(p + 3))
                var scanning = true
                while (scanning && p + 1 < n) {
                  if (u(p) == 0xFF) {
                    val m2 = u(p + 1)
                    if (m2 == 0x00 || (m2 >= 0xD0 && m2 <= 0xD7)) p += 2 // stuffed/RST
                    else scanning = false                                // real marker
                  } else p += 1
                }
                if (p + 1 >= n && end < 0) abort = true
              }
            case _ =>                                               // segment with length
              if (p + 3 >= n) abort = true
              else p += 2 + ((u(p + 2) << 8) | u(p + 3))
          }
        }
        if (end > start) { out += java.util.Arrays.copyOfRange(payload, start, end); i = end }
        else {
          // aborted walk: retrying from start+2 preserves maximal frame
          // recovery on garbage-prefixed streams, but each retry re-walks
          // the tail — O(n²) on adversarial input (e.g. FF D8 repeated).
          // Budget the retries: after `aborts` failed walks, skip past
          // the scanned region instead — termination in O(budget·n),
          // graceful degradation preserved for real corrupt payloads.
          aborts -= 1
          if (aborts >= 0) i += 2 else i = math.max(i + 2, p)
        }
      } else i += 1
    }
    out.toSeq
  }

  /** Real MJPEG video decode: split on JPEG frame boundaries and decode
    * each frame with the imageio path. None when no frame decodes (e.g.
    * an inter-frame codec payload), which routes to the stub.
    */
  private[graft] def decodeVideoFrames(payload: Array[Byte]): Option[Seq[java.awt.image.BufferedImage]] = {
    val frames = splitMjpeg(payload).flatMap(decodeImage)
    if (frames.isEmpty) None else Some(frames)
  }

  /** Real video features from decoded MJPEG frames: [nFrames, width,
    * height, aspect, mean luma across frames, mean within-frame luma
    * std, inter-frame motion (mean |Δ mean-luma| between consecutive
    * frames), mean within-frame green] — the cheap temporal + spatial
    * signals a corpus filter wants (static-clip detection, black-frame
    * detection) computed from actual pixels.
    */
  private[graft] def videoFeatures(frames: Seq[java.awt.image.BufferedImage]): Array[Float] = {
    val stats = frames.map(imageFeatures) // per-frame [w,h,aspect,mR,mG,mB,meanL,stdL]
    val nf = stats.length
    val inv = 1.0f / nf
    val motion =
      if (nf > 1)
        stats.sliding(2).map(w => math.abs(w(1)(6) - w(0)(6))).sum / (nf - 1)
      else 0.0
    Array(nf.toFloat, stats.head(0), stats.head(1), stats.head(2),
      stats.map(_(6)).sum * inv, stats.map(_(7)).sum * inv,
      motion.toFloat, stats.map(_(4)).sum * inv)
  }

  /** STUB decode/feature-extract for inter-frame video codecs (and
    * undecodable image/audio bytes): the JDK ships no H.264-class codec,
    * so a real implementation would decode the payload with an external
    * library and emit an embedding; the stub emits a deterministic
    * hash-derived vector with the same shape, so the pipeline's schema,
    * batching, and determinism are exercised end-to-end. MJPEG payloads
    * never reach it — they decode for real via [[decodeVideoFrames]].
    */
  private[graft] def decodeStub(payload: Array[Byte]): Array[Float] = {
    if (payload == null) return Array.fill(featureDim)(0f)
    var h = 1125899906842597L  // deterministic FNV-ish rolling hash
    val out = new Array[Float](featureDim)
    var i = 0
    while (i < payload.length) { h = h * 31 + (payload(i) & 0xff); i += 1 }
    var j = 0
    while (j < featureDim) {
      val hj = h ^ (0x9E3779B97F4A7C15L * (j + 1))
      out(j) = ((hj % 1000003L).toFloat) / 1000003f
      j += 1
    }
    out
  }

  private val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("feature", ArrayType(FloatType))))

  /** Per-partition batched decode → feature column. RANGE-repartitions
    * on (media_type, media_id) first: range partitioning keeps each
    * partition contiguous in the sort order, so tasks stay (almost)
    * single-codec for cache/dictionary locality at scale — while the
    * media_id spread gives every partition work. (Hash-repartitioning
    * on media_type alone would collapse the whole corpus onto one task
    * per distinct type — three decode tasks for 100 TB.) Then maps
    * partitions with an iterator — the rows stream through without
    * materializing the partition.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val repart = media.repartitionByRange(col("media_type"), col("media_id"))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(featureSchema)
    repart.select(col("media_id"), col("media_type"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
          val tpe = r.getString(1)
          // images: real pixel statistics; audio: real waveform
          // statistics (javax.sound.sampled); video: real per-frame
          // pixel + motion statistics for MJPEG payloads; inter-frame
          // codecs (+ undecodable bytes of any type): deterministic
          // stub with the same shape
          val feat = tpe match {
            case "image" => decodeImage(payload).map(imageFeatures).getOrElse(decodeStub(payload))
            case "audio" => decodeAudio(payload).map { case (f, s) => audioFeatures(f, s) }
              .getOrElse(decodeStub(payload))
            case "video" => decodeVideoFrames(payload).map(videoFeatures).getOrElse(decodeStub(payload))
            case _ => decodeStub(payload)
          }
          Row(r.getLong(0), tpe, feat.toSeq)
        }
      }(enc)
  }

  /** 64-bit average-hash (aHash) perceptual fingerprint: bilinear-resize
    * to 8×8, integer luma (BT.601 weights ×1000 — no float rounding),
    * bit i set when pixel i's luma exceeds the 64-pixel mean. Identical
    * images hash identically regardless of encoding; small
    * brightness/scale edits stay within a few bits of Hamming distance —
    * the standard cheap image-dedup key.
    */
  private[graft] def averageHash(img: java.awt.image.BufferedImage): Long = {
    val small = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = small.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, 8, 8, null)
    } finally g.dispose()
    val lum = new Array[Long](64)
    var i = 0
    while (i < 64) {
      val rgb = small.getRGB(i % 8, i / 8)
      lum(i) = 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)
      i += 1
    }
    val mean = lum.sum / 64
    var bits = 0L
    i = 0
    while (i < 64) {
      if (lum(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Shared shape of every per-row media fingerprint: filter to one
    * media_type, batched mapPartitions decode (justified: the payload is
    * opaque binary no Column expression can decode), (media_id, <hash>)
    * out with null for undecodable payloads. One definition of the
    * null-payload / Row-boxing plumbing so a new media type cannot
    * silently diverge from the others.
    */
  private def mediaFingerprint(media: DataFrame, mediaType: String, outCol: String)
                              (hash: Array[Byte] => Option[Long]): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField(outCol, LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    media.filter(col("media_type") === mediaType)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          Row(r.getLong(0), hash(payload).map(Long.box).orNull)
        }
      }(enc)
  }

  /** Perceptual hash per image row: (media_id, phash) with null for
    * undecodable payloads.
    */
  def imagePhash(media: DataFrame): DataFrame =
    mediaFingerprint(media, "image", "phash")(p => decodeImage(p).map(averageHash))

  /** The (band, band-value) key array both the batch join and the
    * streaming twin ([[graft.stream.StreamingMediaNearDup]]) explode —
    * ONE implementation so batch/stream candidate generation cannot
    * diverge (the StreamingNearDup shared-expression discipline).
    *
    * Distributes the 64 bits over DISJOINT bands as evenly as possible
    * (the first 64 % nBands bands get one extra bit). A uniform
    * ceil(64/nBands) width is WRONG when it doesn't divide 64: the last
    * band's shift reaches 64, which Java reduces mod 64 — silently
    * duplicating band 0 and voiding the pigeonhole guarantee (a pair
    * differing once per real band would be missed).
    */
  private[graft] def hammingBandKeys(h: org.apache.spark.sql.Column,
                                     maxHamming: Int): org.apache.spark.sql.Column = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming in [0,64): $maxHamming")
    val nBands = maxHamming + 1
    val base = 64 / nBands
    val rem = 64 % nBands
    val widths = (0 until nBands).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    array((0 until nBands).map { b =>
      val sliced = shiftrightunsigned(h, offsets(b))
      val bv = if (widths(b) >= 64) sliced
        else sliced.bitwiseAND(lit((1L << widths(b)) - 1))
      struct(lit(b).as("band"), bv.as("bv"))
    }: _*)
  }

  /** Banded Hamming self-join over a (id, h) 64-bit-hash table: split
    * every hash into `maxHamming + 1` bit-bands
    * ([[hammingBandKeys]]) — by pigeonhole, two hashes within Hamming
    * `maxHamming` agree EXACTLY on at least one band — self-join on
    * (band, bits), verify with `bit_count(xor)`. The same banding trick
    * SimHash dedup uses: the corpus shuffles as (band-key, id) pairs
    * only; the quadratic pair enumeration happens per bucket, never
    * across the corpus — no all-pairs join at any scale.
    * Output: (id_a, id_b, hamming).
    */
  private[graft] def hammingBandJoin(hashed: DataFrame, maxHamming: Int): DataFrame = {
    val keys = hashed.select(col("id"), col("h"),
        explode(hammingBandKeys(col("h"), maxHamming)).as("bk"))
      .select(col("id"), col("h"), col("bk.band"), col("bk.bv"))
    keys.select(col("band"), col("bv"), col("id").as("id_a"), col("h").as("h_a"))
      .join(keys.select(col("band"), col("bv"), col("id").as("id_b"), col("h").as("h_b")),
        Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-duplicate image pairs by perceptual-hash Hamming distance
    * (at most 8) — [[imagePhash]] into the banded [[hammingBandJoin]].
    */
  def imagePhashNearDups(media: DataFrame): DataFrame =
    hammingBandJoin(
      imagePhash(media).filter(col("phash").isNotNull)
        .select(col("media_id").as("id"), col("phash").as("h")),
      8)

  /** 64-bit audio energy-contour fingerprint over the decoded waveform:
    * 64 equal windows of mean-square energy, bit i set when
    * `e(i) > e((i+5) mod 64)`. Comparing energy RATIOS makes the
    * fingerprint exactly invariant to uniform gain changes (a positive
    * scale multiplies every energy, preserving every strict comparison)
    * and robust to re-encoding — the cheap audio-dedup key (an energy
    * contour in the Haitsma–Kalker family, time-windows only).
    */
  private[graft] def audioEnergyHash(samples: Array[Double]): Long = {
    val n = samples.length
    if (n < 64) return 0L
    val e = new Array[Double](64)
    var w = 0
    while (w < 64) {
      val from = (n.toLong * w / 64).toInt
      val to = (n.toLong * (w + 1) / 64).toInt
      var s = 0.0
      var i = from
      while (i < to) { s += samples(i) * samples(i); i += 1 }
      e(w) = s / math.max(to - from, 1)
      w += 1
    }
    var bits = 0L
    var i = 0
    while (i < 64) {
      if (e(i) > e((i + 5) % 64)) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Energy-contour fingerprint per audio row: (media_id, afp) with null
    * for undecodable payloads — the audio twin of [[imagePhash]].
    */
  def audioFingerprint(media: DataFrame): DataFrame =
    mediaFingerprint(media, "audio", "afp")(p =>
      decodeAudio(p).map { case (_, s) => audioEnergyHash(s) })

  /** Near-duplicate audio pairs by fingerprint Hamming distance —
    * [[audioFingerprint]] into the banded [[hammingBandJoin]].
    */
  def audioFingerprintNearDups(media: DataFrame): DataFrame =
    hammingBandJoin(
      audioFingerprint(media).filter(col("afp").isNotNull)
        .select(col("media_id").as("id"), col("afp").as("h")),
      5)

  /** Deterministic block-noise PNG for the perceptual-dedup fixtures:
    * an 8×8 grid of constant-gray blocks whose values come from an LCG
    * seeded by `i`, so different seeds give ~32-bit-apart aHashes while
    * the block structure survives the 8×8 resize exactly. `editBlocks`
    * replaces that many leading blocks with a different value —
    * simulating a small edit (logo/crop) that should stay within a few
    * bits of the original's hash. (The gradient [[syntheticPng]] can't
    * serve here: its aHash bit pattern is the same for every seed.)
    */
  private[graft] def syntheticPatternPng(i: Int, editBlocks: Int = 0): Array[Byte] = {
    val vals = new Array[Int](64)
    var s = i * 2654435761L + 99991L
    var b = 0
    while (b < 64) {
      s = s * 6364136223846793005L + 1442695040888963407L
      vals(b) = ((s >>> 33) % 241).toInt // 0..240, headroom for edits
      b += 1
    }
    var e = 0
    while (e < math.min(editBlocks, 64)) {
      vals(e) = (vals(e) + 120) % 241
      e += 1
    }
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val v = vals((y * 8 / 64) * 8 + (x * 8 / 64))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Envelope-modulated WAV for the audio-dedup fixtures: a 400 Hz tone
    * whose amplitude steps through 16 LCG-seeded segment levels, so the
    * 64-window energy contour is seed-distinctive (a pure constant-
    * amplitude sine has a flat contour — useless for fingerprinting).
    * `gain` scales every sample uniformly: the energy-contour hash must
    * be invariant to it.
    */
  private[graft] def syntheticEnvelopeWav(i: Int, gain: Double = 1.0): Array[Byte] = {
    val amps = new Array[Double](16)
    var s0 = i * 2654435761L + 7919L
    var k = 0
    while (k < 16) {
      s0 = s0 * 6364136223846793005L + 1442695040888963407L
      amps(k) = 0.10 + ((s0 >>> 33) % 800) / 1000.0 // 0.10 .. 0.90
      k += 1
    }
    pcm16Wav(1024) { s =>
      val a = gain * amps(s * 16 / 1024)
      (a * math.sin(2 * math.Pi * 400.0 * s / WavSampleRate) * 32767).toInt
    }
  }

  /** WAV bytes of 16-bit mono little-endian PCM whose s-th sample is
    * `sample(s)`, s < nSamples. */
  private def pcm16Wav(nSamples: Int)(sample: Int => Int): Array[Byte] = {
    val pcm = new Array[Byte](nSamples * 2)
    var s = 0
    while (s < nSamples) {
      val v = sample(s)
      pcm(2 * s) = (v & 0xff).toByte
      pcm(2 * s + 1) = ((v >> 8) & 0xff).toByte
      s += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(WavSampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Audio-dedup fixture: `n` distinct envelope tones, the first
    * `nGained` mirrored as gain-scaled (0.5×) near-dups (media_id +
    * 1000) and the next `nExact` as byte-identical copies (media_id +
    * 2000) — the audio twin of [[syntheticImageCorpus]].
    */
  def syntheticAudioCorpus(spark: SparkSession, n: Int,
                           nGained: Int = 10, nExact: Int = 10): DataFrame = {
    import spark.implicits._
    val base = (0 until n).map(i => (i.toLong, "audio", syntheticEnvelopeWav(i)))
    val gained = (0 until math.min(nGained, n))
      .map(i => (1000L + i, "audio", syntheticEnvelopeWav(i, gain = 0.5)))
    val exact = (nGained until math.min(nGained + nExact, n))
      .map(i => (2000L + i, "audio", syntheticEnvelopeWav(i)))
    (base ++ gained ++ exact).toDF("media_id", "media_type", "payload")
  }

  /** The planted-pair manifest of the media-dedup fixtures at their
    * q81/q84 operating point (nEdited/nGained = 10, nExact = 10,
    * n ≥ 20): near-kind pairs at (i, 1000+i) for i < 10 and exact
    * copies at (i, 2000+i) for 10 ≤ i < 20. ONE definition consumed by
    * the declared queries AND their oracle literal builder, so the
    * layout cannot drift between the three hand-maintained copies it
    * replaces (r7 review). Must stay consistent with
    * [[syntheticImageCorpus]]/[[syntheticAudioCorpus]] defaults.
    */
  def plantedPairs(nearKind: String): Seq[(Long, Long, String)] =
    (0 until 10).map(i => (i.toLong, 1000L + i, nearKind)) ++
      (10 until 20).map(i => (i.toLong, 2000L + i, "exact"))

  /** Image-dedup fixture: `n` distinct block-noise images, the first
    * `nEdited` mirrored as lightly-edited near-dups (media_id + 1000)
    * and the next `nExact` as byte-identical copies (media_id + 2000).
    */
  def syntheticImageCorpus(spark: SparkSession, n: Int,
                           nEdited: Int = 10, nExact: Int = 10): DataFrame = {
    import spark.implicits._
    val base = (0 until n).map(i => (i.toLong, "image", syntheticPatternPng(i)))
    val edited = (0 until math.min(nEdited, n))
      .map(i => (1000L + i, "image", syntheticPatternPng(i, editBlocks = 2)))
    val exact = (nEdited until math.min(nEdited + nExact, n))
      .map(i => (2000L + i, "image", syntheticPatternPng(i)))
    (base ++ edited ++ exact).toDF("media_id", "media_type", "payload")
  }

  /** Real image resize: decode → bilinear scale onto a dstW×dstH canvas
    * → re-encode as PNG. Deterministic (fixed encoder, no metadata
    * timestamps). Returns None when the payload isn't a decodable image.
    */
  private[graft] def resizeImage(payload: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] =
    decodeImage(payload).map { img =>
      val out = new java.awt.image.BufferedImage(
        dstW, dstH, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, dstW, dstH, null)
      } finally g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  /** STUB resize fallback for undecodable payloads: derives a
    * deterministic smaller payload (hash-sampled bytes, length
    * proportional to the pixel ratio) so the batch shape, metadata
    * rewrite, and determinism hold even for rows the real codec cannot
    * handle.
    */
  private[graft] def resizeStub(payload: Array[Byte], srcW: Int, srcH: Int,
                                dstW: Int, dstH: Int): Array[Byte] = {
    if (payload == null || srcW <= 0 || srcH <= 0) return payload
    val ratio = (dstW.toLong * dstH).toDouble / (srcW.toLong * srcH)
    val outLen = math.max(1, (payload.length * math.min(ratio, 1.0)).toInt)
    val out = new Array[Byte](outLen)
    var i = 0
    while (i < outLen) {
      out(i) = payload((i.toLong * payload.length / outLen).toInt)
      i += 1
    }
    out
  }

  private val resizedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("payload", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  /** Image resize stage: per-partition batched transform of image rows to
    * the target dimensions, metadata rewritten to match. Non-image rows
    * are excluded (resize is an image op; audio/video go through their
    * own stages).
    */
  def resizeImages(media: DataFrame, dstW: Int, dstH: Int): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(resizedSchema)
    media.filter(col("media_type") === "image")
      .select(col("media_id"), col("payload"), col("width"), col("height"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          val (w, h) = (if (r.isNullAt(2)) 0 else r.getInt(2), if (r.isNullAt(3)) 0 else r.getInt(3))
          val resized = resizeImage(payload, dstW, dstH)
            .getOrElse(resizeStub(payload, w, h, dstW, dstH))
          Row(r.getLong(0), resized, dstW, dstH)
        }
      }(enc)
  }

  /** Frame-sampling plan for video rows: expands each video into
    * evenly-spaced sample timestamps (the Spark-side half of a frame
    * extractor; [[videoFrameStats]] is the decode half for MJPEG).
    */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("media_type") === "video" && col("duration_ms").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))).as("frame_ts_ms"))

  private val frameStatSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("mean_luma", FloatType),
    StructField("std_luma", FloatType)))

  /** Real per-frame pixel statistics for MJPEG video rows: one output
    * row per decoded frame (frame index in stream order, decoded
    * dimensions, mean/std luma). Same batch-iterator shape as
    * [[extractFeatures]]; a video row whose payload contains no
    * decodable JPEG frame contributes no rows (an inter-frame-codec
    * payload has no frame boundaries to cut). The per-row cost is
    * bounded: frames decode sequentially inside one task and pixel
    * stats subsample on the ≤64×64 grid of [[imageFeatures]].
    */
  def videoFrameStats(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(frameStatSchema)
    media.filter(col("media_type") === "video")
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          splitMjpeg(payload).iterator.zipWithIndex.flatMap { case (bytes, idx) =>
            decodeImage(bytes).map { img =>
              val f = imageFeatures(img)
              Row(r.getLong(0), idx, img.getWidth, img.getHeight, f(6), f(7))
            }
          }
        }
      }(enc)
  }

  /** Deterministic synthetic PNG: a per-id base color with a horizontal
    * luminance gradient, so channel statistics are predictable and the
    * real codec path is genuinely exercised.
    */
  private[graft] def syntheticPng(i: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(128, 96, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val baseR = (i * 37) % 256
    val baseG = (i * 73) % 256
    val baseB = (i * 151) % 256
    var y = 0
    while (y < 96) {
      var x = 0
      while (x < 128) {
        val shade = x * 64 / 128  // 0..63 left-to-right gradient
        val r = math.min(baseR + shade, 255)
        val g = math.min(baseG + shade, 255)
        val b = math.min(baseB + shade, 255)
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthetic WAV: a 16-bit mono PCM sine at a per-id
    * frequency and fixed amplitude, so waveform statistics (RMS ≈
    * amplitude/√2, zero-crossing rate ≈ 2·f/sampleRate) are predictable
    * and the real codec path is genuinely exercised.
    */
  private[graft] def syntheticWav(i: Int): Array[Byte] = {
    val freq = 200.0 + (i % 20) * 20.0
    pcm16Wav(800) { s =>
      (0.5 * math.sin(2 * math.Pi * freq * s / WavSampleRate) * 32767).toInt
    }
  }

  /** Deterministic synthetic MJPEG clip: `nFrames` concatenated JPEG
    * frames, frame f a flat gray at luma `16·(f+1) + (i % 16)` — a
    * brightness ramp, so per-frame mean luma and inter-frame motion are
    * predictable (flat frames are DC-only, so JPEG loss is ≈ 0) and the
    * real marker-walking split + decode path is genuinely exercised.
    */
  private[graft] def syntheticMjpeg(i: Int, nFrames: Int = 5): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(64, 48, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val shade = math.min(16 * (f + 1) + (i % 16), 255)
      val rgb = (shade << 16) | (shade << 8) | shade
      var y = 0
      while (y < 48) {
        var x = 0
        while (x < 64) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpg", bos)
      f += 1
    }
    bos.toByteArray
  }

  /** Synthetic media fixture for tests/benches (deterministic): image
    * rows carry REAL PNG payloads (decodable by the imageio path), audio
    * rows REAL WAV payloads (decodable by the javax.sound path), video
    * rows REAL MJPEG clips (decodable by the marker-split + imageio
    * path).
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    val rows = (0 until n).map { i =>
      val tpe = Seq("image", "audio", "video")(i % 3)
      val payload = tpe match {
        case "image" => syntheticPng(i)
        case "audio" => syntheticWav(i)
        case _ => syntheticMjpeg(i)
      }
      (i.toLong, tpe, payload,
        if (tpe == "image") Some(128) else None,
        if (tpe == "image") Some(96) else None,
        if (tpe != "image") Some(1000L * (1 + i % 30)) else None,
        Seq("png", "pcm_s16le", "mjpeg")(i % 3))
    }
    rows.toDF("media_id", "media_type", "payload", "width", "height", "duration_ms", "codec")
  }
}
