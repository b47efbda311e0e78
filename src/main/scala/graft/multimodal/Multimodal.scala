package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

/** Multimodal column handling: media as opaque `binary` payloads with a
  * typed metadata struct, plus per-partition feature extraction.
  *
  * Images, audio AND video are REAL: image payloads are JPEG/PNG bytes
  * encoded with `javax.imageio`, audio payloads are WAV/PCM encoded
  * with `javax.sound.sampled.AudioSystem`, and video payloads are
  * MJPEG-in-AVI containers (RIFF chunk tree + per-frame JPEGs) that
  * `decodeAviFrames` parses and decodes frame-by-frame — all JDK
  * built-ins, no external codecs. Feature extraction decodes actual
  * pixels / samples / frames. Codecs the JDK genuinely lacks (H.264
  * etc.) degrade to the byte-histogram fallback and the chunk-named
  * `sampleChunks` path, both documented as the stand-ins they are.
  *
  * At 100 TB: payloads stay columnar in parquet (binary column), feature
  * extraction is embarrassingly parallel per partition (iterator-to-
  * iterator `mapPartitions`, no per-partition materialization), and the
  * feature table is written back separately so downstream queries never
  * re-read media bytes.
  */
object Multimodal {

  val metadataType: StructType = StructType(Seq(
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  private val payloadSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", metadataType, nullable = true)))

  private val mimes = Array("image/jpeg", "image/png", "audio/wav", "video/avi")

  /** Deterministic synthetic image for `seed`: a smooth two-axis gradient
    * with seed-dependent channel offsets (smooth → stable under JPEG),
    * encoded via ImageIO. Stands in for real media ingestion. */
  def encodeImage(seed: Long, w: Int, h: Int, format: String): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val ro = ((seed * 1103515245L + 12345L) >>> 33).toInt & 0xff
    val go = ((seed * 69069L + 1L) >>> 33).toInt & 0xff
    val bo = ((seed * 6364136223846793005L + 1442695040888963407L) >>> 33).toInt & 0xff
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (ro + x * 255 / math.max(w - 1, 1)) & 0xff
        val g = (go + y * 255 / math.max(h - 1, 1)) & 0xff
        val b = (bo + (x + y) * 127 / math.max(w + h - 2, 1)) & 0xff
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    writeImage(img, format, bos)
    bos.toByteArray
  }

  val wavSampleRate = 8000f

  /** Deterministic synthetic WAV for `seed`: mono 16-bit PCM sine at a
    * seed-dependent frequency and amplitude, containerized through
    * `javax.sound.sampled.AudioSystem` (JDK built-in WAV writer). Small
    * durations keep decode cheap at any SF. */
  def encodeWav(seed: Long, durationMs: Long): Array[Byte] = {
    import javax.sound.sampled._
    val nFrames = (wavSampleRate * durationMs / 1000.0).toInt
    val freq = 110.0 + java.lang.Math.floorMod(seed * 31, 880L)   // 110-990 Hz
    val amp = 0.25 + java.lang.Math.floorMod(seed * 13, 50L) / 100.0 // 0.25-0.74
    val bytes = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (math.sin(2.0 * math.Pi * freq * i / wavSampleRate) * amp * 32767.0).toInt
      bytes(2 * i) = (s & 0xff).toByte          // little-endian 16-bit
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new AudioFormat(wavSampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(bytes), fmt, nFrames.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Decode a WAV payload to normalized mono samples in [-1, 1) plus the
    * duration implied by the frame count. None when the bytes are
    * null/empty/not a RIFF/WAVE stream the JDK can read. Multi-channel
    * input is averaged down to mono; only 16-bit PCM is accepted (the
    * JDK reader exposes a/mu-law too — out of scope here). */
  def decodeWav(payload: Array[Byte]): Option[(Array[Float], Long)] = {
    import javax.sound.sampled._
    if (payload == null || payload.isEmpty) return None
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
          fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED) return None
      val raw = ais.readAllBytes()
      val ch = fmt.getChannels
      val nFrames = raw.length / (2 * ch)
      val out = new Array[Float](nFrames)
      val big = fmt.isBigEndian
      var f = 0
      while (f < nFrames) {
        var acc = 0.0f
        var c = 0
        while (c < ch) {
          val o = (f * ch + c) * 2
          val s = if (big) (raw(o) << 8) | (raw(o + 1) & 0xff)
                  else (raw(o + 1) << 8) | (raw(o) & 0xff)
          acc += s / 32768.0f
          c += 1
        }
        out(f) = acc / ch
        f += 1
      }
      val durMs = (nFrames * 1000.0 / fmt.getSampleRate).round
      Some((out, durMs))
    } catch { case _: Exception => None }
  }

  /** 16-bin L1-normalized amplitude histogram over decoded PCM samples
    * (signed range [-1, 1) → bins 0..15; real audio features, the
    * counterpart of `lumaHistogram` for images). */
  def amplitudeHistogram(samples: Array[Float]): Array[Float] = {
    val bins = new Array[Float](16)
    if (samples.nonEmpty) {
      samples.foreach { s =>
        val b = math.min(math.max((((s + 1.0f) / 2.0f) * 16).toInt, 0), 15)
        bins(b) += 1f
      }
      var i = 0
      while (i < 16) { bins(i) /= samples.length; i += 1 }
    }
    bins
  }

  /** 64-bit audio fingerprint: bit `i` = sign of the raw autocorrelation
    * at lag `i+1`. For tonal/periodic content the autocorrelation at lag
    * L is ∝ cos(2πfL/sr) — a frequency-characteristic sign pattern —
    * and the SIGN is invariant under gain changes and robust to additive
    * noise (the sum is corpus-of-samples sized, noise cancels), so
    * re-encoded/re-leveled copies of the same audio land within a small
    * hamming distance. The audio analog of the image aHash: cheap
    * (O(64·n) multiply-adds per clip, no FFT), bandable with the same
    * [[hashNearDupPairs]] machinery. */
  def audioFingerprintBits(samples: Array[Float]): Long = {
    val n = samples.length
    var bits = 0L
    var lag = 1
    while (lag <= 64) {
      var acc = 0.0
      var i = lag
      while (i < n) { acc += samples(i).toDouble * samples(i - lag); i += 1 }
      if (acc > 0) bits |= (1L << (lag - 1))
      lag += 1
    }
    bits
  }

  /** (doc_id, afp, rms, peak, duration_ms) for every decodable audio
    * payload — the iterator `mapPartitions` decode (the declared
    * exception); fingerprint and quality scalars from one decode. */
  def audioFingerprints(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("afp", LongType, nullable = false),
      StructField("rms", DoubleType, nullable = false),
      StructField("peak", DoubleType, nullable = false),
      StructField("duration_ms", LongType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime") === "audio/wav")
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeWav(r.getAs[Array[Byte]]("payload")).map { case (samples, durMs) =>
            val (rms, peak) = audioStats(samples)
            Row(r.getLong(0), audioFingerprintBits(samples),
              math.rint(rms * 1e6) / 1e6, math.rint(peak * 1e6) / 1e6, durMs)
          }
        }
      }(enc)
  }

  /** Temporal majority-bit hash: bit `i` of the result is set iff bit
    * `i` is set in MORE than half of the per-frame hashes — a video
    * signature robust to dropped/duplicated/reordered frames (any
    * minority of frames cannot flip a bit), where hashing only the
    * first frame would break on a one-frame trim. */
  def majorityBits(hashes: Seq[Long]): Long = {
    val n = hashes.length
    var out = 0L
    var bit = 0
    while (bit < 64) {
      var c = 0
      hashes.foreach(h => if (((h >>> bit) & 1L) == 1L) c += 1)
      if (2 * c > n) out |= (1L << bit)
      bit += 1
    }
    out
  }

  /** (doc_id, vhash, n_frames, duration_ms) for every decodable video
    * payload: per-frame aHash from the REAL MJPEG/AVI decode, folded
    * into the temporal majority signature — the video member of the
    * perceptual dedup triad (m3 images, m4 audio), feeding the same
    * banded hamming join. */
  def videoSignatures(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("vhash", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("video/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeAviFrames(r.getAs[Array[Byte]]("payload")).map {
            case (frames, durMs) =>
              Row(r.getLong(0), majorityBits(frames.map(averageHash)),
                frames.length, durMs)
          }
        }
      }(enc)
  }

  /** Scene-cut detection: per video, the count of consecutive-frame
    * boundaries whose luma-histogram L1 distance exceeds `threshold`
    * (plus the max and mean boundary distance) — the shot-segmentation
    * readout a video-curation pass uses to split footage into clips
    * before per-clip dedup/captioning. Distances are in [0, 2] (L1 of
    * two L1-normalized 16-bin histograms); identical frames score
    * exactly 0.
    *
    * Scale shape: same as [[videoSignatures]] — one iterator-to-iterator
    * mapPartitions decode pass, per-row state is one histogram pair,
    * output is one row per video. Rows-only check (no SQL engine can
    * decode AVI); boundary arithmetic is value-pinned in MultimodalSpec
    * with planted two-scene videos. */
  def sceneCutStats(withBinary: DataFrame, threshold: Double): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("n_cuts", IntegerType, nullable = false),
      StructField("max_delta", DoubleType, nullable = false),
      StructField("mean_delta", DoubleType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("video/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeAviFrames(r.getAs[Array[Byte]]("payload")).map {
            case (frames, _) =>
              val hists = frames.map(lumaHistogram)
              val deltas = hists.sliding(2).collect { case Seq(a, b) =>
                var d = 0.0; var i = 0
                while (i < 16) { d += math.abs(a(i) - b(i)).toDouble; i += 1 }
                d
              }.toSeq
              val cuts = deltas.count(_ > threshold)
              Row(r.getLong(0), frames.length, cuts,
                if (deltas.isEmpty) 0.0 else deltas.max,
                if (deltas.isEmpty) 0.0 else deltas.sum / deltas.length)
          }
        }
      }(enc)
  }

  /** Within-video frame redundancy: per video, distinct frames by
    * 64-bit aHash vs total frames — the static-scene detector a video
    * pipeline runs before paying per-frame captioning/embedding (a
    * slideshow-like video with 2 distinct frames out of 300 should be
    * billed as 2). `redundancy` = 1 − distinct/total, 0 for all-unique
    * footage. Complements [[sceneCutStats]]: scene cuts count
    * TRANSITIONS, this counts unique CONTENT.
    *
    * Scale shape: one iterator-to-iterator mapPartitions decode pass
    * (the declared multimodal exception), per-row state one HashSet of
    * ≤ n_frames longs, one output row per video. Rows-only (no SQL
    * engine decodes AVI); arithmetic pinned in MultimodalSpec on a
    * planted slideshow. */
  def frameRedundancy(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("redundancy", DoubleType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("video/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeAviFrames(r.getAs[Array[Byte]]("payload")).map {
            case (frames, _) =>
              val distinct = frames.map(averageHash).toSet.size
              Row(r.getLong(0), frames.length, distinct,
                if (frames.isEmpty) 0.0
                else 1.0 - distinct.toDouble / frames.length)
          }
        }
      }(enc)
  }

  /** Audio quality gate: per clip, the curation stats an audio pipeline
    * filters on before paying for transcription — peak level, RMS
    * loudness in dBFS (floored at −100 for digital silence), clipped
    * ratio (samples at ≥ `clipLevel` of full scale — sustained clipping
    * means the recording chain saturated), and silence ratio (samples
    * below `silenceLevel` ≈ −60 dBFS). Defaults: clip 0.999, silence
    * 0.001 of full scale.
    *
    * Scale shape: one iterator-to-iterator mapPartitions decode pass
    * (the declared multimodal exception), per-row state four running
    * scalars, output one row per clip. Rows-only (no SQL engine decodes
    * WAV); the arithmetic is value-pinned in MultimodalSpec on planted
    * silent / full-scale-square / known-amplitude-sine clips. */
  def audioQualityStats(withBinary: DataFrame, clipLevel: Double = 0.999,
                        silenceLevel: Double = 0.001): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("duration_ms", LongType, nullable = false),
      StructField("peak", DoubleType, nullable = false),
      StructField("rms_dbfs", DoubleType, nullable = false),
      StructField("clip_ratio", DoubleType, nullable = false),
      StructField("silence_ratio", DoubleType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("audio/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeWav(r.getAs[Array[Byte]]("payload")).map {
            case (samples, durMs) =>
              var sum2 = 0.0; var peak = 0.0
              var clips = 0; var silent = 0; var i = 0
              while (i < samples.length) {
                val a = math.abs(samples(i).toDouble)
                sum2 += a * a
                if (a > peak) peak = a
                if (a >= clipLevel) clips += 1
                if (a < silenceLevel) silent += 1
                i += 1
              }
              val n = samples.length
              val rmsDb =
                if (n == 0 || sum2 <= 0.0) -100.0
                else math.max(10.0 * math.log10(sum2 / n), -100.0)
              Row(r.getLong(0), n, durMs, peak, rmsDb,
                if (n == 0) 0.0 else clips.toDouble / n,
                if (n == 0) 0.0 else silent.toDouble / n)
          }
        }
      }(enc)
  }

  /** Image quality gate: per image, the curation stats an image pipeline
    * filters on before paying for captioning/embedding — decoded
    * dimensions and aspect ratio (tiny/extreme-aspect images are chrome,
    * icons, trackers), mean luma and luma standard deviation (contrast —
    * near-zero std is a solid placeholder), and 16-bin luma-histogram
    * entropy in bits (0 for solid fills, up to 4 for full tonal range).
    *
    * Scale shape: one iterator-to-iterator mapPartitions decode pass
    * (the declared multimodal exception), per-row state three running
    * scalars plus one 16-bin histogram, one output row per image.
    * Rows-only (no SQL engine decodes JPEG/PNG); arithmetic value-pinned
    * in MultimodalSpec on lossless planted solid / half-and-half PNGs. */
  def imageQualityStats(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("aspect", DoubleType, nullable = false),
      StructField("mean_luma", DoubleType, nullable = false),
      StructField("std_luma", DoubleType, nullable = false),
      StructField("entropy_bits", DoubleType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("image/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]]("payload")).map { img =>
            val w = img.getWidth; val h = img.getHeight
            val row = new Array[Int](w)
            var sum = 0.0; var sum2 = 0.0
            val bins = new Array[Long](16)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, row, 0, w)
              var x = 0
              while (x < w) {
                val rgb = row(x)
                val luma = math.min((0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)).toInt, 255)
                sum += luma; sum2 += luma.toDouble * luma
                bins(luma / 16) += 1L
                x += 1
              }
              y += 1
            }
            val n = w.toDouble * h
            val mean = sum / n
            val varr = math.max(sum2 / n - mean * mean, 0.0)
            var ent = 0.0; var i = 0
            while (i < 16) {
              if (bins(i) > 0L) {
                val p = bins(i) / n
                ent -= p * math.log(p) / math.log(2.0)
              }
              i += 1
            }
            Row(r.getLong(0), w, h, w.toDouble / h, mean, math.sqrt(varr), ent)
          }
        }
      }(enc)
  }

  /** ViT-style patch grid: each image decodes ONCE and emits one row
    * per non-overlapping patchSize×patchSize patch (row-major
    * patch_idx, grid coords, per-patch mean luma) — the
    * patch-embedding prep relation a vision tokenizer consumes; edge
    * remainders are dropped, the ViT convention (production resizes to
    * a patch multiple first — [[resize]] is that step). Mean luma
    * stands in for the patch projection: the Spark-side contract
    * (decode once, emit a bounded patches-per-image fan-out, schema
    * stable) is what carries to a real encoder.
    *
    * Scale shape: one mapPartitions decode pass (the declared
    * multimodal exception), iterator-to-iterator with per-row bounded
    * state; the fan-out is (w/p)·(h/p) rows per image — data-sized,
    * no shuffle until the caller aggregates. */
  def imagePatches(withBinary: DataFrame, patchSize: Int = 16): DataFrame = {
    require(patchSize >= 1, s"patchSize must be positive, got $patchSize")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("patch_idx", IntegerType, nullable = false),
      StructField("px", IntegerType, nullable = false),
      StructField("py", IntegerType, nullable = false),
      StructField("mean_luma", DoubleType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("image/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]]("payload")).toSeq.flatMap { img =>
            val gw = img.getWidth / patchSize
            val gh = img.getHeight / patchSize
            val line = new Array[Int](img.getWidth)
            // per-patch luma sums accumulated row-by-row so each pixel
            // line is read once
            val sums = new Array[Double](gw * gh)
            var y = 0
            while (y < gh * patchSize) {
              img.getRGB(0, y, img.getWidth, 1, line, 0, img.getWidth)
              val py = y / patchSize
              var x = 0
              while (x < gw * patchSize) {
                val rgb = line(x)
                val luma = math.min((0.299 * ((rgb >> 16) & 0xff) +
                  0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)).toInt, 255)
                sums(py * gw + x / patchSize) += luma
                x += 1
              }
              y += 1
            }
            val n = patchSize.toDouble * patchSize
            (0 until gw * gh).map { i =>
              Row(r.getLong(0), i, i % gw, i / gw, sums(i) / n)
            }
          }
        }
      }(enc)
  }

  /** Decode-health scan: per mime type, how many payloads actually
    * decode with the modality's real decoder (ImageIO / WAV / AVI) —
    * the corrupt-file detector a media pipeline runs before paying
    * feature extraction for bytes that will fail. One mapPartitions
    * pass emits a (mime, ok) row per payload; the rollup is a plain
    * distributed aggregation, so the scan parallelizes like any other
    * decode pass. */
  def decodeHealth(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("_ok", IntegerType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .select(col("meta.mime").as("mime"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val mime = r.getString(0)
          val payload = r.getAs[Array[Byte]]("payload")
          val ok = mime match {
            case m if m != null && m.startsWith("image/") =>
              decodeImage(payload).isDefined
            case "audio/wav" => decodeWav(payload).isDefined
            case m if m != null && m.startsWith("video/") =>
              decodeAviFrames(payload).isDefined
            case _ => false
          }
          Row(mime, if (ok) 1 else 0)
        }
      }(enc)
      .groupBy("mime")
      .agg(count(lit(1)).as("n_payloads"),
        sum(col("_ok")).cast("long").as("n_decodable"))
      .withColumn("n_failed", col("n_payloads") - col("n_decodable"))
  }

  /** RMS and peak amplitude of decoded samples — scalar audio quality
    * signals (clipping/silence detection in a curation pipeline). */
  def audioStats(samples: Array[Float]): (Double, Double) = {
    var sq = 0.0
    var peak = 0.0
    samples.foreach { s =>
      sq += s.toDouble * s
      peak = math.max(peak, math.abs(s.toDouble))
    }
    (math.sqrt(if (samples.isEmpty) 0.0 else sq / samples.length), peak)
  }

  /** Minimal RIFF/AVI container around per-frame JPEGs (the MJPG
    * codec): `avih` main header, one `vids/MJPG` stream (`strh` +
    * BITMAPINFOHEADER `strf`), and a `movi` list of `00dc` frame chunks
    * each holding one ImageIO-encoded JPEG. Frames vary deterministically
    * with the frame index. This is a REAL video container the JDK can
    * fully decode frame-by-frame (JPEG via javax.imageio) — no external
    * codec needed, unlike H.264/MP4. */
  /** µs-per-frame as written to the AVI `avih` header — the single
    * source of truth for durations: `aviFrameChunks` multiplies this
    * by the frame count, and `attachBinary`'s metadata derives from
    * the same product, so header, decode, and metadata always agree. */
  def aviUsPerFrame(fps: Int): Long = Math.round(1000000.0 / fps)

  /** Duration in ms implied by the AVI header for `nFrames` at `fps` —
    * exactly what `aviFrameChunks` will report back after a decode. */
  def aviDurationMs(nFrames: Int, fps: Int): Long =
    aviUsPerFrame(fps) * nFrames / 1000L

  def encodeMjpegAvi(seed: Long, w: Int, h: Int, nFrames: Int,
                     fps: Int = 10): Array[Byte] = {
    require(nFrames > 0 && fps > 0, s"need nFrames/fps > 0, got $nFrames/$fps")
    encodeAviFromJpegs(
      (0 until nFrames).map(f => encodeImage(seed + 31L * f, w, h, "jpg")),
      w, h, fps)
  }

  /** RIFF/AVI container around caller-supplied per-frame JPEG payloads —
    * the bring-your-own-frames variant of [[encodeMjpegAvi]] (fixtures
    * with analytically-known pixel content, re-muxing sampled frames). */
  def encodeAviFromJpegs(jpegs: Seq[Array[Byte]], w: Int, h: Int,
                         fps: Int = 10): Array[Byte] = {
    require(jpegs.nonEmpty && fps > 0, s"need frames and fps > 0, got ${jpegs.size}/$fps")
    val nFrames = jpegs.size
    def u32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def u16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def fcc(s: String): Array[Byte] = s.getBytes("US-ASCII")
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.emptyByteArray
      fcc(id) ++ u32(body.length.toLong) ++ body ++ pad
    }
    def list(listType: String, body: Array[Byte]): Array[Byte] =
      fcc("LIST") ++ u32(body.length + 4L) ++ fcc(listType) ++ body
    val maxFrame = jpegs.map(_.length).max
    // round, don't truncate: for fps not dividing 1e6 (e.g. 3) a
    // truncated µs-per-frame would make the header-derived duration
    // (usPerFrame × nFrames, what aviFrameChunks reports) drift from
    // the true duration by up to nFrames µs-fractions
    val avih = u32(aviUsPerFrame(fps)) ++ u32(maxFrame.toLong * fps) ++ u32(0) ++
      u32(0) ++ u32(nFrames.toLong) ++ u32(0) ++ u32(1) ++ u32(maxFrame.toLong) ++
      u32(w.toLong) ++ u32(h.toLong) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    val strh = fcc("vids") ++ fcc("MJPG") ++ u32(0) ++ u16(0) ++ u16(0) ++
      u32(0) ++ u32(1) ++ u32(fps.toLong) ++ u32(0) ++ u32(nFrames.toLong) ++
      u32(maxFrame.toLong) ++ u32(0xffffffffL) ++ u32(0) ++
      u16(0) ++ u16(0) ++ u16(w) ++ u16(h)
    val strf = u32(40) ++ u32(w.toLong) ++ u32(h.toLong) ++ u16(1) ++ u16(24) ++
      fcc("MJPG") ++ u32(w.toLong * h * 3) ++ u32(0) ++ u32(0) ++ u32(0) ++ u32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", jpegs.flatMap(j => chunk("00dc", j)).toArray)
    val riffBody = fcc("AVI ") ++ hdrl ++ movi
    fcc("RIFF") ++ u32(riffBody.length.toLong) ++ riffBody
  }

  /** Walk an MJPEG/AVI payload's RIFF chunk tree WITHOUT decoding:
    * return the raw bytes of every `..dc`/`..db` frame chunk in document
    * order plus the header-derived duration (µs-per-frame × total
    * frames). This is the cheap pass — a sampler can pick frame indices
    * first and JPEG-decode only the picked slices instead of paying one
    * decode per frame it will discard. None when the bytes are
    * null/truncated/not RIFF-AVI or contain no frame chunks. */
  def aviFrameChunks(payload: Array[Byte]): Option[(Seq[Array[Byte]], Long)] = {
    if (payload == null || payload.length < 12) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fourcc(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      if (fourcc() != "RIFF") return None
      bb.getInt
      if (fourcc() != "AVI ") return None
      var usPerFrame = 0L
      var totalFrames = 0L
      val chunks = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      def walk(end: Int): Unit = {
        while (bb.position() + 8 <= end) {
          val id = fourcc()
          val size = bb.getInt
          val dataStart = bb.position()
          val dataEnd = dataStart + size
          if (size < 0 || dataEnd > end) return
          if (id == "LIST") {
            fourcc() // list type — recurse regardless (hdrl/strl/movi)
            walk(dataEnd)
          } else if (id == "avih" && size >= 24) {
            usPerFrame = bb.getInt & 0xffffffffL
            bb.getInt; bb.getInt; bb.getInt
            totalFrames = bb.getInt & 0xffffffffL
          } else if (id.endsWith("dc") || id.endsWith("db")) {
            val buf = new Array[Byte](size)
            bb.get(buf)
            chunks += buf
          }
          bb.position(dataEnd + (size & 1)) // chunks pad to even length
        }
      }
      walk(payload.length)
      if (chunks.isEmpty) None
      else Some((chunks.toSeq, usPerFrame * totalFrames / 1000L))
    } catch { case _: Exception => None }
  }

  /** Decode an MJPEG/AVI payload: every frame chunk through
    * javax.imageio (see `aviFrameChunks` for the decode-free walk).
    * None when nothing decodes — undecodable VIDEO codecs (H.264 etc.,
    * which the JDK genuinely lacks) degrade to the byte-histogram
    * fallback upstream. */
  def decodeAviFrames(payload: Array[Byte]): Option[(Seq[BufferedImage], Long)] =
    aviFrameChunks(payload).flatMap { case (chunks, durMs) =>
      val frames = chunks.flatMap(decodeImage)
      if (frames.isEmpty) None else Some((frames, durMs))
    }

  /** Attach a binary payload + metadata struct to the documents fixture.
    * Image mimes get REAL encoded JPEG/PNG bytes (deterministic gradient,
    * small dims so decode stays cheap at any SF); audio gets a REAL
    * PCM/WAV payload whose metadata duration matches its frame count;
    * video gets a REAL MJPEG/AVI payload whose frames decode via
    * javax.imageio and whose metadata duration matches the header. */
  /** [[attachBinary]] over the documents table of `dir`, synthesized
    * ONCE per (process, dir) and kept persisted. The fixture has no
    * stored binary column, so every m-query must synthesize payloads —
    * but a real pipeline READS stored binaries; paying the encode per
    * query (and per bench rep) over-charged every media query for
    * fixture synthesis that is not part of the operator under
    * measurement. The persisted table is the moral equivalent of the
    * parquet binary column the fixture would ship at scale (~tens of MB
    * at sf0.1 — memory-resident, spills to disk if ever larger). */
  private val binaryCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def attachBinaryCached(spark: org.apache.spark.sql.SparkSession,
                         dir: String): DataFrame = {
    val df = binaryCache.getOrElseUpdate(dir, {
      val d = attachBinary(graft.Tables.load(spark, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize eagerly so no query pays a partial build
      d
    })
    // self-heal (round 12): an external unpersist/clearCache sweep — the
    // bench's per-query storage hygiene, a session cache clear — leaves
    // the map entry valid but UNCACHED, and every later action on any
    // m-query silently re-ran the whole synthetic encode per action.
    // Re-persist + re-materialize exactly as the first build did; the
    // rebuild lands once per sweep (in the bench: inside the unmeasured
    // warmup rep). Measured at sf0.1 under the bench's reclaim cadence
    // (PLANS.md round 12, fixture self-heal): m8 4.1-4.5 → 1.14 s,
    // m9 3.1 → 0.43 s, m5 2.5 → 1.01 s on the measured reps.
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
    }
    df
  }

  /** Unpersist and forget every cached binary fixture. Bench/harness
    * hygiene (round 13): the fixture is the stand-in for a STORED
    * parquet binary column, so a harness that is done with the media
    * tier releases it explicitly — deliberate fixture storage must not
    * read as an operator leak in the harness's storage accounting, and
    * the next media run re-synthesizes deterministically. */
  def releaseBinaryCache(): Unit = {
    binaryCache.values.foreach(_.unpersist(blocking = false))
    binaryCache.clear()
  }

  def attachBinary(docs: DataFrame): DataFrame = {
    val enc = Encoders.row(payloadSchema)
    docs.select(col("doc_id").cast("long"), col("text"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          // floorMod: negative ids must map into the pools, not crash
          val mime = mimes(java.lang.Math.floorMod(id, 4L).toInt)
          mime match {
            case "image/jpeg" | "image/png" =>
              val w = 8 + java.lang.Math.floorMod(id * 37, 24L).toInt
              val h = 8 + java.lang.Math.floorMod(id * 53, 24L).toInt
              val fmt = if (mime == "image/png") "png" else "jpg"
              Row(id, encodeImage(id, w, h, fmt), Row(mime, w, h, null))
            case "audio/wav" =>
              val durMs = 50L + java.lang.Math.floorMod(id * 97, 450L)
              Row(id, encodeWav(id, durMs), Row(mime, null, null, durMs))
            case _ =>
              // real MJPEG-in-AVI: 3-7 JPEG frames at 10 fps, dims drawn
              // like the image pools; duration_ms matches the AVI header
              val w = 8 + java.lang.Math.floorMod(id * 37, 24L).toInt
              val h = 8 + java.lang.Math.floorMod(id * 53, 24L).toInt
              val nFrames = 3 + java.lang.Math.floorMod(id, 5L).toInt
              Row(id, encodeMjpegAvi(id, w, h, nFrames),
                Row(mime, w, h, aviDurationMs(nFrames, fps = 10)))
          }
        }
      }(enc)
  }

  /** Decode an image payload with `javax.imageio`. None when the bytes
    * are null/empty/not a decodable image.
    *
    * Round 17 (VERDICT r16 #5 — the m-family ANTI-scaled: 32 cores 2-5×
    * slower than 8 on decode-bound queries): the convenience
    * `ImageIO.read(InputStream)` defaults to a FILE-cached image stream
    * (`ImageIO.getUseCache` is true), i.e. one temp-file create+delete
    * per decode through the JVM-shared `File.createTempFile` path
    * (SecureRandom lock + tmpdir inode churn) — per-call cost that
    * CONTENDS across tasks, so more cores made it worse. An explicit
    * in-memory image stream removes the file round-trip without
    * touching process-global ImageIO state (`setUseCache` would leak
    * into the host application); decoded pixels are identical
    * (OPTIMIZATION_r17.md item 5). Same treatment on every encode
    * below ([[encodeImage]], [[resize]], [[sampleFrames]]). */
  def decodeImage(payload: Array[Byte]): Option[BufferedImage] = {
    if (payload == null || payload.isEmpty) None
    else
      // ImageIO.read(ImageInputStream) closes the stream itself on
      // completion; on the exception path the memory stream holds no
      // native resources, so no explicit close is needed (a guard
      // close would double-close and construct one IOException per
      // successful decode)
      try Option(ImageIO.read(
        new MemoryCacheImageInputStream(new ByteArrayInputStream(payload))))
      catch { case _: Exception => None }
  }

  /** `ImageIO.write` through an in-memory image stream (see
    * [[decodeImage]]'s round-17 note); the stream must close to flush
    * its cache into `bos` before the bytes are read. */
  private def writeImage(img: BufferedImage, format: String,
                         bos: ByteArrayOutputStream): Unit = {
    val ios = new MemoryCacheImageOutputStream(bos)
    try ImageIO.write(img, format, ios)
    finally ios.close()
  }

  /** 16-bin L1-normalized luminance histogram over decoded pixels
    * (ITU-R BT.601 luma weights). Bulk row reads — per-pixel `getRGB`
    * pays a color-model conversion per call (see lumaGrid). */
  def lumaHistogram(img: BufferedImage): Array[Float] = {
    val bins = new Array[Float](16)
    val w = img.getWidth
    val h = img.getHeight
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val luma = math.min((0.299 * r + 0.587 * g + 0.114 * b).toInt, 255)
        bins(luma / 16) += 1f
        x += 1
      }
      y += 1
    }
    val total = (w * h).toFloat
    var i = 0
    while (i < 16) { bins(i) /= total; i += 1 }
    bins
  }

  /** Fallback features for mimes the JDK cannot decode (video, or
    * malformed image/audio payloads): deterministic 16-bin byte
    * histogram, L1-normalized. This is the one remaining stub — a real
    * video frame decoder would slot in here. */
  def byteHistogram(payload: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](16)
    if (payload != null && payload.nonEmpty) {
      payload.foreach(b => bins((b & 0xff) / 16) += 1f)
      val total = payload.length.toFloat
      var i = 0
      while (i < 16) { bins(i) /= total; i += 1 }
    }
    bins
  }

  /** Mean of per-frame luma histograms — the video counterpart of
    * `lumaHistogram`/`amplitudeHistogram` (still L1-normalized). */
  def meanLumaHistogram(frames: Seq[BufferedImage]): Array[Float] = {
    val acc = new Array[Float](16)
    frames.foreach { f =>
      val h = lumaHistogram(f)
      var i = 0
      while (i < 16) { acc(i) += h(i); i += 1 }
    }
    if (frames.nonEmpty) {
      var i = 0
      while (i < 16) { acc(i) /= frames.length; i += 1 }
    }
    acc
  }

  /** Per-partition feature extraction over the binary column, one decode
    * per row, iterator-to-iterator. Image payloads decode for real
    * (width/height from the decoded image, luma-histogram features);
    * audio payloads decode for real (PCM samples → amplitude-histogram
    * features); video payloads decode for real (MJPEG/AVI frames →
    * frame dims + mean per-frame luma histogram). Codecs the JDK truly
    * lacks (H.264 etc.) and undecodable payloads fall back to the byte
    * histogram with null dims.
    * Output: (doc_id, mime, width, height, features[16]). */
  def extractFeatures(spark: SparkSession, withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("mime", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .select(col("doc_id"), col("meta.mime").as("mime"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val mime = r.getString(1)
          val asImage = if (mime != null && mime.startsWith("image/"))
            decodeImage(payload) else None
          val asAudio = if (mime != null && mime.startsWith("audio/"))
            decodeWav(payload) else None
          val asVideo = if (mime != null && mime.startsWith("video/"))
            decodeAviFrames(payload) else None
          (asImage, asAudio, asVideo) match {
            case (Some(img), _, _) =>
              Row(r.getLong(0), mime, img.getWidth, img.getHeight,
                lumaHistogram(img).toSeq)
            case (_, Some((samples, _)), _) =>
              Row(r.getLong(0), mime, null, null,
                amplitudeHistogram(samples).toSeq)
            case (_, _, Some((frames, _))) =>
              Row(r.getLong(0), mime, frames.head.getWidth, frames.head.getHeight,
                meanLumaHistogram(frames).toSeq)
            case _ =>
              Row(r.getLong(0), mime, null, null, byteHistogram(payload).toSeq)
          }
        }
      }(enc)
  }

  /** Average-hash (aHash) perceptual fingerprint: area-average the luma
    * onto an 8×8 grid, set bit `cy*8+cx` iff that cell's luma exceeds
    * the grid mean. Re-encodes and format changes of the same pixels
    * land within a few hamming bits; unrelated images average ~32 —
    * the standard first-tier image-dedup signature (pHash's cheaper
    * sibling; same banding machinery as text SimHash applies). */
  def averageHash(img: BufferedImage): Long =
    aHashBits(lumaGrid(img, 8))

  /** Area-averaged luma grid: cell (cy, cx) holds the mean luma of the
    * pixels mapping onto it (floor(y·n/h), floor(x·n/w)). The shared
    * accumulation behind both signature tiers. Pixels come through ONE
    * bulk `getRGB` row read per scanline — the per-pixel `getRGB` call
    * pays a color-model conversion every invocation and dominated the
    * hash cost (same ARGB ints, so hashes are bit-identical). */
  private def lumaGrid(img: BufferedImage, n: Int): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val sums = new Array[Double](n * n)
    val counts = new Array[Int](n * n)
    val row = new Array[Int](w)
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val cy = math.min(y * n / h, n - 1) * n
      var x = 0
      while (x < w) {
        val cx = math.min(x * n / w, n - 1)
        val rgb = row(x)
        sums(cy + cx) += 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        counts(cy + cx) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < n * n) {
      sums(i) = if (counts(i) > 0) sums(i) / counts(i) else 0.0
      i += 1
    }
    sums
  }

  private def aHashBits(cells: Array[Double]): Long = {
    var i = 0; var mean = 0.0
    while (i < 64) { mean += cells(i); i += 1 }
    mean /= 64
    var hash = 0L; i = 0
    while (i < 64) { if (cells(i) > mean) hash |= (1L << i); i += 1 }
    hash
  }

  /** Low-frequency 8×8 block of the 2-D DCT-II of an `n`×`n` luma grid
    * (orthonormal α factors applied; 64 coefficients, row-major v*8+u).
    * Naive separable evaluation — 64 coefficients × n² pixels at n=32 is
    * ~65k multiply-adds per image, far below the decode cost. */
  private def dctLow8(px: Array[Double], n: Int): Array[Double] = {
    val K = 8
    val cosT = Array.tabulate(K, n)((k, i) =>
      math.cos(math.Pi * (2 * i + 1) * k / (2.0 * n)))
    def alpha(k: Int) = if (k == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n)
    val out = new Array[Double](K * K)
    var v = 0
    while (v < K) {
      var u = 0
      while (u < K) {
        var s = 0.0
        var y = 0
        while (y < n) {
          val cv = cosT(v)(y)
          val cu = cosT(u)
          val base = y * n
          var x = 0
          while (x < n) { s += px(base + x) * cu(x) * cv; x += 1 }
          y += 1
        }
        out(v * K + u) = alpha(u) * alpha(v) * s
        u += 1
      }
      v += 1
    }
    out
  }

  /** DCT perceptual hash (pHash): area-average the luma onto a 32×32
    * grid, take the low-frequency 8×8 DCT-II block, and set bit i iff
    * coefficient i exceeds the MEDIAN of the 63 AC coefficients (DC is
    * excluded and its bit left 0 — it carries only global brightness).
    *
    * The tier above [[averageHash]]: aHash thresholds cell lumas against
    * their mean, so a clipped brightness shift or gamma change (which
    * moves cells relative to the mean nonlinearly) flips whole cells;
    * pHash thresholds frequency-domain shape against its own median,
    * which such photometric edits mostly preserve — MultimodalSpec pins
    * a brightness-shifted re-encode that aHash misses and pHash holds.
    * Same 64-bit output domain, so [[hashNearDupPairs]] bands it
    * unchanged. */
  def perceptualHash(img: BufferedImage): Long =
    pHashBits(lumaGrid(img, 32))

  private def pHashBits(px: Array[Double]): Long = {
    val coef = dctLow8(px, 32)
    val ac = java.util.Arrays.copyOfRange(coef, 1, 64)
    java.util.Arrays.sort(ac)
    val median = ac(31) // 63 AC values → true middle order statistic
    var hash = 0L
    var i = 1
    while (i < 64) { if (coef(i) > median) hash |= (1L << i); i += 1 }
    hash
  }

  /** Both signature tiers from ONE pixel pass. `getRGB` (with its
    * per-call color-model conversion) dominates the per-image hash cost
    * once the payload is decoded, so [[imageHashes]] pays it once and
    * accumulates the 8×8 and 32×32 grids together — results are
    * IDENTICAL to [[averageHash]]/[[perceptualHash]] (same floor maps,
    * same accumulators; asserted in MultimodalSpec). */
  def imageSignatures(img: BufferedImage): (Long, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val s8 = new Array[Double](64); val c8 = new Array[Int](64)
    val s32 = new Array[Double](1024); val c32 = new Array[Int](1024)
    val row = new Array[Int](w) // bulk row reads — see lumaGrid
    var y = 0
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      val cy8 = math.min(y * 8 / h, 7) * 8
      val cy32 = math.min(y * 32 / h, 31) * 32
      var x = 0
      while (x < w) {
        val rgb = row(x)
        val l = 0.299 * ((rgb >> 16) & 0xff) +
          0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
        val i8 = cy8 + math.min(x * 8 / w, 7)
        val i32 = cy32 + math.min(x * 32 / w, 31)
        s8(i8) += l; c8(i8) += 1
        s32(i32) += l; c32(i32) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < 64) { s8(i) = if (c8(i) > 0) s8(i) / c8(i) else 0.0; i += 1 }
    i = 0
    while (i < 1024) { s32(i) = if (c32(i) > 0) s32(i) / c32(i) else 0.0; i += 1 }
    (aHashBits(s8), pHashBits(s32))
  }

  /** (doc_id, ahash, phash) for every decodable image payload — the
    * iterator `mapPartitions` decode (the declared exception); both
    * signature tiers from one decode + one pixel pass. */
  def imageHashes(withBinary: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("ahash", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("image/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]]("payload"))
            .map { img =>
              val (a, p) = imageSignatures(img)
              Row(r.getLong(0), a, p)
            }
        }
      }(enc)
  }

  /** Near-duplicate image pairs by aHash hamming distance ≤
    * `maxHamming`: split the 64-bit hash into `nBands` bands, equi-join
    * on (band index, band value), then exact `bit_count(xor)` verify —
    * the text-SimHash blocking shape (Dedup c3) on image signatures.
    * Pigeonhole: with 8 bands any pair within hamming ≤ 7 shares at
    * least one clean band, so recall is total for maxHamming ≤ 7.
    * Scale shape: the join key is an 8-byte (band, value) pair, pairs
    * are deduped on ids before the popcount, no quadratic term outside
    * genuine bucket collisions. */
  def hashNearDupPairs(hashed: DataFrame, idCol: String, hashCol: String,
                       maxHamming: Int, nBands: Int = 8): DataFrame = {
    require(nBands > 0 && 64 % nBands == 0, s"nBands must divide 64, got $nBands")
    require(maxHamming >= 0 && maxHamming <= 64, s"bad maxHamming $maxHamming")
    val width = 64 / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = hashed.select(col(idCol).as("_id"), col(hashCol).as("_h"),
      posexplode(array((0 until nBands).map(b =>
        shiftrightunsigned(col(hashCol), b * width).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bv")
    // payload form of the SelfPairsByKey exec (round 9): one exchange
    // of (band, value, id, hash), per-bucket pair emission with the
    // signatures riding along — no mirrored join side, no hash re-join
    graft.plans.SelfPairsByKey
      .selfPairsByKeyWithPayload(banded, Seq("_band", "_bv"),
        "_id", "_h", ("ha", "hb"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(ha ^ hb)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Linear stride byte-sampling to ~`budget` bytes: every k-th byte,
    * single pass (the non-decodable-payload fallback for resize). */
  def strideSample(payload: Array[Byte], budget: Int): Array[Byte] = {
    if (payload == null || payload.length <= math.max(budget, 1)) payload
    else {
      val stride = math.max(payload.length / budget, 1)
      val n = (payload.length + stride - 1) / stride
      val out = new Array[Byte](n)
      var i = 0
      var j = 0
      while (j < payload.length) { out(i) = payload(j); i += 1; j += stride }
      out
    }
  }

  /** Real image resize: decode → Graphics2D resample to targetW×targetH →
    * re-encode as PNG, metadata rewritten in the same pass. Payloads with
    * an image mime that fail to decode fall back to linear stride byte
    * sampling (a single O(n) pass — no quadratic re-concatenation). */
  def resize(withBinary: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    val enc = Encoders.row(payloadSchema)
    withBinary
      .filter(col("meta.mime").startsWith("image/"))
      .select(col("doc_id"), col("payload"), col("meta.mime").as("mime"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]]("payload")
          decodeImage(payload) match {
            case Some(img) =>
              val scaled = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
              val g = scaled.createGraphics()
              try g.drawImage(img, 0, 0, targetW, targetH, null)
              finally g.dispose()
              val bos = new ByteArrayOutputStream()
              writeImage(scaled, "png", bos)
              Row(id, bos.toByteArray, Row("image/png", targetW, targetH, null))
            case None =>
              Row(id, strideSample(payload, targetW * targetH),
                Row(r.getString(2), targetW, targetH, null))
          }
        }
      }(enc)
  }

  /** REAL video frame sampling: walk the MJPEG/AVI container (no
    * decode), pick `n` evenly-spaced frame chunks (all of them when the
    * video is shorter), and JPEG-decode ONLY the picked ones before
    * re-encoding as PNG — one row per sampled frame with decoded dims.
    * Sampling cost is O(picked frames), not O(total frames): a
    * 300-frame video sampled at n=4 pays 4 decodes, not 300.
    * Iterator-to-iterator mapPartitions, one container parse per row.
    * Undecodable video payloads (codecs the JDK lacks) yield no rows
    * here — route those through `sampleChunks`, which is honest about
    * emitting raw byte slices. */
  def sampleFrames(withBinary: DataFrame, n: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("frame_payload", BinaryType, nullable = false)))
    val enc = Encoders.row(schema)
    withBinary
      .filter(col("meta.mime").startsWith("video/"))
      .select(col("doc_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          aviFrameChunks(r.getAs[Array[Byte]]("payload")) match {
            case Some((chunks, _)) =>
              val picks =
                if (chunks.length <= n) chunks.indices
                else (0 until n).map(i => i * chunks.length / n)
              picks.zipWithIndex.flatMap { case (fi, outIdx) =>
                decodeImage(chunks(fi)).map { img =>
                  val bos = new ByteArrayOutputStream()
                  writeImage(img, "png", bos)
                  Row(id, outIdx, img.getWidth, img.getHeight, bos.toByteArray)
                }
              }
            case None => Nil
          }
        }
      }(enc)
  }

  /** Byte-slice sampling for video codecs the JDK cannot decode: `n`
    * evenly-spaced fixed-size chunks of the raw payload — the plumbing
    * shape of frame extraction with the decode step honestly absent.
    * Output columns are named chunk_idx/chunk_payload (NOT frame_*) so
    * downstream code cannot mistake raw byte slices for decoded
    * frames. */
  def sampleChunks(withBinary: DataFrame, n: Int, frameBytes: Int = 32): DataFrame = {
    val idxs = sequence(lit(0), lit(n - 1))
    withBinary
      .filter(col("meta.mime").startsWith("video/"))
      .select(col("doc_id"),
        posexplode(transform(idxs, i =>
          substr(col("payload"),
            (i * greatest((length(col("payload")) - frameBytes) / n, lit(1)) + 1).cast("int"),
            lit(frameBytes)))).as(Seq("chunk_idx", "chunk_payload")))
  }
}
