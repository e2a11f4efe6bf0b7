package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, processed batch-wise with `mapPartitions` over a
  * typed Dataset (the Scala analogue of `mapInPandas` batch processing).
  *
  * The payloads are REAL uncompressed containers the JVM parses without
  * native codecs — 24-bit BMP for images, 16-bit PCM WAV for audio, and a
  * minimal raw-RGB frame container for video — and `extractFeatures` does a
  * REAL header + sample decode of each (magic numbers, chunk walks, row
  * padding, bottom-up pixel order, little-endian samples). Swapping in
  * JPEG/MP3/MP4 on a cluster with codecs changes only `decode`, not the
  * Spark plumbing.
  *
  * Scale notes: binary payloads ride in the row (parquet binary column),
  * so locality is free; `mapPartitions` amortizes per-batch codec init
  * (one decoder per partition, not per row); metadata stays in columnar
  * form for pushdown-friendly filtering BEFORE decode (e.g. filter on
  * width/format without touching bytes). A binary codec is the one
  * legitimate non-Catalyst hot path — there is nothing declarative about
  * parsing a RIFF chunk list.
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long,
      modality: String,      // image | audio | video
      format: String,        // bmp | wav | rawv
      payload: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class MediaFeature(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      width: Int,            // decoded from the container header
      height: Int,
      duration_ms: Long,     // decoded: samples/rate, frames/fps
      mean_val: Double,      // mean |sample| (audio) / mean channel byte
      feature: Array[Float]) // fixed-width feature vector from the decode

  // deterministic generator constants — the DuckDB oracle recomputes the
  // expected decode results from these same formulas
  private def imgDims(id: Long): (Int, Int) =
    (4 + (id % 16).toInt, 4 + (id % 9).toInt)
  private def audioSamples(id: Long): Int = 8 * (10 + (id % 50).toInt)
  private def vidDims(id: Long): (Int, Int, Int) =
    (4 + (id % 8).toInt, 4 + (id % 6).toInt, 2 + (id % 5).toInt)
  private def pixByte(id: Long, j: Long): Int = ((id * 7 + j) % 256).toInt
  private def audioSample(id: Long, k: Int): Int =
    ((id * 13 + k.toLong * 97) % 65536).toInt - 32768
  private def vidByte(id: Long, f: Int, j: Long): Int =
    ((id * 7 + f.toLong * 1009 + j) % 256).toInt

  /** 24-bit uncompressed BMP: 14-byte file header + 40-byte info header +
    * bottom-up rows padded to 4 bytes. The j-th logical pixel-array byte
    * (top-down, (y·w+x)·3+c) is `pixByte(id, j)`. */
  private def mkBmp(id: Long): Array[Byte] = {
    val (w, h) = imgDims(id)
    val rowSize = ((3 * w + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize).putInt(0).putInt(54) // size, reserved, offset
    buf.putInt(40).putInt(w).putInt(h)             // info size, w, h (bottom-up)
    buf.putShort(1).putShort(24)                   // planes, bpp
    buf.putInt(0).putInt(dataSize).putInt(2835).putInt(2835) // no compression
    buf.putInt(0).putInt(0)                        // palette
    for (fileRow <- 0 until h) {
      val y = h - 1 - fileRow                      // bottom-up storage
      for (x <- 0 until w; c <- 0 until 3)
        buf.put(pixByte(id, (y.toLong * w + x) * 3 + c).toByte)
      for (_ <- 3 * w until rowSize) buf.put(0.toByte)
    }
    buf.array()
  }

  /** Mono 16-bit PCM WAV at 8 kHz: RIFF header + fmt + data chunks; sample
    * k is `audioSample(id, k)` (signed little-endian). */
  private def mkWav(id: Long): Array[Byte] = {
    val n = audioSamples(id)
    val buf = ByteBuffer.allocate(44 + 2 * n).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1).putShort(1)                    // PCM, mono
    buf.putInt(8000).putInt(8000 * 2)              // rate, byte rate
    buf.putShort(2).putShort(16)                   // block align, bits
    buf.put("data".getBytes("US-ASCII")).putInt(2 * n)
    (0 until n).foreach(k => buf.putShort(audioSample(id, k).toShort))
    buf.array()
  }

  /** Minimal raw-video container: "RAWV" + w,h,frames,fps (int32 LE) +
    * frames × (3·w·h) RGB bytes; byte j of frame f is `vidByte(id,f,j)`. */
  private def mkRawv(id: Long): Array[Byte] = {
    val (w, h, frames) = vidDims(id)
    val frameBytes = 3 * w * h
    val buf = ByteBuffer.allocate(20 + frames * frameBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RAWV".getBytes("US-ASCII"))
    buf.putInt(w).putInt(h).putInt(frames).putInt(10) // 10 fps
    for (f <- 0 until frames; j <- 0 until frameBytes)
      buf.put(vidByte(id, f, j).toByte)
    buf.array()
  }

  /** Synthesize a media table from the documents table's ids: one REAL
    * encoded container per row, modality round-robin by id. Real pipelines
    * read (path, bytes) from parquet/tar shards instead. */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long")).as[Long].map { id =>
      (id % 3) match {
        case 0 =>
          val (w, h) = imgDims(id)
          MediaRow(id, "image", "bmp", mkBmp(id), w, h, 0L)
        case 1 =>
          val n = audioSamples(id)
          MediaRow(id, "audio", "wav", mkWav(id), 0, 0, n / 8L) // 8 kHz
        case _ =>
          val (w, h, frames) = vidDims(id)
          MediaRow(id, "video", "rawv", mkRawv(id), w, h, frames * 100L)
      }
    }.toDF()
  }

  /** Real decoders: header parse + full sample/pixel walk. Each validates
    * its magic and layout loudly — a truncated or foreign payload is a data
    * bug, not something to average over silently. */
  /** Shared 24-bit BMP decode: validates the container (magic, bpp) and
    * returns (w, h, logical pixel bytes in TOP-DOWN raster order —
    * undoing the bottom-up row storage and the 4-byte row padding).
    * Single parser for every image consumer, so validation strictness
    * can't drift between the feature and fingerprint paths. */
  private def bmpLogicalBytes(p: Array[Byte]): (Int, Int, Array[Int]) = {
    val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    require(p(0) == 'B' && p(1) == 'M', "not a BMP payload")
    val dataOffset = b.getInt(10)
    val w = b.getInt(18); val h = b.getInt(22)
    require(b.getShort(28) == 24, "expected 24-bit BMP")
    val rowSize = ((3 * w + 3) / 4) * 4
    val bytes = new Array[Int](3 * w * h)
    var y = 0
    while (y < h) {
      val base = dataOffset + (h - 1 - y) * rowSize
      var k = 0
      while (k < 3 * w) { bytes(y * 3 * w + k) = p(base + k) & 0xFF; k += 1 }
      y += 1
    }
    (w, h, bytes)
  }

  private def decodeBmp(id: Long, p: Array[Byte]): MediaFeature = {
    val (w, h, bytes) = bmpLogicalBytes(p)
    val chan = new Array[Long](3) // B, G, R sums (c = j % 3 in raster order)
    var sum = 0L
    var j = 0
    while (j < bytes.length) {
      chan(j % 3) += bytes(j); sum += bytes(j); j += 1
    }
    val nPix = 3L * w * h
    val mean = sum.toDouble / nPix
    MediaFeature(id, "image", p.length.toLong, w, h, 0L, mean,
      Array(w.toFloat, h.toFloat, 0f, mean.toFloat,
        (chan(0).toDouble / (w * h)).toFloat,
        (chan(1).toDouble / (w * h)).toFloat,
        (chan(2).toDouble / (w * h)).toFloat, p.length.toFloat))
  }

  /** Shared WAV decode: RIFF chunk walk (LIST/fact chunks between fmt
    * and data are routine in the wild) + 16-bit-PCM validation, returning
    * (buffer, dataPos, sample count, rate). Single parser for the
    * feature and quality paths. */
  private def wavPcm16(p: Array[Byte]): (ByteBuffer, Int, Int, Int) = {
    val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    require(new String(p, 0, 4, "US-ASCII") == "RIFF" &&
      new String(p, 8, 4, "US-ASCII") == "WAVE", "not a WAV payload")
    var pos = 12
    var rate = 0; var bits = 0; var dataPos = -1; var dataLen = 0
    while (pos + 8 <= p.length) { // RIFF chunk walk
      val cid = new String(p, pos, 4, "US-ASCII")
      val len = b.getInt(pos + 4)
      // a corrupt negative length would stall the walk (pos stops
      // advancing) — an infinite executor spin, not a loud failure
      require(len >= 0, s"corrupt WAV: negative chunk length $len at $pos")
      if (cid == "fmt ") { rate = b.getInt(pos + 12); bits = b.getShort(pos + 22) }
      else if (cid == "data") { dataPos = pos + 8; dataLen = len }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    require(dataPos >= 0 && rate > 0 && bits == 16, "unsupported WAV layout")
    (b, dataPos, dataLen / 2, rate)
  }

  private def decodeWav(id: Long, p: Array[Byte]): MediaFeature = {
    val (b, dataPos, n, rate) = wavPcm16(p)
    var sumAbs = 0L; var sumSq = 0.0
    var k = 0
    while (k < n) {
      val s = b.getShort(dataPos + 2 * k).toInt
      sumAbs += math.abs(s); sumSq += s.toDouble * s; k += 1
    }
    val mean = sumAbs.toDouble / n
    val rms = math.sqrt(sumSq / n)
    MediaFeature(id, "audio", p.length.toLong, 0, 0, n.toLong * 1000 / rate,
      mean, Array(0f, 0f, (n.toLong * 1000 / rate).toFloat, mean.toFloat,
        rms.toFloat, 0f, 0f, p.length.toFloat))
  }

  private def decodeRawv(id: Long, p: Array[Byte]): MediaFeature = {
    val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
    require(new String(p, 0, 4, "US-ASCII") == "RAWV", "not a RAWV payload")
    val w = b.getInt(4); val h = b.getInt(8)
    val frames = b.getInt(12); val fps = b.getInt(16)
    val frameBytes = 3 * w * h
    var sum = 0L
    var i = 20
    while (i < 20 + frames * frameBytes) { sum += p(i) & 0xFF; i += 1 }
    val mean = sum.toDouble / (frames.toLong * frameBytes)
    MediaFeature(id, "video", p.length.toLong, w, h,
      frames.toLong * 1000 / fps, mean,
      Array(w.toFloat, h.toFloat, (frames.toLong * 1000 / fps).toFloat,
        mean.toFloat, frames.toFloat, fps.toFloat, 0f, p.length.toFloat))
  }

  /** Partition-wise feature extraction: one decoder per partition, format
    * dispatched per row. Columnar metadata filters should be applied
    * BEFORE calling this (they prune without touching payload bytes). */
  def extractFeatures(media: DataFrame): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition decoder init would happen here (once, not per row)
      rows.map { r =>
        r.format match {
          case "bmp"  => decodeBmp(r.media_id, r.payload)
          case "wav"  => decodeWav(r.media_id, r.payload)
          case "rawv" => decodeRawv(r.media_id, r.payload)
          case other  => throw new IllegalArgumentException(
            s"no decoder for format '$other'")
        }
      }
    }
  }

  /** 60-bit blockhash perceptual fingerprint of each IMAGE payload — the
    * multimodal analogue of the text simhash, enabling image near-dup
    * detection over opaque binary columns: the decoded logical pixel-byte
    * stream (raster order, 3·w·h bytes) splits into 60 equal segments
    * [⌊s·n/60⌋, ⌊(s+1)·n/60⌋), and bit s is set iff the segment's byte
    * sum exceeds its proportional share of the total — cross-multiplied
    * (`segSum·n > total·segLen`), pure integer, no division, so the hash
    * is bit-identical on any engine that can recompute the pixel bytes.
    * 60 bits (not 64) keeps every `1 << s` and the assembled hash safely
    * inside signed BIGINT on BOTH engines (the `1::BIGINT << 63` overflow
    * gotcha). Visually-near images agree on most segment means, so
    * hamming distance ranks near-duplicates; pair generation reuses the
    * simhash 16-bit band join ([[graft.functions.Dedup.simhashPairs]] —
    * pigeonhole-exact for hamming ≤ 3), never all-pairs.
    *
    * `mapPartitions` is justified exactly as in [[extractFeatures]]: a
    * byte-level container decode cannot be a Catalyst expression; the
    * hash arithmetic after it is trivially per-row. Output:
    * (media_id, phash). */
  def imageBlockhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "image").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (_, _, bytes) = bmpLogicalBytes(r.payload)
          (r.media_id, signHash60(bytes.map(_.toLong)))
        }
      }.toDF("media_id", "phash")
  }

  /** Shared 60-segment proportional-share sign hash — the kernel of every
    * perceptual fingerprint here ([[imageBlockhash]] over pixel bytes,
    * [[audioFingerprint]] over |PCM| energies, [[videoFingerprint]] per
    * frame): values split into 60 equal segments [⌊s·n/60⌋, ⌊(s+1)·n/60⌋)
    * and bit s is set iff the segment's sum exceeds its proportional
    * share of the total — cross-multiplied (`segSum·n > total·segLen`),
    * pure integer, no division, so the hash is bit-identical on any
    * engine that can recompute the values. 60 bits (not 64) keeps every
    * `1 << s` inside signed BIGINT on BOTH engines. */
  private def signHash60(vals: Array[Long]): Long = {
    val n = vals.length
    var total = 0L
    var i = 0
    while (i < n) { total += vals(i); i += 1 }
    var hash = 0L
    var s = 0
    while (s < 60) {
      val lo = (s.toLong * n / 60).toInt
      val hi = ((s + 1).toLong * n / 60).toInt
      var seg = 0L
      var t = lo
      while (t < hi) { seg += vals(t); t += 1 }
      if (seg * n > total * (hi - lo)) hash |= (1L << s)
      s += 1
    }
    hash
  }

  /** 60-bit audio perceptual fingerprint of each AUDIO payload — the
    * near-dup signature that catches re-encoded / re-dithered copies of a
    * recording an exact byte hash misses: the decoded |PCM| stream
    * (time-domain energy envelope) runs through [[signHash60]] — bit s
    * says whether window s carries more than its proportional share of
    * the clip's total energy. Loudness-proportional, so uniform gain
    * changes preserve the hash; pair generation reuses the simhash
    * 16-bit band join ([[Dedup.simhashPairs]], pigeonhole-exact at
    * hamming ≤ 3), never all-pairs. A production swap-in would hash
    * FFT band energies per window (chromaprint-style) — only the
    * per-window value array changes, not the signature or join shape.
    *
    * `mapPartitions` justified as in [[extractFeatures]] (RIFF container
    * walk). Output: (media_id, ahash). */
  def audioFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (b, dataPos, n, _) = wavPcm16(r.payload)
          val abs = new Array[Long](n)
          var k = 0
          while (k < n) {
            abs(k) = math.abs(b.getShort(dataPos + 2 * k).toInt).toLong
            k += 1
          }
          (r.media_id, signHash60(abs))
        }
      }.toDF("media_id", "ahash")
  }

  /** 60-bit video perceptual fingerprint of each VIDEO payload — catches
    * re-encoded or lightly-trimmed duplicate clips that scene statistics
    * miss: each decoded frame gets its own [[signHash60]] blockhash over
    * its raster bytes, and the clip signature is the simhash-style
    * MAJORITY VOTE across frames (bit s set iff more than half the
    * frames set it) — so a few inserted/dropped frames flip few
    * signature bits, exactly the property a trim-robust near-dup key
    * needs. Pairs via the same banded join as the other fingerprints.
    *
    * `mapPartitions` justified as in [[extractFeatures]] (RAWV container
    * parse). Output: (media_id, vhash). */
  def videoFingerprint(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val p = r.payload
          val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
          require(new String(p, 0, 4, "US-ASCII") == "RAWV", "not RAWV")
          val w = b.getInt(4); val h = b.getInt(8)
          val frames = b.getInt(12)
          val fb = 3 * w * h
          val bitVotes = new Array[Int](60)
          var f = 0
          while (f < frames) {
            val vals = new Array[Long](fb)
            var j = 0
            while (j < fb) { vals(j) = (p(20 + f * fb + j) & 0xFF).toLong; j += 1 }
            val fh = signHash60(vals)
            var s = 0
            while (s < 60) {
              if (((fh >> s) & 1L) == 1L) bitVotes(s) += 1
              s += 1
            }
            f += 1
          }
          var vhash = 0L
          var s = 0
          while (s < 60) {
            if (2 * bitVotes(s) > frames) vhash |= (1L << s)
            s += 1
          }
          (r.media_id, vhash)
        }
      }.toDF("media_id", "vhash")
  }

  /** Per-frame mean-|PCM| energies from the real WAV decode — the
    * voice-activity-detection input: frame f covers samples
    * [f·frame, (f+1)·frame), energy = ⌊Σ|s|/frame⌋ (exact integer). The
    * byte-level container parse is the `mapPartitions` justification
    * (same as [[extractFeatures]]); everything downstream (thresholding,
    * gaps-and-islands segmentation) is ordinary DataFrame work on the
    * emitted frame rows. Output: (media_id, frame_idx, energy_mean). */
  def audioFrameEnergies(media: DataFrame, frame: Int = 8): DataFrame = {
    require(frame >= 1, s"bad frame=$frame")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio").as[MediaRow]
      .flatMap { r =>
        val (b, dataPos, n, _) = wavPcm16(r.payload)
        (0 until n / frame).map { f =>
          var sum = 0L
          var j = 0
          while (j < frame) {
            sum += math.abs(b.getShort(dataPos + 2 * (f * frame + j)).toInt)
            j += 1
          }
          (r.media_id, f.toLong, sum / frame)
        }
      }.toDF("media_id", "frame_idx", "energy_mean")
  }

  /** Audio-quality gate over the decoded PCM stream — the speech-corpus
    * screen that drops dead-air and clipped recordings before training:
    * per AUDIO row, the exact floor-ppm of samples below the silence
    * threshold and at/above the clipping threshold (|s| on signed 16-bit
    * PCM). Integer counts + one floor division each — engine-exact.
    * Same `mapPartitions` justification as [[extractFeatures]] (RIFF/WAV
    * container parse). Output: (media_id, n_samples, silence_ppm,
    * clip_ppm). */
  def audioQuality(media: DataFrame, silenceThresh: Int = 1000,
                   clipThresh: Int = 32000): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "audio").as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          // shared chunk-walking parser — a LIST/fact chunk between fmt
          // and data must not be read as PCM
          val (b, dataPos, n, _) = wavPcm16(r.payload)
          var silent = 0L; var clipped = 0L
          var k = 0
          while (k < n) {
            val s = math.abs(b.getShort(dataPos + 2 * k).toInt)
            if (s < silenceThresh) silent += 1
            if (s >= clipThresh) clipped += 1
            k += 1
          }
          (r.media_id, n.toLong,
            if (n > 0) silent * 1000000L / n else 0L,
            if (n > 0) clipped * 1000000L / n else 0L)
        }
      }.toDF("media_id", "n_samples", "silence_ppm", "clip_ppm")
  }

  /** Scene-change detection over the decoded VIDEO frames — the keyframe
    * precursor a video-corpus pipeline runs before sampling training
    * frames (sampling only at fixed ticks oversamples static scenes and
    * misses cuts): for consecutive frame pairs, the mean absolute
    * per-byte difference in milli-units, and a cut flag where it clears
    * `cutThreshMilli`. Exact integers: sumAbsDiff·1000 / frameBytes is
    * one floor division per pair — engine-exact from the generator
    * formula or any other decoder. Same `mapPartitions` justification as
    * [[extractFeatures]]. Output: (media_id, frame_idx [of the LATER
    * frame], diff_milli, is_cut) — one row per consecutive pair. */
  def sceneChanges(media: DataFrame,
                   cutThreshMilli: Long = 30000L): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("modality") === "video").as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val p = r.payload
          val b = ByteBuffer.wrap(p).order(ByteOrder.LITTLE_ENDIAN)
          require(new String(p, 0, 4, "US-ASCII") == "RAWV", "not RAWV")
          val w = b.getInt(4); val h = b.getInt(8)
          val frames = b.getInt(12)
          val fb = 3 * w * h
          (1 until frames).map { f =>
            var sum = 0L
            var j = 0
            while (j < fb) {
              val prev = p(20 + (f - 1) * fb + j) & 0xFF
              val cur = p(20 + f * fb + j) & 0xFF
              sum += math.abs(cur - prev)
              j += 1
            }
            val diffMilli = sum * 1000L / fb
            (r.media_id, f.toLong, diffMilli,
              if (diffMilli >= cutThreshMilli) 1L else 0L)
          }
        }
      }.toDF("media_id", "frame_idx", "diff_milli", "is_cut")
  }
}
