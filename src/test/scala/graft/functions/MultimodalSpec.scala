package graft.functions

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  // ids chosen to hit each modality: 0 image, 1 audio, 2 video
  private def docs = Seq(
    (0L, "x", 1L), (1L, "x", 1L), (2L, "x", 1L), (9L, "x", 1L))
    .toDF("doc_id", "text", "n_chars")

  test("synthetic media emits REAL containers with magic headers") {
    val m = Multimodal.syntheticMedia(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(0L).getString(1) === "image" && m(0L).getString(2) === "bmp")
    assert(m(1L).getString(1) === "audio" && m(1L).getString(2) === "wav")
    assert(m(2L).getString(1) === "video" && m(2L).getString(2) === "rawv")
    val bmp = m(0L).getAs[Array[Byte]]("payload")
    assert(bmp(0) === 'B'.toByte && bmp(1) === 'M'.toByte)
    val wav = m(1L).getAs[Array[Byte]]("payload")
    assert(new String(wav, 0, 4, "US-ASCII") === "RIFF")
    assert(new String(wav, 8, 4, "US-ASCII") === "WAVE")
    assert(new String(m(2L).getAs[Array[Byte]]("payload"), 0, 4, "US-ASCII")
      === "RAWV")
  }

  test("decode recovers header metadata and exact means from the binary") {
    val f = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs))
      .collect().map(r => r.media_id -> r).toMap
    // image id=0: w = 4+0%16 = 4, h = 4+0%9 = 4; bytes j -> (0*7+j)%256 = j
    // mean over j in [0, 48) = 23.5
    assert(f(0L).width === 4 && f(0L).height === 4)
    assert(f(0L).mean_val === 23.5)
    assert(f(0L).n_bytes === 54L + 4 * 12) // rowSize(3*4)=12, no padding
    // image id=9: w=13, h=4 -> rowSize = ((39+3)/4)*4 = 40 (padded)
    assert(f(9L).width === 13 && f(9L).height === 4)
    assert(f(9L).n_bytes === 54L + 4 * 40)
    val expMean9 = (0 until 3 * 13 * 4).map(j => (9 * 7 + j) % 256).sum
      .toDouble / (3 * 13 * 4)
    assert(f(9L).mean_val === expMean9) // padding bytes NOT averaged in
    // audio id=1: n = 8*(10+1) = 88 samples at 8kHz -> 11 ms
    assert(f(1L).duration_ms === 11L)
    val expMean1 = (0 until 88)
      .map(k => math.abs(((1 * 13 + k * 97) % 65536) - 32768).toLong).sum
      .toDouble / 88
    assert(f(1L).mean_val === expMean1)
    // video id=2: w=6, h=6, frames=4 at 10fps -> 400 ms
    assert(f(2L).width === 6 && f(2L).height === 6)
    assert(f(2L).duration_ms === 400L)
    assert(f(2L).n_bytes === 20L + 4 * 3 * 36)
  }

  test("property: decode equals the generator formulas for 60 consecutive " +
      "ids across all modalities (the oracle relation, in-process)") {
    val many = (0L until 60L).map(i => (i, "x", 1L))
      .toDF("doc_id", "text", "n_chars")
    val f = Multimodal.extractFeatures(Multimodal.syntheticMedia(many))
      .collect().map(r => r.media_id -> r).toMap
    (0L until 60L).foreach { id =>
      val r = f(id)
      (id % 3) match {
        case 0 => // image
          val (w, h) = (4 + (id % 16).toInt, 4 + (id % 9).toInt)
          val rowSize = ((3 * w + 3) / 4) * 4
          assert(r.width === w && r.height === h && r.duration_ms === 0L)
          assert(r.n_bytes === 54L + h * rowSize)
          val exp = (0 until 3 * w * h).map(j => (id * 7 + j) % 256).sum
            .toDouble / (3 * w * h)
          assert(r.mean_val === exp, s"image mean id=$id")
        case 1 => // audio
          val n = 8 * (10 + (id % 50).toInt)
          assert(r.width === 0 && r.duration_ms === n / 8L)
          assert(r.n_bytes === 44L + 2 * n)
          val exp = (0 until n)
            .map(k => math.abs(((id * 13 + k.toLong * 97) % 65536) - 32768))
            .sum.toDouble / n
          assert(r.mean_val === exp, s"audio mean id=$id")
        case _ => // video
          val (w, h, fr) = (4 + (id % 8).toInt, 4 + (id % 6).toInt,
            2 + (id % 5).toInt)
          assert(r.width === w && r.height === h)
          assert(r.duration_ms === fr * 100L)
          assert(r.n_bytes === 20L + fr * 3 * w * h)
          val b = 3 * w * h
          val exp = (0 until fr * b)
            .map(t => (id * 7 + (t / b).toLong * 1009 + t % b) % 256)
            .sum.toDouble / (fr * b)
          assert(r.mean_val === exp, s"video mean id=$id")
      }
    }
  }

  test("feature extraction is deterministic in the payload bytes") {
    val f1 = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs))
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(Multimodal.syntheticMedia(docs))
      .collect().sortBy(_.media_id)
    assert(f1.map(_.feature.toSeq).toSeq === f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.feature.length === 8))
  }

  test("foreign payloads fail loudly instead of decoding garbage") {
    val bad = Seq((7L, "image", "bmp", "not a bitmap".getBytes("UTF-8"),
      4, 4, 0L)).toDF(
      "media_id", "modality", "format", "payload", "width", "height",
      "duration_ms")
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.extractFeatures(bad).collect()
    }
    assert(ex.getMessage != null)
  }

  test("imageBlockhash: decoded-byte hash equals the generator-formula " +
      "hash; banded pairs equal brute force at hamming <= 3") {
    val ids = (0L until 90L by 3L) // 30 images
    val many = ids.map(i => (i, "x", 1L)).toDF("doc_id", "text", "n_chars")
    val media = Multimodal.syntheticMedia(many)
    val got = Multimodal.imageBlockhash(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference hash straight from the pixel ramp (id*7 + j) % 256 —
    // bypassing the BMP container entirely
    def refHash(id: Long): Long = {
      val w = 4 + (id % 16).toInt; val h = 4 + (id % 9).toInt
      val n = 3 * w * h
      val bytes = Array.tabulate(n)(j => ((id * 7 + j) % 256).toInt)
      val total = bytes.map(_.toLong).sum
      (0 until 60).foldLeft(0L) { (acc, s) =>
        val lo = (s.toLong * n / 60).toInt
        val hi = ((s + 1).toLong * n / 60).toInt
        val seg = bytes.slice(lo, hi).map(_.toLong).sum
        if (seg * n > total * (hi - lo)) acc | (1L << s) else acc
      }
    }
    ids.foreach(i => assert(got(i) === refHash(i), s"id=$i"))
    // pigeonhole recall: the 4x16-bit band join finds EVERY pair at
    // hamming <= 3 that the all-pairs scan finds
    val banded = Dedup.simhashPairs(
        Multimodal.imageBlockhash(media), "media_id", "phash",
        hammingMax = 3, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(refHash(a) ^ refHash(b)) if d <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the ramp family genuinely collides
  }

  test("sceneChanges: decoded frame diffs equal the formula; one row per " +
      "consecutive pair; flags split at the threshold") {
    val ids = Seq(2L, 5L, 8L, 11L, 14L)
    val many = ids.map(i => (i, "x", 1L)).toDF("doc_id", "text", "n_chars")
    val got = Multimodal.sceneChanges(Multimodal.syntheticMedia(many))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    ids.foreach { id =>
      val w = 4 + (id % 8).toInt; val h = 4 + (id % 6).toInt
      val fr = 2 + (id % 5).toInt; val fb = 3 * w * h
      assert(got.keys.count(_._1 == id) === fr - 1, s"id=$id pair count")
      for (f <- 1 until fr) {
        val sad = (0 until fb).map { j =>
          math.abs(((id * 7 + f * 1009 + j) % 256) -
            ((id * 7 + (f - 1) * 1009 + j) % 256))
        }.sum
        val milli = sad * 1000L / fb
        assert(got((id, f.toLong)) ===
          ((milli, if (milli >= 30000L) 1L else 0L)), s"id=$id f=$f")
      }
    }
    // the threshold genuinely splits the ramp family
    val flags = got.values.map(_._2).toSet
    assert(flags === Set(0L, 1L))
  }

  /** Shared 60-segment sign hash straight from a value array — the
    * reference twin of Multimodal.signHash60, built independently here. */
  private def refSignHash60(vals: Seq[Long]): Long = {
    val n = vals.length
    val total = vals.sum
    (0 until 60).foldLeft(0L) { (acc, s) =>
      val lo = (s.toLong * n / 60).toInt
      val hi = ((s + 1).toLong * n / 60).toInt
      val seg = vals.slice(lo, hi).sum
      if (seg * n > total * (hi - lo)) acc | (1L << s) else acc
    }
  }

  test("audioFingerprint: decoded-PCM hash equals the generator-formula " +
      "hash; banded pairs equal brute force at hamming <= 3") {
    val ids = (1L until 91L by 3L) // 30 audio rows
    val many = ids.map(i => (i, "x", 1L)).toDF("doc_id", "text", "n_chars")
    val media = Multimodal.syntheticMedia(many)
    val got = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def refHash(id: Long): Long = {
      val n = 8 * (10 + (id % 50).toInt)
      refSignHash60((0 until n)
        .map(k => math.abs(((id * 13 + k.toLong * 97) % 65536) - 32768)))
    }
    ids.foreach(i => assert(got(i) === refHash(i), s"id=$i"))
    val banded = Dedup.simhashPairs(
        Multimodal.audioFingerprint(media), "media_id", "ahash",
        hammingMax = 3, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(refHash(a) ^ refHash(b)) if d <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty) // the phase-shifted envelope family collides
  }

  test("videoFingerprint: per-frame blockhash + majority vote equals the " +
      "generator formula; banded pairs equal brute force at hamming <= 3") {
    val ids = (2L until 92L by 3L) // 30 video rows
    val many = ids.map(i => (i, "x", 1L)).toDF("doc_id", "text", "n_chars")
    val media = Multimodal.syntheticMedia(many)
    val got = Multimodal.videoFingerprint(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def refHash(id: Long): Long = {
      val w = 4 + (id % 8).toInt; val h = 4 + (id % 6).toInt
      val fr = 2 + (id % 5).toInt; val fb = 3 * w * h
      val frameHashes = (0 until fr).map { f =>
        refSignHash60((0 until fb)
          .map(j => (id * 7 + f.toLong * 1009 + j) % 256))
      }
      (0 until 60).foldLeft(0L) { (acc, s) =>
        val votes = frameHashes.count(fh => ((fh >> s) & 1L) == 1L)
        if (2 * votes > fr) acc | (1L << s) else acc
      }
    }
    ids.foreach(i => assert(got(i) === refHash(i), s"id=$i"))
    val banded = Dedup.simhashPairs(
        Multimodal.videoFingerprint(media), "media_id", "vhash",
        hammingMax = 3, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(refHash(a) ^ refHash(b)) if d <= 3
    } yield (a, b)).toSet
    assert(banded === brute)
    assert(brute.nonEmpty)
  }

  test("audioQuality: decoded counts equal the sample-formula counts") {
    val ids = Seq(1L, 4L, 7L, 10L, 49L)
    val many = ids.map(i => (i, "x", 1L)).toDF("doc_id", "text", "n_chars")
    val got = Multimodal.audioQuality(Multimodal.syntheticMedia(many))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    ids.foreach { id =>
      val n = 8 * (10 + (id % 50).toInt)
      val samples = (0 until n)
        .map(k => math.abs((((id * 13 + k.toLong * 97) % 65536) - 32768).toInt))
      val silent = samples.count(_ < 1000).toLong
      val clipped = samples.count(_ >= 32000).toLong
      assert(got(id) ===
        ((n.toLong, silent * 1000000L / n, clipped * 1000000L / n)),
        s"id=$id")
    }
  }

  test("audio frame energies match the generator formula exactly") {
    val got = Multimodal.audioFrameEnergies(
      Multimodal.syntheticMedia(docs), frame = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // audio ids are doc_id % 3 == 1 -> 1L only in the fixture
    val n = 8 * (10 + 1 % 50)
    val want = (0 until n / 8).map { f =>
      val sum = (0 until 8).map { j =>
        math.abs(((1L * 13 + (f * 8 + j).toLong * 97) % 65536) - 32768)
      }.sum
      (1L, f.toLong) -> sum / 8
    }.toMap
    assert(got === want)
    // frames partition the sample stream: every frame index present
    assert(got.keys.map(_._2).toSeq.sorted === (0L until n / 8).toSeq)
  }
}
