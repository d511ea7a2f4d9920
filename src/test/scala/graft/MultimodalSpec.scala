package graft

import graft.multimodal.{MediaCorpus, MediaMeta, MediaRow, Multimodal}

class MultimodalSpec extends SparkSpec {

  private lazy val media =
    MediaCorpus.planted(spark, 150, 1)(MediaCorpus.mixed)

  test("featurize: deterministic features, right dim, batch loop covers all rows") {
    val a = Multimodal.featurize(media, dim = 16, batchSize = 7).collect()
    val b = Multimodal.featurize(media, dim = 16, batchSize = 64).collect()
    assert(a.length == 150)
    assert(a.forall(_.features.length == 16))
    val am = a.map(r => r.media_id -> r.features.toSeq).toMap
    val bm = b.map(r => r.media_id -> r.features.toSeq).toMap
    assert(am == bm) // batch size must not change results
  }

  test("distinct payloads produce distinct features") {
    val feats = Multimodal.featurize(media, dim = 16).collect()
      .map(_.features.toSeq).distinct
    assert(feats.length == 150)
  }

  test("resize updates typed metadata, keeps ids") {
    val out = Multimodal.resize(media, 224, 224).collect()
    assert(out.forall(r => r.meta.width == 224 && r.meta.height == 224))
    assert(out.map(_.media_id).sorted.toSeq == (0L until 150L))
  }

  test("image rows decode to real pixel dimensions (ImageIO, not stub)") {
    val metaById = media.collect().map(r => r.media_id -> r).toMap
    val imgFeats = Multimodal.featurize(media, dim = 8).collect()
      .filter(f => metaById(f.media_id).kind == "image")
    assert(imgFeats.nonEmpty)
    imgFeats.foreach { f =>
      val m = metaById(f.media_id).meta
      // width/height come from DECODED pixels — proves a real PNG decode
      assert(f.width == m.width && f.height == m.height)
      // normalized mean luminance of real pixels
      assert(f.features.forall(v => v >= 0f && v <= 1f))
    }
  }

  test("audio rows decode to real WAV properties (javax.sound, not stub)") {
    val audioFeats = Multimodal.featurize(media, dim = 8).collect()
      .filter(_.kind == "audio")
    assert(audioFeats.nonEmpty)
    audioFeats.foreach { f =>
      // sample rate / count come from DECODING the WAV container —
      // proves a real javax.sound.sampled decode, not metadata echo
      assert(f.width == 16000)
      assert(f.height == 1600) // 100 ms at 16 kHz
      // per-segment RMS of a sine of amplitude a is ~a/sqrt(2);
      // synthetic amplitudes span [0.2, 0.8] → RMS in ~[0.14, 0.57]
      f.features.foreach(v => assert(v > 0.1f && v < 0.65f))
    }
    // amplitude varies per id → decoded energies must differ across rows
    assert(audioFeats.map(_.features.toSeq).distinct.length ==
      audioFeats.length)
  }

  test("resize re-encodes image payloads to the new dimensions") {
    val img = Multimodal.resize(media, 48, 40).collect()
      .find(_.kind == "image").get
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(img.bytes))
    assert(decoded.getWidth == 48 && decoded.getHeight == 40)
  }

  test("sampleFrames: video rows only, every Nth REAL frame") {
    val frames = Multimodal.sampleFrames(media, everyN = 2).collect()
    val videoIds = media.collect().filter(_.kind == "video").map(_.media_id)
    assert(frames.map(_._1).distinct.sorted.toSeq == videoIds.sorted.toSeq)
    // 6 MJPEG frames, every 2nd → frames 0, 2, 4
    assert(frames.filter(_._1 == videoIds.head).map(_._2).sorted.toSeq ==
      Seq(0, 2, 4))
    // decoded luminance features, not hash noise: bounded in [0, 1] and
    // varying across frames of the same video (the pattern shifts)
    frames.foreach(f => assert(f._3.forall(v => v >= 0f && v <= 1f)))
    val perFrame = frames.filter(_._1 == videoIds.head).map(_._3.toSeq)
    assert(perFrame.distinct.length == perFrame.length)
  }

  test("splitMjpegFrames honors segment lengths (EXIF-style payloads)") {
    // a frame whose COM segment payload contains naked SOI/EOI byte
    // pairs — a byte-scan splitter would cut the frame inside the
    // segment; the structural walker must not
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val jpeg = out.toByteArray
    val payload = Array(0xFF, 0xD8, 0xFF, 0xD9, 0x00, 0x41).map(_.toByte)
    val com = Array(0xFF, 0xFE).map(_.toByte) ++
      Array(((payload.length + 2) >> 8).toByte,
        ((payload.length + 2) & 0xFF).toByte) ++ payload
    val tricky = jpeg.take(2) ++ com ++ jpeg.drop(2)
    val frames = Multimodal.Codec.splitMjpegFrames(tricky ++ tricky)
    assert(frames.length == 2, s"got ${frames.length} frames")
    frames.foreach { f =>
      val decoded = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(f))
      assert(decoded != null && decoded.getWidth == 16)
    }
  }

  test("splitMjpegFrames drops a frame truncated inside a marker header") {
    // payload ends exactly FF D8 FF DB: reading the 2-byte segment
    // length would index past the array — the walker must drop the
    // frame (its truncation contract), not throw
    val truncated = Array(0xFF, 0xD8, 0xFF, 0xDB).map(_.toByte)
    assert(Multimodal.Codec.splitMjpegFrames(truncated).isEmpty)
    // a complete frame before the truncated tail still comes back
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    val frames =
      Multimodal.Codec.splitMjpegFrames(out.toByteArray ++ truncated)
    assert(frames.length == 1)
  }

  test("video rows decode real MJPEG frame dimensions") {
    val metaById = media.collect().map(r => r.media_id -> r).toMap
    val vids = Multimodal.featurize(media, dim = 8).collect()
      .filter(_.kind == "video")
    assert(vids.nonEmpty)
    vids.foreach { f =>
      val m = metaById(f.media_id).meta
      assert(f.width == m.width && f.height == m.height)
    }
  }

  test("binary columns survive a shuffle (repartition) intact") {
    import org.apache.spark.sql.functions._
    val shuffled = media.repartition(8, col("kind"))
    val back = Multimodal.featurize(shuffled).collect()
      .map(r => r.media_id -> r.features.toSeq).toMap
    val ref = Multimodal.featurize(media).collect()
      .map(r => r.media_id -> r.features.toSeq).toMap
    assert(back == ref)
  }

  test("sizeStats aggregates payload sizes") {
    val r = Multimodal.sizeStats(media.toDF()).collect()(0)
    assert(r.getLong(0) == 150L)
    // every payload is a real container now (PNG / WAV / MJPEG)
    assert(r.getInt(1) > 500 && r.getInt(2) > r.getInt(1))
  }

  // ---- perceptual hashing -------------------------------------------------

  private def pngOf(pix: (Int, Int) => Int, w: Int = 64,
                    h: Int = 64, fmt: String = "png"): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, pix(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  test("pHash is container-invariant: same pixels as PNG and BMP") {
    def pix(x: Int, y: Int): Int = {
      val v = (math.sin(x * 0.3) * math.cos(y * 0.2) * 127 + 128).toInt
      (v << 16) | (v << 8) | v
    }
    val a = Multimodal.Codec.imagePHash(pngOf(pix))
    val b = Multimodal.Codec.imagePHash(pngOf(pix, fmt = "bmp"))
    assert(a == b)
  }

  test("pHash: small perturbation moves few bits, different image many") {
    def base(x: Int, y: Int): Int = {
      val v = (math.sin(x * 0.21 + y * 0.13) * 110 + 128).toInt
      (v << 16) | (v << 8) | v
    }
    // perturb: brighten one 8x8 corner slightly
    def tweaked(x: Int, y: Int): Int =
      if (x < 8 && y < 8) {
        val v = math.min(255, ((base(x, y) & 0xFF) + 12))
        (v << 16) | (v << 8) | v
      } else base(x, y)
    def other(x: Int, y: Int): Int = {
      val v = (math.cos(x * 0.4) * math.sin(y * 0.33) * 120 + 128).toInt
      (v << 16) | (v << 8) | v
    }
    val hb = Multimodal.Codec.imagePHash(pngOf(base))
    val ht = Multimodal.Codec.imagePHash(pngOf(tweaked))
    val ho = Multimodal.Codec.imagePHash(pngOf(other))
    assert(java.lang.Long.bitCount(hb ^ ht) <= 10,
      s"perturbation moved ${java.lang.Long.bitCount(hb ^ ht)} bits")
    assert(java.lang.Long.bitCount(hb ^ ho) > 10,
      s"distinct images only ${java.lang.Long.bitCount(hb ^ ho)} apart")
  }

  test("planted corpus: distinct contents are far apart (oracle guard)") {
    // the q_image_phash_dedup fixture EXACTLY: if any two distinct
    // contents come within the query's maxHamming=4, the driver's
    // oracle would break — this test pins the safety margin
    val corpus = MediaCorpus.planted(spark, 60, 3)(MediaCorpus.png)
    val hashes = Multimodal.imageHashes(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val byContent = hashes.groupBy(_._1 % 60)
    // copies are pixel-identical -> identical hashes
    byContent.values.foreach(g =>
      assert(g.map(_._2).distinct.length == 1))
    val distinct = byContent.toSeq.sortBy(_._1).map(_._2.head._2)
    val minDist = (for {
      i <- distinct.indices; j <- (i + 1) until distinct.length
    } yield java.lang.Long.bitCount(distinct(i) ^ distinct(j))).min
    assert(minDist > 8, s"closest distinct contents at hamming $minDist")
  }

  test("imageNearDuplicates finds exactly the planted content groups") {
    val corpus = MediaCorpus.planted(spark, 20, 3)(MediaCorpus.png)
    val pairs = Multimodal.imageNearDuplicates(corpus, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 0L until 60L; b <- (a + 1) until 60L
      if a % 20 == b % 20
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("audio fingerprint: gain change moves few bits, different " +
      "melody many; planted corpus margin holds (oracle guard)") {
    val corpus = MediaCorpus.planted(spark, 40, 3)(MediaCorpus.tonesWav)
    val rows = corpus.collect()
    // copies are sample-identical -> identical fingerprints
    val fps = rows.map(r =>
      r.media_id -> Multimodal.Codec.audioFingerprint(r.bytes)).toMap
    (0L until 40L).foreach { c =>
      assert(fps(c) == fps(c + 40) && fps(c) == fps(c + 80))
    }
    // distinct contents comfortably beyond the query's maxHamming=4
    val distinct = (0L until 40L).map(fps)
    val minDist = (for {
      i <- distinct.indices; j <- (i + 1) until distinct.length
    } yield java.lang.Long.bitCount(distinct(i) ^ distinct(j))).min
    assert(minDist > 8, s"closest distinct contents at hamming $minDist")
    // gain scaling (half volume) leaves the ZCR contour intact
    val bytes = rows.find(_.media_id == 0L).get.bytes
    val (fmtSame, scaled) = {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = in.getFormat
      val raw = in.readAllBytes()
      var i = 0
      while (i < raw.length / 2) {
        val v = (((raw(2 * i) & 0xFF) | (raw(2 * i + 1) << 8)).toShort
          / 2).toInt
        raw(2 * i) = (v & 0xFF).toByte
        raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, raw.length / 2L)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
      (fmt, out.toByteArray)
    }
    val d = java.lang.Long.bitCount(
      fps(0L) ^ Multimodal.Codec.audioFingerprint(scaled))
    assert(d <= 4, s"gain change moved $d bits")
  }

  test("video corpus: copies collide, distinct contents far (oracle guard)") {
    val corpus = MediaCorpus.planted(spark, 30, 3)(MediaCorpus.mjpeg)
    val fps = Multimodal.videoHashes(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 30L).foreach(c =>
      assert(fps(c) == fps(c + 30) && fps(c) == fps(c + 60)))
    val distinct = (0L until 30L).map(fps)
    val minDist = (for {
      i <- distinct.indices; j <- (i + 1) until distinct.length
    } yield java.lang.Long.bitCount(distinct(i) ^ distinct(j))).min
    assert(minDist > 8, s"closest distinct contents at hamming $minDist")
    val pairs = Multimodal.videoNearDuplicates(corpus, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 0L until 90L; b <- (a + 1) until 90L
      if a % 30 == b % 30
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("corrupt payloads are skipped, not fatal, in all hash paths") {
    import spark.implicits._
    val junk = Array.fill[Byte](64)(0x5A)
    val img = MediaCorpus.planted(spark, 3, 1)(MediaCorpus.png).collect()
    val mixed = spark.createDataset(
      img.toSeq :+ MediaRow(99L, "image", junk, MediaMeta(0, 0, 0, 1)))
    assert(Multimodal.imageHashes(mixed).count() == 3)
    val aud = MediaCorpus.planted(spark, 3, 1)(MediaCorpus.tonesWav).collect()
    val mixedA = spark.createDataset(
      aud.toSeq :+ MediaRow(99L, "audio", junk, MediaMeta(0, 0, 0, 1)))
    assert(Multimodal.audioHashes(mixedA).count() == 3)
    val vid = MediaCorpus.planted(spark, 3, 1)(MediaCorpus.mjpeg).collect()
    val mixedV = spark.createDataset(
      vid.toSeq :+ MediaRow(99L, "video", junk, MediaMeta(0, 0, 0, 1)))
    assert(Multimodal.videoHashes(mixedV).count() == 3)
  }

  test("audioNearDuplicates finds exactly the planted content groups") {
    val corpus = MediaCorpus.planted(spark, 15, 3)(MediaCorpus.tonesWav)
    val pairs = Multimodal.audioNearDuplicates(corpus, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (for {
      a <- 0L until 45L; b <- (a + 1) until 45L
      if a % 15 == b % 15
    } yield (a, b)).toSet
    assert(pairs == expected)
  }

  test("constellation matching catches time-offset copies the ZCR " +
      "fingerprint misses; chance collisions stay far below the gate") {
    val corpus = MediaCorpus.offset(spark, 20, 10,
      base = 1000)(MediaCorpus.delayedWav(noiseLsb = 0))
    val planted = (0L until 10L).map(c => (c, c + 1000L)).toSet
    // the ZCR profile cannot see a 16-hop delay at any useful radius
    val zcr = Multimodal.audioNearDuplicates(corpus, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zcr.intersect(planted).isEmpty)
    // constellation offset voting: planted pairs at max votes, chance
    // tone collisions an order of magnitude below the 100-vote gate
    val all = Multimodal.audioConstellationMatches(corpus, minVotes = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    planted.foreach(p => assert(all(p) >= 250, s"weak planted pair $p"))
    val chanceMax = (all -- planted).values.maxOption.getOrElse(0L)
    assert(chanceMax < 50, s"chance collision too strong: $chanceMax")
    val gated = Multimodal.audioConstellationMatches(corpus,
      minVotes = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == planted)
  }

  test("videoSequenceMatches catches intro-prepended copies the " +
      "middle-frame fingerprint misses; probe form agrees") {
    val corpus = MediaCorpus.offset(spark, 12, 6,
      base = 1000)(MediaCorpus.shiftedMjpeg)
    val planted = (0L until 6L).map(c => (c, c + 1000L)).toSet
    // middle-frame fingerprint: shifted middle lands on a different
    // source frame — no pair at any useful radius
    val mid = Multimodal.videoNearDuplicates(corpus, maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mid.intersect(planted).isEmpty)
    // sequence voting: all 8 content frames align at offset 3; zero
    // chance collisions on this fixture
    val all = Multimodal.videoSequenceMatches(corpus, minVotes = 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(all.keySet == planted)
    planted.foreach(p => assert(all(p) == 8L, s"pair $p votes ${all(p)}"))
    // incremental probe against the originals' frame-hash index
    val probed = Multimodal.videoSequenceProbeIndex(
      corpus.filter(_.media_id >= 1000L),
      Multimodal.videoFrameHashes(corpus.filter(_.media_id < 1000L)),
      minVotes = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed == planted.map { case (a, b) => (b, a) })
  }

  test("constellation matching survives sample noise on the copies " +
      "(re-encode stand-in: spectral peaks outlive ±1% LSB noise)") {
    val noisy = MediaCorpus.offset(spark, 12, 6,
      base = 1000)(MediaCorpus.delayedWav(noiseLsb = 300))
    val planted = (0L until 6L).map(c => (c, c + 1000L)).toSet
    val got = Multimodal.audioConstellationMatches(noisy, minVotes = 100)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
      .toMap
    assert(got.keySet == planted, s"got ${got.keySet}")
    planted.foreach(p => assert(got(p) >= 200, s"weak noisy pair $p"))
  }

  test("ratio constellation primitives: event bins run-compress, " +
      "landmark hash sets survive a resample, match-frac separates " +
      "identical from unrelated sequences") {
    val corpus = MediaCorpus.offset(spark, nContents = 3, nCopies = 3,
      base = 2000)(MediaCorpus.resampledWav).collect()
      .map(r => r.media_id -> r.bytes).toMap
    // eventBins: the run-compressed peak sequence is far shorter than
    // the frame count and has no adjacent repeats
    val bins = Multimodal.Codec.eventBins(corpus(0L))
    assert(bins.length > 8 && bins.length < 80, s"events ${bins.length}")
    bins.sliding(2).foreach {
      case Array(a, b) => assert(a != b, "adjacent repeat survived")
      case _ =>
    }
    // audioConstellationRatio: a resampled copy re-emits MOST of the
    // landmark hash set (bin-rounding flips cost some; the voting core
    // absorbs that), an unrelated clip shares little of it
    val h0 = Multimodal.Codec.audioConstellationRatio(corpus(0L))
      .map(_._2).toSet
    val h0r = Multimodal.Codec.audioConstellationRatio(corpus(2000L))
      .map(_._2).toSet
    val h1 = Multimodal.Codec.audioConstellationRatio(corpus(1L))
      .map(_._2).toSet
    val copyShare = h0.intersect(h0r).size.toDouble / h0.size
    val chanceShare = h0.intersect(h1).size.toDouble / h0.size
    assert(copyShare > 0.5, s"resampled copy shares only $copyShare")
    assert(chanceShare < copyShare / 2,
      s"unrelated clip too close: $chanceShare vs $copyShare")
    // ratioSequenceMatchFrac: identical sequences 1.0; the resampled
    // twin ~1.0; unrelated low
    val b0 = Multimodal.Codec.eventBins(corpus(0L))
    val b0r = Multimodal.Codec.eventBins(corpus(2000L))
    val b1 = Multimodal.Codec.eventBins(corpus(1L))
    assert(Multimodal.Codec.ratioSequenceMatchFrac(b0, b0) == 1.0)
    assert(Multimodal.Codec.ratioSequenceMatchFrac(b0, b0r) >= 0.9)
    assert(Multimodal.Codec.ratioSequenceMatchFrac(b0, b1) <= 0.5)
  }

  test("ratio constellation catches resampled copies the absolute-bin " +
      "landmarks miss; verify stage separates chance candidates") {
    val corpus = MediaCorpus.offset(spark, nContents = 20, nCopies = 10,
      base = 2000)(MediaCorpus.resampledWav)
    val planted = (0L until 10L).map(c => (c, c + 2000L)).toSet
    // absolute-bin family: a 1.1x resample scales every peak bin and
    // frame delta, so NO planted pair reaches even the diffuse chance
    // level on this fixture — the documented miss
    val absVotes = Multimodal.audioConstellationMatches(corpus,
        minVotes = 1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val absPlantedMax = planted.flatMap(absVotes.get).maxOption.getOrElse(0L)
    val absChanceMax = (absVotes -- planted).values.maxOption.getOrElse(0L)
    assert(absPlantedMax < absChanceMax,
      s"absolute family unexpectedly sees resampled copies " +
        s"(planted max $absPlantedMax vs chance $absChanceMax)")
    // ratio family at defaults: exactly the planted set, match_frac
    // 1.0 each, and every surviving chance candidate is below the
    // verify threshold with margin
    val got = Multimodal.audioConstellationRatioMatches(corpus).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    assert(got.keySet == planted, s"got ${got.keySet}")
    got.values.foreach(f => assert(f >= 0.99, s"weak verified copy: $f"))
    // verify margins: candidates kept with frac gate OFF show chance
    // pairs capped well under the 0.8 default
    val all = Multimodal.audioConstellationRatioMatches(corpus,
        minMatchFrac = 0.0).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val chance = (all -- planted).values
    assert(chance.forall(_ <= 0.7),
      s"chance match_frac too close to the gate: ${chance.max}")
  }

  test("FrameDecoder SPI: an external video codec binding lights up " +
      "the whole sequence-matching family; unset falls back to MJPEG") {
    import graft.multimodal.{FrameDecoder, MediaMeta, MediaRow}
    import spark.implicits._
    // clips in a fake non-MJPEG container (GFAKE1: magic + count +
    // length-prefixed PNG frames) — the deterministic stand-in for an
    // H.264 payload, since the real codec needs the external binding
    // this SPI exists for
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          img.setRGB(x, y, (seed * 2654435761L.toInt) ^ (x * 31 + y * 17))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def fakeClip(frameSeeds: Seq[Int]): Array[Byte] = {
      val frames = frameSeeds.map(png)
      val bb = java.nio.ByteBuffer.allocate(
        10 + frames.map(_.length + 4).sum)
      bb.put("GFAKE1".getBytes("US-ASCII")).putInt(frames.size)
      frames.foreach(f => bb.putInt(f.length).put(f))
      bb.array()
    }
    // contents 0..5: 8 distinct frames each; copies at +1000 prepend a
    // 3-frame intro (the trim/delay case the sequence matcher owns)
    val rows = (0L until 6L).map { c =>
      MediaRow(c, "video",
        fakeClip((0 until 8).map(f => (c * 100 + f).toInt)),
        MediaMeta(16, 16, 0, 8))
    } ++ (0L until 6L).map { c =>
      MediaRow(1000L + c, "video",
        fakeClip(Seq(9001, 9002, 9003) ++
          (0 until 8).map(f => (c * 100 + f).toInt)),
        MediaMeta(16, 16, 0, 11))
    }
    val corpus = spark.createDataset(rows)
    val planted = (0L until 6L).map(c => (c, c + 1000L)).toSet
    // without the binding: MJPEG splitter finds no SOI → skip-corrupt
    // contract drops every clip, zero matches (proves routing is real)
    sys.props.remove(FrameDecoder.PropKey)
    assert(Multimodal.videoSequenceMatches(corpus, minVotes = 1)
      .count() == 0)
    // with the binding: the full family lights up through the SPI
    sys.props(FrameDecoder.PropKey) = "graft.FakeFrameDecoder"
    try {
      // the routed entry point itself decodes through the binding
      assert(Multimodal.Codec.videoFrames(rows.head.bytes).size == 8)
      val got = Multimodal.videoSequenceMatches(corpus, minVotes = 5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      assert(got.keySet == planted, s"got ${got.keySet}")
      planted.foreach(p => assert(got(p) == 8L, s"pair $p votes ${got(p)}"))
      // a bogus class name fails fast with the name in the error
      sys.props(FrameDecoder.PropKey) = "graft.NoSuchDecoder"
      val e = intercept[IllegalArgumentException](FrameDecoder.resolve())
      assert(e.getMessage.contains("graft.NoSuchDecoder"))
    } finally sys.props.remove(FrameDecoder.PropKey)
  }

  test("AudioDecoder SPI: an external audio codec binding lights up " +
      "the fingerprint family; unset, compressed formats fail with a " +
      "NAMED error that names the binding point") {
    import graft.multimodal.{AudioDecoder, MediaMeta, MediaRow}
    import spark.implicits._
    // clips in a fake compressed container (GFAKA1: magic +
    // sampleRate + raw 16-bit LE PCM) — the deterministic stand-in
    // for MP3/AAC, whose real decode needs the external binding this
    // SPI exists for (faking it would misrepresent coverage)
    def fakeClip(content: Long): Array[Byte] = {
      val sr = 16000
      val pcm = new Array[Byte](sr * 2)
      var i = 0
      while (i < sr) {
        val seg = i * 64 / sr
        val mix = content * 1315423911L + seg * 2654435761L
        val freq = 300.0 + math.floorMod(mix ^ (mix >>> 17), 12L) * 90.0
        val v = (math.sin(2 * math.Pi * freq * i / sr) * 12000).toInt
        pcm(2 * i) = v.toByte; pcm(2 * i + 1) = (v >> 8).toByte
        i += 1
      }
      val bb = java.nio.ByteBuffer.allocate(10 + pcm.length)
      bb.put("GFAKA1".getBytes("US-ASCII")).putInt(sr).put(pcm)
      bb.array()
    }
    val rows = (0L until 6L).map(c =>
      MediaRow(c, "audio", fakeClip(c), MediaMeta(0, 0, 16000, 0))) ++
      (0L until 6L).map(c =>
        MediaRow(100L + c, "audio", fakeClip(c),
          MediaMeta(0, 0, 16000, 0)))
    val corpus = spark.createDataset(rows)
    // without the binding: the named error degrades every row to a
    // skip (proves routing is real), and the DIRECT call names both
    // the sniffed format and the property
    sys.props.remove(AudioDecoder.PropKey)
    assert(Multimodal.audioHashes(corpus).count() == 0)
    val mp3ish = Array[Byte](0xFF.toByte, 0xFB.toByte, 0x90.toByte, 0)
    val e = intercept[IllegalArgumentException] {
      AudioDecoder.resolve().samples(mp3ish)
    }
    assert(e.getMessage.contains("MP3") &&
      e.getMessage.contains(AudioDecoder.PropKey), e.getMessage)
    val id3 = "ID3".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0)
    assert(intercept[IllegalArgumentException] {
      AudioDecoder.resolve().samples(id3)
    }.getMessage.contains("ID3"))
    // with the binding: the whole family lights up through the SPI
    sys.props(AudioDecoder.PropKey) = "graft.FakeAudioDecoder"
    try {
      val dups = Multimodal.audioNearDuplicates(corpus, maxHamming = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups == (0L until 6L).map(c => (c, c + 100L)).toSet,
        s"got $dups")
      // a bogus class name fails fast with the name in the error
      sys.props(AudioDecoder.PropKey) = "graft.NoSuchAudioDecoder"
      val e2 = intercept[IllegalArgumentException](AudioDecoder.resolve())
      assert(e2.getMessage.contains("graft.NoSuchAudioDecoder"))
    } finally sys.props.remove(AudioDecoder.PropKey)
  }

  test("ImageDecoder SPI: an external image codec binding lights up " +
      "the pHash family; unset, modern formats fail with a NAMED " +
      "error that sniffs the container") {
    import graft.multimodal.{ImageDecoder, MediaMeta, MediaRow}
    import spark.implicits._
    // images in a fake modern container (GFAKP1: magic + a PNG body)
    // — the stand-in for WebP/AVIF, whose real decode needs the
    // external binding this SPI exists for
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(24, 24,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 24) {
        var x = 0
        while (x < 24) {
          img.setRGB(x, y,
            (seed * 2654435761L.toInt) ^ (x * 131 + y * 31 + seed))
          x += 1
        }
        y += 1
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    def fake(seed: Int): Array[Byte] =
      "GFAKP1".getBytes("US-ASCII") ++ png(seed)
    val rows = (0L until 6L).map(c =>
      MediaRow(c, "image", fake(c.toInt * 7), MediaMeta(24, 24, 0, 1))) ++
      (0L until 6L).map(c =>
        MediaRow(100L + c, "image", fake(c.toInt * 7),
          MediaMeta(24, 24, 0, 1)))
    val corpus = spark.createDataset(rows)
    sys.props.remove(ImageDecoder.PropKey)
    // fake container is not ImageIO-decodable → every row skips
    assert(Multimodal.imageNearDuplicates(corpus, maxHamming = 0)
      .count() == 0)
    // modern-format sniffs name the format AND the property
    val webp = "RIFF".getBytes("US-ASCII") ++ new Array[Byte](4) ++
      "WEBP".getBytes("US-ASCII") ++ new Array[Byte](8)
    val e = intercept[IllegalArgumentException] {
      ImageDecoder.resolve().image(webp)
    }
    assert(e.getMessage.contains("WebP") &&
      e.getMessage.contains(ImageDecoder.PropKey), e.getMessage)
    val avif = new Array[Byte](4) ++ "ftypavif".getBytes("US-ASCII") ++
      new Array[Byte](8)
    assert(intercept[IllegalArgumentException] {
      ImageDecoder.resolve().image(avif)
    }.getMessage.contains("AVIF"))
    // with the binding: the pHash family lights up through the SPI
    sys.props(ImageDecoder.PropKey) = "graft.FakeImageDecoder"
    try {
      val dups = Multimodal.imageNearDuplicates(corpus, maxHamming = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups == (0L until 6L).map(c => (c, c + 100L)).toSet,
        s"got $dups")
      sys.props(ImageDecoder.PropKey) = "graft.NoSuchImageDecoder"
      val e2 = intercept[IllegalArgumentException](ImageDecoder.resolve())
      assert(e2.getMessage.contains("graft.NoSuchImageDecoder"))
    } finally sys.props.remove(ImageDecoder.PropKey)
  }

  test("audioConstellationProbeIndex: batch vs persisted landmark " +
      "index finds exactly the planted delayed copies") {
    val corpus = MediaCorpus.offset(spark, 20, 10,
      base = 1000)(MediaCorpus.delayedWav(noiseLsb = 0))
    val index = Multimodal.audioConstellationHashes(
      corpus.filter(_.media_id < 1000L))
    val batch = corpus.filter(_.media_id >= 1000L)
    val got = Multimodal.audioConstellationProbeIndex(batch, index,
      minVotes = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L until 10L).map(c => (c + 1000L, c)).toSet)
    // a probe with an empty index finds nothing and stays well-typed
    val empty = index.limit(0)
    val none = Multimodal.audioConstellationProbeIndex(batch, empty,
      minVotes = 1)
    assert(none.columns.toSeq == Seq("new_id", "seen_id", "votes"))
    assert(none.count() == 0)
  }

  // ---- EXIF orientation (round 17) ---------------------------------------

  test("EXIF orientation: JPEG APP1 and PNG eXIf tags parse; absent " +
      "or corrupt tags default to 1") {
    import graft.multimodal.Exif
    def pix(x: Int, y: Int): Int = ((x * 5 + y * 11) % 256) << 16
    val jpeg = pngOf(pix, fmt = "jpg")
    val png = pngOf(pix)
    assert(Exif.orientation(jpeg) == 1)
    assert(Exif.orientation(png) == 1)
    (1 to 8).foreach { o =>
      assert(Exif.orientation(Exif.withOrientationJpeg(jpeg, o)) == o,
        s"jpeg orientation $o")
      assert(Exif.orientation(Exif.withOrientationPng(png, o)) == o,
        s"png orientation $o")
    }
    assert(Exif.orientation("garbage".getBytes) == 1)
    assert(Exif.orientation(jpeg.take(3).toArray) == 1)
  }

  test("EXIF: a PNG chunk with a negative (high-bit) length must not " +
      "hang the chunk walk — degrade to orientation 1") {
    import graft.multimodal.Exif
    // length 0xFFFFFFF4 = -12 signed: `p += 12 + len` would never
    // advance, spinning the executor task forever (no exception for
    // the NonFatal guard to catch). Must terminate and return 1.
    val sig = Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)
    val badChunk = Array(0xFF, 0xFF, 0xFF, 0xF4).map(_.toByte) ++
      "IDAT".getBytes("US-ASCII") ++ Array.fill[Byte](16)(0)
    assert(Exif.orientation(sig ++ badChunk) == 1)
    // and a huge positive length (past the file) must not overflow p
    val hugeChunk = Array(0x7F, 0xFF, 0xFF, 0xF0).map(_.toByte) ++
      "iTXt".getBytes("US-ASCII") ++ Array.fill[Byte](16)(0)
    assert(Exif.orientation(sig ++ hugeChunk) == 1)
  }

  test("EXIF normalize/denormalize are exact inverses for all eight " +
      "orientations") {
    import graft.multimodal.Exif
    val img = new java.awt.image.BufferedImage(40, 24,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 40; y <- 0 until 24)
      img.setRGB(x, y, (x * 6553 + y * 271) & 0xFFFFFF)
    (1 to 8).foreach { o =>
      val back = Exif.normalize(Exif.denormalize(img, o), o)
      assert(back.getWidth == 40 && back.getHeight == 24, s"dims o=$o")
      for (x <- 0 until 40; y <- 0 until 24)
        assert(back.getRGB(x, y) == img.getRGB(x, y),
          s"pixel ($x,$y) under orientation $o")
    }
  }

  test("a rotated re-upload collides with its original AFTER EXIF " +
      "normalization, and provably misses without the tag (JPEG leg)") {
    import graft.multimodal.Exif
    // smooth content (JPEG-friendly): re-encode loss stays small
    def pix(x: Int, y: Int): Int = {
      val v = (math.sin(x * 0.11) * math.cos(y * 0.07) * 110 + 128).toInt
      (v << 16) | ((255 - v) << 8) | ((v * 3 / 4 + 32) & 0xFF)
    }
    val upright = pngOf(pix, w = 96, h = 64, fmt = "jpg")
    val h0 = Multimodal.Codec.imagePHash(upright)
    Seq(3, 6, 8).foreach { o =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(upright))
      val stored = Exif.denormalize(img, o)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(stored, "jpg", out)
      val untagged = out.toByteArray
      val tagged = Exif.withOrientationJpeg(untagged, o)
      val hTagged = Multimodal.Codec.imagePHash(tagged)
      val hUntagged = Multimodal.Codec.imagePHash(untagged)
      val hitDist = java.lang.Long.bitCount(h0 ^ hTagged)
      assert(hitDist <= 4,
        s"orientation $o: tagged re-upload must collide (got $hitDist)")
      if (o != 3) {
        // 90°/270° rotations move the hash far without the tag — the
        // miss this whole feature exists to close (180° can stay
        // closer for near-symmetric content, so it is not pinned)
        val missDist = java.lang.Long.bitCount(h0 ^ hUntagged)
        assert(missDist > 8,
          s"orientation $o: untagged rotation should miss ($missDist)")
      }
    }
  }

  test("EXIF image corpus: planted rotated copies collide at Hamming " +
      "0 (lossless PNG leg), distinct contents stay far") {
    val corpus = MediaCorpus.planted(spark, nContents = 8,
      copies = 3)(MediaCorpus.exifPng)
    val hashes = Multimodal.imageHashes(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes.size == 24)
    (0 until 8).foreach { c =>
      assert(hashes(c.toLong) == hashes(c + 8L), s"rot-90 copy of $c")
      assert(hashes(c.toLong) == hashes(c + 16L), s"rot-180 copy of $c")
    }
    val distinct = (0 until 8).map(c => hashes(c.toLong))
    for (i <- distinct.indices; j <- distinct.indices if i < j)
      assert(java.lang.Long.bitCount(distinct(i) ^ distinct(j)) > 4,
        s"contents $i/$j too close")
  }
}

/** The fake external codec binding for the ImageDecoder SPI test:
  * "decodes" the GFAKP1 container (magic + a PNG body). Top-level
  * with a no-arg constructor, the contract a real WebP/AVIF binding
  * class would satisfy. */
class FakeImageDecoder extends graft.multimodal.ImageDecoder {
  def image(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    require(bytes.length > 6 &&
      new String(bytes.take(6), "US-ASCII") == "GFAKP1",
      "not a GFAKP1 container")
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes, 6, bytes.length - 6))
    require(img != null, "corrupt GFAKP1 body")
    img
  }
}

/** The fake external codec binding for the AudioDecoder SPI test:
  * "decodes" the GFAKA1 container (magic + sample rate + raw 16-bit
  * LE PCM). Top-level with a no-arg constructor, exactly the contract
  * a real MP3/AAC binding class would satisfy. */
class FakeAudioDecoder extends graft.multimodal.AudioDecoder {
  def samples(bytes: Array[Byte]): (Int, Array[Double]) = {
    require(bytes.length > 10 &&
      new String(bytes.take(6), "US-ASCII") == "GFAKA1",
      "not a GFAKA1 container")
    val bb = java.nio.ByteBuffer.wrap(bytes, 6, bytes.length - 6)
    val sr = bb.getInt
    val n = bb.remaining() / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lo = bb.get() & 0xFF
      val hi = bb.get()
      out(i) = ((lo | (hi << 8)).toShort) / 32768.0
      i += 1
    }
    (sr, out)
  }
}

/** The fake external codec binding for the FrameDecoder SPI test:
  * "decodes" the GFAKE1 container (magic + frame count + length-
  * prefixed PNG frames). Top-level with a no-arg constructor, exactly
  * the contract a real ffmpeg/javacv binding class would satisfy. */
class FakeFrameDecoder extends graft.multimodal.FrameDecoder {
  def frames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    require(bytes.length > 10 &&
      new String(bytes.take(6), "US-ASCII") == "GFAKE1",
      "not a GFAKE1 container")
    val bb = java.nio.ByteBuffer.wrap(bytes, 6, bytes.length - 6)
    val n = bb.getInt
    (0 until n).map { _ =>
      val len = bb.getInt
      val a = new Array[Byte](len)
      bb.get(a)
      a
    }
  }
}
