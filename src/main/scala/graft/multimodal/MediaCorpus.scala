package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Dataset, SparkSession}

/** The H.264 stream shapes the MP4 fixture muxes, one per
  * `q_video_fp_dedup_mp4*` gate. Every shape carries the same pixels,
  * so every gate shares one oracle. */
sealed trait Mp4Shape

object Mp4Shape {
  /** CAVLC intra macroblocks. */
  case object Intra extends Mp4Shape
  /** CABAC intra macroblocks (the High-profile entropy layer). */
  case object Cabac extends Mp4Shape
  /** CABAC with the §8.7 in-loop deblocking filter. */
  case object CabacDeblock extends Mp4Shape
  /** CAVLC with transform_8x8, default scaling matrices and deblock. */
  case object High8x8 extends Mp4Shape
  /** An IPPP stream: frame 0 IDR, the rest motion-compensated P
    * pictures with planted fractional global MVs, the full partition
    * cycle, intra refresh every 7 and deblock. */
  case object PSlice extends Mp4Shape
  /** [[PSlice]] with the High-profile inter residual: transform_8x8
    * and default scaling matrices. */
  case object PSlice8x8 extends Mp4Shape
  /** [[PSlice]] with an explicit pred_weight_table. */
  case object PSliceWeighted extends Mp4Shape
  /** The broadcast GOP I B B P: non-reference B pictures between P
    * anchors, spatial direct, biprediction, two refs each way. Decode
    * order is not display order, and the middle frame is a B picture. */
  case object BSlice extends Mp4Shape
  /** [[BSlice]] with temporal direct and explicit weighted
    * biprediction. */
  case object BSliceTemporalWeighted extends Mp4Shape
  /** CABAC IDR pictures, each followed by 3 all-P_Skip filler pictures
    * under a second (CAVLC) PPS, which decode as copies of their IDR. */
  case object Mixed extends Mp4Shape
}

/**
 * The planted-media corpora of the multimodal gates, scale families
 * and specs: real PNG, MJPEG, Annex-B H.264, MP4, WAV and FLAC payloads
 * made from one pixel pattern and one tone generator. Two constructions
 * place the copies by id alone:
 *
 *  - [[planted]]: ids `0 until nContents * copies`; id `i` carries
 *    content `i % nContents` in copy set `i / nContents`.
 *  - [[offset]]: ids `0 until nContents` carry the contents; id
 *    `base + c`, for `c < nCopies`, an altered copy of content `c`
 *    (delayed, intro-prepended or resampled).
 *
 * A payload maps (content, copy set) or (content, isCopy) to
 * `(kind, bytes, meta)` and reads nothing else, so the planted copies of
 * a content decode to the same pixels or samples whatever container or
 * codec carries them, and distinct contents stay far apart
 * (MultimodalSpec pins the margins). Which ids match is therefore id
 * arithmetic: each gate's oracle is a `generate_series` join over ids,
 * with no media in it. `planted` is one `range` and `offset` one
 * `range ∪ range`; the gates' job and shuffle budgets assume those plans.
 */
object MediaCorpus {
  type Payload = (String, Array[Byte], MediaMeta)

  private val Rate = 16000
  private val audioMeta = MediaMeta(0, 0, Rate, 1)

  def planted(spark: SparkSession, nContents: Int, copies: Int)(
      payload: (Long, Int) => Payload): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(nContents.toLong * copies).as[Long].map { id =>
      val (kind, bytes, meta) =
        payload(id % nContents, (id / nContents).toInt)
      MediaRow(id, kind, bytes, meta)
    }
  }

  def offset(spark: SparkSession, nContents: Int, nCopies: Int,
             base: Long)(
      payload: (Long, Boolean) => Payload): Dataset[MediaRow] = {
    import spark.implicits._
    require(nCopies <= nContents, "offset copies need a source")
    spark.range(nContents.toLong)
      .union(spark.range(base, base + nCopies)).as[Long].map { id =>
        val isCopy = id >= base
        val (kind, bytes, meta) =
          payload(if (isCopy) id - base else id, isCopy)
        MediaRow(id, kind, bytes, meta)
      }
  }

  // ---- planted payloads -------------------------------------------

  /** One row per id of each modality in turn: a PNG, a 100 ms WAV sine
    * (frequency, amplitude and DC offset keyed by the id, so decoded
    * RMS features differ across rows) and a 6-frame MJPEG clip, sized
    * by the id. Use with one copy: every row is its own content. */
  def mixed(id: Long, copySet: Int): Payload = {
    val w = 64 + (id % 4).toInt * 32
    val h = 64 + (id % 3).toInt * 32
    (id % 3).toInt match {
      case 0 =>
        ("image", images(frames(id, w, h, 1), w, h, "png"),
          MediaMeta(w, h, 0, 1))
      case 1 =>
        val pcm = tonePcm(Rate / 10, 1, 0.2 + (id % 16).toDouble * 0.04,
          (id % 97).toDouble / 1000.0)(_ => 200.0 + (id % 20).toDouble * 50.0)
        ("audio", wav(pcm), MediaMeta(w, h, Rate, 1))
      case _ =>
        ("video", images(frames(id, w, h, 6), w, h, "jpg"),
          MediaMeta(w, h, 0, 6))
    }
  }

  /** The content's pixel pattern as a PNG: pixel-identical copies sit
    * at pHash Hamming 0. */
  def png(content: Long, copySet: Int): Payload = {
    val (w, h) = clipSize(content)
    ("image", images(frames(content, w, h, 1), w, h, "png"),
      MediaMeta(w, h, 0, 1))
  }

  /** [[png]] with EXIF-rotated copies, the phone-photo re-upload shape:
    * copy set 1 stores the pixels rotated 90° CCW under orientation 6,
    * copy set 2 rotated 180° under orientation 3. PNG + eXIf keeps the
    * planting lossless, so after [[Exif.normalize]] every copy's pixels
    * equal the upright original's. */
  def exifPng(content: Long, copySet: Int): Payload = {
    val (kind, upright, meta) = png(content, copySet)
    if (copySet == 0) (kind, upright, meta) else {
      require(copySet <= 2, "fixture defines orientations for 3 copy sets")
      val o = if (copySet == 1) 6 else 3
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(upright))
      val out = new ByteArrayOutputStream()
      javax.imageio.ImageIO.write(Exif.denormalize(img, o), "png", out)
      (kind, Exif.withOrientationPng(out.toByteArray, o), meta)
    }
  }

  /** A 5-frame MJPEG clip of the content. */
  def mjpeg(content: Long, copySet: Int): Payload =
    clip(content, 5, intro = false)(mjpegParts)

  /** A 5-frame Annex-B H.264 stream of all-I_PCM IDR pictures. */
  def h264(content: Long, copySet: Int): Payload =
    clip(content, 5, intro = false)(h264Parts)

  /** A 5-frame MP4 file of the shape's H.264 stream. */
  def mp4(shape: Mp4Shape)(content: Long, copySet: Int): Payload =
    clip(content, 5, intro = false)((w, h, parts) =>
      Mp4.fromAnnexB(encode(shape, w, h, parts.flatten), w, h))

  /** A 1 s WAV of the content's 12-tone sequence, the ZCR fingerprint's
    * signature. */
  def tonesWav(content: Long, copySet: Int): Payload =
    ("audio", wav(tones(content)), audioMeta)

  /** [[tonesWav]]'s samples as FLAC: decoded losslessly, so every
    * fingerprint equals the WAV corpus's. */
  def tonesFlac(content: Long, copySet: Int): Payload =
    ("audio", Flac.fromPcm16(tones(content), Rate), audioMeta)

  // ---- offset payloads --------------------------------------------

  /** An 8-frame MJPEG clip; the copy has a 3-frame intro prepended, so
    * every content frame recurs at frame offset 3 (MJPEG frames
    * concatenate). */
  def shiftedMjpeg(content: Long, isCopy: Boolean): Payload =
    clip(content, 8, isCopy)(mjpegParts)

  /** [[shiftedMjpeg]] over Annex-B H.264: the copy is the byte concat of
    * the intro's stream and the body's (IDR pictures are
    * self-contained). */
  def shiftedH264(content: Long, isCopy: Boolean): Payload =
    clip(content, 8, isCopy)(h264Parts)

  /** [[shiftedMjpeg]] as one CAVLC intra MP4 (or, `fragmented`, fMP4)
    * file: MP4 files do not concatenate, so the intro frames are
    * prepended before the encode, as a re-edit is made. Intra frames
    * reconstruct from their own pixels, so the body decodes as the
    * source does. */
  def shiftedMp4(fragmented: Boolean)(content: Long,
                                      isCopy: Boolean): Payload =
    clip(content, 8, isCopy) { (w, h, parts) =>
      val stream = encode(Mp4Shape.Intra, w, h, parts.flatten)
      if (fragmented) Mp4.fromAnnexBFragmented(stream, w, h)
      else Mp4.fromAnnexB(stream, w, h)
    }

  /** A 1 s WAV melody; the copy has 4096 samples (16 hops of 256) of
    * leading silence, so every landmark recurs at frame offset 16, and
    * optionally ±`noiseLsb` of deterministic sample noise (a re-encode
    * stand-in the spectral peaks must survive). */
  def delayedWav(noiseLsb: Int)(content: Long, isCopy: Boolean): Payload =
    ("audio", wav(delayed(content, isCopy, noiseLsb)), audioMeta)

  /** [[delayedWav]] without noise, as FLAC. */
  def delayedFlac(content: Long, isCopy: Boolean): Payload =
    ("audio", Flac.fromPcm16(delayed(content, isCopy, 0), Rate), audioMeta)

  /** A 2 s, 32-segment WAV melody; the copy plays it at 1.1× by
    * nearest-neighbour resampling (sample j reads round(j · 1.1)), so
    * pitch and tempo scale together, the speed-adjusted re-upload. */
  def resampledWav(content: Long, isCopy: Boolean): Payload = {
    val pcm = melody(content, 2 * Rate, 32)
    if (!isCopy) ("audio", wav(pcm), audioMeta) else {
      val nIn = pcm.length / 2
      val out = new Array[Byte]((nIn / 1.1).toInt * 2)
      for (j <- 0 until out.length / 2) {
        val src = math.min(nIn - 1, math.round(j * 1.1).toInt)
        out(2 * j) = pcm(2 * src)
        out(2 * j + 1) = pcm(2 * src + 1)
      }
      ("audio", wav(out), audioMeta)
    }
  }

  // ---- shared payload helpers -------------------------------------

  /** Width and height of a content's image or clip. */
  private def clipSize(content: Long): (Int, Int) =
    (64 + (content % 4).toInt * 16, 64 + (content % 3).toInt * 16)

  /** `n` frames of the content's pixel pattern (a gradient with
    * content-keyed stripes, moving per frame), row-major RGB. */
  private[graft] def frames(content: Long, w: Int, h: Int,
                            n: Int): Seq[Array[Int]] =
    (0 until n).map { f =>
      val px = new Array[Int](w * h)
      for (x <- 0 until w; y <- 0 until h) {
        val r = ((content * 31 + f * 23 + x * 7 + y * 13) % 256).toInt
        val g = ((content * 17 + f * 5 + x * 3 + y) % 256).toInt
        val b = ((content + f * 11 + x + y * 11) % 256).toInt
        px(y * w + x) = (r << 16) | (g << 8) | b
      }
      px
    }

  /** A content's `n`-frame clip, behind a 3-frame intro (the pattern of
    * content `5000 + c`) when `intro`; `enc` gets the parts in order. */
  private def clip(content: Long, n: Int, intro: Boolean)(
      enc: (Int, Int, Seq[Seq[Array[Int]]]) => Array[Byte]): Payload = {
    val (w, h) = clipSize(content)
    val body = frames(content, w, h, n)
    val parts =
      if (intro) Seq(frames(5000L + content, w, h, 3), body) else Seq(body)
    ("video", enc(w, h, parts), MediaMeta(w, h, 0, parts.map(_.size).sum))
  }

  /** The frames as back-to-back ImageIO files of `format`. */
  private def images(px: Seq[Array[Int]], w: Int, h: Int,
                     format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    px.foreach { p =>
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(0, 0, w, h, p, 0, w)
      javax.imageio.ImageIO.write(img, format, out)
    }
    out.toByteArray
  }

  /** MJPEG frames are independent JPEGs, so parts concatenate. */
  private def mjpegParts(w: Int, h: Int, parts: Seq[Seq[Array[Int]]]) =
    images(parts.flatten, w, h, "jpg")

  /** One all-I_PCM Annex-B stream per part, concatenated. */
  private def h264Parts(w: Int, h: Int, parts: Seq[Seq[Array[Int]]]) =
    parts.map(H264.encode(w, h, _)).reduce(_ ++ _)

  private def encode(shape: Mp4Shape, w: Int, h: Int,
                     px: Seq[Array[Int]]): Array[Byte] = {
    import Mp4Shape._
    def p(transform8x8: Boolean = false, weighted: Boolean = false) =
      H264.encodeCavlcP(w, h, px, qp = 26, deblock = true,
        forcedMv = Seq((5, 2), (-3, 1), (2, -2), (7, 3)),
        partitionCycle = true, intraEvery = 7,
        transform8x8 = transform8x8, scalingMatrix = transform8x8,
        weighted = weighted)._1
    def b(temporalWeighted: Boolean) =
      H264.encodeCavlcB(w, h, px, qp = 26, bBetween = 2, deblock = true,
        forcedMv = Seq((5, 2), (-3, 1), (2, -2)),
        partitionCycle = true, intraEvery = 7, refsEachWay = 2,
        directTemporal = temporalWeighted,
        weightedBi = temporalWeighted)._1
    shape match {
      case Intra => H264.encodeCavlc(w, h, px, qp = 26)._1
      case Cabac => H264.encodeCabac(w, h, px, qp = 26)._1
      case CabacDeblock => H264.encodeCabac(w, h, px, qp = 26,
        deblock = true)._1
      case High8x8 => H264.encodeCavlc(w, h, px, qp = 26, deblock = true,
        transform8x8 = true, scalingMatrix = true)._1
      case PSlice => p()
      case PSlice8x8 => p(transform8x8 = true)
      case PSliceWeighted => p(weighted = true)
      case BSlice => b(temporalWeighted = false)
      case BSliceTemporalWeighted => b(temporalWeighted = true)
      case Mixed => H264.insertInterFiller(
        H264.encodeCabac(w, h, px, qp = 26)._1, 3)
    }
  }

  /** 16-bit mono little-endian PCM at 16 kHz → a WAV file. */
  private def wav(pcm: Array[Byte]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(Rate.toFloat, 16, 1,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, pcm.length / 2L)
    val out = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** 16-bit PCM of `n` samples in `segs` equal segments: segment s is a
    * sine of `freq(s)` Hz at amplitude `amp` over offset `dc`, its
    * phase restarting at the segment's start. */
  private def tonePcm(n: Int, segs: Int, amp: Double, dc: Double = 0.0)(
      freq: Int => Double): Array[Byte] = {
    val perSeg = n / segs
    val pcm = new Array[Byte](n * 2)
    for (s <- 0 until segs) {
      val f = freq(s)
      for (i <- 0 until perSeg) {
        val k = s * perSeg + i
        val v = ((dc + math.sin(2 * math.Pi * f * i / Rate) * amp)
          * 32767).toInt
        pcm(2 * k) = (v & 0xFF).toByte
        pcm(2 * k + 1) = ((v >> 8) & 0xFF).toByte
      }
    }
    pcm
  }

  /** 1 s in 64 segments, each one of 12 tones picked by a
    * content-seeded mix: a coarse melody the ZCR profile reads back. */
  private def tones(content: Long): Array[Byte] =
    tonePcm(Rate, 64, 0.6) { s =>
      val mix = content * 1315423911L + s * 2654435761L
      300.0 + math.floorMod(mix ^ (mix >>> 17), 12L) * 90.0
    }

  /** `n` samples in `segs` segments of 128 tone steps: fine enough that
    * two contents almost never put the same spectral peak in the same
    * segment, so chance constellation agreement stays near zero. The
    * 2 s, 32-segment form spans ~4 STFT frames a segment, sparse enough
    * for the ratio hashes' gap ratios to carry signal. */
  private def melody(content: Long, n: Int, segs: Int): Array[Byte] =
    tonePcm(n, segs, 0.6) { s =>
      val mix = content * 2246822519L + s * 3266489917L
      300.0 + math.floorMod(mix ^ (mix >>> 15), 128L) * 18.0
    }

  private def delayed(content: Long, isCopy: Boolean,
                      noiseLsb: Int): Array[Byte] = {
    val pcm = melody(content, Rate, 64)
    if (!isCopy) pcm else {
      var state = content * 6364136223846793005L + 1442695040888963407L
      for (i <- 0 until pcm.length - 1 by 2 if noiseLsb > 0) {
        state = state * 6364136223846793005L + 1442695040888963407L
        val noise =
          ((state >>> 33) % (2L * noiseLsb + 1)).toInt - noiseLsb
        val v = math.max(-32768, math.min(32767,
          (((pcm(i) & 0xFF) | (pcm(i + 1) << 8)).toShort: Int) + noise))
        pcm(i) = (v & 0xFF).toByte
        pcm(i + 1) = ((v >> 8) & 0xFF).toByte
      }
      new Array[Byte](4096 * 2) ++ pcm
    }
  }
}
