package graft

import graft.multimodal.{FrameDecoder, H264, MediaCorpus, MediaMeta, MediaRow,
  Multimodal}

/**
 * The partial H.264 path: bit I/O, emulation prevention, SPS/PPS and
 * slice parsing, I_PCM frame assembly, cropping, the Auto sniffing
 * dispatch, and the planted-duplicate fixture margins the
 * q_video_fp_dedup_h264 oracle rests on.
 */
class H264Spec extends SparkSpec {

  test("Exp-Golomb writer/reader round-trip ue and se") {
    val w = new H264.BitWriter()
    val ues = Seq(0, 1, 2, 3, 7, 8, 254, 255, 256, 65535)
    val ses = Seq(0, 1, -1, 2, -2, 31, -31, 4096, -4096)
    ues.foreach(w.ue)
    ses.foreach(w.se)
    w.trailingBits()
    val r = new H264.BitReader(w.toBytes)
    ues.foreach(v => assert(r.ue() == v))
    ses.foreach(v => assert(r.se() == v))
  }

  test("bit I/O surface: alignment, byte reads, remaining-data accounting") {
    val w = new H264.BitWriter()
    w.u(5, 3)      // 101
    w.alignZero()  // pad to byte: 10100000
    w.u(0xAB, 8)
    w.ue(3)        // 00100 → not byte aligned
    w.trailingBits()
    val r = new H264.BitReader(w.toBytes)
    assert(r.u(3) == 5)
    assert(!r.byteAligned)
    r.alignToByte() // the five pcm_alignment_zero_bits
    assert(r.byteAligned)
    assert(r.readByte() == 0xAB)
    assert(r.moreRbspData) // ue(3) still ahead of the stop bit
    assert(r.ue() == 3)
    assert(!r.moreRbspData) // only rbsp_trailing_bits remain
    assert(r.bitsLeft > 0 && r.bitsLeft <= 8)
  }

  test("parseSps/parsePps read back exactly what the encoder wrote") {
    // 70x52 display: 5x4 macroblocks with 5px right / 6px... (crop
    // units are 2px) — encode 70x52 → wMbs 5 (80px, cropR 5) hits the
    // odd-crop guard, so use 72x52: wMbs 5 → cropR (80-72)/2 = 4,
    // hMbs 4 → cropB (64-52)/2 = 6
    val stream = H264.encode(72, 52, Seq(new Array[Int](72 * 52)))
    val nals = H264.nalUnits(stream)
    val sps = H264.parseSps(H264.ebspToRbsp(nals(0), 1))
    assert(sps.profileIdc == 66 && sps.levelIdc == 40)
    assert(sps.widthMbs == 5 && sps.heightMbs == 4)
    assert((sps.cropL, sps.cropR, sps.cropT, sps.cropB) == ((0, 4, 0, 6)))
    assert(sps.width == 72 && sps.height == 52)
    assert(sps.pocType == 2 && sps.frameMbsOnly)
    val pps = H264.parsePps(H264.ebspToRbsp(nals(1), 1))
    assert(pps.id == 0 && pps.spsId == sps.id)
    assert(!pps.cabac && !pps.deblockingControl && !pps.redundantPicCnt)
  }

  test("pocType-1 stream with explicit delta_pic_order_cnt decodes (§7.3.3)") {
    // hand-written SPS: pic_order_cnt_type 1 with
    // delta_pic_order_always_zero_flag = 0 — the slice header then
    // carries se(v) delta_pic_order_cnt[0], which a parser that only
    // handles pocType 0 mis-skips, corrupting every later field
    def nal(refIdc: Int, typ: Int, rbsp: Array[Byte]): Array[Byte] =
      Array[Byte](0, 0, 0, 1, ((refIdc << 5) | typ).toByte) ++
        H264.rbspToEbsp(rbsp)
    val sps = { val w = new H264.BitWriter()
      w.u(66, 8); w.u(0, 8); w.u(40, 8) // baseline, level 4.0
      w.ue(0)    // sps id
      w.ue(0)    // log2_max_frame_num_minus4
      w.ue(1)    // pic_order_cnt_type 1
      w.u(0, 1)  // delta_pic_order_always_zero_flag = 0
      w.se(0); w.se(0) // offsets
      w.ue(0)    // num_ref_frames_in_pic_order_cnt_cycle
      w.ue(0)    // max_num_ref_frames
      w.u(0, 1)  // gaps flag
      w.ue(0); w.ue(0) // 1x1 macroblocks (16x16)
      w.u(1, 1)  // frame_mbs_only
      w.u(1, 1)  // direct_8x8_inference
      w.u(0, 1)  // no crop
      w.u(0, 1)  // no vui
      w.trailingBits(); w.toBytes }
    val pps = { val w = new H264.BitWriter()
      w.ue(0); w.ue(0) // pps id, sps id
      w.u(0, 1) // CAVLC
      w.u(0, 1) // bottom_field_pic_order_in_frame_present
      w.ue(0)   // one slice group
      w.ue(0); w.ue(0) // ref idx defaults
      w.u(0, 1); w.u(0, 2) // weighted pred
      w.se(0); w.se(0); w.se(0) // qp/qs/chroma offsets
      w.u(0, 1); w.u(0, 1); w.u(0, 1) // deblock/constrained/redundant
      w.trailingBits(); w.toBytes }
    val slice = { val w = new H264.BitWriter()
      w.ue(0)   // first_mb_in_slice
      w.ue(7)   // slice_type I
      w.ue(0)   // pps id
      w.u(0, 4) // frame_num
      w.ue(0)   // idr_pic_id
      w.se(2)   // delta_pic_order_cnt[0] — the field under test
      w.u(0, 1); w.u(0, 1) // dec_ref_pic_marking (IDR)
      w.se(0)   // slice_qp_delta
      w.ue(25)  // mb_type I_PCM
      w.alignZero()
      (0 until 256).foreach(_ => w.u(128, 8)) // Y
      (0 until 128).foreach(_ => w.u(128, 8)) // Cb, Cr
      w.trailingBits(); w.toBytes }
    val stream = nal(3, 7, sps) ++ nal(3, 8, pps) ++ nal(3, 5, slice)
    val frames = H264.decodeFrames(stream)
    assert(frames.length == 1)
    val (w0, h0, px) = frames(0)
    assert(w0 == 16 && h0 == 16)
    assert(px.forall(_ == 0x808080)) // Y=Cb=Cr=128 is mid gray
  }

  test("rgbToYuv: primaries land on the BT.601 full-range values") {
    assert(H264.rgbToYuv(0x000000) == ((0, 128, 128)))
    assert(H264.rgbToYuv(0xFFFFFF) == ((255, 128, 128)))
    val (yR, cbR, crR) = H264.rgbToYuv(0xFF0000)
    assert(yR == 76 && cbR == 85 && crR == 255)
    val (yG, _, _) = H264.rgbToYuv(0x00FF00)
    assert(yG == 150)
  }

  test("emulation prevention: adversarial zero runs round-trip, EPBs " +
      "are actually inserted") {
    val payloads = Seq[Array[Byte]](
      Array(0, 0, 0), Array(0, 0, 1), Array(0, 0, 2), Array(0, 0, 3),
      Array.fill(64)(0.toByte),
      Array(1, 0, 0, 0, 0, 1, 0, 0, 3, 3, 0, 0, 0, 2).map(_.toByte))
    payloads.foreach { p =>
      val ebsp = H264.rbspToEbsp(p)
      assert(H264.ebspToRbsp(Array(0.toByte) ++ ebsp, 1).toSeq == p.toSeq)
    }
    // 00 00 01 would be a start code inside the NAL without the EPB
    val ebsp = H264.rbspToEbsp(Array[Byte](0, 0, 1))
    assert(ebsp.toSeq == Seq[Byte](0, 0, 3, 1))
  }

  test("nalUnits: 3- and 4-byte start codes, leading garbage, " +
      "trailing zeros") {
    val a = Array[Byte](9, 9) ++ // garbage
      Array[Byte](0, 0, 1, 0x67, 1, 2) ++
      Array[Byte](0, 0, 0, 1, 0x68, 3) ++
      Array[Byte](0, 0) // trailing zeros
    val nals = H264.nalUnits(a)
    assert(nals.map(_.toSeq) ==
      Seq(Seq[Byte](0x67, 1, 2), Seq[Byte](0x68, 3)))
  }

  test("gray frames round-trip PIXEL-EXACT through encode→decode " +
      "(Cb=Cr=128 ⇒ no chroma rounding), including PCM bytes 0x00-0x03" +
      " that force emulation prevention") {
    val w = 48; val h = 32
    // every gray value 0..255 appears, incl. long runs of 0 and 1
    val frames = (0 until 3).map { f =>
      Array.tabulate(w * h) { i =>
        val v = if (i < 64) f % 4 else (i * 7 + f * 31) % 256
        (v << 16) | (v << 8) | v
      }
    }
    val bytes = H264.encode(w, h, frames)
    val got = H264.decodeFrames(bytes)
    assert(got.length == 3)
    got.zip(frames).foreach { case ((gw, gh, px), want) =>
      assert(gw == w && gh == h)
      assert(px.toSeq == want.toSeq)
    }
  }

  test("SPS cropping: non-MB-multiple dims decode to the display size") {
    val w = 72; val h = 40 // 5×3 MBs (80×48), cropR=4, cropB=4 units
    val frame = Array.tabulate(w * h)(i => { val v = i % 256
      (v << 16) | (v << 8) | v })
    val got = H264.decodeFrames(H264.encode(w, h, Seq(frame)))
    assert(got.length == 1)
    assert(got.head._1 == w && got.head._2 == h)
    assert(got.head._3.toSeq == frame.toSeq)
  }

  test("color frames: deterministic, dims preserved, luma preserved " +
      "within chroma-rounding tolerance") {
    val a = H264.encode(64, 64, MediaCorpus.frames(7L, 64, 64, 2))
    val b = H264.encode(64, 64, MediaCorpus.frames(7L, 64, 64, 2))
    assert(a.toSeq == b.toSeq) // byte-identical copies by construction
    val got = H264.decodeFrames(a)
    assert(got.length == 2)
    assert(got.head._1 == 64 && got.head._2 == 64)
    // different content → different payload bytes
    val c = H264.encode(64, 64, MediaCorpus.frames(8L, 64, 64, 2))
    assert(a.toSeq != c.toSeq)
  }

  test("looksLikeAnnexB sniffs H.264 but not JPEG/PNG/empty") {
    val h264 = H264.encode(64, 64, MediaCorpus.frames(1L, 64, 64, 1))
    assert(H264.looksLikeAnnexB(h264))
    assert(!H264.looksLikeAnnexB(Array[Byte](0xFF.toByte, 0xD8.toByte)))
    assert(!H264.looksLikeAnnexB(
      Array[Byte](0x89.toByte, 'P', 'N', 'G')))
    assert(!H264.looksLikeAnnexB(Array.emptyByteArray))
  }

  test("FrameDecoder.Auto routes H.264 payloads to the I_PCM decoder " +
      "and MJPEG payloads to the splitter; a mixed corpus fingerprints " +
      "every row") {
    import spark.implicits._
    val h264Frames =
      FrameDecoder.Auto.frames(
        H264.encode(64, 64, MediaCorpus.frames(3L, 64, 64, 5)))
    assert(h264Frames.length == 5)
    // each frame payload is a decodable image (the SPI contract)
    assert(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(h264Frames(2))) != null)
    val mixed = MediaCorpus.planted(spark, 4, 1)(MediaCorpus.mjpeg)
      .union(MediaCorpus.planted(spark, 4, 1)(MediaCorpus.h264)
        .map(r => r.copy(media_id = r.media_id + 100)))
    val hashes = Multimodal.videoHashes(mixed).collect()
    assert(hashes.length == 8)
  }

  test("truncated/corrupt H.264 degrades (skip), not throws, through " +
      "videoHashes") {
    import spark.implicits._
    val good = H264.encode(64, 64, MediaCorpus.frames(1L, 64, 64, 3))
    val bad = good.take(good.length / 3) // truncated mid-slice
    val ds = spark.createDataset(Seq(
      MediaRow(0L, "video", good, MediaMeta(64, 64, 0, 3)),
      MediaRow(1L, "video", bad, MediaMeta(64, 64, 0, 3))))
    val got = Multimodal.videoHashes(ds).collect().map(_.getLong(0))
    assert(got.toSeq == Seq(0L))
  }

  test("out-of-range mb_type fails with a NAMED error (the external-" +
      "binding boundary), not garbage output") {
    // craft a slice whose first mb_type ue is 26 — not an intra type
    // (0 = I_NxN, 1..24 = I_16x16, 25 = I_PCM); the parser must
    // reject it by name rather than emit garbage. (mb_type 0, the old
    // boundary, is now a DECODED type — CavlcSpec covers it.)
    val real = H264.encode(16, 16, MediaCorpus.frames(1L, 16, 16, 1))
    val nals = H264.nalUnits(real)
    val w = new H264.BitWriter()
    w.ue(0); w.ue(7); w.ue(0); w.u(0, 4); w.ue(0); w.u(0, 1)
    w.u(0, 1); w.se(0)
    w.ue(26) // mb_type 26: beyond the I-slice table
    w.trailingBits()
    val crafted = nals.takeWhile(n => (n(0) & 0x1F) != 5)
    val stream = crafted.flatMap(n =>
      Array[Byte](0, 0, 0, 1) ++ n).toArray ++
      (Array[Byte](0, 0, 0, 1, 0x65) ++ H264.rbspToEbsp(w.toBytes))
    val e = intercept[IllegalArgumentException] {
      H264.decodeFrames(stream)
    }
    assert(e.getMessage.contains("intra"), e.getMessage)
  }

  // ---- mixed I/P/B streams: since the inter round the P_Skip
  // filler pictures DECODE (motion compensation) as exact copies ----

  test("mixed I/P/B streams decode WHOLE: P_Skip filler pictures " +
      "come back as exact copies of their IDR reference (both " +
      "coders, multi-slice, MP4)") {
    import graft.multimodal.Mp4
    val frames = Seq(
      Array.tabulate(64 * 48)(i => (i * 31) & 0xFFFFFF),
      Array.tabulate(64 * 48)(i => (i * 97 + 5) & 0xFFFFFF))
    // CAVLC, single-slice: [I0, P,P,P, I1, P,P,P] — every picture
    // decodes; each filler equals the IDR it references exactly
    // (P_Skip, zero MV, no residual, bS 0 under the filter)
    val (cavlc, rv) = H264.encodeCavlc(64, 48, frames, qp = 26)
    val mixed = H264.insertInterFiller(cavlc, perGap = 3)
    val dec = H264.decodeFrames(mixed)
    assert(dec.size == 8, s"2 IDRs + 6 fillers, got ${dec.size}")
    dec.zipWithIndex.foreach { case ((w, h, p), i) =>
      val (rw, rh, rp) = rv(i / 4) // 0..3 → IDR0, 4..7 → IDR1
      assert(w == rw && h == rh && p.toSeq == rp.toSeq, s"picture $i")
    }
    // the filler genuinely adds inter pictures to the stream
    assert(H264.nalUnits(mixed).count(n => (n(0) & 0x1F) == 1) == 6)
    // CABAC base + multi-slice IDRs + deblock: filler rides a second
    // CAVLC PPS while the IDRs stay CABAC — per-picture PPS switching
    val (cabac, rc) = H264.encodeCabac(64, 48, frames, qp = 30,
      mbRowsPerSlice = 1, deblock = true)
    val mixedC = H264.insertInterFiller(cabac, perGap = 2)
    val decC = H264.decodeFrames(mixedC)
    assert(decC.size == 6)
    decC.zipWithIndex.foreach { case ((_, _, p), i) =>
      assert(p.toSeq == rc(i / 3)._3.toSeq, s"picture $i")
    }
    // and through the MP4 container (each filler picture = one sample)
    val mp4 = Mp4.fromAnnexB(mixedC, 64, 48)
    val decM = H264.decodeFrames(Mp4.demuxToAnnexB(mp4))
    assert(decM.map(_._3.toSeq) == decC.map(_._3.toSeq))
  }

  test("a stream with NO decodable I picture throws a NAMED error; " +
      "videoHashes degrades it to a skip") {
    val frames = Seq(Array.tabulate(32 * 32)(i => (i * 13) & 0xFFFFFF))
    val mixed = H264.insertInterFiller(
      H264.encodeCavlc(32, 32, frames, qp = 26)._1, perGap = 2)
    // drop the IDR slices, keep SPS/PPS/P-fillers
    val out = new java.io.ByteArrayOutputStream()
    H264.nalUnits(mixed).foreach { n =>
      if ((n(0) & 0x1F) != 5) {
        out.write(Array[Byte](0, 0, 0, 1)); out.write(n)
      }
    }
    val pOnly = out.toByteArray
    val e = intercept[IllegalArgumentException] {
      H264.decodeFrames(pOnly)
    }
    assert(e.getMessage.contains("no decodable picture"),
      e.getMessage)
    // degrade-don't-fail: the corpus row is skipped, not fatal
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, "video", pOnly, MediaMeta(32, 32, 0, 2)),
      MediaRow(2L, "video", mixed, MediaMeta(32, 32, 0, 1))).toDS()
    val hashed = Multimodal.videoHashes(rows)
    assert(hashed.select("media_id").as[Long].collect().toSet ==
      Set(2L))
  }

  test("insertInterFiller emits a conformant filler shape: non-ref " +
      "P slices under a dedicated CAVLC PPS id 1, SPS max refs bumped") {
    val frames = Seq(Array.tabulate(32 * 32)(i => (i * 7) & 0xFFFFFF))
    val base = H264.encodeCabac(32, 32, frames, qp = 26)._1
    val mixed = H264.insertInterFiller(base, perGap = 2)
    val nals = H264.nalUnits(mixed)
    val ppss = nals.filter(n => (n(0) & 0x1F) == 8)
      .map(n => H264.parsePps(H264.ebspToRbsp(n, 1)))
    assert(ppss.map(_.id).toSet == Set(0, 1))
    assert(ppss.find(_.id == 0).get.cabac, "base PPS stays CABAC")
    assert(!ppss.find(_.id == 1).get.cabac, "filler PPS is CAVLC")
    nals.filter(n => (n(0) & 0x1F) == 1).foreach { n =>
      assert(((n(0) & 0xFF) >>> 5) == 0, "filler must be non-reference")
      val r = new H264.BitReader(H264.ebspToRbsp(n, 1))
      assert(r.ue() == 0)     // first_mb_in_slice
      assert(r.ue() == 5)     // slice_type P (all-P picture form)
      assert(r.ue() == 1)     // pic_parameter_set_id = the filler PPS
    }
    // PPS id 1 already taken → named refusal, no silent collision
    val withPps1 = {
      val out = new java.io.ByteArrayOutputStream()
      H264.nalUnits(mixed).foreach { n =>
        out.write(Array[Byte](0, 0, 0, 1)); out.write(n)
      }
      out.toByteArray
    }
    intercept[IllegalArgumentException] {
      H264.insertInterFiller(withPps1, 1)
    }
  }

  test("fixture margin for the q_video_fp_dedup_h264 oracle: planted " +
      "copies at Hamming 0, distinct contents > 8 bits apart") {
    val corpus = MediaCorpus.planted(spark, nContents = 30,
      copies = 3)(MediaCorpus.h264)
    val hashes = Multimodal.videoHashes(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes.size == 90)
    (0 until 30).foreach { c =>
      assert(hashes(c.toLong) == hashes(c + 30L))
      assert(hashes(c.toLong) == hashes(c + 60L))
    }
    val distinct = (0 until 30).map(c => hashes(c.toLong))
    for (i <- distinct.indices; j <- distinct.indices if i < j) {
      val ham = java.lang.Long.bitCount(distinct(i) ^ distinct(j))
      assert(ham > 8, s"contents $i/$j only $ham bits apart")
    }
  }

  test("unsupported ref-pic marking skips the PICTURE, not the " +
      "stream (§7.3.3.3 degrade contract)") {
    def nal(refIdc: Int, typ: Int, rbsp: Array[Byte]): Array[Byte] =
      Array[Byte](0, 0, 0, 1, ((refIdc << 5) | typ).toByte) ++
        H264.rbspToEbsp(rbsp)
    // pocType 2 SPS: no poc fields in the slice header, 16x16 frame
    val sps = { val w = new H264.BitWriter()
      w.u(66, 8); w.u(0, 8); w.u(40, 8)
      w.ue(0)    // sps id
      w.ue(0)    // log2_max_frame_num_minus4
      w.ue(2)    // pic_order_cnt_type 2
      w.ue(1)    // max_num_ref_frames
      w.u(0, 1)  // gaps flag
      w.ue(0); w.ue(0) // 1x1 macroblocks
      w.u(1, 1)  // frame_mbs_only
      w.u(1, 1)  // direct_8x8_inference
      w.u(0, 1)  // no crop
      w.u(0, 1)  // no vui
      w.trailingBits(); w.toBytes }
    val pps = { val w = new H264.BitWriter()
      w.ue(0); w.ue(0) // pps id, sps id
      w.u(0, 1) // CAVLC
      w.u(0, 1) // bottom_field_pic_order_in_frame_present
      w.ue(0)   // one slice group
      w.ue(0); w.ue(0) // ref idx defaults
      w.u(0, 1); w.u(0, 2) // weighted pred
      w.se(0); w.se(0); w.se(0) // qp/qs/chroma offsets
      w.u(0, 1); w.u(0, 1); w.u(0, 1) // deblock/constrained/redundant
      w.trailingBits(); w.toBytes }
    def iPcmSlice(idr: Boolean, idrId: Int, frameNum: Int,
                  ltOrMmcoFlag: Int, lum: Int): Array[Byte] = {
      val w = new H264.BitWriter()
      w.ue(0)   // first_mb_in_slice
      w.ue(7)   // slice_type I
      w.ue(0)   // pps id
      w.u(frameNum, 4)
      if (idr) { w.ue(idrId); w.u(0, 1); w.u(ltOrMmcoFlag, 1) }
      else w.u(ltOrMmcoFlag, 1) // adaptive_ref_pic_marking_mode_flag
      w.se(0)   // slice_qp_delta
      w.ue(25)  // mb_type I_PCM
      w.alignZero()
      (0 until 256).foreach(_ => w.u(lum, 8))
      (0 until 128).foreach(_ => w.u(128, 8))
      w.trailingBits(); w.toBytes }
    // case 1: IDR marks itself long-term → that picture skipped,
    // the NEXT IDR still decodes (stream survives)
    val s1 = nal(3, 7, sps) ++ nal(3, 8, pps) ++
      nal(3, 5, iPcmSlice(idr = true, 0, 0, ltOrMmcoFlag = 1, 50)) ++
      nal(3, 5, iPcmSlice(idr = true, 1, 0, ltOrMmcoFlag = 0, 200))
    val f1 = H264.decodeFrames(s1)
    assert(f1.length == 1)
    assert((f1.head._3(0) >> 16 & 0xFF) > 150, "surviving IDR is the bright one")
    // case 2: non-IDR reference picture with MMCO → skipped, the
    // preceding IDR's frame still comes out
    val s2 = nal(3, 7, sps) ++ nal(3, 8, pps) ++
      nal(3, 5, iPcmSlice(idr = true, 0, 0, ltOrMmcoFlag = 0, 50)) ++
      nal(2, 1, iPcmSlice(idr = false, 0, 1, ltOrMmcoFlag = 1, 200))
    val f2 = H264.decodeFrames(s2)
    assert(f2.length == 1)
    assert((f2.head._3(0) >> 16 & 0xFF) < 150, "surviving picture is the IDR")
  }
}
