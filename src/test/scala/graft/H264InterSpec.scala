package graft

import graft.multimodal.{H264, H264Inter, H264Mb}

/**
 * P-slice inter prediction (round 16+): §8.4.2.2 fractional-sample
 * interpolation against hand-derived golden vectors (the arithmetic
 * is worked digit by digit in the comments — a transcription error
 * that cancels in round-trips still fails here), §8.4.1.3 MV
 * prediction rules, §8.4.1.1 P_Skip motion, and encode↔decode
 * display-exactness of the IPPP fixture encoder across partition
 * shapes, fractional positions, multi-ref, intra-in-P, deblocking
 * and GOP structure.
 */
class H264InterSpec extends SparkSpec {

  // ---------------------------------------------------------------
  // §8.4.2.2.1 luma interpolation — hand-derived golden vectors
  // ---------------------------------------------------------------

  test("luma half-pel (2,0): 6-tap over a 1-row ramp, worked by hand") {
    // row: [3, 9, 27, 81, 243, 99, 33, 11]; refH = 1, so vertical
    // clamping never engages for the horizontal-only cases.
    val row = Array[Byte](3, 9, 27, 81, 243.toByte, 99, 33, 11)
    val out = new Array[Int](256)
    // position G = col 2; b = tap6(3,9,27,81,243,99)
    //   = 3 - 45 + 540 + 1620 - 1215 + 99 = 1002
    //   → (1002 + 16) >> 5 = 1018 >> 5 = 31
    H264Inter.predLuma(row, 8, 1, 2, 0, 2, 0, 1, 1, out, 0, 0)
    assert(out(0) == 31)
    // quarter a (1,0) = (G + b + 1) >> 1 = (27 + 31 + 1) >> 1 = 29
    H264Inter.predLuma(row, 8, 1, 2, 0, 1, 0, 1, 1, out, 0, 0)
    assert(out(0) == 29)
    // quarter c (3,0) = (H + b + 1) >> 1 = (81 + 31 + 1) >> 1 = 56
    H264Inter.predLuma(row, 8, 1, 2, 0, 3, 0, 1, 1, out, 0, 0)
    assert(out(0) == 56)
    // integer (0,0) = G = 27; and a negative full-pel MV lands on E
    H264Inter.predLuma(row, 8, 1, 2, 0, 0, 0, 1, 1, out, 0, 0)
    assert(out(0) == 27)
    H264Inter.predLuma(row, 8, 1, 2, 0, -8, 0, 1, 1, out, 0, 0)
    assert(out(0) == 3) // mv −8 = −2 full pels → col 0
  }

  test("luma vertical / center / diagonal quarters on a separable " +
      "grid, worked by hand") {
    // v(x, y) = a(x)·a(y), a = [0,1,2,3,2,1]; tap6(a) = 0 − 5 + 40 +
    // 60 − 10 + 1 = 86. At (x0,y0) = (2,2) no clamping engages.
    val a = Array(0, 1, 2, 3, 2, 1)
    val ref = new Array[Byte](36)
    for (y <- 0 until 6; x <- 0 until 6)
      ref(y * 6 + x) = (a(x) * a(y)).toByte
    val out = new Array[Int](256)
    def at(mvx: Int, mvy: Int): Int = {
      H264Inter.predLuma(ref, 6, 6, 2, 2, mvx, mvy, 1, 1, out, 0, 0)
      out(0)
    }
    // h (0,2): vertical tap at col 2 = a(2)·tap6(a) = 2·86 = 172
    //   → (172 + 16) >> 5 = 188 >> 5 = 5
    assert(at(0, 2) == 5)
    // b (2,0): horizontal tap at row 2 = 2·86 = 172 → 5
    assert(at(2, 0) == 5)
    // j (2,2): j1 = tap6 over columns of the UNROUNDED vertical sums
    //   = tap6(a)·tap6(a) = 86·86 = 7396 → (7396 + 512) >> 10
    //   = 7908 >> 10 = 7
    assert(at(2, 2) == 7)
    // e (1,1) = (b + h + 1) >> 1 = (5 + 5 + 1) >> 1 = 5
    assert(at(1, 1) == 5)
    // f (2,1) = (b + j + 1) >> 1 = (5 + 7 + 1) >> 1 = 6
    assert(at(2, 1) == 6)
    // i (1,2) = (h + j + 1) >> 1 = 6; k (3,2) = (j + m + 1) >> 1 with
    //   m = vertical tap at col 3 = 3·86 = 258 → (258+16)>>5 = 8
    //   → k = (7 + 8 + 1) >> 1 = 8
    assert(at(1, 2) == 6)
    assert(at(3, 2) == 8)
    // d (0,1) = (G + h + 1) >> 1 = (4 + 5 + 1) >> 1 = 5 (G = a(2)²=4)
    assert(at(0, 1) == 5)
    // n (0,3) = (M + h + 1) >> 1, M = v(2,3) = 2·3 = 6 → (6+5+1)>>1 = 6
    assert(at(0, 3) == 6)
    // g (3,1) = (b + m + 1) >> 1 = (5 + 8 + 1) >> 1 = 7
    assert(at(3, 1) == 7)
    // s = horizontal tap at row 3 = 3·86 = 258 → 8;
    // p (1,3) = (h + s + 1) >> 1 = (5 + 8 + 1) >> 1 = 7
    // q (2,3) = (j + s + 1) >> 1 = (7 + 8 + 1) >> 1 = 8
    // r (3,3) = (m + s + 1) >> 1 = (8 + 8 + 1) >> 1 = 8
    assert(at(1, 3) == 7)
    assert(at(2, 3) == 8)
    assert(at(3, 3) == 8)
  }

  test("chroma eighth-pel bilinear (§8.4.2.2.2), worked by hand; " +
      "border clamping extends edge samples") {
    val ref = Array[Byte](10, 20, 30, 40) // 2x2
    val out = new Array[Int](64)
    // xFrac 3, yFrac 5 at (0,0): ((8−3)(8−5)·10 + 3(8−5)·20 +
    //   (8−3)·5·30 + 3·5·40 + 32) >> 6
    //   = (150 + 180 + 750 + 600 + 32) >> 6 = 1712 >> 6 = 26
    H264Inter.predChroma(ref, 2, 2, 0, 0, 3, 5, 1, 1, out, 0, 0)
    assert(out(0) == 26)
    // full-pel hit: (8,8) = one sample right+down = v(1,1) = 40
    H264Inter.predChroma(ref, 2, 2, 0, 0, 8, 8, 1, 1, out, 0, 0)
    assert(out(0) == 40)
    // far outside: clamps to the corner sample
    H264Inter.predChroma(ref, 2, 2, 0, 0, -64, -64, 1, 1, out, 0, 0)
    assert(out(0) == 10)
    H264Inter.predChroma(ref, 2, 2, 0, 0, 64, 64, 1, 1, out, 0, 0)
    assert(out(0) == 40)
  }

  // ---------------------------------------------------------------
  // §8.4.1.3 MV prediction rules
  // ---------------------------------------------------------------

  private def freshCtx(wMbs: Int, hMbs: Int)
      : (H264Mb.PicCtx, H264Inter.MotionCtx) = {
    val ctx = new H264Mb.PicCtx(wMbs, hMbs)
    java.util.Arrays.fill(ctx.sliceId, 0) // whole picture, slice 0
    (ctx, new H264Inter.MotionCtx(wMbs * 4, hMbs * 4))
  }

  private def plant(mo: H264Inter.MotionCtx, bx: Int, by: Int,
                    ref: Int, mx: Int, my: Int): Unit =
    mo.setPartition(bx, by, 1, 1, mx, my, ref, rPic = 100 + ref)

  test("mvPred: B and C unavailable → A; all unavailable → zero") {
    val (ctx, mo) = freshCtx(2, 1) // one MB row: no B/C/D ever
    // current partition = MB1's 16x16 at (4,0); A = (3,0) in MB0
    for (y <- 0 until 4) plant(mo, 3, y, 0, 12, 4)
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 0, 4, 0,
      H264Inter.PartNormal) == (12, 4))
    // A unavailable too (MB0 in another slice) → (0,0)
    ctx.sliceId(0) = 9
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 0, 4, 0,
      H264Inter.PartNormal) == (0, 0))
  }

  test("mvPred: component-wise median; exactly-one-refIdx-match " +
      "overrides it; D substitutes an unavailable C") {
    val (ctx, mo) = freshCtx(2, 2)
    // current = MB3's 16x16 at (4,4): A=(3,4) B=(4,3) C=(8,3)→out →
    // D=(3,3)
    plant(mo, 3, 4, 0, 1, 2)  // A
    plant(mo, 4, 3, 0, 3, 4)  // B
    plant(mo, 3, 3, 0, 5, 0)  // D (C substitute)
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.PartNormal) == (3, 2)) // med(1,3,5)=3, med(2,4,0)=2
    // exactly one neighbor shares refIdx 1 → its MV verbatim
    plant(mo, 4, 3, 1, 30, 40) // B now ref 1
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 1,
      H264Inter.PartNormal) == (30, 40))
    // intra neighbors are AVAILABLE but contribute ref −1 / mv 0:
    // with B on ref 1 and D intra, A is the ONLY refIdx-0 match
    mo.markIntraMb(0, 2) // D's MB intra
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.PartNormal) == (1, 2))
  }

  test("mvPred: 16x8/8x16 directional rules fire only on a ref match") {
    val (ctx, mo) = freshCtx(2, 2)
    plant(mo, 3, 4, 0, 1, 2)   // A of (4,4)
    plant(mo, 4, 3, 0, 3, 4)   // B
    plant(mo, 3, 3, 0, 5, 6)   // D
    // 16x8 top half: B matches ref 0 → B
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.Part16x8Top) == (3, 4))
    // 16x8 bottom (top-left block (4,6)): its A = (3,6) matches → A
    plant(mo, 3, 6, 0, 1, 2)
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 6, 4, 0,
      H264Inter.Part16x8Bottom) == (1, 2))
    // 8x16 left: A matches → A
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 2, 0,
      H264Inter.Part8x16Left) == (1, 2))
    // 8x16 right at (6,4): C = (8,3) out of picture → D = (5,3)
    plant(mo, 5, 3, 0, 7, 8)
    assert(H264Inter.mvPred(ctx, mo, 0, 6, 4, 2, 0,
      H264Inter.Part8x16Right) == (7, 8))
    // directional neighbor has the WRONG ref → falls through to the
    // general rules (B ref 1 vs current 0 below)
    plant(mo, 4, 3, 1, 3, 4)
    plant(mo, 5, 4, 0, 9, 9) // fills rest of A column for 16x8 top?
    val general = H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.PartNormal)
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.Part16x8Top) == general)
  }

  test("P_Skip motion (§8.4.1.1): zero on unavailable or " +
      "zero-motion-ref0 neighbors, else the 16x16 prediction") {
    val (ctx, mo) = freshCtx(2, 2)
    // MB3 at (4,4): A zero-motion ref0 → skip MV (0,0)
    plant(mo, 3, 4, 0, 0, 0)
    plant(mo, 4, 3, 0, 8, 8)
    plant(mo, 3, 3, 0, 8, 8)
    assert(H264Inter.skipMv(ctx, mo, 0, 4, 4) == (0, 0))
    // A moving, B moving, both ref0 → the median prediction
    plant(mo, 3, 4, 0, 8, 4)
    assert(H264Inter.skipMv(ctx, mo, 0, 4, 4) ==
      H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0, H264Inter.PartNormal))
    // B unavailable (top row) → (0,0) even with a moving A
    plant(mo, 3, 0, 0, 8, 4)
    assert(H264Inter.skipMv(ctx, mo, 0, 4, 0) == (0, 0))
  }

  // ---------------------------------------------------------------
  // encode ↔ decode display-exactness
  // ---------------------------------------------------------------

  private def gradFrames(n: Int, w: Int, h: Int,
                         seed: Int = 7): Seq[Array[Int]] =
    (0 until n).map { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = (x * 3 + y * 5 + f * 17 + seed) & 0xFF
        val g = (x * 7 ^ y * 2) + f * 9 & 0xFF
        val b = (x + y * 3 + f * 4 + seed * 3) & 0xFF
        (r << 16) | (g << 8) | b
      }
    }

  /** Frames with planted global motion: frame f is frame 0's pattern
    * sampled at a shifted origin (integer pixels), so inter
    * prediction genuinely pays off. */
  private def translatedFrames(n: Int, w: Int, h: Int, dx: Int,
                               dy: Int): Seq[Array[Int]] =
    (0 until n).map { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w + f * dx; val y = i / w + f * dy
        val r = (x * 3 + y * 5) & 0xFF
        val g = (x * 11 + y * 7) & 0xFF
        val b = (x * 2 + y * 13) & 0xFF
        (r << 16) | (g << 8) | b
      }
    }

  private def assertDecodesExact(bytes: Array[Byte],
                                 recon: Seq[(Int, Int, Array[Int])])
      : Unit = {
    val dec = H264.decodeFrames(bytes)
    assert(dec.size == recon.size,
      s"decoded ${dec.size} frames, encoder reconstructed ${recon.size}")
    dec.zip(recon).zipWithIndex.foreach {
      case (((w, h, px), (rw, rh, rpx)), i) =>
        assert(w == rw && h == rh, s"frame $i dims")
        assert(px.toSeq == rpx.toSeq, s"frame $i pixels differ")
    }
  }

  test("static scene: P pictures converge to all-P_Skip and then " +
      "decode as EXACT copies") {
    // frame 1 may legitimately code residual (it corrects the IDR's
    // quantization error against the source); after that one step the
    // remaining transform-domain error sits under the quantizer
    // deadzone, so every LATER P picture is pure P_Skip — an exact
    // copy of its reference
    val still = gradFrames(1, 48, 32).head
    val (bytes, recon) = H264.encodeCavlcP(48, 32,
      Seq(still, still, still, still), qp = 26)
    assertDecodesExact(bytes, recon)
    val dec = H264.decodeFrames(bytes)
    assert(dec(2)._3.toSeq == dec(1)._3.toSeq, "skip = exact copy")
    assert(dec(3)._3.toSeq == dec(1)._3.toSeq)
    // and the skips really are on the wire: the later P slices carry
    // ONLY a slice header + mb_skip_run (48x32 = 6 MBs → a few bytes)
    val pNals = H264.nalUnits(bytes).filter(n => (n(0) & 0x1F) == 1)
    assert(pNals.size == 3, pNals.size.toString)
    assert(pNals.drop(1).forall(_.length < 16),
      s"all-skip P slices should be tiny: ${pNals.map(_.length)}")
  }

  test("every fractional position (xFrac, yFrac) in 0..3 × 0..3 " +
      "round-trips display-exact under a forced global MV") {
    for (fy <- 0 until 4; fx <- 0 until 4) {
      val (bytes, recon) = H264.encodeCavlcP(48, 32,
        gradFrames(2, 48, 32, seed = fx * 4 + fy), qp = 24,
        forcedMv = Seq((4 + fx, -8 + fy)))
      assertDecodesExact(bytes, recon)
    }
  }

  test("integer-search motion on translating content round-trips; " +
      "P frames are much smaller than the IDR") {
    val frames = translatedFrames(4, 64, 48, dx = 2, dy = 1)
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 26,
      searchRange = 4)
    assertDecodesExact(bytes, recon)
    val nals = H264.nalUnits(bytes)
    val idr = nals.find(n => (n(0) & 0x1F) == 5).get
    val ps = nals.filter(n => (n(0) & 0x1F) == 1)
    assert(ps.nonEmpty && ps.forall(_.length < idr.length / 2),
      "motion compensation must beat intra coding on translation")
  }

  test("partition cycle: 16x16 / 16x8 / 8x16 / P_8x8 / P_8x8ref0 " +
      "with all sub_mb_types round-trip display-exact") {
    val frames = translatedFrames(3, 80, 48, dx = 1, dy = 2)
    val (bytes, recon) = H264.encodeCavlcP(80, 48, frames, qp = 27,
      searchRange = 3, partitionCycle = true)
    assertDecodesExact(bytes, recon)
  }

  test("intra MBs inside P slices (mb_type + 5) round-trip, " +
      "composed with the partition cycle") {
    val frames = gradFrames(3, 64, 48, seed = 3)
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 28,
      partitionCycle = true, intraEvery = 3)
    assertDecodesExact(bytes, recon)
  }

  test("two sliding-window reference frames: ref_idx te(v) coding " +
      "and FrameNumWrap list order round-trip") {
    val frames = translatedFrames(5, 48, 48, dx = 1, dy = 0)
    val (bytes, recon) = H264.encodeCavlcP(48, 48, frames, qp = 26,
      refFrames = 2, partitionCycle = true, searchRange = 2)
    assertDecodesExact(bytes, recon)
  }

  test("deblocking ON over P pictures: the full §8.7.2.1 bS " +
      "derivation (0/1/2 on inter edges) round-trips display-exact") {
    val frames = translatedFrames(4, 64, 48, dx = 2, dy = 2)
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 32,
      deblock = true, searchRange = 3, intraEvery = 5)
    assertDecodesExact(bytes, recon)
  }

  test("inter transform_8x8 (High profile): the 8x8/4x4 residual mix " +
      "round-trips display-exact, with and without deblocking") {
    val frames = translatedFrames(4, 64, 48, dx = 1, dy = 2)
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 27,
      searchRange = 3, partitionCycle = true, transform8x8 = true)
    assertDecodesExact(bytes, recon)
    // the 8x8 leg genuinely changes the wire vs the 4x4-only encode
    val (bytes4, _) = H264.encodeCavlcP(64, 48, frames, qp = 27,
      searchRange = 3, partitionCycle = true)
    assert(bytes.toSeq != bytes4.toSeq)
    // deblock composes: t8 MBs filter only 8x8-aligned luma edges
    // and the bS=2 test runs at 8x8 residual granularity
    val (bytesD, reconD) = H264.encodeCavlcP(64, 48, frames, qp = 30,
      searchRange = 2, partitionCycle = true, transform8x8 = true,
      deblock = true, intraEvery = 5)
    assertDecodesExact(bytesD, reconD)
  }

  test("inter scaling matrices: the DEFAULT inter lists (4x4 list 3-5, " +
      "8x8 list 1) weight the residual and round-trip display-exact") {
    val frames = translatedFrames(3, 64, 48, dx = 2, dy = 1)
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 28,
      searchRange = 2, scalingMatrix = true)
    assertDecodesExact(bytes, recon)
    // matrices genuinely change pixels vs flat quant
    val (_, reconF) = H264.encodeCavlcP(64, 48, frames, qp = 28,
      searchRange = 2)
    assert(recon.map(_._3.toSeq) != reconF.map(_._3.toSeq))
    // the full High-profile inter composition: 8x8 + matrices +
    // deblock + partition cycle + intra refresh
    val (bytesH, reconH) = H264.encodeCavlcP(64, 48, frames, qp = 30,
      searchRange = 2, partitionCycle = true, transform8x8 = true,
      scalingMatrix = true, deblock = true, intraEvery = 4)
    assertDecodesExact(bytesH, reconH)
  }

  test("explicit weighted prediction (§8.4.2.3.2): the formula, the " +
      "table round-trip, and display-exact decode of weighted fades") {
    // formula golden, worked by hand: w=3, o=−2, logWD=1 on pred 100:
    //   ((100·3 + 1) >> 1) − 2 = (301 >> 1) − 2 = 150 − 2 = 148
    val buf = Array.fill(16)(100)
    H264Inter.applyWeight(buf, 4, 0, 0, 4, 4, 3, -2, 1)
    assert(buf.forall(_ == 148))
    // logWD=0 path: pred·w + o, clipped: 100·3 − 2 = 298 → 255
    val buf0 = Array.fill(16)(100)
    H264Inter.applyWeight(buf0, 4, 0, 0, 4, 4, 3, -2, 0)
    assert(buf0.forall(_ == 255))
    // pred_weight_table write → parse round-trip (defaults + explicit)
    val pw = H264Inter.PredWeights(5, 6,
      Array(29, 32), Array(2, 0), Array(64, 61), Array(0, 0),
      Array(61, 64), Array(-1, 0))
    val w = new H264.BitWriter()
    H264Inter.writePredWeightTable(w, pw)
    w.trailingBits()
    val back = H264Inter.parsePredWeightTable(
      new H264.BitReader(w.toBytes), 2)
    assert(back.lumaDenom == 5 && back.chromaDenom == 6)
    assert(back.wY.toSeq == Seq(29, 32) && back.oY.toSeq == Seq(2, 0))
    assert(back.wCb.toSeq == Seq(64, 61) && back.oCr.toSeq ==
      Seq(-1, 0))
    // a fading scene coded WITH weights round-trips display-exact
    val base = gradFrames(1, 64, 48, seed = 9).head
    def fade(f: Double): Array[Int] = base.map { px =>
      def s(v: Int) = (v * f).toInt & 0xFF
      (s((px >> 16) & 0xFF) << 16) | (s((px >> 8) & 0xFF) << 8) |
        s(px & 0xFF)
    }
    val frames = Seq(fade(1.0), fade(0.91), fade(0.82), fade(0.74))
    val (bytes, recon) = H264.encodeCavlcP(64, 48, frames, qp = 28,
      weighted = true, searchRange = 2)
    assertDecodesExact(bytes, recon)
    // weighting genuinely changes the wire and helps the fade:
    // identical inputs WITHOUT weights produce different bytes
    val (bytesU, _) = H264.encodeCavlcP(64, 48, frames, qp = 28,
      searchRange = 2)
    assert(bytes.toSeq != bytesU.toSeq)
    // multi-ref weighted (distinct weights per refIdx through te +
    // the partition cycle), composed with deblocking
    val (bytesM, reconM) = H264.encodeCavlcP(64, 48, frames, qp = 30,
      weighted = true, refFrames = 2, partitionCycle = true,
      deblock = true, searchRange = 2)
    assertDecodesExact(bytesM, reconM)
  }

  test("GOP structure: IDR every 3 pictures re-anchors the DPB; " +
      "frame_num wraps across a long P chain") {
    val frames = gradFrames(7, 48, 32, seed = 11)
    val (bytes, recon) = H264.encodeCavlcP(48, 32, frames, qp = 30,
      gop = 3, forcedMv = Seq((5, 2), (-3, 1)))
    assertDecodesExact(bytes, recon)
    // 20 P frames on one IDR: frame_num runs 1..15 and wraps to 0
    val longF = gradFrames(21, 32, 32, seed = 2)
    val (b2, r2) = H264.encodeCavlcP(32, 32, longF, qp = 34,
      forcedMv = Seq((1, 1), (2, -1), (-2, 3), (7, 5)))
    assertDecodesExact(b2, r2)
  }

  test("P stream through the MP4 container decodes identically") {
    import graft.multimodal.Mp4
    val frames = translatedFrames(4, 64, 48, dx = 1, dy = 1)
    val (bytes, _) = H264.encodeCavlcP(64, 48, frames, qp = 26,
      searchRange = 2)
    val mp4 = Mp4.fromAnnexB(bytes, 64, 48)
    val a = H264.decodeFrames(bytes).map(_._3.toSeq)
    val b = H264.decodeFrames(Mp4.demuxToAnnexB(mp4)).map(_._3.toSeq)
    assert(a == b && a.size == 4)
  }

  // ---------------------------------------------------------------
  // named boundaries stay named; degradation stays graceful
  // ---------------------------------------------------------------

  test("undecodable inter shapes degrade to I-frame-only, and a " +
      "REFERENCE gap disables P decode until the next IDR") {
    val frames = gradFrames(3, 48, 32)
    val (bytes, recon) = H264.encodeCavlcP(48, 32, frames, qp = 26)
    val nals = H264.nalUnits(bytes)
    // a non-reference B slice that hits a NAMED boundary (a
    // LONG-TERM list-modification op, idc 2) — skipped whole
    val bSlice = {
      val w = new H264.BitWriter()
      w.ue(0); w.ue(6); w.ue(0) // first_mb, slice_type B, pps 0
      w.u(0, 4) // frame_num (pocType 2: no poc syntax)
      w.u(1, 1) // direct_spatial_mv_pred_flag (spatial)
      w.u(0, 1) // num_ref_idx_active_override_flag
      w.u(1, 1) // ref_pic_list_modification_flag_l0
      w.ue(2)   // modification_of_pic_nums_idc 2 (long-term) → named
      w.trailingBits()
      val rbsp = w.toBytes
      Array[Byte](0x01) ++ rbsp // nal header refIdc 0, type 1
    }
    def rebuild(extra: Array[Byte], afterIdx: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      nals.zipWithIndex.foreach { case (n, i) =>
        out.write(Array[Byte](0, 0, 0, 1)); out.write(n)
        if (i == afterIdx) {
          out.write(Array[Byte](0, 0, 0, 1)); out.write(extra)
        }
      }
      out.toByteArray
    }
    // B filler between IDR and the P chain: P frames still decode
    val withB = rebuild(bSlice, afterIdx = 2) // SPS, PPS, IDR, [B], P...
    assertDecodesExact(withB, recon)
    // the same slice as a REFERENCE (refIdc 2): the P chain must NOT
    // trust the DPB any more — only the IDR decodes
    val refB = bSlice.clone(); refB(0) = 0x41
    val dec = H264.decodeFrames(rebuild(refB, afterIdx = 2))
    assert(dec.size == 1)
    assert(dec.head._3.toSeq == recon.head._3.toSeq)
  }

  test("ref_pic_list_modification (§8.2.4.3.1): reorder/select/wrap " +
      "semantics pinned, and modified-list P streams round-trip") {
    import graft.multimodal.H264Inter
    def pic(id: Int, fn: Int) = new H264Inter.RefPic(id, fn, 1, 1,
      new Array[Byte](256), new Array[Byte](64), new Array[Byte](64))
    val a = pic(1, 4); val b = pic(2, 3) // picNums 4 and 3 at currFn 5
    // full reorder [B, A]: op0 jumps back 2 (5→3), op1 forward 1 (3→4)
    val swapped = H264Inter.applyListModification(IndexedSeq(a, b),
      Seq((0, 1), (1, 0)), currPicNum = 5, maxPicNum = 16,
      numRefActive = 2)
    assert(swapped == IndexedSeq(b, a))
    // single op: B to the front, the later duplicate squeezed out
    val fronted = H264Inter.applyListModification(IndexedSeq(a, b),
      Seq((0, 1)), currPicNum = 5, maxPicNum = 16, numRefActive = 2)
    assert(fronted == IndexedSeq(b, a))
    // PicNum wrap: currFn 1, a ref with frameNum 15 has picNum −1;
    // op0 abs_diff+1 = 2 → noWrap = 1−2+16 = 15 → picNum −1 → selects it
    val w15 = pic(3, 15); val w0 = pic(4, 0)
    val wrapped = H264Inter.applyListModification(
      IndexedSeq(w0, w15), Seq((0, 1)), currPicNum = 1,
      maxPicNum = 16, numRefActive = 1)
    assert(wrapped == IndexedSeq(w15))
    // e2e: a two-reference P stream whose slices REVERSE list 0 on
    // the wire decodes display-exact, and genuinely differs from
    // the unmodified encode
    val frames = translatedFrames(5, 48, 48, dx = 1, dy = 0)
    val (bytes, recon) = H264.encodeCavlcP(48, 48, frames, qp = 26,
      refFrames = 2, partitionCycle = true, searchRange = 2,
      listModSwap = true)
    assertDecodesExact(bytes, recon)
    val (plain, _) = H264.encodeCavlcP(48, 48, frames, qp = 26,
      refFrames = 2, partitionCycle = true, searchRange = 2)
    assert(bytes.toSeq != plain.toSeq)
  }

  test("fixture margin for the q_video_fp_dedup_mp4_pslice oracle: " +
      "planted copies at Hamming 0, distinct contents > 8 bits apart " +
      "(the fingerprint is a motion-compensated P frame)") {
    import graft.multimodal.{MediaCorpus, Mp4Shape, Multimodal}
    val corpus = MediaCorpus.planted(spark, nContents = 30,
      copies = 2)(MediaCorpus.mp4(Mp4Shape.PSlice))
    val hashes = Multimodal.videoHashes(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes.size == 60, "every P-coded clip must fingerprint")
    (0 until 30).foreach { c =>
      assert(hashes(c.toLong) == hashes(c + 30L), s"content $c copies")
    }
    val distinct = (0 until 30).map(c => hashes(c.toLong))
    for (i <- distinct.indices; j <- distinct.indices if i < j) {
      val ham = java.lang.Long.bitCount(distinct(i) ^ distinct(j))
      assert(ham > 8, s"contents $i/$j only $ham bits apart")
    }
  }

  test("a P-only stream (no decodable reference) is a NAMED error; " +
      "P slices referencing a CABAC PPS are skipped not thrown") {
    val frames = gradFrames(2, 48, 32)
    val (bytes, recon) = H264.encodeCavlcP(48, 32, frames, qp = 26)
    val nals = H264.nalUnits(bytes)
    // drop the IDR: the P slice has no reference list
    val out = new java.io.ByteArrayOutputStream()
    nals.foreach { n =>
      if ((n(0) & 0x1F) != 5) {
        out.write(Array[Byte](0, 0, 0, 1)); out.write(n)
      }
    }
    val e = intercept[IllegalArgumentException] {
      H264.decodeFrames(out.toByteArray)
    }
    assert(e.getMessage.contains("no decodable picture"), e.getMessage)
  }
}
