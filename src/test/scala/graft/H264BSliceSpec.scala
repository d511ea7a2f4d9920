package graft

import graft.multimodal.H264

/**
 * CAVLC B slices: Table 7-14/7-18 partition grammar, two reference
 * lists over POC-ordered anchors, default biprediction (§8.4.2.3.1),
 * spatial direct + B_Skip (§8.4.1.2.2), display-order output
 * (decode order ≠ display order), and the §8.2.1.1 POC msb
 * wraparound. The B-as-L0 cross-check validates the B path against
 * the independently-verified P machinery — an EXTERNAL consistency
 * anchor, not a round-trip that could cancel its own bugs.
 */
class H264BSliceSpec extends SparkSpec {

  private def translated(n: Int, w: Int, h: Int, dx: Int,
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

  private def grad(n: Int, w: Int, h: Int, seed: Int): Seq[Array[Int]] =
    (0 until n).map { f =>
      Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        (((x * 3 + y * 5 + f * 17 + seed) & 0xFF) << 16) |
          ((((x * 7) ^ (y * 2)) + f * 9 & 0xFF) << 8) |
          ((x + y * 3 + f * 4 + seed * 3) & 0xFF)
      }
    }

  private def assertExact(bytes: Array[Byte],
                          recon: Seq[(Int, Int, Array[Int])]): Unit = {
    val dec = H264.decodeFrames(bytes)
    assert(dec.size == recon.size,
      s"decoded ${dec.size}, expected ${recon.size}")
    dec.zip(recon).zipWithIndex.foreach {
      case (((w, h, px), (rw, rh, rpx)), i) =>
        assert(w == rw && h == rh, s"frame $i dims")
        assert(px.toSeq == rpx.toSeq, s"frame $i pixels differ")
    }
  }

  test("per-list motion state: list-1 MV prediction reads ONLY " +
      "list-1 neighbors; a list-0-only block contributes -1/0 there") {
    import graft.multimodal.{H264Inter, H264Mb}
    val ctx = new H264Mb.PicCtx(2, 2)
    java.util.Arrays.fill(ctx.sliceId, 0)
    val mo = new H264Inter.MotionCtx(8, 8)
    // A = (3,4): BOTH lists; B = (4,3): list 1 only; D = (3,3):
    // list 0 only (so for list-1 prediction it reads ref −1 / mv 0)
    mo.setPartitionL(0, 3, 4, 1, 1, 10, 20, 0, 100)
    mo.setPartitionL(1, 3, 4, 1, 1, 1, 2, 0, 200)
    mo.setPartitionL(0, 4, 3, 1, 1, 0, 0, -1, -1)
    mo.setPartitionL(1, 4, 3, 1, 1, 3, 4, 0, 200)
    mo.setPartition(3, 3, 1, 1, 50, 60, 0, 100) // P-style: list 0 only
    // list 1 median at (4,4): A=(1,2), B=(3,4), C→D=(0,0 ref −1)
    // → all-match count 2 → median: x med(1,3,0)=1, y med(2,4,0)=2
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.PartNormal, list = 1) == (1, 2))
    // list 0 at the same spot sees A=(10,20), B unused (−1/0),
    // D=(50,60): exactly A and D match ref 0 → median with B as 0
    assert(H264Inter.mvPred(ctx, mo, 0, 4, 4, 4, 0,
      H264Inter.PartNormal, list = 0) == (10, 20))
  }

  test("cross-check against the P machinery: a B picture coded " +
      "L0-only decodes pixel-identically to the SAME frame coded as " +
      "a P picture") {
    val f3 = translated(3, 64, 48, dx = 2, dy = 1)
    // B stream: display [I0, B1, P2]; B1 forced to L0_16x16 MBs
    // predicting from anchor 0 with a forced MV
    val (bBytes, bRecon) = H264.encodeCavlcB(64, 48, f3, qp = 26,
      bBetween = 2, forcedMv = Seq((6, 2)), bVariantBase = 1)
    assertExact(bBytes, bRecon)
    // P stream over the same first two frames with the same MV: the
    // IDR recon is identical, the prediction source and residual
    // pipeline are identical, so frame 1's pixels must MATCH
    val (pBytes, pRecon) = H264.encodeCavlcP(64, 48, f3.take(2),
      qp = 26, forcedMv = Seq((6, 2)))
    assertExact(pBytes, pRecon)
    assert(bRecon(1)._3.toSeq == pRecon(1)._3.toSeq,
      "B-as-L0 must reproduce the P prediction exactly")
  }

  test("display-order output: decode order is IPB but frames come " +
      "back in display order, bit-exact") {
    val f = grad(7, 48, 32, seed = 5)
    val (bytes, recon) = H264.encodeCavlcB(48, 32, f, qp = 27,
      bBetween = 2, forcedMv = Seq((4, 1), (-3, 2)))
    // the stream really is out of display order: picture 2 (first
    // P anchor) precedes pictures 1..: slice NAL count = 7, and the
    // second slice NAL is a REFERENCE P while B's are non-reference
    val slices = H264.nalUnits(bytes).filter(n => (n(0) & 0x1F) <= 5)
      .filter(n => (n(0) & 0x1F) == 1 || (n(0) & 0x1F) == 5)
    assert(slices.size == 7)
    assert(((slices(1)(0) & 0xFF) >>> 5) != 0, "anchor is a reference")
    assert(((slices(2)(0) & 0xFF) >>> 5) == 0, "B is non-reference")
    assertExact(bytes, recon)
  }

  test("bipred, both-list partitions, sub-partitions, intra-in-B " +
      "and two refs each way round-trip display-exact") {
    val f = translated(7, 80, 48, dx = 1, dy = 2)
    val (bytes, recon) = H264.encodeCavlcB(80, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, partitionCycle = true,
      intraEvery = 5, refsEachWay = 2)
    assertExact(bytes, recon)
  }

  test("spatial direct and B_Skip: a static scene collapses B " +
      "pictures to skips that copy their reference exactly") {
    val still = grad(1, 48, 32, seed = 3).head
    val f = Seq.fill(7)(still)
    val (bytes, recon) = H264.encodeCavlcB(48, 32, f, qp = 26,
      bBetween = 2)
    assertExact(bytes, recon)
    val dec = H264.decodeFrames(bytes)
    // after the first correction step the anchors converge; B
    // pictures between equal anchors are all-B_Skip copies
    assert(dec(4)._3.toSeq == dec(3)._3.toSeq)
    assert(dec(5)._3.toSeq == dec(3)._3.toSeq)
    val bNals = H264.nalUnits(bytes).filter(n => (n(0) & 0xFF) == 0x01)
    assert(bNals.nonEmpty)
    assert(bNals.drop(2).forall(_.length < 20),
      s"late B slices should be skip-tiny: ${bNals.map(_.length)}")
  }

  test("B_Direct_16x16 with residual, deblocking and High-profile " +
      "8x8 compose over B pictures") {
    val f = translated(5, 64, 48, dx = 2, dy = 2)
    // variant base 0 → direct-first: moving content forces direct
    // MBs to carry residual (B_Direct_16x16), deblock ON
    val (bytes, recon) = H264.encodeCavlcB(64, 48, f, qp = 30,
      bBetween = 2, deblock = true)
    assertExact(bytes, recon)
    // 8x8 + scaling matrices across B MBs
    val (b8, r8) = H264.encodeCavlcB(64, 48, f, qp = 30,
      bBetween = 2, partitionCycle = true, transform8x8 = true,
      scalingMatrix = true, deblock = true, intraEvery = 4)
    assertExact(b8, r8)
  }

  test("POC lsb wraparound (§8.2.1.1): a 14-picture GOP under a " +
      "4-bit poc lsb reorders correctly across the wrap") {
    val f = grad(14, 32, 32, seed = 8)
    val (bytes, recon) = H264.encodeCavlcB(32, 32, f, qp = 30,
      bBetween = 2, pocLsbBits = 4, forcedMv = Seq((2, 1)))
    assertExact(bytes, recon)
  }

  test("temporal direct (§8.4.1.2.3): the POC-scaled co-located " +
      "motion, worked by hand, and full-stream round-trips") {
    import graft.multimodal.H264Inter
    // anchors A (poc 0) and C (poc 6), current B at poc 2; the
    // co-located block in C carries mv (30, −18) referencing A.
    //   tb = 2, td = 6; tx = (16384 + |6/2|) / 6 = 16387/6 = 2731
    //   DSF = (2·2731 + 32) >> 6 = 5494 >> 6 = 85
    //   mvL0x = (85·30 + 128) >> 8 = 2678 >> 8 = 10
    //   mvL0y = (85·(−18) + 128) >> 8 = −1402 >> 8 = −6 (floor)
    //   mvL1 = mvL0 − mvCol = (−20, 12)
    val aPic = new H264Inter.RefPic(10, 0, 2, 2,
      new Array[Byte](1024), new Array[Byte](256),
      new Array[Byte](256), poc = 0)
    val colMo = new H264Inter.MotionCtx(8, 8)
    colMo.setPartition(0, 0, 8, 8, 30, -18, 0, rPic = 10)
    val colPic = new H264Inter.RefPic(11, 1, 2, 2,
      new Array[Byte](1024), new Array[Byte](256),
      new Array[Byte](256), poc = 6, mo = colMo, l0HeadPicId = 10)
    val (ri0, mv0, mv1) = H264Inter.temporalDirect(colPic,
      mbIdx = 0, b8 = 0, l0 = IndexedSeq(aPic), curPoc = 2)
    assert(ri0 == 0)
    assert(mv0 == (10, -6), mv0.toString)
    assert(mv1 == (-20, 12), mv1.toString)
    // an intra co-located block: zero motion referencing the col
    // picture's own list-0 head → mv (0,0) both lists scale to 0
    val intraMo = new H264Inter.MotionCtx(8, 8)
    intraMo.markIntraMb(0, 2)
    val colI = new H264Inter.RefPic(12, 1, 2, 2,
      new Array[Byte](1024), new Array[Byte](256),
      new Array[Byte](256), poc = 6, mo = intraMo, l0HeadPicId = 10)
    val (riI, m0I, m1I) = H264Inter.temporalDirect(colI, 0, 0,
      IndexedSeq(aPic), curPoc = 2)
    assert(riI == 0 && m0I == (0, 0) && m1I == (0, 0))
    // full-stream: temporal direct on translating content (the
    // co-located anchors carry REAL motion to scale)
    val f = translated(7, 64, 48, dx = 2, dy = 1)
    val (bytes, recon) = H264.encodeCavlcB(64, 48, f, qp = 28,
      bBetween = 2, searchRange = 3, directTemporal = true)
    assertExact(bytes, recon)
    // composed with deblocking + partition cycle (variant-0 MBs are
    // temporal-direct, the rest explicit)
    val (bd, rd) = H264.encodeCavlcB(64, 48, f, qp = 30,
      bBetween = 2, searchRange = 2, directTemporal = true,
      partitionCycle = true, deblock = true)
    assertExact(bd, rd)
  }

  test("explicit weighted biprediction (idc 1): the §8.4.2.3.2 bi " +
      "formula worked by hand; weighted B streams round-trip") {
    import graft.multimodal.H264Inter
    // p0 = 100, p1 = 200, w0 = 36, w1 = 27, o0 = 2, o1 = −2, d = 5:
    //   ((100·36 + 200·27 + 32) >> 6) + ((2 − 2 + 1) >> 1)
    //   = (3600 + 5400 + 32) >> 6 + 0 = 9032 >> 6 = 141
    val a = Array.fill(4)(100)
    val b = Array.fill(4)(200)
    H264Inter.biWeightRegion(a, b, 2, 0, 0, 2, 2, 36, 27, 2, -2, 5)
    assert(a.forall(_ == 141), a.toSeq.toString)
    // B-table write → parse round-trip (shared denominators)
    val pw0 = H264Inter.PredWeights(5, 6, Array(36), Array(2),
      Array(67), Array(1), Array(62), Array(-1))
    val pw1 = H264Inter.PredWeights(5, 6, Array(27), Array(-2),
      Array(61), Array(0), Array(66), Array(1))
    val w = new H264.BitWriter()
    H264Inter.writePredWeightTable(w, pw0)
    H264Inter.writePredWeightTable(w, pw1, denoms = false)
    w.trailingBits()
    val (b0, b1) = H264Inter.parsePredWeightTableB(
      new H264.BitReader(w.toBytes), 1, 1)
    assert(b0.wY.toSeq == Seq(36) && b0.oY.toSeq == Seq(2))
    assert(b1.wY.toSeq == Seq(27) && b1.oCr.toSeq == Seq(1))
    // weighted-bi streams round-trip display-exact and genuinely
    // differ from the default-average encode
    val f = translated(5, 64, 48, dx = 1, dy = 2)
    val (bytes, recon) = H264.encodeCavlcB(64, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, weightedBi = true,
      partitionCycle = true)
    assertExact(bytes, recon)
    val (plain, _) = H264.encodeCavlcB(64, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, partitionCycle = true)
    assert(bytes.toSeq != plain.toSeq)
    // composed: weighted bi + temporal direct + deblock + 2 refs
    val (bw, rw) = H264.encodeCavlcB(64, 48, f, qp = 30,
      bBetween = 2, searchRange = 2, weightedBi = true,
      directTemporal = true, deblock = true, refsEachWay = 2,
      intraEvery = 5)
    assertExact(bw, rw)
  }

  test("implicit weighted biprediction (idc 2): POC-derived weights " +
      "worked by hand, fallbacks pinned, streams round-trip") {
    import graft.multimodal.H264Inter
    // B at poc 2 between refs at poc 0 and 6: tb = 2, td = 6,
    //   tx = 16387/6 = 2731, DSF = (2·2731 + 32) >> 6 = 85,
    //   w1 = 85 >> 2 = 21, w0 = 64 − 21 = 43 — the CLOSER (past)
    //   reference carries the larger weight
    assert(H264Inter.implicitBiWeights(2, 0, 6) == (43, 21))
    // the exact midpoint: DSF = (3·2731 + 32) >> 6 = 128 → 32/32
    assert(H264Inter.implicitBiWeights(3, 0, 6) == (32, 32))
    // out-of-range scale falls back: tb = 14, td = 2 → DSF clips to
    // 1023, w1 = 255 > 128 → 32/32
    assert(H264Inter.implicitBiWeights(14, 0, 2) == (32, 32))
    // equal-POC references → 32/32 by definition
    assert(H264Inter.implicitBiWeights(5, 4, 4) == (32, 32))
    // full-stream round-trip; implicit genuinely changes the wire
    val f = translated(5, 64, 48, dx = 2, dy = 1)
    val (bytes, recon) = H264.encodeCavlcB(64, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, implicitBi = true,
      partitionCycle = true)
    assertExact(bytes, recon)
    val (plain, _) = H264.encodeCavlcB(64, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, partitionCycle = true)
    assert(bytes.toSeq != plain.toSeq)
    // composed with temporal direct + deblocking
    val (bi, ri) = H264.encodeCavlcB(64, 48, f, qp = 30,
      bBetween = 2, searchRange = 2, implicitBi = true,
      directTemporal = true, deblock = true, intraEvery = 4)
    assertExact(bi, ri)
  }

  test("fixture margin for the q_video_fp_dedup_mp4_bslice oracle: " +
      "planted copies at Hamming 0, distinct contents > 8 bits " +
      "apart (the fingerprint is a B picture)") {
    import graft.multimodal.{MediaCorpus, Mp4Shape, Multimodal}
    val corpus = MediaCorpus.planted(spark, nContents = 30,
      copies = 2)(MediaCorpus.mp4(Mp4Shape.BSlice))
    val hashes = Multimodal.videoHashes(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashes.size == 60, "every B-coded clip must fingerprint")
    (0 until 30).foreach { c =>
      assert(hashes(c.toLong) == hashes(c + 30L), s"content $c copies")
    }
    val distinct = (0 until 30).map(c => hashes(c.toLong))
    for (i <- distinct.indices; j <- distinct.indices if i < j) {
      val ham = java.lang.Long.bitCount(distinct(i) ^ distinct(j))
      assert(ham > 8, s"contents $i/$j only $ham bits apart")
    }
  }

  test("fuzz: mutated/truncated B streams (spatial, temporal, " +
      "weighted, implicit) throw or decode — never hang or corrupt") {
    val f = translated(5, 48, 32, dx = 1, dy = 1)
    val bases = Seq(
      H264.encodeCavlcB(48, 32, f, qp = 28, bBetween = 2,
        partitionCycle = true, refsEachWay = 2)._1,
      H264.encodeCavlcB(48, 32, f, qp = 28, bBetween = 2,
        directTemporal = true, weightedBi = true)._1,
      H264.encodeCavlcB(48, 32, f, qp = 28, bBetween = 2,
        implicitBi = true, deblock = true)._1)
    val rnd = new scala.util.Random(77)
    var threw = 0
    bases.foreach { base =>
      (0 until 120).foreach { _ =>
        val m = base.clone()
        m(rnd.nextInt(m.length)) =
          (m(rnd.nextInt(m.length)) ^ (1 << rnd.nextInt(8))).toByte
        try { H264.decodeFrames(m); () }
        catch { case _: Exception | _: AssertionError => threw += 1 }
      }
      (1 until 8).foreach { cut =>
        try { H264.decodeFrames(base.take(base.length - cut * 11)); () }
        catch { case _: Exception => () }
      }
    }
    assert(threw > 0, "some mutations must be detected")
  }

  test("ref_pic_list_modification on B list 0: the swapped and the " +
      "other-anchor-only forms round-trip display-exact") {
    val f = translated(5, 48, 48, dx = 1, dy = 1)
    // nr0 = 2: list 0 arrives REVERSED on the wire
    val (b2, r2) = H264.encodeCavlcB(48, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, refsEachWay = 2,
      partitionCycle = true, listModSwap = true)
    assertExact(b2, r2)
    // nr0 = 1: the modification makes the FUTURE anchor the sole
    // list-0 reference (both lists then face forward)
    val (b1, r1) = H264.encodeCavlcB(48, 48, f, qp = 28,
      bBetween = 2, searchRange = 2, listModSwap = true)
    assertExact(b1, r1)
    val (plain, _) = H264.encodeCavlcB(48, 48, f, qp = 28,
      bBetween = 2, searchRange = 2)
    assert(b1.toSeq != plain.toSeq)
  }

  test("MP4 container carries the B stream; decode equals Annex-B") {
    import graft.multimodal.Mp4
    val f = translated(6, 64, 48, dx = 1, dy = 1)
    val (bytes, recon) = H264.encodeCavlcB(64, 48, f, qp = 26,
      bBetween = 2, searchRange = 2)
    val mp4 = Mp4.fromAnnexB(bytes, 64, 48)
    val a = H264.decodeFrames(Mp4.demuxToAnnexB(mp4))
    assert(a.map(_._3.toSeq) == recon.map(_._3.toSeq))
  }
}
