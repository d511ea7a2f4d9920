package graft

import graft.multimodal.{AudioDecoder, Flac}

/**
 * FLAC codec: bit-exact lossless round-trips (the external anchor
 * losslessness grants — encode → decode MUST reproduce the input
 * samples exactly, with the in-stream CRC-8/CRC-16 and STREAMINFO
 * MD5 verifying every decode), hand-derived Rice and coded-number
 * golden vectors, a hand-built LPC subframe decoded against
 * by-hand prediction arithmetic, wasted-bits and escape-partition
 * decode, stereo decorrelation modes, and corruption fuzz.
 */
class FlacSpec extends SparkSpec {

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed * 6364136223846793005L + 1442695040888963407L)(
      s => s * 6364136223846793005L + 1442695040888963407L)

  private def roundTrip(pcm: Flac.Pcm, blockSize: Int = 4096): Flac.Pcm = {
    val bytes = Flac.encode(pcm, blockSize)
    val back = Flac.decodePcm(bytes)
    assert(back.sampleRate == pcm.sampleRate)
    assert(back.channels == pcm.channels)
    assert(back.bps == pcm.bps)
    assert(back.data.length == pcm.data.length)
    back.data.zip(pcm.data).zipWithIndex.foreach { case ((b, a), c) =>
      assert(b.toSeq == a.toSeq, s"channel $c samples differ")
    }
    back
  }

  test("mono 16-bit round-trip is BIT-IDENTICAL: tones, ramps, " +
      "constants, noise, and a non-multiple-of-blocksize tail") {
    val tone = Array.tabulate(10000)(i =>
      (math.sin(i * 0.05) * 12000).toInt)
    val ramp = Array.tabulate(5003)(i => (i % 65536) - 32768)
    val const = Array.fill(4096 + 17)(-12345)
    val noise = lcg(7).map(s => ((s >>> 40) % 65536 - 32768).toInt)
      .take(3000).toArray
    Seq(tone, ramp, const, noise).foreach { s =>
      roundTrip(Flac.Pcm(16000, 1, 16, Array(s)))
    }
    // tiny inputs and a blocksize that forces many frames
    roundTrip(Flac.Pcm(8000, 1, 16, Array(Array(1))))
    roundTrip(Flac.Pcm(8000, 1, 16, Array(tone.take(100))), blockSize = 16)
  }

  test("stereo round-trips exercise all four channel assignments") {
    val n = 6000
    val l = Array.tabulate(n)(i => (math.sin(i * 0.03) * 9000).toInt)
    // near-identical channels → mid-side or left-side wins
    val rCorr = Array.tabulate(n)(i => l(i) + (i % 7) - 3)
    // independent channels → independent coding wins
    val rInd = lcg(11).map(s => ((s >>> 40) % 60000 - 30000).toInt)
      .take(n).toArray
    // right channel constant → right-side shapes
    val rConst = Array.fill(n)(42)
    Seq(rCorr, rInd, rConst).foreach { r =>
      roundTrip(Flac.Pcm(44100, 2, 16, Array(l, r)))
    }
    // full-scale extremes: the side channel needs its 17th bit
    val lMax = Array.fill(2000)(32767)
    val rMin = Array.fill(2000)(-32768)
    roundTrip(Flac.Pcm(44100, 2, 16, Array(lMax, rMin)))
  }

  test("8-bit and 24-bit round-trips") {
    val s8 = Array.tabulate(3000)(i => (math.sin(i * 0.1) * 100).toInt)
    roundTrip(Flac.Pcm(8000, 1, 8, Array(s8)))
    val s24 = Array.tabulate(3000)(i => (math.sin(i * 0.02) * 4000000).toInt)
    roundTrip(Flac.Pcm(96000, 1, 24, Array(s24)))
  }

  test("Rice zigzag + unary golden vector, worked by hand") {
    // Rice parameter k=2: value v → zigzag z → quotient z>>2 in
    // unary (q zeros then a 1) + 2 remainder bits.
    //   v=3  → z=6  → q=1 r=2 → 01 10
    //   v=-2 → z=3  → q=0 r=3 → 1 11
    //   v=0  → z=0  → q=0 r=0 → 1 00
    //   v=-5 → z=9  → q=2 r=1 → 001 01
    val bits = "0110" + "111" + "100" + "00101"
    val w2 = new Flac.BitWriter
    bits.foreach(c => w2.u(if (c == '1') 1 else 0, 1))
    w2.alignZero()
    val r = new Flac.BitReader(w2.bytes)
    def rice(k: Int): Int = {
      val q = r.unary()
      val rem = if (k == 0) 0 else r.u(k)
      val u = (q.toLong << k) | rem
      ((u >>> 1) ^ -(u & 1L)).toInt
    }
    assert(rice(2) == 3)
    assert(rice(2) == -2)
    assert(rice(2) == 0)
    assert(rice(2) == -5)
  }

  test("UTF-8-style coded numbers round-trip at every width boundary") {
    val vals = Seq(0L, 1L, 0x7FL, 0x80L, 0x7FFL, 0x800L, 0xFFFFL,
      0x10000L, 0x1FFFFFL, 0x200000L, 0x3FFFFFFL, 0x4000000L,
      0x7FFFFFFFL, 0x80000000L, (1L << 36) - 1)
    vals.foreach { v =>
      val w = new Flac.BitWriter
      Flac.writeCodedNumber(w, v)
      val r = new Flac.BitReader(w.bytes)
      assert(Flac.readCodedNumber(r) == v, s"coded number $v")
    }
  }

  test("CRC-8 and CRC-16 match hand-derivable single-byte vectors") {
    // CRC-8 poly 0x07 of one byte 0x80: 0x80 -> shift/xor 8 times.
    // x^8 alone reduces to poly 0x07 ... so crc8([0x01]) = 0x07.
    assert(Flac.crc8(Array[Byte](0x01), 0, 1) == 0x07)
    assert(Flac.crc8(Array[Byte](0x00), 0, 1) == 0x00)
    // CRC-16 poly 0x8005: crc16([0x01]) = 0x8005's reduction of x^16
    assert(Flac.crc16(Array[Byte](0x01), 0, 1) == 0x8005)
    assert(Flac.crc16(Array[Byte](0x00), 0, 1) == 0x0000)
    // linearity: crc(a xor b) = crc(a) xor crc(b) for equal lengths
    val a = Array[Byte](0x12, 0x34, 0x56)
    val b = Array[Byte](0x0F, (0xF0).toByte, 0x33)
    val x = a.zip(b).map { case (p, q) => (p ^ q).toByte }
    assert((Flac.crc16(a, 0, 3) ^ Flac.crc16(b, 0, 3)) == Flac.crc16(x, 0, 3))
  }

  test("hand-built LPC subframe decodes to by-hand prediction " +
      "arithmetic (the in-stream-coefficients path)") {
    // Build a single-frame mono stream by hand: 8 samples, LPC
    // order 2, precision 4, shift 1, coefs c0=3 c1=-1 (predict from
    // s[i-1]*3 - s[i-2]*-1 ... exactly: pred = (3*s[i-1] - 1*s[i-2]) >> 1).
    // Warmups 10, 12. Residuals all +1 (Rice k=0: zigzag 2 → 001).
    //   s2 = ((3*12 - 10) >> 1) + 1 = (26 >> 1) + 1 = 14
    //   s3 = ((3*14 - 12) >> 1) + 1 = (30 >> 1) + 1 = 16
    //   s4 = ((3*16 - 14) >> 1) + 1 = 18  (34>>1=17, +1)
    //   s5 = ((3*18 - 16) >> 1) + 1 = 20  (38>>1=19, +1)
    //   s6 = ((3*20 - 18) >> 1) + 1 = 22
    //   s7 = ((3*22 - 20) >> 1) + 1 = 24
    val expected = Array(10, 12, 14, 16, 18, 20, 22, 24)
    val w = new Flac.BitWriter
    // fLaC + STREAMINFO (blockSize 8, rate 8000, mono, 16-bit, 8 samples)
    w.u('f', 8); w.u('L', 8); w.u('a', 8); w.u('C', 8)
    w.u(1, 1); w.u(0, 7); w.u(34, 24)
    w.u(8, 16); w.u(8, 16); w.u(0, 24); w.u(0, 24)
    w.u(8000, 20); w.u(0, 3); w.u(15, 5); w.u(8, 36)
    (0 until 16).foreach(_ => w.u(0, 8)) // MD5 unknown → no verify
    val head = w.bytes
    val f = new Flac.BitWriter
    f.u(0x3FFE, 14); f.u(0, 1); f.u(0, 1)
    f.u(6, 4)  // block size: 8-bit at end
    f.u(0, 4)  // rate: streaminfo
    f.u(0, 4)  // mono
    f.u(4, 3)  // 16-bit
    f.u(0, 1)
    Flac.writeCodedNumber(f, 0)
    f.u(7, 8)  // block size - 1
    f.u(Flac.crc8(f.bytes, 0, f.size), 8)
    // subframe: pad 0, type LPC order 2 (0x20 | 1), no wasted bits
    f.u(0, 1); f.u(0x21, 6); f.u(0, 1)
    f.s(10, 16); f.s(12, 16) // warmups
    f.u(3, 4)  // precision - 1 = 3 → 4 bits
    f.s(1, 5)  // shift 1
    f.s(3, 4); f.s(-1, 4) // coefficients
    f.u(0, 2); f.u(0, 4) // Rice method 0, partition order 0
    f.u(0, 4)  // k = 0
    (0 until 6).foreach { _ => f.u(1, 3) } // zigzag(1)=2 → unary 001
    f.alignZero()
    f.u(Flac.crc16(f.bytes, 0, f.size), 16)
    val stream = head ++ f.bytes
    val pcm = Flac.decodePcm(stream)
    assert(pcm.data(0).toSeq == expected.toSeq)
  }

  test("wasted bits and escape partitions decode (hand-built)") {
    // mono frame, FIXED order 0, 1 wasted bit: stored samples are
    // halved; escape partition (param 15) with 5 raw bits each
    val vals = Array(6, -8, 10, 2) // all even → 1 wasted bit
    val w = new Flac.BitWriter
    w.u('f', 8); w.u('L', 8); w.u('a', 8); w.u('C', 8)
    w.u(1, 1); w.u(0, 7); w.u(34, 24)
    w.u(4, 16); w.u(4, 16); w.u(0, 24); w.u(0, 24)
    w.u(8000, 20); w.u(0, 3); w.u(15, 5); w.u(4, 36)
    (0 until 16).foreach(_ => w.u(0, 8))
    val head = w.bytes
    val f = new Flac.BitWriter
    f.u(0x3FFE, 14); f.u(0, 1); f.u(0, 1)
    f.u(6, 4); f.u(0, 4); f.u(0, 4); f.u(4, 3); f.u(0, 1)
    Flac.writeCodedNumber(f, 0)
    f.u(3, 8) // block size 4
    f.u(Flac.crc8(f.bytes, 0, f.size), 8)
    f.u(0, 1); f.u(0x08, 6) // FIXED order 0
    f.u(1, 1)      // wasted-bits flag
    f.u(1, 1)      // unary 0 zeros → wasted = 0 + 1 = 1
    f.u(0, 2); f.u(0, 4) // method 0, partition order 0
    f.u(15, 4)     // ESCAPE
    f.u(5, 5)      // 5 raw bits per residual
    vals.foreach(v => f.s(v / 2, 5))
    f.alignZero()
    f.u(Flac.crc16(f.bytes, 0, f.size), 16)
    val pcm = Flac.decodePcm(head ++ f.bytes)
    assert(pcm.data(0).toSeq == vals.toSeq)
  }

  test("corruption is DETECTED, never silently mis-decoded: header " +
      "CRC, frame CRC, MD5, truncation, garbage") {
    val tone = Array.tabulate(5000)(i => (math.sin(i * 0.04) * 8000).toInt)
    val good = Flac.encode(Flac.Pcm(16000, 1, 16, Array(tone)))
    assert(Flac.decodePcm(good).data(0).toSeq == tone.toSeq)
    // flip a bit somewhere in the frame payload → some named failure
    val findHeaderEnd = 4 + 4 + 34
    var caught = 0
    Seq(findHeaderEnd + 10, findHeaderEnd + 40, good.length - 3)
      .foreach { idx =>
        val bad = good.clone()
        bad(idx) = (bad(idx) ^ 0x10).toByte
        try { Flac.decodePcm(bad); () }
        catch { case _: IllegalArgumentException => caught += 1 }
      }
    assert(caught == 3, "every corruption must be caught")
    // truncation
    intercept[IllegalArgumentException] {
      Flac.decodePcm(good.take(good.length / 2))
    }
    // garbage
    intercept[IllegalArgumentException] {
      Flac.decodePcm("fLaCgarbage".getBytes)
    }
    intercept[IllegalArgumentException] {
      Flac.decodePcm(Array[Byte](1, 2, 3))
    }
  }

  test("AudioDecoder.Auto routes FLAC to the built-in decoder; " +
      "lossy formats still name the SPI boundary") {
    val tone = Array.tabulate(2000)(i => (math.sin(i * 0.2) * 16000).toInt)
    val flac = Flac.encode(Flac.Pcm(16000, 1, 16, Array(tone)))
    val (rate, mono) = AudioDecoder.Auto.samples(flac)
    assert(rate == 16000 && mono.length == 2000)
    assert(math.abs(mono(10) - tone(10) / 32768.0) < 1e-9)
    val mp3ish = Array[Byte]('I', 'D', '3', 0, 0, 0, 0, 0)
    val e = intercept[IllegalArgumentException] {
      AudioDecoder.Auto.samples(mp3ish)
    }
    assert(e.getMessage.contains("MP3"))
    assert(e.getMessage.contains(AudioDecoder.PropKey))
  }

  test("stereo downmix through the SPI surface averages channels") {
    val l = Array.fill(1000)(16384)
    val r = Array.fill(1000)(-16384)
    val flac = Flac.encode(Flac.Pcm(8000, 2, 16, Array(l, r)))
    val (_, mono) = AudioDecoder.Auto.samples(flac)
    assert(mono.forall(v => math.abs(v) < 1e-9), "L+R cancel to 0")
  }

  test("fixture margin transfers: FLAC corpus fingerprints are " +
      "IDENTICAL to the WAV corpus fingerprints (losslessness)") {
    import graft.multimodal.{MediaCorpus, Multimodal}
    val wav = Multimodal.audioHashes(
      MediaCorpus.planted(spark, nContents = 6, copies = 2)(
        MediaCorpus.tonesWav))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val flac = Multimodal.audioHashes(
      MediaCorpus.planted(spark, nContents = 6, copies = 2)(
        MediaCorpus.tonesFlac))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(wav == flac)
  }
}
