package graft

import graft.multimodal.{MediaRow, Mp4Shape}
import graft.multimodal.MediaCorpus._
import org.apache.spark.sql.Dataset

/** Every planted-media corpus, byte for byte: one SHA-256 per corpus
  * over its rows sorted by `media_id` (id, kind, bytes and meta), for
  * every construction, payload and MP4 shape, small and at the sizes the
  * registry gates use. The gates' oracles are id arithmetic that holds
  * only for these payloads, so a fixture refactor must leave every
  * digest unchanged. */
class MediaCorpusSpec extends SparkSpec {
  private def digest(ds: Dataset[MediaRow]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(buf)
    ds.collect().sortBy(_.media_id).foreach { r =>
      out.writeLong(r.media_id)
      out.writeUTF(r.kind)
      out.writeInt(r.bytes.length)
      out.write(r.bytes)
      Seq(r.meta.width, r.meta.height, r.meta.sampleRate, r.meta.nFrames)
        .foreach(out.writeInt)
    }
    out.flush()
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(buf.toByteArray).map("%02x".format(_)).mkString
  }

  private def check(
      cases: Seq[(String, (() => Dataset[MediaRow], String))]): Unit = {
    val changed = cases.collect {
      case (name, (corpus, want)) if digest(corpus()) != want => name
    }
    assert(changed.isEmpty, s"corpora changed: ${changed.mkString(", ")}")
  }

  test("small corpora of every construction, payload and MP4 shape are " +
      "byte-stable") {
    check(Seq(
      "mixed" -> (() => planted(spark, 12, 1)(mixed),
        "a9ebaf4cb372ac01338661975e3788675bcc709ec6c5f04e07f298cf96f0d4b2"),
      "png" -> (() => planted(spark, 5, 2)(png),
        "75c09ee468e53af28f5633058101a9fb50c869d0a09d70cf9d043c34fc60ba7d"),
      "exifPng" -> (() => planted(spark, 4, 3)(exifPng),
        "ed098e2fd653eaea5b9093e05d006310d4c2b63c51c6db45924002c691acb306"),
      "tonesWav" -> (() => planted(spark, 4, 2)(tonesWav),
        "18af0110471e6ff85a24db1e4a3bd91a39586fa98e1dcfd918ed35e43294717b"),
      "tonesFlac" -> (() => planted(spark, 4, 2)(tonesFlac),
        "9d30574520d94d36e221e12fcdceacf9eb286f0a76412b50ee61d84232854b36"),
      "mjpeg" -> (() => planted(spark, 4, 2)(mjpeg),
        "d5fb3d81899f2e7d103601690b683b2d34856d99479344bd18e7c1de991fb1dc"),
      "h264" -> (() => planted(spark, 4, 2)(h264),
        "dd1cad90b03e08a82e5ba54061e8ac9cfb50c45a3f390a6ee8bd63c0728cc60d"),
      "mp4 Intra" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.Intra)),
        "1d19175882c4a4a0e66cc5a10a3b955ba486c4895f3be741a369e55108a4eeca"),
      "mp4 Cabac" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.Cabac)),
        "683d2f52aca374f98f4a512fc670f5d3a22116a360c117d171b764f9932b6924"),
      "mp4 CabacDeblock" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.CabacDeblock)),
        "5d327071a5715c3aa418ce41ff53e10fb1a86042e488581a7073a73cbdc5dea4"),
      "mp4 High8x8" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.High8x8)),
        "8cc00830dcd7193fdb1df18c0a9a86626f76e174588540c23342f58d14d6752a"),
      "mp4 PSlice" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.PSlice)),
        "0b95ba2495cac6fe05163b29fc2ed70eaa2ac2af2dad05cea605379059fb3ab5"),
      "mp4 PSlice8x8" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.PSlice8x8)),
        "e791004ed191a75f2b5161373fd88e622448e64fbfcd773850e8b8db9d7c331f"),
      "mp4 PSliceWeighted" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.PSliceWeighted)),
        "7c5c3b3e637da0bf6ee4c93c022572c186a4d231e819a8fe3aaa3782f2932ce1"),
      "mp4 BSlice" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.BSlice)),
        "2354d00aa7c56e553f45d4a56c6e666460dc7355562ab5fd09dbb298a57ac9f6"),
      "mp4 BSliceTemporalWeighted" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.BSliceTemporalWeighted)),
        "5f949e817c333834d71022369f37693ee5056f1926e72c4b754dd289b4f7f368"),
      "mp4 Mixed" -> (() => planted(spark, 3, 2)(mp4(Mp4Shape.Mixed)),
        "d8c1f8af8f5257b43d109ec280ac2df0826ead86d19cc1753d7ea8e50ff62244"),
      "shiftedMjpeg" -> (() => offset(spark, 4, 2, 1000)(shiftedMjpeg),
        "91375d737e8597ee55767b2891eade7d999fe7451aafd770afbcf6962f24ec7a"),
      "shiftedH264" -> (() => offset(spark, 4, 2, 1000)(shiftedH264),
        "749f1751f93eafa4bf94a2ab0320764750c42f631ebd0fe77c058fcfaec34385"),
      "shiftedMp4" -> (() => offset(spark, 4, 2, 1000)(shiftedMp4(fragmented = false)),
        "ac36c6705d6bee85cf158cc9afc161bff38cf9572461a5d0cf9d25030f0db1fe"),
      "shiftedMp4 fragmented" -> (() => offset(spark, 4, 2, 1000)(shiftedMp4(fragmented = true)),
        "d57ffcaf51c7b187876542c07d6e9f1f251aedbe08fc0db8db3d2ccb3f05b3ac"),
      "delayedWav" -> (() => offset(spark, 4, 2, 1000)(delayedWav(noiseLsb = 0)),
        "8e1e19e846a3c9865e0ec8cae36da07bc311faaee8ae96f251dfdf56314c60e0"),
      "delayedWav noisy" -> (() => offset(spark, 4, 2, 1000)(delayedWav(noiseLsb = 3)),
        "7252f68e1e7c5a8936a98e3dd0ca2fdd03df2e768e9474229720d61229477a3c"),
      "delayedFlac" -> (() => offset(spark, 4, 2, 1000)(delayedFlac),
        "c6a5053226f24c852d80ae6e1147fba9045139cd956f7b6ba2d065085feaa593"),
      "resampledWav" -> (() => offset(spark, 4, 2, 2000)(resampledWav),
        "daaf9b00df79ed2aef8fb544124b7bbe8415d7a2ed6972f43a0c717b63144c6b")))
  }

  test("registry-sized corpora are byte-stable") {
    check(Seq(
      "mixed" -> (() => planted(spark, 300, 1)(mixed),
        "6fb4fecffdf8c94ffad4b3f89b3f07d55fa8b20c5cf1aafdd72338dc82f38d27"),
      "png" -> (() => planted(spark, 60, 3)(png),
        "110ba12f61fc0aa36ab6823ecd8e61f9a796f7afe3ec850e9f551c759f5b8912"),
      "exifPng" -> (() => planted(spark, 60, 3)(exifPng),
        "f4b78e1c8bd9db97e0dd219fa73bf523b7caf1b95c8d078146572f042765983a"),
      "tonesWav" -> (() => planted(spark, 40, 3)(tonesWav),
        "19ac41cce292ac3ffc1c022b914965874b5a8f07b849bcf438895d46e68a67a5"),
      "tonesFlac" -> (() => planted(spark, 40, 3)(tonesFlac),
        "90a1266df4f0fef700bae459cbcbcb4eb4a973ffb97411e941bd6599710f79d4"),
      "mjpeg" -> (() => planted(spark, 30, 3)(mjpeg),
        "244e1a358bdb81a686b6ed3533aebaf4d51d671779c37cb83e2c1bee2e1be661"),
      "h264" -> (() => planted(spark, 30, 3)(h264),
        "b9587fc0055e8aa238e276c615468d8046589e84851059276ad91a622b251b44"),
      "mp4 Intra" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.Intra)),
        "155be6c3f860eff586e8a3bd7cb72f634fe7f012c3ba0a787b8f83e1eec58180"),
      "mp4 Cabac" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.Cabac)),
        "3be913c6b198660a7b17d749909c648f3a29f05265eec06b5cbec7cf4b6679d5"),
      "mp4 CabacDeblock" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.CabacDeblock)),
        "eb2d532d7fefc49ce88db8ecfbf2edc6470f9061911e550767bdaedb524ec9ef"),
      "mp4 High8x8" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.High8x8)),
        "9573d2df749440a963fc93e7d08d022a4298967da4e24761785a43a6d9b3d4dd"),
      "mp4 PSlice" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.PSlice)),
        "42c0f5996f9b29bbc92839c1a96fb4dce5956e8dc6de546158b26d63655892ec"),
      "mp4 PSlice8x8" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.PSlice8x8)),
        "660cbd17bdf456625455eb832a8999eac9a399c0d491ebb336f41c40f9368b10"),
      "mp4 PSliceWeighted" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.PSliceWeighted)),
        "6c0bbaea5dcd80755c9348191a91352ba34f356ecd4d1e64a3f4551ba60d48f9"),
      "mp4 BSlice" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.BSlice)),
        "d5784b76e5a7db39a5ef7ba9ffa01a2621c09b04bb98d1f7c0ef9fb9cf436864"),
      "mp4 BSliceTemporalWeighted" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.BSliceTemporalWeighted)),
        "7c28b264c58c48d222a50e3d0f95e8d461d873e58f9634b994d2860e2d6b70ae"),
      "mp4 Mixed" -> (() => planted(spark, 30, 3)(mp4(Mp4Shape.Mixed)),
        "455894c5e6e69462a5235c035d774427f6ef6e788afb45a990f71c1e7e5b0b07"),
      "shiftedMjpeg" -> (() => offset(spark, 12, 6, 1000)(shiftedMjpeg),
        "81f78f5957f42ab70e2fdb25d7deb71ed2d9f51098558c9bb6fee8a6169359e2"),
      "shiftedH264" -> (() => offset(spark, 12, 6, 1000)(shiftedH264),
        "7fe8c6305b3b56cf80e4c9b85a3b3ea434359179cdc1f0fdf1964b5699f2d05b"),
      "shiftedMp4" -> (() => offset(spark, 12, 6, 1000)(shiftedMp4(fragmented = false)),
        "a1e05987d4fa46c9e93b3ce66d7322cb8cb42fb8e722aed152b492170cf24b67"),
      "shiftedMp4 fragmented" -> (() => offset(spark, 12, 6, 1000)(shiftedMp4(fragmented = true)),
        "dbcde6e7919d88a49a9b971146055ffc396df1eb98a1ebff6d21a884d2c1de72"),
      "delayedWav" -> (() => offset(spark, 20, 10, 1000)(delayedWav(noiseLsb = 0)),
        "02ddfc2a01bf2bb81954fde86215f271aaec27546f9a7aad68ec42ad165b4c2b"),
      "delayedWav noisy" -> (() => offset(spark, 12, 6, 1000)(delayedWav(noiseLsb = 300)),
        "63fe9cfb786e6d481ce8d15e7cc6c506f3024a73f4bdaa0a1f7b9e2b6f20eac5"),
      "delayedFlac" -> (() => offset(spark, 20, 10, 1000)(delayedFlac),
        "8927d5ab6a13a0e45966fcaaa7e67ed8c16e4162e5042504b162d98840f28ed1"),
      "resampledWav" -> (() => offset(spark, 20, 10, 2000)(resampledWav),
        "a44c1b92714aa98a5615407d7ea454f52137dd2d96d3ec32cb70e55261349f1d")))
  }
}
