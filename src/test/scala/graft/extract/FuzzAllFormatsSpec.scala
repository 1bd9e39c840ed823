package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** Corrupt-input sweep across EVERY format the engine parses: at
  * 100 TB a corpus is guaranteed to contain damaged members of every
  * kind, and the contract everywhere is "error row, never an executor
  * crash". Each synthetic fixture is subjected to seeded truncations
  * and multi-byte mutations; TextExtractor and Metadata must return
  * (the error contract / partial attributes), never throw.
  *
  * Deterministic LCG mutations — reproducible without scalatestplus. */
class FuzzAllFormatsSpec extends AnyFunSuite {

  private val fixtures: Seq[(String, () => Array[Byte])] = Seq(
    "legacy.xls" -> (() => LegacyOffice.sampleXls()),
    "legacy.ppt" -> (() => LegacyOffice.samplePpt()),
    "pieced.doc" -> (() => LegacyOffice.samplePiecedDoc()),
    "secured_rc4.pdf" -> (() => SecuredPdf.securedRc4()),
    "secured_aes.pdf" -> (() => SecuredPdf.securedAes()),
    "secured_aes256.pdf" -> (() => SecuredPdf.securedAes256()),
    "cid.pdf" -> (() => CidFontPdf.sample()),
    "synth.docx" -> (() => SynthDocs.bytesFor(1L)),
    "doc.odt" -> (() => OpenDocFixtures.sampleOdt()),
    "sheet.ods" -> (() => OpenDocFixtures.sampleOds()),
    "deck.odp" -> (() => OpenDocFixtures.sampleOdp()),
    "book.epub" -> (() => OpenDocFixtures.sampleEpub()),
    "mail.eml" -> (() => OpenDocFixtures.sampleEml()),
    "photo.jpg" -> (() => MediaFixtures.jpegWithExif()),
    "chart.png" -> (() => MediaFixtures.pngWithText()),
    "anim.gif" -> (() => MediaFixtures.gifSmall()),
    "tone.wav" -> (() => MediaFixtures.wavSmall()),
    "song.mp3" -> (() => MediaFixtures.mp3Small()),
    "clip.mp4" -> (() => Bmff.syntheticMp4(7L)),
    // round-18 heavy synthetic corpus generators: a torn FlateDecode
    // stream, a mutated CFB FAT/piece table, and a damaged AES body
    // are exactly what a crawl delivery contains at scale
    "heavy_flate.pdf" -> (() => SynthHeavyDocs.bytesFor(0L)),
    "heavy_pieced.doc" -> (() => SynthHeavyDocs.bytesFor(1L)),
    "heavy_enc.pdf" -> (() => SynthHeavyDocs.bytesFor(2L)))

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed)(s => s * 6364136223846793005L + 1442695040888963407L).drop(1)

  test("every format survives seeded truncation at any cut point") {
    for ((name, make) <- fixtures) {
      val full = make()
      val cuts = lcg(name.hashCode.toLong).map(r => math.floorMod(r, full.length.toLong).toInt)
        .take(12).toSeq ++ Seq(0, 1, full.length - 1)
      for (cut <- cuts) {
        val r = TextExtractor.extract(full.take(cut), name)
        assert(r.error != null || r.text != null, s"$name cut=$cut")
        Metadata.extract(full.take(cut), name) // must not throw
      }
    }
  }

  test("every format survives seeded multi-byte mutation") {
    for ((name, make) <- fixtures; round <- 0 until 6) {
      val bytes = make()
      val rng = lcg(name.hashCode.toLong * 31 + round)
      val muts = rng.take(8).toSeq
      for (m <- muts) {
        val pos = math.floorMod(m, bytes.length.toLong).toInt
        bytes(pos) = (bytes(pos) ^ (m >>> 8).toByte).toByte
      }
      val r = TextExtractor.extract(bytes, name)
      assert(r.error != null || r.text != null, s"$name round=$round")
      Metadata.extract(bytes, name) // must not throw
    }
  }

  test("random binary garbage routes to the error/empty contract") {
    for (seed <- 0 until 10) {
      val n = 64 + seed * 137
      val junk = lcg(seed.toLong * 77 + 5).take(n).map(_.toByte).toArray
      val r = TextExtractor.extract(junk, s"junk$seed.bin")
      assert(r.error != null || r.text != null)
      Metadata.extract(junk, s"junk$seed.bin")
    }
  }
}
