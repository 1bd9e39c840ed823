package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import java.nio.{ByteBuffer, ByteOrder}

/** BIFF8 .xls / legacy .ppt extraction against synthetic CFB containers
  * built from the public [MS-CFB]/[MS-XLS]/[MS-PPT] structure (OoxmlSpec
  * style — the reference bundles no binary fixtures for these formats).
  */
class LegacyOfficeSpec extends AnyFunSuite {

  test("cfb writer round-trips through the cfb reader (mini + regular paths)") {
    val small = Array.tabulate[Byte](700)(i => (i % 251).toByte)   // mini path
    val big = Array.tabulate[Byte](5000)(i => (i * 7 % 251).toByte) // FAT path
    val cfb = CfbWriter.write(Seq("SmallStream" -> small, "BigStream" -> big))
    val cf = new Cfb.CompoundFile(cfb)
    assert(cf.stream("SmallStream").get.sameElements(small))
    assert(cf.stream("BigStream").get.sameElements(big))
    assert(cf.stream("Missing").isEmpty)
  }

  test("xls extracts LabelSst, Number, RK, MulRk and UTF-16 SST strings") {
    val r = TextExtractor.extract(LegacyOffice.sampleXls(), "legacy.xls")
    assert(r.error == null, s"error=${r.error}")
    assert(r.origMimeType == MimeDetect.Xls)
    assert(r.text ==
      "Region\tRevenue\nnorth\t1500.25\nsouth\t42\n7\t8\ncafé π note")
  }

  test("xls SST spanning Continue records is fully recovered") {
    val n = 2000 // ~18 KB of SST data: forces multiple Continue records
    val r = TextExtractor.extract(LegacyOffice.manyStringsXls(n), "big.xls")
    assert(r.error == null, s"error=${r.error}")
    val cells = r.text.split("[\t\n]")
    assert(cells.length == n)
    assert(cells.head == "s000000" && cells.last == f"s${n - 1}%06d")
    assert(cells.toSeq == (0 until n).map(i => f"s$i%06d"))
  }

  test("xls SST string split MID-STRING across Continue restarts its flags byte") {
    // hand-built SST: one 10-char compressed string cut after 4 chars;
    // the Continue fragment re-declares compressed encoding (0x00)
    def u16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32(v: Int) =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def cat(parts: Array[Byte]*) = parts.flatten.toArray
    val sstData = cat(i32(1), i32(1), u16(10), Array(0x00.toByte),
      "abcd".getBytes("ascii"))
    val contData = cat(Array(0x00.toByte), "efghij".getBytes("ascii"))
    val wb = cat(
      u16(0x0809), u16(16), u16(0x0600), u16(0x0005), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x00fc), u16(sstData.length), sstData,
      u16(0x003c), u16(contData.length), contData,
      u16(0x000a), u16(0),
      u16(0x0809), u16(16), u16(0x0600), u16(0x0010), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x00fd), u16(10), u16(0), u16(0), u16(0), i32(0),
      u16(0x000a), u16(0))
    val bytes = CfbWriter.write(Seq("Workbook" -> wb))
    assert(XlsText.extract(bytes, -1) == "abcdefghij")
  }

  test("xls SST claiming more strings than encoded degrades, not throws") {
    // header says 5 strings, only 1 is present, data ends exactly at
    // the record boundary — the crash shape a truncated download takes
    def u16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32(v: Int) =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def cat(parts: Array[Byte]*) = parts.flatten.toArray
    val sstData = cat(i32(5), i32(5), u16(2), Array(0x00.toByte), "ok".getBytes("ascii"))
    val wb = cat(
      u16(0x0809), u16(16), u16(0x0600), u16(0x0005), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x00fc), u16(sstData.length), sstData,
      u16(0x000a), u16(0),
      u16(0x0809), u16(16), u16(0x0600), u16(0x0010), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x00fd), u16(10), u16(0), u16(0), u16(0), i32(0),
      u16(0x000a), u16(0))
    val bytes = CfbWriter.write(Seq("Workbook" -> wb))
    assert(XlsText.extract(bytes, -1) == "ok") // recovered string still serves cells
  }

  test("ppt extracts TextCharsAtom and TextBytesAtom in document order") {
    val r = TextExtractor.extract(LegacyOffice.samplePpt(), "deck.ppt")
    assert(r.error == null, s"error=${r.error}")
    assert(r.origMimeType == MimeDetect.Ppt)
    assert(r.text == "Legacy Deck\nFirst point\nSecond point")
  }

  test("ole2 subtype detection reads container entries, not the filename") {
    // deliberately wrong/missing extensions: the directory entries win
    assert(MimeDetect.detect(LegacyOffice.sampleXls(), "mystery.bin") == MimeDetect.Xls)
    assert(MimeDetect.detect(LegacyOffice.samplePpt(), null) == MimeDetect.Ppt)
    val doc = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.dir, "simple.doc"))
    assert(MimeDetect.detect(doc, "renamed.dat") == MimeDetect.Doc)
  }

  test("capped ppt extraction is not starved by whitespace-only atoms") {
    // 200 spaces normalize to nothing; the budget must not count them
    def u16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32(v: Int) =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def atom(typ: Int, data: Array[Byte]) = u16(0) ++ u16(typ) ++ i32(data.length) ++ data
    val blank = atom(0x0fa8, (" " * 200).getBytes("windows-1252"))
    val real = atom(0x0fa8, "hello world".getBytes("windows-1252"))
    val body = blank ++ real
    val doc = u16(0x000f) ++ u16(0x03e8) ++ i32(body.length) ++ body
    val bytes = CfbWriter.write(Seq("PowerPoint Document" -> doc))
    assert(PptText.extract(bytes, 50) == "hello world")
  }

  test("xls Label record with a corrupt length claim degrades to its payload") {
    def u16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def i32(v: Int) =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def cat(parts: Array[Byte]*) = parts.flatten.toArray
    // cch claims 60000 chars; the record carries 2
    val label = cat(u16(0), u16(0), u16(0), u16(60000), Array(0x00.toByte),
      "ok".getBytes("ascii"))
    val wb = cat(
      u16(0x0809), u16(16), u16(0x0600), u16(0x0005), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x0809), u16(16), u16(0x0600), u16(0x0010), u16(0x0dbb), u16(0x07cc),
      i32(0), i32(0),
      u16(0x0204), u16(label.length), label,
      u16(0x000a), u16(0))
    val bytes = CfbWriter.write(Seq("Workbook" -> wb))
    assert(XlsText.extract(bytes, -1) == "ok")
  }

  test("fast-saved doc reassembles out-of-order mixed-encoding pieces") {
    val r = TextExtractor.extract(LegacyOffice.samplePiecedDoc(), "pieced.doc")
    assert(r.error == null, s"error=${r.error}")
    assert(r.origMimeType == MimeDetect.Doc)
    assert(r.text == "Fast-saved pieces survive.\nμ unicode πiece tail piece.")
    // the decoy at fcMin..fcMac must NOT leak in: only the piece table
    // yields this text, so the contiguous fallback was not taken
    assert(!r.text.contains("DECOY"))
  }

  test("doc with a corrupt Clx degrades to the contiguous fallback, not a throw") {
    val bytes = LegacyOffice.samplePiecedDoc()
    val cf = new Cfb.CompoundFile(bytes)
    val wd = cf.stream("WordDocument").get
    // break the Pcdt marker: the Prc skip lands on a byte that is
    // neither 0x01 nor 0x02 → piecedText returns None → fcMin/fcMac
    val tb = cf.stream("1Table").get.clone()
    tb(5) = 0x7f // Prc is 5 bytes (0x01 + cb=2 + 2 data); [5] is the 0x02
    val broken = CfbWriter.write(Seq("WordDocument" -> wd, "1Table" -> tb))
    val r = TextExtractor.extract(broken, "broken.doc")
    assert(r.error == null, s"error=${r.error}")
    // fallback reads the decoy region (the contiguous main-text range)
    assert(r.text == "DECOY SHOULD NOT APPEAR")
  }

  test("reference simple.doc still extracts its golden through the piece path") {
    // the real Word fixture carries a normal-save piece table; the new
    // primary path must reproduce the contiguous read's golden exactly
    val doc = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(graft.Fixtures.dir, "simple.doc"))
    val r = TextExtractor.extract(doc, "simple.doc")
    assert(r.error == null, s"error=${r.error}")
    assert(r.text.length == 931) // the golden text_chars every query pins
    assert(r.text.startsWith("A Simple WORD DOC File")) // the reference's own assert
  }

  test("xls and ppt respect the max-length cap") {
    assert(TextExtractor.extract(LegacyOffice.sampleXls(), "a.xls", maxLen = 9)
      .text.length <= 9)
    assert(TextExtractor.extract(LegacyOffice.samplePpt(), "a.ppt", maxLen = 5)
      .text.length <= 5)
  }
}
