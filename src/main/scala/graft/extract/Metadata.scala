package graft.extract

/** Document-metadata extraction — the engine's `ExtractMediaMetadata`
  * analogue (56409-tika.xml:1726-1761: Tika metadata → attributes,
  * `Max Number of Attributes=5000`, `Max Attribute Length=2048`).
  *
  * Per-format sources:
  *  - PDF: the `/Info` dictionary's string values (Title, Author,
  *    Producer, CreationDate, …) located by key regex — tolerant of
  *    malformed xref, like the text path;
  *  - DOCX: `docProps/core.xml` + `docProps/app.xml` elements;
  *  - DOC: the [MS-OLEPS] SummaryInformation property set (author,
  *    app, timestamps, page/word/char counts) + CFB stream listing;
  *  - always: `Content-Type` and `Content-Length`.
  */
object Metadata {
  val MaxAttributes = 5000
  val MaxValueLength = 2048

  /** The processor's four config properties (56409-tika.xml:1726-1760):
    * attribute-count / value-length caps, `Metadata Key Filter` (regex a
    * key must fully match to be kept; None keeps all), and `Metadata Key
    * Prefix` (prepended to every surviving key). */
  final case class Options(maxAttributes: Int = MaxAttributes,
                           maxValueLength: Int = MaxValueLength,
                           keyFilter: Option[String] = None,
                           keyPrefix: String = "")

  /** The attributes of one document; null for null content. A damaged
    * container (say, a truncated zip) keeps its `Content-Type` and
    * `Content-Length` and loses only its format-specific attributes:
    * the text path reports the damage as its `error`. */
  def extract(bytes: Array[Byte], filename: String,
              opts: Options = Options()): Map[String, String] = {
    if (bytes == null) return null
    val mime = MimeDetect.detect(bytes, filename)
    val base = Map("Content-Type" -> mime, "Content-Length" -> bytes.length.toString)
    val specific = try mime match {
      case MimeDetect.Pdf  => pdfInfo(bytes)
      case MimeDetect.Docx => docxProps(bytes)
      case MimeDetect.Doc  => docProps(bytes)
      case MimeDetect.Jpeg => jpegMeta(bytes)
      case MimeDetect.Png  => pngMeta(bytes)
      case MimeDetect.Gif  => gifMeta(bytes)
      case MimeDetect.Tiff => tiffMeta(bytes)
      case MimeDetect.Mp4 | MimeDetect.Mp4Audio => mp4Meta(bytes)
      case MimeDetect.Wav  => wavMeta(bytes)
      case MimeDetect.Mp3  => mp3Meta(bytes)
      case _               => Map.empty[String, String]
    } catch { case _: Exception => Map.empty[String, String] }
    cap(base ++ specific, opts)
  }

  /** RIFF/WAVE attributes from the `fmt ` and `data` chunk headers
    * (canonical RIFF walk; multimedia spec is public): channels, sample
    * rate, bit depth, and the exact duration the data length implies. */
  private def wavMeta(bytes: Array[Byte]): Map[String, String] = {
    def u16(i: Int): Int = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def u32(i: Int): Long = (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
      ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var channels = 0
    var rate = 0L
    var block = 0
    var i = 12 // past RIFF size + WAVE
    while (i + 8 <= bytes.length) {
      val id = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
      val len = u32(i + 4)
      if (id == "fmt " && i + 24 <= bytes.length) {
        channels = u16(i + 10)
        rate = u32(i + 12)
        block = u16(i + 20)
        m += ("Channels" -> channels.toString)
        m += ("Sample-Rate" -> rate.toString)
        m += ("Bits-Per-Sample" -> u16(i + 22).toString)
      } else if (id == "data" && rate > 0 && block > 0) {
        m += ("Duration-Ms" -> (len / block * 1000L / rate).toString)
      }
      i += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    m.toMap
  }

  /** MPEG audio attributes: ID3v2.3/2.4 text frames (informal standard,
    * id3.org — TIT2/TPE1/TALB/TYER/TDRC/TRCK) plus the first MPEG audio
    * frame header's version/layer/bitrate/samplerate/channel-mode bits
    * (ISO 11172-3 §2.4.1.3), and an exact duration from a full
    * frame-by-frame walk (per-frame headers, so VBR is handled without
    * trusting any single bitrate). */
  private def mp3Meta(bytes: Array[Byte]): Map[String, String] = {
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var audioStart = 0
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      val v2minor = bytes(3) & 0xff
      // tag size is syncsafe (4×7 bits), excludes the 10-byte header
      val tagSize = ((bytes(6) & 0x7f) << 21) | ((bytes(7) & 0x7f) << 14) |
        ((bytes(8) & 0x7f) << 7) | (bytes(9) & 0x7f)
      val tagEnd = math.min(10 + tagSize, bytes.length)
      audioStart = tagEnd
      val frameKeys = Map("TIT2" -> "Title", "TPE1" -> "Artist",
        "TALB" -> "Album", "TYER" -> "Year", "TDRC" -> "Year", "TRCK" -> "Track")
      var i = 10
      var done = false
      while (!done && i + 10 <= tagEnd) {
        val id = new String(bytes, i, 4, java.nio.charset.StandardCharsets.ISO_8859_1)
        if (!id.forall(c => c.isLetterOrDigit && (c.isDigit || c.isUpper))) done = true
        else {
          // v2.4 frame sizes are syncsafe; v2.3's are plain big-endian
          val sz =
            if (v2minor >= 4) ((bytes(i + 4) & 0x7f) << 21) | ((bytes(i + 5) & 0x7f) << 14) |
              ((bytes(i + 6) & 0x7f) << 7) | (bytes(i + 7) & 0x7f)
            else ((bytes(i + 4) & 0xff) << 24) | ((bytes(i + 5) & 0xff) << 16) |
              ((bytes(i + 6) & 0xff) << 8) | (bytes(i + 7) & 0xff)
          val body = i + 10
          if (sz <= 0 || body + sz > tagEnd) done = true
          else {
            frameKeys.get(id).foreach { key =>
              // text frames: leading encoding byte (0=Latin-1, 1=UTF-16
              // with BOM, 2=UTF-16BE, 3=UTF-8), then the value
              val cs = (bytes(body) & 0xff) match {
                case 1 => java.nio.charset.StandardCharsets.UTF_16
                case 2 => java.nio.charset.StandardCharsets.UTF_16BE
                case 3 => java.nio.charset.StandardCharsets.UTF_8
                case _ => java.nio.charset.StandardCharsets.ISO_8859_1
              }
              val v = new String(bytes, body + 1, sz - 1, cs)
                .takeWhile(_ != '\u0000').trim
              if (v.nonEmpty && !m.contains(key)) m += (key -> v)
            }
            i = body + sz
          }
        }
      }
    }
    // first frame header → format attributes; then walk every frame for
    // the sample-exact duration
    val Bitrates = Map( // kbps; index 0 = "free", 15 = invalid
      (1, 1) -> Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
      (1, 2) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
      (1, 3) -> Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
      (2, 1) -> Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
      (2, 2) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
      (2, 3) -> Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160))
    val SampleRates = Map(1 -> Array(44100, 48000, 32000),
      2 -> Array(22050, 24000, 16000), 25 -> Array(11025, 12000, 8000))
    def frameAt(p: Int): Option[(Int, Int, Int, Int, Int, Int)] = {
      if (p + 4 > bytes.length || (bytes(p) & 0xff) != 0xff ||
          (bytes(p + 1) & 0xe0) != 0xe0) return None
      val verBits = (bytes(p + 1) >> 3) & 3
      val layerBits = (bytes(p + 1) >> 1) & 3
      val brIdx = (bytes(p + 2) >> 4) & 15
      val srIdx = (bytes(p + 2) >> 2) & 3
      val pad = (bytes(p + 2) >> 1) & 1
      val mode = (bytes(p + 3) >> 6) & 3
      if (verBits == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 || srIdx == 3)
        return None
      val ver = verBits match { case 3 => 1; case 2 => 2; case _ => 25 } // 25 = "2.5"
      val layer = 4 - layerBits
      val br = Bitrates((math.min(ver, 2), layer))(brIdx) * 1000
      val sr = SampleRates(ver)(srIdx)
      val spf = (ver, layer) match {
        case (_, 1) => 384
        case (_, 2) => 1152
        case (1, 3) => 1152
        case _      => 576
      }
      val len =
        if (layer == 1) (12 * br / sr + pad) * 4
        else spf / 8 * br / sr + pad
      if (len <= 4) None
      else Some((ver, layer, br, sr, if (mode == 3) 1 else 2, len))
    }
    // locate the first valid frame at-or-after the tag (tolerate junk)
    var p = audioStart
    var first: Option[(Int, Int, Int, Int, Int, Int)] = None
    while (first.isEmpty && p + 4 <= bytes.length && p < audioStart + 4096) {
      first = frameAt(p)
      if (first.isEmpty) p += 1
    }
    first.foreach { case (ver, layer, br, sr, ch, _) =>
      m += ("MPEG-Version" -> (if (ver == 25) "2.5" else ver.toString))
      m += ("Layer" -> layer.toString)
      m += ("Bitrate" -> br.toString)
      m += ("Sample-Rate" -> sr.toString)
      m += ("Channels" -> ch.toString)
      var samples = 0L
      var q = p
      var ok = true
      while (ok) frameAt(q) match {
        case Some((v2, l2, _, sr2, _, len)) if sr2 == sr =>
          val spf = (v2, l2) match {
            case (_, 1) => 384
            case (_, 2) => 1152
            case (1, 3) => 1152
            case _      => 576
          }
          samples += spf; q += len
        case _ => ok = false
      }
      m += ("Duration-Ms" -> (samples * 1000L / sr).toString)
    }
    m.toMap
  }

  /** ISO BMFF container attributes via the shared [[Bmff]] walker —
    * duration, track count, stsd codec fourccs, first video track's
    * dimensions (the same Image-Width/Height keys the image branches
    * emit, per the attribute convention). */
  private def mp4Meta(bytes: Array[Byte]): Map[String, String] = {
    val (durMs, nTracks, codecs, w, h) = Bmff.parse(bytes)
    if (nTracks < 0) Map.empty
    else {
      val m = scala.collection.mutable.LinkedHashMap[String, String]()
      if (durMs >= 0) m += ("Duration-Ms" -> durMs.toString)
      m += ("Track-Count" -> nTracks.toString)
      if (codecs.nonEmpty) m += ("Codecs" -> codecs)
      if (w > 0) { m += ("Image-Width" -> w.toString); m += ("Image-Height" -> h.toString) }
      m.toMap
    }
  }

  // compiled keyFilter patterns, memoized per executor — cap() runs per
  // ROW inside the metadata UDF, and Pattern.compile per row is pure waste
  private val filterCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()

  private def cap(m: Map[String, String], opts: Options): Map[String, String] = {
    val kept = opts.keyFilter match {
      case Some(re) =>
        val p = filterCache.computeIfAbsent(re, java.util.regex.Pattern.compile(_))
        m.filter { case (k, _) => p.matcher(k).matches() }
      case None => m
    }
    kept.take(opts.maxAttributes).map { case (k, v) =>
      (opts.keyPrefix + k) ->
        (if (v.length > opts.maxValueLength) v.substring(0, opts.maxValueLength) else v)
    }
  }

  private val PdfInfoKeys =
    List("Title", "Author", "Subject", "Keywords", "Creator", "Producer",
      "CreationDate", "ModDate")

  private def pdfInfo(bytes: Array[Byte]): Map[String, String] =
    PdfCrypt.decryptor(bytes) match {
      case Some(d) => encryptedPdfInfo(bytes, d)
      case None    => plainPdfInfo(bytes)
    }

  private def plainPdfInfo(bytes: Array[Byte]): Map[String, String] = {
    // Raw scan sees uncompressed Info dicts; writers that compress the
    // xref (PDF 1.5+) serialize Info inside a /ObjStm, so scan those
    // inflated too. Raw wins on key collision (it is the newer
    // incremental-update generation when both exist).
    val raw = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val objStm = PdfText.objectStreamText(bytes)
    def scan(txt: String): Map[String, String] =
      PdfInfoKeys.flatMap { key =>
        val p = java.util.regex.Pattern.compile("/" + key + "\\s*\\(((?:[^()\\\\]|\\\\.)*)\\)")
        val m = p.matcher(txt)
        if (m.find()) {
          val v = unescapePdf(m.group(1)).trim
          if (v.nonEmpty) Some(key -> v) else None
        } else None
      }.toMap
    scan(infoDictSlices(objStm)) ++ scan(raw)
  }

  /** Standard-security documents encrypt every Info STRING with the
    * Info object's own Algorithm-1 key (ISO 32000 §7.6.2) — the raw
    * regex scan would see ciphertext. Resolve `/Info N G R`, parse the
    * string values at byte level (hex or literal), decrypt each with
    * objKey(N, G), then decode (UTF-16BE when BOM-led, else
    * latin-1/PDFDocEncoding) — the same transparent behavior as the
    * reference's PDFBox path. */
  private def encryptedPdfInfo(bytes: Array[Byte],
                               d: PdfCrypt.Decryptor): Map[String, String] = {
    val txt = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val result = for {
      ref <- "/Info\\s+(\\d+)\\s+(\\d+)\\s+R".r.findAllMatchIn(txt).toList.lastOption
      num = ref.group(1).toInt
      gen = ref.group(2).toInt
      hdr <- s"(?<![0-9])$num\\s+$gen\\s+obj".r.findAllMatchIn(txt).toList.lastOption
    } yield {
      val end = txt.indexOf("endobj", hdr.end)
      val dict = txt.substring(hdr.end, if (end < 0) txt.length else end)
      PdfInfoKeys.flatMap { key =>
        PdfCrypt.pdfString(dict, "/" + key).flatMap { enc =>
          val v = decodePdfText(d.decrypt(num, gen, enc)).trim
          if (v.nonEmpty) Some(key -> v) else None
        }
      }.toMap
    }
    result.getOrElse(Map.empty)
  }

  /** PDF text-string decoding: UTF-16BE with BOM, else latin-1 (the
    * printable subset of PDFDocEncoding). */
  private def decodePdfText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Object streams serialize EVERY kind of dictionary — outlines also
    * carry `/Title` — so restrict the ObjStm scan to dictionary slices
    * that look like an Info dict: at least two distinct Info keys
    * present. (Slices are cut `<<`-to-next-`<<`; Info dicts don't nest
    * in practice.) */
  private def infoDictSlices(txt: String): String = {
    val out = new StringBuilder
    var s = txt.indexOf("<<")
    while (s >= 0) {
      val next = txt.indexOf("<<", s + 2)
      val end = math.min(if (next < 0) txt.length else next, s + 2000)
      val slice = txt.substring(s, end)
      if (PdfInfoKeys.count(k => slice.contains("/" + k)) >= 2)
        out.append(slice).append('\n')
      s = next
    }
    out.toString
  }

  private def unescapePdf(s: String): String =
    s.replace("\\(", "(").replace("\\)", ")").replace("\\\\", "\\")

  private def docxProps(bytes: Array[Byte]): Map[String, String] = {
    def propsOf(entry: String): Map[String, String] =
      DocxText.zipEntry(bytes, entry).map(xmlLeafText).getOrElse(Map.empty)
    propsOf("docProps/core.xml") ++ propsOf("docProps/app.xml")
  }

  /** Flat leaf-element text of a small XML doc, keyed by local name. */
  private def xmlLeafText(xml: Array[Byte]): Map[String, String] = {
    import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}
    val xif = XMLInputFactory.newInstance()
    xif.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    xif.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    val r = xif.createXMLStreamReader(new java.io.ByteArrayInputStream(xml))
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    var current: String = null
    val text = new java.lang.StringBuilder()
    try {
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            current = r.getLocalName; text.setLength(0)
          case XMLStreamConstants.CHARACTERS if current != null =>
            text.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            val t = text.toString.trim
            if (current != null && current == r.getLocalName && t.nonEmpty)
              out.getOrElseUpdate(current, t)
            current = null; text.setLength(0)
          case _ =>
        }
      }
    } finally r.close()
    out.toMap
  }

  // ---- image metadata (ExtractMediaMetadata's media-first usage) -----

  /** JPEG: segment walk for SOF dimensions + APP1 "Exif" TIFF tags
    * (orientation, make/model, timestamps). Stops at SOS (entropy
    * data); tolerant of missing EXIF (plain JFIF). */
  private def jpegMeta(bytes: Array[Byte]): Map[String, String] =
    try {
      def u16be(off: Int): Int = ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
      var out = Map.empty[String, String]
      var off = 2 // past SOI
      var done = false
      while (!done && off + 4 <= bytes.length) {
        if ((bytes(off) & 0xff) != 0xff) { done = true }
        else {
          val marker = bytes(off + 1) & 0xff
          if (marker == 0xff) off += 1 // fill byte
          else if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) off += 2
          else {
            val len = u16be(off + 2)
            val seg = off + 4
            marker match {
              case m if (m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc =>
                // SOFn: precision u8, height u16, width u16
                out += ("Image-Height" -> u16be(seg + 1).toString)
                out += ("Image-Width" -> u16be(seg + 3).toString)
              case 0xe1 if seg + 6 <= bytes.length &&
                  new String(bytes, seg, 4, java.nio.charset.StandardCharsets.US_ASCII) == "Exif" =>
                out ++= tiffTags(bytes, seg + 6, seg + len - 2)
              case 0xda => done = true // SOS: compressed data follows
              case _ =>
            }
            off += 2 + len
          }
        }
      }
      out
    } catch { case _: Exception => Map.empty }

  private val TiffTagNames = Map(
    0x0100 -> "ImageWidth", 0x0101 -> "ImageLength",
    0x010e -> "ImageDescription", 0x010f -> "Make", 0x0110 -> "Model",
    0x0112 -> "Orientation", 0x0132 -> "DateTime",
    0x9003 -> "DateTimeOriginal", 0x9004 -> "DateTimeDigitized")

  /** Minimal TIFF IFD reader (EXIF baseline): II/MM endianness, IFD0's
    * ASCII/SHORT/LONG tags, and one hop through the Exif-IFD pointer
    * (0x8769) where DateTimeOriginal lives. */
  private def tiffTags(bytes: Array[Byte], tiff: Int, end: Int): Map[String, String] =
    try {
      val le = bytes(tiff) == 'I' && bytes(tiff + 1) == 'I'
      def u16(off: Int): Int =
        if (le) (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
        else ((bytes(off) & 0xff) << 8) | (bytes(off + 1) & 0xff)
      def u32(off: Int): Int =
        if (le) (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8) |
          ((bytes(off + 2) & 0xff) << 16) | ((bytes(off + 3) & 0xff) << 24)
        else ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      if (u16(tiff + 2) != 42) return Map.empty

      def readIfd(ifdOff: Int, depth: Int): Map[String, String] = {
        if (depth > 2 || tiff + ifdOff + 2 > end) return Map.empty
        val base = tiff + ifdOff
        val n = u16(base)
        (0 until n).foldLeft(Map.empty[String, String]) { (acc, i) =>
          val e = base + 2 + i * 12
          if (e + 12 > end) acc
          else {
            val tag = u16(e)
            val typ = u16(e + 2)
            val count = u32(e + 4)
            if (tag == 0x8769 && typ == 4) acc ++ readIfd(u32(e + 8), depth + 1)
            else TiffTagNames.get(tag) match {
              case Some(name) if typ == 2 && count > 0 => // ASCII
                val vOff = if (count <= 4) e + 8 else tiff + u32(e + 8)
                if (vOff + count > end + 1) acc
                else {
                  val v = new String(bytes, vOff, math.min(count, end - vOff),
                    java.nio.charset.StandardCharsets.US_ASCII)
                    .takeWhile(_ != '\u0000').trim
                  if (v.nonEmpty) acc + (name -> v) else acc
                }
              case Some(name) if typ == 3 => acc + (name -> u16(e + 8).toString)
              case Some(name) if typ == 4 => acc + (name -> u32(e + 8).toString)
              case _ => acc
            }
          }
        }
      }
      readIfd(u32(tiff + 4), 0)
    } catch { case _: Exception => Map.empty }

  /** PNG: IHDR dimensions/bit-depth/color-type + uncompressed tEXt
    * key-value chunks (keyword-namespaced to avoid colliding with the
    * structural keys). */
  private def pngMeta(bytes: Array[Byte]): Map[String, String] =
    try {
      def u32be(off: Int): Int =
        ((bytes(off) & 0xff) << 24) | ((bytes(off + 1) & 0xff) << 16) |
          ((bytes(off + 2) & 0xff) << 8) | (bytes(off + 3) & 0xff)
      var out = Map.empty[String, String]
      var off = 8 // past signature
      var done = false
      while (!done && off + 8 <= bytes.length) {
        val len = u32be(off)
        val typ = new String(bytes, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val data = off + 8
        if (len < 0 || data + len > bytes.length) done = true
        else {
          typ match {
            case "IHDR" if len >= 13 =>
              out += ("Image-Width" -> u32be(data).toString)
              out += ("Image-Height" -> u32be(data + 4).toString)
              out += ("Bit-Depth" -> (bytes(data + 8) & 0xff).toString)
              out += ("Color-Type" -> (bytes(data + 9) & 0xff).toString)
            case "tEXt" =>
              val nul = (data until data + len).indexWhere(bytes(_) == 0) match {
                case -1 => -1
                case k  => data + k
              }
              if (nul > data) {
                val k = new String(bytes, data, nul - data,
                  java.nio.charset.StandardCharsets.ISO_8859_1)
                val v = new String(bytes, nul + 1, data + len - nul - 1,
                  java.nio.charset.StandardCharsets.ISO_8859_1)
                out += (s"tEXt:$k" -> v)
              }
            case "IEND" => done = true
            case _ =>
          }
          off = data + len + 4 // skip CRC
        }
      }
      out
    } catch { case _: Exception => Map.empty }

  /** Bare TIFF container: the SAME IFD walk the JPEG APP1/EXIF path
    * uses, rooted at the file's own header (offset 0) — ImageWidth /
    * ImageLength are baseline IFD0 tags, so a `.tif` reports its
    * dimensions plus any ASCII description tags it carries. */
  private def tiffMeta(bytes: Array[Byte]): Map[String, String] =
    tiffTags(bytes, 0, bytes.length)

  /** GIF: logical-screen dimensions from the fixed header. */
  private def gifMeta(bytes: Array[Byte]): Map[String, String] =
    try {
      if (bytes.length < 10) Map.empty
      else Map(
        "Image-Width" -> ((bytes(6) & 0xff) | ((bytes(7) & 0xff) << 8)).toString,
        "Image-Height" -> ((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)).toString)
    } catch { case _: Exception => Map.empty }

  // [MS-OLEPS] SummaryInformation property ids → Tika-style names
  private val SummaryPropNames = Map(
    2 -> "Title", 3 -> "Subject", 4 -> "Author", 5 -> "Keywords",
    6 -> "Comments", 7 -> "Template", 8 -> "LastAuthor", 9 -> "RevNumber",
    11 -> "LastPrinted", 12 -> "CreateDtm", 13 -> "LastSaveDtm",
    14 -> "PageCount", 15 -> "WordCount", 16 -> "CharCount", 18 -> "AppName")

  private def docProps(bytes: Array[Byte]): Map[String, String] =
    try {
      val cf = new Cfb.CompoundFile(bytes)
      val summary = cf.stream("\u0005SummaryInformation")
        .map(parsePropertySet(_, SummaryPropNames)).getOrElse(Map.empty)
      val docSummary = cf.stream("\u0005DocumentSummaryInformation")
        .map(parsePropertySet(_, DocSummaryPropNames)).getOrElse(Map.empty)
      summary ++ docSummary ++ Map("Cfb-Streams" ->
        cf.entries.filter(_.objType == 2).map(_.name.filter(_ >= ' ')).sorted.mkString(","))
    } catch { case _: Exception => Map.empty }

  // [MS-OLEPS] DocumentSummaryInformation ids (the second OLE property
  // set Word writes) → POI/Tika-style names
  private val DocSummaryPropNames = Map(
    2 -> "Category", 3 -> "PresentationTarget", 4 -> "ByteCount",
    5 -> "LineCount", 6 -> "ParCount", 7 -> "SlideCount", 8 -> "NoteCount",
    9 -> "HiddenCount", 10 -> "MMClipCount", 11 -> "ScaleCrop",
    14 -> "Manager", 15 -> "Company", 16 -> "LinksUpToDate",
    17 -> "CharCountWithSpaces", 19 -> "SharedDoc", 22 -> "HyperlinksChanged",
    23 -> "AppVersion")

  /** Minimal [MS-OLEPS] property-set reader: first section's VT_LPSTR /
    * VT_I2 / VT_I4 / VT_BOOL / VT_FILETIME properties by id. */
  private def parsePropertySet(si: Array[Byte],
                               names: Map[Int, String]): Map[String, String] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def u32(off: Int): Int = ByteBuffer.wrap(si, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
    def u64(off: Int): Long = ByteBuffer.wrap(si, off, 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    if (si.length < 48 || (si(0) & 0xff) != 0xfe || (si(1) & 0xff) != 0xff) return Map.empty
    val secOff = u32(44)
    val nProps = u32(secOff + 4)
    (0 until math.min(nProps, MaxAttributes)).flatMap { i =>
      val pid = u32(secOff + 8 + i * 8)
      val pOff = secOff + u32(secOff + 12 + i * 8)
      if (pOff + 4 > si.length) None
      else names.get(pid).flatMap { name =>
        u32(pOff) match {
          case 30 => // VT_LPSTR: CodePage string, NUL-terminated
            val cch = u32(pOff + 4)
            if (cch <= 0 || pOff + 8 + cch > si.length) None
            else {
              val raw = new String(si, pOff + 8, cch,
                java.nio.charset.Charset.forName("windows-1252"))
              val v = raw.takeWhile(_ != '\u0000').trim
              if (v.nonEmpty) Some(name -> v) else None
            }
          case 2 | 3 => Some(name -> u32(pOff + 4).toString) // VT_I2/VT_I4
          case 11 => // VT_BOOL: 0xFFFF true / 0x0000 false
            Some(name -> ((u32(pOff + 4) & 0xffff) != 0).toString)
          case 64 => // VT_FILETIME: 100ns ticks since 1601-01-01
            val ticks = u64(pOff + 4)
            if (ticks == 0) None
            else {
              val instant = java.time.Instant.ofEpochMilli(
                ticks / 10000L - 11644473600000L)
              Some(name -> instant.toString)
            }
          case _ => None
        }
      }
    }.toMap
  }
}
