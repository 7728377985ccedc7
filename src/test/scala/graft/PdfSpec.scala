package graft

import graft.functions.PdfText
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** F8 PDF text extraction on hand-built fixtures: a plain content
  * stream and a FlateDecode one, exercising Tj / TJ-with-kerning /
  * quote operators, escapes, octal and hex strings. */
class PdfSpec extends AnyFunSuite with LocalSpark {

  private val content =
    """BT
      |/F1 12 Tf 72 720 Td (Hello \(PDF\) world) Tj
      |0 -14 Td [(kerned) -250 (words) 20 (glued)] TJ
      |0 -14 Td (line\nbreak \101\102C) Tj
      |(quoted tail) '
      |ET""".stripMargin

  private def wrap(stream: Array[Byte], flate: Boolean): Array[Byte] = {
    val filter = if (flate) " /Filter /FlateDecode" else ""
    val head = s"%PDF-1.4\n1 0 obj << /Length ${stream.length}$filter >>\nstream\n"
      .getBytes(ISO_8859_1)
    val tail = "\nendstream\nendobj\ntrailer << /Root 1 0 R >>\n%%EOF"
      .getBytes(ISO_8859_1)
    head ++ stream ++ tail
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val buf = new Array[Byte](8192)
    val out = new java.io.ByteArrayOutputStream()
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def checkText(txt: String): Unit = {
    assert(txt.contains("Hello (PDF) world"), txt)
    assert(txt.contains("kerned wordsglued"), txt) // -250 em -> space, +20 -> none
    assert(txt.contains("line\nbreak ABC"), txt)   // \n escape + octal \101\102
    assert(txt.contains("quoted tail"), txt)
  }

  test("extracts text from a plain content stream") {
    checkText(PdfText.extract(wrap(content.getBytes(ISO_8859_1), flate = false)))
  }

  test("extracts text from a FlateDecode content stream") {
    checkText(PdfText.extract(wrap(deflate(content.getBytes(ISO_8859_1)), flate = true)))
  }

  test("extracts text from every stream of a multi-stream (multi-page) PDF") {
    def obj(n: Int, stream: Array[Byte], flate: Boolean): Array[Byte] = {
      val filter = if (flate) " /Filter /FlateDecode" else ""
      (s"$n 0 obj << /Length ${stream.length}$filter >>\nstream\n").getBytes(ISO_8859_1) ++
        stream ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1)
    }
    val page1 = deflate("BT (page one text) Tj ET".getBytes(ISO_8859_1))
    val page2 = deflate("BT (page two text) Tj ET".getBytes(ISO_8859_1))
    val page3 = "BT (page three text) Tj ET".getBytes(ISO_8859_1)
    val pdf = "%PDF-1.4\n".getBytes(ISO_8859_1) ++
      obj(1, page1, flate = true) ++ obj(2, page2, flate = true) ++
      obj(3, page3, flate = false) ++ "%%EOF".getBytes(ISO_8859_1)
    val txt = PdfText.extract(pdf)
    assert(txt.contains("page one text"), txt)
    assert(txt.contains("page two text"), txt)   // lost if stream bounds re-match "endstream"
    assert(txt.contains("page three text"), txt)
  }

  test("multi-digit indirect /Length falls back to endstream trim, not a truncated prefix") {
    // "/Length 99 0 R" must NOT be read as a direct length of 9 (regex
    // backtracking shrinking the capture until the indirect-ref lookahead
    // stops seeing "N R"); the extractor has to take the trim path and
    // recover the whole stream
    val ops = "BT (indirect length survives intact) Tj ET".getBytes(ISO_8859_1)
    val pdf = "%PDF-1.4\n1 0 obj << /Length 99 0 R >>\nstream\n".getBytes(ISO_8859_1) ++
      ops ++ "\nendstream\nendobj\n99 0 obj 41\nendobj\n%%EOF".getBytes(ISO_8859_1)
    assert(PdfText.extract(pdf) == "indirect length survives intact")
    // same for a FlateDecode stream, where a truncated prefix corrupts
    // rather than merely shortens the output
    val long = ("BT (" + "flate indirect length " * 20 + "end marker) Tj ET")
      .getBytes(ISO_8859_1)
    val body = deflate(long)
    val fpdf = ("%PDF-1.4\n1 0 obj << /Length 1234 0 R /Filter /FlateDecode >>\nstream\n")
      .getBytes(ISO_8859_1) ++ body ++
      "\nendstream\nendobj\n%%EOF".getBytes(ISO_8859_1)
    assert(PdfText.extract(fpdf).contains("end marker"))
  }

  test("hex strings decode; malformed input never throws") {
    val hex = "BT <48656C6C6F> Tj ET".getBytes(ISO_8859_1)
    assert(PdfText.extract(wrap(hex, flate = false)).contains("Hello"))
    assert(PdfText.extract("not a pdf at all".getBytes(ISO_8859_1)) == "")
    assert(PdfText.extract(Array[Byte](37, 80, 68, 70, 115, 116, 114, 101, 97, 109)) == "")
    assert(PdfText.extract(null) == null)
    // corrupt flate data -> recover nothing, no exception
    val bad = wrap("garbage-not-zlib".getBytes(ISO_8859_1), flate = true)
    assert(PdfText.extract(bad) == "")
  }

  test("property: generated text round-trips through PDF build + extract") {
    val rnd = new scala.util.Random(42)
    // printable ASCII incl. the chars needing escapes in literal strings
    val alphabet = (' ' to '~').mkString
    for (_ <- 1 to 60) {
      val raw = Array.fill(1 + rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val payload = raw.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
      val streams = Seq(s"BT ($payload) Tj ET".getBytes(ISO_8859_1))
      val flate = rnd.nextBoolean()
      val body = if (flate) deflate(streams.head) else streams.head
      val txt = PdfText.extract(wrap(body, flate))
      // extractor normalizes whitespace; compare under the same normalization
      val expected = graft.functions.TextFunctions.normalizeWs(raw)
      assert(txt == expected, s"round-trip failed for ${raw.take(80)} -> $txt")
    }
  }

  /** Hand-built Type0/CID PDF: page resources name /F7 → font obj 2
    * (Identity-H, /ToUnicode obj 3), content stream in obj 5. With
    * `fontFile2` the descendant gains /FontDescriptor 6 → /FontFile2 7
    * (the embedded TrueType program), and `cidToGid` adds a
    * /CIDToGIDMap stream as obj 8. */
  private def cidPdf(cmapBytes: Array[Byte], cmapFlate: Boolean,
                     contentOps: String, withToUnicode: Boolean = true,
                     fontFile2: Option[Array[Byte]] = None,
                     cidToGid: Option[Array[Byte]] = None,
                     fontFile3: Option[Array[Byte]] = None,
                     encodingCMap: Option[Array[Byte]] = None): Array[Byte] = {
    def obj(n: Int, body: String): String = s"$n 0 obj $body\nendobj\n"
    def streamObj(n: Int, data: Array[Byte], flate: Boolean): Array[Byte] = {
      val filter = if (flate) " /Filter /FlateDecode" else ""
      (s"$n 0 obj << /Length ${data.length}$filter >>\nstream\n").getBytes(ISO_8859_1) ++
        data ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1)
    }
    val toUni = if (withToUnicode) " /ToUnicode 3 0 R" else ""
    val anyProg = fontFile2.orElse(fontFile3)
    val descExtra = (if (anyProg.isDefined) " /FontDescriptor 6 0 R" else "") +
      (if (cidToGid.isDefined) " /CIDToGIDMap 8 0 R" else "")
    val ffKey = if (fontFile2.isDefined) "FontFile2" else "FontFile3"
    val fontObjs: Array[Byte] = anyProg.map { prog =>
      obj(6, s"<< /Type /FontDescriptor /FontName /TestCJK /$ffKey 7 0 R >>")
        .getBytes(ISO_8859_1) ++ streamObj(7, prog, flate = false) ++
        cidToGid.map(streamObj(8, _, flate = false)).getOrElse(Array.empty[Byte])
    }.getOrElse(Array.empty[Byte]) ++
      encodingCMap.map(streamObj(9, _, flate = false)).getOrElse(Array.empty[Byte])
    val encoding = if (encodingCMap.isDefined) "9 0 R" else "/Identity-H"
    "%PDF-1.4\n".getBytes(ISO_8859_1) ++
      obj(1, "<< /Type /Page /Resources << /Font << /F7 2 0 R >> >> /Contents 5 0 R >>")
        .getBytes(ISO_8859_1) ++
      obj(2, s"<< /Type /Font /Subtype /Type0 /BaseFont /TestCJK /Encoding $encoding$toUni /DescendantFonts [4 0 R] >>")
        .getBytes(ISO_8859_1) ++
      streamObj(3, cmapBytes, cmapFlate) ++
      obj(4, s"<< /Subtype /${if (fontFile3.isDefined) "CIDFontType0" else "CIDFontType2"}$descExtra >>")
        .getBytes(ISO_8859_1) ++
      streamObj(5, contentOps.getBytes(ISO_8859_1), flate = false) ++
      fontObjs ++
      "%%EOF".getBytes(ISO_8859_1)
  }

  private def be16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Minimal TrueType with one table: a cmap whose single subtable is the
    * given (platformID, encodingID, payload). */
  private def ttf(platform: Int, encoding: Int, subtable: Array[Byte]): Array[Byte] = {
    val cmap = be16(0) ++ be16(1) ++ // version, one encoding record
      be16(platform) ++ be16(encoding) ++ be32(12) ++ // subtable right after
      subtable
    // sfnt offset table + one table record pointing at the cmap
    be32(0x00010000L) ++ be16(1) ++ be16(16) ++ be16(0) ++ be16(0) ++
      "cmap".getBytes(ISO_8859_1) ++ be32(0) ++ be32(28) ++ be32(cmap.length) ++
      cmap
  }

  /** cmap format 4 from (startChar, endChar, idDelta) segments; the
    * 0xFFFF terminator segment is appended automatically. */
  private def cmap4(segs: (Int, Int, Int)*): Array[Byte] = {
    val all = segs :+ ((0xFFFF, 0xFFFF, 1))
    val segCount = all.length
    val body = all.flatMap(s => be16(s._2)).toArray ++ be16(0) ++ // endCodes, pad
      all.flatMap(s => be16(s._1)) ++                            // startCodes
      all.flatMap(s => be16(s._3 & 0xffff)) ++                   // idDeltas
      all.flatMap(_ => be16(0))                                  // idRangeOffsets
    be16(4) ++ be16(16 + body.length) ++ be16(0) ++ // format, length, language
      be16(segCount * 2) ++ be16(0) ++ be16(0) ++ be16(0) ++ body
  }

  /** cmap format 12 from (startChar, endChar, startGid) groups. */
  private def cmap12(groups: (Long, Long, Long)*): Array[Byte] =
    be16(12) ++ be16(0) ++ be32(16 + 12L * groups.length) ++ be32(0) ++
      be32(groups.length.toLong) ++
      groups.toArray.flatMap(g => be32(g._1) ++ be32(g._2) ++ be32(g._3))

  private val cmapText =
    """/CIDInit /ProcSet findresource begin
      |begincmap
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |3 beginbfchar
      |<0001> <0056>
      |<0002> <1EC7>
      |<0003> <D835DD0A>
      |endbfchar
      |1 beginbfrange
      |<0010> <0012> <0061>
      |endbfrange
      |endcmap""".stripMargin

  test("Type0/CID font with ToUnicode CMap: bfchar, surrogate pairs, bfrange") {
    val ops = "BT /F7 12 Tf <000100020003> Tj 0 -14 Td <001000110012> Tj ET"
    val txt = PdfText.extract(cidPdf(cmapText.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops))
    // <0001><0002><0003> -> V, U+1EC7 (ệ), U+1D50A (surrogate pair);
    // bfrange <0010>-<0012> from <0061> -> abc
    assert(txt == "Vệ𝔊\nabc", txt.map(_.toInt.toHexString))
  }

  test("Type0/CID: FlateDecode'd CMap and literal-string CIDs decode the same") {
    // the same codes as a literal string: bytes 00 01 00 02
    val ops = "BT /F7 12 Tf (\u0000\u0001\u0000\u0002) Tj ET"
    val txt = PdfText.extract(cidPdf(deflate(cmapText.getBytes(ISO_8859_1)),
      cmapFlate = true, contentOps = ops))
    assert(txt == "Vệ", txt.map(_.toInt.toHexString))
  }

  test("Type0 WITHOUT ToUnicode yields no text (quarantine), not mojibake") {
    val ops = "BT /F7 12 Tf <00010002> Tj ET"
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops, withToUnicode = false)
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "", txt.map(_.toInt.toHexString))
    assert(!viaFontProgram)
  }

  test("Type0 WITHOUT ToUnicode decodes via the embedded TrueType cmap (format 4, Identity CIDToGIDMap)") {
    // font program maps 'A'..'Z' -> gids 1..26; Identity-H + default
    // /CIDToGIDMap means CID == GID, so CIDs <0001><0002><0003> -> ABC
    val prog = ttf(3, 1, cmap4((0x41, 0x5A, 1 - 0x41)))
    assert(PdfText.ttfGidToUnicode(prog).get(1).contains("A"))
    val ops = "BT /F7 12 Tf <000100020003> Tj ET"
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = ops, withToUnicode = false, fontFile2 = Some(prog))
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "ABC", txt.map(_.toInt.toHexString))
    assert(viaFontProgram, "extract_status needs the no_tounicode_decoded signal")
    // the ToUnicode path must NOT raise the flag
    assert(!PdfText.extractDetail(cidPdf(cmapText.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = "BT /F7 12 Tf <0001> Tj ET"))._2)
  }

  test("Type0 WITHOUT ToUnicode: format 12 cmap + stream /CIDToGIDMap (non-BMP)") {
    // cmap format 12 maps U+1F600..U+1F602 -> gids 10..12; the
    // CIDToGIDMap stream routes CIDs 1,2,3 -> gids 10,11,12
    val prog = ttf(3, 10, cmap12((0x1F600L, 0x1F602L, 10L)))
    val c2g = Array(0, 0, 0, 10, 0, 11, 0, 12).map(_.toByte)
    val ops = "BT /F7 12 Tf <000100020003> Tj ET"
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = ops, withToUnicode = false, fontFile2 = Some(prog),
      cidToGid = Some(c2g))
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "😀😁😂", txt.map(_.toInt.toHexString))
    assert(viaFontProgram)
  }

  /** Minimal bare-CFF built straight from TN #5176's table layout:
    * header, Name INDEX, Top DICT INDEX (5-byte-int charset/CharStrings
    * offsets), String INDEX of `customNames`, charset format 0 with the
    * given per-glyph SIDs, CharStrings INDEX of 1-byte dummy glyphs.
    * `extraTopDict` prepends raw dict bytes (e.g. a /ROS to make the
    * font CID-keyed). */
  private def cff(sids: Seq[Int], customNames: Seq[String] = Nil,
                  extraTopDict: Array[Byte] = Array.empty): Array[Byte] = {
    def int5(v: Int): Array[Byte] =
      Array(29, (v >> 24) & 0xff, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
        .map(_.toByte)
    def idx(items: Seq[Array[Byte]]): Array[Byte] = {
      if (items.isEmpty) return be16(0)
      val offs = items.scanLeft(1)((a, it) => a + it.length)
      be16(items.length) ++ Array(1.toByte) ++ offs.map(_.toByte).toArray ++
        items.toArray.flatten
    }
    val nameIdx = idx(Seq("TestCFF".getBytes(ISO_8859_1)))
    val strIdx = idx(customNames.map(_.getBytes(ISO_8859_1)))
    // top dict = extra bytes + charset(15) + CharStrings(17): its length
    // is known before the offsets it carries, so one pass suffices
    val dictLen = extraTopDict.length + 12
    val topIdxLen = 2 + 1 + 2 + dictLen
    val header = Array(1, 0, 4, 1).map(_.toByte)
    val charsetOff = header.length + nameIdx.length + topIdxLen + strIdx.length
    val charset = Array(0.toByte) ++ sids.flatMap(be16) // format 0
    val charStringsOff = charsetOff + charset.length
    val dict = extraTopDict ++ int5(charsetOff) ++ Array(15.toByte) ++
      int5(charStringsOff) ++ Array(17.toByte)
    val topIdx = idx(Seq(dict))
    val charStrings = idx(Seq.fill(sids.length + 1)(Array(0x0e.toByte)))
    header ++ nameIdx ++ topIdx ++ strIdx ++ charset ++ charStrings
  }

  test("cffGidToUnicode: standard-string SIDs, custom uniXXXX names, CID-keyed rejection") {
    // glyphs 1..4 -> SIDs: 'H' (34+7), 'i' (66+8), space (1), custom
    // name "uni1EC7" at SID 391
    val m = PdfText.cffGidToUnicode(cff(Seq(41, 74, 1, 391), Seq("uni1EC7")))
    assert(m == Map(1 -> "H", 2 -> "i", 3 -> " ", 4 -> "ệ"), m)
    // a CID-keyed CFF (/ROS) has CIDs, not names: nothing to resolve
    val ros = Array(139, 139, 139, 12, 30).map(_.toByte) // 0 0 0 ROS
    assert(PdfText.cffGidToUnicode(cff(Seq(41, 74), extraTopDict = ros)).isEmpty)
    // malformed input never throws
    assert(PdfText.cffGidToUnicode("junk".getBytes(ISO_8859_1)).isEmpty)
    assert(PdfText.cffGidToUnicode(Array.empty[Byte]).isEmpty)
  }

  test("Type0 WITHOUT ToUnicode decodes via an embedded bare CFF (/FontFile3 charset names)") {
    // "Hi CFF" through standard-string SIDs only
    val sids = Seq(41, 74, 1, 36, 39, 39) // H i space C F F
    val ops = "BT /F7 12 Tf <000100020003000400050006> Tj ET"
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = ops, withToUnicode = false, fontFile3 = Some(cff(sids)))
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "Hi CFF", txt.map(_.toInt.toHexString))
    assert(viaFontProgram, "CFF fallback must raise the no_tounicode_decoded signal")
  }

  test("CID-keyed CFF without ToUnicode still quarantines (no names to decode through)") {
    val ros = Array(139, 139, 139, 12, 30).map(_.toByte)
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = "BT /F7 12 Tf <00010002> Tj ET", withToUnicode = false,
      fontFile3 = Some(cff(Seq(41, 74), extraTopDict = ros)))
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "" && !viaFontProgram, txt)
  }

  test("parseCidCMap: cidchar entries, cidrange expansion, first-definition-wins") {
    val m = PdfText.parseCidCMap(
      """2 begincidchar
        |<0041> 100
        |<0042> 200
        |endcidchar
        |1 begincidrange
        |<0060> <0063> 10
        |endcidrange
        |1 begincidchar
        |<0041> 999
        |endcidchar""".stripMargin)
    assert(m == Map(0x41 -> 100, 0x42 -> 200,
      0x60 -> 10, 0x61 -> 11, 0x62 -> 12, 0x63 -> 13), m)
    assert(PdfText.parseCidCMap("no cmap here").isEmpty)
  }

  test("Type0 with a non-Identity /Encoding CMap stream composes code→CID→unicode") {
    // encoding: show codes <0010>..<0012> -> CIDs 1..3; the TrueType
    // cmap maps 'A','B','C' -> gids 1,2,3 (Identity CIDToGIDMap), so
    // the composed chain decodes <001000110012> as ABC
    val delta = (1 - 0x41) & 0xffff
    val prog = ttf(3, 1, cmap4((0x41, 0x43, delta)))
    val enc =
      """1 begincidrange
        |<0010> <0012> 1
        |endcidrange""".stripMargin.getBytes(ISO_8859_1)
    val pdf = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = "BT /F7 12 Tf <001000110012> Tj ET", withToUnicode = false,
      fontFile2 = Some(prog), encodingCMap = Some(enc))
    val (txt, viaFontProgram) = PdfText.extractDetail(pdf)
    assert(txt == "ABC", txt.map(_.toInt.toHexString))
    assert(viaFontProgram)
    // the raw CID codes (no encoding indirection) must NOT decode here:
    // <0041> is a code the encoding CMap doesn't define
    val undefCode = cidPdf(cmapText.getBytes(ISO_8859_1), cmapFlate = false,
      contentOps = "BT /F7 12 Tf <0041> Tj ET", withToUnicode = false,
      fontFile2 = Some(prog), encodingCMap = Some(enc))
    assert(!PdfText.extract(undefCode).contains("A"))
  }

  test("ttfGidToUnicode: format 4 glyphIdArray path (idRangeOffset != 0) and malformed fonts") {
    // one segment [0x61,0x62] whose idRangeOffset=4 points into a
    // glyphIdArray [5,7] (the subset-font layout), plus the terminator
    val sub = be16(4) ++ be16(40) ++ be16(0) ++ be16(4) ++
      be16(0) ++ be16(0) ++ be16(0) ++
      be16(0x62) ++ be16(0xFFFF) ++ be16(0) ++
      be16(0x61) ++ be16(0xFFFF) ++
      be16(0) ++ be16(1) ++
      be16(4) ++ be16(0) ++
      be16(5) ++ be16(7)
    val m = PdfText.ttfGidToUnicode(ttf(3, 1, sub))
    assert(m == Map(5 -> "a", 7 -> "b"), m)
    assert(PdfText.ttfGidToUnicode("not a font".getBytes(ISO_8859_1)).isEmpty)
    assert(PdfText.ttfGidToUnicode(Array.empty[Byte]).isEmpty)
    // table record pointing past the end of the file
    assert(PdfText.ttfGidToUnicode(be32(0x00010000L) ++ be16(1) ++ be16(0) ++
      be16(0) ++ be16(0) ++ "cmap".getBytes(ISO_8859_1) ++ be32(0) ++
      be32(9999) ++ be32(4)).isEmpty)
  }

  test("font names are scoped per page: a later page reusing /F1 for a simple font keeps its text") {
    // page 1: /F1 -> Type0 with a ToUnicode that maps <6869>("hi") -> X;
    // page 2: /F1 -> a SIMPLE font. Document-wide first-wins decoding
    // would run page 2's "hi there" through page 1's CMap -> "X".
    val cmap =
      """begincmap
        |2 beginbfchar
        |<0001> <0056>
        |<6869> <0058>
        |endbfchar
        |endcmap""".stripMargin
    def obj(n: Int, body: String): String = s"$n 0 obj $body\nendobj\n"
    def streamObj(n: Int, data: Array[Byte]): Array[Byte] =
      (s"$n 0 obj << /Length ${data.length} >>\nstream\n").getBytes(ISO_8859_1) ++
        data ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1)
    val pdf = "%PDF-1.4\n".getBytes(ISO_8859_1) ++
      obj(1, "<< /Type /Page /Resources << /Font << /F1 2 0 R >> >> /Contents 5 0 R >>")
        .getBytes(ISO_8859_1) ++
      obj(2, "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 3 0 R /DescendantFonts [4 0 R] >>")
        .getBytes(ISO_8859_1) ++
      streamObj(3, cmap.getBytes(ISO_8859_1)) ++
      obj(4, "<< /Subtype /CIDFontType2 >>").getBytes(ISO_8859_1) ++
      streamObj(5, "BT /F1 12 Tf <0001> Tj ET".getBytes(ISO_8859_1)) ++
      obj(9, "<< /Type /Page /Resources << /Font << /F1 10 0 R >> >> /Contents 11 0 R >>")
        .getBytes(ISO_8859_1) ++
      obj(10, "<< /Type /Font /Subtype /TrueType /BaseFont /Helv >>")
        .getBytes(ISO_8859_1) ++
      streamObj(11, "BT /F1 12 Tf (hi there) Tj ET".getBytes(ISO_8859_1)) ++
      "%%EOF".getBytes(ISO_8859_1)
    val txt = PdfText.extract(pdf)
    assert(txt.contains("V"), txt)
    assert(txt.contains("hi there"), s"page-2 simple-font text lost: $txt")
    assert(!txt.contains("X"), s"page-2 text decoded through page-1's CMap: $txt")
  }

  test("a CMap that maps none of a printable string's codes passes it through (mis-scoped simple font)") {
    // no page structure at all (stream not claimed by any /Contents):
    // global scope applies the Type0 CMap to everything, but a printable
    // single-byte string whose codes are all unmapped must survive
    val ops = "BT /F7 12 Tf <0001> Tj (plain printable text!) Tj ET"
    val txt = PdfText.extract(cidPdf(cmapText.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops))
    assert(txt.contains("V"), txt)
    assert(txt.contains("plain printable text!"), txt)
  }

  test("CID decode is scoped to the Type0 font: a simple font in the same doc passes through") {
    // switch from /F7 (CID) to an unmapped simple-font name mid-stream
    val ops = "BT /F7 12 Tf <0001> Tj /Fplain 10 Tf (plain ascii) Tj ET"
    val txt = PdfText.extract(cidPdf(cmapText.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops))
    assert(txt.contains("V"), txt)
    assert(txt.contains("plain ascii"), txt)
  }

  test("LZWDecode: the PDF Reference's worked example decodes byte-exactly") {
    // PDF 32000 §7.4.4.2 sample: encoded 80 0B 60 50 22 0C 0C 85 01
    // decodes to the ten bytes 45×5, 65, 45×3, 66 (decimal) — exercises
    // clear code, the KwKwK case, and EOD
    val enc = Array(0x80, 0x0B, 0x60, 0x50, 0x22, 0x0C, 0x0C, 0x85, 0x01)
      .map(_.toByte)
    val dec = PdfText.lzwDecode(enc).get
    val expected = (Seq.fill(5)(45) ++ Seq(65) ++ Seq.fill(3)(45) :+ 66)
      .map(_.toByte)
    assert(dec.toSeq == expected, dec.toSeq)
    // malformed: a code beyond the table must yield None, not garbage
    assert(PdfText.lzwDecode(Array(0xFF, 0xFF, 0xFF).map(_.toByte)).isEmpty)
    assert(PdfText.lzwDecode(Array.empty[Byte]).isEmpty)
  }

  test("extracts text from an LZWDecode content stream") {
    // literal-coded LZW (clear, one code per byte, EOD) — spec-valid,
    // exercises the 9-bit MSB-first unpacking end-to-end through extract
    def lzwLiteral(data: Array[Byte]): Array[Byte] = {
      val codes = 256 +: data.map(b => b & 0xff).toSeq :+ 257
      val out = new java.io.ByteArrayOutputStream()
      var buf = 0L; var n = 0
      codes.foreach { c =>
        buf = (buf << 9) | c; n += 9
        while (n >= 8) { out.write(((buf >>> (n - 8)) & 0xff).toInt); n -= 8 }
      }
      if (n > 0) out.write(((buf << (8 - n)) & 0xff).toInt)
      out.toByteArray
    }
    val ops = "BT (lzw extracted text) Tj ET".getBytes(ISO_8859_1)
    val body = lzwLiteral(ops)
    val pdf = (s"%PDF-1.4\n1 0 obj << /Length ${body.length} /Filter /LZWDecode >>\nstream\n")
      .getBytes(ISO_8859_1) ++ body ++
      "\nendstream\nendobj\n%%EOF".getBytes(ISO_8859_1)
    assert(PdfText.extract(pdf) == "lzw extracted text")
  }

  test("font dicts inside a compressed /ObjStm are found (PDF 1.5 writers)") {
    // page + font dicts live INSIDE a FlateDecode'd object stream (the
    // modern writer layout); ToUnicode and content streams stay top-level
    val inner1 = "<< /Type /Page /Resources << /Font << /F7 2 0 R >> >> /Contents 5 0 R >>"
    val inner2 = "<< /Type /Font /Subtype /Type0 /Encoding /Identity-H /ToUnicode 3 0 R >>"
    val body = inner1 + " " + inner2
    val header = s"1 0 2 ${inner1.length + 1} "
    val payload = (header + body).getBytes(ISO_8859_1)
    val deflated = deflate(payload)
    val objStm =
      (s"6 0 obj << /Type /ObjStm /N 2 /First ${header.length} /Filter /FlateDecode " +
        s"/Length ${deflated.length} >>\nstream\n").getBytes(ISO_8859_1) ++
        deflated ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1)
    def streamObj(n: Int, data: Array[Byte]): Array[Byte] =
      (s"$n 0 obj << /Length ${data.length} >>\nstream\n").getBytes(ISO_8859_1) ++
        data ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1)
    val ops = "BT /F7 12 Tf <00010002> Tj ET"
    val pdf = "%PDF-1.5\n".getBytes(ISO_8859_1) ++ objStm ++
      streamObj(3, cmapText.getBytes(ISO_8859_1)) ++
      streamObj(5, ops.getBytes(ISO_8859_1)) ++
      "%%EOF".getBytes(ISO_8859_1)
    val txt = PdfText.extract(pdf)
    assert(txt == "Vệ", txt.map(_.toInt.toHexString))
  }

  test("malformed CMaps never throw and never explode memory") {
    // range claims 65536 entries; the parser caps total entries
    val bomb =
      """begincmap
        |1 beginbfrange
        |<0000> <FFFF> <0041>
        |endbfrange
        |endcmap""".stripMargin
    val ops = "BT /F7 12 Tf <0000> Tj ET"
    val txt = PdfText.extract(cidPdf(bomb.getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops))
    assert(txt == "A", txt)
    // truncated / garbage cmap -> empty map -> quarantined, no throw
    val junk = PdfText.extract(cidPdf("beginbfchar <00".getBytes(ISO_8859_1),
      cmapFlate = false, contentOps = ops))
    assert(junk == "")
  }

  test("rc4 matches the classic Key/Plaintext vector; involution holds") {
    val key = "Key".getBytes(ISO_8859_1)
    val ct = PdfText.rc4(key, "Plaintext".getBytes(ISO_8859_1))
    assert(ct.map("%02X".format(_)).mkString == "BBF316E8D940AF0AD3")
    assert(new String(PdfText.rc4(key, ct), ISO_8859_1) == "Plaintext")
  }

  /** Build an encrypted single-content-stream PDF with the standard
    * security handler (empty user password). The encryption key is
    * derived IN THE TEST straight from the spec's Algorithm 2 text, so
    * agreement with the extractor is two independent readings of the
    * spec, not code reuse. */
  private def encryptedPdf(text: String, r: Int, lengthBits: Int,
                           aes: Boolean, oBytes: Array[Byte],
                           userPw: String = ""): Array[Byte] = {
    val pad = Array(0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00,
      0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68,
      0x3E, 0x80, 0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)
    val p = -44
    val id = Array.tabulate(16)(i => (i * 17 + 3).toByte)
    def md5(parts: Array[Byte]*): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(md.update); md.digest()
    }
    val keyLen = if (r == 2) 5 else lengthBits / 8
    var key = md5((userPw.getBytes(ISO_8859_1) ++ pad).take(32), oBytes.take(32),
      Array[Byte]((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
        ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte), id)
    if (r >= 3) (1 to 50).foreach(_ => key = md5(key.take(keyLen)))
    val fileKey = key.take(keyLen)
    def objKey(num: Int): Array[Byte] = {
      val extra = if (aes) Array[Byte](0x73, 0x41, 0x6c, 0x54) else Array.empty[Byte]
      md5(fileKey, Array[Byte]((num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
        ((num >> 16) & 0xff).toByte, 0, 0), extra)
        .take(math.min(keyLen + 5, 16))
    }
    val ops = s"BT ($text) Tj ET".getBytes(ISO_8859_1)
    val encOps: Array[Byte] =
      if (aes) {
        val iv = Array.tabulate(16)(i => (i * 7 + 1).toByte)
        val padLen = 16 - (ops.length % 16)
        val padded = ops ++ Array.fill(padLen)(padLen.toByte)
        val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
        c.init(javax.crypto.Cipher.ENCRYPT_MODE,
          new javax.crypto.spec.SecretKeySpec(objKey(1), "AES"),
          new javax.crypto.spec.IvParameterSpec(iv))
        iv ++ c.doFinal(padded)
      } else PdfText.rc4(objKey(1), ops)
    val cf = if (aes)
      " /V 4 /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF"
    else s" /V 2"
    // /U per Algorithm 4 (R2: RC4 of the pad) / Algorithm 5 (R>=3:
    // MD5(pad ++ id) through 20 xor-keyed RC4 passes, zero-padded) — an
    // independent spec reading; the extractor validates against it
    val uBytes: Array[Byte] =
      if (r == 2) PdfText.rc4(fileKey, pad)
      else {
        var uc = PdfText.rc4(fileKey, md5(pad, id))
        for (i <- 1 to 19) uc = PdfText.rc4(fileKey.map(b => (b ^ i).toByte), uc)
        uc ++ new Array[Byte](16)
      }
    val oHex = oBytes.map("%02X".format(_)).mkString
    val uHex = uBytes.map("%02X".format(_)).mkString
    val idHex = id.map("%02X".format(_)).mkString
    (s"%PDF-1.4\n1 0 obj << /Length ${encOps.length} >>\nstream\n").getBytes(ISO_8859_1) ++
      encOps ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1) ++
      (s"2 0 obj << /Filter /Standard /R $r$cf /Length $lengthBits /P $p /O <$oHex> " +
        s"/U <$uHex> >>\nendobj\n").getBytes(ISO_8859_1) ++
      (s"trailer << /Root 1 0 R /Encrypt 2 0 R /ID [<$idHex> <$idHex>] >>\n%%EOF")
        .getBytes(ISO_8859_1)
  }

  private val oFixture = Array.tabulate(32)(i => (i * 31 + 7).toByte)

  test("encrypted PDF (standard handler, RC4 128-bit, empty user password) extracts") {
    val pdf = encryptedPdf("rc4 encrypted text", r = 3, lengthBits = 128,
      aes = false, oBytes = oFixture)
    assert(PdfText.extract(pdf) == "rc4 encrypted text")
  }

  test("encrypted PDF (RC4 40-bit R2) extracts") {
    val pdf = encryptedPdf("forty bit rc4", r = 2, lengthBits = 40,
      aes = false, oBytes = oFixture)
    assert(PdfText.extract(pdf) == "forty bit rc4")
  }

  test("encrypted PDF (AESV2, AES-128-CBC) extracts") {
    val pdf = encryptedPdf("aes encrypted text", r = 4, lengthBits = 128,
      aes = true, oBytes = oFixture)
    assert(PdfText.extract(pdf) == "aes encrypted text")
  }

  test("a real-user-password document decrypts to garbage and extracts nothing") {
    // tamper a key-derivation input (/P) after encryption: the extractor's
    // empty-password key no longer matches the one the content was
    // encrypted under — the same mismatch a real user password causes
    val good = encryptedPdf("secret words", r = 3, lengthBits = 128,
      aes = false, oBytes = oFixture)
    val bad = new String(good, ISO_8859_1).replace("/P -44", "/P -60")
      .getBytes(ISO_8859_1)
    val txt = PdfText.extract(bad)
    assert(!txt.contains("secret"), s"wrong key must not extract: $txt")
  }

  import PdfFixtures.encryptedPdfV5

  test("encrypted PDF (R6 AES-256, empty user password) extracts") {
    val pdf = encryptedPdfV5("aes256 revision six", r = 6, userPw = "")
    assert(PdfText.extract(pdf) == "aes256 revision six")
  }

  test("encrypted PDF (R5 AES-256/AESV3, empty user password) extracts") {
    val pdf = encryptedPdfV5("aes256 revision five", r = 5, userPw = "")
    assert(PdfText.extract(pdf) == "aes256 revision five")
  }

  test("R6 document with a REAL user password fails validation and extracts nothing") {
    val pdf = encryptedPdfV5("locked away", r = 6, userPw = "real-password")
    val txt = PdfText.extract(pdf)
    assert(!txt.contains("locked"), s"must not extract without the password: $txt")
  }

  test("supplying the user password unlocks an R6 AES-256 document") {
    val pdf = encryptedPdfV5("unlocked by password", r = 6, userPw = "real-password")
    assert(PdfText.extract(pdf, "real-password") == "unlocked by password")
    assert(PdfText.extract(pdf, "wrong-password") == "")
  }

  test("supplying the OWNER password unlocks an R6 document via the /OE path") {
    // every encryptedPdfV5 fixture carries owner password "owner-secret"
    val pdf = encryptedPdfV5("owner can read", r = 6, userPw = "real-password")
    assert(PdfText.extract(pdf, "owner-secret") == "owner can read")
  }

  test("supplying the user password unlocks an R3 RC4 document") {
    val pdf = encryptedPdf("classic protected text", r = 3, lengthBits = 128,
      aes = false, oBytes = oFixture, userPw = "hunter2")
    assert(PdfText.extract(pdf, "hunter2") == "classic protected text")
    // wrong password → wrong key → garbage → nothing extractable
    assert(!PdfText.extract(pdf).contains("classic"))
  }

  test("passwordRequired flags encrypted-and-locked across revisions, never plain docs") {
    // R3 RC4 with a real password: locked without it, open with it —
    // and the Algorithm-5 /U check blocks the garbage-decrypt path
    val r3 = encryptedPdf("validated text", r = 3, lengthBits = 128,
      aes = false, oBytes = oFixture, userPw = "pw3")
    assert(PdfText.extractFull(r3).passwordRequired)
    assert(PdfText.extractFull(r3).text == "")
    val withPw = PdfText.extractFull(r3, "pw3")
    assert(!withPw.passwordRequired && withPw.text == "validated text")
    // R6 AES-256 the same
    val r6 = encryptedPdfV5("v5 text", r = 6, userPw = "pw6")
    assert(PdfText.extractFull(r6).passwordRequired)
    assert(!PdfText.extractFull(r6, "pw6").passwordRequired)
    // empty-password encrypted docs open: NOT password_required
    assert(!PdfText.extractFull(encryptedPdf("open enc", r = 3,
      lengthBits = 128, aes = false, oBytes = oFixture)).passwordRequired)
    // unencrypted docs: never
    assert(!PdfText.extractFull(wrap(content.getBytes(ISO_8859_1),
      flate = false)).passwordRequired)
  }

  test("pdfToTextUdf extracts over a binary column") {
    import spark.implicits._
    val pdf = wrap(content.getBytes(ISO_8859_1), flate = false)
    val df = Seq(Tuple1(pdf)).toDF("content")
      .select(PdfText.pdfToTextUdf(col("content")).as("text"))
    checkText(df.head.getString(0))
  }
}

/** Shared encrypted-PDF fixture builders (independent spec readings,
  * NOT reusing production code) — used by PdfSpec and MultimodalSpec. */
object PdfFixtures {
  /** Independent reading of the R5/R6 password hash: R5 = one SHA-256
    * pass; R6 = ISO 32000-2 Algorithm 2.B (SHA-256/384/512 picked by an
    * AES-128-CBC pass over the 64× repeated block, ≥64 rounds). */
  def pwHash(r: Int, pw: Array[Byte], salt: Array[Byte],
                     udata: Array[Byte]): Array[Byte] = {
    def dg(alg: String, d: Array[Byte]) =
      java.security.MessageDigest.getInstance(alg).digest(d)
    if (r == 5) return dg("SHA-256", pw ++ salt ++ udata)
    var k = dg("SHA-256", pw ++ salt ++ udata)
    var i = 0
    var last = 0
    while (i < 64 || last > i - 32) {
      val block = pw ++ k ++ udata
      val k1 = Array.fill(64)(block).flatten
      val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(k.take(16), "AES"),
        new javax.crypto.spec.IvParameterSpec(k.slice(16, 32)))
      val e = c.doFinal(k1)
      val alg = (e.take(16).map(_ & 0xff).sum % 3) match {
        case 0 => "SHA-256"; case 1 => "SHA-384"; case _ => "SHA-512"
      }
      k = dg(alg, e)
      last = e.last & 0xff
      i += 1
    }
    k.take(32)
  }

  def aes(encrypt: Boolean, key: Array[Byte], iv: Array[Byte],
                  data: Array[Byte]): Array[Byte] = {
    val c = javax.crypto.Cipher.getInstance("AES/CBC/NoPadding")
    c.init(if (encrypt) javax.crypto.Cipher.ENCRYPT_MODE
           else javax.crypto.Cipher.DECRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    c.doFinal(data)
  }

  /** Build an AES-256 (V5) encrypted PDF for revision 5 or 6 with the
    * given user password ("" = the crawled no-prompt case) and a real
    * owner password. U/UE/O/OE are constructed per Algorithms 8-9; the
    * content stream is AES-256-CBC under the file key directly. */
  def encryptedPdfV5(text: String, r: Int, userPw: String): Array[Byte] = {
    val pw = userPw.getBytes(ISO_8859_1)
    val fileKey = Array.tabulate(32)(i => (i * 13 + 5).toByte)
    val uvs = Array.tabulate(8)(i => (i * 3 + 1).toByte)  // user validation salt
    val uks = Array.tabulate(8)(i => (i * 5 + 2).toByte)  // user key salt
    val u = pwHash(r, pw, uvs, Array.empty) ++ uvs ++ uks
    val ue = aes(encrypt = true, pwHash(r, pw, uks, Array.empty),
      new Array[Byte](16), fileKey)
    val opw = "owner-secret".getBytes(ISO_8859_1)
    val ovs = Array.tabulate(8)(i => (i * 7 + 3).toByte)
    val oks = Array.tabulate(8)(i => (i * 11 + 4).toByte)
    val o = pwHash(r, opw, ovs, u) ++ ovs ++ oks
    val oe = aes(encrypt = true, pwHash(r, opw, oks, u),
      new Array[Byte](16), fileKey)
    val ops = s"BT ($text) Tj ET".getBytes(ISO_8859_1)
    val iv = Array.tabulate(16)(i => (i * 9 + 1).toByte)
    val padLen = 16 - (ops.length % 16)
    val enc = iv ++ aes(encrypt = true, fileKey, iv,
      ops ++ Array.fill(padLen)(padLen.toByte))
    def hex(b: Array[Byte]) = b.map("%02X".format(_)).mkString
    (s"%PDF-1.7\n1 0 obj << /Length ${enc.length} >>\nstream\n").getBytes(ISO_8859_1) ++
      enc ++ "\nendstream\nendobj\n".getBytes(ISO_8859_1) ++
      (s"2 0 obj << /Filter /Standard /V 5 /R $r /Length 256" +
        " /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF" +
        s" /P -44 /O <${hex(o)}> /U <${hex(u)}> /OE <${hex(oe)}> /UE <${hex(ue)}>" +
        " >>\nendobj\n").getBytes(ISO_8859_1) ++
      "trailer << /Root 1 0 R /Encrypt 2 0 R >>\n%%EOF".getBytes(ISO_8859_1)
  }

}
