package graft.fixtures

import java.nio.charset.StandardCharsets.ISO_8859_1
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import java.security.MessageDigest

/** Fixture-side encoders the decoder kernel must invert: PDF standard
  * security handler encryption (RC4 / AES-128-CBC) and font structures
  * (ToUnicode CMaps, Differences, CID /W arrays, minimal TrueType with a
  * format-4 cmap, Type1 with encoding tokens). Deterministic.
  */
object PdfBuilderAdvanced {
  import PdfBuilder._

  private val PADDING: Array[Byte] = Array(
    0x28, 0xbf, 0x4e, 0x5e, 0x4e, 0x75, 0x8a, 0x41, 0x64, 0x00, 0x4e, 0x56,
    0xff, 0xfa, 0x01, 0x08, 0x2e, 0x2e, 0x00, 0xb6, 0xd0, 0x68, 0x3e, 0x80,
    0x2f, 0x0c, 0xa9, 0xfe, 0x64, 0x53, 0x69, 0x7a).map(_.toByte)

  final case class EncSpec(revision: Int, keyBits: Int, aes: Boolean, docId: Array[Byte], p: Long = -44L) {
    val oValue: Array[Byte] = PADDING // owner hash: arbitrary fixed bytes for fixtures

    def fileKey: Array[Byte] = {
      val d = MessageDigest.getInstance("MD5")
      d.update(PADDING) // empty user password padded
      // get_user_pad(decode_string(/O)) with our /O = PADDING: pad to 32
      d.update(PADDING.take(32))
      d.update(Array[Byte]((p & 0xff).toByte, ((p >> 8) & 0xff).toByte,
        ((p >> 16) & 0xff).toByte, ((p >> 24) & 0xff).toByte))
      d.update(docId)
      var digest = d.digest()
      val kl = keyBits / 8
      if (revision >= 3) {
        var k = 0
        while (k < 50) {
          val d2 = MessageDigest.getInstance("MD5")
          d2.update(digest, 0, kl)
          digest = d2.digest()
          k += 1
        }
      }
      digest.take(kl)
    }

    def objKey(n: Int, g: Int): Array[Byte] = {
      val fk = fileKey
      val buf = new java.io.ByteArrayOutputStream()
      buf.write(fk, 0, fk.length)
      buf.write(n & 0xff); buf.write((n >> 8) & 0xff); buf.write((n >> 16) & 0xff)
      buf.write(g & 0xff); buf.write((g >> 8) & 0xff)
      if (aes) { buf.write(0x73); buf.write(0x41); buf.write(0x6c); buf.write(0x54) }
      val key = MessageDigest.getInstance("MD5").digest(buf.toByteArray)
      val keyLen = if (fk.length <= 11) fk.length + 5 else 16
      key.take(keyLen)
    }

    def encrypt(n: Int, g: Int, data: Array[Byte]): Array[Byte] = {
      val key = objKey(n, g)
      if (!aes) {
        val c = Cipher.getInstance("ARCFOUR")
        c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
        c.doFinal(data)
      } else {
        // deterministic IV derived from (n, g)
        val iv = MessageDigest.getInstance("MD5").digest(s"iv-$n-$g".getBytes)
        val c = Cipher.getInstance("AES/CBC/PKCS5Padding")
        c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
        iv ++ c.doFinal(data)
      }
    }

    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

    def encryptDictBody: String = {
      val base = s"/Filter /Standard /R $revision /V ${if (aes) 4 else if (revision == 2) 1 else 2} " +
        s"/Length $keyBits /P $p /O <${hex(oValue)}> /U <${hex(PADDING)}>"
      if (aes) s"<< $base /CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >> /StmF /StdCF /StrF /StdCF >>"
      else s"<< $base >>"
    }
  }

  /** one-page encrypted PDF: content stream + any literal strings inside it
    * are encrypted with the per-object key of the content object (id 4). */
  def encryptedOnePage(contentPlain: Array[Byte], enc: EncSpec): Array[Byte] = {
    val encContent = enc.encrypt(4, 0, contentPlain)
    val objs = Seq(
      ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
      ObjSpec(4, s"<< /Length ${encContent.length} >>", Some(encContent)),
      ObjSpec(5, enc.encryptDictBody),
      courier(6))
    classicXref(objs, 1, s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]")
  }

  /** one-page encrypted PDF under an xref stream with the page tree packed
    * in an encrypted ObjStm. ids: 1 catalog, 2 pages, 3 page, 4 content
    * (direct, encrypted), 5 encrypt dict (direct, plaintext), 6 font;
    * 1/2/3/6 packed into the ObjStm (id 7, encrypted with objKey(7,0));
    * xref stream id 8 plain. */
  def encXrefObjStm(contentPlain: Array[Byte], enc: EncSpec): Array[Byte] = {
    val encContent = enc.encrypt(4, 0, contentPlain)
    val objs = Seq(
      ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
      ObjSpec(4, s"<< /Length ${encContent.length} >>", Some(encContent)),
      ObjSpec(5, enc.encryptDictBody),
      courier(6))
    xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 6),
      extraTrailer = s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]",
      objStmTransform = raw => enc.encrypt(7, 0, raw))
  }

  // ---- fonts ---------------------------------------------------------------

  /** simple Type1 font with /Differences remapping */
  def fontWithDifferences(id: Int, diffs: String): ObjSpec =
    ObjSpec(id, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
      s"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding /Differences [$diffs] >> >>")

  /** ToUnicode CMap stream text for given single-byte code->unicode pairs */
  def toUnicodeCMap(bfchars: Seq[(Int, String)], bfranges: Seq[(Int, Int, String)] = Nil): String = {
    val sb = new StringBuilder
    sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
    sb.append("/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n")
    sb.append("1 begincodespacerange\n<00> <FF>\nendcodespacerange\n")
    if (bfchars.nonEmpty) {
      sb.append(s"${bfchars.size} beginbfchar\n")
      bfchars.foreach { case (code, uni) =>
        val hexU = uni.flatMap(c => f"${c.toInt}%04X")
        sb.append(f"<$code%02X> <$hexU>\n")
      }
      sb.append("endbfchar\n")
    }
    if (bfranges.nonEmpty) {
      sb.append(s"${bfranges.size} beginbfrange\n")
      bfranges.foreach { case (lo, hi, startUni) =>
        val hexU = startUni.flatMap(c => f"${c.toInt}%04X")
        sb.append(f"<$lo%02X> <$hi%02X> <$hexU>\n")
      }
      sb.append("endbfrange\n")
    }
    sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
    sb.toString
  }

  /** simple font carrying a /ToUnicode stream (stream gets object id `tuId`) */
  def fontWithToUnicode(id: Int, tuId: Int): ObjSpec =
    ObjSpec(id, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
      s"/Encoding /WinAnsiEncoding /ToUnicode $tuId 0 R >>")

  def streamObj(id: Int, data: Array[Byte], extra: String = ""): ObjSpec =
    ObjSpec(id, s"<< /Length ${data.length}$extra >>", Some(data))

  /** Type0 (Identity-H) CID font: 2-byte codes map straight to UTF-16BE */
  def type0IdentityH(id: Int, descendantId: Int): Seq[ObjSpec] = Seq(
    ObjSpec(id, "<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-CID " +
      s"/Encoding /Identity-H /DescendantFonts [$descendantId 0 R] >>"),
    ObjSpec(descendantId, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture-CID " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      "/DW 1000 /W [ 0 [ 600 600 600 600 ] ] >>"))

  /** minimal TrueType binary with ONLY a cmap table (format 4): maps
    * unicode chars to glyph ids per `pairs` (char -> gid) */
  def minimalTrueType(pairs: Seq[(Char, Int)]): Array[Byte] = {
    val sorted = pairs.sortBy(_._1)
    val segCount = sorted.length + 1 // + final 0xFFFF segment
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def u32(v: Long): Unit = {
      out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
      out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
    }
    // offset table: version, numTables=1, searchRange etc
    u32(0x00010000L); u16(1); u16(16); u16(0); u16(0)
    // table record: tag 'cmap', checksum 0, offset 28, length computed later
    val cmapOffset = 12 + 16
    out.write("cmap".getBytes(ISO_8859_1)); u32(0); u32(cmapOffset); u32(0)
    // cmap header: version 0, numTables 1; encoding record platform 3, enc 1, offset 12
    u16(0); u16(1); u16(3); u16(1); u32(12)
    // format 4 subtable
    val segCountX2 = segCount * 2
    val length = 16 + segCount * 8 // header(14) + 2 reservedPad? compute: 14 + 2 + segCount*2*4
    u16(4); u16(16 + segCount * 8); u16(0)
    u16(segCountX2); u16(0); u16(0); u16(0) // searchRange etc unused by parser
    sorted.foreach { case (c, _) => u16(c) } // endCodes
    u16(0xffff)
    u16(0) // reservedPad
    sorted.foreach { case (c, _) => u16(c) } // startCodes
    u16(0xffff)
    sorted.foreach { case (c, gid) => u16((gid - c) & 0xffff) } // idDelta
    u16(1) // final segment idDelta (maps 0xFFFF -> 0, never used)
    (0 until segCount).foreach(_ => u16(0)) // idRangeOffsets all 0
    out.toByteArray
  }

  /** simple TrueType font whose unicode mapping comes from FontFile2 */
  def fontWithFontFile2(id: Int, descId: Int, ffId: Int): Seq[ObjSpec] = Seq(
    ObjSpec(id, "<< /Type /Font /Subtype /TrueType /BaseFont /FixtureTT " +
      s"/FirstChar 0 /FontDescriptor $descId 0 R >>"),
    ObjSpec(descId, s"<< /Type /FontDescriptor /FontName /FixtureTT /Flags 4 " +
      s"/FontBBox [0 -200 1000 900] /Ascent 700 /Descent -200 /FontFile2 $ffId 0 R >>"))

  /** Type1 font program prefix with `dup <code> /<name> put` tokens; the
    * kernel scans these before `currentfile eexec` (font_file.cc:26-57) */
  def type1FontProgram(mappings: Seq[(Int, String)]): Array[Byte] = {
    val sb = new StringBuilder("%!PS-AdobeFont-1.0: Fixture\n/Encoding 256 array\n")
    sb.append("0 1 255 {1 index exch /.notdef put} for\n")
    mappings.foreach { case (code, glyph) => sb.append(s"dup $code /$glyph put\n") }
    sb.append("readonly def\ncurrentfile eexec\n0000\n")
    bytes(sb.toString)
  }

  def fontWithFontFile(id: Int, descId: Int, ffId: Int): Seq[ObjSpec] = Seq(
    ObjSpec(id, "<< /Type /Font /Subtype /Type1 /BaseFont /FixtureT1 " +
      s"/FirstChar 0 /FontDescriptor $descId 0 R >>"),
    ObjSpec(descId, s"<< /Type /FontDescriptor /FontName /FixtureT1 /Flags 4 " +
      s"/FontBBox [0 -200 1000 900] /Ascent 700 /Descent -200 /FontFile $ffId 0 R >>"))

  /** Form XObject with /BBox; nested content */
  def formXObject(id: Int, content: Array[Byte], fontRef: String = "/F1 6 0 R"): ObjSpec =
    ObjSpec(id, s"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
      s"/Matrix [2 0 0 2 10 10] /Resources << /Font << $fontRef >> >> /Length ${content.length} >>",
      Some(content))

  /** incremental update: append a new page-3 content object + new xref
    * section with /Prev pointing at the original xref */
  def withIncrementalUpdate(original: Array[Byte], newContent: Array[Byte], contentObjId: Int): Array[Byte] = {
    val origStr = str(original)
    val origStartxref = origStr.lastIndexOf("startxref")
    val origXrefOff = origStr.substring(origStartxref + 9).trim.takeWhile(_.isDigit)
    val out = new java.io.ByteArrayOutputStream()
    out.write(original)
    val objOffset = out.size()
    out.write(bytes(s"$contentObjId 0 obj\n<< /Length ${newContent.length} >>\nstream\n"))
    out.write(newContent)
    out.write(bytes("\nendstream\nendobj\n"))
    val xrefOff = out.size()
    out.write(bytes(s"xref\n$contentObjId 1\n" + f"$objOffset%010d ${0}%05d n \n"))
    out.write(bytes(s"trailer\n<< /Size ${contentObjId + 1} /Root 1 0 R /Prev $origXrefOff >>\n" +
      s"startxref\n$xrefOff\n%%EOF\n"))
    out.toByteArray
  }
}
