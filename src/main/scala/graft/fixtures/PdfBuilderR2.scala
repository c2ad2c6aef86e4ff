package graft.fixtures

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Round-2 fixture builders for the differential fuzz vs the reference
  * binary: nested Form XObjects, multi-deep /Prev chains, content-stream
  * predictors (PNG row filters 0-3 + TIFF), mixed filter arrays with
  * /DecodeParms arrays, multi-byte ToUnicode codespaces, bfrange array
  * form, and TrueType cmap subtable formats 0/2/6/12 (incl. multi-subtable
  * fonts). All deterministic; every byte constructed here.
  */
object PdfBuilderR2 {
  import PdfBuilder._

  // ---- predictors (encode side) ---------------------------------------------
  /** TIFF predictor 2 encode (colors=1, bpc=8): horizontal differencing per
    * row; data length must be a multiple of columns. */
  def tiffDiffEncode(data: Array[Byte], columns: Int): Array[Byte] = {
    require(data.length % columns == 0, "pad data to a row multiple first")
    val out = new Array[Byte](data.length)
    var i = 0
    while (i < data.length) {
      var j = 0
      while (j < columns) {
        val left = if (j == 0) 0 else data(i + j - 1) & 0xff
        out(i + j) = (((data(i + j) & 0xff) - left) & 0xff).toByte
        j += 1
      }
      i += columns
    }
    out
  }

  /** PNG predictor encode with a caller-chosen row filter type (0=None,
    * 1=Sub, 2=Up, 3=Average) per row; /Predictor >= 10 in DecodeParms just
    * signals "PNG", the actual type is the per-row tag byte. */
  def pngEncode(data: Array[Byte], columns: Int, rowFilter: Int => Int): Array[Byte] = {
    require(data.length % columns == 0, "pad data to a row multiple first")
    val out = new java.io.ByteArrayOutputStream()
    val prev = new Array[Byte](columns)
    var row = 0
    var i = 0
    while (i < data.length) {
      val ft = rowFilter(row) & 3
      out.write(ft)
      var j = 0
      while (j < columns) {
        val cur = data(i + j) & 0xff
        val left = if (j == 0) 0 else data(i + j - 1) & 0xff
        val up = prev(j) & 0xff
        val enc = ft match {
          case 0 => cur
          case 1 => (cur - left) & 0xff
          case 2 => (cur - up) & 0xff
          case _ => (cur - ((left + up) / 2)) & 0xff
        }
        out.write(enc)
        prev(j) = data(i + j)
        j += 1
      }
      i += columns
      row += 1
    }
    out.toByteArray
  }

  /** pad text content with newlines to a row multiple (whitespace is
    * token-neutral in content streams) */
  def padToColumns(content: Array[Byte], columns: Int): Array[Byte] = {
    val rem = content.length % columns
    if (rem == 0) content
    else content ++ Array.fill(columns - rem)('\n'.toByte)
  }

  // ---- page assembly with XObject resources ----------------------------------
  /** Form XObject with custom /Resources body (for nesting: include an
    * /XObject entry pointing at the inner form) */
  def formX(id: Int, content: Array[Byte], resources: String, bbox: Boolean = true,
      subtype: String = "/Form", matrix: String = ""): ObjSpec = {
    val bb = if (bbox) " /BBox [0 0 612 792]" else ""
    ObjSpec(id, s"<< /Type /XObject /Subtype $subtype$bb$matrix " +
      s"/Resources << $resources >> /Length ${content.length} >>", Some(content))
  }

  /** one-page doc whose page carries both /Font and /XObject resources */
  def onePageWithXObjects(
      content: Array[Byte],
      fonts: Map[String, Int],
      xobjects: Map[String, Int],
      extraObjs: Seq[ObjSpec]): Array[Byte] = {
    val fontRefs = fonts.map { case (n, id) => s"$n $id 0 R" }.mkString(" ")
    val xRefs = xobjects.map { case (n, id) => s"$n $id 0 R" }.mkString(" ")
    val objs = Seq(
      ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      ObjSpec(3, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << $fontRefs >> /XObject << $xRefs >> >> /Contents 4 0 R >>"),
      ObjSpec(4, s"<< /Length ${content.length} >>", Some(content))) ++ extraObjs
    classicXref(objs, 1)
  }

  // ---- ToUnicode with arbitrary code widths + bfrange array form --------------
  /** CMap text with explicit codespace ranges and hex-string entries.
    * `codespaces`: (loHex, hiHex) pairs (width = hex length / 2).
    * `bfchars`: (codeHex, utf16beHex). `bfranges`: plain (lo, hi, startHex)
    * or array-form (lo, hi, Seq(destHex...)). */
  def toUnicodeMulti(
      codespaces: Seq[(String, String)],
      bfchars: Seq[(String, String)] = Nil,
      bfranges: Seq[(String, String, String)] = Nil,
      bfrangeArrays: Seq[(String, String, Seq[String])] = Nil): String = {
    val sb = new StringBuilder
    sb.append("/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n")
    sb.append("/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n")
    sb.append(s"${codespaces.size} begincodespacerange\n")
    codespaces.foreach { case (lo, hi) => sb.append(s"<$lo> <$hi>\n") }
    sb.append("endcodespacerange\n")
    if (bfchars.nonEmpty) {
      sb.append(s"${bfchars.size} beginbfchar\n")
      bfchars.foreach { case (c, u) => sb.append(s"<$c> <$u>\n") }
      sb.append("endbfchar\n")
    }
    if (bfranges.nonEmpty || bfrangeArrays.nonEmpty) {
      sb.append(s"${bfranges.size + bfrangeArrays.size} beginbfrange\n")
      bfranges.foreach { case (lo, hi, st) => sb.append(s"<$lo> <$hi> <$st>\n") }
      bfrangeArrays.foreach { case (lo, hi, ds) =>
        sb.append(s"<$lo> <$hi> [${ds.map(d => s"<$d>").mkString(" ")}]\n")
      }
      sb.append("endbfrange\n")
    }
    sb.append("endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n")
    sb.toString
  }

  // ---- TrueType cmap subtables (formats 0/2/4/6/12, multi-subtable) -----------
  private def u16b(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }
  private def u32b(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
    out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
  }

  /** format 0: 256-entry glyph-byte table */
  def cmapFormat0(glyphs: Array[Int]): Array[Byte] = {
    require(glyphs.length == 256)
    val out = new java.io.ByteArrayOutputStream()
    u16b(out, 0); u16b(out, 262); u16b(out, 0)
    glyphs.foreach(g => out.write(g & 0xff))
    out.toByteArray
  }

  /** format 6: trimmed table mapping codes [first, first+n) -> gids */
  def cmapFormat6(firstCode: Int, gids: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    u16b(out, 6); u16b(out, 10 + gids.size * 2); u16b(out, 0)
    u16b(out, firstCode); u16b(out, gids.size)
    gids.foreach(g => u16b(out, g))
    out.toByteArray
  }

  /** format 12: sequential map groups (startChar, endChar, startGlyph) */
  def cmapFormat12(groups: Seq[(Long, Long, Long)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    u16b(out, 12); u16b(out, 0)
    u32b(out, 16 + groups.size * 12); u32b(out, 0); u32b(out, groups.size)
    groups.foreach { case (s, e, g) => u32b(out, s); u32b(out, e); u32b(out, g) }
    out.toByteArray
  }

  /** format-2 subtable; `subs` = (highByte, firstCode, idDelta, gid) with one
    * mapped entry per subheader (the reference reads ONE gid per subheader —
    * its j-loop re-reads the same id_range_offset target, so entryCount > 1
    * collapses to the first entry; we emit entryCount=1 to keep the
    * fixture's intent unambiguous). Subheader 0 stays entryCount=0 (unset
    * high bytes alias onto it via first_bytes). */
  def cmapFormat2(subs: Seq[(Int, Int, Int, Int)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val nSub = subs.length
    val headerLen = 6 + 512 + 8 * (nSub + 1) + 2 * nSub
    u16b(out, 2); u16b(out, headerLen); u16b(out, 0)
    // subHeaderKeys: high byte hb -> subheader index s (key = s*8)
    val keys = new Array[Int](256)
    subs.zipWithIndex.foreach { case ((hb, _, _, _), idx) => keys(hb) = (idx + 1) * 8 }
    keys.foreach(k => u16b(out, k))
    // subheaders: index 0 empty, then one per sub with entryCount=1.
    // gid array sits right after the subheaders; idRangeOffset is relative
    // to the position of its own idRangeOffset field (spec semantics,
    // matched by font_file2.cc's `off - sizeof(uint16_t) + id_range_offset`)
    val gidArrayStart = 6 + 512 + 8 * (nSub + 1)
    u16b(out, 0); u16b(out, 0); u16b(out, 0); u16b(out, 0) // subheader 0
    subs.zipWithIndex.foreach { case ((_, firstCode, idDelta, _), idx) =>
      val idRangeFieldPos = 6 + 512 + 8 * (idx + 1) + 6
      val gidPos = gidArrayStart + 2 * idx
      u16b(out, firstCode); u16b(out, 1); u16b(out, idDelta & 0xffff)
      u16b(out, gidPos - idRangeFieldPos)
    }
    subs.foreach { case (_, _, _, gid) => u16b(out, gid) }
    out.toByteArray
  }

  /** format 4 (same layout PdfBuilderAdvanced.minimalTrueType emits, as a
    * standalone subtable for multi-subtable fonts) */
  def cmapFormat4(pairs: Seq[(Char, Int)]): Array[Byte] = {
    val sorted = pairs.sortBy(_._1)
    val segCount = sorted.length + 1
    val out = new java.io.ByteArrayOutputStream()
    u16b(out, 4); u16b(out, 16 + segCount * 8); u16b(out, 0)
    u16b(out, segCount * 2); u16b(out, 0); u16b(out, 0); u16b(out, 0)
    sorted.foreach { case (c, _) => u16b(out, c) }
    u16b(out, 0xffff)
    u16b(out, 0)
    sorted.foreach { case (c, _) => u16b(out, c) }
    u16b(out, 0xffff)
    sorted.foreach { case (c, gid) => u16b(out, (gid - c) & 0xffff) }
    u16b(out, 1)
    (0 until segCount).foreach(_ => u16b(out, 0))
    out.toByteArray
  }

  /** TrueType binary with ONE cmap table holding N encoding-record
    * subtables (the reference walks every record; platform ids ignored) */
  def trueTypeWithCmaps(subtables: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    u32b(out, 0x00010000L); u16b(out, 1); u16b(out, 16); u16b(out, 0); u16b(out, 0)
    val cmapOffset = 12 + 16
    out.write("cmap".getBytes(ISO_8859_1)); u32b(out, 0); u32b(out, cmapOffset); u32b(out, 0)
    // cmap header + encoding records
    u16b(out, 0); u16b(out, subtables.size)
    var sub = 4 + subtables.size * 8 // first subtable offset, relative to cmap table
    subtables.foreach { st =>
      u16b(out, 3); u16b(out, 1); u32b(out, sub)
      sub += st.length
    }
    subtables.foreach(out.write)
    out.toByteArray
  }
}
