package graft.fixtures
package fuzz

import java.nio.charset.{Charset, CodingErrorAction}

import graft.fixtures.PdfBuilder._

/** Full predefined-CMap sweep vs the reference binary (catalog round
  * `cjk` of [[graft.fixtures.FuzzCorpus]]; unseeded): one fixture per
  * named CMap in resources/graft/cmap_charsets.tsv (the engine's port of
  * the reference's encoding2charset table, converter_data.cc:774-926).
  * Sample text is encoded with the engine's mapped JDK charset; the
  * reference decodes the same bytes through iconv — byte-comparing the two
  * extractions verifies the JDK-charset mapping for every name (round 1
  * verified 8 of 152 by hand). A name whose JDK charset cannot encode
  * is skipped (no fixture).
  */
private[fixtures] object CjkSweep {

  private val sample =
    "Ab1 中文汉字 日本語かなカナ " +
      "한국어 測試繁體字。"
  private val ascii = "plain ascii 09AZ"

  private def encodeWith(cs: Charset, s: String): Array[Byte] = {
    val enc = cs.newEncoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    val bb = enc.encode(java.nio.CharBuffer.wrap(s))
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  private def fixtureFor(cmapName: String, payload: Array[Byte], payload2: Array[Byte]): Array[Byte] = {
    val fonts = Seq(
      ObjSpec(5, s"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-CJK " +
        s"/Encoding $cmapName /DescendantFonts [7 0 R] >>"),
      ObjSpec(7, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fixture-CJK " +
        "/CIDSystemInfo << /Registry (Adobe) /Ordering (Fixture) /Supplement 0 >> /DW 1000 >>"))
    val content = bytes(
      s"BT\n/F1 12 Tf\n72 700 Td\n<${hex(payload)}> Tj\n0 -20 Td\n<${hex(payload2)}> Tj\nET\n")
    onePage(content, Map("/F1" -> 5), fonts)
  }

  def run(dump: FuzzCorpus.Emit): Unit = {
    val entries = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/graft/cmap_charsets.tsv"), "UTF-8")
      .getLines().filter(_.nonEmpty).toVector
    entries.zipWithIndex.foreach { case (line, idx) =>
      val i = line.indexOf('\t')
      val name = line.substring(0, i)
      val csName = line.substring(i + 1)
      val payloads: Option[(Array[Byte], Array[Byte])] =
        if (csName.isEmpty) Some((sample.getBytes("UTF-8"), ascii.getBytes("UTF-8")))
        else if (csName == "ISO-2022-CN") {
          // JDK's ISO-2022-CN is decode-only; build the escape sequence by
          // hand: ESC $ ) A designates GB2312, SO..SI shifts it in, bytes
          // are the EUC-CN bytes with the high bit stripped
          val gb = encodeWith(Charset.forName("GB2312"), "中文汉字")
            .map(b => (b & 0x7f).toByte)
          Some((("\u001b$)A\u000e".getBytes("US-ASCII") ++ gb ++
            "\u000f Ab1".getBytes("US-ASCII")), ascii.getBytes("US-ASCII")))
        } else {
          try {
            val cs = graft.core.pdf.Tables.cmapCharsets(name).get
            Some((encodeWith(cs, sample), encodeWith(cs, ascii)))
          } catch { case _: Throwable => None }
        }
      payloads.foreach { case (p1, p2) =>
        val safe = name.drop(1).replace("/", "_")
        dump(f"ck_${idx}%03d_$safe", fixtureFor(name, p1, p2))
      }
    }
  }
}
