package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._

/** Round-10 differential fuzz vs the reference binary — two compositions
  * no earlier round exercised:
  *
  *  A. VERTICAL writing mode mixed with horizontal in one page: Type0
  *     fonts with /Encoding /Identity-V next to /Identity-H and a
  *     Standard-14 font, interleaved across BT/ET blocks with Td/TD/Tm/T*
  *     moves, TJ kern arrays and the ' operator. The reference DROPS
  *     vertical-baseline chunks (coordinates.cc:87; the encoding-name
  *     membership list converter_data.cc decides verticality) — the drop
  *     has unit pins but was never fuzzed compositionally against layout
  *     assembly (which lines/boxes survive when half the shows vanish).
  *
  *  B. ENCRYPTED Type1 FontFile streams: the embedded font program
  *     (`dup <code> /<name> put` tokens, font_file.cc:26-57) decrypted
  *     with its own per-object key before the token scan
  *     (pages_extractor.cc passes decrypt_data to get_FontFile like
  *     FontFile2), combined randomly with /Differences on the same font
  *     (precedence) and with the whole font dict packed in an ENCRYPTED
  *     ObjStm under an xref stream (objects decrypt via id2obj_stm path,
  *     object_storage.cc:58). RC4 /R2, /R3 and AESV2 rotate.
  */
private[fixtures] final class FuzzR10(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: vertical x horizontal interleave ------------------------------

  /** 2-byte Identity codes in stable BMP ranges (ASCII letters + Latin
    * Extended) — raw UTF-16BE on both engines, no charset table in play */
  private def cidHex(nCodes: Int): String =
    (0 until nCodes).map { _ =>
      val c = if (rnd.nextBoolean()) 0x41 + rnd.nextInt(26) else 0xC0 + rnd.nextInt(0xBF)
      f"$c%04x"
    }.mkString

  private def type0(id: Int, descId: Int, encoding: String, dw: Int, w: String): Seq[ObjSpec] = Seq(
    ObjSpec(id, s"<< /Type /Font /Subtype /Type0 /BaseFont /Fuzz-CID " +
      s"/Encoding $encoding /DescendantFonts [$descId 0 R] >>"),
    ObjSpec(descId, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Fuzz-CID " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      s"/DW $dw /W [$w] >>"))

  def verticalMix(n: Int): Unit = {
    (0 until n).foreach { i =>
      val wArr = (0 to 1 + rnd.nextInt(3)).map { _ =>
        val s = 0x41 + rnd.nextInt(30)
        s"$s ${s + rnd.nextInt(20)} ${300 + rnd.nextInt(800)}"
      }.mkString(" ")
      val fonts =
        type0(5, 7, "/Identity-H", 500 + rnd.nextInt(600), wArr) ++
          type0(6, 8, "/Identity-V", 500 + rnd.nextInt(600), wArr) ++
          Seq(courier(9))
      val sb = new StringBuilder
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        sb.append("BT\n")
        if (rnd.nextBoolean())
          sb.append(s"${1 + rnd.nextInt(2)} 0 0 ${1 + rnd.nextInt(2)} " +
            s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Tm\n")
        else
          sb.append(s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td\n")
        sb.append(s"${10 + rnd.nextInt(6)} TL\n")
        (0 to 2 + rnd.nextInt(4)).foreach { _ =>
          val font = rnd.nextInt(3) match {
            case 0 => "/FH"; case 1 => "/FV"; case _ => "/F1"
          }
          sb.append(s"$font ${9 + rnd.nextInt(6)} Tf\n")
          val showOp = rnd.nextInt(4)
          if (font == "/F1") {
            // single-byte standard font interleaved between CID shows
            showOp match {
              case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
              case 1 => sb.append(s"[(${randWord()}) ${-100 - rnd.nextInt(300)} (${randWord()})] TJ\n")
              case _ => sb.append(s"(${randWord()}) '\n")
            }
          } else {
            showOp match {
              case 0 => sb.append(s"<${cidHex(2 + rnd.nextInt(8))}> Tj\n")
              case 1 => sb.append(s"[<${cidHex(1 + rnd.nextInt(4))}> ${-80 - rnd.nextInt(200)} " +
                s"<${cidHex(1 + rnd.nextInt(4))}>] TJ\n")
              case _ => sb.append(s"<${cidHex(2 + rnd.nextInt(5))}> '\n")
            }
          }
          rnd.nextInt(3) match {
            case 0 => sb.append(s"0 ${-11 - rnd.nextInt(5)} Td\n")
            case 1 => sb.append("T*\n")
            case _ => sb.append(s"${5 + rnd.nextInt(30)} ${-8 - rnd.nextInt(8)} TD\n")
          }
        }
        sb.append("ET\n")
      }
      dump(f"vert_$i%03d",
        onePage(bytes(sb.toString), Map("/FH" -> 5, "/FV" -> 6, "/F1" -> 9), fonts))
    }
  }

  // ---- family B: encrypted Type1 FontFile --------------------------------------

  def encryptedFontFile(n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 41 + j * 23 + 7) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      // font program: random dup-token mappings over printable codes
      val glyphNames = Seq("A", "B", "C", "comma", "period", "space", "question",
        "zero", "one", "two", "at", "dollar")
      val mappings = (0 to 4 + rnd.nextInt(8)).map(_ =>
        (0x21 + rnd.nextInt(0x5d)) -> glyphNames(rnd.nextInt(glyphNames.length)))
      val ffPlain = type1FontProgram(mappings)
      val ffEnc = enc.encrypt(8, 0, ffPlain)
      // sometimes add /Differences on the SAME font (precedence vs FontFile)
      val diffEntry =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(3)).map(_ =>
            s"${0x41 + rnd.nextInt(26)} /${glyphNames(rnd.nextInt(glyphNames.length))}")
          s"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
            s"/Differences [${d.mkString(" ")}] >> "
        } else ""
      val contentPlain = bytes((0 to 2 + rnd.nextInt(4)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${120 + rnd.nextInt(550)} Td\n" +
          s"(${randWord()} ${randWord()} ${randWord()}) Tj\nET\n"
      }.mkString)
      val contentEnc = enc.encrypt(4, 0, contentPlain)
      val fontObjs = Seq(
        ObjSpec(6, "<< /Type /Font /Subtype /Type1 /BaseFont /FixtureT1 " +
          s"/FirstChar 0 $diffEntry/FontDescriptor 7 0 R >>"),
        ObjSpec(7, "<< /Type /FontDescriptor /FontName /FixtureT1 /Flags 4 " +
          "/FontBBox [0 -200 1000 900] /Ascent 700 /Descent -200 /FontFile 8 0 R >>"),
        ObjSpec(8, s"<< /Length ${ffEnc.length} >>", Some(ffEnc)))
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${contentEnc.length} >>", Some(contentEnc)),
        ObjSpec(5, enc.encryptDictBody)) ++ fontObjs
      val trailerExtra = s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"
      val pdf =
        if (i % 2 == 0) classicXref(objs, 1, trailerExtra)
        else
          // font/descriptor dicts packed in an ENCRYPTED ObjStm (id 9 =
          // maxId+1) under an xref stream; FontFile stays a direct stream
          xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 6, 7),
            extraTrailer = trailerExtra,
            objStmTransform = raw => enc.encrypt(9, 0, raw))
      dump(f"encff_$i%03d", pdf)
    }
  }

  def run(): Unit = {
    verticalMix(250)
    encryptedFontFile(250)
  }
}
