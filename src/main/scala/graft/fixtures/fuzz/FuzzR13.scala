package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._

/** Round-13 differential fuzz vs the reference binary — compositions the
  * round-3 closing status listed as untouched:
  *
  *  A. TYPE3 FONTS UNDER ENCRYPTION: the Type3 dict's /FontMatrix width
  *     scaling + /Differences decode driven from an ENCRYPTED content
  *     stream (RC4 /R2, /R3, AESV2) — glyph decode and width math after
  *     the decrypt path;
  *
  *  B. INLINE IMAGES INSIDE FORM XOBJECTS: the BI..EI raw skip running
  *     within a form's content (its own stream, own position counter),
  *     forms nested two deep, with EI-decoy payloads and text before/
  *     after the image inside the form — a skip overrun inside a form
  *     corrupts the form's remaining shows, not the page's;
  *
  *  C. MULTI-HOP COMPRESSED-OBJECT chasing under an xref stream: the page
  *     dict, an INDIRECT /Resources dict, and the font dict it references
  *     are all ObjStm-packed (single ObjStm — the fixture builder packs
  *     one container; the chase page -> /Resources -> font still resolves
  *     each hop through id2obj_stm rather than direct offsets, which is
  *     the code path under test).
  */
private[fixtures] final class FuzzR13(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: encrypted Type3 ----------------------------------------------

  def encryptedType3(n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 53 + j * 29 + 3) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      val first = 32 + rnd.nextInt(20)
      val last = first + 30 + rnd.nextInt(50)
      val widths = (first to last).map(_ => 200 + rnd.nextInt(900)).mkString(" ")
      val sc = if (rnd.nextBoolean()) "0.001" else s"0.00${1 + rnd.nextInt(9)}"
      val diffs =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(3)).map(_ =>
            s"${first + rnd.nextInt(last - first)} /${"ABCZQ".charAt(rnd.nextInt(5))}")
          s"/Encoding << /Type /Encoding /Differences [${d.mkString(" ")}] >> "
        } else ""
      val contentPlain = bytes((0 to 2 + rnd.nextInt(3)).map { _ =>
        val codes = (0 to 3 + rnd.nextInt(6))
          .map(_ => f"${math.max(0x20, math.min(first - 1 + rnd.nextInt(last - first + 3), 0x7e))}%02x")
          .mkString
        s"BT\n/F1 ${8 + rnd.nextInt(8)} Tf\n${40 + rnd.nextInt(400)} ${120 + rnd.nextInt(550)} Td\n" +
          s"<$codes> Tj\nET\n"
      }.mkString)
      val contentEnc = enc.encrypt(4, 0, contentPlain)
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> >> /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${contentEnc.length} >>", Some(contentEnc)),
        ObjSpec(5, enc.encryptDictBody),
        ObjSpec(6, s"<< /Type /Font /Subtype /Type3 /FontMatrix [$sc 0 0 $sc 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar $first /LastChar $last /Widths [$widths] $diffs>>"))
      dump(f"enct3_$i%03d",
        classicXref(objs, 1, s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"))
    }
  }

  // ---- family B: inline images inside Form XObjects ----------------------------

  private def imageBlock(): String = {
    val sb = new StringBuilder(s"BI /W ${1 + rnd.nextInt(8)} /H ${1 + rnd.nextInt(8)} /BPC 8 ID ")
    (0 to 1 + rnd.nextInt(4)).foreach { _ =>
      rnd.nextInt(3) match {
        case 0 => sb.append("EI").append(('!' + rnd.nextInt(90)).toChar)
        case 1 => sb.append((0 until 3 + rnd.nextInt(10))
          .map(_ => ('#' + rnd.nextInt(80)).toChar).mkString)
        case _ => sb.append("E").append(('A' + rnd.nextInt(26)).toChar)
      }
    }
    sb.append(if (rnd.nextBoolean()) "EI\n" else "EI ")
    sb.toString
  }

  def formInlineImages(n: Int): Unit = {
    (0 until n).foreach { i =>
      // inner form: text, image-with-decoys, text
      val inner = bytes(
        s"BT\n/F1 9 Tf\n20 30 Td\n(${randWord()} inner-pre) Tj\nET\n" +
          imageBlock() +
          s"BT\n/F1 9 Tf\n20 18 Td\n(${randWord()} inner-post) Tj\nET\n")
      // outer form: text, image, invoke inner, image, text
      val outer = bytes(
        s"BT\n/F1 10 Tf\n30 60 Td\n(${randWord()} outer-pre) Tj\nET\n" +
          imageBlock() +
          "/X2 Do\n" +
          (if (rnd.nextBoolean()) imageBlock() else "") +
          s"BT\n/F1 10 Tf\n30 44 Td\n(${randWord()} outer-post) Tj\nET\n")
      val page = bytes(
        s"BT\n/F1 11 Tf\n60 700 Td\n(${randWord()} page-pre) Tj\nET\n" +
          imageBlock() +
          "/X1 Do\n" +
          s"BT\n/F1 11 Tf\n60 660 Td\n(${randWord()} page-post) Tj\nET\n")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> /XObject << /X1 10 0 R >> >> " +
          "/Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${page.length} >>", Some(page)),
        courier(6),
        ObjSpec(10, "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R >> /XObject << /X2 11 0 R >> >> " +
          s"/Length ${outer.length} >>", Some(outer)),
        ObjSpec(11, "<< /Type /XObject /Subtype /Form /BBox [0 0 300 100] " +
          s"/Resources << /Font << /F1 6 0 R >> >> /Length ${inner.length} >>", Some(inner)))
      dump(f"formbi_$i%03d", classicXref(objs, 1))
    }
  }

  // ---- family C: cross-ObjStm reference chasing --------------------------------

  def crossObjStm(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 1 + rnd.nextInt(3)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
          s"(${randWord()} ${randWord()} cross) Tj\nET\n"
      }.mkString)
      // page/catalog dicts -> ObjStm-1; the font dict they reference ->
      // packed among ObjStm-2's objects via a SECOND xrefStream builder
      // pass is not expressible with the single-ObjStm builder, so: pack
      // catalog+pages+page AND the font in ONE ObjStm but reference the
      // font INDIRECTLY from an ObjStm-packed intermediate dict (2-hop
      // compressed-object chase: page -> /Resources in ObjStm -> font in
      // ObjStm)
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources 7 0 R /Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
        ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"), // indirect /Resources, packed
        (if (i % 2 == 0) courier(8) else helvetica(8)))
      dump(f"xobjstm_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 7, 8)))
    }
  }

  def run(): Unit = {
    encryptedType3(170)
    formInlineImages(170)
    crossObjStm(160)
  }
}
