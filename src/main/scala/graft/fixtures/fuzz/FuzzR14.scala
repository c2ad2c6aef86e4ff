package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-14 differential fuzz vs the reference binary — objects spread
  * across TWO SIBLING /ObjStm containers (the gap FuzzR13's single-
  * container family left open): the page tree lives in ObjStm-1 while the
  * dicts it references (/Resources, fonts, CID descendants) live in
  * ObjStm-2, so every reference chase crosses containers — id2obj_stm
  * must resolve members of BOTH streams and follow links between them.
  * Rotates three reference topologies per seed.
  */
private[fixtures] final class FuzzR14(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  def twoSiblingObjStm(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 1 + rnd.nextInt(3)).map { _ =>
        s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
          s"(${randWord()} ${randWord()} sibling) Tj\nET\n"
      }.mkString)
      val (objs, set1, set2) = (i % 3) match {
        case 0 =>
          // tree in ObjStm-1; indirect /Resources + font in ObjStm-2
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources 7 0 R /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
            ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"),
            courier(8)), Set(1, 2, 3), Set(7, 8))
        case 1 =>
          // alternate split: catalog+page in ObjStm-2, pages node +
          // resources in ObjStm-1 (chases bounce 2 -> 1 -> 2 -> 1)
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources 7 0 R /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
            ObjSpec(7, "<< /Font << /F1 8 0 R >> >>"),
            helvetica(8)), Set(2, 7), Set(1, 3, 8))
        case _ =>
          // Type0 CID font whose DESCENDANT lives in the other container
          val cid = bytes(cidContent())
          (Seq(
            ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
            ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
            ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              "/Resources << /Font << /F1 8 0 R >> >> /Contents 4 0 R >>"),
            ObjSpec(4, s"<< /Length ${cid.length} >>", Some(cid)),
            ObjSpec(8, "<< /Type /Font /Subtype /Type0 /BaseFont /Sib-CID " +
              "/Encoding /Identity-H /DescendantFonts [9 0 R] >>"),
            ObjSpec(9, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Sib-CID " +
              "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
              s"/DW ${500 + rnd.nextInt(600)} /W [ 65 90 ${300 + rnd.nextInt(700)} ] >>"))
            , Set(1, 2, 3, 8), Set(9))
      }
      dump(f"sib_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = set1, packIntoObjStm2 = set2))
    }
  }

  private def cidContent(): String =
    (0 to 1 + rnd.nextInt(3)).map { _ =>
      val codes = (0 to 3 + rnd.nextInt(6)).map(_ => f"${0x41 + rnd.nextInt(26)}%04x").mkString
      s"BT\n/F1 ${9 + rnd.nextInt(5)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(500)} Td\n" +
        s"<$codes> Tj\nET\n"
    }.mkString

  def run(): Unit = {
    twoSiblingObjStm(500)
  }
}
