package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._

/** Round-7 differential fuzz vs the reference binary: decode-path
  * PRECEDENCE —
  *  - PARTIAL ToUnicode cmaps (covering only a random subset of codes)
  *    over fonts that ALSO carry /Differences and a base encoding: hits in
  *    the cmap win, misses fall back per byte to Differences/charset, and
  *    bytes undecodable everywhere are DROPPED
  *    (converter_engine.cc:30-65, the fallback lattice);
  *  - /Rotate inheritance through intermediate /Pages nodes (attribute
  *    inheritance for the third inheritable key, after r4's
  *    /Resources//MediaBox).
  */
private[fixtures] final class FuzzR7(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: ToUnicode/Differences/charset precedence --------------------
  def precedence(n: Int): Unit = {
    (0 until n).foreach { i =>
      // ToUnicode covers a random sparse subset of codes 0x41..0x7A
      val covered = (0x41 to 0x7a).filter(_ => rnd.nextBoolean()).take(10 + rnd.nextInt(20))
      val bfchars = covered.map(c => c -> new String(Character.toChars(0x100 + rnd.nextInt(0x2000))))
      val cmap = bytes(toUnicodeCMap(bfchars))
      // Differences remap a few codes (some overlapping the cmap range)
      val diffCodes = (0 until 2 + rnd.nextInt(4)).map(_ => 0x41 + rnd.nextInt(0x3a))
      val diffNames = Seq("/Z", "/Y", "/X", "/eacute", "/bullet", "/dagger")
      val diffs = diffCodes.map(c => s"$c ${diffNames(rnd.nextInt(diffNames.length))}").mkString(" ")
      val fonts = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
          "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
          s"/Differences [$diffs] >> /ToUnicode 6 0 R >>"),
        streamObj(6, cmap))
      val sb = new StringBuilder("BT\n/F1 11 Tf\n60 700 Td\n")
      (0 to 2 + rnd.nextInt(5)).foreach { _ =>
        // random byte codes spanning covered/uncovered/diff'd/high ranges
        val codes = (0 to 3 + rnd.nextInt(12)).map(_ => rnd.nextInt(3) match {
          case 0 => covered(rnd.nextInt(covered.length))
          case 1 => 0x41 + rnd.nextInt(0x3a)
          case _ => 0x20 + rnd.nextInt(0xdf) // incl. high WinAnsi bytes
        })
        sb.append(s"<${codes.map(c => f"$c%02x").mkString}> Tj\n")
        if (rnd.nextBoolean()) sb.append(s"0 ${-12 - rnd.nextInt(4)} Td\n")
      }
      sb.append("ET\n")
      dump(f"prec_$i%03d", onePage(bytes(sb.toString), Map("/F1" -> 5), fonts))
    }
  }

  // ---- family B: /Rotate inheritance ------------------------------------------
  def rotateInheritance(n: Int): Unit = {
    (0 until n).foreach { i =>
      val rootRot = Seq(0, 90, 180, 270)(rnd.nextInt(4))
      val overrideLeaf = rnd.nextBoolean()
      val leafRot = Seq(0, 90, 180, 270)(rnd.nextInt(4))
      val content1 = bytes(s"BT\n/F1 10 Tf\n80 700 Td\n(${randWord()} ${randWord()}) Tj\nET\n")
      val content2 = bytes(s"BT\n/F1 10 Tf\n90 650 Td\n(${randWord()}) Tj\nET\n")
      val leafAttr = if (overrideLeaf) s" /Rotate $leafRot" else ""
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [3 0 R] /Count 2 /Rotate $rootRot " +
          "/MediaBox [0 0 612 792] /Resources << /Font << /F1 9 0 R >> >> >>"),
        ObjSpec(3, "<< /Type /Pages /Parent 2 0 R /Kids [10 0 R 11 0 R] /Count 2 >>"),
        ObjSpec(10, s"<< /Type /Page /Parent 3 0 R$leafAttr /Contents 20 0 R >>"),
        ObjSpec(11, "<< /Type /Page /Parent 3 0 R /Contents 21 0 R >>"),
        ObjSpec(20, s"<< /Length ${content1.length} >>", Some(content1)),
        ObjSpec(21, s"<< /Length ${content2.length} >>", Some(content2)),
        courier(9))
      dump(f"rotinh_$i%03d", classicXref(objs, 1))
    }
  }

  def run(): Unit = {
    precedence(300)
    rotateInheritance(200)
  }
}
