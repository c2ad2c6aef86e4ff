package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-5 differential fuzz vs the reference binary:
  *  - CID /W width arrays (fonts.cc:71-123): random mixes of range entries
  *    `c_first c_last w` and list entries `c [w1 w2 ...]`, random /DW,
  *    Identity-H 2-byte codes spanning in/out-of-table ranges;
  *  - CORRUPTION family (error/recovery-path parity — earlier rounds only
  *    generated valid documents): random truncations, single-byte flips,
  *    and garbage prefixes applied to valid documents. Each corrupted doc
  *    must either extract byte-identically or error in BOTH engines.
  */
private[fixtures] final class FuzzR5(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: CID /W arrays ----------------------------------------------
  def cidWidths(n: Int): Unit = {
    (0 until n).foreach { i =>
      val entries = (0 to 2 + rnd.nextInt(5)).map { _ =>
        val start = rnd.nextInt(120)
        if (rnd.nextBoolean()) s"$start ${start + rnd.nextInt(40)} ${100 + rnd.nextInt(900)}"
        else s"$start [${(0 to rnd.nextInt(6)).map(_ => 100 + rnd.nextInt(900)).mkString(" ")}]"
      }
      val dw = 500 + rnd.nextInt(800)
      val fonts = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /Type0 /BaseFont /FuzzCID " +
          "/Encoding /Identity-H /DescendantFonts [7 0 R] >>"),
        ObjSpec(7, "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /FuzzCID " +
          "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
          s"/DW $dw /W [${entries.mkString(" ")}] >>"))
      val sb = new StringBuilder("BT\n/F1 10 Tf\n50 700 Td\n")
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        // 2-byte Identity-H codes as hex strings; codes 0..150 hit the /W
        // ranges, larger codes fall to /DW
        val codes = (0 to 2 + rnd.nextInt(8)).map(_ => f"${rnd.nextInt(300)}%04x").mkString
        sb.append(s"<$codes> Tj\n")
        if (rnd.nextBoolean()) sb.append(s"0 ${-12 - rnd.nextInt(6)} Td\n")
      }
      sb.append("ET\n")
      dump(f"cid_$i%03d", onePage(bytes(sb.toString), Map("/F1" -> 5), fonts))
    }
  }

  // ---- family B: corruption --------------------------------------------------
  def corruption(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes((0 to 2 + rnd.nextInt(4)).map { _ =>
        s"BT\n/F1 ${8 + rnd.nextInt(10)} Tf\n${50 + rnd.nextInt(400)} ${80 + rnd.nextInt(600)} Td\n" +
          s"(${randWord()} ${randWord()}) Tj\nET\n"
      }.mkString)
      // rotate base shapes: classic xref, xref-stream + ObjStm (distinct
      // recovery paths: /W parsing, BE ints, packed objects), encrypted
      val good = (i % 3) match {
        case 0 => onePage(content, Map("/F1" -> 5), Seq(courier(5)))
        case 1 => onePage(content, Map("/F1" -> 5), Seq(courier(5)),
          useXrefStream = true, packIntoObjStm = Set(1, 2, 5))
        case _ =>
          val docId = Array.tabulate(16)(j => ((i * 17 + j) & 0xff).toByte)
          graft.fixtures.PdfBuilderAdvanced.encryptedOnePage(content,
            graft.fixtures.PdfBuilderAdvanced.EncSpec(
              revision = if (i % 2 == 0) 3 else 2,
              keyBits = if (i % 2 == 0) 128 else 40, aes = false, docId = docId))
      }
      val bad = rnd.nextInt(4) match {
        case 0 => // truncate somewhere in the tail half
          good.take(good.length / 2 + rnd.nextInt(good.length / 2))
        case 1 => // flip one random byte
          val b = good.clone(); val p = rnd.nextInt(b.length)
          b(p) = (b(p) ^ (1 << rnd.nextInt(8))).toByte; b
        case 2 => // garbage prefix before %PDF (offsets shift)
          val g = new Array[Byte](1 + rnd.nextInt(64)); rnd.nextBytes(g)
          g.map(x => (x & 0x7f).toByte).filter(_ != '%') ++ good
        case _ => // duplicate a random slice in the middle
          val a = rnd.nextInt(good.length - 2)
          val len = 1 + rnd.nextInt(math.min(80, good.length - a - 1))
          good.take(a + len) ++ good.slice(a, a + len) ++ good.drop(a + len)
      }
      dump(f"cor_$i%03d", bad)
    }
  }

  def run(): Unit = {
    cidWidths(200)
    corruption(300)
  }
}
