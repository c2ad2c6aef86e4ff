package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._

/** Round-3 differential fuzz vs the reference binary (catalog round `r3`
  * of [[graft.fixtures.FuzzCorpus]]). Families target shapes the
  * round-1/2 fuzz did not combine:
  *  - encrypted documents (RC4 /R2, /R3, AESV2) carrying RANDOM content
  *    state sequences (the r1 crypto fixtures used fixed text);
  *  - Type3 fonts with varying /FontMatrix scales and /Widths (width math
  *    goes through the FontMatrix path, fonts.cc:332-336);
  *  - /Rotate x dense scattered layout (rotation changes the initial CTM,
  *    pages_extractor.cc:141-147, upstream of ALL layout clustering);
  *  - box counts crossing MAX_BOXES=300 exactly (the bail-out boundary,
  *    pages_extractor.cc:403-407);
  *  - extreme text-state magnitudes (huge/tiny/negative Tc/Tw/Tz/TL/Ts,
  *    float formats like 1e3 that stof accepts).
  */
private[fixtures] final class FuzzR3(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  /** random BT..ET blocks with state churn (Td, TD, Tm, T-star, TL, Tc, Tw, Tz, quotes) */
  def randStateShows(nBlocks: Int): String = {
    val sb = new StringBuilder
    (0 until nBlocks).foreach { _ =>
      sb.append(s"BT\n/F1 ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      (0 to rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(8) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"${rnd.nextInt(20) - 10} ${-8 - rnd.nextInt(10)} TD\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"${(rnd.nextInt(60) + 50)} Tz\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"${(rnd.nextDouble() * 4 - 2).formatted("%.2f")} Tc\n(${randWord()} x) Tj\n")
          case 5 => sb.append(s"${(rnd.nextDouble() * 6 - 3).formatted("%.2f")} Tw\n(${randWord()} ${randWord()}) Tj\n")
          case 6 => sb.append(s"(${randWord()}) '\n")
          case _ => sb.append(s"${(rnd.nextDouble() * 3).formatted("%.2f")} ${(rnd.nextDouble() * 4 - 2).formatted("%.2f")} (${randWord()}) \"\n")
        }
      }
      sb.append("ET\n")
    }
    sb.toString
  }

  // ---- family A: encrypted docs with random state sequences -----------------
  def encryptedState(n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 31 + j * 7) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      val content = bytes(randStateShows(1 + rnd.nextInt(4)))
      dump(f"enc_$i%03d", encryptedOnePage(content, enc))
    }
  }

  // ---- family B: Type3 FontMatrix variations --------------------------------
  def type3Matrices(n: Int): Unit = {
    (0 until n).foreach { i =>
      val scale = Seq("0.001", "0.002", "0.0005", "0.01", "0.0001")(i % 5)
      val widths = (32 to 126).map(_ => (200 + rnd.nextInt(800)).toString).mkString(" ")
      val diffs = if (i % 2 == 0) " /Encoding << /Type /Encoding /Differences [65 /Z 66 /Y] >>" else ""
      val font = ObjSpec(5,
        s"<< /Type /Font /Subtype /Type3 /FontMatrix [$scale 0 0 $scale 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar 32 /LastChar 126 /Widths [$widths]$diffs >>")
      val content = bytes(randStateShows(1 + rnd.nextInt(3)))
      dump(f"t3_$i%03d", onePage(content, Map("/F1" -> 5), Seq(font)))
    }
  }

  // ---- family C: rotation x dense scattered layout ---------------------------
  def rotatedDense(n: Int): Unit = {
    (0 until n).foreach { i =>
      val rot = Seq(0, 90, 180, 270)(i % 4)
      val content = bytes(randStateShows(8 + rnd.nextInt(40)))
      dump(f"rot_$i%03d",
        onePage(content, Map("/F1" -> 5), Seq(courier(5)), rotate = Some(rot)))
    }
  }

  // ---- family D: MAX_BOXES boundary ------------------------------------------
  def boxBoundary(counts: Seq[Int]): Unit = {
    counts.zipWithIndex.foreach { case (nBoxes, i) =>
      val sb = new StringBuilder
      // scattered single-word boxes far enough apart to never merge
      (0 until nBoxes).foreach { b =>
        val x = 20 + (b % 24) * 25
        val y = 760 - (b / 24) * 22
        sb.append(s"BT\n/F1 6 Tf\n$x $y Td\n(w$b) Tj\nET\n")
      }
      dump(f"box_${nBoxes}_$i%02d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5)),
          mediaBox = "[0 0 612 1000]"))
    }
  }

  // ---- family E: extreme state magnitudes -------------------------------------
  def extremeState(n: Int): Unit = {
    val magnitudes = Seq("1e3", "-1e3", "0.0001", "-0.0001", "99999", "-99999", "0")
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append("BT\n/F1 12 Tf\n72 720 Td\n")
      (0 to 3 + rnd.nextInt(6)).foreach { _ =>
        val m = magnitudes(rnd.nextInt(magnitudes.length))
        rnd.nextInt(6) match {
          case 0 => sb.append(s"$m Tc\n(${randWord()} a) Tj\n")
          case 1 => sb.append(s"$m Tw\n(${randWord()} b) Tj\n")
          case 2 => sb.append(s"${50 + rnd.nextInt(400)} Tz\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"$m TL\nT*\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"$m Ts\n(${randWord()}) Tj\n")
          case _ => sb.append(s"[(${randWord()}) $m (${randWord()})] TJ\n")
        }
      }
      sb.append("ET\n")
      dump(f"ext_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  def run(): Unit = {
    encryptedState(150)
    type3Matrices(100)
    rotatedDense(120)
    boxBoundary(Seq(296, 298, 299, 300, 301, 302, 310, 150, 200, 250))
    extremeState(120)
  }
}
