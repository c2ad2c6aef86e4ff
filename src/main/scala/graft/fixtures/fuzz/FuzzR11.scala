package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-11 differential fuzz vs the reference binary — the two remaining
  * interpreter paths with unit pins but no fuzz family:
  *
  *  A. INLINE IMAGE SKIP (`BI .. ID .. EI`, pages_extractor.cc:788-801):
  *     the skip is a raw scan for "EI" followed by blank-or-EOF from the
  *     position right after the BI token. Adversarial payloads plant "EI"
  *     NOT followed by blank (must be scanned past), "EI" as the very last
  *     bytes (EOF terminator branch), nested "BI" inside the data, and
  *     unterminated images (rest of the stream is swallowed — any later
  *     text must be lost IDENTICALLY). Text shows surround every image so
  *     a skip off-by-one shifts visible output.
  *
  *  B. TYPE3 FONTS: random /FontMatrix scale values (the a/d entries feed
  *     the width scale directly instead of the 0.001 constant,
  *     fonts.cc via get_font_scales), random /Widths + /FirstChar windows,
  *     /Differences remapping over the Standard base, interleaved with a
  *     Standard-14 font — FontMatrix-scaled advances shift bboxes and can
  *     reorder layout boxes, so layout assembly is exercised, not just
  *     glyph decode.
  */
private[fixtures] final class FuzzR11(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  // ---- family A: inline image skip ---------------------------------------------

  /** image payload with planted traps: embedded "EI" always followed by a
    * NON-blank byte, optional nested "BI", final real "EI" + blank unless
    * `unterminated` */
  private def imageData(unterminated: Boolean): String = {
    val sb = new StringBuilder
    sb.append(s"/W ${1 + rnd.nextInt(16)} /H ${1 + rnd.nextInt(16)} /BPC 8 /CS /RGB ID ")
    (0 to 2 + rnd.nextInt(6)).foreach { _ =>
      rnd.nextInt(4) match {
        case 0 => sb.append("EI").append(('!' + rnd.nextInt(90)).toChar) // fake: EI + non-blank
        case 1 => sb.append("BI ") // nested decoy
        case 2 => sb.append((0 until 4 + rnd.nextInt(12))
          .map(_ => ('#' + rnd.nextInt(80)).toChar).mkString)
        case _ => sb.append("E").append(('A' + rnd.nextInt(26)).toChar) // near-miss
      }
    }
    if (!unterminated) sb.append(if (rnd.nextBoolean()) "EI\n" else "EI ")
    sb.toString
  }

  def inlineImages(n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      val blocks = 2 + rnd.nextInt(4)
      // docs rotate through three terminator regimes:
      //  i%5==0: an UNTERMINATED image mid-stream — all later text (which
      //          IS generated) must be swallowed identically;
      //  i%5==1: the content stream ends with "EI" as its very last bytes
      //          (idx+2 == length: the EOF branch of the skip scanner);
      //  else:   every image terminated by EI+blank mid-stream.
      val cut = if (i % 5 == 0) rnd.nextInt(blocks) else -1
      var b = 0
      while (b < blocks) {
        sb.append(s"BT\n/F1 ${9 + rnd.nextInt(6)} Tf\n" +
          s"${50 + rnd.nextInt(300)} ${700 - b * 60 - rnd.nextInt(20)} Td\n" +
          s"(${randWord()} ${randWord()} before$b) Tj\nET\n")
        if (b == cut) sb.append("BI ").append(imageData(unterminated = true))
        else sb.append("BI ").append(imageData(unterminated = false))
        // after-text is ALWAYS emitted: past an unterminated image it must
        // be lost byte-identically, past a terminated one it must survive
        sb.append(s"BT\n(${randWord()} after$b) Tj\nET\n")
        b += 1
      }
      if (i % 5 == 1) {
        // final image whose "EI" is the last 2 bytes of the stream
        sb.append("BI ").append(imageData(unterminated = true)).append("EI")
      }
      dump(f"binl_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family B: Type3 fonts ---------------------------------------------------

  def type3Fonts(n: Int): Unit = {
    (0 until n).foreach { i =>
      val first = 32 + rnd.nextInt(30)
      val last = first + 20 + rnd.nextInt(60)
      val widths = (first to last).map(_ => 200 + rnd.nextInt(900)).mkString(" ")
      // FontMatrix scale: around the canonical 0.001, sometimes wildly off
      def sc = rnd.nextInt(3) match {
        case 0 => "0.001"
        case 1 => f"0.00${1 + rnd.nextInt(9)}%s"
        case _ => f"0.0${1 + rnd.nextInt(9)}%s"
      }
      val diffs =
        if (rnd.nextBoolean()) {
          val d = (0 to 1 + rnd.nextInt(4)).map(_ =>
            s"${first + rnd.nextInt(last - first)} /${"ABCZQ".charAt(rnd.nextInt(5))}")
          s"/Encoding << /Type /Encoding /Differences [${d.mkString(" ")}] >> "
        } else ""
      val t3 = ObjSpec(5,
        s"<< /Type /Font /Subtype /Type3 /FontMatrix [$sc 0 0 $sc 0 0] " +
          "/FontBBox [0 -200 1000 800] /CharProcs << >> " +
          s"/FirstChar $first /LastChar $last /Widths [$widths] $diffs>>")
      val sb = new StringBuilder
      (0 to 2 + rnd.nextInt(4)).foreach { b =>
        val font = if (rnd.nextBoolean()) "/F1" else "/F2"
        sb.append(s"BT\n$font ${8 + rnd.nextInt(10)} Tf\n" +
          s"${40 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td\n")
        // codes inside and outside the /Widths window
        val txt = (0 to 3 + rnd.nextInt(8)).map { _ =>
          val c = first - 2 + rnd.nextInt(last - first + 6)
          f"${math.max(0x20, math.min(c, 0x7e))}%02x"
        }.mkString
        sb.append(s"<$txt> Tj\nET\n")
      }
      dump(f"t3_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5, "/F2" -> 6), Seq(t3, courier(6))))
    }
  }

  def run(): Unit = {
    inlineImages(250)
    type3Fonts(250)
  }
}
