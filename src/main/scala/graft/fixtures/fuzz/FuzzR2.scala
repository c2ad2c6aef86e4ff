package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._
import graft.fixtures.PdfBuilderR2._

/** Round-2 differential fuzz vs the reference binary (catalog round `r2`
  * of [[graft.fixtures.FuzzCorpus]]). Families target the shapes the
  * round-1 fuzz did not cover: nested Form XObjects, >2-deep /Prev
  * chains, content-stream predictors (PNG rows 0-3, TIFF) incl.
  * LZW+predictor, mixed filter arrays with /DecodeParms arrays,
  * ObjStm-packed font dicts, 3/4-byte ToUnicode codespaces, bfrange array
  * form, TrueType cmap formats 0/6/12 (and multi-subtable fonts).
  */
private[fixtures] final class FuzzR2(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  def randShows(nBlocks: Int, fontName: String = "/F1"): String = {
    val sb = new StringBuilder
    var b = 0
    while (b < nBlocks) {
      sb.append(s"BT\n$fontName ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      val shows = 1 + rnd.nextInt(5)
      (0 until shows).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"0 ${-10 - rnd.nextInt(8)} Td\n(${randWord()}) Tj\n")
          case _ => sb.append(s"(${randWord()}) '\n")
        }
      }
      sb.append("ET\n")
      b += 1
    }
    sb.toString
  }

  // ---- family A: nested Form XObjects ---------------------------------------
  def nestedForms(n: Int): Unit = {
    (0 until n).foreach { i =>
      val depth = 2 + rnd.nextInt(2) // 2 or 3 deep
      // innermost form: text only
      val inner = formX(10 + depth, bytes(randShows(1 + rnd.nextInt(2), "/FI")),
        "/Font << /FI 6 0 R >>",
        bbox = rnd.nextInt(8) != 0, // occasionally BBox-less (must be skipped)
        matrix = if (rnd.nextBoolean()) " /Matrix [2 0 0 2 50 50]" else "")
      // wrap outward: each form draws text then Do's the next-inner one
      val forms = (depth - 1 to 1 by -1).foldLeft(Seq(inner)) { (acc, lvl) =>
        val body = new StringBuilder
        body.append(randShows(1, "/FI"))
        if (rnd.nextBoolean()) body.append(s"q ${1 + rnd.nextInt(3)} 0 0 ${1 + rnd.nextInt(3)} ${rnd.nextInt(80)} ${rnd.nextInt(80)} cm\n")
        body.append("/Xn Do\n")
        if (body.toString.contains("q ")) body.append("Q\n")
        formX(10 + lvl, bytes(body.toString),
          s"/Font << /FI 6 0 R >> /XObject << /Xn ${10 + lvl + 1} 0 R >>") +: acc
      }
      val pageContent = new StringBuilder
      pageContent.append(randShows(1 + rnd.nextInt(2)))
      pageContent.append("/X0 Do\n")
      if (rnd.nextInt(3) == 0) pageContent.append("/X0 Do\n") // same form twice (cache path)
      val pdf = onePageWithXObjects(bytes(pageContent.toString),
        Map("/F1" -> 5), Map("/X0" -> 11),
        Seq(courier(5), courier(6)) ++ forms)
      dump(f"nf_$i%04d", pdf)
    }
  }

  // ---- family B: deep /Prev chains -------------------------------------------
  def deepPrevChains(n: Int): Unit = {
    (0 until n).foreach { i =>
      val base = onePage(bytes(randShows(2)), Map("/F1" -> 5), Seq(courier(5)))
      val depth = 2 + rnd.nextInt(3) // 2..4 incremental updates
      val pdf = (0 until depth).foldLeft(base) { (doc, _) =>
        withIncrementalUpdate(doc, bytes(randShows(1 + rnd.nextInt(2))), 4)
      }
      dump(f"pv_$i%04d", pdf)
    }
  }

  // ---- family C: content-stream predictors + mixed filter arrays --------------
  def filtersAndPredictors(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = bytes(randShows(1 + rnd.nextInt(3)))
      val cols = Seq(16, 32, 51, 64)(rnd.nextInt(4))
      val padded = padToColumns(content, cols)
      val variant = i % 7
      val pdf = variant match {
        case 0 => // LZW + PNG predictor (mixed row filters)
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/LZWDecode /DecodeParms << /Predictor 12 /Columns $cols >>",
              d => lzwEncode(pngEncode(d, cols, r => (r + rnd.nextInt(4)) % 4)))))
        case 1 => // Flate + PNG predictor
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/FlateDecode /DecodeParms << /Predictor ${10 + rnd.nextInt(4)} /Columns $cols >>",
              d => deflate(pngEncode(d, cols, r => rnd.nextInt(4))))))
        case 2 => // Flate + TIFF predictor 2
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"/FlateDecode /DecodeParms << /Predictor 2 /Columns $cols >>",
              d => deflate(tiffDiffEncode(d, cols)))))
        case 3 => // [A85, Flate]
          onePage(content, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some(("[/ASCII85Decode /FlateDecode]",
              d => ascii85Encode(deflate(d)))))
        case 4 => // [AHx, LZW]
          onePage(content, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some(("[/ASCIIHexDecode /LZWDecode]",
              d => asciiHexEncode(lzwEncode(d)))))
        case 5 => // [A85, LZW + predictor] with DecodeParms array
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"[/ASCII85Decode /LZWDecode] /DecodeParms [<< >> << /Predictor 12 /Columns $cols >>]",
              d => ascii85Encode(lzwEncode(pngEncode(d, cols, _ => 2))))))
        case _ => // [AHx, Flate + TIFF] with DecodeParms array
          onePage(padded, Map("/F1" -> 5), Seq(courier(5)),
            contentFilter = Some((s"[/ASCIIHexDecode /FlateDecode] /DecodeParms [<< >> << /Predictor 2 /Columns $cols >>]",
              d => asciiHexEncode(deflate(tiffDiffEncode(d, cols))))))
      }
      dump(f"fp_$i%04d", pdf)
    }
  }

  // ---- family D: ObjStm-packed font dicts --------------------------------------
  def objStmFonts(n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 3
      val (fonts, extraObjs, content) = variant match {
        case 0 => // Standard-14 + Differences font packed in ObjStm
          (Map("/F1" -> 5, "/F2" -> 6),
            Seq(courier(5), fontWithDifferences(6, "65 /bullet 66 /emdash 70 /Adieresis")),
            randShows(2) + "BT\n/F2 11 Tf\n100 120 Td\n(ABF) Tj\nET\n")
        case 1 => // Type0 Identity-H pair packed in ObjStm
          (Map("/F1" -> 5, "/F2" -> 6),
            courier(5) +: type0IdentityH(6, 7),
            randShows(1) + "BT\n/F2 12 Tf\n90 300 Td\n<00480065006C006C006F> Tj\nET\n")
        case _ => // two simple fonts, page+catalog also packed
          (Map("/F1" -> 5, "/F2" -> 6),
            Seq(courier(5), helvetica(6)),
            randShows(2) + randShows(1, "/F2"))
      }
      val fontIds: Set[Int] = extraObjs.filter(_.stream.isEmpty).map(_.id).toSet
      val alsoPage: Set[Int] = if (variant == 2) Set(1, 2) else Set.empty
      val pdf = onePage(bytes(content), fonts, extraObjs,
        useXrefStream = true, packIntoObjStm = fontIds ++ alsoPage)
      dump(f"os_$i%04d", pdf)
    }
  }

  // ---- family E: 3/4-byte ToUnicode codespaces ---------------------------------
  def multiByteToUnicode(n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 3
      val (cmapTxt, showHex) = variant match {
        case 0 => // 1-byte + 3-byte codespaces, greedy multi-length lookup
          val tu = toUnicodeMulti(
            codespaces = Seq(("00", "7F"), ("800000", "FFFFFF")),
            bfchars = Seq(
              ("41", "0058"), // 'A' -> X
              ("800001", "0059"), // 3-byte code -> Y
              ("800002", "005A0021"), // 3-byte code -> "Z!"
              ("42", "0057")))
          (tu, "41 800001 42 800002".replace(" ", ""))
        case 1 => // 2-byte + 4-byte codespaces
          val tu = toUnicodeMulti(
            codespaces = Seq(("0000", "7FFF"), ("80000000", "FFFFFFFF")),
            bfchars = Seq(
              ("0041", "0041"),
              ("80000001", "00410042"), // 4-byte code -> AB
              ("0042", "0043")),
            bfranges = Seq(("0050", "0055", "0061"))) // 2-byte range
          (tu, "0041 80000001 0042 0051 0053".replace(" ", ""))
        case _ => // 1+2+3-byte mixed, ranges at width 3
          val tu = toUnicodeMulti(
            codespaces = Seq(("20", "7E"), ("A000", "AFFF"), ("B00000", "B000FF")),
            bfchars = Seq(("A001", "2603")), // snowman
            bfranges = Seq(("B00010", "B00013", "0030"))) // 3-byte range -> 0..3
          (tu, "41A001B00010B0001220".replace(" ", ""))
      }
      val tuBytes = bytes(cmapTxt)
      val extraShows = randShows(1 + rnd.nextInt(2))
      val content = extraShows +
        s"BT\n/F2 ${8 + rnd.nextInt(8)} Tf\n${60 + rnd.nextInt(300)} ${100 + rnd.nextInt(500)} Td\n<$showHex> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5), fontWithToUnicode(6, 7), streamObj(7, tuBytes)))
      dump(f"mb_$i%04d", pdf)
    }
  }

  // ---- family F: bfrange array form ---------------------------------------------
  def bfrangeArrayForm(n: Int): Unit = {
    (0 until n).foreach { i =>
      val base = 0x40 + rnd.nextInt(16)
      val len = 2 + rnd.nextInt(4)
      val dests = (0 until len).map(k => f"${0x30 + ((i + k) % 10)}%04X" +
        (if (k % 2 == 1) f"${0x21 + k}%04X" else "")) // some multi-char targets
      val tu = toUnicodeMulti(
        codespaces = Seq(("00", "FF")),
        bfchars = Seq((f"${base + 8}%02X", "0077")),
        bfranges = if (rnd.nextBoolean()) Seq((f"${base + 16}%02X", f"${base + 18}%02X", "00E9")) else Nil,
        bfrangeArrays = Seq((f"$base%02X", f"${base + len - 1}%02X", dests)))
      val codes = (0 until len).map(k => f"${base + k}%02X").mkString +
        f"${base + 8}%02X" + f"${base + 17}%02X"
      val content = randShows(1) +
        s"BT\n/F2 10 Tf\n80 ${150 + rnd.nextInt(400)} Td\n<$codes> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5), fontWithToUnicode(6, 7), streamObj(7, bytes(tu))))
      dump(f"ba_$i%04d", pdf)
    }
  }

  // ---- family G: TrueType cmap formats 0/6/12 -----------------------------------
  def ttFormats(n: Int): Unit = {
    (0 until n).foreach { i =>
      val variant = i % 5
      val subtables: Seq[Array[Byte]] = variant match {
        case 0 => // format 0 alone (sizes quirk: 2-byte lookups vs 1-byte keys)
          val glyphs = Array.tabulate(256)(j => (j + 1 + rnd.nextInt(3)) & 0xff)
          Seq(cmapFormat0(glyphs))
        case 1 => // format 6 alone
          val first = 0x41 + rnd.nextInt(8)
          Seq(cmapFormat6(first, (0 until 6 + rnd.nextInt(6)).map(k => 0x100 + k * (1 + rnd.nextInt(3)))))
        case 2 => // format 12 + format 4 (12 alone leaves sizes unset — quirk)
          Seq(
            cmapFormat12(Seq((0x41L, 0x45L, 0x200L), (0x61L, 0x63L, 0x300L))),
            cmapFormat4(Seq(('A', 0x80 + rnd.nextInt(32)), ('B', 0x90))))
        case 3 => // format 12 + format 6
          Seq(
            cmapFormat12(Seq((0x30L + rnd.nextInt(4), 0x39L, 0x400L))),
            cmapFormat6(0x41, Seq(0x101, 0x102, 0x103)))
        case _ => // formats 0 + 6 + 4 together
          Seq(
            cmapFormat0(Array.tabulate(256)(j => (255 - j) & 0xff)),
            cmapFormat6(0x61, (0 until 5).map(k => 0x150 + k)),
            cmapFormat4(Seq(('C', 0xa0), ('D', 0xa1 + rnd.nextInt(8)))))
      }
      val tt = trueTypeWithCmaps(subtables)
      // show a spread of 2-byte codes covering the gid spaces above, plus
      // raw 1-byte codes (format-0 key width quirk)
      val gidShows = Seq(0x0041, 0x0101, 0x0150, 0x0200 + 0x41, 0x0300 + 0x61, 0x0400 + 0x35,
        0x80, 0x90, 0xa0, 0x102)
        .map(g => f"$g%04X").mkString
      val byteShows = (0 until 6).map(_ => f"${0x20 + rnd.nextInt(0x5f)}%02X").mkString
      val content = randShows(1) +
        s"BT\n/F2 10 Tf\n70 ${200 + rnd.nextInt(300)} Td\n<$gidShows> Tj\n0 -14 Td\n<$byteShows> Tj\nET\n"
      val pdf = onePage(bytes(content), Map("/F1" -> 5, "/F2" -> 6),
        Seq(courier(5)) ++ fontWithFontFile2(6, 7, 8) :+ streamObj(8, tt))
      dump(f"tt_$i%04d", pdf)
    }
  }

  // ---- family H: hash-colliding garbage tokens ----------------------------------
  /** bytes legal inside a token (not PDF whitespace, not delimiters) */
  private def tokenByte(): Char = {
    while (true) {
      val b = 1 + rnd.nextInt(255)
      val c = b.toChar
      if (!"\u0000\t\n\f\r ()<>[]{}/%".contains(c) && b != 0x0c) return c
    }
    'x'
  }

  /** content streams peppered with random 1-2-byte binary tokens; those
    * whose signed-char hash collides with a real slot must EXECUTE the
    * handler (perfect-hash quirk, pages_extractor.cc:56-69). Operands are
    * pre-pushed so colliding handlers always have something to pop. */
  def garbageTokens(n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append("BT\n/F1 10 Tf\n72 720 Td\n(start) Tj\n")
      val nOps = 3 + rnd.nextInt(12)
      (0 until nOps).foreach { _ =>
        // keep the operand stack stocked: strings + numbers
        sb.append(s"(${randWord()}) ${rnd.nextInt(40)} ${rnd.nextInt(700)} (${randWord()}) ")
        val len = 1 + rnd.nextInt(2)
        val tok = (0 until len).map(_ => tokenByte()).mkString
        sb.append(tok).append('\n')
        if (rnd.nextInt(3) == 0) sb.append(s"0 ${-8 - rnd.nextInt(6)} Td\n(${randWord()}) Tj\n")
      }
      sb.append("(end) Tj\nET\n")
      val pdf = onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5)))
      dump(f"gt_$i%04d", pdf)
    }
  }

  def run(): Unit = {
    nestedForms(200)
    deepPrevChains(150)
    filtersAndPredictors(250)
    objStmFonts(150)
    multiByteToUnicode(150)
    bfrangeArrayForm(100)
    ttFormats(150)
    garbageTokens(200)
  }
}
