package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._
import graft.fixtures.PdfBuilderR2.{cmapFormat2, cmapFormat4, cmapFormat6, trueTypeWithCmaps, formX}

/** Round-8 differential fuzz vs the reference binary — the compositions
  * rounds 1-7 did not exercise together:
  *
  *  A. ENCRYPTED (RC4 /R2, /R3, AESV2) documents whose file structure is an
  *     xref STREAM with the catalog/pages/page/font dicts packed in an
  *     /ObjStm — the ObjStm content is itself encrypted with its own
  *     per-object key (object_storage.cc:58 decrypts before decode), while
  *     the xref stream stays plaintext (parsed before /Encrypt is known,
  *     parser.cc:391-397);
  *  B. Form XObjects under page /Rotate with dense multi-column layouts
  *     whose box counts straddle MAX_BOXES=300 (rotation feeds the initial
  *     CTM through the form recursion, pages_extractor.cc:141-147,856-867;
  *     the >300-box bail-out is per result group, :403-407);
  *  C. TrueType cmap subtable FORMAT 2 (font_file2.cc get_format2_data) —
  *     the only subtable format without a dedicated fuzz family; includes
  *     the no-sizes quirk (format 2 never sets cmap.sizes, so a format-2-
  *     only font decodes nothing via the cmap and falls back per byte)
  *     and 2+4 / 2+6 multi-subtable combos;
  *  D. hash-colliding garbage tokens (the perfect-hash collision-acceptance
  *     quirk, pages_extractor.cc:56-69) atop ENCRYPTED bases — collision
  *     dispatch after the decrypt path instead of plaintext content.
  */
private[fixtures] final class FuzzR8(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  /** random BT..ET blocks with state churn (FuzzR3 shape) */
  def randStateShows(nBlocks: Int): String = {
    val sb = new StringBuilder
    (0 until nBlocks).foreach { _ =>
      sb.append(s"BT\n/F1 ${6 + rnd.nextInt(18)} Tf\n")
      sb.append(s"${40 + rnd.nextInt(500)} ${60 + rnd.nextInt(660)} Td\n")
      (0 to rnd.nextInt(5)).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 => sb.append(s"(${randWord()} ${randWord()}) Tj\n")
          case 1 => sb.append(s"[(${randWord()}) ${rnd.nextInt(1200) - 600} (${randWord()})] TJ\n")
          case 2 => sb.append(s"${rnd.nextInt(20) - 10} ${-8 - rnd.nextInt(10)} TD\n(${randWord()}) Tj\n")
          case 3 => sb.append(s"${(50 + rnd.nextInt(60))} Tz\n(${randWord()}) Tj\n")
          case 4 => sb.append(s"(${randWord()}) '\n")
          case _ => sb.append(f"${rnd.nextDouble() * 3}%.2f ${rnd.nextDouble() * 4 - 2}%.2f (${randWord()}) \"\n")
        }
      }
      sb.append("ET\n")
    }
    sb.toString
  }

  // ---- family A: encrypted + xref stream + ObjStm ----------------------------
  def encryptedObjStm(n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 53 + j * 11 + 5) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      val content = bytes(randStateShows(1 + rnd.nextInt(4)))
      dump(f"encobj_$i%03d", encXrefObjStm(content, enc))
    }
  }

  // ---- family B: rotate x Form XObjects x MAX_BOXES boundary ------------------
  /** page with /Rotate carrying /Font + /XObject resources */
  def rotPageWithForms(
      content: Array[Byte],
      xobjects: Map[String, Int],
      extraObjs: Seq[ObjSpec],
      rotate: Int): Array[Byte] = {
    val xRefs = xobjects.map { case (n, id) => s"$n $id 0 R" }.mkString(" ")
    val objs = Seq(
      ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
      ObjSpec(3, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Rotate $rotate " +
        s"/Resources << /Font << /F1 6 0 R >> /XObject << $xRefs >> >> /Contents 4 0 R >>"),
      ObjSpec(4, s"<< /Length ${content.length} >>", Some(content)),
      courier(6)) ++ extraObjs
    classicXref(objs, 1)
  }

  /** two-column scattered word grid (never-merging blocks) of `nBoxes` */
  def denseColumns(nBoxes: Int, tag: String): String = {
    val sb = new StringBuilder
    (0 until nBoxes).foreach { b =>
      val colX = if (b % 2 == 0) 30 + (b % 10) * 26 else 330 + (b % 10) * 26
      val y = 760 - (b / 20) * 24
      sb.append(s"BT\n/F1 6 Tf\n$colX $y Td\n($tag$b) Tj\nET\n")
    }
    sb.toString
  }

  def rotatedForms(n: Int): Unit = {
    (0 until n).foreach { i =>
      val rot = Seq(0, 90, 180, 270)(i % 4)
      // the form's own group straddles MAX_BOXES=300 (the bail-out is per
      // result group, so the form group hits it independently of the page)
      val formBoxes = Seq(250, 290, 296, 299, 300, 301, 304, 310)(i % 8)
      val withMatrix = rnd.nextBoolean() // "Matrix"-key quirk: always IDENTITY
      val matrix = if (withMatrix) " /Matrix [2 0 0 2 10 20]" else ""
      val form = formX(20, bytes(denseColumns(formBoxes, "f")),
        "/Font << /F1 6 0 R >>", matrix = matrix)
      val pageContent = new StringBuilder(denseColumns(4 + rnd.nextInt(20), "p"))
      if (rnd.nextBoolean()) pageContent.append(s"q\n1 0 0 1 ${rnd.nextInt(40)} ${rnd.nextInt(40)} cm\n/X1 Do\nQ\n")
      else pageContent.append("/X1 Do\n")
      dump(f"rotform_$i%03d",
        rotPageWithForms(bytes(pageContent.toString), Map("/X1" -> 20), Seq(form), rot))
    }
  }

  // ---- family C: TrueType cmap format 2 ---------------------------------------
  def ttFormat2(n: Int): Unit = {
    (0 until n).foreach { i =>
      val nSubs = 1 + rnd.nextInt(3)
      val subs = (0 until nSubs).map { s =>
        val hb = 1 + s + rnd.nextInt(2) * 4 // distinct high bytes
        val firstCode = 0x20 + rnd.nextInt(0x40)
        val idDelta = if (rnd.nextBoolean()) 0 else rnd.nextInt(16) - 8
        val gid = 0x30 + rnd.nextInt(0x700) // adjusted gid stays nonzero
        (hb, firstCode, idDelta, gid)
      }.toList.distinctBy(_._1)
      val f2 = cmapFormat2(subs)
      val subtables: Seq[Array[Byte]] = i % 4 match {
        case 0 => Seq(f2) // no-sizes quirk: cmap decodes nothing, per-byte fallback
        case 1 => Seq(f2, cmapFormat4(Seq(('A', 0x80 + rnd.nextInt(32)), ('B', 0x90))))
        case 2 => Seq(f2, cmapFormat6(0x41, Seq(0x101, 0x102, 0x103)))
        case _ => Seq(cmapFormat4(Seq(('E', 0xb0))), f2)
      }
      val tt = trueTypeWithCmaps(subtables)
      // show the ADJUSTED gids of every sub (2-byte codes) + format-4/6 gids
      // + raw bytes that miss everywhere (dropped-byte path)
      val adjusted = subs.map { case (_, _, d, g) => (g + d) & 0xffff }
      val shows = (adjusted ++ Seq(0x80, 0x90, 0x101, 0xb0) ++
        (0 until 4).map(_ => 0x20 + rnd.nextInt(0x5f)))
        .map(g => f"$g%04X").mkString
      val fontObjs = Seq(
        ObjSpec(5, "<< /Type /Font /Subtype /TrueType /BaseFont /Fuzz2 " +
          "/FirstChar 0 /LastChar 255 /FontDescriptor 7 0 R >>"),
        ObjSpec(7, "<< /Type /FontDescriptor /FontName /Fuzz2 /Flags 4 /FontFile2 8 0 R >>"),
        streamObj(8, tt))
      val content = s"BT\n/F1 10 Tf\n60 700 Td\n<$shows> Tj\n0 -14 Td\n<$shows> Tj\nET\n"
      dump(f"ttf2_$i%03d", onePage(bytes(content), Map("/F1" -> 5), fontObjs))
    }
  }

  // ---- family D: garbage tokens atop encrypted bases --------------------------
  private def tokenByte(): Char = {
    while (true) {
      val b = 1 + rnd.nextInt(255)
      val c = b.toChar
      if (!" \t\n\f\r ()<>[]{}/%".contains(c) && b != 0x0c) return c
    }
    'x'
  }

  def encryptedGarbage(n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append("BT\n/F1 10 Tf\n72 720 Td\n(start) Tj\n")
      val nOps = 3 + rnd.nextInt(12)
      (0 until nOps).foreach { _ =>
        sb.append(s"(${randWord()}) ${rnd.nextInt(40)} ${rnd.nextInt(700)} (${randWord()}) ")
        val len = 1 + rnd.nextInt(2)
        sb.append((0 until len).map(_ => tokenByte()).mkString).append('\n')
        if (rnd.nextInt(3) == 0) sb.append(s"0 ${-8 - rnd.nextInt(6)} Td\n(${randWord()}) Tj\n")
      }
      sb.append("(end) Tj\nET\n")
      val docId = Array.tabulate(16)(j => ((i * 71 + j * 13 + 9) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      dump(f"encgt_$i%03d", encryptedOnePage(bytes(sb.toString), enc))
    }
  }

  def run(): Unit = {
    encryptedObjStm(150)
    rotatedForms(120)
    ttFormat2(130)
    encryptedGarbage(100)
  }
}
