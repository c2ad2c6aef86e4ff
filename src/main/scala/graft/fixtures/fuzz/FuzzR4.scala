package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-4 differential fuzz vs the reference binary: families not covered
  * by rounds 1-3:
  *  - multi-page documents with NESTED /Pages nodes and attribute
  *    inheritance (/Resources, /MediaBox inherited from intermediate
  *    nodes; page order = depth-first kid order, pages_extractor.cc:546-609);
  *  - literal-string escape stress (\( \) \\, 1-3-digit octal incl.
  *    overflow, escaped newlines, \n\r\t\b\f, unknown escapes) and hex
  *    strings with whitespace + odd final nibble;
  *  - huge TJ arrays (hundreds of alternating kerns/strings);
  *  - %-comments scattered between content-stream operators.
  */
private[fixtures] final class FuzzR4(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  def simpleShows(nBlocks: Int): String =
    (0 until nBlocks).map { _ =>
      s"BT\n/F1 ${8 + rnd.nextInt(12)} Tf\n${50 + rnd.nextInt(400)} ${80 + rnd.nextInt(600)} Td\n" +
        s"(${randWord()} ${randWord()}) Tj\nET\n"
    }.mkString

  // ---- family A: multi-page with nested /Pages + inheritance ---------------
  def multiPage(n: Int): Unit = {
    (0 until n).foreach { i =>
      val nPages = 2 + rnd.nextInt(5)
      val split = 1 + rnd.nextInt(nPages) // left subtree size
      // ids: 1 catalog, 2 root pages, 3/4 intermediate nodes, 10+k pages,
      // 40+k contents, 90 font
      val pageIds = (0 until nPages).map(10 + _)
      val leftKids = pageIds.take(split)
      val rightKids = pageIds.drop(split)
      val inheritRes = rnd.nextBoolean()
      val resOn = "/Resources << /Font << /F1 90 0 R >> >>"
      val mboxRoot = " /MediaBox [0 0 612 792]"
      val rootAttrs = (if (inheritRes) s" $resOn" else "") + mboxRoot
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [${(Seq(3) ++ (if (rightKids.nonEmpty) Seq(4) else Nil)).map(k => s"$k 0 R").mkString(" ")}] /Count $nPages$rootAttrs >>"),
        ObjSpec(3, s"<< /Type /Pages /Parent 2 0 R /Kids [${leftKids.map(k => s"$k 0 R").mkString(" ")}] /Count ${leftKids.size} >>")) ++
        (if (rightKids.nonEmpty)
          Seq(ObjSpec(4, s"<< /Type /Pages /Parent 2 0 R /Kids [${rightKids.map(k => s"$k 0 R").mkString(" ")}] /Count ${rightKids.size} >>"))
        else Nil) ++
        pageIds.zipWithIndex.map { case (pid, k) =>
          val parent = if (k < split) 3 else 4
          val ownRes = if (!inheritRes) s" $resOn" else ""
          ObjSpec(pid, s"<< /Type /Page /Parent $parent 0 R$ownRes /Contents ${40 + k} 0 R >>")
        } ++
        pageIds.indices.map { k =>
          val content = bytes(simpleShows(1 + rnd.nextInt(3)))
          ObjSpec(40 + k, s"<< /Length ${content.length} >>", Some(content))
        } ++ Seq(courier(90))
      dump(f"mp_$i%03d", classicXref(objs, 1))
    }
  }

  // ---- family B: string escape stress ---------------------------------------
  def escapeStress(n: Int): Unit = {
    val escapes = Seq("\\(", "\\)", "\\\\", "\\n", "\\r", "\\t", "\\b", "\\f",
      "\\101", "\\56", "\\7", "\\377", "\\400", "\\q", "\\ ")
    (0 until n).foreach { i =>
      val sb = new StringBuilder("BT\n/F1 12 Tf\n72 720 Td\n")
      (0 to 3 + rnd.nextInt(5)).foreach { _ =>
        if (rnd.nextBoolean()) {
          val parts = (0 to rnd.nextInt(6)).map(_ =>
            if (rnd.nextBoolean()) randWord() else escapes(rnd.nextInt(escapes.length)))
          sb.append(s"(${parts.mkString}) Tj\n")
        } else {
          // hex string, random whitespace, possibly odd nibble count
          val hx = (0 to 4 + rnd.nextInt(12)).map(_ => "0123456789abcdefABCDEF".charAt(rnd.nextInt(22)))
            .mkString.take(5 + rnd.nextInt(10))
          val spaced = hx.grouped(1 + rnd.nextInt(4)).mkString(Seq(" ", "\n", "\t")(rnd.nextInt(3)))
          sb.append(s"<$spaced> Tj\n")
        }
      }
      sb.append("ET\n")
      dump(f"esc_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family C: huge TJ arrays ---------------------------------------------
  def hugeTJ(n: Int): Unit = {
    (0 until n).foreach { i =>
      val elems = (0 until 100 + rnd.nextInt(300)).map { _ =>
        if (rnd.nextBoolean()) s"(${randWord()})"
        else (rnd.nextInt(4000) - 2000).toString
      }
      val content = s"BT\n/F1 9 Tf\n40 700 Td\n[${elems.mkString(" ")}] TJ\nET\n"
      dump(f"tj_$i%03d",
        onePage(bytes(content), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  // ---- family D: comments scattered between operators -----------------------
  def comments(n: Int): Unit = {
    (0 until n).foreach { i =>
      val sb = new StringBuilder
      sb.append(s"% leading comment ${randWord()}\n")
      (0 to 2 + rnd.nextInt(4)).foreach { _ =>
        sb.append("BT\n")
        if (rnd.nextBoolean()) sb.append(s"% mid ${randWord()} (not a string)\n")
        sb.append(s"/F1 ${8 + rnd.nextInt(10)} Tf\n")
        sb.append(s"${60 + rnd.nextInt(400)} ${100 + rnd.nextInt(600)} Td % trailing\n")
        sb.append(s"(${randWord()}) Tj\n")
        if (rnd.nextBoolean()) sb.append("% between shows\n")
        sb.append(s"(${randWord()}) Tj\nET\n")
      }
      dump(f"cm_$i%03d",
        onePage(bytes(sb.toString), Map("/F1" -> 5), Seq(courier(5))))
    }
  }

  def run(): Unit = {
    multiPage(150)
    escapeStress(150)
    hugeTJ(100)
    comments(100)
  }
}
