package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._

/** Round-12 differential fuzz vs the reference binary — MULTI-PAGE
  * composition (every earlier text/layout family was single-page):
  *
  *  A. content streams SHARED between pages (one object referenced from
  *     several pages' /Contents — each page renders it independently
  *     under its own inherited state), /Contents ARRAYS with DUPLICATE
  *     refs inside one page (the reference's visited-set drops the second
  *     occurrence, pages_extractor.cc get_content), and array/scalar
  *     /Contents forms mixed across pages of one document;
  *
  *  B. per-page /Resources vs inherited-from-/Pages resources in the SAME
  *     document (different font mappings for the same /F1 name on
  *     different pages), empty /Contents arrays, and pages whose array
  *     mixes shared + private streams — page-boundary text assembly and
  *     per-page font-state isolation under one id2offsets table.
  */
private[fixtures] final class FuzzR12(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  private def textStream(tag: String): String =
    (0 to 1 + rnd.nextInt(3)).map { _ =>
      s"BT\n/F1 ${9 + rnd.nextInt(6)} Tf\n${50 + rnd.nextInt(300)} ${150 + rnd.nextInt(550)} Td\n" +
        s"(${randWord()} $tag ${randWord()}) Tj\nET\n"
    }.mkString

  def multiPage(n: Int): Unit = {
    (0 until n).foreach { i =>
      val nPages = 2 + rnd.nextInt(4)
      val nStreams = 1 + rnd.nextInt(3) // fewer streams than pages => sharing
      val streamIds = (0 until nStreams).map(40 + _)
      val streamObjs = streamIds.map { id =>
        val c = bytes(textStream(s"s$id"))
        ObjSpec(id, s"<< /Length ${c.length} >>", Some(c))
      }
      // root /Pages carries inheritable /Resources half the time; pages
      // sometimes override with their own (different font object!)
      val rootHasRes = rnd.nextBoolean()
      val rootRes = if (rootHasRes) " /Resources << /Font << /F1 30 0 R >> >>" else ""
      val pageObjs = (0 until nPages).map { p =>
        val id = 3 + p
        val contents = rnd.nextInt(4) match {
          case 0 => // single shared ref
            s"${streamIds(rnd.nextInt(nStreams))} 0 R"
          case 1 => // array, possibly with DUPLICATE refs (visited-set)
            val picks = (0 to rnd.nextInt(3)).map(_ => streamIds(rnd.nextInt(nStreams)))
            s"[${picks.map(s => s"$s 0 R").mkString(" ")}]"
          case 2 => // empty array: blank page mid-document
            "[]"
          case _ => // array with every stream once
            s"[${streamIds.map(s => s"$s 0 R").mkString(" ")}]"
        }
        val ownRes =
          if (!rootHasRes || rnd.nextBoolean())
            s" /Resources << /Font << /F1 ${30 + 1 + (p % 2)} 0 R >> >>"
          else "" // inherit from the /Pages node
        ObjSpec(id, s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]$ownRes " +
          s"/Contents $contents >>")
      }
      val kids = (0 until nPages).map(p => s"${3 + p} 0 R").mkString(" ")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, s"<< /Type /Pages /Kids [$kids] /Count $nPages$rootRes >>")) ++
        pageObjs ++ streamObjs ++
        Seq(courier(30), helvetica(31), courier(32))
      dump(f"mpage_$i%03d", classicXref(objs, 1))
    }
  }

  def run(): Unit = {
    multiPage(500)
  }
}
