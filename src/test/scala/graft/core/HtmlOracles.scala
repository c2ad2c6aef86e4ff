package graft.core

import scala.collection.mutable.ArrayBuffer
import graft.core.html.HtmlExtract.{ExtractedTable, Link, PageMeta, TableRowCells,
  MAX_AVG_CELL_CHARS, MIN_DATA_CELLS, attrValue, decodeEntities, indexOfAsciiLower,
  normalizeWs}

/** The three HTML entry points as they were before `HtmlExtract.scan`
  * served them all, kept verbatim as test oracles: `extractLinks` and
  * `pageMeta` with their own lexing loops, `extractTables` over a
  * `Vector[Tok]` from `tokenize` as first defined (substring tokens; the
  * class/id hint dropped, as `extractTables` never read it). The live
  * entry points must return the same values on every input
  * (HtmlScanSpec). */
object HtmlOracles {

  sealed trait Tok
  final case class TText(t: String) extends Tok
  final case class TOpen(name: String, selfClosing: Boolean) extends Tok
  final case class TClose(name: String) extends Tok

  private val dropTags = Set("script", "style", "noscript", "template", "svg", "head", "iframe")
  private val rawTextTags = Set("script", "style", "noscript", "template")
  private val penaltyTags = Set("nav", "header", "footer", "aside", "form")
  private val voidTags = Set("br", "hr", "img", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")

  /** trailing-slash self-closing test that does NOT misread an unquoted
    * attribute value ending in '/' (`<a href=https://x.example/>`) */
  def isSelfClosingInner(inner: String, name: String): Boolean =
    inner.endsWith("/") && (inner.length == name.length + 1 || {
      val b = inner.charAt(inner.length - 2)
      b.isWhitespace || b == '"' || b == '\''
    })

  /** tolerant tokenizer: handles comments, doctype, raw-text elements,
    * attribute quoting, unterminated tags */
  def tokenize(html: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = html.length
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        if (i < n) out += TText(html.substring(i))
        i = n
      } else {
        if (lt > i) out += TText(html.substring(i, lt))
        if (lt + 1 >= n) i = n
        else if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?') {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (html.charAt(lt + 1) == '/') {
          val end = html.indexOf('>', lt + 2)
          if (end < 0) i = n
          else {
            val name = html.substring(lt + 2, end).trim.toLowerCase(java.util.Locale.ROOT)
            out += TClose(name.takeWhile(c => c.isLetterOrDigit))
            i = end + 1
          }
        } else if (html.charAt(lt + 1).isLetter) {
          // find tag end respecting quoted attributes
          var j = lt + 1
          var inQuote: Char = 0
          var end = -1
          while (j < n && end < 0) {
            val c = html.charAt(j)
            if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
            else if (c == '"' || c == '\'') inQuote = c
            else if (c == '>') end = j
            j += 1
          }
          if (end < 0) i = n
          else {
            val inner = html.substring(lt + 1, end)
            val name = inner.takeWhile(c => c.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
            val selfClosing = isSelfClosingInner(inner, name) || voidTags.contains(name)
            out += TOpen(name, selfClosing)
            i = end + 1
            // raw-text elements: skip to the matching close tag verbatim
            if (!selfClosing && rawTextTags.contains(name)) {
              val closeIdx = indexOfAsciiLower(html, s"</$name", i)
              if (closeIdx < 0) i = n
              else {
                val gt = html.indexOf('>', closeIdx)
                out += TClose(name)
                i = if (gt < 0) n else gt + 1
              }
            }
          }
        } else {
          out += TText("<")
          i = lt + 1
        }
      }
    }
    out.result()
  }

  def extractLinks(html: String): Vector[Link] = {
    val out = Vector.newBuilder[Link]
    var i = 0
    val n = html.length
    var inA = false
    var href = ""
    var nofollow = false
    val anchor = new StringBuilder
    def close(): Unit = {
      if (inA && href.nonEmpty)
        out += Link(href, normalizeWs(decodeEntities(anchor.toString)), nofollow)
      inA = false; href = ""; nofollow = false; anchor.setLength(0)
    }
    def relNofollow(inner: String): Boolean =
      attrValue(inner, "rel").exists(
        _.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+").contains("nofollow"))
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        if (inA && i < n) anchor.append(html.substring(i))
        i = n
      } else {
        if (inA && lt > i) anchor.append(html.substring(i, lt))
        if (lt + 1 >= n) i = n
        else if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else if (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?') {
          val end = html.indexOf('>', lt + 1)
          i = if (end < 0) n else end + 1
        } else if (html.charAt(lt + 1) == '/') {
          val end = html.indexOf('>', lt + 2)
          if (end < 0) i = n
          else {
            val name = html.substring(lt + 2, end).trim
              .toLowerCase(java.util.Locale.ROOT).takeWhile(_.isLetterOrDigit)
            if (name == "a") close()
            i = end + 1
          }
        } else if (html.charAt(lt + 1).isLetter) {
          var j = lt + 1
          var inQuote: Char = 0
          var end = -1
          while (j < n && end < 0) {
            val c = html.charAt(j)
            if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
            else if (c == '"' || c == '\'') inQuote = c
            else if (c == '>') end = j
            j += 1
          }
          if (end < 0) i = n
          else {
            val inner = html.substring(lt + 1, end)
            val name = inner.takeWhile(c => c.isLetterOrDigit)
              .toLowerCase(java.util.Locale.ROOT)
            val selfClosing = isSelfClosingInner(inner, name) || voidTags.contains(name)
            if (name == "a") {
              close() // implicit close: anchors never nest
              val attrs = inner.drop(name.length)
              val h = attrValue(attrs, "href").map(decodeEntities).getOrElse("")
              if (selfClosing) {
                if (h.nonEmpty) out += Link(h, "", relNofollow(attrs))
              } else {
                inA = true; href = h; nofollow = relNofollow(attrs)
              }
            }
            i = end + 1
            if (!selfClosing && rawTextTags.contains(name)) {
              val closeIdx = indexOfAsciiLower(html, s"</$name", i)
              if (closeIdx < 0) i = n
              else {
                val gt = html.indexOf('>', closeIdx)
                i = if (gt < 0) n else gt + 1
              }
            }
          }
        } else {
          if (inA) anchor.append('<')
          i = lt + 1
        }
      }
    }
    close()
    out.result()
  }

  def pageMeta(html: String): PageMeta = {
    var title: String = null
    var canonical: String = null
    var noindex = false
    var nofollow = false
    var i = 0
    val n = html.length
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) i = n
      else if (lt + 1 >= n) i = n
      else if (html.startsWith("<!--", lt)) {
        val end = html.indexOf("-->", lt + 4)
        i = if (end < 0) n else end + 3
      } else if (html.charAt(lt + 1) == '!' || html.charAt(lt + 1) == '?' ||
          html.charAt(lt + 1) == '/') {
        val end = html.indexOf('>', lt + 1)
        i = if (end < 0) n else end + 1
      } else if (html.charAt(lt + 1).isLetter) {
        var j = lt + 1
        var inQuote: Char = 0
        var end = -1
        while (j < n && end < 0) {
          val c = html.charAt(j)
          if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
          else if (c == '"' || c == '\'') inQuote = c
          else if (c == '>') end = j
          j += 1
        }
        if (end < 0) i = n
        else {
          val inner = html.substring(lt + 1, end)
          val name = inner.takeWhile(_.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
          val selfClosing = isSelfClosingInner(inner, name) || voidTags.contains(name)
          val attrs = inner.drop(name.length)
          i = end + 1
          name match {
            case "title" if !selfClosing =>
              // rcdata: raw text to the matching close tag, tags-as-text.
              // EVERY title skips as rcdata (a second <title>, e.g. inside
              // <svg>, must not leak its content back into live markup
              // where a decoy <link rel=canonical> would be honored) —
              // only the first one's text is captured
              val closeIdx = indexOfAsciiLower(html, "</title", i)
              val stop = if (closeIdx < 0) n else closeIdx
              if (title == null)
                title = normalizeWs(decodeEntities(html.substring(i, stop)))
              i = if (closeIdx < 0) n
              else { val gt = html.indexOf('>', closeIdx); if (gt < 0) n else gt + 1 }
            case "link" if canonical == null =>
              val isCanonical = attrValue(attrs, "rel").exists(
                _.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+").contains("canonical"))
              if (isCanonical)
                attrValue(attrs, "href").map(decodeEntities).filter(_.nonEmpty)
                  .foreach(canonical = _)
            case "meta" =>
              val isRobots = attrValue(attrs, "name").exists(
                _.trim.equalsIgnoreCase("robots"))
              if (isRobots) attrValue(attrs, "content").foreach { c =>
                val toks = c.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+")
                if (toks.contains("noindex") || toks.contains("none")) noindex = true
                if (toks.contains("nofollow") || toks.contains("none")) nofollow = true
              }
            case nm if !selfClosing && rawTextTags.contains(nm) =>
              val closeIdx = indexOfAsciiLower(html, s"</$nm", i)
              i = if (closeIdx < 0) n
              else { val gt = html.indexOf('>', closeIdx); if (gt < 0) n else gt + 1 }
            case _ => ()
          }
        }
      } else i = lt + 1
    }
    PageMeta(if (title == null) "" else title,
      if (canonical == null) "" else canonical, noindex, nofollow)
  }

  def extractTables(html: String): Vector[ExtractedTable] = {
    final class TCap(val idx: Int, val penalized: Boolean) {
      val caption = new StringBuilder
      val rows = ArrayBuffer(ArrayBuffer.empty[(Boolean, String)])
      var cell: StringBuilder = null
      var cellIsTh = false
      var linkChars = 0 // over cell + caption content (subtree, nested incl.)
      // per-TABLE caption nesting: a page-global counter would let one
      // omitted </caption> (legal HTML5 — caption's end tag is omittable)
      // route every later cell's text into captions for the rest of the
      // document; scoping it here means the leak dies with the table
      var captionDepth = 0
      def newRow(): Unit = if (rows.last.nonEmpty) rows += ArrayBuffer.empty[(Boolean, String)]
      def closeCell(): Unit = if (cell != null) {
        rows.last += ((cellIsTh, normalizeWs(cell.toString)))
        cell = null
      }
    }
    val out = ArrayBuffer.empty[ExtractedTable]
    val tstack = ArrayBuffer.empty[TCap]
    var nextIdx = 0
    var dropDepth = 0
    var linkDepth = 0
    var penaltyDepth = 0

    def closeTable(): Unit = {
      val t = tstack.remove(tstack.length - 1)
      t.closeCell()
      val rows = t.rows.filter(_.exists(_._2.nonEmpty))
      val nonEmpty = rows.flatten.filter(_._2.nonEmpty)
      val cellChars = nonEmpty.iterator.map(_._2.length).sum
      val cap = normalizeWs(t.caption.toString)
      val contentChars = cellChars + cap.length
      val linkDensity =
        if (contentChars == 0) 0f else math.min(1f, t.linkChars.toFloat / contentChars)
      val isData = nonEmpty.length >= MIN_DATA_CELLS && rows.length >= 2 &&
        cellChars.toFloat / nonEmpty.length <= MAX_AVG_CELL_CHARS
      if (isData && !t.penalized && linkDensity <= 0.5f)
        out += ExtractedTable(t.idx, cap,
          rows.iterator.zipWithIndex.map { case (r, ri) =>
            TableRowCells(ri, r.nonEmpty && r.forall(_._1), r.map(_._2).toVector)
          }.toVector)
      // nested table: text + link mass flow into the enclosing open cell
      // (space-joined, like the prose path's flowFull), independent of
      // whether the inner table was itself emitted. Both flow TOGETHER or
      // not at all: link mass without its content mass (nested table
      // directly under <tr>, no open cell) would inflate the outer's link
      // density with links it never renders
      if (tstack.nonEmpty) {
        val outer = tstack.last
        if (outer.cell != null) {
          val flat = (t.rows.iterator.flatMap(_.iterator.map(_._2)) ++ Iterator(cap))
            .filter(_.nonEmpty).mkString(" ")
          if (flat.nonEmpty) { outer.cell.append(' '); outer.cell.append(flat) }
          outer.linkChars += t.linkChars
        }
      }
    }

    tokenize(html).foreach {
      case TText(t) =>
        if (dropDepth == 0 && tstack.nonEmpty) {
          val top = tstack.last
          val decoded = decodeEntities(t)
          if (top.captionDepth > 0) top.caption.append(decoded)
          else if (top.cell != null) top.cell.append(decoded)
          if (linkDepth > 0 && (top.captionDepth > 0 || top.cell != null))
            top.linkChars += normalizeWs(decoded).length
        }
      case TOpen(name, selfClosing) =>
        if (dropTags.contains(name) && !selfClosing && !voidTags.contains(name)) dropDepth += 1
        else if (dropDepth == 0) {
          if (name == "a" && !selfClosing) linkDepth += 1
          else if (penaltyTags.contains(name) && !selfClosing) penaltyDepth += 1
          else if (name == "table") {
            // an unclosed <a> from earlier tag soup must not taint this
            // table's link density wholesale (the gate hard-rejects at
            // > 0.5 where the prose path merely down-weights) — row and
            // table boundaries implicitly close dangling anchors; the
            // cost is losing the "whole table wrapped in one <a>" signal,
            // which the per-cell links still carry
            linkDepth = 0
            tstack += new TCap(nextIdx, penaltyDepth > 0)
            nextIdx += 1
          } else if (tstack.nonEmpty) {
            val top = tstack.last
            name match {
              case "caption" => top.captionDepth += 1
              case "tr" =>
                linkDepth = 0 // implied close of a row-spanning soup <a>
                top.captionDepth = 0 // HTML5 implied </caption>
                top.closeCell(); top.newRow()
              case "td" | "th" =>
                linkDepth = 0 // implied close of a cell-spanning soup <a>
                top.captionDepth = 0 // HTML5 implied </caption>
                top.closeCell()
                top.cell = new StringBuilder
                top.cellIsTh = name == "th"
              case "br" =>
                if (top.captionDepth > 0) top.caption.append('\n')
                else if (top.cell != null) top.cell.append('\n')
              case _ => ()
            }
          }
        }
      case TClose(name) =>
        if (dropTags.contains(name)) { if (dropDepth > 0) dropDepth -= 1 }
        else if (dropDepth == 0) {
          if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
          else if (penaltyTags.contains(name)) { if (penaltyDepth > 0) penaltyDepth -= 1 }
          else if (name == "table") {
            if (tstack.nonEmpty) { linkDepth = 0; closeTable() }
          } else if (tstack.nonEmpty) name match {
            case "caption" =>
              if (tstack.last.captionDepth > 0) tstack.last.captionDepth -= 1
            case "td" | "th" => tstack.last.closeCell()
            case "tr" => linkDepth = 0; tstack.last.closeCell(); tstack.last.newRow()
            case _ => ()
          }
        }
    }
    while (tstack.nonEmpty) closeTable() // unclosed tables at EOF
    out.sortBy(_.tableIdx).toVector
  }
}
