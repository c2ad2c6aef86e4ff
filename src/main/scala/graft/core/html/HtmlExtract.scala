package graft.core.html

import scala.collection.mutable.ArrayBuffer

/** Main-content extraction for HTML pages: DOM-tree boilerplate stripping
  * via text-density and tag-heuristic scoring.
  *
  * There is NO reference implementation for this path — the reference
  * (kasha13/pdf_extract) is PDF-only. The algorithm here is designed from
  * scratch per BASELINE.json's north_rule ("DOM-tree boilerplate stripping
  * via text-density and tag-heuristic scoring") and is fully deterministic
  * so the golden-diff harness applies:
  *
  *  1. scan: tags / text / comments / raw-text elements (script, style),
  *     handed to a [[TokenSink]] — the one tolerant tag scanner behind
  *     [[extract]], [[extractLinks]], [[pageMeta]] and [[extractTables]];
  *  2. build a block tree on block-level elements, tolerating unclosed tags;
  *  3. score each block: text density (chars per tag), link density, and a
  *     tag prior (article/main/p boosted; nav/header/footer/aside/form
  *     penalized, inherited by descendants);
  *  4. keep blocks scoring above threshold; emit their text joined by
  *     '\n' plus (start, end) char-offset spans.
  */
object HtmlExtract {

  final case class Block(text: String, tagPath: String, score: Float)
  final case class Result(text: String, blocks: Vector[Block])

  private val blockTags = Set(
    "p", "div", "article", "section", "main", "li", "ul", "ol", "td", "th",
    "tr", "table", "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre",
    "header", "footer", "nav", "aside", "form", "body", "figcaption", "dd", "dt",
    "figure")

  private val dropTags = Set("script", "style", "noscript", "template", "svg", "head", "iframe")
  private val rawTextTags = Set("script", "style", "noscript", "template")
  private val penaltyTags = Set("nav", "header", "footer", "aside", "form")
  // figcaption gets the content prior: captions are short by nature and
  // the production extractors keep them (trafilatura/readability both do);
  // img ALT text is deliberately NOT injected into the extracted text —
  // it is metadata, and on real pages predominantly boilerplate ("logo",
  // filenames); the figure's caption is the content-bearing text
  private val boostTags = Set("article", "main", "p", "h1", "h2", "h3", "blockquote", "pre",
    "figcaption")

  private val namedEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "copy" -> "©", "reg" -> "®",
    "laquo" -> "«", "raquo" -> "»", "deg" -> "°",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val name = s.substring(i + 1, semi)
          if (name.startsWith("#x") || name.startsWith("#X")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(name.substring(2), 16)))
              i = semi
            } catch { case _: Exception => sb.append(c) }
          } else if (name.startsWith("#")) {
            try {
              sb.appendAll(Character.toChars(Integer.parseInt(name.substring(1))))
              i = semi
            } catch { case _: Exception => sb.append(c) }
          } else namedEntities.get(name) match {
            case Some(v) => sb.append(v); i = semi
            case None => sb.append(c)
          }
        } else sb.append(c)
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  private final class BlockAcc(
      val tag: String, val depth: Int, val penalized: Boolean, val inTable: Boolean) {
    val text = new java.lang.StringBuilder // DIRECT text only (prose scoring)
    // FULL subtree text — maintained only inside tables (bounded by table
    // content; avoids O(depth x chars) copying on deeply nested pages),
    // so a cell whose content is wrapped in <div>/<p> still has text for
    // the row-wise data render; null outside tables, where nothing reads it
    val full = if (inTable) new java.lang.StringBuilder else null
    var tagCount = 0 // descendant tags seen inside this block
    var linkChars = 0
    // link chars of the WHOLE subtree — propagated upward exactly like
    // `full` (tables only): without it a link farm whose <a>s sit inside
    // per-cell <div>/<p> wrappers counts zero cell link chars and the
    // majority-link guard never fires
    var fullLinkChars = 0
    var ownBlock = false // has direct text (not only via child blocks)
    // table-composite state (allocated only for tag == "table"): cells AND
    // inner blocks are BUFFERED here instead of emitted, so the close of
    // the table can decide data-vs-layout with the full picture
    var tableRows: ArrayBuffer[ArrayBuffer[BufferedItem]] = null
    var buffered: ArrayBuffer[BufferedItem] = null // close-order, for layout replay
    def currentRow(): ArrayBuffer[BufferedItem] = {
      if (tableRows == null) tableRows = ArrayBuffer(ArrayBuffer.empty[BufferedItem])
      tableRows.last
    }
    def newRow(): Unit = {
      if (tableRows == null) tableRows = ArrayBuffer(ArrayBuffer.empty[BufferedItem])
      else if (tableRows.last.nonEmpty) tableRows += ArrayBuffer.empty[BufferedItem]
    }
    def buffer(item: BufferedItem): Unit = {
      if (buffered == null) buffered = ArrayBuffer.empty[BufferedItem]
      buffered += item
    }
  }

  /** a block closed inside a table, held until the table decides its fate:
    * `text` is the block's DIRECT text (layout replay scores it exactly as
    * round-3 prose), `fullText` its whole-subtree text (the data render) */
  private final case class BufferedItem(
      text: String, fullText: String, tag: String,
      tagCount: Int, linkChars: Int, penalized: Boolean)

  /** data-table detection bounds: a table renders ROW-WISE (cells joined
    * by " | ", rows by '\n', one scored block for the whole table) when it
    * has at least MIN_DATA_CELLS non-empty cells in at least 2 rows and
    * the average cell is short (data, not paragraphs-in-layout-tables);
    * otherwise it is a LAYOUT table and its cells score as prose blocks
    * exactly as before. */
  final val MIN_DATA_CELLS = 4
  final val MAX_AVG_CELL_CHARS = 80f

  /** index of ASCII-lowercase `needle` in `hay` from `from`, matching
    * hay ASCII-case-insensitively WITHOUT allocating a lowered copy. Two
    * properties the naive `hay.toLowerCase.indexOf` lacks: offsets are
    * exact even where Unicode lowercasing changes string length (U+0130
    * 'İ' lowers to two chars, shifting every later index), and repeated
    * calls inside per-element loops cost no per-call allocation. Tag
    * names are ASCII, so ASCII folding is the correct equivalence. */
  private[graft] def indexOfAsciiLower(hay: String, needle: String, from: Int): Int =
    indexOfAsciiLower(hay, needle, from, hay.length)

  /** the same search, for a match inside hay[from, until). A needle that
    * starts with a non-letter jumps between occurrences of that char. */
  private def indexOfAsciiLower(hay: String, needle: String, from: Int, until: Int): Int = {
    val n = until
    val m = needle.length
    var i = if (from < 0) 0 else from
    val c0 = if (m > 0) needle.charAt(0) else 'a'
    val jump = !(c0 >= 'a' && c0 <= 'z')
    while (i + m <= n) {
      if (jump) {
        i = hay.indexOf(c0, i)
        if (i < 0 || i + m > n) return -1
      }
      var k = 0
      var ok = true
      while (ok && k < m) {
        val c = hay.charAt(i + k)
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        if (lc != needle.charAt(k)) ok = false else k += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** quote-aware attribute iterator over a tag's attribute text: yields
    * (lowercased name, raw value) in document order. Unlike a substring
    * scan, an attribute NAME appearing inside another attribute's quoted
    * VALUE (`title="see href=/spam" href="/real"`) is never matched —
    * the scanner consumes whole name[=value] units. Standalone names
    * yield "" (HTML boolean attributes); an unterminated quote takes the
    * rest of the tag; duplicate names all yield (callers take the first,
    * the HTML5 duplicate-attribute rule). */
  private[graft] def foreachAttr(inner: String)(f: (String, String) => Unit): Unit = {
    var i = 0
    val n = inner.length
    while (i < n) {
      // skip whitespace and stray '/' (self-closing slash, malformed runs)
      while (i < n && {
        val c = inner.charAt(i)
        c.isWhitespace || c == '/'
      }) i += 1
      if (i < n) {
        val ns = i
        while (i < n && {
          val c = inner.charAt(i)
          !c.isWhitespace && c != '=' && c != '/' && c != '"' && c != '\''
        }) i += 1
        val name = inner.substring(ns, i).toLowerCase(java.util.Locale.ROOT)
        var j = i
        while (j < n && inner.charAt(j).isWhitespace) j += 1
        var value = ""
        if (j < n && inner.charAt(j) == '=') {
          j += 1
          while (j < n && inner.charAt(j).isWhitespace) j += 1
          if (j < n) {
            val q = inner.charAt(j)
            if (q == '"' || q == '\'') {
              val end = inner.indexOf(q, j + 1)
              if (end < 0) { value = inner.substring(j + 1); j = n }
              else { value = inner.substring(j + 1, end); j = end + 1 }
            } else {
              val vs = j
              while (j < n && !inner.charAt(j).isWhitespace) j += 1
              value = inner.substring(vs, j)
            }
          }
          i = j
        } else if (i == ns) {
          // no name consumed (stray quote): skip one char to guarantee progress
          i += 1
        }
        if (name.nonEmpty) f(name, value)
      }
    }
  }

  /** lowercased `class` + `id` attribute values of a tag's attribute text
    * (minimal scan; only called when the tag body mentions class/id) */
  private[graft] def classIdHint(inner: String): String = {
    val lower = inner.toLowerCase(java.util.Locale.ROOT)
    if (!lower.contains("class") && !lower.contains("id")) return ""
    val sb = new StringBuilder
    foreachAttr(inner) { (name, v) =>
      if ((name == "class" || name == "id") && v.nonEmpty)
        sb.append(' ').append(v.toLowerCase(java.util.Locale.ROOT))
    }
    sb.toString
  }

  /** [[classIdHint]] of the attribute text html[from, end), "" without a
    * substring when the range mentions neither class nor id */
  private def classIdHint(html: String, from: Int, end: Int): String =
    if (indexOfAsciiLower(html, "class", from, end) < 0 &&
      indexOfAsciiLower(html, "id", from, end) < 0) ""
    else classIdHint(html.substring(from, end))

  /** class/id tokens that mark boilerplate containers — the standard
    * "unlikely candidates" heuristic of readability/boilerpipe-family
    * extractors (public-domain pattern lists), plus consent-banner vintage */
  private val unlikelyHint = java.util.regex.Pattern.compile(
    "banner|breadcrumb|combx|comment|community|cookie|consent|gdpr|disqus|" +
      "extra|foot|gutter|masthead|menu|modal|nav|pager|pagination|popup|promo|" +
      "related|remark|rss|share|shoutbox|sidebar|skyscraper|social|sponsor|" +
      "advert|\\bad\\b|\\bad-|-ad\\b|\\bads\\b|subscribe|newsletter|widget")
  private val likelyHint = java.util.regex.Pattern.compile(
    "\\band\\b|article|body|column|content|main|shadow|post|text|story")

  private[graft] def hintPenalized(hint: String): Boolean =
    hint.nonEmpty && unlikelyHint.matcher(hint).find() && !likelyHint.matcher(hint).find()

  /** token callbacks of [[scan]]; a text token is the range [start, end)
    * of the page */
  private abstract class TokenSink {
    def text(html: String, start: Int, end: Int): Unit
    /** an open tag: `flags` are the name's tag sets ([[BLOCK]], [[DROP]],
      * ...), html[attrStart, attrEnd) its attribute text. Returning true
      * marks the element's content as raw text: [[scan]] hands everything
      * up to the matching close tag (or the page end) to [[text]] as one
      * range, possibly empty, then closes the element. A [[RAW]] element's
      * content is skipped the same way, without a text token. */
    def open(html: String, name: String, flags: Int, selfClosing: Boolean,
        attrStart: Int, attrEnd: Int): Boolean
    def close(name: String, flags: Int): Unit
  }

  /** the tolerant tag scanner: comments, doctype, quote-aware tag ends,
    * unterminated tags, raw-text elements. Tag names are read in place: an
    * ASCII name comes from [[tagName]]'s table of known names when it is
    * there; a name with any other char takes the substring path of the
    * original definition. */
  private def scan(html: String, sink: TokenSink): Unit = {
    var i = 0
    val n = html.length
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) {
        if (i < n) sink.text(html, i, n)
        i = n
      } else {
        if (lt > i) sink.text(html, i, lt)
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
            val name = closeTagName(html, lt + 2, end)
            sink.close(name, flagsOf(name))
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
            val from = lt + 1
            var k = from
            var ascii = true
            while (k < end && isLetterOrDigit(html.charAt(k))) { if (html.charAt(k) >= 0x80) ascii = false; k += 1 }
            val name =
              if (ascii) tagName(html, from, k)
              else html.substring(from, end).takeWhile(c => c.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
            val flags = flagsOf(name)
            // a trailing '/' self-closes only right after the bare name,
            // whitespace or a closing quote: in `<a href=https://x.example/>`
            // it is part of the unquoted value (HTML5) and the tag is open
            val selfClosing = (html.charAt(end - 1) == '/' && (end - from == name.length + 1 || {
              val b = html.charAt(end - 2)
              b.isWhitespace || b == '"' || b == '\''
            })) || (flags & VOID) != 0
            val rawText = sink.open(html, name, flags, selfClosing, math.min(from + name.length, end), end)
            i = end + 1
            // raw-text elements: skip to the matching close tag verbatim
            if (!selfClosing && (rawText || (flags & RAW) != 0)) {
              val closeIdx = indexOfAsciiLower(html,
                if ((flags & RAW) != 0) rawTextClose(name) else "</" + name, i)
              if (rawText) sink.text(html, i, if (closeIdx < 0) n else closeIdx)
              if (closeIdx < 0) i = n
              else {
                val gt = html.indexOf('>', closeIdx)
                sink.close(name, flags)
                i = if (gt < 0) n else gt + 1
              }
            }
          }
        } else {
          sink.text(html, lt, lt + 1) // a stray '<'
          i = lt + 1
        }
      }
    }
  }

  /** `html.substring(from, end).trim.toLowerCase(ROOT).takeWhile(isLetterOrDigit)`,
    * read in place when the name and the char that ends it are ASCII */
  private def closeTagName(html: String, from: Int, end: Int): String = {
    var s = from
    while (s < end && html.charAt(s) <= ' ') s += 1
    var k = s
    while (k < end && html.charAt(k) < 0x80 && isLetterOrDigit(html.charAt(k))) k += 1
    if (k == end || html.charAt(k) < 0x80) tagName(html, s, k)
    else html.substring(from, end).trim.toLowerCase(java.util.Locale.ROOT).takeWhile(c => c.isLetterOrDigit)
  }

  /** lowercased ASCII tag name html[from, to): the shared constant for a
    * known name, else a new string */
  private def tagName(html: String, from: Int, to: Int): String = {
    val len = to - from
    var h = 0
    var k = from
    while (k < to) { h = 31 * h + asciiLower(html.charAt(k)); k += 1 }
    var slot = h & (knownNames.length - 1)
    while (knownNames(slot) != null) {
      val cand = knownNames(slot)
      if (cand.length == len && indexOfAsciiLower(html, cand, from, to) == from) return cand
      slot = (slot + 1) & (knownNames.length - 1)
    }
    html.substring(from, to).toLowerCase(java.util.Locale.ROOT)
  }

  @inline private def asciiLower(c: Char): Char = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** `Character.isLetterOrDigit`, decided in place for ASCII */
  @inline private def isLetterOrDigit(c: Char): Boolean =
    if (c < 0x80) { val l = c | 0x20; (l >= 'a' && l <= 'z') || (c >= '0' && c <= '9') }
    else Character.isLetterOrDigit(c)

  /** ASCII chars that `Character.isWhitespace` accepts: \t \n VT \f \r, FS GS RS US, space */
  private final val AsciiWs = 0x1f0003e00L

  /** `c.isWhitespace || c == NBSP`, the separators [[normalizeWs]] collapses */
  @inline private def isSpace(c: Char): Boolean =
    if (c < 0x80) c < 64 && ((AsciiWs >>> c) & 1L) != 0L
    else Character.isWhitespace(c) || c == '\u00a0'

  private val voidTags = Set("br", "hr", "img", "input", "meta", "link", "area",
    "base", "col", "embed", "source", "track", "wbr")

  private val rawTextClose: Map[String, String] = rawTextTags.iterator.map(t => t -> s"</$t").toMap

  /** open-addressed table (by String.hashCode) of the tag names the
    * extractor tests for, plus common inline ones, with each name's set
    * memberships as flags; read-only */
  private val knownNames = new Array[String](256)
  private val knownFlags = new Array[Int](256)
  private final val BLOCK = 1
  private final val DROP = 2
  private final val RAW = 4
  private final val PENALTY = 8
  private final val BOOST = 16
  private final val VOID = 32

  locally {
    val names = blockTags ++ dropTags ++ voidTags ++ Set("a", "b", "i", "em", "strong", "span",
      "small", "code", "title", "html", "caption", "thead", "tbody", "tfoot", "label", "button",
      "select", "option", "font", "sup", "sub", "time", "abbr", "cite", "picture")
    names.foreach { nm =>
      var slot = nm.hashCode & (knownNames.length - 1)
      while (knownNames(slot) != null) slot = (slot + 1) & (knownNames.length - 1)
      knownNames(slot) = nm
      knownFlags(slot) =
        (if (blockTags(nm)) BLOCK else 0) | (if (dropTags(nm)) DROP else 0) |
          (if (rawTextTags(nm)) RAW else 0) | (if (penaltyTags(nm)) PENALTY else 0) |
          (if (boostTags(nm)) BOOST else 0) | (if (voidTags(nm)) VOID else 0)
    }
  }

  /** the tag sets `name` is in (every set member is a known name) */
  private def flagsOf(name: String): Int = {
    var slot = name.hashCode & (knownNames.length - 1)
    while (knownNames(slot) != null) {
      val known = knownNames(slot)
      if ((known eq name) || known == name) return knownFlags(slot)
      slot = (slot + 1) & (knownNames.length - 1)
    }
    0
  }

  @inline private def is(name: String, flag: Int): Boolean = (flagsOf(name) & flag) != 0

  /** threshold on the block score; blocks >= keep, < drop */
  final val SCORE_THRESHOLD = 10f

  def extract(html: String): Result = {
    val blocks = ArrayBuffer.empty[Block]
    // stack of open blocks; a synthetic root collects stray text
    val root = new BlockAcc("root", 0, penalized = false, inTable = false)
    val stack = ArrayBuffer(root)
    val tagPath = ArrayBuffer.empty[String]
    var dropDepth = 0
    var linkDepth = 0

    def scoreAndEmit(b: BlockAcc): Unit = {
      val text = normalizeWs(b.text)
      if (text.nonEmpty) {
        val chars = text.length
        val density = chars.toFloat / (1 + b.tagCount)
        val linkDensity = if (chars == 0) 0f else math.min(1f, b.linkChars.toFloat / chars)
        val prior =
          if (b.penalized) 0.25f
          else if (is(b.tag, BOOST)) 2.0f
          else 1.0f
        val score = density * prior * (1.0f - 0.75f * linkDensity)
        blocks += Block(text, b.tag, score)
      }
    }

    def nearestTable(): BlockAcc = {
      var i = stack.length - 1
      while (i >= 0 && stack(i).tag != "table") i -= 1
      if (i >= 0) stack(i) else null
    }

    def emitTable(t: BlockAcc): Unit = {
      val own = normalizeWs(t.text) // caption / stray table text
      val rows =
        if (t.tableRows == null) ArrayBuffer.empty[ArrayBuffer[BufferedItem]]
        else t.tableRows.map(_.filter(_.fullText.nonEmpty)).filter(_.nonEmpty)
      val cells = rows.flatten
      val totalCellChars = cells.iterator.map(_.fullText.length).sum
      val isData = cells.length >= MIN_DATA_CELLS && rows.length >= 2 &&
        totalCellChars.toFloat / cells.length <= MAX_AVG_CELL_CHARS
      if (isData) {
        // one row-wise block for the whole table: " | " between cells,
        // '\n' between rows; cell text is the cell's FULL subtree text so
        // <td><div>42</div></td> markup keeps its cells; scored by
        // chars-per-row (cell-level density would charge each tiny cell
        // its own tag overhead — the reason data tables used to lose
        // their short cells)
        val body = rows.map(_.map(_.fullText).mkString(" | ")).mkString("\n")
        val text = if (own.nonEmpty) own + "\n" + body else body
        val chars = text.length
        // link density over CONTENT chars (cell text + caption), not the
        // rendered string: " | " separators and newlines would dilute a
        // short-cell link grid (calendar/pagination) below the majority
        // rule; fullLinkChars covers links wrapped in blocks inside cells
        val contentChars = totalCellChars + own.length
        val linkDensity =
          if (contentChars == 0) 0f
          else math.min(1f, t.fullLinkChars.toFloat / contentChars)
        // a table that passed the structural data gate gets the same
        // content prior as boostTags: the per-row divisor already charges
        // its structure, and without the prior a small 3-row table scores
        // half of the SAME chars in one <p> and dies at the threshold
        // (link-farm tables still die: majority-link tables take the
        // boilerplate prior instead — the readability-family "link
        // density > 1/2 is navigation" rule — calibration-gated)
        val prior = if (t.penalized || linkDensity > 0.5f) 0.25f else 2.0f
        val score = (chars.toFloat / (1 + rows.length)) * prior * (1.0f - 0.75f * linkDensity)
        if (text.nonEmpty) blocks += Block(text, "table", score) // threshold-filtered with all blocks
      } else {
        // layout table: replay EVERY buffered block (cells and the blocks
        // nested inside them) through the round-3 prose scoring, in close
        // order — byte-identical to the pre-buffering behavior
        if (t.buffered != null) t.buffered.foreach { c =>
          if (c.text.nonEmpty) {
            val density = c.text.length.toFloat / (1 + c.tagCount)
            val linkDensity = math.min(1f, c.linkChars.toFloat / math.max(c.text.length, 1))
            val prior =
              if (c.penalized) 0.25f
              else if (is(c.tag, BOOST)) 2.0f
              else 1.0f
            blocks += Block(c.text, c.tag, density * prior * (1.0f - 0.75f * linkDensity))
          }
        }
        scoreAndEmit(t)
      }
    }

    def closeBlock(): Unit = {
      val b = stack.remove(stack.length - 1)
      val table = nearestTable()
      val parent = if (stack.nonEmpty) stack.last else null
      // subtree text flows upward inside tables (space-joined: cells render
      // on one row line; normalizeWs collapses the seams)
      def flowFull(): Unit =
        if (parent != null && parent.inTable) {
          if (b.full.length > 0) {
            if (parent.full.length > 0) parent.full.append(' ')
            parent.full.append(b.full)
          }
          parent.fullLinkChars += b.fullLinkChars
        }
      b.tag match {
        case "td" | "th" if table != null =>
          // buffer the cell on the enclosing table instead of emitting;
          // fullText (whole subtree) feeds the data render, text (direct)
          // the layout replay
          val item = BufferedItem(normalizeWs(b.text), normalizeWs(b.full),
            b.tag, b.tagCount, b.linkChars, b.penalized)
          table.currentRow() += item
          table.buffer(item)
          flowFull()
        case "tr" if table != null =>
          // stray text directly inside <tr> joins the row as a pseudo-cell
          val stray = normalizeWs(b.text)
          if (stray.nonEmpty) {
            val item = BufferedItem(stray, stray, "tr", b.tagCount, b.linkChars, b.penalized)
            table.currentRow() += item
            table.buffer(item)
          }
          table.newRow()
          flowFull()
        case "table" =>
          emitTable(b)
          flowFull() // nested table's text joins the enclosing cell
        case _ if table != null =>
          // block nested inside a table (td > div/p/...): buffer for the
          // layout replay; its text reaches the cell via flowFull
          table.buffer(BufferedItem(normalizeWs(b.text), normalizeWs(b.full),
            b.tag, b.tagCount, b.linkChars, b.penalized))
          flowFull()
        case _ =>
          scoreAndEmit(b)
      }
      if (stack.nonEmpty) stack.last.tagCount += b.tagCount + 1
    }

    scan(html, new TokenSink {
      private var nextAmp = -1 // the first '&' at or after the last text run

      def text(html: String, start: Int, end: Int): Unit =
        if (dropDepth == 0) {
          if (nextAmp < start) {
            nextAmp = html.indexOf('&', start)
            if (nextAmp < 0) nextAmp = Int.MaxValue
          }
          // a run without '&' decodes to itself: append it from the page
          val plain = nextAmp >= end
          val decoded = if (plain) html else decodeEntities(html.substring(start, end))
          val from = if (plain) start else 0
          val to = if (plain) end else decoded.length
          val top = stack.last
          top.text.append(decoded, from, to)
          if (top.inTable) top.full.append(decoded, from, to)
          if (linkDepth > 0) {
            val n = normalizedLength(decoded, from, to)
            top.linkChars += n
            if (top.inTable) top.fullLinkChars += n
          }
        }

      def open(html: String, name: String, flags: Int, selfClosing: Boolean,
          attrStart: Int, attrEnd: Int): Boolean = {
        if ((flags & DROP) != 0 && !selfClosing && (flags & VOID) == 0) dropDepth += 1
        else if (dropDepth == 0) {
          if (name == "a" && !selfClosing) linkDepth += 1
          if (name == "br") {
            stack.last.text.append('\n')
            if (stack.last.inTable) stack.last.full.append('\n')
          }
          if ((flags & BLOCK) != 0 && !selfClosing) {
            // HTML5 implied end tags: an open <p> closes on ANY block-level
            // start (tag-soup pages rarely close their p's — without this a
            // page's first <p> swallows every later tag into its density
            // denominator); <li> closes on <li>, <td>/<th> on cell/row
            // starts, <tr> on <tr>
            while (stack.length > 1 && (
                stack.last.tag == "p" ||
                (name == "li" && stack.last.tag == "li") ||
                ((name == "td" || name == "th" || name == "tr") &&
                  (stack.last.tag == "td" || stack.last.tag == "th")) ||
                (name == "tr" && stack.last.tag == "tr"))) closeBlock()
            val penalized = stack.last.penalized || (flags & PENALTY) != 0 ||
              hintPenalized(classIdHint(html, attrStart, attrEnd))
            stack += new BlockAcc(name, stack.length, penalized,
              inTable = name == "table" || stack.last.inTable)
          } else if (!selfClosing) {
            stack.last.tagCount += 1
          }
        }
        false
      }

      def close(name: String, flags: Int): Unit =
        if ((flags & DROP) != 0) { if (dropDepth > 0) dropDepth -= 1 }
        else if (dropDepth == 0) {
          if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
          if ((flags & BLOCK) != 0) {
            // close up to the matching open block (tolerates misnesting)
            val idx = stack.lastIndexWhere(_.tag == name)
            if (idx > 0) {
              while (stack.length > idx) closeBlock()
            }
          }
        }
    })
    while (stack.length > 1) closeBlock()
    scoreAndEmit(root)

    val sb = new java.lang.StringBuilder
    val spans = Vector.newBuilder[Block]
    blocks.foreach { b =>
      if (b.score >= SCORE_THRESHOLD) {
        if (sb.length > 0) sb.append('\n')
        sb.append(b.text)
        spans += b
      }
    }
    Result(sb.toString, spans.result())
  }

  /** one outlink: raw (entity-decoded) href, whitespace-normalized
    * entity-decoded anchor text, and whether rel contains nofollow */
  final case class Link(href: String, anchor: String, nofollow: Boolean)

  /** case-preserving value of attribute `attr` (lowercase name) inside a
    * tag's attribute text — same standalone-name/quoting tolerance as
    * [[classIdHint]], but the VALUE keeps its case (URL paths are
    * case-sensitive; classIdHint lowercases because hints are matched
    * case-folded). Unterminated quote takes the rest of the tag. */
  private[graft] def attrValue(inner: String, attr: String): Option[String] = {
    if (!inner.toLowerCase(java.util.Locale.ROOT).contains(attr)) return None
    var res: Option[String] = None
    foreachAttr(inner) { (name, v) =>
      if (res.isEmpty && name == attr) res = Some(v)
    }
    res
  }

  /** the lowercased tokens of a space/comma-separated attribute value */
  private def valueTokens(v: String): Array[String] =
    v.toLowerCase(java.util.Locale.ROOT).split("[\\s,]+")

  /** outlink extraction — every `<a href=...>` with its anchor text, in
    * document order. A [[TokenSink]] over [[scan]], so the tolerance
    * contract is the scanner's (comments, doctype, quote-aware tag ends,
    * raw-text skip) plus the anchor rules:
    *
    *  - anchors never nest (HTML spec: an `<a>` start tag implicitly
    *    closes an open one) — a second `<a>` emits the first;
    *  - an anchor left open at EOF still emits (tolerant, like the
    *    unclosed-block handling in [[extract]]);
    *  - raw-text elements (script/style) INSIDE an anchor contribute no
    *    anchor text;
    *  - href and anchor text are entity-decoded (attributes legally carry
    *    `&amp;` etc.), anchor text is whitespace-normalized;
    *  - `<a>` without href (a named anchor target) emits nothing;
    *    a self-closed `<a href=... />` emits with empty anchor text.
    *
    * Feeds the host link graph ([[graft.ops.LinkOps]] -> hostRank): the
    * reference has no HTML path at all (pdf_extractor.h:6 — PDF-only);
    * this is north_rule surface. */
  def extractLinks(html: String): Vector[Link] = {
    val out = Vector.newBuilder[Link]
    var inA = false
    var href = ""
    var nofollow = false
    val anchor = new java.lang.StringBuilder
    def emit(): Unit = {
      if (inA && href.nonEmpty)
        out += Link(href, normalizeWs(decodeEntities(anchor.toString)), nofollow)
      inA = false; href = ""; nofollow = false; anchor.setLength(0)
    }
    scan(html, new TokenSink {
      def text(html: String, start: Int, end: Int): Unit =
        if (inA) anchor.append(html, start, end)

      def open(html: String, name: String, flags: Int, selfClosing: Boolean,
          attrStart: Int, attrEnd: Int): Boolean = {
        if (name == "a") {
          emit() // implicit close: anchors never nest
          val attrs = html.substring(attrStart, attrEnd)
          val h = attrValue(attrs, "href").map(decodeEntities).getOrElse("")
          val relNofollow = attrValue(attrs, "rel").exists(valueTokens(_).contains("nofollow"))
          if (selfClosing) {
            if (h.nonEmpty) out += Link(h, "", relNofollow)
          } else {
            inA = true; href = h; nofollow = relNofollow
          }
        }
        false
      }

      def close(name: String, flags: Int): Unit = if (name == "a") emit()
    })
    emit()
    out.result()
  }

  /** page-level metadata: first `<title>` (entity-decoded, ws-normalized),
    * first `<link rel="canonical" href=...>` (entity-decoded, case
    * preserved), and the union of `<meta name="robots" content=...>`
    * directives (noindex / nofollow; multiple robots metas union, the
    * standard conservative reading). HTTP `X-Robots-Tag` is a header, not
    * markup — callers with WARC headers apply it upstream. */
  final case class PageMeta(
      title: String, canonical: String, noindex: Boolean, nofollow: Boolean)

  def pageMeta(html: String): PageMeta = {
    var title: String = null
    var canonical: String = null
    var noindex = false
    var nofollow = false
    var inTitle = false
    scan(html, new TokenSink {
      def text(html: String, start: Int, end: Int): Unit =
        if (inTitle) {
          if (title == null) title = normalizeWs(decodeEntities(html.substring(start, end)))
          inTitle = false
        }

      def open(html: String, name: String, flags: Int, selfClosing: Boolean,
          attrStart: Int, attrEnd: Int): Boolean = {
        if (name == "title") {
          // rcdata: raw text to the matching close tag, tags-as-text.
          // EVERY title is read as rcdata (a second <title>, e.g. inside
          // <svg>, must not leak its content back into live markup where a
          // decoy <link rel=canonical> would be honored) — only the first
          // one's text is kept
          inTitle = !selfClosing
          inTitle
        } else {
          if (name == "link" && canonical == null) {
            val attrs = html.substring(attrStart, attrEnd)
            if (attrValue(attrs, "rel").exists(valueTokens(_).contains("canonical")))
              attrValue(attrs, "href").map(decodeEntities).filter(_.nonEmpty)
                .foreach(canonical = _)
          } else if (name == "meta") {
            val attrs = html.substring(attrStart, attrEnd)
            if (attrValue(attrs, "name").exists(_.trim.equalsIgnoreCase("robots")))
              attrValue(attrs, "content").foreach { c =>
                val toks = valueTokens(c)
                if (toks.contains("noindex") || toks.contains("none")) noindex = true
                if (toks.contains("nofollow") || toks.contains("none")) nofollow = true
              }
          }
          false
        }
      }

      def close(name: String, flags: Int): Unit = ()
    })
    PageMeta(if (title == null) "" else title,
      if (canonical == null) "" else canonical, noindex, nofollow)
  }

  /** collapse whitespace runs to single spaces, preserving explicit newlines */
  def normalizeWs(s: String): String = {
    val a = new Array[Char](s.length)
    s.getChars(0, s.length, a, 0)
    new String(a, 0, normalize(a))
  }

  private def normalizeWs(sb: java.lang.StringBuilder): String = {
    val a = new Array[Char](sb.length)
    sb.getChars(0, sb.length, a, 0)
    new String(a, 0, normalize(a))
  }

  private def normalizedLength(s: String, from: Int, to: Int): Int = {
    val a = new Array[Char](to - from)
    s.getChars(from, to, a, 0)
    normalize(a)
  }

  /** whitespace-normalizes `a` in place (output never passes input) and
    * returns the normalized length */
  private def normalize(a: Array[Char]): Int = {
    var n = 0
    var i = 0
    var pendingSpace = false
    var pendingNewline = false
    var started = false
    while (i < a.length) {
      val c = a(i)
      if (c > ' ' && c < 0x80) {
        // a run of printable ASCII (never whitespace) moves as one block
        var j = i + 1
        while (j < a.length && a(j) > ' ' && a(j) < 0x80) j += 1
        if (pendingNewline && started) { a(n) = '\n'; n += 1 }
        else if (pendingSpace && started) { a(n) = ' '; n += 1 }
        pendingNewline = false
        pendingSpace = false
        started = true
        if (n != i) System.arraycopy(a, i, a, n, j - i)
        n += j - i
        i = j - 1
      } else if (c == '\n') { pendingNewline = true; pendingSpace = false }
      else if (isSpace(c)) { if (!pendingNewline) pendingSpace = true }
      else {
        if (pendingNewline && started) { a(n) = '\n'; n += 1 }
        else if (pendingSpace && started) { a(n) = ' '; n += 1 }
        pendingNewline = false
        pendingSpace = false
        started = true
        a(n) = c
        n += 1
      }
      i += 1
    }
    n
  }

  // ---- structured table extraction ----------------------------------------

  /** one table row: `cells` keeps empty cells IN PLACE (column alignment is
    * the point of structured extraction — the prose render drops them),
    * but a row whose every cell is empty is not emitted */
  final case class TableRowCells(rowIdx: Int, isHeader: Boolean, cells: Vector[String])

  /** one extracted DATA table (layout/link-farm/penalized tables are not
    * emitted); `tableIdx` is the document-order index of the table's OPEN
    * tag over ALL table elements (so a page whose first table is layout
    * still numbers its second table 1 — indices are stable whether or not
    * neighbours pass the gate) */
  final case class ExtractedTable(
      tableIdx: Int, caption: String, rows: Vector[TableRowCells])

  /** Structured extraction of DATA tables: the table-corpus side of the
    * pipeline (table-QA / table-pretraining sets are built from exactly
    * this shape), complementing [[extract]]'s prose render.
    *
    * A [[TokenSink]] over [[scan]]; applies the SAME data-vs-layout gate as the
    * prose path ([[MIN_DATA_CELLS]] non-empty cells in >= 2 rows, average
    * non-empty cell <= [[MAX_AVG_CELL_CHARS]] chars) plus the same two
    * rejections the prose path resolves via priors: majority-link tables
    * (link density > 0.5 over cell+caption content chars — navigation
    * grids) and tables inside structurally penalized containers
    * (nav/header/footer/aside/form) emit nothing. Divergences from the
    * prose path, deliberate for the structured shape: cell text is the
    * cell's whole subtree (a <td><div>42</div></td> keeps its value);
    * nested tables BOTH flow their text into the enclosing cell (the
    * prose behaviour) AND are extracted independently if they pass the
    * gate on their own; stray text directly inside <tr> is dropped rather
    * than pseudo-celled (a pseudo-cell has no column position); class/id
    * hint penalties are not applied (hints gate prose scoring — structure
    * is decided by the structural container only). A row is a header row
    * when every cell of the row is a <th>. colspan/rowspan are not
    * expanded (cells emit at their source positions). Tag-soup hygiene:
    * <caption> closes implicitly on <tr>/<td>/<th> (HTML5 omittable end
    * tag) and its nesting state is per-table; dangling <a>s close
    * implicitly at cell, row and table boundaries (matching how browsers
    * break anchors at table structure) so soup from one region cannot
    * tip a later cell or table over the link-density gate. */
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

    scan(html, new TokenSink {
      def text(html: String, start: Int, end: Int): Unit =
        if (dropDepth == 0 && tstack.nonEmpty) {
          val top = tstack.last
          val decoded = decodeEntities(html.substring(start, end))
          if (top.captionDepth > 0) top.caption.append(decoded)
          else if (top.cell != null) top.cell.append(decoded)
          if (linkDepth > 0 && (top.captionDepth > 0 || top.cell != null))
            top.linkChars += normalizeWs(decoded).length
        }

      def open(html: String, name: String, flags: Int, selfClosing: Boolean,
          attrStart: Int, attrEnd: Int): Boolean = {
        if ((flags & DROP) != 0 && !selfClosing && (flags & VOID) == 0) dropDepth += 1
        else if (dropDepth == 0) {
          if (name == "a" && !selfClosing) linkDepth += 1
          else if ((flags & PENALTY) != 0 && !selfClosing) penaltyDepth += 1
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
        false
      }

      def close(name: String, flags: Int): Unit =
        if ((flags & DROP) != 0) { if (dropDepth > 0) dropDepth -= 1 }
        else if (dropDepth == 0) {
          if (name == "a") { if (linkDepth > 0) linkDepth -= 1 }
          else if ((flags & PENALTY) != 0) { if (penaltyDepth > 0) penaltyDepth -= 1 }
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
    })
    while (tstack.nonEmpty) closeTable() // unclosed tables at EOF
    out.sortBy(_.tableIdx).toVector
  }
}
