package graft.core.pdf

import Lex.{Dict, err, isDigit}

/** The definitions that the kernel's faster primitives replaced, kept
  * verbatim (renamed where they would clash) as test oracles: each
  * replacement must return the same value, or throw the same exception
  * class, on every input. */
object Oracles {
  def efindFirstOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) >= 0) return i; i += 1 }
    err(s"efind_first for $set in pos $pos failed")
  }

  def efindFirstNotOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) < 0) return i; i += 1 }
    err(s"efind_first_not for $set in pos $pos failed")
  }

  def findFirstOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) >= 0) return i; i += 1 }
    -1
  }

  def findFirstNotOf(src: String, set: String, pos: Int): Int = {
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) < 0) return i; i += 1 }
    -1
  }

  def strictStoul(s: String, base: Int = 10): Long = {
    if (s.isEmpty) err("strict_stoul: string is empty")
    if (s.indexOf('-') >= 0) err(s"strict_stoul: $s is not unsigned number")
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r' || s.charAt(i) == '\f' || s.charAt(i) == 0x0b)) i += 1
    if (i < s.length && s.charAt(i) == '+') i += 1
    val start = i
    var v = 0L
    while (i < s.length && digitVal(s.charAt(i)) >= 0 && digitVal(s.charAt(i)) < base) {
      v = v * base + digitVal(s.charAt(i)); i += 1
    }
    if (i == start || i != s.length) err(s"strict_stoul: $s is not unsigned number")
    v
  }

  @inline private def digitVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'z') c - 'a' + 10
    else if (c >= 'A' && c <= 'Z') c - 'A' + 10
    else -1

  def stof(s: String): Float = {
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    val start = i
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) i += 1
    var digits = 0
    while (i < s.length && isDigit(s.charAt(i))) { i += 1; digits += 1 }
    if (i < s.length && s.charAt(i) == '.') {
      i += 1
      while (i < s.length && isDigit(s.charAt(i))) { i += 1; digits += 1 }
    }
    if (digits == 0) err(s"stof: $s is not a number")
    var end = i
    if (i < s.length && (s.charAt(i) == 'e' || s.charAt(i) == 'E')) {
      var j = i + 1
      if (j < s.length && (s.charAt(j) == '+' || s.charAt(j) == '-')) j += 1
      var ed = 0
      while (j < s.length && isDigit(s.charAt(j))) { j += 1; ed += 1 }
      if (ed > 0) end = j
    }
    java.lang.Float.parseFloat(s.substring(start, end))
  }

  def skipSpaces(buffer: String, offset: Int, validate: Boolean = true): Int = {
    val r = findFirstNotOf(buffer, "\r\n \t", offset)
    if (validate && r < 0) err("skip_spaces: no data after space")
    r
  }

  def skipComments(buffer: String, offset0: Int, validate: Boolean = true): Int = {
    var offset = offset0
    while (true) {
      offset = skipSpaces(buffer, offset, validate)
      if (offset < 0 || buffer.charAt(offset) != '%') return offset
      offset = findFirstOf(buffer, "\r\n", offset)
      if (offset < 0) {
        if (validate) err("skip_comments: no data after comments")
        return offset
      }
    }
    offset
  }

  def getDictionary(buffer: String, p: Pos): String = {
    var prevs = 0
    var end = p.i + 2
    while (end < buffer.length) {
      val c = buffer.charAt(end)
      val cn = buffer.charAt(end + 1) // .at() -> may throw at buffer end, as in reference
      if (c == '<' && cn == '<') { prevs += 1; end += 2 }
      else if (c == '(' || c == '<') {
        val q = new Pos(end); getString(buffer, q); end = q.i
      } else if (c == '>' && cn == '>') {
        if (prevs == 0) {
          end += 2
          val start = p.i
          p.i = end
          return buffer.substring(start, end)
        }
        prevs -= 1; end += 2
      } else end += 1
    }
    err("get_dictionary: can`t find dictionary end delimiter")
  }

  def getString(buffer: String, p: Pos): String = {
    val delimiter = buffer.charAt(p.i)
    if (delimiter != '(' && delimiter != '<') err("get_string: string must start with '(' or '<'")
    val endDelimiter = if (delimiter == '(') ')' else '>'
    var prevs = 0
    val init = p.i
    var escaped = false
    var off = p.i + 1
    while (true) {
      val c = buffer.charAt(off) // throws past end, like .at()
      if (c == '\\') { escaped = !escaped; off += 1 }
      else if (escaped) { escaped = false; off += 1 }
      else if (c == delimiter) { prevs += 1; off += 1 }
      else if (c == endDelimiter) {
        if (prevs == 0) {
          off += 1
          p.i = off
          return buffer.substring(init, off)
        }
        prevs -= 1; off += 1
      } else off += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def getArray(buffer: String, p: Pos): String = {
    val sb = new StringBuilder("[")
    p.i += 1
    var prevs = 0
    while (true) {
      buffer.charAt(p.i) match {
        case '(' =>
          sb.append(getString(buffer, p))
        case '<' =>
          if (buffer.charAt(p.i + 1) == '<') sb.append(getDictionary(buffer, p))
          else sb.append(getString(buffer, p))
        case '[' =>
          sb.append('['); prevs += 1; p.i += 1
        case ']' =>
          sb.append(']')
          if (prevs == 0) { p.i += 1; return sb.toString }
          prevs -= 1; p.i += 1
        case c =>
          sb.append(c); p.i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def getOctalChar(str: String, p: Pos): Char = {
    var j = p.i
    while (j < str.length && isDigit(str.charAt(j))) j += 1
    var len = j - p.i
    if (len > 3) len = if (str.charAt(p.i) == 0) 4 else 3 // leading-NUL quirk kept verbatim (common.cc:37)
    val v = strictStoul(str.substring(p.i, p.i + len), 8)
    if (v > 255) err(s"octal number $v is larger than 8 bit")
    p.i += len - 1
    v.toChar
  }

  private def getUnescapedChar(str: String, p: Pos): Char = {
    if (p.i == str.length - 2) return 0.toChar // backslash right before final ')' (common.cc:50)
    p.i += 1
    str.charAt(p.i) match {
      case 'n' => '\n'
      case 'r' => '\r'
      case 't' => '\t'
      case 'b' => '\b'
      case 'f' => '\f'
      case c @ (')' | '(' | '\\') => c
      case c =>
        if (isDigit(c)) getOctalChar(str, p) else c
    }
  }

  private def unescapeString(str: String): String = {
    val sb = new StringBuilder(str.length)
    val p = new Pos(1)
    while (p.i < str.length - 1) {
      val c = str.charAt(p.i)
      if (c == '\\') sb.append(getUnescapedChar(str, p)) else sb.append(c)
      p.i += 1
    }
    sb.toString
  }

  private def hexDecodeString(arg: String): String = {
    val hex = new StringBuilder(arg.length)
    var i = 1
    while (i < arg.length - 1) {
      val c = arg.charAt(i)
      if (c != '\n' && c != '\r' && c != ' ') hex.append(c)
      i += 1
    }
    val sb = new StringBuilder(hex.length / 2 + 1)
    i = 0
    while (i < hex.length) {
      // reference slices 2 chars; a trailing odd nibble parses as 1 hex digit
      val end = math.min(i + 2, hex.length)
      sb.append(strictStoul(hex.substring(i, end), 16).toChar)
      i += 2
    }
    sb.toString
  }

  def decodeString(str: String): String =
    if (str.charAt(0) == '<') hexDecodeString(str) else unescapeString(str)

  // ---- Filters ----
  def lzwDecode(buf: String, opts: Dict): String = {
    val masks = Array(0x01ff, 0x03ff, 0x07ff, 0x0fff)
    val CLEAR = 0x0100
    val EOD = 0x0101
    def initTable(): scala.collection.mutable.ArrayBuffer[Array[Byte]] = {
      val t = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
      var i = 0
      while (i <= 255) { t += Array(i.toByte); i += 1 }
      t += Array.emptyByteArray // dummy 256 entry
      t
    }
    var mask = 0
    var codeLen = 9
    var table = initTable()
    var bufferBits = 0L
    var bufferSize = 0
    var old = 0
    var character: Byte = if (buf.nonEmpty) buf.charAt(0).toByte else 0
    val result = new java.io.ByteArrayOutputStream(buf.length * 3)
    var pi = 0
    var len = buf.length
    var done = false
    while (len > 0 && !done) {
      while (bufferSize <= 16 && len > 0) {
        bufferBits = (bufferBits << 8) | (buf.charAt(pi) & 0xff)
        bufferSize += 8
        pi += 1
        len -= 1
      }
      var continue = true
      while (bufferSize >= codeLen && continue) {
        val code = ((bufferBits >> (bufferSize - codeLen)) & masks(mask)).toInt
        bufferSize -= codeLen
        if (code == CLEAR) {
          mask = 0
          codeLen = 9
          table = initTable()
        } else if (code == EOD) {
          len = 0
          done = true
          continue = false
        } else {
          var data: Array[Byte] = null
          if (code >= table.size) {
            if (old >= table.size) err("lzw_decode: value out of range")
            data = table(old) :+ character
          } else data = table(code)
          result.write(data, 0, data.length)
          character = data(0)
          if (old < table.size) data = table(old) // "fix the first loop" quirk kept
          table += (data :+ character)
          old = code
          table.size match {
            case 511 | 1023 | 2047 => codeLen += 1; mask += 1
            case _ =>
          }
        }
      }
    }
    val s = Bytes.str(result.toByteArray)
    if (opts.isEmpty) s else Filters.predictorDecode(s, opts)
  }

  // ---- Crypto: RC4 through the JCE provider ----
  import javax.crypto.Cipher
  import javax.crypto.spec.SecretKeySpec
  def rc4(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val c = Cipher.getInstance("ARCFOUR")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "ARCFOUR"))
    c.doFinal(data)
  }

  // ---- HtmlExtract ----
  def normalizeWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    var pendingNewline = false
    var started = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\n') { pendingNewline = true; pendingSpace = false }
      else if (c.isWhitespace || c == ' ') { if (!pendingNewline) pendingSpace = true }
      else {
        if (pendingNewline && started) sb.append('\n')
        else if (pendingSpace && started) sb.append(' ')
        pendingNewline = false
        pendingSpace = false
        started = true
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}


/** Per-resource font registry: widths (/Widths, /W + /DW, Standard-14),
  * ascent/descent/height, Type3 font matrix, rise. Reference fonts.cc.
  *
  * The reference copies `Fonts` values into each page's registry
  * (pages_extractor.cc:592), so the mutable state (current font, rise) is
  * per page/XObject; `freshCopy` reproduces that while sharing the
  * immutable lookup tables.
  */
final class OracleFonts private (
    dictionaryPerFont: Map[String, Lex.Dict],
    heights: Map[String, Float],
    descents: Map[String, Float],
    ascents: Map[String, Float],
    isType3: Map[String, Boolean],
    widths: Map[String, Array[(Int, Float)]],
    defaultWidth: Map[String, Float],
    fontMatrixType3: Map[String, Array[Float]]) {

  private var currentFont: String = ""
  private var riseV: Float = 0f

  def freshCopy: OracleFonts = new OracleFonts(dictionaryPerFont, heights, descents, ascents,
    isType3, widths, defaultWidth, fontMatrixType3)

  // ---- queries (fonts.cc:55-69,197-345) ------------------------------------

  // 256-slot scaled-width cache per current font: the per-glyph hot path
  // (profiled ~20% of dense-document time) was a Map lookup + binary search
  // + tuple allocation per character. Values are computed by the exact
  // original expression, so results are bit-identical.
  private var cachedFont: String = null
  private var cachedW256: Array[Float] = null
  private val w256PerFont = new java.util.HashMap[String, Array[Float]]()

  private def widthCache(): Array[Float] = {
    if (cachedFont != currentFont) {
      var arr = w256PerFont.get(currentFont)
      if (arr == null) {
        val fontWidth = widths(currentFont)
        val dw = defaultWidth(currentFont)
        val sx = getScales._1
        arr = new Array[Float](256)
        var c = 0
        while (c < 256) {
          val i = if (fontWidth.isEmpty) -1 else binarySearch(fontWidth, c)
          arr(c) = (if (i == -1) dw else fontWidth(i)._2) * sx
          c += 1
        }
        w256PerFont.put(currentFont, arr)
      }
      cachedW256 = arr
      cachedFont = currentFont
    }
    cachedW256
  }

  def getWidth(code: Long): Float = {
    if (code >= 0 && code < 256) return widthCache()(code.toInt)
    val fontWidth = widths(currentFont)
    if (fontWidth.isEmpty) return defaultWidth(currentFont) * getScales._1
    val i = binarySearch(fontWidth, code.toInt)
    if (i == -1) defaultWidth(currentFont) * getScales._1
    else fontWidth(i)._2 * getScales._1
  }

  def getWidth(s: String): Float = {
    var result = 0f
    var i = 0
    while (i < s.length) { result += getWidth(s.charAt(i) & 0xff); i += 1 }
    result
  }

  def setRise(r: Float): Unit = riseV = r
  def getRise: Float = riseV

  def getHeight: Float = {
    validateCurrentFont()
    val h = heights(currentFont)
    if (h == OracleFonts.NO_HEIGHT) getAscent - getDescent else h * getScales._2
  }

  def getDescent: Float = {
    validateCurrentFont()
    descents(currentFont) * getScales._2
  }

  def getAscent: Float = {
    validateCurrentFont()
    ascents(currentFont) * getScales._2
  }

  def getCurrentFontDictionary: Lex.Dict = {
    validateCurrentFont()
    dictionaryPerFont(currentFont)
  }

  def setCurrentFont(font: String): Unit = currentFont = font

  private def validateCurrentFont(): Unit =
    if (currentFont.isEmpty) err("current font is not set")

  private def getScales: (Float, Float) =
    if (!isType3(currentFont)) (0.001f, 0.001f)
    else {
      val m = fontMatrixType3(currentFont)
      (m(0) + m(2), m(1) + m(3)) // apply_matrix_norm(m, 1, 1)
    }

  private def binarySearch(arr: Array[(Int, Float)], x: Int): Int = {
    var l = 0
    var r = arr.length - 1
    while (l <= r) {
      val m = l + (r - l) / 2
      if (arr(m)._1 == x) return m
      if (arr(m)._1 < x) l = m + 1 else r = m - 1
    }
    -1
  }
}

object OracleFonts {
  import Lex._

  final val NO_HEIGHT = 0f
  final val NO_DESCENT = 0f
  final val NO_ASCENT = 0f

  def empty(storage: ObjectStorage): OracleFonts = apply(storage, Map.empty)

  def apply(storage: ObjectStorage, fontsDict: Lex.Dict): OracleFonts = {
    val dictionaryPerFont = scala.collection.mutable.Map.empty[String, Lex.Dict]
    val heights = scala.collection.mutable.Map.empty[String, Float]
    val descents = scala.collection.mutable.Map.empty[String, Float]
    val ascents = scala.collection.mutable.Map.empty[String, Float]
    val types = scala.collection.mutable.Map.empty[String, Boolean]
    val widths = scala.collection.mutable.Map.empty[String, Array[(Int, Float)]]
    val defaultWidth = scala.collection.mutable.Map.empty[String, Float]
    val fontMatrixType3 = scala.collection.mutable.Map.empty[String, Array[Float]]

    /** /Type0 merges its single DescendantFont dict; parent keys win
      * (C++ map::insert, fonts.cc:41-53) */
    def withDescendant(font: Lex.Dict): Lex.Dict = {
      if (font("/Subtype").raw != "/Type0") return font
      val arr = DocUtil.getArrayOrIndirectArray(font("/DescendantFonts"), storage)
      if (arr.size != 1) err(s"DescendantFonts array must have 1 element. Size=${arr.size}")
      val descendant = DocUtil.getDictOrIndirectDict(arr(0), storage)
      descendant.foldLeft(font) { case (acc, (k, v)) =>
        if (acc.contains(k)) acc else acc.updated(k, v)
      }
    }

    def insertMatrixType3(name: String, font: Lex.Dict): Unit = {
      val p = font.getOrElse("/FontMatrix", err("no /FontMatrix"))
      if (p.tpe != Obj.ARRAY) err("/FontMatrix must be ARRAY")
      val data = getArrayData(p.raw, 0)
      if (data.size != 6) err("/FontMatrix must have 6 elements")
      fontMatrixType3(name) = data.map { d =>
        if (d.tpe != Obj.VALUE) err("/FontMatrix element must be VALUE")
        stof(d.raw)
      }.toArray
    }

    /** CID /W + /DW (fonts.cc:71-123) */
    def insertWidthsFromW(name: String, baseFont: String): Unit = {
      val font = dictionaryPerFont(name)
      defaultWidth(name) = getDictVal(font, "/DW", 1000L).toFloat
      font.get("/W") match {
        case None =>
          widths(name) = Tables.standardWidths.getOrElse(baseFont, Array.empty)
        case Some(wv) =>
          val result = DocUtil.getArrayOrIndirectArray(wv, storage).map { p =>
            if (p.tpe == Obj.INDIRECT_OBJECT) DocUtil.getIndirectObjectData(p.raw, storage) else p
          }
          val fw = scala.collection.mutable.ArrayBuffer.empty[(Int, Float)]
          var i = 0
          while (i < result.size) {
            result(i + 1).tpe match {
              case Obj.VALUE =>
                val firstChar = strictStoul(result(i).raw).toInt
                val lastChar = strictStoul(result(i + 1).raw).toInt
                val width = stof(result(i + 2).raw)
                var j = firstChar
                while (j <= lastChar) { fw += ((j, width)); j += 1 }
                i += 3
              case Obj.ARRAY =>
                var startChar = strictStoul(result(i).raw).toInt
                getArrayData(result(i + 1).raw, 0).foreach { p =>
                  fw += ((startChar, stof(p.raw)))
                  startChar += 1
                }
                i += 2
              case t => err(s"wrong type for val ${result(i + 1).raw} type=$t")
            }
          }
          widths(name) = fw.sortBy(pair => (pair._1, pair._2)) /* std::sort over pair<uint,float>: ties by width (fonts.cc:123) */.toArray
      }
    }

    /** simple-font /Widths + /FirstChar + /MissingWidth (fonts.cc:125-151) */
    def insertWidthsFromWidths(name: String, fontDesc: Lex.Dict, baseFont: String): Unit = {
      val font = dictionaryPerFont(name)
      val firstChar = getDictVal(font, "/FirstChar", 0L).toInt
      defaultWidth(name) = getDictVal(fontDesc, "/MissingWidth", 0L).toFloat
      font.get("/Widths") match {
        case None =>
          widths(name) = Tables.standardWidths.getOrElse(baseFont, Array.empty)
        case Some(wv) =>
          val result = DocUtil.getArrayOrIndirectArray(wv, storage)
          val fw = new Array[(Int, Float)](result.size)
          var i = 0
          while (i < result.size) {
            val p = result(i)
            val v = if (p.tpe == Obj.INDIRECT_OBJECT) DocUtil.getIndirectObjectData(p.raw, storage).raw else p.raw
            fw(i) = ((i + firstChar, stof(v)))
            i += 1
          }
          widths(name) = fw.sortBy(pair => (pair._1, pair._2)) /* std::sort over pair<uint,float>: ties by width (fonts.cc:123) */
      }
    }

    fontsDict.foreach { case (name, pval) =>
      var fontDict = DocUtil.getDictOrIndirectDict(pval, storage)
      val t3 = fontDict("/Subtype").raw == "/Type3"
      types(name) = t3
      if (t3) insertMatrixType3(name, fontDict)
      fontDict = withDescendant(fontDict)
      dictionaryPerFont(name) = fontDict
      val descDict = fontDict.get("/FontDescriptor")
        .map(DocUtil.getDictOrIndirectDict(_, storage))
        .getOrElse(Map.empty[String, PVal])
      val baseFont = fontDict.get("/BaseFont").map(_.raw).getOrElse("")
      val subtype = fontDict("/Subtype").raw
      if (subtype == "/CIDFontType0" || subtype == "/CIDFontType2" || subtype == "/Type0")
        insertWidthsFromW(name, baseFont)
      else insertWidthsFromWidths(name, descDict, baseFont)
      // height (fonts.cc:207-226)
      descDict.get("/FontBBox") match {
        case None => heights(name) = Tables.stdMetrics.get(baseFont).map(_._3).getOrElse(NO_HEIGHT)
        case Some(v) =>
          val arr = DocUtil.getArrayOrIndirectArray(v, storage)
          heights(name) = stof(arr(3).raw) - stof(arr(1).raw)
      }
      // descent (fonts.cc:228-260)
      descDict.get("/Descent") match {
        case Some(v) => descents(name) = stof(v.raw)
        case None =>
          if (t3 && fontDict.contains("/FontBBox")) {
            val arr = DocUtil.getArrayOrIndirectArray(fontDict("/FontBBox"), storage)
            descents(name) = stof(arr(1).raw)
          } else descents(name) = Tables.stdMetrics.get(baseFont).map(_._2).getOrElse(NO_DESCENT)
      }
      // ascent (fonts.cc:262-294)
      descDict.get("/Ascent") match {
        case Some(v) => ascents(name) = stof(v.raw)
        case None =>
          if (t3 && fontDict.contains("/FontBBox")) {
            val arr = DocUtil.getArrayOrIndirectArray(fontDict("/FontBBox"), storage)
            ascents(name) = stof(arr(3).raw)
          } else ascents(name) = Tables.stdMetrics.get(baseFont).map(_._1).getOrElse(NO_ASCENT)
      }
    }

    new OracleFonts(dictionaryPerFont.toMap, heights.toMap, descents.toMap, ascents.toMap,
      types.toMap, widths.toMap, defaultWidth.toMap, fontMatrixType3.toMap)
  }
}
