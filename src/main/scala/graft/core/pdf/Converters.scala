package graft.core.pdf

import Lex._

/** Simple-font charset conversion (charset_converter.cc).
  * `encode` modes match the reference enum; `charset=None` with mode OTHER
  * never occurs (nullptr charset => UTF8 passthrough mode). */
final class CharsetConverter private (
    val encoding: String,
    mode: Int,
    charset: Option[java.nio.charset.Charset]) {
  import CharsetConverter._

  def isVertical: Boolean = Tables.verticalFonts.contains(encoding)

  /** decode a whole shown string (charset_converter.cc:95-123) */
  private[pdf] def getText(s: String): String = mode match {
    case UTF8 => s
    case IDENTITY => Bytes.utf16beToUtf8(s)
    case DEFAULT | MAC_EXPERT | MAC_ROMAN | WIN => decodeSimple(s, mode)
    case OTHER => Bytes.charsetToUtf8(s, charset.get)
    case m => err(s"wrong encode value: $m")
  }

  /** the shown string's width: per 2-byte code for Identity, else per byte
    * (charset_converter.cc:95-123) */
  private[pdf] def getWidth(s: String, fonts: Fonts): Float = mode match {
    case IDENTITY =>
      var width = 0f
      var i = 0
      while (i < s.length) {
        // string2num of the (up to) 2-byte slice
        val code =
          if (i + 1 < s.length) ((s.charAt(i) & 0xff) << 8) | (s.charAt(i + 1) & 0xff)
          else s.charAt(i) & 0xff
        width += fonts.getWidth(code.toLong)
        i += 2
      }
      width
    case _ => fonts.getWidth(s)
  }
  /** per-byte fallback used under a ToUnicode cmap (charset_converter.cc:125-132);
    * non-simple modes fall back to the Standard table */
  def getChar(c: Char): Option[String] = {
    val enc = if (mode == MAC_EXPERT || mode == MAC_ROMAN || mode == WIN) mode else DEFAULT
    Tables.standardEncodings(enc).get(c & 0xff)
  }
}

object CharsetConverter {
  /** table decode of a simple-font string; a string whose every byte maps
    * to itself (plain ASCII text under the Latin tables) is its own result */
  private def decodeSimple(s: String, mode: Int): String = {
    val table = Tables.standardEncodingsArr(mode)
    val same = selfMapped(mode)
    var i = 0
    while (i < s.length && same(s.charAt(i) & 0xff)) i += 1
    if (i == s.length) return s
    val sb = new java.lang.StringBuilder(s.length + 16)
    sb.append(s, 0, i)
    while (i < s.length) {
      val v = table(s.charAt(i) & 0xff)
      if (v != null) sb.append(v)
      i += 1
    }
    sb.toString
  }

  /** per table: code c decodes to the one char c (read-only, built once) */
  private lazy val selfMapped: Map[Int, Array[Boolean]] =
    Tables.standardEncodingsArr.map { case (id, arr) =>
      id -> Array.tabulate(256)(c => arr(c) != null && arr(c).length == 1 && arr(c).charAt(0) == c)
    }

  // PDFEncode_t (converter_data.h:9)
  final val DEFAULT = Tables.DEFAULT
  final val MAC_EXPERT = Tables.MAC_EXPERT
  final val MAC_ROMAN = Tables.MAC_ROMAN
  final val WIN = Tables.WIN
  final val IDENTITY = 4
  final val OTHER = 5
  final val UTF8 = 6

  /** charset_converter.cc:31-63 */
  def apply(encoding: String): CharsetConverter =
    if (encoding.isEmpty) new CharsetConverter(encoding, DEFAULT, None)
    else if (encoding == "/WinAnsiEncoding") new CharsetConverter(encoding, WIN, None)
    else if (encoding == "/MacRomanEncoding") new CharsetConverter(encoding, MAC_ROMAN, None)
    else if (encoding == "/MacExpertEncoding") new CharsetConverter(encoding, MAC_EXPERT, None)
    else if (encoding == "/Identity-H" || encoding == "/Identity-V") new CharsetConverter(encoding, IDENTITY, None)
    else {
      val cs = Tables.cmapCharsets.getOrElse(encoding, err(s"unknown encoding $encoding")) // .at parity
      cs match {
        case Some(charset) => new CharsetConverter(encoding, OTHER, Some(charset))
        case None => new CharsetConverter(encoding, UTF8, None)
      }
    }
}

/** /Encoding //Differences converter (diff_converter.cc). */
final class DiffConverter private (differenceMap: Map[Int, String], val isEmpty: Boolean) {
  // lookups only ever ask for codes 0..255 (one byte)
  private val byCode: Array[String] = Array.tabulate(256)(c => differenceMap.getOrElse(c, null))

  /** diff_converter.cc:78-93: only mapped, non-empty glyphs contribute */
  private[pdf] def getText(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val v = byCode(s.charAt(i) & 0xff)
      if (v != null && v.nonEmpty) sb.append(v)
      i += 1
    }
    sb.toString
  }

  /** ... and only they accumulate width */
  private[pdf] def getWidth(s: String, fonts: Fonts): Float = {
    var width = 0f
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i) & 0xff
      val v = byCode(c)
      if (v != null && v.nonEmpty) width += fonts.getWidth(c.toLong)
      i += 1
    }
    width
  }

  def getChar(c: Char): Option[String] = Option(byCode(c & 0xff))
}

object DiffConverter {
  val empty = new DiffConverter(Map.empty, isEmpty = true)

  /** build from /Differences over /BaseEncoding (diff_converter.cc:37-76) */
  def fromDifferences(dictionary: Dict, differences: PVal, storage: ObjectStorage): DiffConverter = {
    val encoding = dictionary.get("/BaseEncoding") match {
      case None => Tables.DEFAULT
      case Some(v) => v.raw match {
        case "/StandardEncoding" => Tables.DEFAULT
        case "/MacRomanEncoding" => Tables.MAC_ROMAN
        case "/MacExpertEncoding" => Tables.MAC_EXPERT
        case "/WinAnsiEncoding" => Tables.WIN
        case other => err(s"wrong /BaseEncoding value:$other")
      }
    }
    val arrayData = DocUtil.getArrayOrIndirectArray(differences, storage)
    var code2symbol = Tables.standardEncodings(encoding)
    val startIdx = arrayData.indexWhere(_.tpe == Obj.VALUE)
    if (startIdx < 0) return new DiffConverter(code2symbol, isEmpty = false)
    var code = strictStoul(arrayData(startIdx).raw).toInt
    var i = startIdx
    while (i < arrayData.size) {
      val symbol =
        if (arrayData(i).tpe == Obj.INDIRECT_OBJECT) DocUtil.getIndirectObjectData(arrayData(i).raw, storage)
        else arrayData(i)
      symbol.tpe match {
        case Obj.VALUE => code = strictStoul(symbol.raw).toInt
        case Obj.NAME_OBJECT =>
          Tables.symbolTable.get(symbol.raw).foreach(v => code2symbol = code2symbol.updated(code, v))
          code += 1
        case t => err(s"wrong symbol type=$t val=${symbol.raw}")
      }
      i += 1
    }
    new DiffConverter(code2symbol, isEmpty = false)
  }
}

/** Embedded/ToUnicode cmap converter (to_unicode_converter.cc). */
final class ToUnicodeConverter private (cmap: CMapT, val isEmpty: Boolean) {

  def isVertical: Boolean = !isEmpty && cmap.isVertical

  /** greedy multi-byte decode at position p.i (to_unicode_converter.cc:37-55);
    * returns ("",0) on miss without advancing. */
  def customDecodeSymbol(s: String, p: Pos, fonts: Fonts): (String, Float) = {
    val sizes = cmap.sizeList
    var k = 0
    while (k < sizes.length) {
      val n = sizes(k)
      val left = s.length - p.i
      if (left < n) return ("", 0f)
      if (n > 0) {
        val symbol = s.substring(p.i, p.i + n)
        cmap.utfMap.get(symbol) match {
          case Some(entry) =>
            if (!entry.converted) {
              entry.value = Bytes.utf16beToUtf8(entry.value)
              entry.converted = true
            }
            p.i += n
            return (entry.value, fonts.getWidth(string2num(symbol)))
          case None =>
        }
      }
      k += 1
    }
    ("", 0f)
  }
}

object ToUnicodeConverter {
  val empty = new ToUnicodeConverter(new CMapT, isEmpty = true)
  def apply(cmap: CMapT) = new ToUnicodeConverter(cmap, isEmpty = false)
}

/** Composition of the three converters (converter_engine.cc). */
final class ConverterEngine(
    charsetConverter: CharsetConverter,
    diffConverter: DiffConverter,
    toUnicodeConverter: ToUnicodeConverter) {

  def isVertical: Boolean = {
    if (charsetConverter.isVertical) return true
    if (toUnicodeConverter.isEmpty) return false
    toUnicodeConverter.isVertical
  }

  /** decode one shown string into a positioned chunk (converter_engine.cc:30-65) */
  def getString(s: String, coordinates: Coordinates, tj: Float, fonts: Fonts): TextChunk = {
    if (toUnicodeConverter.isEmpty) {
      val text = if (diffConverter.isEmpty) charsetConverter.getText(s) else diffConverter.getText(s)
      val width =
        if (diffConverter.isEmpty) charsetConverter.getWidth(s, fonts) else diffConverter.getWidth(s, fonts)
      return coordinates.adjustCoordinates(text, s.length, width, tj, fonts)
    }
    val decoded = new StringBuilder
    var decodedWidth = 0f
    var len = 0
    val p = new Pos(0)
    while (p.i < s.length) {
      val (sym, w) = toUnicodeConverter.customDecodeSymbol(s, p, fonts)
      if (sym.isEmpty) {
        val c =
          if (diffConverter.isEmpty) charsetConverter.getChar(s.charAt(p.i))
          else diffConverter.getChar(s.charAt(p.i))
        c match {
          case Some(v) =>
            decoded.append(v)
            decodedWidth += fonts.getWidth((s.charAt(p.i) & 0xff).toLong)
            len += 1
          case None => // undecodable byte dropped (converter_engine.cc:44-56)
        }
        p.i += 1
      } else {
        decodedWidth += w
        len += Bytes.utf8Length(sym)
        decoded.append(sym)
      }
    }
    coordinates.adjustCoordinates(decoded.toString, len, decodedWidth, tj, fonts)
  }

  /** TJ array walk (converter_engine.cc:67-94) */
  def getStringsFromArray(array: String, coordinates: Coordinates, fonts: Fonts): Vector[TextChunk] = {
    val result = Vector.newBuilder[TextChunk]
    var tj = 0f
    getArrayData(array, 0).foreach { p =>
      p.tpe match {
        case Obj.VALUE => tj = stof(p.raw)
        case Obj.STRING =>
          val chunk = getString(decodeString(p.raw), coordinates, tj, fonts)
          if (!chunk.isEmpty) result += chunk
          tj = 0f
        case t => err(s"wrong type $t val=${p.raw}")
      }
    }
    result.result()
  }
}
