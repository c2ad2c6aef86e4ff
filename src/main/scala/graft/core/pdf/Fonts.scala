package graft.core.pdf

import Lex._

/** Per-resource font registry: widths (/Widths, /W + /DW, Standard-14),
  * ascent/descent/height, Type3 font matrix, rise. Reference fonts.cc.
  *
  * The reference copies `Fonts` values into each page's registry
  * (pages_extractor.cc:592), so the mutable state (current font, rise) is
  * per page/XObject; `freshCopy` reproduces that while sharing the
  * immutable lookup tables.
  */
final class Fonts private (
    dictionaryPerFont: Map[String, Lex.Dict],
    metrics: Map[String, Fonts.Metrics]) {

  private var currentFont: String = ""
  private var riseV: Float = 0f
  // metrics of currentFont, looked up on the first query after Tf
  private var cur: Fonts.Metrics = null

  def freshCopy: Fonts = new Fonts(dictionaryPerFont, metrics)

  // ---- queries (fonts.cc:55-69,197-345) ------------------------------------

  /** an unknown font throws NoSuchElementException on its first query
    * (the reference's map::at) */
  private def current: Fonts.Metrics = {
    if (cur == null) cur = metrics(currentFont)
    cur
  }

  def getWidth(code: Long): Float = {
    val m = current
    if (code >= 0 && code < 256) return m.w256(code.toInt)
    if (m.widths.isEmpty) return m.dw * m.sx
    val i = m.widths.search(code.toInt)
    if (i == -1) m.dw * m.sx
    else m.widths.ws(i) * m.sx
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
    val m = current
    if (m.height == Fonts.NO_HEIGHT) getAscent - getDescent else m.height * m.sy
  }

  def getDescent: Float = {
    validateCurrentFont()
    current.descent * current.sy
  }

  def getAscent: Float = {
    validateCurrentFont()
    current.ascent * current.sy
  }

  def getCurrentFontDictionary: Lex.Dict = {
    validateCurrentFont()
    dictionaryPerFont(currentFont)
  }

  def setCurrentFont(font: String): Unit = { currentFont = font; cur = null }

  private def validateCurrentFont(): Unit =
    if (currentFont.isEmpty) err("current font is not set")
}

object Fonts {
  final val NO_HEIGHT = 0f
  final val NO_DESCENT = 0f
  final val NO_ASCENT = 0f

  /** (code, width) pairs sorted by (code, width), as two primitive arrays */
  private[pdf] final class Widths(val codes: Array[Int], val ws: Array[Float]) {
    def isEmpty: Boolean = codes.length == 0

    /** the reference's binary search: with repeated codes (overlapping
      * /W ranges) the probe path decides which width wins */
    def search(x: Int): Int = {
      var l = 0
      var r = codes.length - 1
      while (l <= r) {
        val m = l + (r - l) / 2
        if (codes(m) == x) return m
        if (codes(m) < x) l = m + 1 else r = m - 1
      }
      -1
    }

    /** `search(c)` for every code 0..255; built once per table */
    lazy val index256: Array[Int] = Array.tabulate(256)(c => if (isEmpty) -1 else search(c))

    /** widths of codes 0..255 for the common case of no /MissingWidth and
      * the 1/1000 scale; shared by every use of a Standard-14 table */
    lazy val milli256: Array[Float] = scaled(this, 0f, 0.001f)
  }

  private[pdf] object Widths {
    val empty = new Widths(Array.emptyIntArray, Array.emptyFloatArray)
    def apply(pairs: Array[(Int, Float)]): Widths =
      if (pairs.isEmpty) empty else new Widths(pairs.map(_._1), pairs.map(_._2))
  }

  /** Standard-14 width tables, converted once per JVM; read-only */
  private lazy val standardWidths: Map[String, Widths] =
    Tables.standardWidths.map { case (k, v) => k -> Widths(v) }

  private def standardWidthsOf(baseFont: String): Widths =
    standardWidths.getOrElse(baseFont, Widths.empty)

  /** one font's metrics (fonts.cc:55-69); `sx`/`sy` are the glyph-space
    * scales: 1/1000, or the Type3 /FontMatrix norm (apply_matrix_norm) */
  private[pdf] final class Metrics(
      val widths: Widths,
      val dw: Float,
      val height: Float,
      val descent: Float,
      val ascent: Float,
      fontMatrix: Array[Float]) {
    val sx: Float = if (fontMatrix == null) 0.001f else fontMatrix(0) + fontMatrix(2)
    val sy: Float = if (fontMatrix == null) 0.001f else fontMatrix(1) + fontMatrix(3)

    /** scaled width of codes 0..255: the per-glyph hot path */
    lazy val w256: Array[Float] =
      if (dw == 0f && fontMatrix == null) widths.milli256 else scaled(widths, dw, sx)
  }

  /** (width, or `dw` for a code with none) * `sx`, for codes 0..255 */
  private def scaled(widths: Widths, dw: Float, sx: Float): Array[Float] = {
    val idx = widths.index256
    val arr = new Array[Float](256)
    var c = 0
    while (c < 256) {
      val i = idx(c)
      arr(c) = (if (i == -1) dw else widths.ws(i)) * sx
      c += 1
    }
    arr
  }

  def empty(storage: ObjectStorage): Fonts = apply(storage, Map.empty)

  def apply(storage: ObjectStorage, fontsDict: Lex.Dict): Fonts = {
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

    def matrixType3(font: Lex.Dict): Array[Float] = {
      val p = font.getOrElse("/FontMatrix", err("no /FontMatrix"))
      if (p.tpe != Obj.ARRAY) err("/FontMatrix must be ARRAY")
      val data = getArrayData(p.raw, 0)
      if (data.size != 6) err("/FontMatrix must have 6 elements")
      data.map { d =>
        if (d.tpe != Obj.VALUE) err("/FontMatrix element must be VALUE")
        stof(d.raw)
      }.toArray
    }

    /** CID /W (fonts.cc:71-123); /DW is read before it by the caller */
    def widthsFromW(font: Lex.Dict, baseFont: String): Widths =
      font.get("/W") match {
        case None => standardWidthsOf(baseFont)
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
          Widths(fw.sortBy(pair => (pair._1, pair._2)) /* std::sort over pair<uint,float>: ties by width (fonts.cc:123) */.toArray)
      }

    /** simple-font /Widths from /FirstChar (fonts.cc:125-151); /MissingWidth
      * is read between the two by the caller */
    def widthsFromWidths(font: Lex.Dict, firstChar: Int, baseFont: String): Widths =
      font.get("/Widths") match {
        case None => standardWidthsOf(baseFont)
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
          Widths(fw.sortBy(pair => (pair._1, pair._2)) /* std::sort over pair<uint,float>: ties by width (fonts.cc:123) */)
      }

    val dictionaryPerFont = Map.newBuilder[String, Lex.Dict]
    val metrics = Map.newBuilder[String, Metrics]
    fontsDict.foreach { case (name, pval) =>
      var fontDict = DocUtil.getDictOrIndirectDict(pval, storage)
      val t3 = fontDict("/Subtype").raw == "/Type3"
      val fontMatrix = if (t3) matrixType3(fontDict) else null
      fontDict = withDescendant(fontDict)
      dictionaryPerFont += name -> fontDict
      val descDict = fontDict.get("/FontDescriptor")
        .map(DocUtil.getDictOrIndirectDict(_, storage))
        .getOrElse(Map.empty[String, PVal])
      val baseFont = fontDict.get("/BaseFont").map(_.raw).getOrElse("")
      val subtype = fontDict("/Subtype").raw
      var dw = 0f
      val widths =
        if (subtype == "/CIDFontType0" || subtype == "/CIDFontType2" || subtype == "/Type0") {
          dw = getDictVal(fontDict, "/DW", 1000L).toFloat
          widthsFromW(fontDict, baseFont)
        } else {
          val firstChar = getDictVal(fontDict, "/FirstChar", 0L).toInt
          dw = getDictVal(descDict, "/MissingWidth", 0L).toFloat
          widthsFromWidths(fontDict, firstChar, baseFont)
        }
      // height (fonts.cc:207-226)
      val height = descDict.get("/FontBBox") match {
        case None => Tables.stdMetrics.get(baseFont).map(_._3).getOrElse(NO_HEIGHT)
        case Some(v) =>
          val arr = DocUtil.getArrayOrIndirectArray(v, storage)
          stof(arr(3).raw) - stof(arr(1).raw)
      }
      // descent (fonts.cc:228-260)
      val descent = descDict.get("/Descent") match {
        case Some(v) => stof(v.raw)
        case None =>
          if (t3 && fontDict.contains("/FontBBox")) {
            val arr = DocUtil.getArrayOrIndirectArray(fontDict("/FontBBox"), storage)
            stof(arr(1).raw)
          } else Tables.stdMetrics.get(baseFont).map(_._2).getOrElse(NO_DESCENT)
      }
      // ascent (fonts.cc:262-294)
      val ascent = descDict.get("/Ascent") match {
        case Some(v) => stof(v.raw)
        case None =>
          if (t3 && fontDict.contains("/FontBBox")) {
            val arr = DocUtil.getArrayOrIndirectArray(fontDict("/FontBBox"), storage)
            stof(arr(3).raw)
          } else Tables.stdMetrics.get(baseFont).map(_._1).getOrElse(NO_ASCENT)
      }
      metrics += name -> new Metrics(widths, dw, height, descent, ascent, fontMatrix)
    }
    new Fonts(dictionaryPerFont.result(), metrics.result())
  }
}
