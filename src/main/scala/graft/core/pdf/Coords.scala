package graft.core.pdf

import Lex._

/** 6-element affine matrix ops (common.h:36, common.cc:753-761,821;
  * coordinates.cc:13-27). Float throughout for byte-identical geometry. */
object Matrix {
  type M = Array[Float]
  val IDENTITY: M = Array(1f, 0f, 0f, 1f, 0f, 0f)

  /** row-vector convention: m1 * m2 (common.cc:753-761) */
  def mul(m1: M, m2: M): M = Array(
    m2(0) * m1(0) + m2(2) * m1(1),
    m2(1) * m1(0) + m2(3) * m1(1),
    m2(0) * m1(2) + m2(2) * m1(3),
    m2(1) * m1(2) + m2(3) * m1(3),
    m2(0) * m1(4) + m2(2) * m1(5) + m2(4),
    m2(1) * m1(4) + m2(3) * m1(5) + m2(5))
}

/** bbox (coordinates.h:11-32) */
final case class Coord(var x0: Float, var y0: Float, var x1: Float, var y1: Float) {
  def copyOf: Coord = Coord(x0, y0, x1, y1)
}

/** positioned glyph run (coordinates.h:34-58) */
final case class TextT(var coordinates: Coord, var text: String)

/** line/box chunk (coordinates.h:60-112); `stringLen` is UTF-8 codepoint count */
final class TextChunk private[pdf] (
    var coordinates: Coord,
    var texts: scala.collection.mutable.ArrayBuffer[TextT],
    var stringLen: Long,
    var isEmpty: Boolean) {

  def this() = this(Coord(0, 0, 0, 0), new scala.collection.mutable.ArrayBuffer[TextT](1), 0, true)

  /** identity comparison in the reference is on coordinates only */
  def sameCoords(o: TextChunk): Boolean =
    coordinates.x0 == o.coordinates.x0 && coordinates.y0 == o.coordinates.y0 &&
      coordinates.x1 == o.coordinates.x1 && coordinates.y1 == o.coordinates.y1

  def shallowCopy: TextChunk = {
    val t = new scala.collection.mutable.ArrayBuffer[TextT](math.max(texts.length, 1))
    t ++= texts
    new TextChunk(coordinates.copyOf, t, stringLen, isEmpty)
  }
}

object TextChunk {
  def apply(text: String, coordinates: Coord): TextChunk = {
    val t = new scala.collection.mutable.ArrayBuffer[TextT](1)
    t += TextT(coordinates.copyOf, text)
    new TextChunk(coordinates, t, Bytes.utf8Length(text).toLong, false)
  }

  def empty: TextChunk = new TextChunk
}

/** Text-positioning state machine (coordinates.cc): CTM, Tm, Tfs, Th, Tc,
  * Tw, TL, run-local x/y, and the q/Q CTM stack. Tm lives in six fields;
  * the matrix products of a shown string (`Matrix.mul`, the reference's
  * translate and apply, coordinates.cc:13-16,62-65) are spelled out term
  * by term in the reference's order, so every float is the same. */
final class Coordinates(ctmArg: Matrix.M) {
  import Matrix._

  var ctm: M = ctmArg
  private var tm0 = 1f
  private var tm1 = 0f
  private var tm2 = 0f
  private var tm3 = 1f
  private var tm4 = 0f
  private var tm5 = 0f
  var tfs: Float = 1f
  var th: Float = 1f
  var tc: Float = 0f
  var tw: Float = 0f
  var tl: Float = 0f
  var x: Float = 0f
  var y: Float = 0f
  private var ctms: List[M] = Nil

  private def setTmIdentity(): Unit = { tm0 = 1f; tm1 = 0f; tm2 = 0f; tm3 = 1f; tm4 = 0f; tm5 = 0f }

  def setDefault(): Unit = { setTmIdentity(); x = 0; y = 0 }

  private def td(xa: Float, ya: Float): Unit = {
    val n4 = xa * tm0 + ya * tm2 + tm4
    val n5 = xa * tm1 + ya * tm3 + tm5
    tm4 = n4
    tm5 = n5
    x = 0
    y = 0
  }

  /** build a chunk for a shown string (coordinates.cc:67-96).
    * `s` is the decoded UTF-8 byte-string, `len` the reference's length
    * argument (raw byte count for simple paths, codepoints for ToUnicode). */
  def adjustCoordinates(s: String, len: Int, width: Float, tj: Float, fonts: Fonts): TextChunk = {
    if (tj != 0) {
      // C++ `x -= Tj*Tfs*Th*0.001`: the 0.001 literal is double, so the
      // subtraction happens in double then narrows — replicated exactly.
      x = (x.toDouble - (tj * tfs * th).toDouble * 0.001).toFloat
      x += tc * th
    }
    val ty = fonts.getDescent * tfs + fonts.getRise * tfs
    val adv = width * tfs * th
    // m = mul(tm, ctm)
    val c = ctm
    val m0 = c(0) * tm0 + c(2) * tm1
    val m1 = c(1) * tm0 + c(3) * tm1
    val m2 = c(0) * tm2 + c(2) * tm3
    val m3 = c(1) * tm2 + c(3) * tm3
    val m4 = c(0) * tm4 + c(2) * tm5 + c(4)
    val m5 = c(1) * tm4 + c(3) * tm5 + c(5)
    // tStart = translate(m, x, y): m with (x, y) folded into its offset
    val s4 = x * m0 + y * m2 + m4
    val s5 = x * m1 + y * m3 + m5
    if (len > 1) x += tc * th * (len - 1)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') x += tw * th
      i += 1
    }
    // tEnd = translate(m, x, y)
    val e4 = x * m0 + y * m2 + m4
    val e5 = x * m1 + y * m3 + m5
    x += adv
    if (m5 != s5) return TextChunk.empty // vertical baseline: drop (coordinates.cc:87)
    // applyPt(tStart, 0, ty) and applyPt(tEnd, adv, ty + height * tfs)
    val sx = m0 * 0f + m2 * ty + s4
    val sy = m1 * 0f + m3 * ty + s5
    val ey0 = ty + fonts.getHeight * tfs
    val ex = m0 * adv + m2 * ey0 + e4
    val ey = m1 * adv + m3 * ey0 + e5
    TextChunk(s, Coord(math.min(sx, ex), math.min(sy, ey), math.max(sx, ex), math.max(sy, ey)))
  }

  // operand-stack handlers; st is the interpreter's operand stack
  type Stack = scala.collection.mutable.ArrayBuffer[String]

  private def popF(st: Stack): Float = {
    if (st.isEmpty) err("pop: stack is empty")
    stof(st.remove(st.length - 1))
  }

  private def getMatrix(st: Stack): M = {
    val f = popF(st); val e = popF(st); val d = popF(st)
    val c = popF(st); val b = popF(st); val a = popF(st)
    Array(a, b, c, d, e, f)
  }

  def doCm(st: Stack): Unit = ctm = mul(getMatrix(st), ctm)
  def doQPush(): Unit = ctms = ctm :: ctms
  def doQPop(): Unit = ctms match {
    case h :: t => ctm = h; ctms = t
    case Nil => // Q on empty stack is a no-op (coordinates.cc:108-111)
  }
  def setTz(st: Stack): Unit = th = popF(st) / 100
  def setTL(st: Stack): Unit = tl = popF(st)
  def setTc(st: Stack): Unit = tc = popF(st)
  def setTw(st: Stack): Unit = tw = popF(st)
  def setTd(st: Stack): Unit = { val yv = popF(st); val xv = popF(st); td(xv, yv) }
  def setTD(st: Stack): Unit = { val yv = popF(st); val xv = popF(st); td(xv, yv); tl = -yv }
  def setTm(st: Stack): Unit = {
    val f = popF(st); val e = popF(st); val d = popF(st)
    val c = popF(st); val b = popF(st); val a = popF(st)
    tm0 = a; tm1 = b; tm2 = c; tm3 = d; tm4 = e; tm5 = f
    x = 0; y = 0
  }
  def setTStar(): Unit = td(0, -tl)
  def setTf(st: Stack): Unit = tfs = popF(st)
  def setQuote(): Unit = setTStar()
  def setDoubleQuote(st: Stack): Unit = { tc = popF(st); tw = popF(st); setQuote() }
}

object PageGeom {
  /** initial CTM from /Rotate + MediaBox (pages_extractor.cc:141-147) */
  def initCTM(rotate: Long, mb: Array[Float]): Matrix.M = rotate match {
    case 90 => Array(0f, -1f, 1f, 0f, -mb(1), mb(2))
    case 180 => Array(-1f, 0f, 0f, -1f, mb(2), mb(3))
    case 270 => Array(0f, 1f, -1f, 0f, mb(3), -mb(0))
    case _ => Array(1f, 0f, 0f, 1f, -mb(0), -mb(1))
  }
}
