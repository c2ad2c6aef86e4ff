package graft.core.pdf

import scala.collection.mutable.ArrayBuffer

/** Geometric layout assembly (reference group D): chunks -> lines -> boxes ->
  * reading-order plane -> final string. pages_extractor.cc:71-455 with the
  * pdfminer-derived constants (pages_extractor.cc:41-46). All math in Float.
  */
object Layout {
  final val LINE_OVERLAP = 0.5f
  final val CHAR_MARGIN = 2.0f
  final val WORD_MARGIN = 0.21f
  final val LINE_MARGIN = 0.5f
  final val BOXES_FLOW = 0.5f
  final val MAX_BOXES = 300

  @inline private def height(c: Coord): Float = c.y1 - c.y0
  @inline private def widthC(c: Coord): Float = c.x1 - c.x0
  private def widthChunk(o: TextChunk): Float = (o.coordinates.x1 - o.coordinates.x0) / o.stringLen
  private def widthText(o: TextT): Float =
    (o.coordinates.x1 - o.coordinates.x0) / Bytes.utf8Length(o.text)

  private def isZeroString(line: TextChunk): Boolean =
    widthC(line.coordinates) <= 0 || height(line.coordinates) <= 0

  private def isVoverlap(a: Coord, b: Coord): Boolean = b.y0 <= a.y1 && a.y0 <= b.y1
  private def isHoverlap(a: Coord, b: Coord): Boolean = b.x0 <= a.x1 && a.x0 <= b.x1

  private def voverlap(a: Coord, b: Coord): Float =
    if (isVoverlap(a, b)) math.min(math.abs(a.y0 - b.y1), math.abs(a.y1 - b.y0)) else 0f

  private def hdistance(a: Coord, b: Coord): Float =
    if (isHoverlap(a, b)) 0f else math.min(math.abs(a.x0 - b.x1), math.abs(a.x1 - b.x0))

  /** pages_extractor.cc:169-175 */
  private def isHalign(o1: TextChunk, o2: TextChunk): Boolean =
    isVoverlap(o1.coordinates, o2.coordinates) &&
      (math.min(height(o1.coordinates), height(o2.coordinates)) * LINE_OVERLAP <
        voverlap(o1.coordinates, o2.coordinates)) &&
      (hdistance(o1.coordinates, o2.coordinates) < math.max(widthChunk(o1), widthChunk(o2)) * CHAR_MARGIN)

  private def clearEmptyStrings(chunks: ArrayBuffer[TextChunk]): Unit =
    chunks.filterInPlace(c => !(c.stringLen == 0 || c.isEmpty))

  private def extendBBox(dst: Coord, src: Coord): Unit = {
    if (src.x0 < dst.x0) dst.x0 = src.x0
    if (src.x1 > dst.x1) dst.x1 = src.x1
    if (src.y0 < dst.y0) dst.y0 = src.y0
    if (src.y1 > dst.y1) dst.y1 = src.y1
  }

  private def add2line(line: TextChunk, obj: TextChunk): Unit = {
    line.stringLen += obj.stringLen
    line.texts ++= obj.texts
    extendBBox(line.coordinates, obj.coordinates)
  }

  /** single-pass pairing of adjacent chunks into lines (pages_extractor.cc:263-299) */
  private def traverseSymbols(chunks: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    val result = ArrayBuffer.empty[TextChunk]
    var line = TextChunk.empty
    var obj0: TextChunk = null
    chunks.foreach { obj1 =>
      if (obj0 != null) {
        val isCmp = isHalign(obj0, obj1)
        if (isCmp && !line.isEmpty) add2line(line, obj1)
        else if (!line.isEmpty) {
          result += line
          line = TextChunk.empty
        } else if (isCmp) {
          line = obj0.shallowCopy
          line.isEmpty = false
          add2line(line, obj1)
        } else result += obj0
      }
      obj0 = obj1
    }
    if (line.isEmpty && obj0 != null) result += obj0
    if (!line.isEmpty) result += line
    result
  }

  /** merge zero-width/height runs into the first of each run (pages_extractor.cc:177-215) */
  private def groupZeroLines(lines: ArrayBuffer[TextChunk]): Unit = {
    var startIdx = 0
    var go = true
    while (go) {
      var first = -1
      var i = startIdx
      while (i < lines.length && first < 0) {
        if (isZeroString(lines(i))) first = i
        i += 1
      }
      if (first < 0) go = false
      else {
        var second = lines.length
        i = first + 1
        var found = false
        while (i < lines.length && !found) {
          if (isZeroString(lines(i))) { second = i; found = true }
          i += 1
        }
        startIdx = second
        if (second - first > 1) {
          val head = lines(first)
          var j = first + 1
          while (j < second) {
            val it = lines(j)
            head.texts(0).text += it.texts(0).text
            extendBBox(head.coordinates, it.coordinates)
            head.stringLen += it.stringLen
            it.isEmpty = true
            j += 1
          }
          head.texts(0).coordinates = head.coordinates.copyOf
        }
      }
    }
  }

  /** sort lines by (y1 desc, x0 asc), join with '\n' (pages_extractor.cc:227-251) */
  private def mergeLines(lines: ArrayBuffer[TextChunk]): TextChunk = {
    if (lines.isEmpty) return TextChunk.empty
    groupZeroLines(lines)
    clearEmptyStrings(lines)
    if (lines.isEmpty) return TextChunk.empty
    val sorted = if (lines.length == 1) lines else lines.sortWith { (a, b) =>
      if (a.coordinates.y1 != b.coordinates.y1) a.coordinates.y1 > b.coordinates.y1
      else a.coordinates.x0 < b.coordinates.x0
    }
    val first = sorted(0).texts(0).text
    val coords = sorted(0).coordinates.copyOf
    var stringLen = Bytes.utf8Length(first).toLong + 1 // + '\n'
    val acc = new StringBuilder(first).append('\n')
    var i = 1
    while (i < sorted.length) {
      acc.append(sorted(i).texts(0).text).append('\n')
      extendBBox(coords, sorted(i).coordinates)
      stringLen += sorted(i).stringLen
      i += 1
    }
    val texts = new ArrayBuffer[TextT](1)
    texts += TextT(coords.copyOf, acc.toString)
    new TextChunk(coords, texts, stringLen, false)
  }

  /** pages_extractor.cc:301-315 */
  private def isNeighbourLines(o1: TextChunk, o2: TextChunk): Boolean = {
    if (o1.isEmpty || o2.isEmpty) return false
    val h1 = height(o1.coordinates)
    val h2 = height(o2.coordinates)
    val d = LINE_MARGIN * math.max(h1, h2)
    math.abs(h1 - h2) < d &&
      o2.coordinates.x1 > o1.coordinates.x0 && o2.coordinates.x0 < o1.coordinates.x1 &&
      o2.coordinates.y0 < o1.coordinates.y1 + d && o2.coordinates.y1 > o1.coordinates.y0 - d &&
      (math.abs(o1.coordinates.x0 - o2.coordinates.x0) < d ||
        math.abs(o1.coordinates.x1 - o2.coordinates.x1) < d)
  }

  /** transitive closure pull of neighbours (pages_extractor.cc:317-329).
    * Mirrors the reference's move-semantics: pulled lines become empty in
    * `lines` (moved-from => is_empty).
    *
    * Pruning index (`order`/`y0sorted`/`hmax`): isNeighbourLines requires
    * o2.y0 < o1.y1 + d and o2.y1 > o1.y0 - d with d <= LINE_MARGIN*hmax, so
    * only lines whose y0 falls in [o1.y0 - d - hmax, o1.y1 + d] can ever
    * match — a binary-searched window over the y0-sorted index instead of a
    * scan of all n lines (the O(n^2) hot spot: 74% of whale-document time).
    * The window is a conservative SUPERSET (inverted boxes included — see
    * the hmax = max|height| bound) and candidates are re-sorted to the
    * original index order before testing, so the predicate sequence — and
    * therefore the output bytes — are identical to the plain scan. */
  private def getNeighbourLines(
      lines: ArrayBuffer[TextChunk],
      seed: TextChunk,
      order: Array[Int],
      y0sorted: Array[Float],
      hmax: Float): ArrayBuffer[TextChunk] = {
    val result = ArrayBuffer(seed)
    val dmax = LINE_MARGIN * hmax
    var i = 0
    while (i < result.length) {
      val r = result(i).coordinates
      val lo = r.y0 - dmax - hmax - 1f
      val hi = r.y1 + dmax + 1f
      // lower bound: first index with y0sorted >= lo
      var a = 0
      var b = y0sorted.length
      while (a < b) { val m = (a + b) >>> 1; if (y0sorted(m) < lo) a = m + 1 else b = m }
      val start = a
      // upper bound: first index with y0sorted > hi
      a = start; b = y0sorted.length
      while (a < b) { val m = (a + b) >>> 1; if (y0sorted(m) <= hi) a = m + 1 else b = m }
      val end = a
      val cands = java.util.Arrays.copyOfRange(order, start, end)
      java.util.Arrays.sort(cands) // restore original scan order (byte identity)
      var k = 0
      while (k < cands.length) {
        val line = lines(cands(k))
        if (isNeighbourLines(line, result(i))) {
          result += line.shallowCopy
          line.isEmpty = true // moved-from
        }
        k += 1
      }
      i += 1
    }
    result
  }

  /** pages_extractor.cc:331-346 */
  private def makeTextBoxes(lines: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    // y0 index for the neighbour-window pruning (built once per page)
    val n = lines.length
    val y0 = new Array[Float](n)
    var hmax = 0f
    var t = 0
    while (t < n) {
      y0(t) = lines(t).coordinates.y0
      val h = math.abs(height(lines(t).coordinates))
      if (h > hmax) hmax = h
      t += 1
    }
    val orderBoxed = sortByY0(y0)
    val y0sorted = orderBoxed.map(y0(_))
    val textBoxes = ArrayBuffer.empty[TextChunk]
    var idx = lines.indexWhere(l => !l.isEmpty)
    while (idx >= 0 && idx < lines.length) {
      val seed = lines(idx).shallowCopy
      lines(idx).isEmpty = true // moved-from (*make_move_iterator)
      val line = mergeLines(getNeighbourLines(lines, seed, orderBoxed, y0sorted, hmax))
      if (!line.isEmpty) textBoxes += line
      idx = lines.indexWhere(l => !l.isEmpty, idx)
    }
    groupZeroLines(textBoxes)
    clearEmptyStrings(textBoxes)
    textBoxes
  }

  /** line indices stably sorted by y0 under `Float.compare` (the order
    * `sortBy` gives): each key packs the float's order-preserving int
    * image above the index, so one primitive sort does it */
  private def sortByY0(y0: Array[Float]): Array[Int] = {
    val keys = new Array[Long](y0.length)
    var i = 0
    while (i < y0.length) {
      val bits = java.lang.Float.floatToIntBits(y0(i))
      val ordered = if (bits < 0) bits ^ 0x7fffffff else bits
      keys(i) = (ordered.toLong << 32) | i
      i += 1
    }
    java.util.Arrays.sort(keys)
    val order = new Array[Int](y0.length)
    i = 0
    while (i < keys.length) { order(i) = keys(i).toInt; i += 1 }
    order
  }

  /** within each line, sort runs by x0 and insert word spaces (pages_extractor.cc:348-371) */
  private def mergeChars(chars: ArrayBuffer[TextChunk]): Unit = {
    var k = 0
    while (k < chars.length) {
      val line = chars(k)
      if (line.texts.nonEmpty) {
        val whole = TextT(line.coordinates.copyOf, "")
        if (line.texts.length == 1) whole.text = line.texts(0).text
        else {
          val sorted = line.texts.sortWith((a, b) => a.coordinates.x0 < b.coordinates.x0)
          val acc = new StringBuilder
          var i = 0
          while (i < sorted.length) {
            acc.append(sorted(i).text)
            if (i != sorted.length - 1 &&
              sorted(i).coordinates.x1 < sorted(i + 1).coordinates.x0 -
                widthText(sorted(i + 1)) * WORD_MARGIN) {
              acc.append(' ')
            }
            i += 1
          }
          whole.text = acc.toString
        }
        val texts = new ArrayBuffer[TextT](1)
        texts += whole
        line.texts = texts
      }
      k += 1
    }
  }

  private def makeTextLines(chunks: ArrayBuffer[TextChunk]): ArrayBuffer[TextChunk] = {
    clearEmptyStrings(chunks)
    val result = traverseSymbols(chunks)
    mergeChars(result)
    result
  }

  /** "wasted area" clustering distance (pages_extractor.cc:381-389) */
  private def getDist(o1: TextChunk, o2: TextChunk): Float = {
    val x0 = math.min(o1.coordinates.x0, o2.coordinates.x0)
    val y0 = math.min(o1.coordinates.y0, o2.coordinates.y0)
    val x1 = math.max(o1.coordinates.x1, o2.coordinates.x1)
    val y1 = math.max(o1.coordinates.y1, o2.coordinates.y1)
    (x1 - x0) * (y1 - y0) -
      widthC(o1.coordinates) * height(o1.coordinates) -
      widthC(o2.coordinates) * height(o2.coordinates)
  }

  /** another box strictly inside the union bbox defers the merge (pages_extractor.cc:96-110) */
  private def isBetween(groups: ArrayBuffer[TextChunk], obj1: Int, obj2: Int): Boolean = {
    val x0 = math.min(groups(obj1).coordinates.x0, groups(obj2).coordinates.x0)
    val y0 = math.min(groups(obj1).coordinates.y0, groups(obj2).coordinates.y0)
    val x1 = math.max(groups(obj1).coordinates.x1, groups(obj2).coordinates.x1)
    val y1 = math.max(groups(obj1).coordinates.y1, groups(obj2).coordinates.y1)
    groups.exists { obj =>
      val c = obj.coordinates
      c.x0 >= x0 && c.y0 >= y0 && c.x1 <= x1 && c.y1 <= y1 &&
        !obj.isEmpty && !obj.sameCoords(groups(obj1)) && !obj.sameCoords(groups(obj2))
    }
  }

  /** merge two groups; winner chosen by reading position (pages_extractor.cc:112-134) */
  private def createGroup(groups: ArrayBuffer[TextChunk], obj1: Int, obj2: Int): Int = {
    def pos(i: Int): Float =
      (1 - BOXES_FLOW) * groups(i).coordinates.x0 -
        (1 + BOXES_FLOW) * (groups(i).coordinates.y0 + groups(i).coordinates.y1)
    val (o1, o2) = if (pos(obj1) <= pos(obj2)) (obj1, obj2) else (obj2, obj1)
    groups(o2).texts.foreach { t => extendBBox(groups(o1).coordinates, t.coordinates) }
    groups(o2).texts.foreach(groups(o1).texts += _)
    groups(o2).isEmpty = true
    o1
  }

  /** >MAX_BOXES bail-out: concatenate in document order (pages_extractor.cc:391-401) */
  private def boxesAsIs(boxes: ArrayBuffer[TextChunk]): TextChunk = {
    val result = new TextChunk
    result.texts = ArrayBuffer(TextT(Coord(0, 0, 1, 1), ""))
    val acc = new StringBuilder
    boxes.foreach { chunk =>
      result.isEmpty = false
      acc.append(chunk.texts(0).text)
    }
    result.texts(0).text = acc.toString
    result
  }

  private final class DistT(var c: Int, val d: Float, val obj1: Int, val obj2: Int)

  /** agglomerative min-dist clustering (pages_extractor.cc:403-441) */
  private def makePlane(boxes: ArrayBuffer[TextChunk]): TextChunk = {
    if (boxes.isEmpty) return TextChunk.empty
    if (boxes.length > MAX_BOXES) return boxesAsIs(boxes)
    val dists = ArrayBuffer.empty[DistT]
    var i = 0
    while (i < boxes.length) {
      var j = i + 1
      while (j < boxes.length) {
        dists += new DistT(0, getDist(boxes(i), boxes(j)), i, j)
        j += 1
      }
      i += 1
    }
    while (dists.nonEmpty) {
      // min_element with (c, d) lexicographic order (pages_extractor.cc:48-52)
      var minIdx = 0
      var k = 1
      while (k < dists.length) {
        val a = dists(k)
        val b = dists(minIdx)
        if (a.c < b.c || (a.c == b.c && a.d < b.d)) minIdx = k
        k += 1
      }
      val it = dists(minIdx)
      if (it.c == 0 && isBetween(boxes, it.obj1, it.obj2)) {
        it.c = 1
      } else {
        val d1 = it.obj1
        val d2 = it.obj2
        dists.filterInPlace(o => !(o.obj1 == d1 || o.obj1 == d2 || o.obj2 == d1 || o.obj2 == d2))
        val group = createGroup(boxes, d1, d2)
        var b = 0
        while (b < boxes.length) {
          if (b != group && !boxes(b).isEmpty)
            dists += new DistT(0, getDist(boxes(group), boxes(b)), group, b)
          b += 1
        }
      }
    }
    boxes.find(!_.isEmpty).getOrElse(Lex.err("all objects are moved"))
  }

  private def makeString(group: TextChunk): String = {
    if (group.isEmpty) return ""
    if (group.texts.length == 1) return group.texts(0).text
    val sb = new StringBuilder
    group.texts.foreach(t => sb.append(t.text))
    sb.toString
  }

  /** full pipeline for one result group (pages_extractor.cc:451-455) */
  def renderText(chunks: ArrayBuffer[TextChunk]): String =
    makeString(makePlane(makeTextBoxes(makeTextLines(chunks))))

  /** like renderText but also returns the surviving chunk bboxes as spans
    * (Spark output column; coordinates.h:60-112). Spans are taken after
    * line/box assembly, before plane merging. */
  def renderTextWithSpans(chunks: ArrayBuffer[TextChunk]): (String, Vector[(Coord, String)]) = {
    val boxes = makeTextBoxes(makeTextLines(chunks))
    val spans = Vector.tabulate(boxes.length) { i =>
      val b = boxes(i)
      (b.coordinates.copyOf, if (b.texts.isEmpty) "" else b.texts(0).text)
    }
    val text = makeString(makePlane(boxes))
    (text, spans)
  }
}
