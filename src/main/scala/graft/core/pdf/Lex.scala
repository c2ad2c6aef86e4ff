package graft.core.pdf

import scala.collection.immutable.{AbstractMap, TreeMap, VectorBuilder}

/** Mutable offset cell, mirroring the reference's `size_t&` in/out params. */
final class Pos(var i: Int)

/** Dictionary entry: raw value text + object type (reference dict_t,
  * common.h:34). Insertion uses `emplace` semantics: first key wins. */
final case class PVal(raw: String, tpe: Obj.Type)

/** ASCII char class as a 128-bit mask: a scan tests membership with one
  * shift instead of a `set.indexOf` per char. Chars >= 0x80 are never
  * members, so only all-ASCII sets get a class ([[CharClass.of]]). */
private[pdf] final class CharClass(lo: Long, hi: Long) {
  @inline def has(c: Char): Boolean =
    if (c < 64) ((lo >>> c) & 1L) != 0L
    else if (c < 128) ((hi >>> (c - 64)) & 1L) != 0L
    else false
}

private[pdf] object CharClass {
  /** the class of `set`, or null if `set` holds a char >= 0x80 */
  def of(set: String): CharClass = {
    var lo = 0L
    var hi = 0L
    var i = 0
    while (i < set.length) {
      val c = set.charAt(i)
      if (c >= 128) return null
      if (c < 64) lo |= 1L << c else hi |= 1L << (c - 64)
      i += 1
    }
    new CharClass(lo, hi)
  }
}

/** get_dictionary_data result. The reference's `dict_t` is a std::map, so
  * keys iterate in sorted order (observable: `Fonts.apply` walks /Font in
  * this order, so it decides which bad font errs first) and the first
  * occurrence of a key wins. Keys and values sit in two parallel arrays
  * sorted by key. Updates (rare: descendant-font merge, inherited
  * /Resources, /ID) return a TreeMap, which keeps the same order. */
private[pdf] final class SortedDict(keys: Array[String], vals: Array[PVal], n: Int)
    extends AbstractMap[String, PVal] {

  /** index of `key`. Known names are shared instances (see `Lex.name`),
    * so a lookup by a literal usually finds its key by reference. */
  private def find(key: String): Int = {
    var i = 0
    while (i < n) { if (keys(i) eq key) return i; i += 1 }
    SortedDict.search(keys, n, key)
  }

  def get(key: String): Option[PVal] = {
    val i = find(key)
    if (i >= 0) Some(vals(i)) else None
  }
  override def apply(key: String): PVal = {
    val i = find(key)
    if (i >= 0) vals(i) else default(key)
  }
  override def getOrElse[V1 >: PVal](key: String, default: => V1): V1 = {
    val i = find(key)
    if (i >= 0) vals(i) else default
  }
  override def contains(key: String): Boolean = find(key) >= 0
  override def size: Int = n
  override def knownSize: Int = n
  override def isEmpty: Boolean = n == 0

  def iterator: Iterator[(String, PVal)] = new scala.collection.AbstractIterator[(String, PVal)] {
    private var i = 0
    def hasNext: Boolean = i < n
    def next(): (String, PVal) = {
      if (i >= n) Iterator.empty.next()
      val r = (keys(i), vals(i))
      i += 1
      r
    }
  }
  override def foreach[U](f: ((String, PVal)) => U): Unit = {
    var i = 0
    while (i < n) { f((keys(i), vals(i))); i += 1 }
  }

  def removed(key: String): Map[String, PVal] = TreeMap.from(this).removed(key)
  def updated[V1 >: PVal](key: String, value: V1): Map[String, V1] =
    TreeMap.from[String, V1](this).updated(key, value)
}

private[pdf] object SortedDict {
  def search(keys: Array[String], n: Int, key: String): Int = {
    var lo = 0
    var hi = n - 1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      val c = keys(m).compareTo(key)
      if (c < 0) lo = m + 1 else if (c > 0) hi = m - 1 else return m
    }
    -(lo + 1)
  }
}

/** Recursive-descent PDF object lexer. A faithful re-derivation of the
  * reference's string-slicing parsers (common.cc:192-495); every delimiter
  * set and quirk is kept so downstream byte-identity holds.
  */
object Lex {
  type Dict = Map[String, PVal] // get_dictionary_data result
  type Arr = Vector[PVal] // get_array_data result

  def err(msg: String): Nothing = throw new PdfError(msg)

  @inline def isBlank(c: Char): Boolean =
    c == '\r' || c == '\n' || c == ' ' || c == '\t' // common.cc:199-203

  @inline def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  // delimiter sets of the hot scans, as masks
  private[pdf] val Blank = CharClass.of("\r\n \t")
  private[pdf] val Digits = CharClass.of("0123456789")
  private val TokenEnd = CharClass.of(" \r\n\t/[(<")
  private val NameEnd = CharClass.of("\r\t\n /](<>") // find_name_end_delimiter common.cc:111-114
  private val ValueEnd = CharClass.of("\r\t\n /][(<>") // find_value_end_delimiter common.cc:116-119
  private val KeyEnd = CharClass.of("\r\t\n /<[(")

  // ---- efind helpers (common.cc:205-266): throwing finds ------------------
  private[pdf] def firstOf(src: String, cls: CharClass, pos: Int): Int = {
    var i = pos
    val n = src.length
    while (i < n) { if (cls.has(src.charAt(i))) return i; i += 1 }
    -1
  }

  private[pdf] def firstNotOf(src: String, cls: CharClass, pos: Int): Int = {
    var i = pos
    val n = src.length
    while (i < n) { if (!cls.has(src.charAt(i))) return i; i += 1 }
    -1
  }

  private[pdf] def efirstOf(src: String, cls: CharClass, pos: Int, set: String): Int = {
    val r = firstOf(src, cls, pos)
    if (r < 0) err(s"efind_first for $set in pos $pos failed")
    r
  }

  def efindFirstOf(src: String, set: String, pos: Int): Int = {
    val r = findFirstOf(src, set, pos)
    if (r < 0) err(s"efind_first for $set in pos $pos failed")
    r
  }

  def efindFirstNotOf(src: String, set: String, pos: Int): Int = {
    val r = findFirstNotOf(src, set, pos)
    if (r < 0) err(s"efind_first_not for $set in pos $pos failed")
    r
  }

  def findFirstOf(src: String, set: String, pos: Int): Int = {
    val cls = CharClass.of(set)
    if (cls != null) return firstOf(src, cls, pos)
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) >= 0) return i; i += 1 }
    -1
  }

  def findFirstNotOf(src: String, set: String, pos: Int): Int = {
    val cls = CharClass.of(set)
    if (cls != null) return firstNotOf(src, cls, pos)
    var i = pos
    while (i < src.length) { if (set.indexOf(src.charAt(i)) < 0) return i; i += 1 }
    -1
  }

  def efind(src: String, what: String, pos: Int): Int = {
    val r = src.indexOf(what, pos)
    if (r < 0) err(s"efind for $what in pos $pos failed")
    r
  }

  def efind(src: String, what: Char, pos: Int): Int = {
    val r = src.indexOf(what, pos)
    if (r < 0) err(s"efind for $what in pos $pos failed")
    r
  }

  // ---- numeric parsing ----------------------------------------------------
  /** strict unsigned parse: whole string must be consumed (common.cc:587-605).
    * C++ stoul skips leading whitespace and allows '+'. '-' anywhere rejects. */
  def strictStoul(s: String, base: Int = 10): Long = stoul(s, 0, s.length, base)

  /** [[strictStoul]] of `s.substring(from, to)`, without the copy; callers
    * pass 0 <= from <= to <= s.length */
  private[pdf] def stoul(s: String, from: Int, to: Int, base: Int): Long = {
    if (from == to) err("strict_stoul: string is empty")
    var k = from
    while (k < to) {
      if (s.charAt(k) == '-') err(s"strict_stoul: ${s.substring(from, to)} is not unsigned number")
      k += 1
    }
    var i = from
    while (i < to && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r' || s.charAt(i) == '\f' || s.charAt(i) == 0x0b)) i += 1
    if (i < to && s.charAt(i) == '+') i += 1
    val start = i
    var v = 0L
    var d = 0
    while (i < to && { d = digitVal(s.charAt(i)); d >= 0 && d < base }) {
      v = v * base + d; i += 1
    }
    if (i == start || i != to) err(s"strict_stoul: ${s.substring(from, to)} is not unsigned number")
    v
  }

  /** strict signed parse (common.cc:607-624) */
  def strictStol(s: String, base: Int = 10): Long = {
    if (s.isEmpty) err("strict_stol: string is empty")
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    var neg = false
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) { neg = s.charAt(i) == '-'; i += 1 }
    val start = i
    var v = 0L
    while (i < s.length && digitVal(s.charAt(i)) >= 0 && digitVal(s.charAt(i)) < base) {
      v = v * base + digitVal(s.charAt(i)); i += 1
    }
    if (i == start || i != s.length) err(s"strict_stol: $s is not number")
    if (neg) -v else v
  }

  @inline private def digitVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'z') c - 'a' + 10
    else if (c >= 'A' && c <= 'Z') c - 'A' + 10
    else -1

  /** exact float powers of ten: 5^10 < 2^24, so 10^0..10^10 are floats */
  private val Pow10F = Array(1f, 1e1f, 1e2f, 1e3f, 1e4f, 1e5f, 1e6f, 1e7f, 1e8f, 1e9f, 1e10f)

  /** C++ `stof` semantics: skip leading spaces, parse longest float prefix;
    * throw if none. Returns Float (reference uses float throughout).
    *
    * A plain decimal whose digits form an integer m < 2^24 with at most 10
    * fraction digits is m / 10^k in one float division: both operands are
    * exact floats, so the quotient is the correctly rounded value that
    * `Float.parseFloat` returns. Anything else goes to `parseFloat`. */
  def stof(s: String): Float = {
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' || s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    val start = i
    var neg = false
    if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) { neg = s.charAt(i) == '-'; i += 1 }
    var digits = 0
    var m = 0L
    var frac = 0
    while (i < s.length && isDigit(s.charAt(i))) {
      if (m <= (1L << 24)) m = m * 10 + (s.charAt(i) - '0')
      i += 1; digits += 1
    }
    if (i < s.length && s.charAt(i) == '.') {
      i += 1
      while (i < s.length && isDigit(s.charAt(i))) {
        if (m <= (1L << 24)) m = m * 10 + (s.charAt(i) - '0')
        i += 1; digits += 1; frac += 1
      }
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
    if (end == i && m < (1L << 24) && frac <= 10) {
      val f = m.toFloat / Pow10F(frac)
      if (neg) -f else f
    } else java.lang.Float.parseFloat(if (start == 0 && end == s.length) s else s.substring(start, end))
  }

  // ---- whitespace / comments (common.cc:268-296) --------------------------
  /** returns -1 for npos when validate=false */
  def skipSpaces(buffer: String, offset: Int, validate: Boolean = true): Int = {
    var i = offset
    val n = buffer.length
    while (i < n) { if (!isBlank(buffer.charAt(i))) return i; i += 1 }
    if (validate) err("skip_spaces: no data after space")
    -1
  }

  def skipComments(buffer: String, offset0: Int, validate: Boolean = true): Int = {
    var offset = offset0
    while (true) {
      offset = skipSpaces(buffer, offset, validate)
      if (offset < 0 || buffer.charAt(offset) != '%') return offset
      val n = buffer.length
      while (offset < n && buffer.charAt(offset) != '\r' && buffer.charAt(offset) != '\n') offset += 1
      if (offset == n) {
        if (validate) err("skip_comments: no data after comments")
        return -1
      }
    }
    offset
  }

  /** content-stream token (common.cc:275-281): token starts at i; scan for
    * the next delimiter from i+1 (so a leading delimiter char is included). */
  def getToken(content: String, p: Pos): String = {
    val start = p.i
    var i = firstOf(content, TokenEnd, p.i + 1)
    if (i < 0) i = content.length
    p.i = i
    content.substring(start, i)
  }

  // ---- object type dispatch (common.cc:298-316) ---------------------------
  private def isIndirectNumber(s: String, p: Pos): Boolean = {
    // common.cc:161-173
    if (!isDigit(s.charAt(p.i))) return false
    var o = firstNotOf(s, Digits, p.i)
    if (o < 0) return false
    val c = s.charAt(o)
    // C++ isspace: space \t \n \v \f \r
    if (!(c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r')) return false
    o = firstNotOf(s, Blank, o)
    if (o < 0) return false
    p.i = o
    true
  }

  private def isIndirectObject(s: String, offset: Int): Boolean = {
    val p = new Pos(offset)
    var k = 0
    while (k < 2) {
      if (!isIndirectNumber(s, p)) return false
      k += 1
    }
    s.charAt(p.i) == 'R'
  }

  def getObjectType(buffer: String, p: Pos): Obj.Type = {
    p.i = skipComments(buffer, p.i)
    if (p.i + 1 == buffer.length) err("get_object_type: not enough data")
    buffer.charAt(p.i) match {
      case '[' => Obj.ARRAY
      case '(' => Obj.STRING
      case '<' => if (buffer.charAt(p.i + 1) == '<') Obj.DICTIONARY else Obj.STRING
      case '/' => Obj.NAME_OBJECT
      case _ => if (isIndirectObject(buffer, p.i)) Obj.INDIRECT_OBJECT else Obj.VALUE
    }
  }

  // ---- object lexers (raw-text slicing, common.cc:318-495) ----------------
  // Each `*End` scan returns the offset just past the object that starts at
  // `from`; the `get*` lexers slice that range. Nested strings and
  // dictionaries are skipped without being copied.

  private[pdf] def dictionaryEnd(buffer: String, from: Int): Int = {
    var prevs = 0
    var end = from + 2
    val n = buffer.length
    while (end < n) {
      val c = buffer.charAt(end)
      if (c != '<' && c != '(' && c != '>') {
        if (end + 1 == n) buffer.charAt(end + 1) // the reference reads the next char first: .at() throws
        end += 1
      } else {
        val cn = buffer.charAt(end + 1) // .at() -> may throw at buffer end, as in reference
        if (c == '<' && cn == '<') { prevs += 1; end += 2 }
        else if (c == '(' || c == '<') end = stringEnd(buffer, end)
        else if (c == '>' && cn == '>') {
          if (prevs == 0) return end + 2
          prevs -= 1; end += 2
        } else end += 1
      }
    }
    err("get_dictionary: can`t find dictionary end delimiter")
  }

  def getDictionary(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = dictionaryEnd(buffer, start)
    buffer.substring(start, p.i)
  }

  def getNameObject(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efirstOf(buffer, NameEnd, p.i + 1, "\r\t\n /](<>")
    name(buffer, start, p.i)
  }

  /** common dictionary keys and name values, shared instead of sliced
    * once per occurrence: open-addressed by String.hashCode; read-only */
  private val knownNames: Array[String] = {
    val names = Seq("/Type", "/Subtype", "/Pages", "/Page", "/Kids", "/Count", "/Parent",
      "/MediaBox", "/CropBox", "/Resources", "/Font", "/XObject", "/ProcSet", "/ExtGState",
      "/Contents", "/Length", "/Filter", "/DecodeParms", "/Root", "/Size", "/Info", "/ID",
      "/Prev", "/Encrypt", "/BaseFont", "/Encoding", "/FirstChar", "/LastChar", "/Widths",
      "/FontDescriptor", "/N", "/First", "/W", "/Index", "/Rotate", "/ToUnicode",
      "/DescendantFonts", "/DW", "/Catalog", "/Type1", "/TrueType", "/Type0", "/Type3",
      "/CIDFontType0", "/CIDFontType2", "/XRef", "/ObjStm", "/FlateDecode", "/LZWDecode",
      "/ASCII85Decode", "/ASCIIHexDecode", "/WinAnsiEncoding", "/MacRomanEncoding",
      "/StandardEncoding", "/Identity-H", "/Courier", "/Helvetica", "/Times-Roman", "/PDF",
      "/Text", "/Predictor", "/Columns", "/Colors", "/BitsPerComponent", "/FontBBox",
      "/Ascent", "/Descent", "/Flags", "/CapHeight", "/StemV", "/ItalicAngle", "/FontName",
      "/MissingWidth", "/Differences", "/BaseEncoding", "/Form", "/BBox", "/Matrix", "/O",
      "/U", "/P", "/R", "/V", "/CF", "/StdCF", "/CFM", "/Producer", "/Creator", "/F1", "/F2")
    val table = new Array[String](512)
    names.foreach { nm =>
      var slot = nm.hashCode & (table.length - 1)
      while (table(slot) != null) slot = (slot + 1) & (table.length - 1)
      table(slot) = nm
    }
    table
  }

  /** `buffer.substring(from, to)`, as a shared instance when it is a known name */
  private def name(buffer: String, from: Int, to: Int): String = {
    var h = 0
    var k = from
    while (k < to) { h = 31 * h + buffer.charAt(k); k += 1 }
    var slot = h & (knownNames.length - 1)
    while (knownNames(slot) != null) {
      val known = knownNames(slot)
      if (known.length == to - from && buffer.startsWith(known, from)) return known
      slot = (slot + 1) & (knownNames.length - 1)
    }
    buffer.substring(from, to)
  }

  def getValue(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efirstOf(buffer, ValueEnd, p.i, "\r\t\n /][(<>")
    buffer.substring(start, p.i)
  }

  def getIndirectObject(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = efind(buffer, 'R', p.i) + 1
    buffer.substring(start, p.i)
  }

  /** raw string incl. delimiters; handles nesting + escapes (common.cc:380-415) */
  private def stringEnd(buffer: String, from: Int): Int = {
    val delimiter = buffer.charAt(from)
    if (delimiter != '(' && delimiter != '<') err("get_string: string must start with '(' or '<'")
    val endDelimiter = if (delimiter == '(') ')' else '>'
    var prevs = 0
    var escaped = false
    var off = from + 1
    while (true) {
      val c = buffer.charAt(off) // throws past end, like .at()
      if (c == '\\') { escaped = !escaped; off += 1 }
      else if (escaped) { escaped = false; off += 1 }
      else if (c == delimiter) { prevs += 1; off += 1 }
      else if (c == endDelimiter) {
        if (prevs == 0) return off + 1
        prevs -= 1; off += 1
      } else off += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def getString(buffer: String, p: Pos): String = {
    val start = p.i
    p.i = stringEnd(buffer, start)
    buffer.substring(start, p.i)
  }

  /** The reference rebuilds the array text piece by piece; every piece is
    * the consumed range, so the result is the slice, with its first char
    * read as '['. */
  def getArray(buffer: String, p: Pos): String = {
    val start = p.i
    var i = start + 1
    var prevs = 0
    while (true) {
      buffer.charAt(i) match {
        case '(' => i = stringEnd(buffer, i)
        case '<' => i = if (buffer.charAt(i + 1) == '<') dictionaryEnd(buffer, i) else stringEnd(buffer, i)
        case '[' => prevs += 1; i += 1
        case ']' =>
          i += 1
          if (prevs == 0) {
            p.i = i
            return if (start >= 0 && buffer.charAt(start) == '[') buffer.substring(start, i)
            else "[" + buffer.substring(start + 1, i)
          }
          prevs -= 1
        case _ => i += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** TYPE2FUNC dispatch (common.cc:192-197) */
  def lexByType(tpe: Obj.Type, buffer: String, p: Pos): String = tpe match {
    case Obj.DICTIONARY => getDictionary(buffer, p)
    case Obj.ARRAY => getArray(buffer, p)
    case Obj.STRING => getString(buffer, p)
    case Obj.VALUE => getValue(buffer, p)
    case Obj.INDIRECT_OBJECT => getIndirectObject(buffer, p)
    case Obj.NAME_OBJECT => getNameObject(buffer, p)
    case t => err(s"unknown object type $t")
  }

  // ---- string decoding (common.cc:26-101, 417-420) ------------------------
  private def getOctalChar(str: String, p: Pos): Char = {
    var j = p.i
    while (j < str.length && isDigit(str.charAt(j))) j += 1
    var len = j - p.i
    if (len > 3) len = if (str.charAt(p.i) == 0) 4 else 3 // leading-NUL quirk kept verbatim (common.cc:37)
    val v = stoul(str, p.i, p.i + len, 8)
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
    if (str.indexOf('\\') < 0) return str.substring(1, math.max(1, str.length - 1))
    val out = new Array[Char](str.length)
    var n = 0
    val p = new Pos(1)
    while (p.i < str.length - 1) {
      val c = str.charAt(p.i)
      out(n) = if (c == '\\') getUnescapedChar(str, p) else c
      n += 1
      p.i += 1
    }
    new String(out, 0, n)
  }

  private def hexDecodeString(arg: String): String = {
    val hex = new Array[Char](math.max(arg.length - 2, 0))
    var h = 0
    var i = 1
    while (i < arg.length - 1) {
      val c = arg.charAt(i)
      if (c != '\n' && c != '\r' && c != ' ') { hex(h) = c; h += 1 }
      i += 1
    }
    val digits = new String(hex, 0, h)
    val out = new Array[Char]((h + 1) / 2)
    i = 0
    while (i < h) {
      // reference slices 2 chars; a trailing odd nibble parses as 1 hex digit
      out(i / 2) = stoul(digits, i, math.min(i + 2, h), 16).toChar
      i += 2
    }
    new String(out)
  }

  /** literal/hex PDF string payload -> raw bytes (common.cc:417-420) */
  def decodeString(str: String): String =
    if (str.charAt(0) == '<') hexDecodeString(str) else unescapeString(str)

  // ---- structured data (common.cc:462-495) --------------------------------
  def getDictionaryData(buffer: String, offset0: Int): Dict = {
    var offset = efind(buffer, "<<", offset0) + 2
    var keys = new Array[String](8)
    var vals = new Array[PVal](8)
    var n = 0
    val p = new Pos(0)
    while (true) {
      offset = skipComments(buffer, offset)
      if (buffer.charAt(offset) == '>' && buffer.charAt(offset + 1) == '>')
        return new SortedDict(keys, vals, n)
      if (buffer.charAt(offset) != '/') err("get_dictionary_data: Can`t find name key")
      val end = efirstOf(buffer, KeyEnd, offset + 1, "\r\t\n /<[(")
      val key = name(buffer, offset, end)
      p.i = end
      val tpe = getObjectType(buffer, p)
      val v = lexByType(tpe, buffer, p)
      offset = p.i
      val at = SortedDict.search(keys, n, key)
      if (at < 0) { // emplace: the first occurrence of a key wins
        val ins = -at - 1
        if (n == keys.length) {
          keys = java.util.Arrays.copyOf(keys, n * 2)
          vals = java.util.Arrays.copyOf(vals, n * 2)
        }
        System.arraycopy(keys, ins, keys, ins + 1, n - ins)
        System.arraycopy(vals, ins, vals, ins + 1, n - ins)
        keys(ins) = key
        vals(ins) = PVal(v, tpe)
        n += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def getArrayData(buffer: String, offset0: Int): Arr = {
    var offset = efind(buffer, '[', offset0) + 1
    val result = new VectorBuilder[PVal]
    val p = new Pos(0)
    while (true) {
      offset = skipComments(buffer, offset)
      if (buffer.charAt(offset) == ']') return result.result()
      p.i = offset
      val tpe = getObjectType(buffer, p)
      val v = lexByType(tpe, buffer, p)
      offset = p.i
      result += PVal(v, tpe)
    }
    throw new IllegalStateException("unreachable")
  }

  // ---- misc shared helpers (common.cc:626-819) ----------------------------
  def findNumber(buffer: String, offset0: Int): Int = {
    var offset = offset0
    while (offset < buffer.length && !isDigit(buffer.charAt(offset))) offset += 1
    offset
  }

  def efindNumber(buffer: String, offset: Int): Int = {
    val r = findNumber(buffer, offset)
    if (r >= buffer.length) err("efind_number: can`t find number")
    r
  }

  /** parse "id gen R id gen R ..." pairs out of a raw array body
    * (common.cc:626-640) */
  def getSet(array: String): Vector[(Long, Long)] = {
    val out = new VectorBuilder[(Long, Long)]
    var offset = findNumber(array, 0)
    while (offset < array.length) {
      var end = efirstOf(array, Blank, offset, "  \r\n\t")
      val id = stoul(array, offset, end, 10)
      offset = efindNumber(array, end)
      end = efirstOf(array, Blank, offset, "  \r\n\t")
      val gen = stoul(array, offset, end, 10)
      out += ((id, gen))
      offset = efind(array, 'R', end)
      offset = findNumber(array, offset)
    }
    out.result()
  }

  /** "id gen" prefix of an indirect-object reference (common.cc:706-715) */
  def getIdGen(data: String): (Long, Long) = {
    var end = efirstOf(data, Blank, 0, "\r\t\n ")
    val id = stoul(data, 0, end, 10)
    val offset = efindNumber(data, end)
    end = efirstOf(data, Blank, offset, "\r\t\n ")
    (id, stoul(data, offset, end, 10))
  }

  /** random access to `id obj ... endobj` via offsets table (common.cc:642-651) */
  def getObject(buffer: String, id: Long, id2offsets: Map[Long, Long]): PVal = {
    val base = id2offsets(id).toInt
    var offset = skipComments(buffer, base)
    offset = efind(buffer, "obj", base) + 3
    val p = new Pos(skipComments(buffer, offset))
    val tpe = getObjectType(buffer, p)
    PVal(lexByType(tpe, buffer, p), tpe)
  }

  def getDictVal(dict: Dict, key: String, default: Long): Long =
    dict.get(key) match {
      case Some(v) => strictStoul(v.raw)
      case None => default
    }

  /** big-endian packed bytes -> uint (common.cc:789-795) */
  def string2num(s: String): Long = {
    if (s.isEmpty) err("string2num: string is empty")
    var r = 0L
    var i = 0
    while (i < s.length) { r = (r << 8) | (s.charAt(i) & 0xff); i += 1 }
    r
  }

  /** uint -> minimal big-endian byte-string, 2-byte padded (common.cc:808-819) */
  def num2string(n0: Long): String = {
    if (n0 == 0) return "\u0000\u0000"
    var n = n0
    val sb = new StringBuilder
    while (n != 0) { sb.insert(0, (n & 0xff).toChar); n >>>= 8 }
    if (sb.length == 1) sb.insert(0, 0.toChar)
    sb.toString
  }

  /** big-endian integer read of `size` bytes (common.h:151-161 get_integer) */
  def getIntegerBE(stream: String, offset: Int, size: Int): Long = {
    if (offset + size > stream.length) err("get_integer: wrong offset")
    var v = 0L
    var i = 0
    while (i < size) { v = (v << 8) | (stream.charAt(offset + i) & 0xff); i += 1 }
    v
  }

  /** signed variants used by the TrueType parser */
  def getInt16BE(stream: String, offset: Int): Int = getIntegerBE(stream, offset, 2).toShort.toInt
  def getUInt16BE(stream: String, offset: Int): Int = getIntegerBE(stream, offset, 2).toInt
  def getUInt32BE(stream: String, offset: Int): Long = getIntegerBE(stream, offset, 4)
}
