package graft.core.pdf

import Lex._

/** Stream filter decoders (reference group B, SURVEY.md §2B).
  *
  * All take/return byte-strings. Filter chain semantics: common.cc:679-691
  * (left-to-right, per-filter /DecodeParms); supported set common.cc:185-189
  * (FlateDecode, LZWDecode, ASCII85Decode, ASCIIHexDecode; unknown -> throw).
  */
object Filters {

  /** zlib inflate (flate_decode.cc:43-55). Tolerates trailing garbage the
    * same way: inflate stops at stream end. Each inflate call gets exactly
    * 4096 bytes of room, as the reference's loop does: when the input runs
    * out mid-stream the chunk size decides where the output stops. */
  def flateDecode(data: String, opts: Dict): String = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(Bytes.arr(data))
    var out = new Array[Byte](math.max(64, data.length * 4))
    var len = 0
    try {
      while (!inf.finished() && !inf.needsInput()) {
        if (out.length - len < 4096) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, len + 4096))
        val n =
          try inf.inflate(out, len, 4096)
          catch { case _: java.util.zip.DataFormatException => err("flate_decode: inflate error") }
        if (n == 0 && !inf.finished()) {
          if (inf.needsDictionary()) err("flate_decode: inflate error")
          // needsInput with no more input: truncated stream -> stop like ref (Z_BUF_ERROR throws there)
          if (inf.needsInput()) err("flate_decode: inflate error")
        }
        len += n
      }
    } finally inf.end()
    val result = new String(out, 0, len, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (opts.isEmpty) result else predictorDecode(result, opts)
  }

  /** PNG/TIFF predictor post-pass (common.cc:497-585). Byte-faithful port of
    * the row-state machine, including signed-char arithmetic wraparound. */
  def predictorDecode(data: String, opts: Dict): String = {
    val predictor = getDictVal(opts, "/Predictor", 1L).toInt
    val colors = getDictVal(opts, "/Colors", 1L).toInt
    val bpcs = getDictVal(opts, "/BitsPerComponent", 8L).toInt
    val columns = getDictVal(opts, "/Columns", 1L).toInt
    if (predictor == 1) return data
    var nextByteIsPredictor = predictor >= 10
    var curPredictor = if (predictor >= 10) -1 else predictor
    var curRowIndex = 0
    val bpp = (bpcs * colors) >> 3
    val rows = (columns * colors * bpcs) >> 3
    val prev = new Array[Byte](rows)
    val result = new Array[Char](data.length) // a row is emitted after its bytes are read
    var n = 0
    var pi = 0
    var len = data.length
    while (len > 0) {
      len -= 1
      val b = data.charAt(pi).toByte // signed, like const char*
      if (nextByteIsPredictor) {
        curPredictor = b + 10
        nextByteIsPredictor = false
      } else {
        curPredictor match {
          case 2 =>
            if (bpcs == 8) {
              val prevLocal = if (curRowIndex - bpp < 0) 0 else prev(curRowIndex - bpp)
              prev(curRowIndex) = (b + prevLocal).toByte
            } else err("predictor_decode: tiff predictor other than 8 BPC is not implemented")
          case 10 => prev(curRowIndex) = b
          case 11 =>
            val prevLocal = if (curRowIndex - bpp < 0) 0 else prev(curRowIndex - bpp)
            prev(curRowIndex) = (b + prevLocal).toByte
          case 12 => prev(curRowIndex) = (prev(curRowIndex) + b).toByte
          case 13 =>
            val prevLocal: Int = if (curRowIndex - bpp < 0) 0 else prev(curRowIndex - bpp)
            prev(curRowIndex) = (((prevLocal + prev(curRowIndex)) >> 1) + b).toByte
          case 14 | 15 => err(s"predictor_decode: predictor $curPredictor is invalid")
          case _ => // silently ignored, as in reference (common.cc:566-570)
        }
        curRowIndex += 1
      }
      pi += 1
      if (curRowIndex >= rows) {
        curRowIndex = 0
        nextByteIsPredictor = curPredictor >= 10
        var k = 0
        while (k < rows) { result(n) = (prev(k) & 0xff).toChar; n += 1; k += 1 }
      }
    }
    new String(result, 0, n)
  }

  /** PDF LZW (lzw_decode.cc:39-130): 9->12-bit codes, table grows at sizes
    * 511/1023/2047, clear=256, EOD=257; optional predictor pass.
    *
    * The reference keeps each table entry as its own byte string. Here an
    * entry is its predecessor's code plus one byte (`prefix`, `suffix`,
    * `length`, `first` byte), written out back to front; CLEAR only resets
    * the size, since entries 0..256 never change. Entry 256 is the
    * reference's empty dummy, so new entries start at 257. */
  def lzwDecode(buf: String, opts: Dict): String = {
    val CLEAR = 0x0100
    val EOD = 0x0101
    var cap = 512 // doubles as the table grows; 4096 codes are addressable
    var prefix = new Array[Int](cap)
    var suffix = new Array[Byte](cap)
    var length = new Array[Int](cap)
    var first = new Array[Byte](cap)
    var k = 0
    while (k <= 255) { prefix(k) = -1; suffix(k) = k.toByte; length(k) = 1; first(k) = k.toByte; k += 1 }
    var size = 257
    var out = new Array[Byte](math.max(64, buf.length * 3))
    var outLen = 0
    def write(code: Int): Unit = {
      val l = length(code)
      if (out.length - outLen < l + 1) out = java.util.Arrays.copyOf(out, math.max(out.length * 2, outLen + l + 1))
      var j = outLen + l - 1
      var e = code
      while (j >= outLen) { out(j) = suffix(e); e = prefix(e); j -= 1 }
      outLen += l
    }
    def add(pre: Int, last: Byte): Unit = {
      if (size == cap) {
        cap *= 2
        prefix = java.util.Arrays.copyOf(prefix, cap)
        suffix = java.util.Arrays.copyOf(suffix, cap)
        length = java.util.Arrays.copyOf(length, cap)
        first = java.util.Arrays.copyOf(first, cap)
      }
      prefix(size) = pre
      suffix(size) = last
      length(size) = length(pre) + 1
      first(size) = if (length(pre) > 0) first(pre) else last
      size += 1
    }
    var codeLen = 9
    var bufferBits = 0L
    var bufferSize = 0
    var old = 0
    var character: Byte = if (buf.nonEmpty) buf.charAt(0).toByte else 0
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
        val code = ((bufferBits >> (bufferSize - codeLen)) & ((1 << codeLen) - 1)).toInt
        bufferSize -= codeLen
        if (code == CLEAR) {
          codeLen = 9
          size = 257
        } else if (code == EOD) {
          len = 0
          done = true
          continue = false
        } else {
          if (code >= size) {
            // table(old) :+ character, the entry not yet in the table
            if (old >= size) err("lzw_decode: value out of range")
            write(old) // leaves room for one more byte
            out(outLen) = character
            outLen += 1
            if (length(old) > 0) character = first(old)
          } else {
            write(code)
            character = first(code)
          }
          // "fix the first loop" quirk kept: the new entry extends table(old)
          // while old is in range, else the data just written
          add(if (old < size) old else code, character)
          old = code
          size match {
            case 511 | 1023 | 2047 => codeLen += 1
            case _ =>
          }
        }
      }
    }
    val s = new String(out, 0, outLen, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (opts.isEmpty) s else predictorDecode(s, opts)
  }

  /** base85 (ascii85_decode.cc:41-81) */
  def ascii85Decode(buf: String, opts: Dict): String = {
    val powers = Array(85L * 85 * 85 * 85, 85L * 85 * 85, 85L * 85, 85L, 1L)
    var count = 0
    var tuple = 0L
    var foundEnd = false
    var result = new Array[Char](buf.length * 4 / 5 + 4)
    var n = 0
    def widePut(t: Long): Unit = {
      if (result.length - n < 4) result = java.util.Arrays.copyOf(result, result.length * 2 + 4)
      result(n) = ((t >> 24) & 0xff).toChar
      result(n + 1) = ((t >> 16) & 0xff).toChar
      result(n + 2) = ((t >> 8) & 0xff).toChar
      result(n + 3) = (t & 0xff).toChar
      n += 4
    }
    var i = 0
    var len = buf.length
    while (len > 0 && !foundEnd) {
      val c = buf.charAt(i)
      c match {
        case 'z' =>
          if (count != 0) err("ascii85_decode: count is not zero")
          widePut(tuple)
        case '~' =>
          i += 1
          len -= 1
          if (len > 0 && buf.charAt(i) != '>') err("ascii85_decode: buffer is not >")
          foundEnd = true
        case '\n' | '\r' | '\t' | ' ' | '\u0000' | '\f' | '\b' | '\u007f' =>
        case _ =>
          if (c < '!' || c > 'u') err("ascii85_decode: *buffer is out of range")
          tuple += (c - '!') * powers(count)
          count += 1
          if (count == 5) {
            widePut(tuple)
            count = 0
            tuple = 0
          }
      }
      len -= 1
      i += 1
    }
    // NOTE: reference emits nothing for a partial trailing group (no ~> flush)
    new String(result, 0, n)
  }

  /** hex pairs (ascii_hex_decode.cc:45-85) */
  def asciiHexDecode(buf: String, opts: Dict): String = {
    var low = true
    var decoded = 0
    val result = new Array[Char](buf.length / 2 + 1)
    var n = 0
    var i = 0
    var len = buf.length
    while (len > 0) {
      len -= 1
      val c = buf.charAt(i)
      if (c == '>') {
        if (!low) { result(n) = ((decoded << 4) & 0xff).toChar; n += 1 }
        return new String(result, 0, n)
      }
      if (c == 0 || c == '\t' || c == '\n' || c == '\f' || c == '\r' || c == ' ') {
        i += 1
      } else {
        val v = hexVal(c)
        if (low) { decoded = v; low = false }
        else {
          result(n) = (((decoded << 4) | v) & 0xff).toChar
          n += 1
          low = true
          decoded = 0
        }
        i += 1
      }
    }
    if (!low) { result(n) = ((decoded << 4) & 0xff).toChar; n += 1 }
    new String(result, 0, n)
  }

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else err(s"ascii_hex_decode: bad hex char $c") // map::at -> throw

  /** /Filter dispatch (common.cc:185-189) */
  def apply(name: String, data: String, opts: Dict): String = name match {
    case "/FlateDecode" => flateDecode(data, opts)
    case "/LZWDecode" => lzwDecode(data, opts)
    case "/ASCII85Decode" => ascii85Decode(data, opts)
    case "/ASCIIHexDecode" => asciiHexDecode(data, opts)
    case other => err(s"unknown filter $other")
  }

  private def getFilters(props: Dict): Vector[String] = {
    val filters = props("/Filter")
    if (filters.tpe == Obj.NAME_OBJECT) Vector(filters.raw)
    else if (filters.tpe != Obj.ARRAY) err(s"get_filters: wrong filter type: ${filters.tpe}")
    else getArrayData(filters.raw, 0).map(_.raw)
  }

  private def getDecodeParams(src: Dict, nFilters: Int): Vector[Dict] =
    src.get("/DecodeParms") match {
      case None => Vector.fill(nFilters)(Map.empty[String, PVal])
      case Some(PVal(paramsData, Obj.DICTIONARY)) => Vector(getDictionaryData(paramsData, 0))
      case Some(PVal(paramsData, Obj.ARRAY)) =>
        // common.cc:142-158: scan "<<" occurrences inside the raw array text
        val out = Vector.newBuilder[Dict]
        var offset = 0
        var n = 0
        var go = true
        while (go) {
          offset = paramsData.indexOf("<<", offset)
          if (offset < 0) {
            if (n == 0) err("/DecodeParms must be dictionary or an array of dictionaries")
            go = false
          } else {
            val p = new Pos(offset)
            out += getDictionaryData(getDictionary(paramsData, p), 0)
            offset = p.i
            n += 1
          }
        }
        out.result()
      case Some(_) => err("wrong type for /DecodeParms")
    }

  /** apply /Filter chain (common.cc:679-691) */
  def decode(content: String, props: Dict): String = {
    if (!props.contains("/Filter")) return content
    val filters = getFilters(props)
    val params = getDecodeParams(props, filters.size)
    if (filters.size != params.size) err("different sizes for filters and decode_params")
    var result = content
    var i = 0
    while (i < filters.size) {
      result = apply(filters(i), result, params(i))
      i += 1
    }
    result
  }
}
