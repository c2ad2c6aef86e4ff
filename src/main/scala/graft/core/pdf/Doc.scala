package graft.core.pdf

import Lex._
import scala.collection.immutable.VectorBuilder

/** PDF file-structure scan: startxref/trailer chain, classic + stream xref,
  * object offsets, /Encrypt dict. Reference: parser.cc:14-318,344-400.
  */
object Xref {
  private val CROSS_REFERENCE_LINE_SIZE = 20
  private val BYTE_OFFSET_LEN = 10
  private val GENERATION_NUMBER_LEN = 5

  def isPrefix(buffer: String, offset: Int, pre: String): Boolean =
    buffer.regionMatches(offset, pre, 0, pre.length)

  /** parser.cc:29-44 */
  def getCrossRefOffset(buffer: String): Int = {
    var off = buffer.lastIndexOf("startxref")
    if (off < 0) err("get_cross_ref_offset: can`t find startxref")
    off += "startxref".length
    off = skipComments(buffer, off)
    val end = firstNotOf(buffer, Digits, off)
    if (end < 0) err("can`t find end of trailer offset number")
    val r = stoul(buffer, off, end, 10)
    if (r >= buffer.length) err(s"$r is larger than buffer size ${buffer.length}")
    r.toInt
  }

  /** parser.cc:79-140: walk the /Prev chain, loop-guarded. */
  private[pdf] def getTrailerOffsets(doc: DocCache, crossRefOffset: Int): Vector[(Int, Int)] = {
    val buffer = doc.text
    val old = isPrefix(buffer, crossRefOffset, "xref")
    val out = new VectorBuilder[(Int, Int)]
    val seen = scala.collection.mutable.Set[Int](crossRefOffset)
    var cur = crossRefOffset
    var go = true
    while (go) {
      var end = buffer.indexOf("\r\nstartxref\r\n", cur)
      if (end < 0) end = buffer.indexOf("\nstartxref\n", cur)
      if (end < 0) end = buffer.indexOf("\rstartxref\r", cur)
      if (end < 0) err(s"Can`t find startxref in pos: $cur")
      out += ((cur, end))
      val dictOffset =
        if (old) efind(buffer, "trailer", cur) + "trailer".length
        else efind(buffer, "<<", cur)
      val data = doc.dictionaryAt(dictOffset)
      data.get("/Prev") match {
        case None => go = false
        case Some(v) =>
          if (v.tpe != Obj.VALUE) err("/Prev value is not PDF VALUE type")
          cur = strictStoul(v.raw).toInt
          if (seen.contains(cur)) go = false else seen += cur
      }
    }
    out.result()
  }

  /** classic xref record status (parser.cc:46-66) */
  private def appendObject(buf: String, offset: Int, objects: VectorBuilder[Int]): Unit = {
    if (offset + BYTE_OFFSET_LEN >= buf.length) err("object info record is too small")
    if (buf.charAt(offset + BYTE_OFFSET_LEN) != ' ') err("no space for object info")
    objects += stoul(buf, offset, offset + BYTE_OFFSET_LEN, 10).toInt
  }

  private def getObjectStatus(buffer: String, offset: Int): Char = {
    val start = offset + BYTE_OFFSET_LEN + GENERATION_NUMBER_LEN + 1
    if (start + 2 >= buffer.length) err("object info record is too small")
    if (buffer.charAt(start) != ' ') err("no space for object info record")
    val c2 = buffer.charAt(start + 2)
    if (c2 != '\r' && c2 != '\n' && c2 != ' ') err("no newline for object info record")
    val ret = buffer.charAt(start + 1)
    if (ret != 'n' && ret != 'f') err("info object record status entry must be 'n' or 'f'")
    ret
  }

  /** parser.cc:68-77 */
  private def getXrefNumber(buffer: String, p: Pos): Long = {
    p.i = efirstOf(buffer, Blank, p.i, "\r\t\n ")
    p.i = skipSpaces(buffer, p.i)
    val end = efirstOf(buffer, Blank, p.i, "\r\t\n ")
    val result = stoul(buffer, p.i, end, 10)
    p.i = skipSpaces(buffer, end)
    result
  }

  /** parser.cc:265-280 */
  private def getObjectOffsetsOld(buffer: String, offset0: Int, result: VectorBuilder[Int]): Unit = {
    val p = new Pos(efind(buffer, "xref", offset0) + "xref".length)
    while (true) {
      p.i = skipComments(buffer, p.i)
      if (isPrefix(buffer, p.i, "trailer")) return
      val n = getXrefNumber(buffer, p)
      var i = 0L
      while (i < n) {
        p.i = skipComments(buffer, p.i)
        if (getObjectStatus(buffer, p.i) == 'n') appendObject(buffer, p.i, result)
        p.i += CROSS_REFERENCE_LINE_SIZE
        i += 1
      }
    }
  }

  /** /W widths (parser.cc:149-170) */
  private def getW(dict: Dict): Array[Int] = {
    val w = dict.getOrElse("/W", err("can`t find /W"))
    if (w.tpe != Obj.ARRAY) err("/W value must have ARRAY type")
    val str = w.raw
    val result = new Array[Int](3)
    var i = 0
    var offset = findNumber(str, 0)
    while (offset < str.length) {
      val end = efindFirstOf(str, " \r\n]", offset)
      if (i >= 3) err("/W array must contain 3 elements")
      result(i) = stoul(str, offset, end, 10).toInt
      if (result(i) > 8) err(s"${result(i)} is greater than max(uint64_t)")
      i += 1
      offset = findNumber(str, end)
    }
    if (i != 3) err("/W array must contain 3 elements")
    result
  }

  /** parser.cc:184-210 */
  private def getCrossReferenceEntry(stream: String, p: Pos, w: Array[Int]): Array[Long] = {
    val result = new Array[Long](3)
    var i = 0
    while (i < 3) {
      if (w(i) == 0) {
        result(i) = if (i == 0) 1L else 0L // table 17 defaults
      } else {
        if (p.i + w(i) > stream.length) err("not enough data in stream for entry")
        result(i) = getIntegerBE(stream, p.i, w(i))
        p.i += w(i)
      }
      i += 1
    }
    result
  }

  /** parser.cc:212-235 */
  private def getCrossRefEntries(dict: Dict): Long =
    dict.get("/Index") match {
      case None =>
        val size = dict.getOrElse("/Size", err("no /Size"))
        if (size.tpe != Obj.VALUE) err("/Size must have VALUE type")
        strictStoul(size.raw)
      case Some(idx) =>
        if (idx.tpe != Obj.ARRAY) err("/Index must be ARRAY")
        val arr = getArrayData(idx.raw, 0)
        if (arr.isEmpty) err("/Index array is empty")
        var entries = 0L
        var i = 0
        while (i < arr.size - 1) {
          if (arr(i + 1).tpe != Obj.VALUE) err("wrong type for /Index")
          entries += strictStoul(arr(i + 1).raw)
          i += 2
        }
        entries
    }

  /** parser.cc:237-263: xref stream */
  private def getObjectOffsetsNew(doc: DocCache, offset0: Int, result: VectorBuilder[Int]): Unit = {
    val buffer = doc.text
    val offset = efind(buffer, "<<", offset0)
    val dict = doc.dictionary(doc.rawDictionary(offset))
    val lenVal = dict.getOrElse("/Length", err("can`t find /Length"))
    if (lenVal.tpe != Obj.VALUE) err("/Length value must have VALUE type")
    val length = strictStoul(lenVal.raw).toInt
    val content0 = DocUtil.getContent(buffer, length, offset)
    val content = Filters.decode(content0, dict)
    val w = getW(dict)
    val cp = new Pos(0)
    val n = getCrossRefEntries(dict)
    var i = 0L
    while (i < n) {
      val entry = getCrossReferenceEntry(content, cp, w)
      if (entry(0) == 1) result += entry(1).toInt
      i += 1
    }
  }

  /** parser.cc:142-147,282-318 */
  private[pdf] def getId2Offsets(doc: DocCache, trailerOffsets: Vector[(Int, Int)]): Map[Long, Long] = {
    val buffer = doc.text
    val offsets = new VectorBuilder[Int]
    trailerOffsets.foreach { case (start, _) =>
      val off = skipComments(buffer, start)
      if (isPrefix(buffer, off, "xref")) getObjectOffsetsOld(buffer, off, offsets)
      else getObjectOffsetsNew(doc, off, offsets)
    }
    val all = offsets.result()
    all.foreach { o => if (o >= buffer.length) err("offset is greater than pdf buffer") }
    var id2offsets = Map.empty[Long, Long]
    all.foreach { offset =>
      val start = efindNumber(buffer, skipComments(buffer, offset))
      val end = efirstOf(buffer, Blank, start, " \r\n\t")
      val id = stoul(buffer, start, end, 10)
      if (!id2offsets.contains(id)) id2offsets += id -> offset.toLong
    }
    id2offsets
  }

  /** /Encrypt + /ID from first trailer span (parser.cc:344-387) */
  def getEncryptData(buffer: String, start: Int, end: Int, id2offsets: Map[Long, Long]): Dict = {
    var off = buffer.indexOf("/Encrypt", start)
    if (off < 0 || off >= end) return Map.empty
    off += "/Encrypt".length
    val p = new Pos(off)
    val tpe = getObjectType(buffer, p)
    var result: Dict = tpe match {
      case Obj.DICTIONARY => getDictionaryData(buffer, p.i)
      case Obj.INDIRECT_OBJECT =>
        val endOff = efindFirstOf(buffer, "\r\t\n ", p.i)
        val pair = getObject(buffer, strictStoul(buffer.substring(p.i, endOff)), id2offsets)
        if (pair.tpe != Obj.DICTIONARY) err("Encrypt indirect object must be DICTIONARY")
        getDictionaryData(pair.raw, 0)
      case t => err(s"wrong /Encrypt value: $t")
    }
    // get_id (parser.cc:344-352)
    var ido = efind(buffer, "/ID", start)
    if (ido >= end) err("Can`t find /ID key")
    ido = efind(buffer, '[', ido)
    if (ido >= end) err("Can`t find /ID value")
    val ip = new Pos(ido)
    val idArr = getArray(buffer, ip)
    if (!result.contains("/ID")) result += "/ID" -> PVal(idArr, Obj.ARRAY)
    result
  }
}

/** Stream extraction + indirect-object plumbing shared across modules
  * (common.cc:102-120,642-691,717-726,763-787).
  */
object DocUtil {

  /** slice `len` bytes after `stream\r?\n` (common.cc:670-677) */
  def getContent(buffer: String, len: Int, offset0: Int): String = {
    var offset = efind(buffer, "stream", offset0) + "stream".length
    if (offset < buffer.length && buffer.charAt(offset) == '\r') offset += 1
    if (offset < buffer.length && buffer.charAt(offset) == '\n') offset += 1
    buffer.substring(offset, math.min(offset + len, buffer.length))
  }

  /** /Length direct or via indirect object (common.h:102-120) */
  def getLength(buffer: String, resolve: Long => PVal, props: Dict): Int = {
    val r = props.getOrElse("/Length", err("no /Length"))
    if (r.tpe == Obj.VALUE) strictStoul(r.raw).toInt
    else if (r.tpe == Obj.INDIRECT_OBJECT) {
      val id = stoul(r.raw, 0, efirstOf(r.raw, Blank, 0, " \r\n\t"), 10)
      val pair = resolve(id)
      if (pair.tpe != Obj.VALUE) err("length indirect obj must be VALUE")
      strictStoul(pair.raw).toInt
    } else err("wrong type for /Length")
  }

  /** resolve indirect ref -> object, with optional type check (common.cc:717-726) */
  def getIndirectObjectData(indirect: String, storage: ObjectStorage, tpe: Int = -1): PVal = {
    val id = stoul(indirect, 0, efirstOf(indirect, Blank, 0, " \r\n\t"), 10)
    val r = storage.getObject(id)
    if (tpe != -1 && r.tpe != tpe) err(s"wrong type=$tpe val=${r.raw}")
    r
  }

  def getDictOrIndirectDict(data: PVal, storage: ObjectStorage): Dict = data.tpe match {
    case Obj.DICTIONARY => storage.dictionary(data.raw)
    case Obj.INDIRECT_OBJECT =>
      storage.dictionary(getIndirectObjectData(data.raw, storage, Obj.DICTIONARY).raw)
    case t => err(s"get_dict_or_indirect_dict: wrong object type $t")
  }

  def getArrayOrIndirectArray(data: PVal, storage: ObjectStorage): Arr = data.tpe match {
    case Obj.ARRAY => getArrayData(data.raw, 0)
    case Obj.INDIRECT_OBJECT =>
      getArrayData(getIndirectObjectData(data.raw, storage, Obj.ARRAY).raw, 0)
    case t => err(s"get_array_or_indirect_array: wrong object type $t")
  }

  /** fetch + decrypt + decode one stream object (common.cc:653-668) */
  def getStream(doc: String, idGen: (Long, Long), storage: ObjectStorage, decryptData: Dict): String = {
    val streamPair = storage.getObject(idGen._1)
    if (streamPair.tpe != Obj.DICTIONARY) err("stream must be a dictionary")
    val props = storage.parsed.dictionary(streamPair.raw)
    val offset0 = efind(doc, "<<", storage.id2offsets(idGen._1).toInt)
    storage.parsed.rawDictionary(offset0) // only its errors count: the content offset is offset0
    var content = getContent(doc, getLength(doc, storage.getObject, props), offset0)
    content = storage.decrypt(idGen._1, idGen._2, content, decryptData)
    Filters.decode(content, props)
  }
}

/** Per-document parse memo. Slicing a dictionary and parsing one are pure
  * functions of the document text, so each distinct call runs once per
  * document, though the xref walk, the object store and the page tree ask
  * for the same trailer and object dictionaries again. */
private[pdf] final class DocCache(val text: String) {
  private val raws = new java.util.HashMap[Int, String]()
  private val byText = new java.util.HashMap[String, Dict]()
  private val byOffset = new java.util.HashMap[Int, Dict]()

  /** `getDictionary` of the dictionary that starts at `from` */
  def rawDictionary(from: Int): String = {
    val known = raws.get(from)
    if (known != null) return known
    val raw = text.substring(from, dictionaryEnd(text, from))
    raws.put(from, raw)
    raw
  }

  /** `getDictionaryData(raw, 0)` */
  def dictionary(raw: String): Dict = {
    val known = byText.get(raw)
    if (known != null) return known
    val d = getDictionaryData(raw, 0)
    byText.put(raw, d)
    d
  }

  /** `getDictionaryData(text, offset)`, which parses from the first "<<" */
  def dictionaryAt(offset: Int): Dict = {
    val at = efind(text, "<<", offset)
    val known = byOffset.get(at)
    if (known != null) return known
    val d = getDictionaryData(text, at)
    byOffset.put(at, d)
    d
  }
}

/** Object store: direct objects by offset + eager /ObjStm expansion
  * (object_storage.cc:17-89).
  */
final class ObjectStorage private[pdf] (
    private[pdf] val parsed: DocCache, val id2offsets: Map[Long, Long], decryptData: Dict) {

  def this(doc: String, id2offsets: Map[Long, Long], decryptData: Dict) =
    this(new DocCache(doc), id2offsets, decryptData)

  private val doc = parsed.text
  private val id2objStm = scala.collection.mutable.Map.empty[Long, PVal]
  private val direct = new java.util.HashMap[Long, PVal]() // lexed objects, by id
  private val decryptor = new Crypto.Decryptor(decryptData)

  id2offsets.keys.toVector.sorted.foreach(insertObjStream)

  def getObject(id: Long): PVal =
    if (id2offsets.contains(id)) lexDirect(id)
    else id2objStm.getOrElse(id, err(s"no object $id"))

  /** `Crypto.decrypt`, keeping the file key for this document's dictionary */
  private[pdf] def decrypt(n: Long, g: Long, in: String, opts: Dict): String =
    if (opts eq decryptData) decryptor.decrypt(n, g, in) else Crypto.decrypt(n, g, in, opts)

  /** `getDictionaryData(raw, 0)`, once per document */
  private[pdf] def dictionary(raw: String): Dict = parsed.dictionary(raw)

  private def getGenId(offset0: Int): Long = {
    var offset = efirstOf(doc, Blank, offset0, " \r\t\n")
    offset = efindNumber(doc, offset)
    val end = efirstOf(doc, Blank, offset, " \r\t\n")
    stoul(doc, offset, end, 10)
  }

  private def insertObjStream(id: Long): Unit = {
    var offset = skipComments(doc, id2offsets(id).toInt)
    val genId = getGenId(offset)
    offset = skipComments(doc, offset)
    offset = efind(doc, "obj", offset) + "obj".length
    val p = new Pos(offset)
    if (getObjectType(doc, p) != Obj.DICTIONARY) return
    val dict = dictionary(parsed.rawDictionary(efind(doc, "<<", offset)))
    if (!dict.get("/Type").exists(_.raw == "/ObjStm")) return
    val len = DocUtil.getLength(doc, lexDirect, dict)
    var content = DocUtil.getContent(doc, len, offset)
    content = decryptor.decrypt(id, genId, content)
    content = Filters.decode(content, dict)
    // (id, offset) pairs after header (object_storage.cc:71-89)
    val n = strictStoul(dict("/N").raw)
    var pairs = Vector.empty[(Long, Long)]
    var o = 0
    var i = 0L
    while (i < n) {
      o = efindNumber(content, o)
      var end = efindFirstNotOf(content, "0123456789", o)
      val oid = stoul(content, o, end, 10)
      o = efindNumber(content, end)
      end = efindFirstNotOf(content, "0123456789", o)
      val objOff = stoul(content, o, end, 10)
      pairs :+= ((oid, objOff))
      o = end
      i += 1
    }
    val first = strictStoul(dict("/First").raw)
    pairs.foreach { case (oid, objOff) =>
      val op = new Pos((first + objOff).toInt)
      val tpe = getObjectType(content, op)
      if (!id2objStm.contains(oid)) id2objStm(oid) = PVal(lexByType(tpe, content, op), tpe)
    }
  }

  /** [[Lex.getObject]], with a dictionary object's text from the document's cache */
  private def lexDirect(id: Long): PVal = {
    val known = direct.get(id)
    if (known != null) return known
    val base = id2offsets(id).toInt
    skipComments(doc, base)
    val p = new Pos(skipComments(doc, efind(doc, "obj", base) + 3))
    val tpe = getObjectType(doc, p)
    val v = PVal(if (tpe == Obj.DICTIONARY) parsed.rawDictionary(p.i) else lexByType(tpe, doc, p), tpe)
    direct.put(id, v)
    v
  }
}
