package graft.core.pdf

import Lex._
import scala.collection.mutable.{ArrayBuffer, Map => MMap, Set => MSet}

/** Page-tree walk + content-stream interpreter + per-page rendering
  * (reference pages_extractor.cc).
  *
  * Operator dispatch replicates the reference's perfect-hash table over
  * 1-2 char tokens (pages_extractor.cc:56-69, gen_extract_handlers.pl)
  * EXACTLY, including its collision acceptance: hash = signed(token[0])
  * for 1-char tokens, signed(token[0])*'q' + signed(token[1]) for 2-char,
  * guarded to ['"' .. 'c'*'q'+'m']. Pathological tokens whose hash lands on
  * a real slot (only possible with high-bit bytes — printable 2-char pairs
  * are collision-free since |c1-c1'| < 113) EXECUTE that handler, e.g.
  * "U\xB9" runs T* and "C\xD8" runs the BI..EI skip. Differential-fuzzed
  * vs the reference binary (FuzzR2 garbage-token family).
  */
object PagesExtractor {
  private val ops = Seq("\"", "'", "BT", "Do", "ET", "Q", "T*", "TD", "TJ",
    "TL", "Tc", "Td", "Tf", "Tj", "Tm", "Ts", "Tz", "Tw", "cm", "q", "BI")

  private def slotOf(s: String): Int =
    if (s.length == 1) s.charAt(0).toByte.toInt
    else s.charAt(0).toByte * 'q'.toInt + s.charAt(1).toByte.toInt

  private val slot2op: Array[String] = {
    val table = new Array[String]('c'.toInt * 'q'.toInt + 'm'.toInt + 1)
    ops.foreach(op => table(slotOf(op)) = op)
    table
  }

  /** reference get_extract_handler: token -> canonical op (or null). Chars
    * sign-extend like C++ `char`, so high-bit bytes go negative. */
  def canonicalOp(token: String): String = {
    val hash =
      if (token.length == 1) token.charAt(0).toByte.toInt
      else if (token.length == 2) token.charAt(0).toByte * 'q'.toInt + token.charAt(1).toByte.toInt
      else return null
    if (hash < '"'.toInt || hash >= slot2op.length) null
    else slot2op(hash)
  }
}

final class PagesExtractor(
    catalogPagesId: Long,
    storage: ObjectStorage,
    decryptData: Dict,
    doc: String) {

  private val fonts = MMap.empty[String, Fonts]
  private val pages = ArrayBuffer.empty[Long]
  private val dicts = MMap.empty[String, Dict]
  private val mediaBoxes = MMap.empty[String, Array[Float]]
  private val rotates = MMap.empty[String, Long]
  private val converterEngineCache = MMap.empty[String, MMap[String, ConverterEngine]]
  private val xObjectStreams = MMap.empty[String, String]
  private val xObjectMatrices = MMap.empty[String, Matrix.M]
  private val cmapCache = MMap.empty[Long, CMapT]
  private val xObjectsCache = MMap.empty[String, Dict]

  locally {
    val catalogPair = storage.getObject(catalogPagesId)
    if (catalogPair.tpe != Obj.DICTIONARY) err("catalog must be DICTIONARY")
    val data = storage.dictionary(catalogPair.raw)
    if (!data.get("/Type").exists(_.raw == "/Pages"))
      err("In root catalog type must be '/Type /Pages'")
    val checked = MSet.empty[Long]
    collectPages(checked, data, getFonts(data, Fonts.empty(storage)), getBox(data, None), getRotate(data, 0))
  }

  /** recursive /Kids descent with cycle guard (pages_extractor.cc:568-609) */
  private def collectPages(
      checked: MSet[Long],
      parentDict: Dict,
      parentFonts: Fonts,
      parentBox: Option[Array[Float]],
      parentRotate: Long): Unit = {
    if (!parentDict.get("/Type").exists(_.raw == "/Pages")) return
    val kids = parentDict("/Kids")
    if (kids.tpe != Obj.ARRAY) err("/Kids is not array")
    getSet(kids.raw).foreach { case (id, _) =>
      if (!checked.contains(id)) {
        checked += id
        val pageDict = storage.getObject(id)
        if (pageDict.tpe != Obj.DICTIONARY) err("page must be DICTIONARY")
        val dictData = storage.dictionary(pageDict.raw)
        if (dictData("/Type").raw == "/Page") {
          pages += id
          val idStr = id.toString
          fonts(idStr) = getFonts(dictData, parentFonts)
          mediaBoxes(idStr) = getBox(dictData, parentBox).getOrElse(err("no MediaBox"))
          rotates(idStr) = getRotate(dictData, parentRotate)
          converterEngineCache(idStr) = MMap.empty
          xObjectsCache(idStr) = Map.empty
          dicts(idStr) = dictData
        } else {
          collectPages(checked, dictData, getFonts(dictData, parentFonts),
            getBox(dictData, parentBox), getRotate(dictData, parentRotate))
        }
      }
    }
  }

  private def getRotate(dict: Dict, parentRotate: Long): Long =
    dict.get("/Rotate") match {
      case Some(v) =>
        val r = strictStoul(v.raw)
        if (r % 90 != 0) err(s"/Rotate must be multiple of 90.Val:$r")
        r
      case None => parentRotate
    }

  private def getFonts(dictionary: Dict, parentFonts: Fonts): Fonts =
    dictionary.get("/Resources") match {
      case None => parentFonts.freshCopy
      case Some(res) =>
        val resources = DocUtil.getDictOrIndirectDict(res, storage)
        resources.get("/Font") match {
          case None => Fonts.empty(storage)
          case Some(f) => Fonts(storage, DocUtil.getDictOrIndirectDict(f, storage))
        }
    }

  private def parseRectangle(rectangle: PVal): Array[Float] = {
    if (rectangle.tpe != Obj.ARRAY && rectangle.tpe != Obj.INDIRECT_OBJECT)
      err(s"parse_rectangle: wrong type=${rectangle.tpe} val:${rectangle.raw}")
    val array =
      if (rectangle.tpe == Obj.INDIRECT_OBJECT) storage.getObject(getIdGen(rectangle.raw)._1).raw
      else rectangle.raw
    val arrayData = getArrayData(array, 0)
    if (arrayData.size != 4) err(s"wrong size of array. Size:${arrayData.size}")
    arrayData.map(v => stof(v.raw)).toArray
  }

  private def getBox(dict: Dict, parentBox: Option[Array[Float]]): Option[Array[Float]] =
    dict.get("/MediaBox") match {
      case Some(v) => Some(parseRectangle(v))
      case None => parentBox
    }

  // ---- /Contents assembly (pages_extractor.cc:457-501) --------------------
  private def outputContent(
      visited: MSet[Long],
      idGen: (Long, Long)): String = {
    val contentPair = storage.getObject(idGen._1)
    if (contentPair.tpe == Obj.ARRAY) {
      val sb = new StringBuilder
      getSet(contentPair.raw).foreach { p =>
        if (!visited.contains(p._1)) {
          visited += p._1
          sb.append(outputContent(visited, p))
        }
      }
      sb.toString
    } else DocUtil.getStream(doc, idGen, storage, decryptData)
  }

  private def getContentsIdGen(pagePair: PVal): Vector[(Long, Long)] = {
    if (pagePair.tpe != Obj.DICTIONARY) err("page must be DICTIONARY")
    val data = storage.dictionary(pagePair.raw)
    data.get("/Contents") match {
      case None => Vector.empty
      case Some(v) if v.tpe == Obj.ARRAY => getSet(v.raw)
      case Some(v) if v.tpe == Obj.INDIRECT_OBJECT => Vector(getIdGen(v.raw))
      case Some(_) => err("/Contents type must be ARRAY or INDIRECT_OBJECT")
    }
  }

  // ---- encoding resolution (pages_extractor.cc:716-786) -------------------
  private def getEncoding(fontDict: Dict): Option[PVal] =
    fontDict.get("/Encoding") match {
      case None => None
      case Some(e) =>
        val encoding =
          if (e.tpe == Obj.INDIRECT_OBJECT) DocUtil.getIndirectObjectData(e.raw, storage) else e
        if (encoding.tpe != Obj.DICTIONARY && encoding.tpe != Obj.NAME_OBJECT)
          err(s"wrong /Encoding type: ${encoding.tpe} val=${encoding.raw}")
        Some(encoding)
    }

  private def getCharsetConverter(encoding: Option[PVal]): CharsetConverter =
    encoding match {
      case None => CharsetConverter("")
      case Some(e) if e.tpe == Obj.NAME_OBJECT => CharsetConverter(e.raw)
      case Some(e) =>
        val dictionary = storage.dictionary(e.raw)
        // reference uses the NONE-mode converter here (pages_extractor.cc:540);
        // it is observably identical to the default converter (get_string is
        // never reached when a DiffConverter exists; get_char falls back to
        // the Standard table in both).
        if (dictionary.contains("/Differences")) CharsetConverter("")
        else dictionary.get("/BaseEncoding") match {
          case None => CharsetConverter("")
          case Some(be) => CharsetConverter(be.raw)
        }
    }

  private def getDiffConverter(encoding: Option[PVal]): DiffConverter =
    encoding match {
      case None => DiffConverter.empty
      case Some(e) if e.tpe == Obj.NAME_OBJECT => DiffConverter.empty
      case Some(e) =>
        val dictionary = storage.dictionary(e.raw)
        dictionary.get("/Differences") match {
          case None => DiffConverter.empty
          case Some(diff) => DiffConverter.fromDifferences(dictionary, diff, storage)
        }
    }

  private def getToUnicodeConverter(fontDict: Dict): ToUnicodeConverter =
    fontDict.get("/ToUnicode") match {
      case None =>
        fontDict.get("/FontDescriptor") match {
          case None => ToUnicodeConverter.empty
          case Some(fd) =>
            val descDict = DocUtil.getDictOrIndirectDict(fd, storage)
            descDict.get("/FontFile") match {
              case Some(ff) if !fontDict.contains("/Encoding") =>
                val idGen = getIdGen(ff.raw)
                val cmap = cmapCache.getOrElseUpdate(idGen._1,
                  FontFileType1.parse(DocUtil.getStream(doc, idGen, storage, decryptData)))
                ToUnicodeConverter(cmap)
              case _ =>
                descDict.get("/FontFile2") match {
                  case None => ToUnicodeConverter.empty
                  case Some(ff2) =>
                    val idGen = getIdGen(ff2.raw)
                    val cmap = cmapCache.getOrElseUpdate(idGen._1,
                      FontFileTrueType.parse(DocUtil.getStream(doc, idGen, storage, decryptData)))
                    ToUnicodeConverter(cmap)
                }
            }
        }
      case Some(tu) if tu.tpe == Obj.INDIRECT_OBJECT =>
        val idGen = getIdGen(tu.raw)
        val cmap = cmapCache.getOrElseUpdate(idGen._1,
          ToUnicodeCMap.parse(DocUtil.getStream(doc, idGen, storage, decryptData)))
        ToUnicodeConverter(cmap)
      case Some(tu) if tu.tpe == Obj.NAME_OBJECT => ToUnicodeConverter.empty
      case Some(tu) => err(s"/ToUnicode wrong type: ${tu.tpe} val:${tu.raw}")
    }

  private def getFontEncoding(font: String, resourceId: String): ConverterEngine = {
    val cache = converterEngineCache(resourceId)
    cache.getOrElseUpdate(font, {
      val fontDict = fonts(resourceId).getCurrentFontDictionary
      val encoding = getEncoding(fontDict)
      new ConverterEngine(getCharsetConverter(encoding), getDiffConverter(encoding),
        getToUnicodeConverter(fontDict))
    })
  }

  // ---- XObjects (pages_extractor.cc:611-661) -------------------------------
  private def getXObjectData(parentId: String, xObjectName: String, resourceName: String): Boolean = {
    val parentDict = dicts(parentId)
    var xObjects = xObjectsCache(parentId)
    if (xObjects.isEmpty) {
      parentDict.get("/Resources") match {
        case None => return false
        case Some(res) =>
          val resources = DocUtil.getDictOrIndirectDict(res, storage)
          resources.get("/XObject") match {
            case None => return false
            case Some(xo) =>
              xObjects = DocUtil.getDictOrIndirectDict(xo, storage)
              xObjectsCache(parentId) = xObjects
          }
      }
    }
    xObjects.get(xObjectName) match {
      case None => false
      case Some(xObject) =>
        var dict = DocUtil.getDictOrIndirectDict(xObject, storage)
        if (dict("/Subtype").raw != "/Form") return false
        if (!dict.contains("/BBox")) return false
        if (!fonts.contains(resourceName)) fonts(resourceName) = getFonts(dict, fonts(parentId))
        if (!converterEngineCache.contains(resourceName)) converterEngineCache(resourceName) = MMap.empty
        if (!xObjectStreams.contains(resourceName))
          xObjectStreams(resourceName) = DocUtil.getStream(doc, getIdGen(xObject.raw), storage, decryptData)
        // NOTE: lookup key is "Matrix", not "/Matrix" (pages_extractor.cc:635)
        // -- form matrices are never found, so this is always IDENTITY;
        // replicated for byte-identity with the reference.
        dict.get("Matrix") match {
          case None =>
            if (!xObjectMatrices.contains(resourceName)) xObjectMatrices(resourceName) = Matrix.IDENTITY
          case Some(m) =>
            val numbers = getArrayData(m.raw, 0)
            if (numbers.size != 6) err(s"matrix must have 6 elements. Data = ${m.raw}")
            if (!xObjectMatrices.contains(resourceName))
              xObjectMatrices(resourceName) = numbers.map(v => stof(v.raw)).toArray
        }
        if (dict.contains("/Resources")) {
          if (!xObjectsCache.contains(resourceName)) xObjectsCache(resourceName) = Map.empty
        } else {
          parentDict.get("/Resources").foreach(r => dict = dict.updated("/Resources", r))
          if (!xObjectsCache.contains(resourceName)) xObjectsCache(resourceName) = xObjectsCache(parentId)
        }
        if (!dicts.contains(resourceName)) dicts(resourceName) = dict
        true
    }
  }

  // ---- interpreter (pages_extractor.cc:788-967) ----------------------------
  private final class Arg(
      val result: ArrayBuffer[ArrayBuffer[TextChunk]],
      var encoding: ConverterEngine,
      val st: ArrayBuffer[String],
      val coordinates: Coordinates,
      val resourceId: String,
      var in: Boolean,
      val content: String)

  private def pop(st: ArrayBuffer[String]): String = {
    if (st.isEmpty) err("pop: stack is empty")
    st.remove(st.length - 1)
  }

  /** push strings/dicts/arrays as operands inside BT..ET (pages_extractor.cc:503-520);
    * operands keep only their text: no handler reads an operand's type */
  private def put2stack(st: ArrayBuffer[String], buffer: String, p: Pos): Boolean =
    buffer.charAt(p.i) match {
      case '(' => st += getString(buffer, p); true
      case '<' =>
        if (buffer.charAt(p.i + 1) == '<') st += getDictionary(buffer, p)
        else st += getString(buffer, p)
        true
      case '[' => st += getArray(buffer, p); true
      case _ => false
    }

  private def extractText(
      pageContent: String,
      resourceId: String,
      ctm: Option[Matrix.M]): ArrayBuffer[ArrayBuffer[TextChunk]] = {
    val coordinates = new Coordinates(
      ctm.getOrElse(PageGeom.initCTM(rotates(resourceId), mediaBoxes(resourceId))))
    val st = new ArrayBuffer[String](64)
    val result = ArrayBuffer(new ArrayBuffer[TextChunk](256))
    val arg = new Arg(result, null, st, coordinates, resourceId, in = false, pageContent)
    val p = new Pos(skipComments(pageContent, 0, validate = false))
    while (p.i >= 0 && p.i < pageContent.length) {
      if (!(arg.in && put2stack(st, pageContent, p))) {
        val token = getToken(pageContent, p)
        val op = PagesExtractor.canonicalOp(token)
        if (op == null || !dispatch(op, arg, p)) st += token
      }
      p.i = skipComments(pageContent, p.i, validate = false)
    }
    result
  }

  /** the 21 operators (pages_extractor.cc:788-941). Returns false for
    * unknown tokens (silently pushed as operands by the caller). */
  private def dispatch(token: String, arg: Arg, p: Pos): Boolean = {
    token match {
      case "BT" => arg.coordinates.setDefault(); arg.in = true
      case "ET" => arg.in = false
      case "Tj" =>
        if (arg.in && arg.encoding != null && !arg.encoding.isVertical) {
          val chunk = arg.encoding.getString(decodeString(pop(arg.st)), arg.coordinates, 0f,
            fonts(arg.resourceId))
          if (!chunk.isEmpty) arg.result(0) += chunk
        }
      case "TJ" =>
        if (arg.in && arg.encoding != null && !arg.encoding.isVertical) {
          arg.result(0) ++= arg.encoding.getStringsFromArray(pop(arg.st), arg.coordinates,
            fonts(arg.resourceId))
        }
      case "'" =>
        if (arg.encoding != null && arg.in) {
          arg.coordinates.setQuote()
          arg.result(0) += arg.encoding.getString(decodeString(pop(arg.st)), arg.coordinates, 0f,
            fonts(arg.resourceId))
        }
      case "\"" =>
        if (arg.encoding != null && arg.in) {
          val str = pop(arg.st) // string popped BEFORE aw/ac (pages_extractor.cc:907-913)
          arg.coordinates.setDoubleQuote(arg.st)
          arg.result(0) += arg.encoding.getString(str, arg.coordinates, 0f, fonts(arg.resourceId))
        }
      case "Td" => if (arg.in) arg.coordinates.setTd(arg.st)
      case "TD" => if (arg.in) arg.coordinates.setTD(arg.st)
      case "Tm" => if (arg.in) arg.coordinates.setTm(arg.st)
      case "T*" => if (arg.in) arg.coordinates.setTStar()
      case "TL" => if (arg.in) arg.coordinates.setTL(arg.st)
      case "Tc" => if (arg.in) arg.coordinates.setTc(arg.st)
      case "Tw" => if (arg.in) arg.coordinates.setTw(arg.st)
      case "Tz" => if (arg.in) arg.coordinates.setTz(arg.st)
      case "Ts" => if (arg.in) fonts(arg.resourceId).setRise(stof(pop(arg.st)))
      case "Tf" =>
        arg.coordinates.setTf(arg.st)
        val font = pop(arg.st)
        fonts(arg.resourceId).setCurrentFont(font)
        arg.encoding = getFontEncoding(font, arg.resourceId)
      case "cm" => arg.coordinates.doCm(arg.st)
      case "q" => arg.coordinates.doQPush()
      case "Q" => arg.coordinates.doQPop()
      case "Do" =>
        val xObject = pop(arg.st)
        val resourceName = "/" + arg.resourceId + "/" + xObject
        if (getXObjectData(arg.resourceId, xObject, resourceName)) {
          xObjectStreams.get(resourceName).foreach { stream =>
            val ctm = Matrix.mul(xObjectMatrices(resourceName), arg.coordinates.ctm)
            extractText(stream, resourceName, Some(ctm)).foreach(arg.result += _)
          }
        }
      case "BI" =>
        // skip inline image to EI followed by blank/EOF (pages_extractor.cc:788-801)
        var go = true
        while (go) {
          val idx = arg.content.indexOf("EI", p.i)
          if (idx < 0) {
            p.i = arg.content.length
            go = false
          } else {
            p.i = idx + 2
            if (p.i == arg.content.length || isBlank(arg.content.charAt(p.i))) go = false
          }
        }
      case _ => return false
    }
    true
  }

  // ---- output --------------------------------------------------------------
  /** page-ordered full text (pages_extractor.cc:699-714) */
  def getText: String = {
    val sb = new StringBuilder
    pages.foreach { pageId =>
      extractText(pageContent(pageId), pageId.toString, None)
        .foreach(r => sb.append(Layout.renderText(r)))
    }
    sb.toString
  }

  /** the page's /Contents streams, concatenated */
  private def pageContent(pageId: Long): String = {
    val contents = getContentsIdGen(storage.getObject(pageId))
    val visited = MSet.empty[Long]
    if (contents.length == 1) return outputContent(visited, contents(0))
    val sb = new StringBuilder
    contents.foreach(idGen => sb.append(outputContent(visited, idGen)))
    sb.toString
  }

  /** text + span bboxes per result group (Spark output shape) */
  def getTextWithSpans: (String, Vector[(Coord, String)]) = {
    val sb = new StringBuilder
    val spans = Vector.newBuilder[(Coord, String)]
    pages.foreach { pageId =>
      extractText(pageContent(pageId), pageId.toString, None).foreach { r =>
        val (text, sp) = Layout.renderTextWithSpans(r)
        sb.append(text)
        sp.foreach(spans += _)
      }
    }
    (sb.toString, spans.result())
  }
}

/** Public per-document entry points (parser.cc:320-342,389-400). */
object PdfExtract {

  private def open(buffer: String): (PagesExtractor, String) = {
    val parsed = new DocCache(buffer)
    val crossRefOffset = Xref.getCrossRefOffset(buffer)
    val trailerOffsets = Xref.getTrailerOffsets(parsed, crossRefOffset)
    val id2offsets = Xref.getId2Offsets(parsed, trailerOffsets)
    val encryptData = Xref.getEncryptData(buffer, trailerOffsets(0)._1, trailerOffsets(0)._2, id2offsets)
    val storage = new ObjectStorage(parsed, id2offsets, encryptData)
    // trailer -> /Root -> /Pages (parser.cc:320-342)
    var trailerOffset = crossRefOffset
    if (Xref.isPrefix(buffer, crossRefOffset, "xref"))
      trailerOffset = efind(buffer, "trailer", trailerOffset) + "trailer".length
    val trailerData = parsed.dictionaryAt(trailerOffset)
    val rootPair = trailerData.getOrElse("/Root", err("no /Root"))
    if (rootPair.tpe != Obj.INDIRECT_OBJECT) err("/Root value must be INDIRECT_OBJECT")
    val realRootPair = storage.getObject(getIdGen(rootPair.raw)._1)
    if (realRootPair.tpe != Obj.DICTIONARY) err("/Root indirect object must be a dictionary")
    val rootData = storage.dictionary(realRootPair.raw)
    val pagesPair = rootData.getOrElse("/Pages", err("no /Pages"))
    if (pagesPair.tpe != Obj.INDIRECT_OBJECT) err("/Pages value must be INDIRECT_OBJECT")
    (new PagesExtractor(getIdGen(pagesPair.raw)._1, storage, encryptData, buffer), buffer)
  }

  /** pdf2txt equivalent: raw PDF bytes -> extracted UTF-8 text bytes */
  def pdf2txt(pdf: Array[Byte]): Array[Byte] =
    Bytes.arr(open(Bytes.str(pdf))._1.getText)

  /** extraction with span boxes, for the pipeline output schema */
  def extract(pdf: Array[Byte]): (Array[Byte], Vector[(Coord, String)]) = {
    val (extractor, _) = open(Bytes.str(pdf))
    val (text, spans) = extractor.getTextWithSpans
    (Bytes.arr(text), spans)
  }
}
