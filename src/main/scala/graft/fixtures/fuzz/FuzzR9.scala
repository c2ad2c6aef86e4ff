package graft.fixtures
package fuzz

import scala.util.Random

import graft.fixtures.PdfBuilder._
import graft.fixtures.PdfBuilderAdvanced._

/** Round-9 differential fuzz vs the reference binary — file-structure
  * compositions rounds 1-8 left untouched:
  *
  *  A. INCREMENTAL UPDATES AS XREF STREAMS: /Prev chains where every
  *     section is an xref stream with an /Index SUBSET listing only the
  *     changed objects (parser.cc get_trailer_offsets_new:109-133 walks
  *     the chain; newest section wins in id2offsets emplace order,
  *     parser.cc:304-318);
  *  B. HYBRID chains: classic-xref base updated by xref-stream sections
  *     (the head section picks the _old/_new walker for the WHOLE chain —
  *     parser.cc:136-140 — so mixed chains exercise the cross-parse);
  *  C. ENCRYPTED dependent streams: the ToUnicode cmap, the embedded
  *     TrueType FontFile2, and a Form XObject each encrypted with their
  *     OWN per-object keys (get_cmap/get_FontFile2/get_XObject_data all
  *     pass decrypt_data, pages_extractor.cc:634,751,758,766);
  *  D. /Length as an indirect reference to an integer PACKED IN AN OBJSTM
  *     (get_length resolves via ObjectStorage::get_object which reaches
  *     id2obj_stm, common.h:102-120 + common.cc:802-805).
  */
private[fixtures] final class FuzzR9(rnd: Random, dump: FuzzCorpus.Emit) {
  private def randWord(): String = FuzzCorpus.randWord(rnd)

  private def simpleContent(text: String): Array[Byte] =
    bytes(s"BT\n/F1 11 Tf\n70 ${640 + rnd.nextInt(100)} Td\n($text) Tj\nET\n")

  /** parse the final startxref offset out of an assembled pdf */
  private def lastStartxref(pdf: Array[Byte]): Int = {
    val s = str(pdf)
    val at = s.lastIndexOf("startxref")
    s.substring(at + 9).trim.takeWhile(_.isDigit).toInt
  }

  /** append ONE xref-stream update section redefining `changed` objects;
    * /Index lists only (changed ids + the new xref object id). */
  def appendXrefStreamUpdate(
      base: Array[Byte],
      changed: Seq[ObjSpec],
      xrefId: Int,
      size: Int,
      rootId: Int): Array[Byte] = {
    val prev = lastStartxref(base)
    val out = new java.io.ByteArrayOutputStream()
    out.write(base)
    def w(s: String): Unit = out.write(bytes(s))
    val offsets = scala.collection.mutable.Map.empty[Int, Int]
    changed.sortBy(_.id).foreach { o =>
      offsets(o.id) = out.size()
      w(s"${o.id} 0 obj\n${o.body}")
      o.stream.foreach { s => w("\nstream\n"); out.write(s); w("\nendstream") }
      w("\nendobj\n")
    }
    val xrefOff = out.size()
    val entryW = 7
    val ids = (changed.map(_.id) :+ xrefId).sorted
    val raw = new java.io.ByteArrayOutputStream()
    ids.foreach { id =>
      val off = if (id == xrefId) xrefOff else offsets(id)
      raw.write(1)
      raw.write((off >> 24) & 0xff); raw.write((off >> 16) & 0xff)
      raw.write((off >> 8) & 0xff); raw.write(off & 0xff)
      raw.write(0); raw.write(0)
    }
    val index = ids.map(id => s"$id 1").mkString(" ")
    val enc = deflate(graft.fixtures.PdfBuilder.pngUpEncode(raw.toByteArray, entryW))
    w(s"$xrefId 0 obj\n<< /Type /XRef /Size $size /W [1 4 2] /Index [$index] " +
      s"/Root $rootId 0 R /Prev $prev /Filter /FlateDecode " +
      s"/DecodeParms << /Predictor 12 /Columns $entryW >> /Length ${enc.length} >>")
    w("\nstream\n"); out.write(enc); w("\nendstream\nendobj\n")
    w(s"startxref\n$xrefOff\n%%EOF\n")
    out.toByteArray
  }

  // ---- family A: xref-stream /Prev chains -------------------------------------
  def xrefStreamChains(n: Int): Unit = {
    (0 until n).foreach { i =>
      val w0 = randWord()
      var pdf = onePage(simpleContent(s"base $w0"), Map("/F1" -> 5), Seq(courier(5)),
        useXrefStream = true,
        packIntoObjStm = if (i % 2 == 0) Set(1, 2, 5) else Set.empty)
      // base used ids 1..5 (+6 objstm, +7 xref) -> updates start at 8
      var nextId = 8
      val nUpdates = 1 + rnd.nextInt(3)
      (0 until nUpdates).foreach { u =>
        val newContent = simpleContent(s"update$u ${randWord()} ${randWord()}")
        val changed = Seq(ObjSpec(4, s"<< /Length ${newContent.length} >>", Some(newContent)))
        pdf = appendXrefStreamUpdate(pdf, changed, nextId, nextId + 1, 1)
        nextId += 1
      }
      dump(f"xschain_$i%03d", pdf)
    }
  }

  // ---- family B: hybrid classic base + xref-stream updates --------------------
  def hybridChains(n: Int): Unit = {
    (0 until n).foreach { i =>
      var pdf = onePage(simpleContent(s"classic ${randWord()}"), Map("/F1" -> 5), Seq(courier(5)))
      var nextId = 6
      (0 to rnd.nextInt(2)).foreach { u =>
        val newContent = simpleContent(s"xsup$u ${randWord()}")
        pdf = appendXrefStreamUpdate(pdf,
          Seq(ObjSpec(4, s"<< /Length ${newContent.length} >>", Some(newContent))),
          nextId, nextId + 1, 1)
        nextId += 1
      }
      dump(f"hybrid_$i%03d", pdf)
    }
  }

  // ---- family C: encrypted dependent streams ----------------------------------
  def encryptedDependents(n: Int): Unit = {
    (0 until n).foreach { i =>
      val docId = Array.tabulate(16)(j => ((i * 37 + j * 19 + 11) & 0xff).toByte)
      val enc = (i % 3) match {
        case 0 => EncSpec(revision = 2, keyBits = 40, aes = false, docId = docId)
        case 1 => EncSpec(revision = 3, keyBits = 128, aes = false, docId = docId)
        case _ => EncSpec(revision = 4, keyBits = 128, aes = true, docId = docId)
      }
      // ToUnicode cmap (9), Form XObject (20): each encrypted with its own key
      val covered = (0x41 to 0x5a).filter(_ => rnd.nextBoolean()).take(6 + rnd.nextInt(10))
      val cmapPlain = bytes(toUnicodeCMap(covered.map(c =>
        c -> new String(Character.toChars(0x100 + rnd.nextInt(0x800))))))
      val formPlain = bytes(s"BT\n/F2 9 Tf\n40 40 Td\n(${randWord()} form) Tj\nET\n")
      val hexShows = (0 until 6 + rnd.nextInt(8))
        .map(_ => covered(rnd.nextInt(covered.length)))
        .map(c => f"$c%02x").mkString
      val contentPlain = bytes(
        s"BT\n/F1 11 Tf\n60 700 Td\n<$hexShows> Tj\nET\n/X1 Do\n")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 6 0 R /F2 7 0 R >> /XObject << /X1 20 0 R >> >> " +
          "/Contents 4 0 R >>"),
        ObjSpec(4, s"<< /Length ${enc.encrypt(4, 0, contentPlain).length} >>",
          Some(enc.encrypt(4, 0, contentPlain))),
        ObjSpec(5, enc.encryptDictBody),
        ObjSpec(6, "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
          "/Encoding /WinAnsiEncoding /ToUnicode 9 0 R >>"),
        courier(7),
        ObjSpec(9, s"<< /Length ${enc.encrypt(9, 0, cmapPlain).length} >>",
          Some(enc.encrypt(9, 0, cmapPlain))),
        ObjSpec(20, "<< /Type /XObject /Subtype /Form /BBox [0 0 612 792] " +
          s"/Resources << /Font << /F2 7 0 R >> >> /Length ${enc.encrypt(20, 0, formPlain).length} >>",
          Some(enc.encrypt(20, 0, formPlain))))
      dump(f"encdep_$i%03d",
        classicXref(objs, 1, s"/Encrypt 5 0 R /ID [<${enc.hex(enc.docId)}> <${enc.hex(enc.docId)}>]"))
    }
  }

  // ---- family D: indirect /Length packed in ObjStm ----------------------------
  def objStmLength(n: Int): Unit = {
    (0 until n).foreach { i =>
      val content = simpleContent(s"len ${randWord()} ${randWord()}")
      val objs = Seq(
        ObjSpec(1, "<< /Type /Catalog /Pages 2 0 R >>"),
        ObjSpec(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        ObjSpec(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        // /Length -> indirect integer object 30, itself PACKED in the ObjStm
        ObjSpec(4, "<< /Length 30 0 R >>", Some(content)),
        courier(5),
        ObjSpec(30, s"${content.length}")) // bare integer object
      dump(f"objlen_$i%03d",
        xrefStream(objs, 1, packIntoObjStm = Set(1, 2, 3, 5, 30)))
    }
  }

  def run(): Unit = {
    xrefStreamChains(150)
    hybridChains(120)
    encryptedDependents(150)
    objStmLength(80)
  }
}
