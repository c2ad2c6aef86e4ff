package graft.core.pdf

import org.scalatest.funsuite.AnyFunSuite

/** Unit + property-style tests per SURVEY.md §5.1-5.2: lexers, filters,
  * predictors, cmap helpers, layout helpers. Property loops use seeded
  * random byte-strings (deterministic; scalacheck-style coverage without
  * the scalatestplus bridge, which is not in the offline dep set). */
class UnitSpec extends AnyFunSuite {
  import graft.fixtures.PdfBuilder

  private def randomByteStrings(seed: Int, n: Int, maxLen: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val len = rnd.nextInt(maxLen)
      (0 until len).map(_ => rnd.nextInt(256).toChar).mkString
    } :+ "" :+ "\u0000" :+ ("ÿ" * 10)
  }

  // ---- filters: encode -> decode round-trips -------------------------------
  test("flate round-trip (100 random byte strings)") {
    randomByteStrings(1, 100, 2000).foreach { s =>
      val enc = PdfBuilder.deflate(Bytes.arr(s))
      assert(Filters.flateDecode(Bytes.str(enc), Map.empty) == s)
    }
  }

  test("lzw round-trip (100 random byte strings)") {
    randomByteStrings(2, 100, 2000).foreach { s =>
      val enc = PdfBuilder.lzwEncode(Bytes.arr(s))
      assert(Filters.lzwDecode(Bytes.str(enc), Map.empty) == s)
    }
  }

  test("lzw long repetitive input crosses code-width boundaries") {
    val s = ("abcab" * 2000) + ("xyz" * 500) + ("a" * 3000)
    val enc = PdfBuilder.lzwEncode(Bytes.arr(s))
    assert(Filters.lzwDecode(Bytes.str(enc), Map.empty) == s)
  }

  test("ascii85 round-trip + z shorthand") {
    // reference behavior: the final partial group before ~> is DISCARDED
    // (ascii85_decode.cc:67-71 sets found_end_marker without flushing), so
    // only complete 4-byte groups round-trip — replicated faithfully.
    randomByteStrings(3, 100, 500).foreach { s =>
      val enc = PdfBuilder.ascii85Encode(Bytes.arr(s))
      assert(Filters.ascii85Decode(Bytes.str(enc), Map.empty) == s.take(s.length / 4 * 4))
    }
    assert(Filters.ascii85Decode("z~>", Map.empty) == "\u0000\u0000\u0000\u0000")
  }

  test("asciihex round-trip + odd nibble pads zero") {
    randomByteStrings(4, 50, 500).foreach { s =>
      val enc = PdfBuilder.asciiHexEncode(Bytes.arr(s))
      assert(Filters.asciiHexDecode(Bytes.str(enc), Map.empty) == s)
    }
    assert(Filters.asciiHexDecode("4>", Map.empty) == "@") // 0x40
  }

  test("PNG Up predictor round-trip") {
    val rnd = new scala.util.Random(5)
    (1 to 30).foreach { _ =>
      val cols = 1 + rnd.nextInt(16)
      val rows = 1 + rnd.nextInt(40)
      val s = (0 until cols * rows).map(_ => rnd.nextInt(256).toChar).mkString
      val enc = PdfBuilder.pngUpEncode(Bytes.arr(s), cols)
      val opts: Lex.Dict = Map(
        "/Predictor" -> PVal("12", Obj.VALUE),
        "/Columns" -> PVal(cols.toString, Obj.VALUE))
      assert(Filters.predictorDecode(Bytes.str(enc), opts) == s)
    }
  }

  test("TIFF predictor 2 (8-bit): horizontal delta decode") {
    val in = "ABCD"
    val enc = new StringBuilder
    var prev = 0
    in.foreach { c => enc.append(((c - prev) & 0xff).toChar); prev = c }
    val opts: Lex.Dict = Map(
      "/Predictor" -> PVal("2", Obj.VALUE),
      "/Columns" -> PVal("4", Obj.VALUE))
    assert(Filters.predictorDecode(enc.toString, opts) == in)
  }

  // ---- lexer ----------------------------------------------------------------
  test("string lexer: nesting, escapes, hex") {
    val p = new Pos(0)
    assert(Lex.getString("(a(b)c) rest", p) == "(a(b)c)")
    assert(p.i == 7)
    val p2 = new Pos(0)
    assert(Lex.getString("(a\\)b) rest", p2) == "(a\\)b)")
    val p3 = new Pos(0)
    assert(Lex.getString("<48656C> rest", p3) == "<48656C>")
  }

  test("decodeString: octal rule and escapes") {
    assert(Lex.decodeString("(\\101)") == "A")
    assert(Lex.decodeString("(\\1012)") == "A2") // 3-digit max
    assert(Lex.decodeString("(\\n\\r\\t\\b\\f\\(\\))") == "\n\r\t\b\f()")
    assert(Lex.decodeString("(\\q)") == "q") // unknown escape -> literal
    assert(Lex.decodeString("<4 86 56c6C6f>") == "Hello")
  }

  test("dictionary data: nested dicts, comments, first-key-wins") {
    val d = Lex.getDictionaryData("<< /A 1 % comment\n /B << /C (x) >> /A 2 >>", 0)
    assert(d("/A") == PVal("1", Obj.VALUE))
    assert(d("/B").tpe == Obj.DICTIONARY)
  }

  test("array data: mixed types incl indirect refs") {
    val a = Lex.getArrayData("[1 (s) /N 2 0 R [3]]", 0)
    assert(a.map(_.tpe) == Vector(Obj.VALUE, Obj.STRING, Obj.NAME_OBJECT, Obj.INDIRECT_OBJECT, Obj.ARRAY))
  }

  test("getSet parses id-gen pairs") {
    assert(Lex.getSet("[1 0 R 25 3 R]") == Vector((1L, 0L), (25L, 3L)))
  }

  test("strictStoul rejects junk, accepts bases") {
    assert(Lex.strictStoul("42") == 42L)
    assert(Lex.strictStoul("ff", 16) == 255L)
    assert(Lex.strictStoul("17", 8) == 15L)
    intercept[PdfError](Lex.strictStoul("4x"))
    intercept[PdfError](Lex.strictStoul("-4"))
    intercept[PdfError](Lex.strictStoul(""))
  }

  test("stof: prefix parse like C++") {
    assert(Lex.stof("12.5abc") == 12.5f)
    assert(Lex.stof("  -3") == -3f)
    intercept[PdfError](Lex.stof("abc"))
  }

  test("num2string/string2num: padding + round-trip") {
    assert(Lex.num2string(0L) == "\u0000\u0000")
    assert(Lex.num2string(0x48L) == "\u0000H")
    assert(Lex.num2string(0x4869L) == "Hi")
    val rnd = new scala.util.Random(6)
    (1 to 200).foreach { _ =>
      val n = rnd.nextLong() & 0xffffffffL
      assert(Lex.string2num(Lex.num2string(n)) == n)
    }
  }

  test("utf8Length counts codepoints of encoded bytes") {
    val s = Bytes.str("aΩ中".getBytes("UTF-8"))
    assert(Bytes.utf8Length(s) == 3)
  }

  // ---- cmap helpers ----------------------------------------------------------
  test("inc: carry and widening") {
    assert(ToUnicodeCMap.inc("a") == "b")
    assert(ToUnicodeCMap.inc("ÿ") == "\u0001\u0000")
    assert(ToUnicodeCMap.inc("aÿ") == "b\u0000")
  }

  test("isLessEqual: numeric compare ignoring leading zeros") {
    assert(ToUnicodeCMap.isLessEqual("\u0000a", "a"))
    assert(ToUnicodeCMap.isLessEqual("a", "b"))
    assert(!ToUnicodeCMap.isLessEqual("b", "a"))
    assert(ToUnicodeCMap.isLessEqual("a", "a"))
    assert(!ToUnicodeCMap.isLessEqual("aa", "b"))
  }

  // ---- xref ------------------------------------------------------------------
  test("getCrossRefOffset finds last startxref") {
    val buf = "junk startxref\n5\n%%EOF more startxref\n9\n%%EOF"
    assert(Xref.getCrossRefOffset(buf) == 9)
  }

  test("encrypt data absent -> empty dict") {
    val pdf = Bytes.str(PdfBuilder.onePage(
      PdfBuilder.bytes("BT ET"), Map("/F1" -> 5), Seq(PdfBuilder.courier(5))))
    val off = Xref.getCrossRefOffset(pdf)
    val doc = new DocCache(pdf)
    val trailers = Xref.getTrailerOffsets(doc, off)
    val id2o = Xref.getId2Offsets(doc, trailers)
    assert(Xref.getEncryptData(pdf, trailers(0)._1, trailers(0)._2, id2o).isEmpty)
  }

  // ---- html ------------------------------------------------------------------
  test("html: entities, br, raw-text skip") {
    import graft.core.html.HtmlExtract
    assert(HtmlExtract.decodeEntities("a &amp; b &#65; &#x42; &nbsp;") == "a & b A B  ")
    val r = HtmlExtract.extract(
      "<html><body><p>" + ("long main content word " * 10) +
        "line one<br>line two</p><script>ignored()</script></body></html>")
    assert(r.text.contains("line one\nline two"))
    assert(!r.text.contains("ignored"))
  }

  test("html: malformed/unclosed tags tolerated") {
    import graft.core.html.HtmlExtract
    val r = HtmlExtract.extract("<body><p>" + ("unclosed paragraph text " * 8) + "<div>and more")
    assert(r.text.contains("unclosed paragraph text"))
  }

  test("html: random tag soup never crashes and is deterministic (500 docs)") {
    import graft.core.html.HtmlExtract
    val rnd = new scala.util.Random(20260823L)
    val atoms = Seq("<div>", "</div>", "<p>", "</p", "<a href='x", "&amp;", "&#xZZ;",
      "<!-- c", "-->", "<script>", "</script>", "<", ">", "<br/>", "</html>",
      "<table><tr><td>", "</b o g u s>", "<p class=\"a\"b>", "&#65")
    (0 until 500).foreach { _ =>
      val soup = (0 to 5 + rnd.nextInt(40)).map { _ =>
        if (rnd.nextBoolean()) atoms(rnd.nextInt(atoms.length))
        else (0 to rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar.toString * (1 + rnd.nextInt(5))).mkString(" ")
      }.mkString(" ")
      val r1 = HtmlExtract.extract(soup) // must not throw
      val r2 = HtmlExtract.extract(soup)
      assert(r1.text == r2.text) // deterministic
    }
  }

  test("html: nav/footer boilerplate dropped, article kept") {
    import graft.core.html.HtmlExtract
    val html =
      """<body><nav><a href="/">home</a> <a href="/x">x</a></nav>
        |<article><p>This is the real article body with plenty of words to score well above threshold.</p></article>
        |<footer>tiny footer</footer></body>""".stripMargin
    val r = HtmlExtract.extract(html)
    assert(r.text.contains("real article body"))
    assert(!r.text.contains("home"))
    assert(!r.text.contains("tiny footer"))
  }

  test("html: calibration floors hold (precision >= 0.95, recall >= 0.87)") {
    // regression gate on the labeled HtmlCalib harness (50 pages is a
    // representative slice; the committed 200-page numbers live in
    // BASELINE.md). Round-4 table + figure handling measured
    // precision 0.957 / recall 0.882 on this slice — floors pinned just
    // under so genuine regressions fail while seed jitter does not.
    val (recall, precision) = graft.tools.HtmlCalib.run(50, 77L, verbose = false)
    assert(precision >= 0.95, f"precision regressed: $precision%.4f")
    assert(recall >= 0.87, f"recall regressed: $recall%.4f")
  }

  test("html: extraction invariant under comments, benign attrs, tag case, script/style junk") {
    import graft.core.html.HtmlExtract
    // markup-noise invariance — the property class that substitutes for a
    // reference binary on the HTML path (north-rule-only spec, nothing to
    // byte-diff against): comments tokenize to NOTHING, density counts
    // tags not attribute bytes, hints read only class/id, and names are
    // lowercased — so none of these rewrites may move a single block
    // score. Calibration pages cover all three layouts x 30 seeds.
    (0 until 30).foreach { pid =>
      val rnd = new scala.util.Random(20260818L * 100 + pid)
      val frags = graft.tools.HtmlCalib.fragments(rnd, pid)
      val base = graft.tools.HtmlCalib.page(frags, pid % 3)
      val want = HtmlExtract.extract(base).text
      val commented = base.replace("><", "><!-- inert noise --><")
      assert(HtmlExtract.extract(commented).text == want,
        s"comment insertion changed page $pid")
      val attred = base.replace("<p>", "<p data-track=\"9\" title='x y'>")
        .replace("<div>", "<div role=presentation >")
      assert(HtmlExtract.extract(attred).text == want,
        s"benign attributes changed page $pid")
      val upper = "<(/?)([a-z]+)".r.replaceAllIn(base,
        m => "<" + m.group(1) + m.group(2).toUpperCase)
      assert(HtmlExtract.extract(upper).text == want,
        s"tag-name case changed page $pid")
    }
    // script/style junk between blocks: dropped verbatim (dropDepth, no
    // tagCount) — output text identical and nothing leaks, even when the
    // raw content contains decoy markup
    val prose = (1 to 4).map(i =>
      s"<p>${s"solid main content sentence number $i with plenty of words here. " * 3}</p>").mkString
    val base2 = "<html><body><nav><a href='/'>home</a><a href='/a'>a</a></nav>" +
      s"<article>$prose</article><footer>contact</footer></body></html>"
    val want2 = HtmlExtract.extract(base2).text
    val junked = base2.replace("</p>",
      "</p><script>var x = '<p>not text</p>';</script><style>.x{color:red}</style>")
    assert(HtmlExtract.extract(junked).text == want2, "script/style junk changed output")
    assert(want2.contains("solid main content") && !want2.contains("not text") &&
      !want2.contains("color"))
  }

  test("html: implied end tags — tag-soup <p>s score independently (round-3 calibration)") {
    import graft.core.html.HtmlExtract
    // three unclosed <p>s: without HTML5 implied-close the first <p> swallows
    // every later tag into its density denominator and short paras drop
    // (measured 0.69 short-para recall pre-fix, 1.00 post-fix — HtmlCalib)
    val html = "<body><div><p>short para one here" +
      "<p>" + ("much longer paragraph content with many words " * 4) +
      "<p>short para two here</div></body>"
    val r = HtmlExtract.extract(html)
    assert(r.text.contains("short para one here"))
    assert(r.text.contains("short para two here"))
  }

  test("html: class/id unlikely-candidates penalty with likely override (round-3 calibration)") {
    import graft.core.html.HtmlExtract
    // readability-family heuristic: cookie/ad/share class tokens penalize a
    // block; article/post/content-ish tokens override the penalty
    val html =
      """<body>
        |<div class="cookie-consent">We use cookies to improve your experience on this site <a href="#">Accept</a></div>
        |<div class="ad-slot">Sponsored offer just for you today only <a href="/b">click</a></div>
        |<div class="post-comment-box"><p>Real article text that must survive the mixed class signal here.</p></div>
        |<article><p>Plainly kept article paragraph with enough words to clear the density threshold.</p></article>
        |</body>""".stripMargin
    val r = HtmlExtract.extract(html)
    assert(!r.text.contains("We use cookies"))
    assert(!r.text.contains("Sponsored offer"))
    assert(r.text.contains("mixed class signal"))
    assert(r.text.contains("Plainly kept article paragraph"))
    // hint parser handles quoting/spacing/no-quotes
    assert(HtmlExtract.classIdHint(""" class="a b" id=nav """) == " a b nav")
    assert(HtmlExtract.classIdHint("""data-x="1"""") == "")
    assert(HtmlExtract.hintPenalized(" cookie-banner"))
    assert(!HtmlExtract.hintPenalized(" article-cookie")) // likely wins
    assert(!HtmlExtract.hintPenalized(""))
    // "ad-" needs a left word boundary: thread-/head-/download- are NOT ads
    assert(!HtmlExtract.hintPenalized(" thread-item"))
    assert(!HtmlExtract.hintPenalized(" head-line"))
    assert(!HtmlExtract.hintPenalized(" download-box"))
    assert(HtmlExtract.hintPenalized(" ad-break"))
    assert(HtmlExtract.hintPenalized(" top-ad-slot"))
  }

  test("perfect-hash dispatch: collision acceptance quirk (pages_extractor.cc:56-69)") {
    import PagesExtractor.canonicalOp
    // real operators hit their own slots
    assert(canonicalOp("Tj") == "Tj" && canonicalOp("T*") == "T*" &&
      canonicalOp("q") == "q" && canonicalOp("\"") == "\"")
    // colliding garbage tokens EXECUTE the real handler (signed-char math):
    // 'U'*113 + signed(0xB9 = -71) = 9534 = slot of T*
    assert(canonicalOp("U¹") == "T*")
    // 'C'*113 + signed(0xD8 = -40) = 7531 = slot of BI
    assert(canonicalOp("CØ") == "BI")
    // 0x01*113 + signed(0xE0 = -32) = 81 = slot of Q
    assert(canonicalOp("\u0001\u00e0") == "Q")
    // out-of-range and 3+-char tokens stay operands
    assert(canonicalOp("Á") == null) // sign-extends negative
    assert(canonicalOp("xy") == null) // empty slot
    assert(canonicalOp("ABC") == null) // length > 2
    assert(canonicalOp("!") == null) // below '"'
  }

  // ---- equivalence with the replaced definitions (Oracles) ------------------
  /** the value, or the class of the exception thrown */
  private def outcome[A](f: => A): Either[String, A] =
    try Right(f) catch { case e: Throwable => Left(e.getClass.getName) }

  private def randomFrom(rnd: scala.util.Random, alphabet: String, maxLen: Int): String =
    Seq.fill(rnd.nextInt(maxLen + 1))(alphabet(rnd.nextInt(alphabet.length))).mkString

  test("char-class scans agree with the set.indexOf scans they replaced") {
    val rnd = new scala.util.Random(11)
    val alphabet = "\r\n \t/[(<>])%0123456789abcXYZ\u0000\u007f\u0080\u00ff\u0100\u2028\uffff"
    val sets = Seq("\r\n \t", " \r\n\t/[(<", "\r\t\n /](<>", "\r\t\n /][(<>", "\r\t\n /<[(",
      "0123456789", "  \r\n\t", " \r\n]", "\r\n", "<[", " \t\n", "", "\u0100\u00ff", "a\u2028", "%\u0080") ++
      Seq.fill(10)(randomFrom(rnd, alphabet, 6))
    val strings = "" +: Seq.fill(300)(randomFrom(rnd, alphabet, 24))
    for (s <- strings; pos <- -1 to s.length + 2) {
      for (set <- sets) {
        assert(outcome(Lex.findFirstOf(s, set, pos)) == outcome(Oracles.findFirstOf(s, set, pos)))
        assert(outcome(Lex.findFirstNotOf(s, set, pos)) == outcome(Oracles.findFirstNotOf(s, set, pos)))
        assert(outcome(Lex.efindFirstOf(s, set, pos)) == outcome(Oracles.efindFirstOf(s, set, pos)))
        assert(outcome(Lex.efindFirstNotOf(s, set, pos)) == outcome(Oracles.efindFirstNotOf(s, set, pos)))
        val cls = CharClass.of(set)
        if (cls != null) {
          assert(outcome(Lex.firstOf(s, cls, pos)) == outcome(Oracles.findFirstOf(s, set, pos)))
          assert(outcome(Lex.firstNotOf(s, cls, pos)) == outcome(Oracles.findFirstNotOf(s, set, pos)))
        } else assert(set.exists(_ >= 0x80))
      }
      for (validate <- Seq(true, false)) {
        assert(outcome(Lex.skipSpaces(s, pos, validate)) == outcome(Oracles.skipSpaces(s, pos, validate)))
        assert(outcome(Lex.skipComments(s, pos, validate)) == outcome(Oracles.skipComments(s, pos, validate)))
      }
    }
  }

  test("stof agrees with the parseFloat definition it replaced") {
    val rnd = new scala.util.Random(12)
    val pieces = Seq("", "+", "-", " ", "\t", "\n", "0", "00", "1", "7", "9", ".", ".5", "5.", "e", "E",
      "e-", "e+3", "E7", "12345678", "16777215", "16777216", "16777217", "99999999999", "0.0000000001",
      "0.00000000001", "3.4028235", "e39", "x", "/", "1.00000000000")
    val inputs = Seq.fill(20000)(Seq.fill(1 + rnd.nextInt(5))(pieces(rnd.nextInt(pieces.length))).mkString) ++
      Seq.fill(20000) {
        val digits = Seq.fill(1 + rnd.nextInt(9))(('0' + rnd.nextInt(10)).toChar).mkString
        val cut = rnd.nextInt(digits.length + 1)
        (if (rnd.nextBoolean()) "-" else "") + digits.take(cut) + "." + digits.drop(cut)
      }
    inputs.foreach { s =>
      assert(outcome(java.lang.Float.floatToRawIntBits(Lex.stof(s))) ==
        outcome(java.lang.Float.floatToRawIntBits(Oracles.stof(s))), s)
    }
  }

  test("array and string lexers agree with the string-building definitions they replaced") {
    val rnd = new scala.util.Random(13)
    val alphabet = "[[]]]()<<>>\\ a1/%"
    for (_ <- 0 until 20000) {
      val s = "[" + randomFrom(rnd, alphabet, 30)
      val (p1, p2) = (new Pos(0), new Pos(0))
      assert(outcome((Lex.getArray(s, p1), p1.i)) == outcome((Oracles.getArray(s, p2), p2.i)), s)
      val str = (if (rnd.nextBoolean()) "(" else "<") + randomFrom(rnd, "\\()0123456789abcdefn \r\n\t+-", 16) + ")"
      assert(outcome(Lex.decodeString(str)) == outcome(Oracles.decodeString(str)), str)
    }
  }

  test("LZW decoder agrees with the byte-array-table decoder it replaced") {
    val rnd = new scala.util.Random(14)
    /** codes packed MSB first, each at the width the decoder reads it with */
    def pack(codes: Seq[Int]): String = {
      val out = new java.io.ByteArrayOutputStream
      var acc = 0L
      var bits = 0
      var size = 257
      var width = 9
      codes.foreach { c =>
        acc = (acc << width) | c
        bits += width
        while (bits >= 8) { out.write(((acc >> (bits - 8)) & 0xff).toInt); bits -= 8 }
        acc &= (1L << bits) - 1
        if (c == 256) { size = 257; width = 9 }
        else if (c != 257) {
          size += 1
          if (size == 511 || size == 1023 || size == 2047) width += 1
        }
      }
      if (bits > 0) out.write(((acc << (8 - bits)) & 0xff).toInt)
      Bytes.str(out.toByteArray)
    }
    /** random codes from table size `from` up to `to` (mostly in range,
      * sometimes the next code, rarely past it) */
    def walk(from: Int, to: Int): Seq[Int] = (from until to).map { size =>
      val r = rnd.nextInt(100)
      if (r < 85) rnd.nextInt(size) else if (r < 98) size else size + 1 + rnd.nextInt(3)
    }
    def check(s: String): Unit =
      assert(outcome(Filters.lzwDecode(s, Map.empty)) == outcome(Oracles.lzwDecode(s, Map.empty)))
    // CLEAR and EOD on each side of every code-width boundary
    for (boundary <- Seq(511, 1023, 2047); d <- -2 to 2; last <- Seq(256, 257)) {
      val head = walk(257, boundary + d)
      val tail = if (last == 256) walk(257, 257 + rnd.nextInt(600)) :+ 257 else Nil
      check(pack(head ++ (last +: tail)))
      check(pack((rnd.nextInt(256) +: head.tail) :+ last))
    }
    // streams that CLEAR repeatedly, and raw byte garbage
    for (_ <- 0 until 200) {
      val codes = Seq.fill(1 + rnd.nextInt(4))(walk(257, 257 + rnd.nextInt(2000)) :+ 256).flatten
      check(pack(codes))
      check(pack(codes.dropRight(1) :+ 257))
      check(Seq.fill(rnd.nextInt(300))(rnd.nextInt(256).toChar).mkString)
    }
  }

  test("font width lookup agrees with the tuple-table lookup it replaced (codes 0-65535)") {
    val storage = new ObjectStorage("", Map.empty, Map.empty)
    val fontsDict = Lex.getDictionaryData(
      """<< /Simple << /Type /Font /Subtype /TrueType /BaseFont /Arial /FirstChar 30
        |  /Widths [250 0 333 -5 1e3 278.5 250 250 900] /FontDescriptor << /MissingWidth 444 >> >>
        |/Std << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>
        |/StdMissing << /Subtype /Type1 /BaseFont /Courier /FontDescriptor << /MissingWidth 7 >> >>
        |/Unlisted << /Subtype /Type1 /BaseFont /NoSuchFont >>
        |/Cid << /Type /Font /Subtype /Type0 /BaseFont /X /DescendantFonts [<< /Subtype /CIDFontType2
        |  /DW 900 /W [1 [500 600 700] 10 20 450 15 [800 801] 2 3 650 300 65535 12 70000 [5]] >>] >>
        |/T3 << /Type /Font /Subtype /Type3 /FontMatrix [0.002 0.0005 0.001 0.003 0 0] /FirstChar 65
        |  /Widths [100 200 300 400 500 600] /FontBBox [0 -10 750 740] >> >>""".stripMargin, 0)
    val fonts = Fonts(storage, fontsDict)
    val oracle = OracleFonts(storage, fontsDict)
    val codes = (0L to 65535L) ++ Seq(-1L, 65536L, 70000L, (1L << 32) + 65)
    (fontsDict.keys.toSeq :+ "/Nope").foreach { name =>
      Seq(fonts, fonts.freshCopy).foreach { f =>
        f.setCurrentFont(name)
        oracle.setCurrentFont(name)
        codes.foreach { c =>
          assert(outcome(java.lang.Float.floatToRawIntBits(f.getWidth(c))) ==
            outcome(java.lang.Float.floatToRawIntBits(oracle.getWidth(c))), s"$name code $c")
        }
        assert(outcome(f.getWidth("AB\u00ff ")) == outcome(oracle.getWidth("AB\u00ff ")))
        assert(outcome((f.getHeight, f.getAscent, f.getDescent)) ==
          outcome((oracle.getHeight, oracle.getAscent, oracle.getDescent)), name)
      }
    }
  }

  test("RC4 agrees with the JCE ARCFOUR cipher it replaced") {
    val rnd = new scala.util.Random(15)
    for (_ <- 0 until 500) {
      val key = Array.fill(5 + rnd.nextInt(12))(rnd.nextInt(256).toByte)
      val data = Array.fill(rnd.nextInt(600))(rnd.nextInt(256).toByte)
      assert(Crypto.rc4(key, data).sameElements(Oracles.rc4(key, data)))
    }
  }

  test("html: normalizeWs and the payload decode agree with the definitions they replaced") {
    import graft.core.html.HtmlExtract
    val rnd = new scala.util.Random(16)
    val alphabet = " \n\t\r\u000b\u000c\u001c\u001f\u00a0\u0085\u2028\u3000ab.Z\u00e9"
    for (_ <- 0 until 20000) {
      val s = randomFrom(rnd, alphabet, 30)
      assert(HtmlExtract.normalizeWs(s) == Oracles.normalizeWs(s))
      val bytes = if (rnd.nextBoolean()) s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else Array.fill(rnd.nextInt(100))(rnd.nextInt(256).toByte)
      val padded = ("x" * rnd.nextInt(130)).getBytes ++ bytes
      assert(graft.pipeline.ExtractKernel.decodeUtf8(padded) ==
        new String(padded, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  test("allocation guard: extractOne on 1,000 plain-PDF and 1,000 HTML rows allocates under 48 MB") {
    import graft.pipeline.{Corpus, ExtractKernel}
    def rows(keep: Long => Boolean) = Iterator.from(1).map(_.toLong)
      .filter(i => i % Corpus.SKEW_EVERY != 0 && keep(i)).take(1000).map(Corpus.row(0L)).toVector
    val docs = rows(i => Corpus.kindOf(i) == "pdf" && i % Corpus.PDF_VARIANTS == 0) ++
      rows(i => Corpus.kindOf(i) == "html")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    var ok = 0
    for (_ <- 0 until 5) docs.foreach(r => if (ExtractKernel.extractOne(r).status == "ok") ok += 1)
    val before = mx.getCurrentThreadAllocatedBytes
    docs.foreach(r => if (ExtractKernel.extractOne(r).status == "ok") ok += 1)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(ok == 6 * docs.size)
    info(f"allocated ${allocated / 1e6}%.1f MB")
    assert(allocated < 48000000L, s"$allocated bytes for ${docs.size} documents")
  }
}
