package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, over the
  * `documents` table (doc_id, text, lang, source, n_chars).
  *
  * Everything here is built from codegen'd `functions._` columns (no UDFs)
  * except language-ID and fingerprinting, which are typed Dataset maps over
  * executor-local pure functions — still fully distributed, no shuffles.
  */
object TextOps {

  val stopwordsEn: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "on", "for", "with", "as", "at", "by", "this")

  /** whitespace token count (codegen'd; empty/blank -> 0) */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** crude BPE-ish subword estimate: word-pieces + digits + punct as tokens */
  def bpeishTokenCount(textCol: String): Column =
    expr(s"size(regexp_extract_all($textCol, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\\\s]', 0))")

  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:]", ""))

  def stopwordCount(text: Column): Column =
    size(filter(split(lower(text), "\\s+"), w => w.isin(stopwordsEn.map(lit(_)): _*)))

  def meanWordLen(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") / tokenCount(text))

  /** composite quality score in [0,1]: length band + punctuation sanity +
    * stopword presence (heuristics typical of web-text filtering) */
  def qualityScore(text: Column): Column = {
    val n = length(text).cast("double")
    val lenScore = least(n / 500.0, lit(1.0))
    val punctRatio = punctCount(text).cast("double") / greatest(n, lit(1.0))
    val punctScore = when(punctRatio > 0.2, 0.0).otherwise(lit(1.0) - punctRatio * 2)
    val stopRatio = stopwordCount(text).cast("double") / greatest(tokenCount(text).cast("double"), lit(1.0))
    val stopScore = least(stopRatio * 4.0, lit(1.0))
    round((lenScore * 0.4 + punctScore * 0.3 + stopScore * 0.3), 6)
  }

  // ---- language ID (script classes + marker-word vote; executor-local) ----
  //
  // Two deterministic stages, no model, no RNG (retry/engine-stable by
  // construction, like hashSplit):
  //  1. SCRIPT CLASS: count non-whitespace chars per Unicode script block
  //     (BMP ranges only — the corpus schema is web text, and keeping to
  //     the BMP makes char-loop counts equal codepoint counts, so a SQL
  //     oracle can reproduce them). A script that covers > 1/3 of the
  //     non-ws chars decides directly: kana=>ja, han-without-kana=>zh,
  //     hangul=>ko, arabic=>ar, hebrew=>he, greek=>el, devanagari=>hi,
  //     thai=>th; cyrillic falls through to a ru/uk marker vote.
  //  2. LATIN MARKER VOTE: per-language function-word hit counts over
  //     letter-tokenized text; FIRST language in priority order with the
  //     maximal positive score wins (ties resolve to the earlier entry —
  //     deterministic and SQL-expressible as an ordered CASE chain).
  // Marker sets favor words DISTINCTIVE vs the other listed languages
  // (sv 'och/inte/är' vs da 'og/ikke/er'; pl 'że' vs cs 'že') over raw
  // frequency.
  private[graft] val latinMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "for", "with", "was", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf", "den", "von"),
    "fr" -> Seq("le", "les", "est", "pas", "une", "des", "dans", "pour", "qui", "au", "et", "ce"),
    "es" -> Seq("el", "los", "las", "es", "por", "con", "una", "para", "como", "pero", "su", "más"),
    "pt" -> Seq("não", "uma", "para", "com", "mais", "dos", "das", "em", "foi", "são", "os", "ao"),
    "it" -> Seq("il", "che", "non", "per", "con", "sono", "della", "un", "si", "anche", "di", "una"),
    "nl" -> Seq("het", "een", "van", "niet", "met", "voor", "zijn", "dat", "op", "aan", "ook", "naar"),
    "pl" -> Seq("nie", "się", "jest", "na", "do", "że", "po", "jak", "ale", "przez", "tym", "być"),
    "sv" -> Seq("och", "att", "det", "som", "på", "är", "av", "för", "med", "inte", "till", "han"),
    "da" -> Seq("og", "at", "det", "som", "på", "er", "af", "for", "med", "ikke", "til", "han"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "olarak", "gibi", "daha", "çok", "sonra", "kadar", "yıl"),
    "ro" -> Seq("și", "este", "nu", "cu", "pentru", "din", "care", "la", "mai", "fost", "sau", "dar"),
    "id" -> Seq("yang", "dan", "di", "untuk", "dengan", "tidak", "ini", "itu", "dari", "pada", "adalah", "akan"),
    "vi" -> Seq("và", "của", "là", "không", "có", "người", "trong", "được", "các", "một", "những", "cho"),
    "cs" -> Seq("je", "se", "na", "že", "s", "nebo", "ale", "jako", "podle", "byl", "také", "už"),
    "fi" -> Seq("ja", "on", "ei", "että", "joka", "mutta", "myös", "kun", "hän", "ovat", "oli", "niin"))
  private[graft] val cyrillicMarkers: Seq[(String, Seq[String])] = Seq(
    "ru" -> Seq("и", "в", "не", "на", "что", "это", "как", "по", "из", "его"),
    "uk" -> Seq("і", "в", "не", "на", "що", "це", "як", "по", "з", "його"))
  private val latinMarkerSets = latinMarkers.map { case (l, ws) => (l, ws.toSet) }
  private val cyrillicMarkerSets = cyrillicMarkers.map { case (l, ws) => (l, ws.toSet) }

  /** first language in `sets` order with the maximal positive hit count
    * ("first" makes ties deterministic); "und" when nothing scores */
  private def markerVote(tokens: Array[String], sets: Seq[(String, Set[String])]): String = {
    var best = "und"
    var bestScore = 0
    sets.foreach { case (lang, markers) =>
      var s = 0
      tokens.foreach(t => if (markers.contains(t)) s += 1)
      if (s > bestScore) { bestScore = s; best = lang }
    }
    best
  }

  /** pure function: script-class decision + marker-word vote (~26
    * languages: 8 script-decided + ru/uk + 16 Latin-script) */
  def detectLang(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var total = 0
    var han = 0; var kana = 0; var hangul = 0; var cyr = 0
    var arab = 0; var hebr = 0; var greek = 0; var deva = 0; var thai = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!c.isWhitespace) {
        total += 1
        if (c >= 0x4e00 && c <= 0x9fff) han += 1
        else if (c >= 0x3040 && c <= 0x30ff) kana += 1
        else if ((c >= 0xac00 && c <= 0xd7af) || (c >= 0x1100 && c <= 0x11ff)) hangul += 1
        else if (c >= 0x0400 && c <= 0x04ff) cyr += 1
        else if (c >= 0x0600 && c <= 0x06ff) arab += 1
        else if (c >= 0x0590 && c <= 0x05ff) hebr += 1
        else if (c >= 0x0370 && c <= 0x03ff) greek += 1
        else if (c >= 0x0900 && c <= 0x097f) deva += 1
        else if (c >= 0x0e00 && c <= 0x0e7f) thai += 1
      }
      i += 1
    }
    if (total > 0) {
      // ja check first: kana is unambiguous, and ja text mixes kanji+kana
      // (han+kana together clear the bar even when neither does alone)
      if ((han + kana) * 3 > total && kana > 0) return "ja"
      if (han * 3 > total) return "zh"
      if (hangul * 3 > total) return "ko"
      if (arab * 3 > total) return "ar"
      if (hebr * 3 > total) return "he"
      if (greek * 3 > total) return "el"
      if (deva * 3 > total) return "hi"
      if (thai * 3 > total) return "th"
      if (cyr * 3 > total)
        return markerVote(letterTokens(text), cyrillicMarkerSets) match {
          case "und" => "ru" // dominant cyrillic with no marker hit: default ru
          case l => l
        }
    }
    markerVote(letterTokens(text), latinMarkerSets)
  }

  /** lowercase letter-run tokenization: splitting on non-letters (not just
    * whitespace) frees marker words from glued punctuation ("the," / "(la")
    * — the round-3 detector missed every marker adjacent to punctuation */
  private def letterTokens(text: String): Array[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}]+").filter(_.nonEmpty)

  /** one representative sentence per supported language — the golden set
    * behind q47 (the SQL oracle enumerates the EXPECTED label per
    * doc_id % n class, so a value-exact match means the detector
    * classifies every sample correctly at both verify scales) and the
    * per-language OpsSpec fixtures. Order defines the doc_id % n classes;
    * append-only. */
  val langSamples: Seq[(String, String)] = Seq(
    "en" -> "the report was prepared with care and this is the result that matters for everyone",
    "de" -> "der bericht wurde nicht mit der zeit fertig und das ist ein problem für die leute auf den straßen",
    "fr" -> "le rapport est dans les archives et une copie pour qui veut au bureau des affaires",
    "es" -> "el informe es para los lectores con una copia por cada página pero como siempre su valor es más claro",
    "pt" -> "não foi uma surpresa para os leitores com mais páginas dos relatórios das agências em lisboa e são paulo",
    "it" -> "il rapporto che non è per tutti ma con una copia sono anche della stessa idea di un altro",
    "nl" -> "het rapport is niet voor iedereen maar een kopie met zijn naam op aan ook naar het archief dat wij van hem kregen",
    "pl" -> "nie wiem jak to się stało ale jest coś do zrobienia po tym że przez rok nie było jak być",
    "sv" -> "och det är inte som att det var för sent med tåget till staden av en man och han kom",
    "da" -> "og det er ikke som at det var for sent med toget til byen af en mand og han kom",
    "tr" -> "bir yıl sonra bu rapor ve daha çok bilgi için onunla ile birlikte olarak gibi kadar",
    "ro" -> "și nu este clar pentru cei care au fost la birou din nou cu mai multe pagini sau dar totuși",
    "id" -> "yang penting adalah ini dan itu tidak akan berubah di kota untuk orang dengan buku dari pada masa",
    "vi" -> "và đây là một báo cáo của những người trong thành phố không có gì được cho các bạn",
    "cs" -> "je to tak že se nebo ale jako podle něj byl také už v praze s ním",
    "fi" -> "ja on selvää että hän ei ole mutta myös kun he ovat siellä oli niin hyvä joka päivä",
    "ru" -> "и в не на что это как по из его города пришло письмо вчера",
    "uk" -> "і в не на що це як по з його міста прийшов лист учора",
    "ja" -> "これは日本語のテキストですこの文書には多くの情報があります",
    "zh" -> "这是一份中文文件其中包含许多信息和数据分析结果",
    "ko" -> "이것은 한국어 텍스트입니다 이 문서에는 많은 정보가 있습니다",
    "ar" -> "هذا نص باللغة العربية يحتوي على الكثير من المعلومات",
    "he" -> "זהו טקסט בעברית המכיל מידע רב על הנושא",
    "el" -> "αυτό είναι ένα ελληνικό κείμενο με πολλές πληροφορίες",
    "hi" -> "यह हिंदी में एक पाठ है जिसमें बहुत जानकारी है",
    "th" -> "นี่คือข้อความภาษาไทยที่มีข้อมูลมากมาย")

  /** 64-bit rolling polynomial fingerprint over whitespace-normalized text
    * (Rabin-Karp style; stable across JVMs) */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    var h = 1125899906842597L
    var i = 0
    var prevSpace = false
    while (i < text.length) {
      val c = text.charAt(i)
      if (c.isWhitespace) prevSpace = true
      else {
        if (prevSpace) { h = h * 31 + ' '; prevSpace = false }
        h = h * 31 + c
      }
      i += 1
    }
    h
  }

  // ---- Unicode script profile (q133) ----------------------------------------
  /** script name -> BMP codepoint ranges, in DOMINANCE-PRIORITY order (ties
    * in [[scriptProfile]] resolve to the earlier entry — deterministic and
    * SQL-expressible as an ordered CASE chain, the detectLang discipline).
    * The non-Latin rows are detectLang's exact script blocks; latin adds
    * ASCII letters + Latin-1/Extended-A/B letter ranges (multiplication and
    * division signs excluded). ONE data table feeds the column builder, the
    * q133 oracle SQL, and the OpsSpec sequential recompute, so the three
    * cannot diverge. BMP-only by the same argument as detectLang: web-text
    * corpus schema, and BMP classes count identically in UTF-16 engines and
    * codepoint engines. */
  private[graft] val scriptRanges: Seq[(String, Seq[(Int, Int)])] = Seq(
    "latin" -> Seq((0x41, 0x5a), (0x61, 0x7a), (0xc0, 0xd6), (0xd8, 0xf6),
      (0xf8, 0x24f)),
    "han" -> Seq((0x4e00, 0x9fff)),
    "kana" -> Seq((0x3040, 0x30ff)),
    "hangul" -> Seq((0xac00, 0xd7af), (0x1100, 0x11ff)),
    "cyrillic" -> Seq((0x400, 0x4ff)),
    "arabic" -> Seq((0x600, 0x6ff)),
    "hebrew" -> Seq((0x590, 0x5ff)),
    "greek" -> Seq((0x370, 0x3ff)),
    "devanagari" -> Seq((0x900, 0x97f)),
    "thai" -> Seq((0xe00, 0xe7f)))

  /** `[\x{lo}-\x{hi}...]` character class for one script — \x{HHHH} is the
    * syntax BOTH Java regex and RE2 (DuckDB) accept, so the identical
    * pattern string runs on both engines */
  private[graft] def scriptClass(ranges: Seq[(Int, Int)]): String =
    ranges.map { case (lo, hi) => f"\\x{$lo%04x}-\\x{$hi%04x}" }
      .mkString("[", "", "]")

  /** per-document Unicode script histogram — the zero-model routing signal
    * a multilingual corpus splits on before any trigram/classifier langid
    * runs (and the audit for detectLang's script stage): counts of
    * codepoints per [[scriptRanges]] class, total non-whitespace
    * codepoints, and the dominant script (max count, ties to the earlier
    * class, "none" when nothing matches — incl. NULL/empty text).
    *
    * Scale shape: pure codegen'd column math over one corpus scan — one
    * regexp_count per class, zero shuffles, documents never move; counting
    * MATCHES (not length deltas) keeps the numbers codepoint-exact on any
    * engine whatever its string length unit. */
  def scriptProfile(documents: DataFrame): DataFrame = {
    val counts = scriptRanges.map { case (name, rs) =>
      coalesce(regexp_count(col("text"), lit(scriptClass(rs))).cast("long"),
        lit(0L)).as(name)
    }
    val withCounts = documents.select(
      col("doc_id").cast("long").as("doc_id") +:
        coalesce(regexp_count(col("text"), lit("\\S")).cast("long"), lit(0L))
          .as("n_chars") +:
        counts: _*)
    val maxc = greatest(scriptRanges.map { case (n, _) => col(n) }: _*)
    // ordered tie-break: the FIRST class at the max wins (fold is built
    // from the last class outward, so the first class is checked first)
    val dominant = scriptRanges.reverse.foldLeft(lit("none")) {
      case (acc, (name, _)) =>
        when(col(name) === col("max_c") && col("max_c") > 0, lit(name))
          .otherwise(acc)
    }
    withCounts.withColumn("max_c", maxc)
      .withColumn("dominant", dominant)
      .drop("max_c")
  }

  // ---- repetition signals (Gopher-style quality filters) -------------------

  /** non-empty trimmed lines of a text column */
  private def linesCol(text: Column): Column =
    filter(transform(split(text, "\n"), l => trim(l)), l => length(l) > 0)

  /** word 2-gram array (lowercased, whitespace-tokenized); empty/1-token
    * docs yield an empty array */
  private def grams2Col: Column = expr(
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
      "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
      "ELSE array() END")

  /** count of the most frequent element of a (sorted) string array — a
    * linear codegen'd fold over the row, NO shuffle: sorting groups equal
    * grams into runs, the fold tracks the longest run. */
  private def topRunCount(sortedArr: Column): Column =
    aggregate(
      sortedArr,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(acc.getField("prev") <=> x, acc.getField("run") + 1L).otherwise(1L)
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** fraction of word-2-gram occurrences taken by the most frequent 2-gram,
    * as a pure Scala function. Bit-identical to the Catalyst column version
    * in `repetition` (SPACE-only trim like Spark/DuckDB `trim` — Java
    * String.trim would also strip \n\t\r and tokenize differently on texts
    * with leading/trailing newlines; split keeps empty tokens like Spark's
    * split limit -1; same round-HALF_UP-to-6 as Spark's round()). */
  def top2GramFrac(text: String): Double = {
    val s = if (text == null) "" else text
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    val trimmed = s.substring(b, e)
    if (trimmed.isEmpty) return 0.0
    val toks = trimmed.toLowerCase(java.util.Locale.ROOT).split("\\s+", -1)
    if (toks.length < 2) return 0.0
    val counts = new java.util.HashMap[String, Int]()
    var top = 0
    var i = 0
    while (i < toks.length - 1) {
      val g = toks(i) + " " + toks(i + 1)
      val c = counts.merge(g, 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    val nG = toks.length - 1
    java.math.BigDecimal.valueOf(top.toDouble / nG)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** per-doc repetition signals for boilerplate/spam filtering (the
    * duplicate-line and top-n-gram fractions of Gopher-style web filtering).
    * Entirely per-row codegen'd column math — no UDFs, NO shuffle: the
    * top-2-gram mode is computed by sort-and-scan inside the row instead of
    * an explode + groupBy (which would shuffle one row per gram occurrence
    * — at 100 TB that's a shuffle bigger than the corpus). */
  def repetition(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("text"), linesCol(col("text")).as("ls"),
        when(length(trim(col("text"))) === 0, expr("array()"))
          .otherwise(split(trim(lower(col("text"))), "\\s+")).as("toks"))
      .withColumn("g2", grams2Col)
      .withColumn("top2", topRunCount(array_sort(col("g2"))))
      .select(
        col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(array_distinct(col("ls"))).cast("long").as("n_distinct_lines"),
        when(size(col("ls")) === 0, lit(0.0))
          .otherwise(round((size(col("ls")) - size(array_distinct(col("ls"))))
            .cast("double") / size(col("ls")), 6)).as("dup_line_frac"),
        size(col("g2")).cast("long").as("n_2grams"),
        col("top2").as("top_2gram_count"),
        when(size(col("g2")) === 0, lit(0.0))
          .otherwise(round(col("top2").cast("double") / size(col("g2")), 6))
          .as("top_2gram_frac"))

  // ---- deterministic splits ------------------------------------------------

  /** deterministic, engine-portable train/val split: bucket = first md5 byte
    * of "docId:salt"; rows with bucket < valPct256 go to "val"
    * (valPct256=26 => ~10.2%). Pure per-row column math — no shuffle, no
    * RNG, stable across reruns/engines/partitionings (the property that
    * matters for training-data reproducibility at 10^12 rows; a rand()-based
    * split is not reproducible under retries). */
  def hashSplit(documents: DataFrame, salt: String = "graft", valPct256: Int = 26): DataFrame = {
    require(valPct256 >= 0 && valPct256 <= 256)
    val hexByte = substring(md5(concat(col("doc_id").cast("string"), lit(":" + salt))), 1, 2)
    // 256 means "everything val": f"%02x" of 256 is the 3-char "100", and a
    // lexicographic 2-char-vs-3-char compare would mark only '0x'-leading
    // bytes — special-case it instead of comparing
    val isVal = if (valPct256 >= 256) lit(true) else hexByte < lit(f"$valPct256%02x")
    documents.select(
      col("doc_id"), col("lang"),
      when(isVal, lit("val")).otherwise(lit("train")).as("split"))
  }

  // ---- normalization -------------------------------------------------------

  /** training-data text normalization: strip C0/DEL control chars (keeping
    * \n and \t semantics: \t collapses with spaces, \n kept), collapse
    * horizontal whitespace runs to one space, cap blank-line runs at one,
    * trim. Deterministic, engine-portable regex only. */
  def normalizeText(text: Column): Column =
    trim(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
          "[ \\t]+", " "),
        "\\n{3,}", "\n\n"))

  def normalized(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      normalizeText(col("text")).as("norm_text"))
      .withColumn("norm_len", length(col("norm_text")).cast("long"))

  // ---- PII scrubbing ---------------------------------------------------------

  /** redact common PII shapes (emails, phone-number-like digit runs, IPv4
    * addresses) with typed placeholders — the standard pre-training scrub
    * pass. Chained codegen'd regexp_replace, no UDFs, no shuffle; patterns
    * are deliberately engine-portable (same semantics in RE2/Java/DuckDB).
    * Order matters: emails first (their local parts contain digits), then
    * phones, then IPs (dots break the phone pattern, so IPs survive to the
    * IP pass intact). */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\+?\\d[\\d\\- ]{7,}\\d", "<PHONE>"),
      "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")

  def scrubbed(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      scrubPii(col("text")).as("scrubbed_text"))
      .withColumn("n_redactions",
        (size(split(col("scrubbed_text"), "<EMAIL>|<PHONE>|<IP>")) - 1).cast("long"))

  /** payment-card PII detection with Luhn validation — the checksum is
    * what separates a real card number from phone numbers, order ids and
    * timestamps that share the digit shape (the false-positive class a
    * bare \d{13,19} scrub redacts wholesale). Candidates are whitespace
    * TOKENS of digits and hyphens carrying 13-19 digits (the token rule
    * sidesteps regex-engine lookbehind differences — DuckDB's RE2 has
    * none); a candidate is a card hit when the Luhn checksum over its
    * digits passes. Output per doc: n_card_candidates, n_luhn_valid,
    * passes_card_gate (no valid card present).
    *
    * Scale shape: pure per-row column math (token filter + in-row
    * checksum aggregate), no shuffle, no UDF — and every step is integer
    * arithmetic a SQL oracle restates exactly. */
  def luhnCardStats(documents: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val tk = when(length(trim(txt)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(txt), "\\s+"))
    // digit strings of candidate tokens (strip hyphens, keep 13-19 digits)
    val cands = expr(
      """filter(transform(filter(tk, t -> t rlike '^[0-9-]+$'),
        |              t -> replace(t, '-', '')),
        |       d -> d rlike '^[0-9]{13,19}$')""".stripMargin)
    // Luhn: 1-based position i over the REVERSED digits; odd i adds the
    // digit, even i adds its doubled value minus 9 when > 9
    val nValid = expr(
      """size(filter(cands, d ->
        |  aggregate(sequence(1, length(d)), cast(0 as int), (acc, i) ->
        |    acc + CASE WHEN i % 2 = 1
        |          THEN ascii(substring(reverse(d), i, 1)) - 48
        |          ELSE CASE WHEN (ascii(substring(reverse(d), i, 1)) - 48) * 2 > 9
        |               THEN (ascii(substring(reverse(d), i, 1)) - 48) * 2 - 9
        |               ELSE (ascii(substring(reverse(d), i, 1)) - 48) * 2 END
        |          END) % 10 = 0))""".stripMargin)
    documents
      .select(col("doc_id"), tk.as("tk"))
      .withColumn("cands", cands)
      .select(col("doc_id"),
        size(col("cands")).cast("long").as("n_card_candidates"),
        nValid.cast("long").as("n_luhn_valid"))
      .withColumn("passes_card_gate", col("n_luhn_valid") === 0)
  }

  /** per-language length distribution: count, mean, EXACT interpolated
    * p50/p90 (Spark `percentile`, the exact aggregate — percentile_approx
    * would not be oracle-comparable). One shuffle on lang; at 10^12 rows
    * exact percentiles need the full value multiset per group, so the
    * production variant swaps in percentile_approx — same query shape. */
  def langLenStats(documents: DataFrame): DataFrame =
    documents.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 6).as("mean_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("p50_chars"),
        round(percentile(col("n_chars"), lit(0.9)), 6).as("p90_chars"))

  // ---- composite filtering & chunking ---------------------------------------

  /** the standard pre-training keep/drop gate, composed from the per-row
    * signals (quality score, top-2-gram repetition fraction, token-count
    * band) in ONE narrow pass — no joins, no shuffle: all three signals are
    * per-row column math. */
  def qualityFilter(
      documents: DataFrame,
      minQuality: Double = 0.3,
      maxTopFrac: Double = 0.3,
      minTokens: Int = 10,
      maxTokens: Int = 10000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // stage 1: the repetition signal via a typed map. The Catalyst HOF
    // version (transform + array_sort + aggregate fold) is CodegenFallback —
    // interpreted per row — and the optimizer inlines the lambda tree into
    // every downstream reference, so combined with the quality expressions
    // the whole stage ran interpreted and re-evaluated the fold several
    // times (measured 30x slower end-to-end). The Scala loop computes the
    // identical value (same tokenization, same HALF_UP 6-digit rounding as
    // Spark's round()) in one pass, and the typed boundary keeps stage 2's
    // quality expressions in their own codegen span.
    val withFrac = documents
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, text, top2GramFrac(text)) }
      .toDF("doc_id", "text", "top_2gram_frac")
    // stage 2: quality + token band + the gate itself (its own span)
    withFrac
      .select(
        col("doc_id"),
        qualityScore(col("text")).as("quality"),
        col("top_2gram_frac"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      .filter(col("quality") >= minQuality && col("top_2gram_frac") <= maxTopFrac &&
        col("n_tokens").between(minTokens, maxTokens))
  }

  /** context-window chunking: split each doc's token stream into training
    * sequences of `chunkTokens` tokens advancing by `stride` (overlap =
    * chunkTokens - stride). Pure per-row transform + explode — the output
    * is larger than the input (the point), but nothing shuffles: chunks are
    * born in the partition that holds the doc. */
  def chunked(
      documents: DataFrame,
      chunkTokens: Int = 50,
      stride: Int = 40,
      withBpeCost: Boolean = false): DataFrame = {
    require(chunkTokens > 0 && stride > 0)
    val base = documents
      .select(col("doc_id"),
        when(length(trim(col("text"))) === 0, expr("array()"))
          .otherwise(split(trim(col("text")), "\\s+")).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("n_chunks",
        lit(1) + greatest(
          ceil((size(col("toks")) - lit(chunkTokens)).cast("double") / stride).cast("int"),
          lit(0)))
      .withColumn("c", explode(expr(
        s"transform(sequence(0, n_chunks - 1), " +
          s"i -> struct(i AS idx, concat_ws(' ', slice(toks, i * $stride + 1, $chunkTokens)) AS chunk))")))
      .select(
        col("doc_id"),
        col("c.idx").cast("long").as("chunk_idx"),
        col("c.chunk").as("chunk_text"),
        size(split(col("c.chunk"), "\\s+")).cast("long").as("n_tokens"))
    // per-chunk trained-BPE cost, opt-in (boundaries stay in whitespace
    // tokens — the window/stride contract is unchanged; this adds the
    // model-token cost a budgeting pipeline charges each sequence)
    if (withBpeCost) base.withColumn("n_bpe_tokens", bpeTokens(col("chunk_text")).cast("long"))
    else base
  }

  /** deterministic sequence packing: assign docs (in doc_id order) to
    * fixed token-budget packs — pack_id = floor(tokens-before-this-doc /
    * packTokens). The global running sum is a DISTRIBUTED SCAN, not a
    * single-partition Window (a global `ORDER BY` window funnels the whole
    * corpus through one task): range-partition by doc_id, one tiny pass
    * collects per-partition token totals (one row per partition), and a
    * broadcast prefix-offset array seeds each partition's local cumsum.
    * Output is independent of the partition count (range boundaries only
    * split a totally-ordered sequence). */
  def sequencePacking(
      documents: DataFrame,
      packTokens: Int = 512,
      partitions: Int = 0,
      tokenizer: String = "ws"): DataFrame = {
    require(packTokens > 0)
    val spark = documents.sparkSession
    import spark.implicits._
    val nPart = if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    // RDD mapPartitionsWithIndex is deliberate (the one genuine
    // per-partition-imperative case): the partition INDEX must be bound to
    // the parent partition at plan time. TaskContext.getPartitionId() is
    // task-scoped and collapses to 0 under a downstream coalesce(1),
    // silently zeroing every offset.
    val base = documents
      .select(col("doc_id").cast("long"), tokensFor(tokenizer, col("text")).as("n_tokens"))
      .repartitionByRange(nPart, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = base.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach { case (_, tok) => s += tok }
      Iterator.single((pid, s))
    }.collect().toMap
    val maxPid = if (totals.isEmpty) -1 else totals.keys.max
    val offsets = new Array[Long](maxPid + 2)
    (0 to maxPid).foreach(p => offsets(p + 1) = offsets(p) + totals.getOrElse(p, 0L))
    val bc = spark.sparkContext.broadcast(offsets)
    val out = base.mapPartitionsWithIndex { (pid, it) =>
      var cum = bc.value(pid)
      it.map { case (id, tok) =>
        val packId = cum / packTokens
        cum += tok
        (id, tok, packId)
      }
    }.toDF("doc_id", "n_tokens", "pack_id")
    // materialize, then RELEASE the range-partitioned cache (block-manager
    // residency across repeated calls must not accumulate; mechanism and
    // executor-loss tradeoff documented on graft.ops.Checkpoints)
    graft.ops.Checkpoints.eager(out) { base.unpersist() }
  }

  /** top-k TF-IDF terms per document — the classic keyword/topic signal.
    * Shape: one explode pass feeds TWO partial-aggregated groupBys (term
    * frequency per doc, document frequency per term), an equi-join on the
    * term, and a per-doc window for the top-k. At web scale the DF side is
    * vocabulary-sized (shuffle join, not broadcast); n_docs is one count
    * job (a production pipeline reads it from table metadata). */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = documents.count()
    val toks = documents.select(col("doc_id"),
      explode(when(length(trim(col("text"))) === 0, expr("array()"))
        .otherwise(split(trim(lower(col("text"))), "\\s+"))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // df from the tf table: one row per (doc, term) means count(1) per
    // term IS countDistinct(doc_id) over the raw tokens — and because
    // both consumers now share the tf exchange (identical canonical
    // shuffle -> ReusedExchange), the corpus is exploded ONCE instead of
    // once per aggregate
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("tfidf",
        round(col("tf") * log(lit(nDocs.toDouble) / col("df").cast("double")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("tfidf"), col("rnk").cast("long").as("rnk"))
  }

  /** whitespace vs BPE-ish subword token estimates per doc (training-cost
    * accounting; the subword_ratio flags code/punctuation-heavy docs whose
    * real tokenizer cost far exceeds the whitespace estimate). Pure per-row
    * regex columns, no shuffle. */
  def tokenEstimates(documents: DataFrame): DataFrame = {
    val ws = tokenCount(col("text")).cast("long")
    val bpe = bpeishTokenCount("text").cast("long")
    documents.select(
      col("doc_id"),
      ws.as("n_ws_tokens"),
      bpe.as("n_bpeish"),
      round(bpe.cast("double") / greatest(ws, lit(1L)), 6).as("subword_ratio"))
  }

  /** trained-BPE token count as a column. A UDF is justified here (the
    * repo's no-UDF rule is "no UDF where a built-in fits"): no Catalyst
    * built-in can express a trained subword merge table. Executor-local,
    * memoized per JVM (graft.ops.Bpe). */
  lazy val bpeTokens: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((t: String) => Bpe.tokenCount(t))

  /** token accounting with the REAL trained subword tokenizer (upgrade of
    * `tokenEstimates`' regex approximation): whitespace count, trained-BPE
    * count, and their ratio — the number that converts corpus token
    * budgets between "words" and model tokens. */
  def tokenEstimatesBpe(documents: DataFrame): DataFrame = {
    val ws = tokenCount(col("text")).cast("long")
    val bpe = bpeTokens(col("text")).cast("long")
    documents.select(
      col("doc_id"),
      ws.as("n_ws_tokens"),
      bpe.as("n_bpe_tokens"),
      round(bpe.cast("double") / greatest(ws, lit(1L)), 6).as("bpe_ratio"))
  }

  /** token-count column for the accounting operators that take a
    * `tokenizer` choice: "ws" (whitespace, codegen'd, DuckDB-oracled) or
    * "bpe" (trained subword — the honest model-token cost) */
  private[graft] def tokensFor(tokenizer: String, text: Column): Column = tokenizer match {
    case "ws" => tokenCount(text).cast("long")
    case "bpe" => bpeTokens(text).cast("long")
    case other => throw new IllegalArgumentException(
      s"tokenizer must be 'ws' or 'bpe', got '$other'")
  }

  /** classic readability observables — Flesch reading-ease and
    * Flesch-Kincaid grade (Kincaid et al. 1975), the readability member
    * of the quality-signal family (alongside qualityScore / Gopher / C4 /
    * perplexity buckets): syllables estimated as VOWEL RUNS ([aeiouy]+
    * over lowercased text — the standard dictionary-free approximation;
    * whitespace breaks runs, so the text-level count equals the sum of
    * per-word counts), sentences as [.!?]+ runs floored at 1 (a fragment
    * reads as one sentence), words via the shared tokenCount convention.
    * NOTE the sentence convention here intentionally differs from
    * `c4Filters`' (which counts terminal-punctuation segments WITH
    * alphanumeric content over the boilerplate-cleaned lines — C4's own
    * rule): FK's words-per-sentence wants terminated sentences of the RAW
    * text; both conventions are mirrored verbatim in their oracles, so a
    * change to either must update its oracle, not the other op.
    * Empty/NULL text yields NULL scores — null-on-no-evidence, not a
    * fabricated grade. Per-row codegen'd column math fused into the scan
    * (no shuffle, no UDF); scores 1e-6-rounded so recomputes rank
    * identically. */
  def readability(documents: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val counted = documents.select(
      col("doc_id"),
      tokenCount(t).cast("long").as("n_words"),
      greatest(lit(1L), (size(split(t, "[.!?]+")) - 1).cast("long")).as("n_sentences"),
      (size(split(lower(t), "[aeiouy]+")) - 1).cast("long").as("n_syllables"))
    val w = col("n_words").cast("double")
    val fe = round(lit(206.835) - lit(1.015) * w / col("n_sentences")
      - lit(84.6) * col("n_syllables") / w, 6)
    val fk = round(lit(0.39) * w / col("n_sentences")
      + lit(11.8) * col("n_syllables") / w - lit(15.59), 6)
    counted.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
      when(col("n_words") === 0, lit(null)).otherwise(fe).as("flesch_ease"),
      when(col("n_words") === 0, lit(null)).otherwise(fk).as("fk_grade"))
  }

  /** cp1252 images of UTF-8 continuation bytes 0x80-0xBF: the chars a
    * double-encoded sequence's SECOND char can be — either the Latin-1
    * identity range or the cp1252 punctuation remaps ('é' -> 'Ã©' via
    * Latin-1, '’' -> 'â€™' via cp1252) */
  private val moji2nd =
    "\\x{0080}-\\x{00BF}\\x{20AC}\\x{201A}\\x{0192}\\x{201E}\\x{2026}\\x{2020}" +
      "\\x{2021}\\x{02C6}\\x{2030}\\x{0160}\\x{2039}\\x{0152}\\x{017D}\\x{2018}" +
      "\\x{2019}\\x{201C}\\x{201D}\\x{2022}\\x{2013}\\x{2014}\\x{02DC}\\x{2122}" +
      "\\x{0161}\\x{203A}\\x{0153}\\x{017E}\\x{0178}"

  /** encoding-corruption observables — the OSCAR/CCNet-class mojibake
    * gate that fluency scoring alone misses: U+FFFD replacement chars
    * (a decoder already gave up on those bytes), STRAY C1 controls
    * U+0080-U+009F (cp1252 bytes pasted into unicode; one inside a
    * counted digraph is that event, not a second flag), and
    * UTF-8-read-as-Latin-1/cp1252 double-encoding digraphs (lead char
    * Ã/Â/â followed by a continuation-image char). `mojibake_ratio` =
    * flagged sequences per char; `kept` applies `maxRatio`. Counts are
    * split-counts (non-overlapping matches), so the SQL mirror is exact;
    * per-row codegen'd regex math fused into the scan — no shuffle. */
  def mojibakeStats(documents: DataFrame, maxRatio: Double = 0.001): DataFrame = {
    require(maxRatio >= 0, s"maxRatio must be >= 0, got $maxRatio")
    val t = coalesce(col("text"), lit(""))
    def cnt(pattern: String): Column = (size(split(t, pattern)) - 1).cast("long")
    // n_c1_controls counts STRAY C1 controls only: a C1 char that is the
    // second char of a counted double-encoding digraph (the Latin-1-read
    // flavor, e.g. en-dash -> 'Â'+U+0096) belongs to that ONE corruption
    // event — subtracting the digraph-second subset keeps the ratio at
    // one flag per event for both digraph flavors (RE2 has no lookbehind,
    // so the SQL mirror uses the same two-scan subtraction)
    documents.select(
      col("doc_id"),
      length(t).cast("long").as("n_chars"),
      cnt("\\x{FFFD}").as("n_replacement"),
      (cnt("[\\x{0080}-\\x{009F}]") -
        cnt("[\\x{00C3}\\x{00C2}\\x{00E2}][\\x{0080}-\\x{009F}]")).as("n_c1_controls"),
      cnt(s"[\\x{00C3}\\x{00C2}\\x{00E2}][$moji2nd]").as("n_double_encoded"))
      .withColumn("mojibake_ratio",
        when(col("n_chars") === 0, lit(0.0))
          .otherwise((col("n_replacement") + col("n_c1_controls") +
            col("n_double_encoded")).cast("double") / col("n_chars")))
      .withColumn("kept", col("mojibake_ratio") <= maxRatio)
  }

  /** Unicode NFC pass in front of the hash-keyed family: canonically-
    * equivalent byte sequences ('é' composed vs 'e'+combining-acute) hash
    * DIFFERENTLY, silently splitting exact-dedup groups, URL identities
    * and decontamination grams on any corpus with mixed producers.
    * `changed` reports which docs were not already NFC (a corpus health
    * observable in its own right). Per-row custom Catalyst expression
    * (graft.functions.NfcNormalize) — stays inside whole-stage codegen,
    * fast-path zero-alloc on already-normalized text; no shuffle. */
  def nfcNormalized(documents: DataFrame): DataFrame = {
    val t = coalesce(col("text"), lit(""))
    val n = graft.functions.NfcNormalize(t)
    documents.select(col("doc_id"), n.as("nfc_text"), (n =!= t).as("changed"))
  }

  /** documents -> per-doc text stats (one narrow pass, no shuffle) */
  def stats(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      length(col("text")).cast("long").as("text_len"),
      tokenCount(col("text")).cast("long").as("n_tokens"),
      punctCount(col("text")).cast("long").as("n_punct"),
      stopwordCount(col("text")).cast("long").as("n_stopwords"),
      round(meanWordLen(col("text")), 6).as("mean_word_len"))

  def withLangAndFingerprint(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text"), col("lang"))
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (id, detectLang(text), lang, fingerprint(text))
      }
      .toDF("doc_id", "pred_lang", "lang", "fingerprint")
  }

  /** Gopher-family quality RULES (Rae et al. 2021, table A1 — the rule
    * bundle most published curation pipelines start from), as per-rule
    * observables plus the conjunction, so downstream filters can keep,
    * loosen or audit individual rules instead of a black-box score
    * (`qualityScore` stays the composite heuristic). Pure per-row
    * codegen'd column math — zero shuffle, runs inside the scan stage.
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio ('#' chars + '...' runs + unicode
    * ellipsis) < 0.1; < 90% of lines bullet-started; < 30% of lines
    * ellipsis-ended; >= 80% of words contain an alphabetic char; >= 2
    * distinct Gopher stop words present. */
  def gopherRules(
      documents: DataFrame,
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val g = gopherRuleCols(coalesce(col("text"), lit("")))
    documents.select(
      col("doc_id"),
      g.nWords.as("n_words"),
      g.meanLen.as("mean_word_len"),
      g.symRatio.as("symbol_word_ratio"),
      g.bulletRatio.as("bullet_line_ratio"),
      g.ellipsisRatio.as("ellipsis_line_ratio"),
      g.alphaRatio.as("alpha_word_ratio"),
      g.stopHits.as("stop_hits"),
      (g.nWords >= minWords && g.nWords <= maxWords &&
        g.meanLen >= 3.0 && g.meanLen <= 10.0 &&
        g.symRatio < 0.1 && g.bulletRatio < 0.9 && g.ellipsisRatio < 0.3 &&
        g.alphaRatio >= 0.8 && g.stopHits >= 2).as("passes"))
  }

  /** Gopher-family REPETITION rules (Rae et al. 2021, table A1's other
    * half), as per-rule observables: duplicate-line fraction and the
    * character mass inside duplicate line occurrences (totals minus
    * array_distinct totals), plus the character coverage of the MOST
    * frequent word 2-gram and 3-gram. ENTIRELY per-row codegen'd column
    * math, zero shuffle (test-gated): the per-doc gram mode is the same
    * sort-and-scan fold `repetition` uses — an explode + groupBy would
    * shuffle one row per gram occurrence, bigger than the corpus at
    * scale. Coverage = occurrences x gram length / text length, the
    * public-implementation formula (DataTrove/NeMo); overlapping
    * occurrences double-count characters, so the value is CAPPED at 1.0
    * (ties on the mode break lexicographically — the sorted fold keeps
    * the first maximal run; a doc shorter than n words scores 0).
    * `q20`'s repetitionScore stays the composite signal; this is the
    * auditable per-rule surface. */
  /** word n-grams over the token-array column `t` (empty array when the
    * doc is shorter than n words) — ONE definition shared by
    * `gopherRepetitionRules` (q55) and `gopherDupNgramRules` (q63) so
    * the gram convention (1-based slice, single-space join) cannot
    * silently diverge between the two rule families. */
  private[graft] def wordGramsOverT(n: Int): Column = expr(
    s"CASE WHEN size(t) >= $n THEN transform(sequence(0, size(t)-$n), " +
      s"i -> array_join(slice(t, i+1, $n), ' ')) ELSE array() END")

  /** top-gram char coverage over `topRunStats` output: occurrences x
    * gram length / raw-text length (column `gtxt`), capped at 1.0
    * against overlap double-counting — the DataTrove/NeMo formula,
    * shared by q55 and q63 (the cap and null-gram guard were already
    * adjusted once in-round; a second copy would have to be found). */
  private def topGramCharFrac(stats: Column): Column =
    least(lit(1.0), round(
      (stats.getField("c") *
        when(stats.getField("gram").isNull, lit(0)).otherwise(length(stats.getField("gram"))))
        .cast("double") /
        greatest(length(col("gtxt")).cast("double"), lit(1.0)), 6))

  def gopherRepetitionRules(documents: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val pre = documents.select(col("doc_id"), txt.as("gtxt"),
      filter(split(trim(txt), "\\s+"), w => w =!= "").as("t"))
    val lines = split(col("gtxt"), "\n")
    val nLines = size(lines)
    val totLineChars = aggregate(lines, lit(0L), (a, l) => a + length(l))
    val distLineChars = aggregate(array_distinct(lines), lit(0L), (a, l) => a + length(l))
    pre
      .withColumn("s2", topRunStats(array_sort(wordGramsOverT(2))))
      .withColumn("s3", topRunStats(array_sort(wordGramsOverT(3))))
      .select(
        col("doc_id"),
        nLines.as("n_lines"),
        round((nLines - size(array_distinct(lines))).cast("double") /
          greatest(nLines.cast("double"), lit(1.0)), 6).as("dup_line_frac"),
        round((totLineChars - distLineChars).cast("double") /
          greatest(totLineChars.cast("double"), lit(1.0)), 6).as("dup_line_char_frac"),
        topGramCharFrac(col("s2")).as("top2_char_frac"),
        topGramCharFrac(col("s3")).as("top3_char_frac"))
  }

  /** the dup-PARAGRAPH half of Gopher's repetition rules (Rae et al.
    * table A1 rows 1-2: duplicate paragraph fraction / duplicate
    * paragraph character fraction) — `gopherRepetitionRules` covers the
    * line and n-gram rows; this covers the paragraph rows now that the
    * query frames synthesize paragraph structure. A paragraph is a
    * maximal run between blank-line runs (`\n{2,}`), the same unit
    * `Dedup.corpusParagraphDedup` dedups; whitespace-only chunks are
    * structure, not paragraphs, and are excluded from both numerator
    * and denominator.
    *
    * Pure per-row codegen'd column math — no explode, no shuffle,
    * documents never move (zero-Exchange, test-gated): dup mass is
    * total paragraph chars minus `array_distinct` paragraph chars,
    * exactly the q55 dup-line formulation one granularity up. */
  def gopherDupParagraphRules(documents: DataFrame): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val paras = filter(split(txt, "\n{2,}"), p => trim(p) =!= "")
    val n = size(paras)
    val nD = greatest(n.cast("double"), lit(1.0))
    val totChars = aggregate(paras, lit(0L), (a, p) => a + length(p))
    val distChars = aggregate(array_distinct(paras), lit(0L), (a, p) => a + length(p))
    documents.select(
      col("doc_id"),
      n.as("n_paragraphs"),
      round((n - size(array_distinct(paras))).cast("double") / nD, 6).as("dup_para_frac"),
      round((totChars - distChars).cast("double") /
        greatest(totChars.cast("double"), lit(1.0)), 6).as("dup_para_char_frac"))
  }

  /** C4's heuristic clean-up bundle (Raffel et al. 2020 §2.2 — the rule
    * set behind the most widely used public pretraining corpus), split
    * into its two native levels:
    *
    *   LINE retention — a line survives iff it (a) ends in a terminal
    *   punctuation mark (`. ! ? "`), (b) does not trail off in a `...`
    *   ellipsis, (c) has at least `minWordsPerLine` whitespace words
    *   (the paper's "at least 3 words"), (d) does not mention
    *   "javascript" (the enable-JS boilerplate), and (e) carries none of
    *   the policy-notice substrings ("privacy policy" etc., the TFDS
    *   implementation's list). `clean_text` is the kept lines re-joined.
    *
    *   PAGE observables — `has_lorem_ipsum` / `has_brace` flag the
    *   placeholder-text and code heuristics over the RAW text (a dropped
    *   line still poisons its page, as in the original), and
    *   `n_sentences` counts terminal-punctuation segments of the KEPT
    *   text that contain a word character (a deterministic stand-in for
    *   the original's sentence tokenizer). `passes` is the conjunction:
    *   no lorem-ipsum, no brace, >= `minSentences` sentences.
    *
    * C4's remaining rule — the three-sentence-span corpus dedup — is a
    * corpus-wide operator, not a row kernel: `Dedup.corpusSpanDedup`.
    * Pure per-row codegen'd column math — zero shuffle, runs inside the
    * scan stage (test-gated). */
  def c4Filters(
      documents: DataFrame,
      minWordsPerLine: Int = 3,
      minSentences: Int = 5): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val lines = split(txt, "\n")
    val policy = array(Seq("terms of use", "privacy policy", "cookie policy",
      "uses cookies", "use of cookies", "use cookies").map(lit): _*)
    def lineKept(l: Column): Column = {
      val t = trim(l)
      val lo = lower(t)
      t.rlike("[.!?\"]$") &&
        !t.rlike("\\.\\.\\.$") &&
        size(filter(split(t, "\\s+"), w => w =!= "")) >= minWordsPerLine &&
        !lo.contains("javascript") &&
        !exists(policy, p => lo.contains(p))
    }
    val kept = filter(lines, l => lineKept(l))
    val clean = array_join(kept, "\n")
    val sentences = size(filter(split(clean, "[.!?]"), s => s.rlike("[A-Za-z0-9]")))
    val hasLorem = lower(txt).contains("lorem ipsum")
    val hasBrace = txt.contains("{")
    documents.select(
      col("doc_id"),
      clean.as("clean_text"),
      size(lines).as("n_lines"),
      size(kept).as("n_lines_kept"),
      hasLorem.as("has_lorem_ipsum"),
      hasBrace.as("has_brace"),
      sentences.as("n_sentences"),
      (!hasLorem && !hasBrace && sentences >= minSentences).as("passes"))
  }

  /** WORD-BOUNDARY blocklist page filter — the C4 step [[c4Filters]]
    * deliberately leaves out (the paper's "List of Dirty, Naughty ..."
    * rule: drop the PAGE on any hit): a term matches only as a whole
    * lowercase letter-token, never as a substring (the classic
    * false-positive class — a place name containing a slur substring —
    * is structurally impossible). Multi-word/substring patterns are
    * [[graft.ops.Dedup.phraseScan]]'s job (Aho-Corasick over raw bytes);
    * this is the token-level complement.
    *
    * Output per doc: n_block_hits (total matching token occurrences),
    * n_block_terms (DISTINCT terms present — counted by iterating the
    * term list, so both engines agree without dedup-semantics questions),
    * passes = zero hits. NULL text = no tokens = passes.
    *
    * Scale shape: pure codegen'd column math over one scan — the term
    * list is a curated blocklist (hundreds to a few thousand entries) and
    * becomes a constant-folded literal array; per-token membership is
    * O(|terms|) which is fine at that size (`require`-gated). A
    * million-entry list wants the broadcast-join-on-exploded-tokens shape
    * instead — see the scaladoc trail on [[graft.ops.CorpusOps.blocklistFilter]]. */
  def blockTermStats(documents: DataFrame, terms: Seq[String],
      maxTerms: Int = 10000): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    require(terms.size <= maxTerms,
      s"terms list has ${terms.size} entries (cap $maxTerms): a list this " +
        "size should run as a broadcast join on exploded tokens, not a " +
        "literal array scan")
    val norm = terms.map(_.toLowerCase(java.util.Locale.ROOT)).distinct
    val termArr = array(norm.map(lit): _*)
    val toks = filter(
      split(lower(coalesce(col("text"), lit(""))), "[^\\p{L}]+"),
      t => t =!= "")
    val hits = size(filter(toks, t => array_contains(termArr, t)))
    documents.select(
      col("doc_id").cast("long").as("doc_id"),
      hits.cast("long").as("n_block_hits"),
      size(filter(termArr, t => array_contains(toks, t)))
        .cast("long").as("n_block_terms"),
      (hits === 0).as("passes"))
  }

  /** like `topRunCount` but also returns WHICH element had the longest
    * run: a strictly-greater update on a sorted array keeps the FIRST
    * (lexicographically smallest) maximal run — the deterministic
    * tie-break the repetition rules document */
  private def topRunStats(sortedArr: Column): Column =
    aggregate(
      sortedArr,
      struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit(null).cast("string").as("bestGram")),
      (acc, x) => {
        val run = when(acc.getField("prev") <=> x, acc.getField("run") + 1L).otherwise(1L)
        val isNewBest = run > acc.getField("best")
        struct(x.as("prev"), run.as("run"),
          when(isNewBest, run).otherwise(acc.getField("best")).as("best"),
          when(isNewBest, x).otherwise(acc.getField("bestGram")).as("bestGram"))
      },
      acc => struct(acc.getField("best").as("c"), acc.getField("bestGram").as("gram")))

  /** the SHAPE subset of the Gopher rules (symbol floods, bullet walls,
    * non-alphabetic filler) as one boolean Column — for composing into a
    * pipeline `where` at zero shuffle cost (the full `gopherRules` frame
    * is the auditable per-rule surface) */
  def gopherShapeGate(text: Column): Column = {
    val g = gopherRuleCols(coalesce(text, lit("")))
    g.symRatio < 0.1 && g.bulletRatio < 0.9 && g.alphaRatio >= 0.8
  }

  private final case class GopherCols(
      nWords: Column, meanLen: Column, symRatio: Column, bulletRatio: Column,
      ellipsisRatio: Column, alphaRatio: Column, stopHits: Column)

  private def gopherRuleCols(txt: Column): GopherCols = {
    val words = filter(split(trim(txt), "\\s+"), w => w =!= "")
    val lines = split(txt, "\n")
    val nWords = size(words)
    val nWordsD = greatest(nWords.cast("double"), lit(1.0))
    val meanLen = round(
      aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("double") / nWordsD, 6)
    val hashes = length(txt) - length(replace(txt, lit("#"), lit("")))
    val dots = floor((length(txt) - length(replace(txt, lit("..."), lit(""))) ) / 3)
    val uniEll = length(txt) - length(replace(txt, lit("…"), lit("")))
    val symRatio = round((hashes + dots + uniEll).cast("double") / nWordsD, 6)
    val nLinesD = greatest(size(lines).cast("double"), lit(1.0))
    val bulletRatio = round(
      size(filter(lines, l => substring(trim(l), 1, 1).isin("-", "*", "•"))).cast("double") / nLinesD, 6)
    val ellipsisRatio = round(
      size(filter(lines, l => trim(l).endsWith("...") || trim(l).endsWith("…"))).cast("double") / nLinesD, 6)
    val alphaRatio = round(
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWordsD, 6)
    val stopHits = size(array_intersect(
      transform(words, w => lower(w)),
      array(Seq("the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)))
    GopherCols(nWords, meanLen, symRatio, bulletRatio, ellipsisRatio, alphaRatio, stopHits)
  }

  /** CCNet-style n-gram language-model scoring: train word-BIGRAM counts
    * over the corpus, then score each document by its average negative
    * log-probability under the add-one smoothed model — the fluency
    * signal CCNet uses (there via a KenLM 5-gram; a corpus-trained bigram
    * is the deterministic, dependency-free shape of the same idea).
    * Lower = more natural relative to the corpus; repetitive or
    * out-of-register documents score high. Training and scoring share
    * one frame by design: a separate reference corpus would need an
    * unseen-bigram fallback (left join + alpha/(c1+alpha*V)) that the
    * inner joins here deliberately do not pretend to provide.
    *
    * Scale shape: classic word-count — the count tables shuffle tokens
    * with map-side partial aggregation, the scoring join shuffles
    * (doc_id, w1, w2) rows, the final per-doc average shuffles doc_ids.
    * The vocabulary size joins in as a broadcast 1-row aggregate (the
    * whole plan stays LAZY — no Spark job fires before an action). Docs
    * with fewer than two tokens score 0 with n_bigrams = 0 (kept, never
    * dropped). Output: (doc_id, avg_neg_logp rounded to 1e-6, n_bigrams). */
  def ngramLmScore(documents: DataFrame, alpha: Double = 1.0): DataFrame = {
    val toks = split(lower(trim(coalesce(col("text"), lit("")))), "\\s+")
    val base = documents.select(col("doc_id"), toks.as("t"))
    val bi = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(t)-2), i -> struct(t[i] as w1, t[i+1] as w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val biCounts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val headCounts = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    // vocabulary size joins in as a broadcast ONE-ROW aggregate. The
    // optimizer constant-folds any equal-constant join key (x*0 included,
    // via non-nullable arithmetic simplification), so this always plans
    // as a single-build-row BroadcastNestedLoopJoin — which IS the
    // optimal scalar-subquery shape (each probe row matches the one
    // build row; zero per-row search), and a one-row broadcast side is
    // not an all-pairs join. The plan stays fully lazy (review round-4
    // finding: the previous vocab.count() fired a corpus job at call
    // time).
    val vocab = base.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("vocab_n"))
    val scored = bi
      .join(biCounts, Seq("w1", "w2"))
      .join(headCounts, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nlp", -log((col("c12") + lit(alpha)) / (col("c1") + col("vocab_n") * lit(alpha))))
      .groupBy(col("doc_id"))
      .agg(round(avg(col("nlp")), 6).as("lm"), count(lit(1)).as("nb"))
    documents.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("lm"), lit(0.0)).as("avg_neg_logp"),
        coalesce(col("nb"), lit(0L)).as("n_bigrams"))
  }

  /** the remaining Gopher repetition rows (Rae et al. 2021 table A1):
    * duplicated n-gram CHARACTER fractions for n=5..10 — the mass of
    * characters covered by any word n-gram occurring more than once
    * WITHIN the document (union of covered positions, no double count —
    * the published DataTrove/NeMo semantics) — plus the top-4-gram
    * coverage that completes the top-n family (q55 carries 2/3).
    * Conventions: tokens are whitespace words; dup-n covered mass counts
    * token characters (separators excluded) over total token characters;
    * top-4 uses q55's formula (occurrences x gram length / raw text
    * length, capped at 1.0, lexicographic tie-break on the mode).
    *
    * ENTIRELY per-row column math, zero shuffle (test-gated): duplicated
    * grams fall out of sorted-adjacency inside the row; a per-start
    * boolean "this gram is duplicated" array is computed ONCE per n
    * (O(L x |dup_n|) total), so the windowed coverage exists is an O(n)
    * boolean lookup per token — not an O(|dup_n|) list scan inside every
    * window probe, which would go quadratic exactly on the templated
    * pages these rules target (review round-4 finding). Bounded by doc
    * size like every other row kernel (higher-order functions run
    * interpreted, but array-local; the explode+groupBy alternative
    * shuffles one row per gram occurrence — bigger than the corpus). */
  def gopherDupNgramRules(documents: DataFrame, ns: Seq[Int] = 5 to 10): DataFrame = {
    // TYPED per-row kernel (round 5): the previous layered-Column build
    // was correct and cheap under count()-style actions (Catalyst prunes
    // the unused columns), but on the WRITE path projection collapse
    // inlined the sort/dedup subtree into every window probe of the
    // coverage expression — higher-order lambdas are interpreted, so one
    // 500-doc dump burned ~8 CPU-minutes. The kernel evaluates each
    // stage once per row; semantics (and the OpsSpec fixture values) are
    // unchanged: sorted-gram run stats with first-lexicographic ties,
    // duplicated-gram UNION window coverage, HALF_UP 6-digit rounding.
    val spark = documents.sparkSession
    import spark.implicits._
    val nsArr = ns.toArray
    documents.select(col("doc_id").cast("long"), coalesce(col("text"), lit("")))
      .as[(Long, String)]
      .map { case (id, gtxt) =>
        val (top4, fracs) = dupNgramStats(gtxt, nsArr)
        (id, top4, fracs)
      }
      .select(
        Seq(col("_1").as("doc_id"), col("_2").as("top4_char_frac")) ++
          nsArr.indices.map(i =>
            element_at(col("_3"), i + 1).as(s"dup_${nsArr(i)}gram_char_frac")): _*)
  }

  /** pure row kernel behind [[gopherDupNgramRules]]: returns
    * (top4_char_frac, dup-frac per n). Mirrors the Column semantics the
    * OpsSpec fixture pins: tokens = whitespace split of trim (empties
    * dropped), grams joined single-space, top-4 run stats on the SORTED
    * gram list keeping the first maximal run, a token covered iff any
    * n-window over a duplicated gram start contains it, fractions
    * rounded HALF_UP to 6 (Spark's `round`). */
  private[graft] def dupNgramStats(gtxt: String, ns: Array[Int]): (Double, Array[Double]) = {
    val t = gtxt.trim.split("\\s+").filter(_.nonEmpty)
    // Spark parity: round() is toString-based HALF_UP (BigDecimal.valueOf,
    // NOT the exact-binary double constructor); length() counts CODE
    // POINTS (UTF8String.numChars), and array_sort orders by UTF-8 code
    // points — Java's UTF-16 compareTo would diverge for astral chars
    def r6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def cpLen(x: String): Int = x.codePointCount(0, x.length)
    def grams(n: Int): Array[String] =
      if (t.length >= n) Array.tabulate(t.length - n + 1)(i => t.slice(i, i + n).mkString(" "))
      else Array.empty[String]
    // top-4 run stats over the sorted gram list (strictly-greater update
    // keeps the FIRST, code-point-smallest, maximal run)
    val cpOrd: Ordering[String] =
      (a, b) => graft.ops.CorpusOps.compareCodePoints(a, b)
    val sg4 = grams(4).sorted(cpOrd)
    var best = 0L
    var bestGram: String = null
    var run = 0L
    var prev: String = null
    sg4.foreach { g =>
      run = if (prev == g) run + 1 else 1L
      if (run > best) { best = run; bestGram = g }
      prev = g
    }
    val gl = cpLen(gtxt).toDouble
    val top4 = math.min(1.0,
      r6(best * (if (bestGram == null) 0 else cpLen(bestGram)) / math.max(gl, 1.0)))
    val totalChars = t.iterator.map(w => cpLen(w).toLong).sum
    val fracs = ns.map { n =>
      if (t.length < n) 0.0
      else {
        val gs = grams(n)
        val counts = new java.util.HashMap[String, Int]()
        gs.foreach(g => counts.merge(g, 1, Integer.sum _))
        val dupStart = gs.map(g => counts.get(g) > 1)
        var cov = 0L
        var i = 0
        while (i < t.length) {
          var s = math.max(0, i - n + 1)
          val sMax = math.min(i, t.length - n)
          var covered = false
          while (s <= sMax && !covered) { covered = dupStart(s); s += 1 }
          if (covered) cov += cpLen(t(i))
          i += 1
        }
        r6(cov.toDouble / math.max(totalChars.toDouble, 1.0))
      }
    }
    (top4, fracs)
  }

  /** CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3): bucket
    * each LANGUAGE's documents into perplexity terciles — "head" is the
    * most fluent third (lowest `ngramLmScore`), the slice CCNet-derived
    * corpora actually train on. Deterministic total order (score asc,
    * doc_id asc) so the tercile boundary is retry-stable.
    *
    * Scale shape: scoring is `ngramLmScore`'s plan; the tercile is a
    * per-language ntile window — ONE sort per language partition over
    * (doc_id, score) pairs, not documents (text is dropped before the
    * window). Like `tokenBudgetSelect`, a web-scale hot language wants
    * the two-pass production variant: approximate the two cutoff scores
    * on a sample (CCNet itself computes cutoffs on a sample), broadcast
    * them, assign buckets map-side — this exact-window form is the
    * oracle-checkable reference semantics.
    *
    * Unscoreable documents (0-1 tokens — no bigrams, `n_bigrams` = 0)
    * sort AFTER every scored document: their coalesced 0.0 score is not
    * a fluency measurement (every real score is strictly positive), and
    * letting them sort first would fill the "head" tercile — the slice
    * downstream corpora train on — with near-empty docs. They land in
    * the tail end of the order instead (review round-4 finding). */
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = ngramLmScore(documents)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy((col("n_bigrams") === 0).asc, col("avg_neg_logp").asc, col("doc_id").asc)
    scored
      .withColumn("tercile", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("avg_neg_logp"),
        when(col("tercile") === 1, lit("head"))
          .when(col("tercile") === 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** intra-document line dedup (the per-document pass of CCNet-family
    * paragraph dedup): drop REPEATED non-blank lines within each
    * document, keep the first occurrence, preserve order. Blank/
    * whitespace-only lines are structure, not paragraphs — always kept
    * (the same invariant `Dedup.corpusLineDedup` and
    * `removeBoilerplateLines` enforce; deduping separators would merge
    * every paragraph after the first blank). Pure per-row codegen'd
    * column math — no explode, no shuffle, documents never move: at any
    * corpus size this runs inside the scan stage (zero-Exchange,
    * test-gated). Per-row cost is O(lines^2) array_position scans —
    * bounded by document size, the same contract as the other per-row
    * kernels. */
  def dedupLinesWithin(documents: DataFrame): DataFrame = {
    val lines = split(coalesce(col("text"), lit("")), "\n")
    val kept = filter(lines, (x, i) =>
      trim(x) === "" || array_position(lines, x) === (i + lit(1)).cast("long"))
    documents.select(
      col("doc_id"),
      array_join(kept, "\n").as("clean_text"),
      (size(lines) - size(kept)).as("n_removed"))
  }

  // ---- cross-document line-level boilerplate removal ---------------------------

  /** remove lines that repeat across the corpus more than `maxDf` times —
    * the CCNet/C4-family line-level dedup that strips nav bars, cookie
    * notices and footers surviving per-document extraction. df counts
    * OCCURRENCES (a line twice in one doc counts twice); the doc's
    * surviving lines are reassembled in original order, and fully-
    * boilerplate docs come back with an empty `clean_text` (downstream
    * length filters drop them — silently losing the rows here would make
    * corpus accounting lie).
    *
    * Blank/whitespace-only lines are NEVER counted or removed: paragraph
    * separators repeat corpus-wide by construction, and stripping them
    * would collapse every document's paragraph structure.
    *
    * Scale shape: the corpus is scanned ONCE (exploded to lines), then
    * three shuffles on 8-byte line hashes or doc_id — (1) partial-
    * aggregated line-hash df count over non-blank lines, (2) a marker
    * join of exploded lines vs frequent lines (the frequent set is NOT
    * broadcast: with maxDf ~ O(10) it is corpus-scale/maxDf, far beyond
    * driver memory — a shuffled join is the honest plan; a top-k-only
    * approximate variant could broadcast, with documented recall loss),
    * (3) one regroup by doc_id reassembling kept lines AND counting
    * totals in the same aggregate (no second scan of the input). */
  def removeBoilerplateLines(documents: DataFrame, maxDf: Int = 2): DataFrame =
    boilerplateEngine(documents, maxDf, Nil)

  /** [[removeBoilerplateLines]] with df counted PER GROUP (default: the
    * `source` column — per-host at crawl scale): a nav bar repeated on
    * every page of one site is removed from that site without a corpus-
    * wide threshold ever seeing it, and a phrase that legitimately
    * recurs across MANY sites ("All rights reserved" quotes inside
    * articles) is not globally nuked by one site's template. This is the
    * granularity the CCNet line-dedup actually runs at (per shard ≈ per
    * crawl slice) and the natural one for site-template stripping.
    * NULL group keys fold to "" (one shared bucket, mirroring q36's
    * coalesce contract) — a null-source doc still gets its lines
    * deduped, just against the other unattributed docs.
    *
    * Same output shape and scale shape as q42, with every shuffle keyed
    * by (group, 8-byte line hash) instead of the bare hash — strictly
    * better skew behavior (the hottest global line, an empty-ish
    * separator or cookie notice, splits across groups). */
  def removeBoilerplateLinesPerGroup(documents: DataFrame, maxDf: Int = 2,
      groupCol: String = "source"): DataFrame =
    boilerplateEngine(documents, maxDf, Seq(groupCol))

  private def boilerplateEngine(documents: DataFrame, maxDf: Int,
      keyCols: Seq[String]): DataFrame = {
    // NULL text coalesces to "" BEFORE the split: split(NULL) is NULL and
    // posexplode(NULL) emits ZERO rows, which would silently drop the
    // document from the output — exactly the corpus-accounting lie the
    // docstring promises not to tell. A NULL-text doc behaves like an
    // empty-text doc: one blank line, kept, clean_text = "".
    val keys = keyCols.map(k => coalesce(col(k).cast("string"), lit("")).as(k))
    val lines = documents
      .select(col("doc_id") +: keys :+
        posexplode(split(coalesce(col("text"), lit("")), "\n")).as(Seq("pos", "line")): _*)
      .withColumn("line_hash", xxhash64(col("line")))
    val joinKeys = keyCols :+ "line_hash"
    val frequent = lines
      .filter(trim(col("line")) =!= "")
      .groupBy(joinKeys.map(col): _*)
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(joinKeys.map(col) :+ lit(true).as("is_freq"): _*)
    lines
      .join(frequent, joinKeys, "left_outer")
      .withColumn("freq", coalesce(col("is_freq"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            filter(array_sort(collect_list(struct(col("pos"), col("line"), col("freq")))),
              x => !x.getField("freq")),
            x => x.getField("line")), "\n").as("clean_text"),
        sum(when(col("freq"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("freq"), 1L).otherwise(0L)).as("n_removed"))
  }

  /** FineWeb's three custom document filters (Penedo et al. 2024, "The
    * FineWeb Datasets", arXiv:2406.17557 §3.6 — the rules FineWeb adds ON
    * TOP of the C4/Gopher bundles after ablating each against benchmark
    * scores):
    *
    *   1. `punct_line_ratio` — fraction of non-blank lines ending in a
    *      C4 terminal punctuation mark (`. ! ? "`); a page is REMOVED when
    *      the ratio is <= `punctLineRatioMin` (0.12): listings, menus and
    *      tag soup terminate almost no lines.
    *   2. `short_line_frac` — fraction of non-blank LINES shorter than
    *      `shortLineLen` (30) chars (the datatrove FineWebQualityFilter's
    *      `short_line_thr` counts lines, not characters); REMOVED when
    *      >= `shortLineFracMax` (0.67): nav/boilerplate walls.
    *   3. `newline_word_ratio` — newline characters per whitespace word;
    *      REMOVED when >= `newlineWordRatioMax` (0.3): fragmented
    *      scaffolding rather than prose.
    *
    * (FineWeb's fourth rule — the fraction of characters in duplicated
    * lines — is the Gopher repetition observable already surfaced by
    * [[gopherRepetitionRules]]' `dup_line_char_frac`; compose the two
    * frames for the full datatrove conjunction.)
    *
    * `passes` is the conjunction (strict inequality on the survive side,
    * matching the paper's "remove if <= / >=" phrasing). Blank-only or
    * NULL docs observe 0.0 everywhere and fail rule 1. Deviation from
    * datatrove: blank lines are excluded from BOTH line ratios (datatrove
    * splits on raw `\n`), keeping rule denominators consistent. Ratios
    * round HALF_UP to 1e-6 (Spark `round`) for cross-engine value
    * identity.
    *
    * Scale shape: pure per-row codegen'd column math — no explode, no
    * UDF, zero shuffle; runs fused inside the scan stage (test-gated). */
  def finewebFilters(
      documents: DataFrame,
      punctLineRatioMin: Double = 0.12,
      shortLineLen: Int = 30,
      shortLineFracMax: Double = 0.67,
      newlineWordRatioMax: Double = 0.3): DataFrame = {
    val txt = coalesce(col("text"), lit(""))
    val lines = filter(split(txt, "\n"), l => trim(l) =!= "")
    val nLines = size(lines)
    val punctLines = size(filter(lines, l => trim(l).rlike("[.!?\"]$")))
    val punctRatio = when(nLines === 0, lit(0.0))
      .otherwise(punctLines.cast("double") / nLines.cast("double"))
    val shortLines = size(filter(lines, l => length(l) < shortLineLen))
    val shortFrac = when(nLines === 0, lit(0.0))
      .otherwise(shortLines.cast("double") / nLines.cast("double"))
    val nNewlines = (size(split(txt, "\n")) - 1).cast("double")
    val words = tokenCount(txt)
    val nlRatio = when(words === 0, lit(0.0))
      .otherwise(nNewlines / words.cast("double"))
    documents.select(
      col("doc_id"),
      nLines.as("n_lines"),
      round(punctRatio, 6).as("punct_line_ratio"),
      round(shortFrac, 6).as("short_line_frac"),
      round(nlRatio, 6).as("newline_word_ratio"),
      (punctRatio > punctLineRatioMin &&
        shortFrac < shortLineFracMax &&
        nlRatio < newlineWordRatioMax).as("passes"))
  }

  // ---- BM25 retrieval scoring ---------------------------------------------------

  /** Okapi BM25 top-K document retrieval for a term query — the lexical
    * ranking every curation pipeline reaches for when it needs "the docs
    * most about X" (seed expansion, targeted decontamination sweeps,
    * audit sampling). Uses the Robertson/Sparck-Jones idf with the +1
    * floor (the Lucene form, non-negative for df > N/2):
    *
    *   score(d) = Σ_t ln((N - df_t + 0.5)/(df_t + 0.5) + 1)
    *                · tf_t·(k1+1) / (tf_t + k1·(1 - b + b·dl/avgdl))
    *
    * Tokenization is the q33 contract (lower, trim, split on whitespace)
    * so any SQL engine recomputes it exactly. Per-term contributions are
    * rounded to integer MICRO-units before summing (the q77 exact-parity
    * discipline: long sums are order-independent, so the cross-engine
    * float hazard is confined to one ln + one division per term, not to
    * a summation order). Only documents matching at least one query term
    * are candidates (standard retrieval semantics).
    *
    * Output: (doc_id, n_terms_matched, score_e6, rnk) — the topK docs by
    * (score_e6 desc, doc_id asc), rnk 1-based.
    *
    * Scale shape: the query-term list is tiny and driver-resident, so
    * everything is per-row column math over TWO corpus scans and ZERO
    * data shuffles — scan 1 is one partial-combined global aggregate
    * (N, Σdl, per-term df via conditional sums — a single scalar row),
    * scan 2 scores each row against driver-computed idf literals; the
    * only movement is the distributed top-K (TakeOrderedAndProject, K
    * rows per partition to the driver). The alternative explode + join
    * plan shuffles a posting list per occurrence of every query term —
    * corpus-sized for a stopword query — and is strictly worse. */
  /** query normalization shared by both BM25 paths: lower, trim,
    * whitespace split, distinct (duplicate query terms count once). */
  private def bm25Terms(query: String): Seq[String] =
    Option(query).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).distinct.toSeq

  /** the BM25 output contract schema, for empty-result short circuits. */
  private def bm25Empty(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_terms_matched",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("score_e6",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("rnk",
          org.apache.spark.sql.types.LongType))))

  /** the q33-contract tokenization both BM25 paths and the index build
    * share: lower, trim, split on whitespace; empty/NULL text -> []. */
  private[graft] def bm25Toks: Column = {
    val txt = coalesce(col("text"), lit(""))
    when(length(trim(txt)) === 0, expr("array()"))
      .otherwise(split(trim(lower(txt)), "\\s+"))
  }

  /** one term's integer micro-unit BM25 contribution — the EXACT double
    * expression both the scan path and the index path evaluate, so their
    * scores are bit-identical (same association order; the idf enters as
    * a literal here and as an equal-valued column in the index path —
    * identical IEEE ops either way). */
  private def bm25Contrib(tfc: Column, dl: Column, idf: Column,
      avgdl: Double, k1: Double, b: Double): Column = {
    val denom = when(lit(avgdl) === 0.0, lit(k1) * lit(1.0 - b) + tfc)
      .otherwise(tfc + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl)))
    round(idf * (tfc * lit(k1 + 1.0)) / denom * 1e6, 0).cast("long")
  }

  /** Robertson idf with the +1 floor, shared by both paths. */
  private def bm25Idf(nDocs: Long, df: Long): Double =
    math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)

  def bm25TopDocs(documents: DataFrame, query: String, topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val qterms = bm25Terms(query)
    val empty = bm25Empty(spark)
    if (qterms.isEmpty) return empty
    // tokenization stays the shared Catalyst bm25Toks contract; the
    // per-term tf counting is a typed kernel (the q109 discipline): the
    // former size(filter(toks, _ === t)) higher-order expressions are
    // interpreted per element AND per query term, while this is one
    // JIT'd pass over the tokens emitting every term's exact count
    val nq = qterms.length
    val qIdx: Map[String, Int] = qterms.zipWithIndex.toMap
    val tfRows = documents
      .select(col("doc_id").cast("long").as("doc_id"), bm25Toks.as("toks"))
      .as[(java.lang.Long, scala.collection.Seq[String])]
      .map { case (id, toks) =>
        val tfs = new Array[Long](nq)
        val it = toks.iterator
        while (it.hasNext) {
          qIdx.get(it.next()) match {
            case Some(j) => tfs(j) += 1L
            case None => ()
          }
        }
        (id, toks.size.toLong, tfs)
      }.toDF("doc_id", "dl", "tfs")
    // scan 1: N, Σdl and every query term's df in ONE partial-combined agg
    val tf = (i: Int) => col("tfs")(i)
    val aggCols = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("sum_dl") +:
      qterms.indices.map { i =>
        sum(when(tf(i) > 0, 1L).otherwise(0L)).as(s"df_$i")
      }
    val statsRow = tfRows.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nDocs = statsRow.getLong(0)
    if (nDocs == 0) return empty
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    // exact-integer sum / exact count: one IEEE division, identical in
    // any engine recomputing it
    val avgdl = sumDl.toDouble / nDocs.toDouble
    // scan 2: per-row contributions against driver-computed idf literals
    val contribs = qterms.zipWithIndex.map { case (t, i) =>
      val df = statsRow.getLong(2 + i)
      val tfc = tf(i).cast("double")
      when(tfc > 0,
        bm25Contrib(tfc, col("dl"), lit(bm25Idf(nDocs, df)), avgdl, k1, b))
        .otherwise(lit(0L))
    }
    val matched = qterms.indices
      .map(i => when(col(s"m_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val scored = tfRows.select(
      col("doc_id") +: col("dl") +:
        (contribs.zipWithIndex.map { case (c, i) => c.as(s"c_$i") } ++
          // tf>0 with a zero contribution (idf rounds to 0) still counts
          // as a match — track it separately from the contribution
          qterms.indices.map { i => (tf(i) > 0).as(s"m_$i") }): _*)
      .withColumn("score_e6", qterms.indices.map(i => col(s"c_$i")).reduce(_ + _))
      .withColumn("n_terms_matched", matched)
      .filter(col("n_terms_matched") > 0)
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(topK)
    scored.withColumn("rnk",
        row_number().over(Window.orderBy(col("score_e6").desc, col("doc_id").asc))
          .cast("long"))
      .select(col("doc_id"), col("n_terms_matched"), col("score_e6"), col("rnk"))
  }

  /** PMI collocation mining — the corpus-statistics pass run before
    * tokenizer training and multi-word-expression detection: for every
    * adjacent token bigram occurring at least `minCount` times,
    * PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) with p(a,b) = c_ab/N_bigrams
    * and p(x) = c_x/N_tokens. "new york" scores high (its parts rarely
    * appear apart); "of the" scores near zero.
    *
    * Cross-engine exactness: every count is an exact long; the PMI is
    * assembled as a FIXED left-associated sum of ln's of those exact longs
    * (ln c_ab + ln N_u + ln N_u − ln N_bg − ln c_a − ln c_b), rounded to
    * integer micro-units — six IEEE ops in a written order any engine
    * reproduces bit-for-bit, no product that could overflow and no
    * summation-order hazard. Tokenization is the q33 contract.
    *
    * Output: (term_a, term_b, n_pair, n_a, n_b, pmi_e6) for bigrams with
    * n_pair >= minCount.
    *
    * Scale shape: one token explode + ONE partial-combined unigram
    * aggregate; one in-row bigram build (zip of the array with its tail —
    * no second explode pass over positions) + ONE bigram aggregate; the
    * surviving bigram table (vocabulary²-bounded, minCount-pruned) joins
    * the unigram table twice on the term key. Corpus text never moves:
    * both shuffles carry tokens/pairs with partial counts. */
  def pmiCollocations(documents: DataFrame, minCount: Long = 2L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val base = documents.select(bm25Toks.as("toks"))
    val uni = base.select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    // bigrams in-row: zip toks with its tail; slice is 1-based
    val pairs = base
      .filter(size(col("toks")) >= 2)
      .select(explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("bg"))
      .select(col("bg.0").as("term_a"), col("bg.1").as("term_b"))
      .groupBy(col("term_a"), col("term_b")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val totals = base.agg(
      sum(size(col("toks")).cast("long")).as("nu"),
      sum(greatest(size(col("toks")) - 1, lit(0)).cast("long")).as("nbg"))
      .collect()(0)
    val nu = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val nbg = if (totals.isNullAt(1)) 0L else totals.getLong(1)
    if (nu == 0L || nbg == 0L)
      return pairs.select(col("term_a"), col("term_b"), col("n_pair"),
        lit(0L).as("n_a"), lit(0L).as("n_b"), lit(0L).as("pmi_e6")).limit(0)
    val lnNu = lit(math.log(nu.toDouble))
    val lnNbg = lit(math.log(nbg.toDouble))
    pairs
      .join(uni.select(col("term").as("term_a"), col("n").as("n_a")), Seq("term_a"))
      .join(uni.select(col("term").as("term_b"), col("n").as("n_b")), Seq("term_b"))
      .select(col("term_a"), col("term_b"), col("n_pair"), col("n_a"), col("n_b"),
        round((log(col("n_pair").cast("double")) + lnNu + lnNu - lnNbg -
          log(col("n_a").cast("double")) - log(col("n_b").cast("double"))) * 1e6, 0)
          .cast("long").as("pmi_e6"))
  }

  /** inverted-index build for [[bm25TopDocsIndexed]] — the serving-side
    * counterpart of the scan-side [[bm25TopDocs]], mirroring the
    * build/search split the ANN family uses (SimSearch.buildIvfIndex vs
    * ivfTopK): pay one indexing pass, then answer every query by touching
    * only its terms' postings instead of rescanning the corpus.
    *
    * Returns (postings, docLens): postings has one row per (term, doc_id)
    * with the term frequency; docLens one row per document with its token
    * length (empty/NULL-text docs kept at dl=0 — they are part of N and
    * avgdl, exactly as the scan path counts them).
    *
    * Input contract: `doc_id` must be unique per row. The in-doc tf count
    * trusts it — two rows sharing a doc_id emit duplicate (term, doc_id)
    * postings and two docLens rows, which the [[bm25TopDocsIndexed]]
    * scoring join (q99) then double-counts. It is not checked, because
    * checking costs a distinct-count job on every build.
    *
    * Scale shape: ONE shuffle-free typed pass — tf is counted in-doc
    * (each (term, doc_id) pair originates in exactly one document row,
    * so the per-doc counts ARE the postings; no explode, no aggregate);
    * docLens is a shuffle-free projection. Persist both as plain parquet
    * tables partitioned however the store likes; at serving scale,
    * sort/bucket postings by term so a query's probe is a pruned range
    * read, not a full postings scan. */
  def buildTextIndex(documents: DataFrame): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val base = documents.select(col("doc_id").cast("long").as("doc_id"),
      bm25Toks.as("toks"))
    // tf counting happens IN-DOC (typed pass over the shared bm25Toks
    // tokenization): every (term, doc_id) pair originates in exactly one
    // document row, so the per-doc counts ARE the postings — the former
    // explode (one row per token occurrence) + (term, doc_id) aggregate
    // shuffled the whole token stream to produce the same table. The
    // build becomes shuffle-free; persist/sort order is the store's
    // concern.
    val postings = base
      .as[(java.lang.Long, scala.collection.Seq[String])]
      .flatMap { case (id, toks) =>
        val counts = new java.util.LinkedHashMap[String, Long]()
        val it = toks.iterator
        while (it.hasNext) counts.merge(it.next(), 1L, java.lang.Long.sum _)
        val out = new scala.collection.mutable.ArrayBuffer[(String, java.lang.Long, Long)](counts.size)
        counts.forEach { (t, c) => out += ((t, id, c)) }
        out
      }
      .toDF("term", "doc_id", "tf")
    val docLens = base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    (postings, docLens)
  }

  /** BM25 top-K over a prebuilt inverted index — value-identical to
    * [[bm25TopDocs]] on the same corpus (same tokenization, same integer
    * micro-unit contributions via the shared expression, same
    * tie-breaking), but the per-query cost is O(matching postings), not
    * O(corpus): the postings scan is filtered to the query's terms (an
    * `IN` predicate that reaches the parquet reader as a pushed filter on
    * a sorted/bucketed store), joined to docLens only for the matched
    * docs.
    *
    * Scale shape: corpus-level stats (N, Σdl) are one partial-combined
    * aggregate over docLens; per-term dfs one tiny aggregate over the
    * filtered postings; scoring joins the filtered postings (small for
    * selective terms) against docLens on doc_id and finishes with a
    * distributed top-K. No corpus-sized shuffle at query time. */
  def bm25TopDocsIndexed(postings: DataFrame, docLens: DataFrame,
      query: String, topK: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    import org.apache.spark.sql.expressions.Window
    val spark = postings.sparkSession
    val qterms = bm25Terms(query)
    val empty = bm25Empty(spark)
    if (qterms.isEmpty) return empty
    val statsRow = docLens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl")).collect()(0)
    val nDocs = statsRow.getLong(0)
    if (nDocs == 0) return empty
    val sumDl = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    val avgdl = sumDl.toDouble / nDocs.toDouble
    val matched = postings
      .filter(col("term").isin(qterms: _*))
      .select(col("term"), col("doc_id").cast("long").as("doc_id"),
        col("tf").cast("long").as("tf"))
    // per-term document frequencies: one tiny aggregate (<= |qterms| rows)
    val dfByTerm = matched.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (dfByTerm.isEmpty) return empty
    // idf literals resolved per posting row via a when-chain on term
    // (bounded by |qterms|, stays inside codegen)
    val idfCol = qterms.filter(dfByTerm.contains).map { t =>
      (col("term") === t, lit(bm25Idf(nDocs, dfByTerm(t))))
    }.foldRight(lit(0.0): Column) { case ((cond, v), acc) => when(cond, v).otherwise(acc) }
    val scored = matched
      .join(docLens.select(col("doc_id").cast("long").as("doc_id"),
        col("dl").cast("long").as("dl")), Seq("doc_id"))
      .select(col("doc_id"),
        // contribution recomputed per posting with the SHARED expression
        // (idf resolved by the bounded when-chain above)
        bm25Contrib(col("tf").cast("double"), col("dl"), idfCol, avgdl, k1, b)
          .as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"), sum(col("c")).as("score_e6"))
      .orderBy(col("score_e6").desc, col("doc_id").asc)
      .limit(topK)
    scored.withColumn("rnk",
        row_number().over(Window.orderBy(col("score_e6").desc, col("doc_id").asc))
          .cast("long"))
      .select(col("doc_id"), col("n_terms_matched"), col("score_e6"), col("rnk"))
  }

  /** paragraph-level language consistency — the CCNet shape (CCNet runs
    * langid per PARAGRAPH, not per document, precisely because crawled
    * pages mix boilerplate/nav in one language with content in another):
    * split on blank-line runs (the q56 paragraph contract: `\n{2,}`,
    * trimmed-empty paragraphs dropped), run [[detectLang]] per
    * paragraph, report the majority label and how much of the document
    * agrees with it. LOW consistency = mixed-language page — route to
    * per-paragraph filtering instead of trusting one doc-level label
    * (the q11/q12 failure mode this op exposes).
    *
    * Output (doc_id, n_paras, majority_lang, n_majority,
    * consistency_e6): majority by count, ties broken by MIN label;
    * consistency_e6 = floor(n_majority * 1e6 / n_paras) exact integer
    * micro-units; paragraph-less docs report (0, "und", 0, 0).
    *
    * Scale shape: one typed map fused with the scan — the per-paragraph
    * detector is the same bounded pure-JVM kernel q12 runs per doc;
    * zero shuffle, zero driver traffic. */
  def paragraphLangConsistency(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val paras = (if (text == null) "" else text)
          .split("\n{2,}").map(_.trim).filter(_.nonEmpty)
        if (paras.isEmpty) (id, 0L, "und", 0L, 0L)
        else {
          val counts = new java.util.HashMap[String, Int]()
          paras.foreach { p => counts.merge(detectLang(p), 1, Integer.sum _) }
          var mLang: String = null
          var mN = 0
          counts.forEach { (l, n) =>
            if (n > mN || (n == mN && (mLang == null || l < mLang))) {
              mLang = l; mN = n
            }
          }
          (id, paras.length.toLong, mLang, mN.toLong,
            mN.toLong * 1000000L / paras.length)
        }
      }
      .toDF("doc_id", "n_paras", "majority_lang", "n_majority",
        "consistency_e6")
  }

  /** deflate redundancy signal — the compression-ratio quality gate
    * (RefinedWeb-family): templated/repetitive bodies deflate far below
    * natural prose, catching machine-generated filler that per-line and
    * per-n-gram repetition rules (q20/q55) miss because the repetition
    * unit is irregular. Output (doc_id, n_bytes, n_deflate, ratio_e6)
    * with ratio_e6 = floor(n_deflate * 1e6 / n_bytes) — exact integer
    * micro-units (0 for empty docs). LOW ratio = redundant.
    *
    * Determinism: fixed level, default strategy, one-shot deflate of
    * the UTF-8 bytes; zlib's output is a pure function of (input,
    * settings, zlib build), so values are stable within a JVM — which
    * is why this surface is spec-gated (independent Deflater recompute
    * + redundancy-ordering fixtures), NOT DuckDB-oracled: no SQL engine
    * can restate deflate. Thresholding belongs to the caller;
    * calibrate cutoffs per zlib build the way CCNet calibrates
    * perplexity buckets per LM.
    *
    * Scale shape: one mapPartitions fused with the scan — ONE Deflater
    * per partition, reset per row (the native zlib handle is the
    * expensive part); zero shuffle, zero driver traffic. */
  def compressionSignals(documents: DataFrame, level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"level must be in [1,9], got $level")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(level)
        // the iterator is lazy, so end() can't run in this call frame;
        // the task-completion listener frees the native zlib state even
        // when a downstream limit() stops consuming early (a GC-time
        // cleaner would hold ~256KB native per task invisibly to the
        // heap until some later collection)
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null) tc.addTaskCompletionListener[Unit](_ => defl.end())
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val bytes = (if (text == null) "" else text)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          defl.reset()
          defl.setInput(bytes)
          defl.finish()
          var out = 0L
          while (!defl.finished()) out += defl.deflate(buf)
          val ratio = if (bytes.length == 0) 0L
            else out * 1000000L / bytes.length
          (id, bytes.length.toLong, out, ratio)
        }
      }
      .toDF("doc_id", "n_bytes", "n_deflate", "ratio_e6")
  }

  /** INDEPENDENT deflate-size recompute for the q118 audit: a fresh
    * Deflater per row (no reuse/reset), a deliberately different (small,
    * odd) output buffer, and the byte count accumulated through the
    * two-arg deflate overload — a distinct code path from
    * [[compressionSignals]]'s streaming kernel, so agreement is evidence,
    * not tautology. Audit-only (per-row allocation is the cost the
    * production kernel avoids). */
  def deflateSizeOneShot(documents: DataFrame, level: Int = 6): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = (if (text == null) "" else text)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(level)
        try {
          d.setInput(bytes)
          d.finish()
          val buf = new Array[Byte](727)
          var out = 0L
          while (!d.finished()) out += d.deflate(buf, 0, buf.length)
          (id, out)
        } finally d.end()
      }
      .toDF("doc_id", "n_deflate_oneshot")
  }

  /** strict RFC 3629 UTF-8 validation: rejects overlongs, surrogates,
    * > U+10FFFF, truncated sequences and bare continuation bytes — the
    * same set a REPORT-mode decoder rejects, without the allocation. */
  private[graft] def isValidUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    while (i < n) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else if (c < 0xC2) return false // continuation or overlong lead
      else {
        val need = if (c < 0xE0) 1 else if (c < 0xF0) 2
          else if (c < 0xF5) 3 else return false
        if (i + need > n - 1) return false // truncated sequence
        // per-lead tightened second-byte window kills overlongs,
        // surrogates (ED A0..BF) and > U+10FFFF (F4 90..)
        val lo = c match {
          case 0xE0 => 0xA0; case 0xED => 0x80; case 0xF0 => 0x90
          case 0xF4 => 0x80; case _ => 0x80
        }
        val hi = c match {
          case 0xED => 0x9F; case 0xF4 => 0x8F; case _ => 0xBF
        }
        val b1 = b(i + 1) & 0xFF
        if (b1 < lo || b1 > hi) return false
        var j = 2
        while (j <= need) {
          val bj = b(i + j) & 0xFF
          if (bj < 0x80 || bj > 0xBF) return false
          j += 1
        }
        i += need + 1
      }
    }
    true
  }

  private val cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** (charset, text, had_bom) of one raw payload — the WARC/HTTP-body
    * reality that `Content-Type` headers lie about: BOMs win (UTF-8 /
    * UTF-16LE / UTF-16BE, stripped before decode), else strict UTF-8
    * validation, else the windows-1252 fallback every browser applies
    * (it decodes ALL 256 bytes, so the fallback never fails — Java maps
    * cp1252's five undefined slots to their C1 controls, deterministic).
    * Empty/NULL payloads report "empty". After a BOM, malformed tails
    * decode with U+FFFD replacement (the BOM is the stated encoding;
    * rejecting would drop the document a browser renders). */
  private[graft] def sniffDecode(bytes: Array[Byte]): (String, String, Boolean) = {
    if (bytes == null || bytes.length == 0) ("empty", "", false)
    else {
      val n = bytes.length
      val b0 = bytes(0) & 0xFF
      val b1 = if (n > 1) bytes(1) & 0xFF else -1
      val b2 = if (n > 2) bytes(2) & 0xFF else -1
      if (b0 == 0xEF && b1 == 0xBB && b2 == 0xBF)
        ("utf-8", new String(bytes, 3, n - 3, java.nio.charset.StandardCharsets.UTF_8), true)
      else if (b0 == 0xFF && b1 == 0xFE)
        ("utf-16le", new String(bytes, 2, n - 2, java.nio.charset.StandardCharsets.UTF_16LE), true)
      else if (b0 == 0xFE && b1 == 0xFF)
        ("utf-16be", new String(bytes, 2, n - 2, java.nio.charset.StandardCharsets.UTF_16BE), true)
      else if (isValidUtf8(bytes))
        ("utf-8", new String(bytes, java.nio.charset.StandardCharsets.UTF_8), false)
      else ("windows-1252", new String(bytes, cp1252), false)
    }
  }

  /** charset sniff + transcode over raw payloads — the decode step
    * between a WARC/HTTP fetch table and every text operator in this
    * library (they all assume a UTF-8-clean `text` column; a corpus
    * ingested without this step silently mojibakes its non-UTF-8 tail
    * — the failure mode q79 then has to HUNT for; this op prevents it).
    * Input: (doc_id, payload binary). Output: (doc_id, charset, text,
    * had_bom). No reference analog (pdf_extractor.h:6 — the reference
    * consumes bytes, never charset-decodes pages); north_rule surface.
    *
    * Scale shape: one typed map fused with the scan (the ExtractKernel
    * discipline — pure-JVM sniffer inside the partition iterator), zero
    * shuffle, zero driver traffic; the validator is a single branchy
    * pass over the bytes, no allocation until the one decode. */
  def sniffCharset(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id").cast("long"), col("payload").cast("binary"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val (cs, text, bom) = sniffDecode(bytes)
        (id, cs, text, bom)
      }
      .toDF("doc_id", "charset", "text", "had_bom")
  }

  /** corpus-wide top-K terms, exact — the vocabulary head every
    * tokenizer-training / stopword / boilerplate-phrase pass starts
    * from. Total order (n desc, term asc) so the K boundary is
    * engine-independent. Output (term, n, rnk).
    *
    * Scale shape: one explode + ONE partial-combined aggregate shuffled
    * by term (map-side combine collapses each partition to its local
    * vocabulary before the exchange — the shuffle carries distinct
    * terms, not token occurrences), then a distributed top-K. The
    * vocabulary-sized shuffle is this exact pass's cost at 100 TB;
    * [[topTermsSketch]] is the two-scan shape that bounds it. */
  def topTerms(documents: DataFrame, topK: Int = 100): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    import org.apache.spark.sql.expressions.Window
    documents.select(bm25Toks.as("toks"))
      .select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(topK)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n").desc, col("term").asc)).cast("long"))
  }

  /** per-partition Misra-Gries summary terms: every term whose partition
    * frequency exceeds n_p/(capacity+1) survives its partition's summary
    * (the classic frequent-items guarantee), so every GLOBAL heavy
    * hitter — count > N/(capacity+1) — survives in at least one
    * partition (pigeonhole over the partition split of its count). */
  private def mgCandidates(toks: org.apache.spark.sql.Dataset[Seq[String]],
      capacity: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      val m = new java.util.HashMap[String, java.lang.Long](capacity * 2)
      it.foreach { ts =>
        if (ts != null) ts.foreach { t =>
          val c = m.get(t)
          // stored counts are always >= 1, so null means absent
          if (c != null) m.put(t, c + 1L)
          else if (m.size < capacity) m.put(t, 1L)
          else {
            // decrement round: new term + every counter lose 1 (the new
            // term dies at 0); entries hitting 0 evict. O(capacity) per
            // round, but a round only fires on a NEW term with the map
            // full — on Zipfian text the head hits existing counters and
            // only the tail pays
            val em = m.entrySet().iterator()
            while (em.hasNext) {
              val e = em.next()
              if (e.getValue <= 1L) em.remove() else e.setValue(e.getValue - 1L)
            }
          }
        }
      }
      m.keySet().iterator().asScala
    }.toDF("term").distinct()
  }

  /** corpus-wide top-K terms via the two-scan sketch shape — the 100 TB
    * variant of [[topTerms]]: scan 1 builds capacity-bounded per-partition
    * Misra-Gries summaries (no shuffle; each partition emits <= capacity
    * candidate terms), scan 2 counts ONLY the candidate set exactly (a
    * broadcast semi-join prunes the explode before any aggregation) and
    * takes the top-K of those exact counts.
    *
    * Guarantee: any term with true count > N/(capacity+1) is in the
    * candidate set, and every reported count is EXACT (the verify pass
    * recounts; sketch estimates are never emitted). With capacity sized
    * so the true K-th count exceeds N/(capacity+1), the result is
    * value-identical to [[topTerms]] — the shipped surface is oracled on
    * exactly that equality. The shuffle never carries the corpus
    * vocabulary: at most (partitions x capacity) candidate terms. */
  def topTermsSketch(documents: DataFrame, topK: Int = 100,
      capacity: Int = 4096): DataFrame = {
    require(topK > 0, s"topK must be > 0, got $topK")
    require(capacity > 0, s"capacity must be > 0, got $capacity")
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = documents.select(bm25Toks.as("toks")).as[Seq[String]]
    val candidates = mgCandidates(toks, capacity)
    documents.select(bm25Toks.as("toks"))
      .select(explode(col("toks")).as("term"))
      .join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(topK)
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("n").desc, col("term").asc)).cast("long"))
  }

  /** the Count-Min bucket of `term` in sketch row `r`: 60 bits of
    * md5(term '#' r) mod `width` — md5 because it is the ONE keyed hash
    * every engine computes identically (the q36 md5-bucket discipline),
    * so the sketch and its point queries stay oracle-recomputable. */
  private def cmBucket(term: Column, r: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(term, lit("#"), r.cast("string"))),
      1, 15), 16, 10).cast("long"), lit(width.toLong))

  /** Count-Min sketch of the corpus term frequencies (Cormode &
    * Muthukrishnan 2005) — the ESTIMATE-side complement of
    * [[topTermsSketch]]'s Misra-Gries pass: MG certifies the heavy-hitter
    * HEAD exactly; the CM sketch answers point queries for EVERY term
    * from O(depth × width) state with a one-sided guarantee (estimate ≥
    * true count always; over by ≤ total/width in expectation per row,
    * min over `depth` independent rows). At corpus scale this is the
    * term-statistics table you can afford to KEEP — a 4×2^20 sketch
    * summarizes any vocabulary in a few MB where exact counts are
    * vocabulary-sized.
    *
    * Output: the sketch as sparse rows (r long in [0, depth), bucket
    * long in [0, width), n long — zero buckets omitted). Deterministic:
    * buckets are md5-derived ([[cmBucket]]), no seeds, no RNG.
    *
    * Scale shape: ONE vocabulary-sized exact aggregate (the q113 shape:
    * explode + partial-combined groupBy), then `depth` sketch entries
    * per DISTINCT term (never per occurrence) into a second
    * partial-combined aggregate of depth×width output rows. Documents
    * never move; the sketch is broadcast-sized by construction. */
  def countMinSketch(documents: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val counts = documents.select(bm25Toks.as("toks"))
      .select(explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
    counts
      .select(col("term"), col("n"),
        explode(sequence(lit(0L), lit(depth.toLong - 1))).as("r"))
      .select(col("r"), cmBucket(col("term"), col("r"), width).as("bucket"),
        col("n"))
      .groupBy(col("r"), col("bucket")).agg(sum(col("n")).as("n"))
  }

  /** Count-Min point queries: the estimated corpus frequency of each
    * term in `terms` from a [[countMinSketch]] built with the SAME
    * (depth, width). Estimate = min over the `depth` rows of the term's
    * bucket counts (an absent bucket reads 0 — a term whose every bucket
    * is untouched provably never occurred). One row per DISTINCT
    * non-null input term: (term, est long). The one-sided guarantee
    * (est ≥ true count) is the caller's to exploit — e.g. pruning terms
    * with est below a threshold NEVER prunes a frequent term.
    *
    * Scale shape: terms explode to `depth` rows each, ONE left
    * equi-join on (r, bucket) against the sketch (sketch side is
    * depth×width-bounded — broadcastable by construction), one per-term
    * min aggregate. */
  def countMinQuery(sketch: DataFrame, terms: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    terms.select(col("term").cast("string").as("term"))
      .filter(col("term").isNotNull).distinct()
      .select(col("term"),
        explode(sequence(lit(0L), lit(depth.toLong - 1))).as("r"))
      .select(col("term"), col("r"),
        cmBucket(col("term"), col("r"), width).as("bucket"))
      .join(sketch.select(col("r"), col("bucket"), col("n")),
        Seq("r", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }

  /** phrase tokens: the q33/BM25 tokenization contract WITHOUT the
    * distinct/dedup step — a phrase is an ordered sequence, repeats
    * matter ("batch batch" is a 2-token phrase). */
  private def phraseTokens(phrase: String): Seq[String] =
    Option(phrase).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
      .split("\\s+").filter(_.nonEmpty).toSeq

  private def phraseEmpty(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_matches",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("first_pos",
          org.apache.spark.sql.types.IntegerType))))

  /** token-level exact phrase search, scan side — the retrieval twin of
    * [[Dedup.phraseScan]] (which matches byte-literal substrings): here a
    * phrase matches only on TOKEN boundaries under the shared BM25/q33
    * tokenization, the semantics an inverted index can serve. Output one
    * row per matching doc: (doc_id, n_matches, first_pos) with first_pos
    * a 0-based token index; overlapping occurrences all count ("batch
    * batch batch" matches "batch batch" twice). No reference analog
    * (pdf_extractor.h:6 — the reference is a PDF text extractor);
    * north_rule surface (phrase-level decontamination audits and quote
    * retrieval over the extracted corpus).
    *
    * Scale shape: one projection — the occurrence positions are computed
    * IN-ROW by filtering a `sequence(1, n-k+1)` of candidate starts with
    * an unrolled k-term conjunction (k = phrase length, bounded and tiny),
    * all inside codegen; no explode, no shuffle, no join. The corpus is
    * scanned once and only (doc_id, text) is read. */
  def phraseDocs(documents: DataFrame, phrase: String): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val pts = phraseTokens(phrase)
    if (pts.isEmpty) return phraseEmpty(spark)
    val k = pts.length
    val ptsArr = pts.toArray
    val base = documents.select(col("doc_id").cast("long").as("doc_id"),
      bm25Toks.as("toks"))
    // tokenization stays the shared Catalyst bm25Toks contract; the
    // match loop is a typed kernel (the gramPostings discipline): the
    // former sequence()+filter() higher-order expression is interpreted
    // per element (~540us/doc measured at sf0.1 — 90% of the surface's
    // wall time), while this loop is plain JIT'd compares
    val matched = base.as[(Long, scala.collection.Seq[String])]
      .flatMap { case (id, toks) =>
        val n = toks.size
        if (n < k) None
        else {
          val arr = toks.toArray
          var cnt = 0L
          var first = -1
          var i = 0
          val lastStart = n - k
          while (i <= lastStart) {
            var j = 0
            var ok = true
            while (ok && j < k) {
              if (arr(i + j) != ptsArr(j)) ok = false
              j += 1
            }
            if (ok) { cnt += 1L; if (first < 0) first = i }
            i += 1
          }
          if (cnt > 0L) Some((id, cnt, first)) else None
        }
      }.toDF("doc_id", "n_matches", "first_pos")
    // typed tuples yield non-nullable columns; restate the frame under
    // the exact nullable schema the former expression path produced (the
    // driver's schema compare sees parquet required vs optional)
    spark.createDataFrame(matched.rdd, phraseEmpty(spark).schema)
  }

  /** positional inverted index: one row per token OCCURRENCE — (term,
    * doc_id, pos) with pos a 0-based token index under the shared
    * tokenization. The positional counterpart of [[buildTextIndex]]'s
    * tf postings; [[phraseDocsIndexed]] serves phrase queries from it.
    *
    * Scale shape: one posexplode; no aggregation at all (occurrences ARE
    * the rows). Persist sorted/bucketed by term so a phrase probe is a
    * pruned range read; index size is corpus token count × 3 small
    * columns — the standard positional-index cost paid once. */
  def buildPositionalIndex(documents: DataFrame): DataFrame =
    documents.select(col("doc_id").cast("long").as("doc_id"),
        bm25Toks.as("toks"))
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("int").as("pos"))

  /** exact phrase search over a prebuilt positional index —
    * value-identical to [[phraseDocs]] on the same corpus (same
    * tokenization, same overlap counting, same 0-based first_pos), but
    * the per-query cost is O(postings of the phrase's terms), not
    * O(corpus): the classic positional-postings adjacency join.
    *
    * Plan: the phrase becomes a tiny (term_idx, term) literal frame; ONE
    * broadcast join pulls each matching posting with every phrase slot it
    * could fill (a posting matches slot j when its term equals token j —
    * repeated phrase tokens fan out, which is exactly the adjacency
    * algebra); base = pos - j aligns candidates so an occurrence at base
    * b is a (doc_id, b) group containing ALL k slots. One partial-combined
    * aggregate groups by (doc_id, base) counting distinct slots, a second
    * tiny aggregate folds occurrences per doc. Postings never shuffle by
    * corpus size — only the phrase's term postings move, keyed by
    * (doc_id, base).
    *
    * Query-time filter: `term isin (...)` reaches the index scan as a
    * pushed filter (PlanSpec-gated for the BM25 twin; same shape). */
  def phraseDocsIndexed(positions: DataFrame, phrase: String): DataFrame = {
    val spark = positions.sparkSession
    import spark.implicits._
    val pts = phraseTokens(phrase)
    if (pts.isEmpty) return phraseEmpty(spark)
    val k = pts.length
    val slots = pts.zipWithIndex.map { case (t, j) => (j, t) }
      .toDF("slot", "q_term")
    val matched = positions
      .filter(col("term").isin(pts.distinct: _*))
      .select(col("term"), col("doc_id").cast("long").as("doc_id"),
        col("pos").cast("int").as("pos"))
      .join(broadcast(slots), col("term") === col("q_term"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("base"), col("slot"))
      .filter(col("base") >= 0)
    matched
      .groupBy(col("doc_id"), col("base"))
      // distinct is exact here: a (doc_id, base, slot) triple is unique
      // because a doc has at most one token at position base+slot — but
      // countDistinct keeps the contract honest if the index ever holds
      // duplicate rows (e.g. a snapshot unioned with a delta)
      .agg(countDistinct(col("slot")).as("n_slots"))
      .filter(col("n_slots") === k)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("base")).cast("int").as("first_pos"))
  }

  /** hashing-trick document vectors (Weinberger et al., ICML 2009) — the
    * model-free text -> vector bridge: every token hashes to a bucket in
    * [0, dim) with a ±1 sign, and the doc's vector is the signed bucket
    * count sum. Deterministic (md5-keyed — the q36/q129 engine-portable
    * hash discipline, so a SQL oracle recomputes every coordinate
    * exactly), integer-valued, and unbiased as an inner-product sketch:
    * E[<h(a), h(b)>] = <tf_a, tf_b>. This is what makes the embedding-
    * space op families (near-dup, SemDeDup, ANN) runnable on corpora that
    * have no model embeddings yet.
    *
    * Output: (doc_id, n_tokens, vec array<long> of length `dim`).
    *
    * Scale shape: pure per-row column math — one md5 pair per token, then
    * dim in-row sums; no shuffle, no UDF, nothing leaves the scan
    * partition. Cost is O(tokens + dim*tokens) per doc; for dim beyond a
    * few hundred, switch to the exploded (doc, bucket) groupBy shape
    * instead of widening the in-row transform.
    *
    * CONSUMER WARNING: `vec` is expensive to inline — Catalyst's
    * projection collapse substitutes the whole transform/aggregate
    * expression into EVERY downstream reference, including per-element
    * lambda accesses (a transform over `vec` re-derives it ~dim times;
    * measured 64x in the q144 composition). A consumer that references
    * `vec` more than once (or maps over it) must cut lineage first
    * (Checkpoints.cut / persist) so the array materializes once. */
  def hashedDocVectors(documents: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val txt = coalesce(col("text"), lit(""))
    val tk = when(length(trim(txt)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(lower(txt)), "\\s+"))
    documents
      .select(col("doc_id").cast("long").as("doc_id"), tk.as("tk"))
      .withColumn("tkh", expr(
        s"""transform(tk, t -> named_struct(
           |  'b', pmod(cast(conv(substring(md5(concat(t, '#b')), 1, 15), 16, 10) as bigint), $dim),
           |  's', CASE WHEN pmod(cast(conv(substring(md5(concat(t, '#s')), 1, 15), 16, 10) as bigint), 2) = 0
           |       THEN cast(1 as bigint) ELSE cast(-1 as bigint) END))""".stripMargin))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        // ONE fold over tkh, not a per-dimension lambda that references
        // it: projection collapse inlines tkh's md5 map into every
        // downstream lambda evaluation, so `transform(sequence(0,63),
        // i -> aggregate(tkh, ...))` re-hashed every token 64 times
        // (measured ~3 s for 500 docs; this shape is ~40 ms)
        expr(s"aggregate(tkh, array_repeat(cast(0 as bigint), $dim), " +
          "(acc, p) -> transform(acc, (x, i) -> " +
          "x + CASE WHEN p.b = i THEN p.s ELSE cast(0 as bigint) END))")
          .as("vec"))
  }

  /** typed-kernel twin of [[hashedDocVectors]] — bit-identical values
    * (OpsSpec parity gate), evaluated as one JIT'd loop per row instead
    * of the interpreted higher-order transform/aggregate expressions
    * (whose per-token cost is O(dim) boxed lambda evaluations — the
    * expression fold costs ~1.4 s at sf0.1 where this kernel is ~0.3 s).
    * The tokenization stays the SAME Catalyst expression; only the
    * md5-bucket/sign/accumulate math moves into the kernel: the first 15
    * md5 hex digits parsed base-16 are exactly the digest's first 60
    * bits, so `conv(substring(md5(x),1,15),16,10)` = bytes[0..6] as a
    * 56-bit BE value shifted left 4, OR the top nibble of byte 7.
    *
    * Use this where `vec` is genuinely materialized (q144's composition);
    * [[hashedDocVectors]] stays the default because Catalyst can PRUNE
    * the whole vec expression when a consumer never reads it (q143's
    * count-style probes), which no opaque kernel allows. */
  def hashedDocVectorsKernel(documents: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0 && dim <= 4096, s"dim must be in [1, 4096], got $dim")
    val spark = documents.sparkSession
    import spark.implicits._
    val txt = coalesce(col("text"), lit(""))
    val tk = when(length(trim(txt)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(lower(txt)), "\\s+"))
    documents
      .select(col("doc_id").cast("long").as("doc_id"), tk.as("tk"))
      .as[(Long, Array[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def h60(s: String): Long = {
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var i = 0
          while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
          (v << 4) | ((d(7) & 0xffL) >>> 4)
        }
        it.map { case (id, toks) =>
          val vec = new Array[Long](dim)
          val n = toks.length
          var i = 0
          while (i < n) {
            val t = toks(i)
            val b = (h60(t + "#b") % dim).toInt // h60 >= 0, so % == pmod
            val s = if ((h60(t + "#s") & 1L) == 0L) 1L else -1L
            vec(b) += s
            i += 1
          }
          (id, n.toLong, vec)
        }
      }
      .toDF("doc_id", "n_tokens", "vec")
  }
}
