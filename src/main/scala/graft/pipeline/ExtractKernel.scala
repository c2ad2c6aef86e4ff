package graft.pipeline

import java.sql.Timestamp

/** Input row: Common-Crawl-style page (BASELINE.json input_hint). */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One span box: PDF chunk bbox + text, or HTML block offsets + score. */
final case class Span(x0: Float, y0: Float, x1: Float, y1: Float, text: String)

/** Output row. `status` is "ok" or an error class; the reference throws
  * `pdf_error` per document (common.h:22-32) — at 10^12 scale we quarantine
  * the row instead of failing the job. */
final case class ExtractedRow(
    url: String,
    extracted_text: String,
    spans: Seq[Span],
    status: String,
    kind: String, // "pdf" | "html" | "unknown"
    bytes_in: Long,
    chars_out: Long,
    wall_us: Long)

/** The per-row extraction kernel. Pure JVM — no Spark imports — so it is
  * trivially testable and serializes into `mapPartitions` closures.
  *
  * Dispatch is by payload sniffing: `%PDF-` prefix -> PDF kernel
  * (graft.core.pdf), anything else -> HTML boilerplate stripper
  * (graft.core.html). Matches SURVEY.md §1.2.
  */
object ExtractKernel {

  final val MAX_PAYLOAD_BYTES: Int = 256 << 20 // quarantine cap (north_rule skew guard)

  def sniffKind(payload: Array[Byte]): String =
    if (payload.length >= 5 &&
      payload(0) == '%' && payload(1) == 'P' && payload(2) == 'D' &&
      payload(3) == 'F' && payload(4) == '-') "pdf"
    else "html"

  def extractOne(row: PageRow): ExtractedRow = {
    val t0 = System.nanoTime()
    val payload = if (row.html == null) Array.emptyByteArray else row.html
    val kind = sniffKind(payload)
    try {
      if (payload.length > MAX_PAYLOAD_BYTES)
        return ExtractedRow(row.url, "", Nil, "err:oversized", kind, payload.length, 0,
          (System.nanoTime() - t0) / 1000)
      if (kind == "pdf") {
        val (textBytes, spans) = graft.core.pdf.PdfExtract.extract(payload)
        val text = new String(textBytes, java.nio.charset.StandardCharsets.UTF_8)
        ExtractedRow(row.url, text,
          spans.map { case (c, t) => Span(c.x0, c.y0, c.x1, c.y1, utf8Text(t)) },
          "ok", kind, payload.length, text.length, (System.nanoTime() - t0) / 1000)
      } else {
        val html = decodeUtf8(payload)
        val r = graft.core.html.HtmlExtract.extract(html)
        var off = 0L
        val spans = r.blocks.map { b =>
          val s = Span(off.toFloat, 0f, (off + b.text.length).toFloat, b.score, b.text)
          off += b.text.length + 1
          s
        }
        ExtractedRow(row.url, r.text, spans, "ok", kind, payload.length, r.text.length,
          (System.nanoTime() - t0) / 1000)
      }
    } catch {
      case e: graft.core.pdf.PdfError =>
        ExtractedRow(row.url, "", Nil, "err:pdf", kind, payload.length, 0,
          (System.nanoTime() - t0) / 1000)
      case scala.util.control.NonFatal(_) =>
        ExtractedRow(row.url, "", Nil, "err:parse", kind, payload.length, 0,
          (System.nanoTime() - t0) / 1000)
    }
  }

  /** `new String(bytes, UTF_8)`. An ASCII prefix decodes to itself and no
    * UTF-8 sequence spans an ASCII byte, so only the rest from the first
    * non-ASCII byte goes through the decoder, which on JDK 17 runs byte by
    * byte once it meets one (a page with one `©` in its footer). */
  private[graft] def decodeUtf8(bytes: Array[Byte]): String = {
    var i = 0
    while (i < bytes.length && bytes(i) >= 0) i += 1
    if (i == bytes.length) new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    else if (i < 64) new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    else new String(bytes, 0, i, java.nio.charset.StandardCharsets.ISO_8859_1)
      .concat(new String(bytes, i, bytes.length - i, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** a UTF-8 byte-string (one char per byte) as text; all-ASCII bytes
    * decode to the same chars, so such a string is its own result */
  private def utf8Text(bytes: String): String = {
    var i = 0
    while (i < bytes.length && bytes.charAt(i) < 0x80) i += 1
    if (i == bytes.length) bytes
    else new String(graft.core.pdf.Bytes.arr(bytes), java.nio.charset.StandardCharsets.UTF_8)
  }

  /** partition-batched runner (the mapPartitions body). One iterator pass,
    * no materialization: constant memory per task. */
  def runPartition(rows: Iterator[PageRow]): Iterator[ExtractedRow] =
    rows.map(extractOne)
}
