package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import graft.fixtures.PdfBuilder
import graft.pipeline.{Corpus, ExtractJob, PageRow}

/** Whale pages for the extract-job workload: payloads above
  * `ExtractJob.SKEW_THRESHOLD_BYTES`, so the job's salted round-robin band
  * really shuffles. Even rows are uncompressed one-page PDFs built with
  * `graft.fixtures.PdfBuilder`; odd rows are pages in the `Corpus` HTML
  * template with thousands of paragraphs. Each has a golden text that holds
  * by construction, as `Corpus` goldens do. */
object Whales {
  final val MinBytes: Int = ExtractJob.SKEW_THRESHOLD_BYTES + (64 << 10)
  private final val PdfLines = 15000
  private final val HtmlParas = 9500

  private val words = Array(
    "whale", "payload", "salted", "band", "round", "robin", "skew", "shuffle",
    "stage", "task", "bucket", "lineage", "resume", "commit", "stream", "glyph",
    "column", "kernel", "parquet", "staging", "writer", "reader", "offset", "block")

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def sentence(seed: Long, i: Long, k: Int, n: Int): String =
    (0 until n).map { j =>
      words(((mix(seed ^ mix(i * 7919L + k * 131L + j)) & 0x7fffffffL) % words.length).toInt)
    }.mkString(" ")

  def url(i: Long): String = s"https://whale.test/${if (i % 2 == 0) "pdf" else "html"}/$i"

  private def pdfLine(seed: Long, i: Long, k: Int) = sentence(seed, i, k, 10)

  private def pdfPayload(seed: Long, i: Long): Array[Byte] = {
    // 12pt Courier lines 14pt apart in one column: one text box (Corpus layout rule)
    val sb = new StringBuilder("BT\n/F1 12 Tf\n72 720 Td\n")
    (0 until PdfLines).foreach { k =>
      if (k > 0) sb.append("0 -14 Td\n")
      sb.append('(').append(pdfLine(seed, i, k)).append(") Tj\n")
    }
    sb.append("ET\n")
    PdfBuilder.onePage(PdfBuilder.bytes(sb.toString), Map("/F1" -> 5), Seq(PdfBuilder.courier(5)))
  }

  private def title(seed: Long, i: Long) = "Title " + sentence(seed, i, 9001, 4)
  private def para(seed: Long, i: Long, k: Int) = sentence(seed, i, 100 + k, 18) + "."

  /** the Corpus HTML template (nav, header, article, aside, footer) */
  private def htmlPayload(seed: Long, i: Long): Array[Byte] = {
    val t = title(seed, i)
    val paras = (0 until HtmlParas).map(k => s"<p>${para(seed, i, k)}</p>").mkString("\n")
    val nav = (0 until 5).map(k => s"""<a href="/x$k">${sentence(seed, i, 5000 + k, 1)}</a>""")
      .mkString(" | ")
    s"""<!DOCTYPE html>
       |<html><head><title>$t</title>
       |<script>var x = "never extracted";</script>
       |<style>.a { color: red }</style></head>
       |<body>
       |<nav>$nav</nav>
       |<header><div>site ${sentence(seed, i, 6000, 1)}</div></header>
       |<article>
       |<h1>$t</h1>
       |$paras
       |</article>
       |<aside>${sentence(seed, i, 7000, 4)}</aside>
       |<footer>© 2020 ${sentence(seed, i, 8000, 1)}</footer>
       |</body></html>""".stripMargin.getBytes(UTF_8)
  }

  def row(seed: Long)(i: Long): PageRow = {
    val payload = if (i % 2 == 0) pdfPayload(seed, i) else htmlPayload(seed, i)
    require(payload.length >= MinBytes, s"whale $i is only ${payload.length} bytes")
    PageRow(url(i), new Timestamp(Corpus.EPOCH_MS + i * 3607000L), payload, s"whale $i", "en")
  }

  def golden(seed: Long)(i: Long): (String, String) =
    if (i % 2 == 0) (url(i), (0 until PdfLines).map(k => pdfLine(seed, i, k) + "\n").mkString)
    else (url(i), (title(seed, i) +: (0 until HtmlParas).map(k => para(seed, i, k))).mkString("\n"))
}
