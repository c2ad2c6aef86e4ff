package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.control.NonFatal
import graft.core.html.HtmlExtract
import graft.core.pdf.PdfExtract
import graft.pipeline.{ExtractKernel, PageRow}

/** Single-thread timers around the kernel layers, called from the
  * benchmark: `core.pdf` is `PdfExtract.extract`, `core.html` is
  * `HtmlExtract.extract` (on the decoded page) and `pipeline.kernel` is
  * `ExtractKernel.extractOne` on the same document. */
object KernelTimers {

  /** one timed document; `variant` names its PDF variant or "whale" */
  final case class Sample(kind: String, variant: String, bytes: Int, coreNs: Long, kernelNs: Long,
      coreErr: Boolean)

  /** Corpus PDF variants by `i % Corpus.PDF_VARIANTS` */
  val PdfVariants: IndexedSeq[String] =
    IndexedSeq("plain", "flate", "lzw", "objstm", "a85", "twocol", "ahx", "rc4", "cid")

  /** Times the core call and the kernel call on one document. `coreFirst`
    * alternates between documents so neither call always finds the
    * document's bytes warm in cache from the other. */
  private def timeOne(row: PageRow, variant: String, coreFirst: Boolean): Sample = {
    val kind = ExtractKernel.sniffKind(row.html)
    val page = if (kind == "pdf") null else new String(row.html, UTF_8)
    var err = false
    def core(): Long = {
      val t0 = System.nanoTime()
      try {
        if (kind == "pdf") PdfExtract.extract(row.html) else HtmlExtract.extract(page)
      } catch { case NonFatal(_) => err = true }
      System.nanoTime() - t0
    }
    def kernel(): Long = {
      val t0 = System.nanoTime()
      ExtractKernel.extractOne(row)
      System.nanoTime() - t0
    }
    val (coreNs, kernelNs) =
      if (coreFirst) { val c = core(); (c, kernel()) } else { val k = kernel(); (core(), k) }
    Sample(kind, variant, row.html.length, coreNs, kernelNs, err)
  }

  /** times every document twice and keeps the second, JIT-warm, round */
  def time(docs: Seq[(PageRow, String)]): Seq[Sample] = {
    def round() = docs.zipWithIndex.map { case ((r, v), i) => timeOne(r, v, i % 2 == 0) }
    round()
    round()
  }

  private def us(ns: Iterable[Long]): IndexedSeq[Double] = ns.map(_ / 1000.0).toIndexedSeq.sorted

  private def p50(ns: Iterable[Long]): Double = if (ns.isEmpty) 0.0 else MetricMath.percentile(us(ns), 50)

  private def coreMetrics(prefix: String, ss: Seq[Sample]): Seq[(String, Double)] = {
    val all = us(ss.map(_.coreNs))
    val seconds = ss.map(_.coreNs).sum / 1e9
    Seq(
      s"$prefix.calls" -> ss.size.toDouble,
      s"$prefix.us_p50" -> (if (all.isEmpty) 0.0 else MetricMath.percentile(all, 50)),
      s"$prefix.us_p99" -> (if (all.isEmpty) 0.0 else MetricMath.percentile(all, 99)),
      s"$prefix.mb_per_s" -> (if (seconds > 0) ss.map(_.bytes.toLong).sum / 1e6 / seconds else 0.0))
  }

  /** core.pdf.*, core.html.* and the timer half of pipeline.kernel.* */
  def metrics(ss: Seq[Sample]): Seq[(String, Double)] = {
    val pdf = ss.filter(_.kind == "pdf")
    val html = ss.filter(_.kind == "html")
    val n = math.max(ss.size, 1)
    coreMetrics("core.pdf", pdf) ++
      Seq("core.pdf.err" -> pdf.count(_.coreErr).toDouble) ++
      (PdfVariants :+ "whale").map(v => s"core.pdf.$v.us_p50" -> p50(pdf.filter(_.variant == v).map(_.coreNs))) ++
      coreMetrics("core.html", html) ++
      Seq("core.html.whale.us_p50" -> p50(html.filter(_.variant == "whale").map(_.coreNs)),
        "pipeline.kernel.us_per_doc" -> ss.map(_.kernelNs).sum / 1000.0 / n,
        "pipeline.kernel.wrap_us" ->
          (if (ss.isEmpty) 0.0 else MetricMath.median(ss.map(x => (x.kernelNs - x.coreNs) / 1000.0))))
  }
}
