package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Corpus, ExtractJob, SparkFixture}

class WarcSpec extends AnyFunSuite {
  import SparkFixture.withTempDir
  private lazy val spark = SparkFixture.spark

  private def fixtureRecords(n: Int): Seq[Warc.WarcRecord] =
    (0 until n).map { i =>
      val row = Corpus.row(42L)(i.toLong)
      Warc.WarcRecord(row.url, "2020-01-01T00:00:00Z", "response", Warc.httpWrap(row.html))
    } :+ Warc.WarcRecord("meta:info", "2020-01-01T00:00:00Z", "warcinfo", "crawler info".getBytes)

  test("plain .warc round-trip into pages + extraction") {
    withTempDir("warc") { dir =>
      Warc.writeFixture(s"$dir/test.warc", fixtureRecords(12), gzip = false)
      val pages = Warc.readPages(spark, s"$dir/*.warc")
      assert(pages.count() == 12) // warcinfo record filtered out
      val extracted = ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 4)).collect()
      assert(extracted.length == 12)
      assert(extracted.forall(_.status == "ok"))
      // golden equality survives the WARC + HTTP envelope round-trip
      val goldens = (0 until 12).map(i => Corpus.golden(42L)(i.toLong)).toMap
      extracted.foreach(r => assert(r.extracted_text == goldens(r.url)))
    }
  }

  test("per-record gzip members (.warc.gz Common Crawl convention)") {
    withTempDir("warcgz") { dir =>
      Warc.writeFixture(s"$dir/test.warc.gz", fixtureRecords(8), gzip = true)
      val pages = Warc.readPages(spark, s"$dir/*.warc.gz")
      assert(pages.count() == 8)
      val extracted = ExtractJob.extract(ExtractJob.saltedRepartition(spark, pages, 4)).collect()
      assert(extracted.forall(_.status == "ok"))
    }
  }

  test("httpBody strips response envelope, passes through raw payloads") {
    val body = "hello".getBytes
    assert(Warc.httpBody(Warc.httpWrap(body)).sameElements(body))
    assert(Warc.httpBody(body).sameElements(body))
  }

  test("WET conversion records read into the documents shape") {
    withTempDir("wet") { dir =>
      val recs = (0 until 6).map { i =>
        Warc.WarcRecord(s"https://site$i.example.com/p/$i", "2024-01-01T00:00:00Z",
          "conversion", s"extracted text body $i with several words".getBytes("UTF-8"))
      } :+ Warc.WarcRecord("meta", "2024-01-01T00:00:00Z", "warcinfo", "ignored".getBytes)
      Warc.writeFixture(s"$dir/test.warc.wet.gz", recs, gzip = true)
      val docs = Warc.readWetDocuments(spark, s"$dir/*.wet.gz")
      assert(docs.columns.toSeq == Seq("doc_id", "text", "lang", "source", "n_chars"))
      val rows = docs.collect()
      assert(rows.length == 6) // warcinfo filtered
      val bySource = rows.map(r => r.getAs[String]("source") -> r.getAs[String]("text")).toMap
      assert(bySource("site3.example.com") == "extracted text body 3 with several words")
      assert(rows.forall(r => r.getAs[Long]("n_chars") == r.getAs[String]("text").length.toLong))
      // doc_id is the engine-standard xxhash64(url): deterministic across reads
      val again = Warc.readWetDocuments(spark, s"$dir/*.wet.gz").collect()
        .map(_.getAs[Long]("doc_id")).sorted
      assert(again.sameElements(rows.map(_.getAs[Long]("doc_id")).sorted))
    }
  }

  test("WET source host is lowercased and userinfo-stripped (RFC 3986)") {
    withTempDir("wet2") { dir =>
      val recs = Seq(
        Warc.WarcRecord("https://Example.COM/a", "2024-01-01T00:00:00Z", "conversion", "x".getBytes),
        Warc.WarcRecord("https://example.com/b", "2024-01-01T00:00:00Z", "conversion", "y".getBytes),
        Warc.WarcRecord("https://user:pw@Host.Net:8080/c", "2024-01-01T00:00:00Z", "conversion", "z".getBytes))
      Warc.writeFixture(s"$dir/h.warc.wet", recs, gzip = false)
      val src = Warc.readWetDocuments(spark, s"$dir/*.wet").collect()
        .map(_.getAs[String]("source")).sorted.toSeq
      assert(src == Seq("example.com", "example.com", "host.net"), src)
    }
  }

  test("sniffKind routes real magic bytes; decoys and truncations fall to unknown") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows: Seq[(Long, Array[Byte])] = Seq(
      1L -> "%PDF-1.7 junk".getBytes("ISO-8859-1"),
      2L -> Array(0x1f, 0x8b, 0x08).map(_.toByte),
      3L -> Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a, 1, 2).map(_.toByte),
      4L -> Array(0xff, 0xd8, 0xff, 0xe1).map(_.toByte),
      5L -> "GIF87a....".getBytes("ISO-8859-1"),
      6L -> ("RIFF\u0004\u0000\u0000\u0000WAVEfmt ").getBytes("ISO-8859-1"), // WAVE at bytes 9-12
      7L -> ("RIFF\u0004\u0000\u0000\u0000LIST").getBytes("ISO-8859-1"), // RIFF, not WAVE
      8L -> ("PK\u0003\u0004zipdata").getBytes("ISO-8859-1"),
      9L -> "\n\t  <!DOCTYPE HTML><html>".getBytes("ISO-8859-1"), // case + leading ws
      10L -> "<body>no doctype".getBytes("ISO-8859-1"),
      11L -> "  [1, 2, 3]".getBytes("ISO-8859-1"),
      12L -> "%P".getBytes("ISO-8859-1"), // truncated magic
      13L -> Array.empty[Byte],
      14L -> null.asInstanceOf[Array[Byte]])
    val got = rows.toDF("id", "payload")
      .select(col("id"), Warc.sniffKind(col("payload")).as("kind"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("kind")).toMap
    assert(got == Map(1L -> "pdf", 2L -> "gzip", 3L -> "png", 4L -> "jpeg",
      5L -> "gif", 6L -> "wav", 7L -> "unknown", 8L -> "zip", 9L -> "html",
      10L -> "html", 11L -> "json", 12L -> "unknown", 13L -> "unknown",
      14L -> "unknown"), s"got $got")
  }
}
