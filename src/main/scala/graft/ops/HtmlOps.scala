package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.html.HtmlExtract

/** Structured-content extraction over the HTML kernel — the table-corpus
  * side of the pipeline. The reference is PDF-only (pdf_extractor.h:6);
  * this is north_rule surface: table-QA / table-pretraining corpora are
  * built from exactly this (page -> data-table rows) shape, and the
  * prose render ([[graft.core.html.HtmlExtract.extract]]) deliberately
  * linearizes tables, losing the column structure this op preserves.
  */
object HtmlOps {

  /** every row of every DATA table on every page
    * ([[graft.core.html.HtmlExtract.extractTables]] — same
    * data-vs-layout gate as the prose path; layout tables, link farms
    * and nav/footer tables emit nothing).
    *
    * Input: (doc_id long, html string). Output: (doc_id, table_idx,
    * row_idx, is_header, n_cells — all long — cells string: the row's
    * cells " | "-joined with empty cells kept in place, caption string:
    * the table's caption, repeated per row).
    *
    * Scale shape: one typed flatMap fused with the scan — per-row kernel
    * work, zero shuffle, output proportional to table-row count (the
    * ExtractKernel discipline). Like raw-input extraction, it runs in the
    * scan partitions, whose size `spark.sql.files.maxPartitionBytes`
    * bounds. */
  def structuredTables(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(col("doc_id").cast("long"), col("html").cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, html) =>
        HtmlExtract.extractTables(if (html == null) "" else html).iterator.flatMap { t =>
          t.rows.iterator.map { r =>
            (id, t.tableIdx.toLong, r.rowIdx.toLong,
              if (r.isHeader) 1L else 0L, r.cells.length.toLong,
              r.cells.mkString(" | "), t.caption)
          }
        }
      }
      .toDF("doc_id", "table_idx", "row_idx", "is_header", "n_cells",
        "cells", "caption")
  }
}
