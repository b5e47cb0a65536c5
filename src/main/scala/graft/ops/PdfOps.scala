package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pdf.{Pdf, PdfWriter}
import scala.util.control.NonFatal

/** Spark surface of the PDF leg (north rule "PDF/layout parse").
  *
  * PDFs travel as opaque `binary` columns (same convention as the
  * multimodal assets); parse + text extraction run in one narrow
  * mapPartitions stage — no shuffle, errors are rows, a poisoned
  * document never fails a task. `toSpans` bridges into the engine's
  * contract schema (doc_id, spans) so PDF content joins the same
  * downstream pipeline (dedup, quality, language-id) as HTML spans.
  */
object PdfOps {

  /** Deterministic synthetic corpus: one single-page PDF per row of a
    * (doc_id, text) frame, built by the writer twin (columns pruned to
    * doc_id+text before the kernel). */
  def syntheticPdfs(d: DataFrame): DataFrame = {
    import d.sparkSession.implicits._
    d.select(col("doc_id").cast("string").as("doc_id"), col("text"))
      .as[(String, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, PdfWriter.singlePage(text))
      })
      .toDF("doc_id", "pdf")
  }

  /** (doc_id, pdf binary) → (doc_id, text, n_pages, n_errors). */
  def extractText(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("string"), col("pdf"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val r = Pdf.extractText(if (bytes == null) Array.emptyByteArray else bytes)
        (id, r.text, r.nPages, r.errors.length)
      })
      .toDF("doc_id", "text", "n_pages", "n_errors")
  }

  /** (doc_id, pdf binary) → contract schema (doc_id, spans): one text
    * span per page, offset = char offset of the page start in the
    * document's concatenated text. */
  def toSpans(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id").cast("string"), col("pdf"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        // same Throwable backstop as Pdf.extractText: a poisoned
        // document is data (empty span list), never a failed task
        val spans =
          try {
            val doc = Pdf.parse(if (bytes == null) Array.emptyByteArray else bytes)
            val pages = doc.pages
            var off = 0
            pages.map { p =>
              val sb = new java.lang.StringBuilder(256)
              Pdf.contentText(doc.pageContent(p), sb)
              val s = sb.toString
              val sp = graft.InSpan("text", s, null, off)
              off += s.length + 1 // the inter-page '\n'
              sp
            }
          } catch { case NonFatal(_) => Vector.empty[graft.InSpan] }
        graft.Doc(id, spans)
      })
      .toDF("doc_id", "spans")
  }
}
