package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.{Doc, SgmlExtract}
import graft.sgml.{Node, ParseDriver, ParseResult}

/** Structured extraction: HTML tables → relational rows.
  *
  * The main-content extraction tier doesn't stop at text spans — tables
  * inside pages carry the densest structured facts, and a web-scale
  * curation pipeline wants them as (doc, table, row, col, cell) tuples it
  * can filter/join like any other frame. This op runs the SAME DTD-aware
  * parse kernel as the flagship extract (tag-omission inference included:
  * real-world `<tr><td>a<td>b` markup with every end tag omitted builds
  * the correct DOM per the HTML4 content model), then walks the
  * task-local DOM collecting cells in document order.
  *
  * Scale shape: ONE narrow mapPartitions stage, one ParseDriver (parser
  * reused across the partition's docs) per partition, trees never leave
  * the task, output is a flat frame whose row count is the corpus cell
  * count. No shuffle, no driver involvement.
  */
object TableOps {

  /** Wrap each row of a (doc_id, text, lang, source) frame as a page
    * whose table carries closed-form cells:
    * a header row (th) of column labels and two data rows (td) derived
    * from the doc's own columns — with EVERY optional end tag omitted
    * (`</th>`, `</td>`, `</tr>`), the way real HTML is written. Cells are
    * alphanumeric by construction so the DuckDB oracle rebuilds them with
    * plain string functions. */
  def wrapDocumentsTable(d: DataFrame): Dataset[Doc] = {
    import d.sparkSession.implicits._
    d.select(
        col("doc_id").cast("string").as("doc_id"),
        SgmlExtract.textSpans(concat(
          lit("<html><body><table><tr><th>lang<th>source"),
          lit("<tr><td>"), col("lang"), lit("<td>"), col("source"),
          lit("<tr><td>"), substring_index(col("text"), " ", 1),
          lit("<td>"), col("doc_id"),
          lit("</table></body></html>"))).as("spans"))
      .as[Doc]
  }

  /** One output row per table cell: (doc_id, tbl_idx, row_idx, col_idx,
    * cell_tag th|td, cell = concatenated descendant text). Document order
    * throughout; nested tables (rare, but legal) get their own tbl_idx in
    * pre-order. */
  def tableCells(ds: Dataset[Doc], config: SgmlExtract.Config = SgmlExtract.Config()): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val driver = new ParseDriver(config.toParserConfig)
      it.flatMap { doc =>
        // media spans carry no cells: only text is fed
        driver { p =>
          if (doc.spans != null) doc.spans.foreach { s =>
            if (s.kind != "media" && s.text != null) p.feed(s.text, s.offset)
          }
        }(cellsOf(doc.doc_id, _))
          // poisoned doc → sentinel row, never a failed task
          .fold(detail => Vector((doc.doc_id, -1, -1, -1, "error", detail)), identity)
      }
    }.toDF("doc_id", "tbl_idx", "row_idx", "col_idx", "cell_tag", "cell")
  }

  private def cellsOf(docId: String,
      r: ParseResult): Vector[(String, Int, Int, Int, String, String)] = {
    val out = Vector.newBuilder[(String, Int, Int, Int, String, String)]
    var tblIdx = 0
    // descendant text concatenation; an undeclared entity keeps its
    // source form (the span contract emits it as its own entity span —
    // in flat cell text the lossless spelling is the reference itself)
    def textOf(n: Node): String = n match {
      case t: Node.Text       => t.s
      case e: Node.Elem       => e.children.iterator.map(textOf).mkString
      case er: Node.EntityRef => "&" + er.name + ";"
      case _                  => ""
    }
    def visit(n: Node): Unit = n match {
      case e: Node.Elem if e.name == "table" =>
        val tbl = tblIdx; tblIdx += 1
        var rowIdx = 0
        // rows may sit under implied thead/tbody/tfoot wrappers (the
        // DTD-aware builder can insert omitted-start-tag sections);
        // descend through wrappers without losing the table context,
        // but hand NESTED tables back to visit for their own tbl_idx
        def rows(m: Node): Unit = m match {
          case tr: Node.Elem if tr.name == "tr" =>
            var colIdx = 0
            def cells(c: Node): Unit = c match {
              case cell: Node.Elem if cell.name == "td" || cell.name == "th" =>
                out += ((docId, tbl, rowIdx, colIdx, cell.name, textOf(cell)))
                colIdx += 1
                cell.children.foreach(visit) // nested tables inside a cell
              case e2: Node.Elem if e2.name == "table" => visit(e2)
              case e2: Node.Elem => e2.children.foreach(cells)
              case _ => ()
            }
            tr.children.foreach(cells)
            rowIdx += 1
          case e2: Node.Elem if e2.name == "table" => visit(e2)
          case e2: Node.Elem => e2.children.foreach(rows)
          case _ => ()
        }
        e.children.foreach(rows)
      case e: Node.Elem => e.children.foreach(visit)
      case _            => ()
    }
    r.content.foreach(visit)
    out.result()
  }
}
