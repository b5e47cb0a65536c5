package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.SgmlExtract
import graft.functions.ExtractSpansExpr
import graft.sgml.{Node, ParseResult}
import scala.collection.mutable

/** Structured extraction: HTML tables → relational rows.
  *
  * The main-content extraction tier doesn't stop at text spans — tables
  * inside pages carry the densest structured facts, and a web-scale
  * curation pipeline wants them as (doc, table, row, col, cell) tuples it
  * can filter/join like any other frame. This op runs the SAME DTD-aware
  * parse kernel as the flagship extract (tag-omission inference included:
  * real-world `<tr><td>a<td>b` markup with every end tag omitted builds
  * the correct DOM per the HTML4 content model), then walks the
  * task-local DOM once ([[Node.walk]]) collecting cells in document order.
  *
  * Scale shape: the `sgml_table_cells` projection of the one kernel
  * expression (graft.functions.ExtractSpansExpr), one array of cells per
  * doc; trees never leave the task. No shuffle, no driver involvement.
  */
object TableOps {

  /** Wrap each row of a (doc_id, text, lang, source) frame as a page
    * whose table carries closed-form cells:
    * a header row (th) of column labels and two data rows (td) derived
    * from the doc's own columns — with EVERY optional end tag omitted
    * (`</th>`, `</td>`, `</tr>`), the way real HTML is written. Cells are
    * alphanumeric by construction so the DuckDB oracle rebuilds them with
    * plain string functions. */
  def wrapDocumentsTable(d: DataFrame): DataFrame =
    SgmlExtract.contractRows(d, concat(
      lit("<html><body><table><tr><th>lang<th>source"),
      lit("<tr><td>"), col("lang"), lit("<td>"), col("source"),
      lit("<tr><td>"), substring_index(col("text"), " ", 1),
      lit("<td>"), col("doc_id"),
      lit("</table></body></html>")))

  /** One row per doc: (doc_id, cells, errors), `cells` an array of
    * (tbl_idx, row_idx, col_idx, cell_tag th|td, cell = concatenated
    * descendant text) — `inline(cells)` gives one row per cell. Document
    * order throughout; nested tables (rare, but legal) get their own
    * tbl_idx in pre-order. Media spans are fed like `extractDf` feeds
    * them; a media node is no text, so it adds nothing to a cell. */
  def tableCells(docs: DataFrame, config: SgmlExtract.Config = SgmlExtract.Config()): DataFrame =
    SgmlExtract.parseDf(docs, config, ExtractSpansExpr.Cells, "cells")

  /** The element type of `cells`; `cellsOf` builds its rows. */
  private[graft] val CellType: StructType = StructType(Seq(
    StructField("tbl_idx", IntegerType), StructField("row_idx", IntegerType),
    StructField("col_idx", IntegerType), StructField("cell_tag", StringType),
    StructField("cell", StringType)))

  /** What the children of an open element are scanned for: tables,
    * the rows of one table, or the cells of one row. Wrappers between a
    * table and its rows, or a row and its cells (implied thead/tbody/tfoot
    * — the DTD-aware builder can insert omitted-start-tag sections), pass
    * their parent's scan on; a nested table always starts its own. */
  private sealed trait Scan
  private case object Tables extends Scan
  private final class Rows(val tbl: Int) extends Scan { var n = 0 }
  private final class Cells(val tbl: Int, val row: Int) extends Scan { var n = 0 }
  /** Inside a cell (scanned for tables): its output slot, and where its
    * text starts in the open cells' text buffer. */
  private final class InCell(val slot: Int, val from: Int) extends Scan

  /** The cells of one parsed doc as `CellType` rows. */
  private[graft] def cellsOf(r: ParseResult): ArrayData = {
    val out = mutable.ArrayBuffer.empty[GenericInternalRow]
    val scans = mutable.ArrayBuffer[Scan](Tables)
    // descendant text of the open cells, in document order; an undeclared
    // entity keeps its source form (the span contract emits it as its own
    // entity span — in flat cell text the lossless spelling is the
    // reference itself)
    val text = new java.lang.StringBuilder
    var tables = 0
    var openCells = 0
    Node.walk(r.content) {
      case t: Node.Text =>
        if (openCells > 0) text.append(t.s)
        false
      case er: Node.EntityRef =>
        if (openCells > 0) text.append('&').append(er.name).append(';')
        false
      case e: Node.Elem =>
        scans += (scans.last match {
          case _ if e.name == "table" => tables += 1; new Rows(tables - 1)
          case rows: Rows if e.name == "tr" => rows.n += 1; new Cells(rows.tbl, rows.n - 1)
          case row: Cells if e.name == "td" || e.name == "th" =>
            out += new GenericInternalRow(Array[Any](
              row.tbl, row.row, row.n, UTF8String.fromString(e.name), null))
            row.n += 1; openCells += 1
            new InCell(out.size - 1, text.length)
          case _: InCell => Tables
          case same => same
        })
        true
      case _ => false
    } { _ =>
      scans.remove(scans.size - 1) match {
        case c: InCell =>
          out(c.slot).update(4, UTF8String.fromString(text.substring(c.from)))
          openCells -= 1
          if (openCells == 0) text.setLength(0)
        case _ => ()
      }
    }
    new GenericArrayData(out.toArray[Any])
  }
}
