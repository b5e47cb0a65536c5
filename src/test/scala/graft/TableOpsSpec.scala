package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.TableOps

/** HTML table → relational rows through the real parse kernel: omitted
  * end tags, header vs data cells, wrapper sections, nested tables. */
class TableOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cellsOf(html: String): Seq[(Int, Int, Int, String, String)] = {
    import spark.implicits._
    val ds = Seq(Doc("d1", Seq(InSpan("text", html, null, 0)))).toDS()
    TableOps.tableCells(ds).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
  }

  test("omitted end tags: <tr><td>a<td>b rows build the right grid") {
    val got = cellsOf(
      "<html><body><table><tr><th>h1<th>h2<tr><td>a<td>b<tr><td>c<td>d</table></body></html>")
    assert(got == Seq(
      (0, 0, 0, "th", "h1"), (0, 0, 1, "th", "h2"),
      (0, 1, 0, "td", "a"), (0, 1, 1, "td", "b"),
      (0, 2, 0, "td", "c"), (0, 2, 1, "td", "d")))
  }

  test("explicit tbody/thead wrappers do not break row indexing") {
    val got = cellsOf(
      "<table><thead><tr><th>h</th></tr></thead>" +
        "<tbody><tr><td>x</td></tr><tr><td>y</td></tr></tbody></table>")
    assert(got == Seq(
      (0, 0, 0, "th", "h"), (0, 1, 0, "td", "x"), (0, 2, 0, "td", "y")))
  }

  test("two tables get distinct tbl_idx in document order") {
    val got = cellsOf(
      "<table><tr><td>first</table><p>between<table><tr><td>second</table>")
    assert(got == Seq((0, 0, 0, "td", "first"), (1, 0, 0, "td", "second")))
  }

  test("nested table inside a cell gets its own tbl_idx; outer cell text concatenates") {
    val got = cellsOf(
      "<table><tr><td>outer<table><tr><td>inner</table></table>")
    assert(got.exists(c => c._1 == 1 && c._5 == "inner"))
    val outer = got.find(_._1 == 0).get
    assert(outer._5.startsWith("outer")) // descendant text concatenation
  }

  test("undeclared entity in a cell keeps its source spelling") {
    val got = cellsOf("<table><tr><td>&unknownent;rate</table>")
    assert(got == Seq((0, 0, 0, "td", "&unknownent;rate")))
  }

  test("oversized doc degrades gracefully; the next doc in the partition parses clean") {
    import spark.implicits._
    // maxDocChars caps the big doc mid-feed (error-logged, not thrown); the
    // following doc in the SAME partition must still produce its cells —
    // the cap counter resets per doc, never bleeding across the iterator.
    // (The Throwable → sentinel-row catch is defense-in-depth mirroring
    // SgmlExtract.extract's replace-parser pattern — the kernel itself is
    // fuzz-hardened not to throw.)
    val ds = Seq(
      Doc("big", Seq(InSpan("text", "<table><tr><td>waytoolongforthecap</table>", null, 0))), // 42 chars
      Doc("ok", Seq(InSpan("text", "<table><tr><td>x</table>", null, 0))) // 24 chars
    ).toDS().coalesce(1)
    val rows = TableOps.tableCells(ds,
        SgmlExtract.Config(maxDocChars = 30)) // between the two doc sizes
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(4), r.getString(5)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc("ok").exists(c => c._3 == "td" && c._4 == "x"))
    assert(!byDoc.get("big").exists(_.exists(_._3 == "td"))) // capped doc yields no cells
  }

  test("corpus wrap: 6 cells per doc, replayable from the doc columns") {
    val sf = "/root/testdata/sf0.001"
    val got = TableOps.tableCells(TableOps.wrapDocumentsTable(SgmlExtract.documents(spark, sf)))
      .collect()
      .map(r => (r.getString(0), r.getInt(2), r.getInt(3), r.getString(4), r.getString(5)))
    val docs = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id").toString ->
        (r.getAs[String]("lang"), r.getAs[String]("source"),
          r.getAs[String]("text").split(" ")(0))).toMap
    val byDoc = got.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (id, cells) =>
      val (lang, source, firstWord) = docs(id)
      val sorted = cells.sortBy(c => (c._2, c._3))
      assert(sorted.map(c => (c._2, c._3, c._4, c._5)).toSeq == Seq(
        (0, 0, "th", "lang"), (0, 1, "th", "source"),
        (1, 0, "td", lang), (1, 1, "td", source),
        (2, 0, "td", firstWord), (2, 1, "td", id)), s"doc $id")
    }
  }
}
