package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.Dedup
import graft.sgml.Span

/** Spark-surface integration tests: the `extract_spans` extraction kernel,
  * interleaved media passthrough through the Dataset API, lineage rows,
  * size-aware skew repartition, plan shape (pushdown before the opaque
  * kernel), and the training-data ops. */
class SparkExtractSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cfg = SgmlExtract.Config(dialect = "html4", space = "preserve")

  test("extract parses interleaved docs end-to-end (identity on plain text)") {
    import spark.implicits._
    val docs = SgmlExtract.wrapDocuments(spark, sf)
    val out = SgmlExtract.extractDf(docs, cfg)
    val joined = out.toDF().as("o")
      .join(spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text")).as("d"), "doc_id")
    val bad = joined.filter(
      size(col("spans")) =!= 1 || col("spans")(0)("text") =!= col("text")).count()
    assert(bad == 0)
    assert(out.count() == 500)
  }

  test("typed extract and extractDf share one schema and the SQL surface") {
    val docs = SgmlExtract.wrapDocumentsMarked(spark, sf)
    import spark.implicits._
    val typed = SgmlExtract.extractDf(docs, cfg).as[Extracted].toDF()
    val exprd = SgmlExtract.extractDf(docs.toDF(), cfg)
    assert(typed.schema.map(f => (f.name, f.dataType)) ===
      exprd.schema.map(f => (f.name, f.dataType)))
    assert(exprd.count() === 500)
    // SQL surface via the registered function
    graft.functions.ExtractSpansExpr.register(spark)
    docs.toDF().createOrReplaceTempView("docs_v")
    val viaSql = spark.sql(
      "SELECT doc_id, extract_spans(spans, 'html4', 'preserve').spans AS spans FROM docs_v")
    assert(viaSql.select(sum(size(col("spans")))).collect()(0).getLong(0) ===
      exprd.select(sum(size(col("spans")))).collect()(0).getLong(0))
  }

  test("unknown dialect or space names fail on the driver, listing the valid ones") {
    import graft.sgml.{Dialect, SpaceMode}
    val d = intercept[IllegalArgumentException](Dialect.parse("htlm4"))
    assert(d.getMessage.contains("html4") && d.getMessage.contains("xhtml5"))
    val sp = intercept[IllegalArgumentException](SpaceMode.parse("presrve"))
    assert(sp.getMessage.contains("preserve") && sp.getMessage.contains("sgml"))
    // case-insensitive, `html` alias, `sgml` (Config's default) explicit
    assert(Dialect.parse("HTML") == Dialect.Html4 && Dialect.parse("Xml") == Dialect.Xml)
    assert(SpaceMode.parse("SGML") == SpaceMode.SgmlMode)
    assert(SgmlExtract.Config().toParserConfig.space == SpaceMode.SgmlMode)
    // a quote in either name is rejected before it reaches the SQL text
    val docs = SgmlExtract.wrapDocuments(spark, sf).toDF()
    intercept[IllegalArgumentException](SgmlExtract.extractDf(docs, cfg.copy(dialect = "x'ml")))
    intercept[IllegalArgumentException](SgmlExtract.extractDf(docs, cfg.copy(space = "pre'serve")))
    intercept[IllegalArgumentException](SgmlExtract.extractDf(docs, cfg.copy(space = "presrve")))
  }

  test("boilerplate strip: chrome removed, main text + inline links survive") {
    import graft.sgml._
    val html = "<html><head><title>T</title><style>x{}</style></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<div><a href=\"/x\">Related article one</a> <a href=\"/y\">Related article two</a></div>" +
      "<p>An article sentence with an <a href=\"/in\">inline link</a> inside." +
      "<footer>(c)</footer></body></html>"
    val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve,
      boilerplate = true)
    val (spans, _) = SgmlParser.spans(html, cfg)
    assert(spans.map(_.text).mkString ===
      "An article sentence with an inline link inside.")
    // off: same doc parses to full content
    val (all, _) = SgmlParser.spans(html, cfg.copy(boilerplate = false))
    assert(all.map(_.text).mkString.contains("Home"))
    assert(all.map(_.text).mkString.contains("T"))
    // spark surface end-to-end on the corpus wrap
    val out = SgmlExtract.extractDf(
      SgmlExtract.wrapDocumentsBoiler(spark, sf),
      SgmlExtract.Config(dialect = "html4", space = "preserve", boilerplate = true))
    val joined = out.as("o").join(
      spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text")).as("d"), "doc_id")
    assert(joined.filter(
      expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)") =!= col("text")).count() === 0)
  }

  test("interleaved media spans pass through in order") {
    import spark.implicits._
    val ds = Seq(
      Doc("a", Seq(
        Span("text", "<p>x", null, 0),
        Span("media", "", "vid.mp4", 10),
        Span("text", "y</p>", null, 20)))).toDS()
    val r = SgmlExtract.extractDf(ds.toDF(), cfg).as[Extracted].collect()(0)
    assert(r.spans.map(s => (s.kind, s.text, s.media_ref)) == Seq(
      ("text", "x", null), ("media", "", "vid.mp4"), ("text", "y", null)))
    assert(r.spans.map(_.offset) == r.spans.map(_.offset).sorted)
  }

  test("poisoned doc yields error row, not task failure") {
    import spark.implicits._
    val ds = Seq(
      Doc("ok", Seq(Span("text", "<p>fine</p>", null, 0))),
      Doc("null-spans", null),
      Doc("huge", Seq(Span("text", "<p>" + ("x" * 100), null, 0)))).toDS()
    val small = SgmlExtract.Config(dialect = "html4", space = "preserve", maxDocChars = 50)
    val rs = SgmlExtract.extractDf(ds.toDF(), small).as[Extracted].collect().sortBy(_.doc_id)
    assert(rs.length == 3)
    val huge = rs.find(_.doc_id == "huge").get
    assert(huge.errors.exists(_.code == "doc-too-large"))
    assert(rs.find(_.doc_id == "ok").get.errors.isEmpty)
    // both limits reach the expression through extractDf
    def codes(df: org.apache.spark.sql.DataFrame, id: String): Seq[String] =
      df.filter(col("doc_id") === id).select(col("errors.code"))
        .as[Seq[String]].collect().head
    assert(codes(SgmlExtract.extractDf(ds.toDF(), small), "huge")
      .contains("doc-too-large"))
    val noisy = Seq(Doc("noisy", Seq(Span("text",
      "<p>" + ("x</b>" * 10) + "</p>", null, 0)))).toDS().toDF()
    assert(codes(SgmlExtract.extractDf(noisy, cfg), "noisy").length > 3)
    assert(codes(SgmlExtract.extractDf(noisy, cfg.copy(maxErrors = 2)), "noisy") ===
      Seq("unmatched-end-tag", "unmatched-end-tag", "max-errors"))
  }

  test("deep nesting: 5,000 and 50,000 nested divs are one row each, no failed task") {
    import spark.implicits._
    graft.functions.ExtractSpansExpr.register(spark)
    // local[4] runs each task once, so a task that threw would fail the job
    for (dialect <- Seq("xml", "html4"); depth <- Seq(5000, 50000)) {
      val doc = "<div>" * depth + "deep" + "</div>" * depth
      val ds = Seq(Doc(s"d$depth", Seq(Span("text", doc, null, 0)))).toDS()
      for (boilerplate <- Seq(false, true)) {
        val rows = SgmlExtract.extractDf(ds.toDF(),
            cfg.copy(dialect = dialect, boilerplate = boilerplate))
          .select(col("spans.kind"), col("spans.text"), col("errors.code"))
          .as[(Seq[String], Seq[String], Seq[String])].collect()
        val at = s"$dialect $depth boilerplate=$boilerplate"
        assert(rows.length === 1, at)
        val (kinds, texts, codes) = rows.head
        assert(kinds === Seq("text") && texts === Seq("deep"), s"$at: $codes")
        assert(!codes.contains("internal-error"), at)
      }
      val at = s"$dialect $depth"
      val written = SgmlExtract.serializeCanonical(ds.toDF(), cfg.copy(dialect = dialect))
        .select(col("xml_out"), size(col("errors"))).as[(String, Int)].collect()
      assert(written.length === 1 && written.head._2 === 0, at)
      assert(written.head._1.split("<div>", -1).length - 1 === depth, at)
      assert(written.head._1.contains("<div>deep</div>"), at)
      val xpath = Seq(doc).toDF("text")
        .selectExpr(s"sgml_xpath(text, '//div(last)/text', '$dialect')")
        .as[Seq[String]].collect()
      assert(xpath.toSeq === Seq(Seq("deep")), at)
      val table = "<table><tr><td>a</td><td>b</td></tr></table>"
      val tableDoc = Doc(s"t$depth",
        Seq(Span("text", "<div>" * depth + table + "</div>" * depth, null, 0)))
      val cells = graft.ops.TableOps.tableCells(Seq(tableDoc).toDF(), cfg.copy(dialect = dialect))
        .selectExpr("inline(cells)").select("row_idx", "col_idx", "cell").as[(Int, Int, String)].collect()
      assert(cells.toSeq === Seq((0, 0, "a"), (0, 1, "b")), at)
    }
  }

  test("lineage: one row per parse partition, totals match") {
    import spark.implicits._
    val docs = SgmlExtract.wrapDocuments(spark, sf).repartition(3)
    val ex = SgmlExtract.extractDf(docs, cfg)
    val lin = SgmlExtract.lineage(ex, "run-1").collect()
    assert(lin.length == 3)
    assert(lin.map(_.getAs[Long]("docs")).sum == 500)
    assert(lin.forall(_.getAs[String]("run_id") == "run-1"))
  }

  test("size-aware repartition isolates whales") {
    import spark.implicits._
    val docs = (1 to 100).map(i => Doc(s"d$i", Seq(Span("text", "small", null, 0)))) ++
      Seq(Doc("whale1", Seq(Span("text", "w" * 3000, null, 0))),
          Doc("whale2", Seq(Span("text", "w" * 3000, null, 0))))
    val df = docs.toDS().toDF()
    val rep = SgmlExtract.sizeAwareRepartition(df, 4, whaleChars = 1000)
    val parts = rep.withColumn("pid", spark_partition_id())
      .filter(col("doc_id").startsWith("whale"))
      .select("doc_id", "pid").as[(String, Int)].collect().toMap
    // round-robin whale placement: 2 whales over 4 partitions →
    // exactly one whale per task, deterministically (never co-located)
    assert(parts.size == 2)
    assert(parts.values.toSet.size == 2, s"whales co-located: $parts")
    // nothing lost
    assert(rep.count() === 102)
  }

  test("observed metrics ride the job: docs/spans/errors/chars in one pass") {
    import org.apache.spark.sql.Observation
    // an Observation's listener outlives its query on its session (it
    // re-throws a later query's failure into the listener bus), so it
    // gets a session of its own
    val docs = SgmlExtract.wrapDocumentsMarked(spark.newSession(), sf)
    val obs = Observation("graft")
    val out = SgmlExtract.withObservedMetrics(
      SgmlExtract.extractDf(docs.toDF(), cfg), obs)
    val written = out.count() // the consuming action; metrics piggyback
    val m = obs.get
    assert(m("docs") === written)
    assert(m("docs") === 500L)
    assert(m("spans") === 1500L) // text + tail + media per doc
    assert(m("errors") === 0L)
    assert(m("chars").asInstanceOf[Long] > 0L)
  }

  test("sgml_spans UDF surface (LATERAL VIEW ergonomics)") {
    graft.functions.ExtractSpansExpr.register(spark)
    val n = spark.sql(
      """SELECT s.kind, s.text FROM (SELECT '<ul><li>a<li>b</ul>' AS m)
        |LATERAL VIEW explode(sgml_spans(m, 'html4', 'sgml')) t AS s""".stripMargin)
      .collect()
    assert(n.map(_.getString(1)).toSeq == Seq("a", "b"))
    // spec-interpreter SQL surface: xpath.pl dialect over the parsed DOM
    val x = spark.sql(
      """SELECT sgml_xpath('<ul><li>a<li>b</ul>', '//li(last)/text', 'html4') AS r""")
      .collect()(0).getSeq[String](0)
    assert(x == Seq("b"))
  }

  test("one contract format: every writer yields Doc's fields, extractDf Extracted's; tableCells feeds media") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Encoders}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.StructType
    import graft.ops.TableOps
    import graft.streaming.{Chunk, StreamingExtract}
    // names and SQL types; nullability flags are not part of the contract
    // (any file-format round-trip drops them)
    def fields(schema: StructType): Seq[(String, String)] =
      schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
    val docFields = fields(Encoders.product[Doc].schema)
    val writers: Seq[(String, DataFrame)] = Seq(
      "wrapDocuments" -> SgmlExtract.wrapDocuments(spark, sf),
      "wrapDocsDf" -> SgmlExtract.wrapDocsDf(SgmlExtract.documents(spark, sf)),
      "wrapDocumentsMarked" -> SgmlExtract.wrapDocumentsMarked(spark, sf),
      "wrapDocumentsMalformed" -> SgmlExtract.wrapDocumentsMalformed(spark, sf),
      "wrapDocumentsShortref" -> SgmlExtract.wrapDocumentsShortref(spark, sf),
      "wrapDocumentsBoiler" -> SgmlExtract.wrapDocumentsBoiler(spark, sf),
      "wrapDocumentsTable" -> TableOps.wrapDocumentsTable(SgmlExtract.documents(spark, sf)))
    for ((name, df) <- writers) assert(fields(df.schema) === docFields, name)
    // the streaming assembly: the same fields plus its incomplete-doc detail
    val assembled = StreamingExtract.assemble(MemoryStream[Chunk](spark).toDS(), 0L)
    assert(fields(assembled.schema) === docFields :+ ("incomplete" -> "string"))
    // the extraction result is Extracted's schema, exactly
    val extracted = SgmlExtract.extractDf(SgmlExtract.wrapDocumentsMarked(spark, sf), cfg)
    assert(extracted.schema.map(f => (f.name, f.dataType)) ===
      Encoders.product[Extracted].schema.map(f => (f.name, f.dataType)))
    // tableCells feeds media spans as extractDf does: a media span inside
    // a cell adds no cell text
    def cells(spans: Seq[Span], space: String): Seq[(Int, Int, String)] =
      TableOps.tableCells(Seq(Doc("m", spans)).toDF(), SgmlExtract.Config(space = space))
        .selectExpr("inline(cells)").select("row_idx", "col_idx", "cell").as[(Int, Int, String)].collect().toSeq
    val split = Seq(Span("text", "<table><tr><td>a", null, 0),
      Span("media", "", "img.png", 16), Span("text", "b<td>c</table>", null, 16))
    for (space <- Seq("sgml", "preserve"))
      assert(cells(split, space) === Seq((0, 0, "ab"), (0, 1, "c")), space)
    // under space=sgml a newline directly after a start tag is dropped; a
    // media span between <td> and the newline keeps it (without the media
    // span the newline goes)
    val led = Seq(Span("text", "<table><tr><td>", null, 0),
      Span("media", "", "img.png", 15), Span("text", "\nx<td>y</table>", null, 15))
    assert(cells(led, "sgml") === Seq((0, 0, "\nx"), (0, 1, "y")))
    assert(cells(led.filter(_.kind == "text"), "sgml") === Seq((0, 0, "x"), (0, 1, "y")))
  }

  test("sgml_spans is extract_spans over one text span: literal options; a throwing parse gives []") {
    import graft.functions.ExtractSpansExpr
    graft.functions.ExtractSpansExpr.register(spark)
    val plan = spark.sql("SELECT sgml_spans(m, 'xml', 'remove') AS s FROM (SELECT '<d/>' AS m)")
      .queryExecution.analyzed
    val kernels = plan.expressions.flatMap(_.collect { case e: ExtractSpansExpr => e })
    assert(kernels.map(k => (k.config.dialect, k.config.space)) === Seq(("xml", "remove")))
    // options are literals, checked at analysis
    val err = intercept[Exception](spark.sql(
      "SELECT sgml_spans(m, d, 'sgml') FROM (SELECT '<p>x' AS m, 'html4' AS d)").collect())
    assert(err.getMessage.contains("dialect must be a string literal"), err.getMessage)
    // defaults: html4, preserve
    val dflt = spark.sql("SELECT sgml_spans(m) AS s FROM (SELECT '<p>a\n<p>b' AS m)")
      .selectExpr("transform(s, x -> x.text)").collect()(0).getSeq[String](0)
    assert(dflt === Seq("a\n", "b"))
    // a parse that throws is caught by the kernel: the span array
    // is empty and the row is an error row. No text input is known to make
    // the kernel throw, so an input whose offset slot holds a string under
    // the contract type makes the feed throw, in the expression sgml_spans
    // resolves to (a Literal checks its value against its type, so the
    // value comes in through a bound input slot); a string offset column
    // itself fails analysis.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.unsafe.types.UTF8String
    val badSpan = InternalRow(UTF8String.fromString("text"), UTF8String.fromString("<p>x"),
      null, UTF8String.fromString("zero"))
    val input = BoundReference(0, ArrayType(ExtractSpansExpr.SpanType), nullable = true)
    val thrown = ExtractSpansExpr(input, SgmlExtract.Config(space = "preserve"))
      .eval(InternalRow(new GenericArrayData(Array[Any](badSpan)))).asInstanceOf[InternalRow]
    assert(thrown.getArray(0).numElements() === 0)
    val errs = thrown.getArray(1)
    assert(errs.numElements() === 1)
    assert(errs.getStruct(0, 3).getUTF8String(0).toString === "internal-error")
    val typed = intercept[Exception](spark.sql(
      """SELECT extract_spans(array(named_struct('kind', 'text', 'text', m,
        |  'media_ref', CAST(NULL AS STRING), 'offset', 'zero'))) AS r
        |FROM (SELECT '<p>x' AS m)""".stripMargin).collect())
    assert(typed.getMessage.contains("field `offset` is STRING"), typed.getMessage)
  }

  test("one parse expression: every projection reports doc-too-large; one ExtractSpansExpr, no MapPartitions or ScalaUDF") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MapPartitions}
    import graft.functions.ExtractSpansExpr
    import graft.ops.TableOps
    import graft.sgml.XPathSpec
    def kernels(plan: LogicalPlan): Seq[ExtractSpansExpr] =
      plan.flatMap(_.expressions.flatMap(_.collect { case e: ExtractSpansExpr => e }))
    def udfs(plan: LogicalPlan): Seq[ScalaUDF] =
      plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    val docs = Seq(
      Doc("normal", Seq(Span("text", "<p>fine</p>", null, 0))),
      Doc("big", Seq(Span("text", "<p>" + ("x" * 100), null, 0))),
      Doc("media", Seq(Span("text", "<table><tr><td>a", null, 0),
        Span("media", "", "img.png", 16), Span("text", "b</table>", null, 16)))).toDS().toDF()
    val small = cfg.copy(maxDocChars = 50)
    val outs: Seq[(String, DataFrame)] = Seq(
      "extractDf" -> SgmlExtract.extractDf(docs, small),
      "serializeCanonical" -> SgmlExtract.serializeCanonical(docs, small),
      "tableCells" -> TableOps.tableCells(docs, small))
    for ((name, df) <- outs) {
      val codes = df.select(col("doc_id"), col("errors.code"))
        .as[(String, Seq[String])].collect().toMap
      assert(codes.keySet === Set("normal", "big", "media"), name)
      assert(codes("big") === Seq("doc-too-large"), name)
      assert(codes("normal").isEmpty && codes("media").isEmpty, name)
      val plan = df.queryExecution.analyzed
      assert(kernels(plan).length === 1, s"$name: $plan")
      assert(plan.collect { case m: MapPartitions => m }.isEmpty, s"$name: $plan")
      assert(udfs(plan).isEmpty, s"$name: $plan")
    }
    val cells = TableOps.tableCells(docs, small).filter(col("doc_id") === "media")
      .selectExpr("inline(cells)").as[(Int, Int, Int, String, String)].collect().toSeq
    assert(cells === Seq((0, 0, 0, "td", "ab")))
    val xml = SgmlExtract.serializeCanonical(docs, small).filter(col("doc_id") === "normal")
      .select("xml_out").as[String].collect().toSeq
    assert(xml === Seq("<html><head></head><body><p>fine</p></body></html>"))
    // sgml_xpath: one kernel expression, its spec parsed at analysis
    graft.functions.ExtractSpansExpr.register(spark)
    val xq = spark.sql("SELECT sgml_xpath(m, '//li(2)/text', 'html4') AS r " +
      "FROM (SELECT '<ul><li>a<li>b</ul>' AS m)")
    assert(kernels(xq.queryExecution.analyzed).length === 1)
    assert(udfs(xq.queryExecution.analyzed).isEmpty)
    assert(xq.as[Seq[String]].collect().toSeq === Seq(Seq("b")))
    val malformed = intercept[Exception](
      spark.sql("SELECT sgml_xpath(m, '//a(', 'xml') FROM (SELECT '<a/>' AS m)").collect())
    assert(malformed.getMessage.contains(
      "sgml_xpath: spec '//a(': " + XPathSpec.parse("//a(").swap.toOption.get), malformed.getMessage)
    val column = intercept[Exception](spark.sql(
      "SELECT sgml_xpath(m, s, 'xml') FROM (SELECT '<a/>' AS m, 'a' AS s)").collect())
    assert(column.getMessage.contains("spec must be a string literal"), column.getMessage)
  }

  test("codegen ≡ interpreted: every kernel projection gives the same rows in three codegen modes, inside one whole-stage stage") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.graft.Catalyst
    import graft.functions.ExtractSpansExpr
    val dir = java.nio.file.Files.createTempDirectory("codegen-modes").resolve("docs").toString
    Seq(
      Doc("normal", Seq(Span("text", "<p>fine<p>two", null, 0))),
      Doc("null-spans", null),
      Doc("null-span", Seq(Span("text", "<ul><li>a", null, 0), null, Span("text", "<li>b</ul>", null, 9))),
      Doc("media", Seq(Span("text", "<table><tr><td>a", null, 0),
        Span("media", "", "img.png", 16), Span("text", "b</table>", null, 16))),
      Doc("big", Seq(Span("text", "<p>" + ("x" * 100), null, 0))),
      Doc("noisy", Seq(Span("text", "<p>" + ("x</b>" * 10) + "</p>", null, 0))),
      Doc("bad", Seq(Span("text", "<p>x", null, 0)))).toDS().write.parquet(dir)
    val small = cfg.copy(maxDocChars = 60, maxErrors = 3)
    graft.functions.ExtractSpansExpr.register(spark)
    def outputs(): Seq[(String, DataFrame)] = {
      // the malformed row reaches the kernel without a row copy in between
      val docs = spark.read.parquet(dir).withColumn("spans",
        when(col("doc_id") === "bad", Catalyst.column(MalformedSpans)).otherwise(col("spans")))
      Seq(
        "extractDf" -> SgmlExtract.extractDf(docs, small),
        "serializeCanonical" -> SgmlExtract.serializeCanonical(docs, small),
        "sgml_xpath" -> docs.selectExpr("doc_id",
          "sgml_xpath(concat_ws('', spans.text), '//li/text', 'html4') AS r"))
    }
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getString(0))
    val modes = Seq(Map.empty[String, String], Map("spark.sql.codegen.wholeStage" -> "false"),
      Map("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    val got = modes.map { mode =>
      mode.foreach { case (k, v) => spark.conf.set(k, v) }
      try outputs().map { case (name, df) => name -> rows(df) }
      finally mode.keys.foreach(spark.conf.unset)
    }
    assert(got(1) === got(0))
    assert(got(2) === got(0))
    val extracted = got(0).head._2.map(r => r.getString(0) -> r).toMap
    def codes(id: String): Seq[String] = extracted(id).getSeq[Row](2).map(_.getString(0))
    assert(extracted("null-spans").isNullAt(1))
    assert(codes("big") === Seq("doc-too-large"))
    assert(codes("noisy").last === "max-errors")
    assert(extracted("bad").getSeq[Row](2).map(e => (e.getString(0), e.getString(2))) ===
      Seq(("internal-error", "java.lang.IllegalStateException")))
    assert(extracted("media").getSeq[Row](1).map(_.getString(0)) === Seq("text", "media", "text"))
    assert(got(0)(2)._2.map(r => r.getString(0) -> r.getSeq[String](1)).toMap.apply("null-span") === Seq("a", "b"))
    // the kernel runs inside a whole-stage stage, not behind a row copy
    def kernelFused(p: SparkPlan, fused: Boolean): Seq[Boolean] = p match {
      case a: AdaptiveSparkPlanExec => kernelFused(a.executedPlan, fused)
      case w: WholeStageCodegenExec => kernelFused(w.child, fused = true)
      case i: InputAdapter => kernelFused(i.child, fused = false)
      case _ =>
        (if (p.expressions.exists(_.exists(_.isInstanceOf[ExtractSpansExpr]))) Seq(fused) else Nil) ++
          p.children.flatMap(kernelFused(_, fused))
    }
    for ((name, df) <- outputs())
      assert(kernelFused(df.queryExecution.executedPlan, fused = false) === Seq(true),
        s"$name: ${df.queryExecution.executedPlan}")
  }

  test("library calls build their kernel nodes: a fresh session stays unregistered") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    import graft.functions.{BucketCollect, ExtractSpansExpr}
    import graft.ops.{TableOps, XPathOps}
    val fresh = spark.newSession()
    val names = ExtractSpansExpr.functions.map(_._1.funcName).toSet
    def registered = Seq("extract_spans", "bucket_collect").filter(fresh.catalog.functionExists)
    assert(registered.isEmpty)
    val docs = SgmlExtract.wrapDocuments(fresh, sf)
    val banded = fresh.range(100).select(col("id"), (col("id") % 7).as("k"))
    val calls: Seq[(String, DataFrame, Class[_])] = Seq(
      ("extractDf", SgmlExtract.extractDf(docs, cfg), classOf[ExtractSpansExpr]),
      ("serializeCanonical", SgmlExtract.serializeCanonical(docs, cfg), classOf[ExtractSpansExpr]),
      ("tableCells", TableOps.tableCells(docs, cfg), classOf[ExtractSpansExpr]),
      ("xq5", XPathOps.specInterpreter(fresh.read.parquet(s"$sf/nation.parquet")),
        classOf[ExtractSpansExpr]),
      ("Dedup.buckets", Dedup.buckets(banded, Seq("k"), col("id"), cap = 10), classOf[BucketCollect]))
    for ((name, df, node) <- calls) {
      val logical = df.queryExecution.logical
      val exprs = logical.flatMap(_.expressions.flatMap(_.collect { case e => e }))
      assert(exprs.exists(node.isInstance), s"$name: $logical")
      assert(!exprs.exists {
        case f: UnresolvedFunction => names.contains(f.nameParts.last); case _ => false
      }, s"$name: $logical")
      assert(df.collect().nonEmpty, name)
      assert(registered.isEmpty, name)
    }
  }

  test("a session built with GraftExtensions resolves every function of the table and runs each as register does") {
    import org.apache.spark.sql.Row
    import graft.functions.{ExtractSpansExpr, GraftExtensions}
    import graft.ops.MediaOps
    spark.sparkContext // the shared session and its context exist first
    // `spark.sql.extensions` is a static conf, so only a new session
    // applies an extension: clear the shared sessions around the builder
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally { active.foreach(SparkSession.setActiveSession); default.foreach(SparkSession.setDefaultSession) }
    assert(ext ne spark)
    val names = ExtractSpansExpr.functions.map(_._1.funcName)
    assert(names.distinct.length === 14)
    assert(names.filterNot(ext.catalog.functionExists) === Nil)
    val span = "array(named_struct('kind', 'text', 'text', m, 'media_ref', CAST(NULL AS STRING), 'offset', 0))"
    val calls = Seq(
      "extract_spans" -> s"extract_spans($span).spans.text",
      "sgml_spans" -> "sgml_spans(m).text",
      "sgml_canonical" -> s"sgml_canonical($span).xml",
      "sgml_table_cells" -> s"sgml_table_cells($span).cells.cell",
      "sgml_xpath" -> "sgml_xpath(m, '//li(2)/text', 'html4')",
      "pwp_render" -> "pwp_render('<d a=\"$x\" pwp:use=\"$x\"></d>', map('x', 'V'))",
      "text_shingles" -> "text_shingles(t)",
      "shingle_hash" -> "shingle_hash('quick brown fox')",
      "minhash_sig" -> "minhash_sig(t)",
      "simhash64" -> "simhash64(t)",
      "ngram_jaccard" -> "ngram_jaccard(t, m)",
      "doc_fingerprint" -> "doc_fingerprint(t)",
      "media_meta" -> "media_meta(b)")
    def run(s: SparkSession): (Row, Row) = {
      s.createDataFrame(Seq(("<ul><li>a<li>b</ul><table><tr><td>c<td>d</table>", "the quick brown fox jumps over the lazy dog",
        MediaOps.pngEncode(20, 30, 7L)))).toDF("m", "t", "b").createOrReplaceTempView("ext_v")
      (s.sql(calls.map { case (name, call) => s"$call AS $name" }.mkString("SELECT ", ", ", " FROM ext_v")).head(),
        s.sql("SELECT bucket_collect(id, 2) AS b FROM range(5)").head())
    }
    assert((calls.map(_._1) :+ "bucket_collect").sorted === names.sorted)
    val (row, bucket) = run(ext)
    assert(row.getAs[String]("pwp_render") === "<d a=\"V\">V</d>")
    assert(row.getAs[Seq[String]]("sgml_xpath") === Seq("b"))
    assert(row.getAs[Seq[String]]("sgml_table_cells") === Seq("c", "d"))
    assert(row.getAs[Row]("media_meta").getAs[Int]("width") === 20)
    assert(bucket.getStruct(0).getLong(0) === 5L)
    graft.functions.ExtractSpansExpr.register(spark)
    assert(run(spark) === (row, bucket))
  }

  test("xq5 parses each region doc once: one kernel expression, rows as the window query") {
    import spark.implicits._
    import graft.functions.ExtractSpansExpr
    import graft.ops.XPathOps
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val xq5 = XPathOps.specInterpreter(nation)
    val kernels = xq5.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e: ExtractSpansExpr => e }))
    assert(kernels.length === 1, xq5.queryExecution.optimizedPlan)
    val firstKey = nation.groupBy(col("n_regionkey").as("region_key"))
      .agg(min(col("n_nationkey")).cast("long").as("first_key"))
    val expected = XPathOps.positionalWindow(nation).join(firstKey, "region_key")
      .select("region_key", "second_nation", "last_nation", "first_key")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val got = xq5.select("region_key", "second_nation", "last_nation", "first_key")
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got.length === 5 && got === expected)
  }

  test("hostile input ends as a code: DTD groups 20,000 deep give dtd-nesting, an entity chain entity-budget") {
    import spark.implicits._
    def parsed(doc: String, c: SgmlExtract.Config): Seq[(Seq[String], Seq[String])] =
      SgmlExtract.extractDf(Seq(Doc("d", Seq(Span("text", doc, null, 0)))).toDS().toDF(), c)
        .select(col("spans.text"), col("errors.code"))
        .as[(Seq[String], Seq[String])].collect().toSeq
    // local[4] runs each task once, so a task that threw would fail the job
    val depth = 20000
    val deep = "<!DOCTYPE r [<!ELEMENT r " + "(" * depth + "a" + ")" * depth + ">]><r>x</r>"
    for (dialect <- Seq("xml", "html4")) {
      val rows = parsed(deep, cfg.copy(dialect = dialect))
      assert(rows.length === 1, dialect)
      val (texts, codes) = rows.head
      assert(codes.contains("dtd-nesting") && !codes.contains("internal-error"), s"$dialect: $codes")
      assert(texts.mkString === "x", dialect)
    }
    // fan-out 100 over four levels expands to 10^9 chars; the injected
    // text stops at maxDocChars
    val budget = 1 << 20
    val chain = "<!ENTITY e0 \"xxxxxxxxxx\">" + (1 to 4).map(k =>
      s"<!ENTITY e$k \"" + s"&e${k - 1};" * 100 + "\">").mkString
    val rows = parsed(s"<!DOCTYPE d [$chain]><d>&e4;</d>",
      cfg.copy(dialect = "xml", maxDocChars = budget))
    assert(rows.length === 1)
    val (texts, codes) = rows.head
    assert(codes === Seq("entity-budget"))
    val chars = texts.map(_.length).sum
    assert(chars > 0 && chars <= budget, chars)
  }

  test("plan shape: column pruning reaches the scan before the kernel") {
    val docs = SgmlExtract.wrapDocuments(spark, sf)
    val plan = docs.queryExecution.executedPlan.toString
    // only doc_id and text may be read — lang/source/n_chars pruned
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("n_chars"), plan)
  }

  test("dedup: exact finds injected duplicates; minhash finds near-dups") {
    import spark.implicits._
    import graft.ops.Dedup
    assert(Dedup.ngramJaccard("a b c d e f", "a b c d e f") == 1.0)
    assert(Dedup.ngramJaccard("a b c d e f", "x y z w v u") == 0.0)
    val near = Dedup.ngramJaccard(
      "the quick brown fox jumps over the lazy dog today",
      "the quick brown fox jumps over the lazy cat today")
    assert(near > 0.3 && near < 1.0)
    // simhash of near-identical texts within small hamming distance
    val h1 = Dedup.simhash("the quick brown fox jumps over the lazy dog " * 5)
    val h2 = Dedup.simhash(("the quick brown fox jumps over the lazy dog " * 5) + "tail")
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 8)
  }

  test("knn: brute-force exact ranks correctly; LSH restricts to buckets") {
    import graft.ops.Similarity
    val exact = Similarity.knnBruteForce(SgmlExtract.embeddings(spark, sf), numQueries = 5, k = 5).collect()
    assert(exact.length == 25) // 5 queries × 5 ranked neighbors
    val ranks = exact.groupBy(_.getLong(0)).values
    assert(ranks.forall(_.map(_.getInt(1)).sorted.sameElements(1 to 5)))
    // multi-table multi-probe LSH is approximate: with probeBits = b,
    // every candidate's bucket is within hamming distance b of its
    // query's bucket in at least one hash table — guaranteed by the
    // probe-set construction, asserted here for b = 0 and b = 1
    val buckets = Similarity.lshBuckets(SgmlExtract.embeddings(spark, sf), nPlanes = 2)
      .select("vec_id", "tbl", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def maxMinHamming(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.map { r =>
        (0 until Similarity.DefaultTables).map { t =>
          java.lang.Long.bitCount(buckets((r.getLong(2), t)) ^ buckets((r.getLong(0), t)))
        }.min
      }.max
    val emb = SgmlExtract.embeddings(spark, sf)
    val exactBucket =
      Similarity.knnLsh(emb, numQueries = 5, k = 5, nPlanes = 2, probeBits = 0).collect()
    assert(exactBucket.nonEmpty && maxMinHamming(exactBucket) == 0)
    val oneBit =
      Similarity.knnLsh(emb, numQueries = 5, k = 5, nPlanes = 2, probeBits = 1).collect()
    assert(oneBit.nonEmpty && maxMinHamming(oneBit) <= 1)
    val approx = Similarity.knnLsh(emb, numQueries = 5, k = 5, nPlanes = 2).collect()
    assert(approx.nonEmpty && maxMinHamming(approx) <= 2)
    // with 2 planes (4 big buckets), top-1 recall is usually non-zero; the
    // property that matters structurally is determinism
    val again = Similarity.knnLsh(emb, numQueries = 5, k = 5, nPlanes = 2).collect()
    assert(approx.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("knn ivf: cell-restricted search is deterministic, ranked by cosine") {
    import graft.ops.Similarity
    val r1 = Similarity.knnIvf(SgmlExtract.embeddings(spark, sf), numQueries = 5, k = 5).collect()
    assert(r1.nonEmpty)
    val byQ = r1.groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      val ranks = rows.map(_.getAs[Long]("rank")).sorted
      assert(ranks.head == 1L && ranks.length <= 5)
      assert(ranks.toSet.size == ranks.length) // dense distinct ranking
      // all candidates came from the query's probed cells (nprobe = 4)
      assert(rows.map(_.getAs[Int]("cell")).toSet.size <= 4)
    }
    // deterministic across runs (fixed kmeans seed)
    val r2 = Similarity.knnIvf(SgmlExtract.embeddings(spark, sf), numQueries = 5, k = 5).collect()
    assert(r1.map(_.toString).sorted.sameElements(r2.map(_.toString).sorted))
  }

  test("knn pq: ADC ranking is complete, deterministic, self-excluding") {
    import graft.ops.Similarity
    val a = Similarity.knnPq(SgmlExtract.embeddings(spark, sf)).collect()
    assert(a.length == 50) // 10 queries × full top-5 (flat scan never misses)
    val byQ = a.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to 5L))
      assert(!rows.exists(_.getLong(2) == q)) // never its own neighbor
    }
    val b = Similarity.knnPq(SgmlExtract.embeddings(spark, sf)).collect()
    assert(a.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      b.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("knn ivf+pq: candidates restricted to probed cells, ranked by ADC") {
    import graft.ops.Similarity
    val composite = Similarity.knnIvfPq(SgmlExtract.embeddings(spark, sf)).collect()
    assert(composite.nonEmpty)
    // every returned neighbor really lives in one of its query's probed
    // cells: cross-check the cell column against the flat assignment
    composite.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length))
      assert(rows.map(_.getInt(3)).toSet.size <= 4) // ≤ nprobe distinct cells
      assert(!rows.exists(_.getLong(2) == q))
    }
    // determinism across re-runs (fresh fit, same literals)
    val again = Similarity.knnIvfPq(SgmlExtract.embeddings(spark, sf)).collect()
    assert(composite.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("ann recall gate: lsh/ivf/pq/ivfpq measured against exact, deterministic") {
    import graft.ops.Similarity
    val rows = Similarity.annRecall(SgmlExtract.embeddings(spark, sf)).collect()
    assert(rows.map(_.getString(0)).toSet == Set("lsh", "ivf", "pq", "ivfpq"))
    rows.foreach { r =>
      val hits = r.getLong(1); val total = r.getLong(2); val recall = r.getDouble(3)
      assert(total == 50L && hits >= 0 && hits <= total)
      assert(math.abs(recall - hits.toDouble / total) < 1e-6)
    }
  }

  test("ANN entry points agree: annRecall's shared fit ≡ each standalone search") {
    import graft.ops.Similarity
    val emb = SgmlExtract.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(emb))
    val hits = Similarity.annRecall(emb).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val standalone = Map(
      "lsh" -> Similarity.knnLsh(emb), "ivf" -> Similarity.knnIvf(emb),
      "pq" -> Similarity.knnPq(emb), "ivfpq" -> Similarity.knnIvfPq(emb))
    assert(hits.keySet == standalone.keySet)
    standalone.foreach { case (method, df) =>
      assert(hits(method) == pairs(df).intersect(exact).size.toLong, method)
    }
  }

  test("mega-bucket valve: pathological one-bucket corpora survive a cap") {
    import spark.implicits._
    import graft.ops.{Dedup, Similarity}
    // 40 identical docs → every simhash band bucket holds all 40 rows
    val same = (1L to 40L).map(i => (i, "the same template text repeated " * 4))
      .toDF("doc_id", "text")
    val sh = udf((t: String) => Dedup.simhash(t))
    val hashes = same.select(col("doc_id"), sh(col("text")).as("simhash"))
    // uncapped: C(40,2) identical-hash pairs
    assert(Dedup.simhashPairsOf(hashes).count() === 40L * 39 / 2)
    // capped below the bucket size: the hot bucket drops WHOLE — no pairs,
    // no OOM path (its aggregation buffer never holds more than cap + 1)
    assert(Dedup.simhashPairsOf(hashes, maxBucket = 10).count() === 0)
    // the audit row makes the drop loud: 4 band buckets × 40 rows
    val banded = hashes.select(col("doc_id"),
      explode(array((0 until 4).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16)
          .bitwiseAND(lit(0xFFFFL)).as("band_val"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.band_val").as("band_val"))
    val stats = Dedup.droppedBucketStats(banded, Seq("band", "band_val"), 10).collect()(0)
    assert(stats.getAs[Long]("dropped_buckets") === 4L)
    assert(stats.getAs[Long]("dropped_rows") === 160L)
    // same valve on the embedding near-dup path: 20 identical vectors in
    // one LSH bucket
    val emb = (1L to 20L).map(i => (i, Array.fill(64)(0.5f).toSeq))
      .toDF("vec_id", "embedding")
    assert(Similarity.embeddingNearDups(emb, minSim = 0.9).count() === 20L * 19 / 2)
    assert(Similarity.embeddingNearDups(emb, minSim = 0.9, maxBucket = 5).count() === 0)
    // minhash band path through the same helper
    assert(Dedup.verifiedPairsOf(same, "doc_id", "text", 0.5).count() === 40L * 39 / 2)
    assert(Dedup.verifiedPairsOf(same, "doc_id", "text", 0.5, maxBucket = 10).count() === 0)
  }

  test("dedup clusters: min-label propagation ≡ transitive closure") {
    import spark.implicits._
    import graft.ops.Dedup
    // chain 1-2-3 (transitive: pairwise drop-greater would over-keep 3),
    // pair 10-11, isolated 12
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("doc_id")
    val got = Dedup.clustersOf(pairs, ids).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      10L -> (10L, true), 11L -> (10L, false), 12L -> (12L, true)))
    // a long path needs O(diameter) rounds — the convergence loop, not a
    // fixed two-hop join, must carry the label to the far end
    val path = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val pathIds = (1L to 10L).toDF("doc_id")
    val far = Dedup.clustersOf(path, pathIds).filter(col("doc_id") === 10L).collect()(0)
    assert(far.getLong(1) === 1L)
    // adversarial chain, O(log diameter) pin: a 60-node path converges
    // within 12 rounds ONLY under path halving (reach doubles per round:
    // 1, 3, 7, …, 63 → 6 rounds + 1 to detect the fixpoint); plain
    // min-label propagation needs 59 and would return wrong labels here
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainIds = (1L to 60L).toDF("doc_id")
    val chainGot = Dedup.clustersOf(chain, chainIds, maxIter = 12).collect()
    assert(chainGot.forall(_.getLong(1) == 1L),
      chainGot.filter(_.getLong(1) != 1L).mkString(", "))
  }

  test("IVF list count derives from corpus size; probe masks honor any radius") {
    import graft.ops.Similarity
    // probe masks: Σ C(nPlanes, i) for i ≤ probeBits, all distinct, each
    // of Hamming weight ≤ probeBits — radius 3 is honored, not clamped
    val m3 = Similarity.probeMasks(6, 3)
    assert(m3.size === 1 + 6 + 15 + 20)
    assert(m3.distinct.size === m3.size)
    assert(m3.forall(m => java.lang.Long.bitCount(m) <= 3))
    assert(Similarity.probeMasks(6, 2).size === 22) // the pinned default
    intercept[IllegalArgumentException](Similarity.probeMasks(6, 7))
    intercept[IllegalArgumentException](Similarity.probeMasks(6, -1))
    // IVF list count: occupancy-targeted, clamped
    assert(Similarity.derivedNlist(500) === 16) // test-SF floor
    assert(Similarity.derivedNlist(100000000L) === 1000) // 100M / 100k
    assert(Similarity.derivedNlist(1000000000000L) === 65536) // 10¹² capped
  }

  test("image header sniffing: PNG/GIF/JPEG dimensions from real bytes") {
    import graft.ops.MediaOps
    // PNG: writer → sniffer round trip, arbitrary dims
    for ((w, h) <- Seq((16, 16), (1039, 17), (640, 480))) {
      val png = MediaOps.pngHeader(w, h) ++ Array.fill[Byte](10)(0x5a)
      assert(MediaOps.sniffImage(png) === Some(("image/png", w, h)))
    }
    // GIF89a: logical screen descriptor is little-endian
    val gif = "GIF89a".getBytes("ASCII") ++
      Array[Byte](0x34, 0x12, 0x78, 0x56) ++ new Array[Byte](16)
    assert(MediaOps.sniffImage(gif) === Some(("image/gif", 0x1234, 0x5678)))
    // JPEG: SOI, APP0 segment, then SOF0 (len, precision, height, width)
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xE0.toByte, 0x00, 0x10) ++ new Array[Byte](14) ++
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0x00, 0x11, 0x08,
        0x01, 0xE0.toByte, /*h=480*/ 0x02, 0x80.toByte /*w=640*/) ++
      new Array[Byte](20)
    assert(MediaOps.sniffImage(jpeg) === Some(("image/jpeg", 640, 480)))
    // non-image bytes fall through to None (stub path)
    assert(MediaOps.sniffImage("RIFFxxxxWAVE".getBytes("ASCII")) === None)
    assert(MediaOps.sniffImage(Array.emptyByteArray) === None)
    // synthetic PNG assets carry real headers: decode = header parse
    val pngMeta = MediaOps.decodeStub(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf)))
      .filter(_.mime == "image/png").collect()
    assert(pngMeta.nonEmpty)
    pngMeta.foreach { m =>
      assert(m.width >= 16 && m.width < 16 + 1024)
      assert(m.height >= 16 && m.height < 16 + 1024)
      assert(m.n_frames === 1)
    }
    // WAV: writer → sniffer round trip (fmt chunk, little-endian)
    val wav = MediaOps.wavHeader(2, 44100, 200) ++ new Array[Byte](156)
    assert(MediaOps.sniffWav(wav) === Some((2, 44100)))
    assert(MediaOps.sniffWav("noise not riff at all........".getBytes("ASCII")) === None)
    // MP4: writer → sniffer round trip (mvhd frames, tkhd 16.16 dims)
    val mp4 = MediaOps.mp4Header(640, 480, 90) ++ new Array[Byte](64)
    assert(MediaOps.sniffMp4(mp4) === Some((640, 480, 90)))
    assert(MediaOps.sniffMp4(new Array[Byte](64)) === None)
    // the synthetic corpus: every asset's header metadata parses REAL
    val metaAll = MediaOps.decodeStub(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf))).collect()
    metaAll.filter(_.mime == "audio/wav").foreach { m =>
      assert(m.width === 0 && m.height === 0)
      assert(m.channels >= 1 && m.channels <= 2)
      assert(m.sample_rate >= 8000 && m.sample_rate <= 36000)
    }
    metaAll.filter(_.mime == "video/mp4").foreach { m =>
      assert(m.width >= 16 && m.n_frames >= 1 && m.n_frames <= 300)
      assert(m.byte_len >= 256)
    }
  }

  test("media stub pipeline: deterministic metadata, joinable to spans") {
    import graft.ops.MediaOps
    val meta = MediaOps.decodeStub(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf)))
    val rows = meta.collect()
    assert(rows.length == 500)
    assert(rows.forall(m => m.feature.length == 8))
    assert(rows.forall(m => if (m.mime == "audio/wav") m.sample_rate > 0 else m.width >= 16))
    // deterministic: same input → same output
    val again = MediaOps.decodeStub(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf))).collect()
    assert(rows.map(_.media_ref).sorted.sameElements(again.map(_.media_ref).sorted))
    val spans = SparkEntry.queries("x2_parse_markup_spans")(spark, sf)
    val enriched = MediaOps.enrichSpans(spans, meta.toDF())
    assert(enriched.filter(col("mime").isNotNull).count() == 500)
  }

  test("media resize + frame sampling: aspect preserved, stride respected") {
    import graft.ops.MediaOps
    val meta = MediaOps.decodeStub(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf))).toDF()
      .filter(col("width") > 0) // visual assets only: audio has no dims
    val resized = MediaOps.resizeMeta(meta, maxW = 256, maxH = 256).collect()
    assert(resized.nonEmpty)
    resized.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (rw, rh) = (r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h"))
      assert(rw <= 256 && rh <= 256 && rw >= 1 && rh >= 1)
      if (w <= 256 && h <= 256) assert(rw == w && rh == h) // no upscale
      // aspect preserved within integer rounding: rw = ⌊w·s⌋, rh = ⌊h·s⌋
      // ⇒ |rw·h − rh·w| < w + h (each floor loses <1, scaled by the other dim)
      assert(math.abs(rw.toLong * h - rh.toLong * w) <= (w + h).toLong)
    }
    val frames = MediaOps.sampleFrames(meta, stride = 30, maxFrames = 8)
    val byRef = frames.collect().groupBy(_.getAs[String]("media_ref"))
    assert(byRef.nonEmpty)
    byRef.values.foreach { rows =>
      val idxs = rows.map(_.getAs[Int]("frame_idx")).sorted
      assert(idxs.length <= 8)
      assert(idxs.head == 0)
      idxs.sliding(2).foreach { case Array(a, b) => assert(b - a == 30); case _ => }
      assert(idxs.last < rows.head.getAs[Int]("n_frames"))
    }
  }

  test("repeated n-grams: shared windows counted, singletons not") {
    import spark.implicits._
    import graft.ops.Dedup
    val run = (1 to 12).map(i => s"w$i").mkString(" ") // 12 words → 3 10-grams
    val docs = Seq(
      ("a", run),                     // shares all 3 windows with b
      ("b", run),
      ("c", (13 to 30).map(i => s"x$i").mkString(" ")), // 9 unique windows
      ("d", "too short")              // <10 words → single collapsed gram
    ).toDF("doc_id", "text")
    val out = Dedup.withRepeatedNgrams(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out("a") == ((3L, 3L, 1000L)) && out("b") == ((3L, 3L, 1000L)))
    assert(out("c") == ((9L, 0L, 0L)))
    assert(out("d") == ((1L, 0L, 0L))) // its collapsed gram is unique
  }

  test("repeated n-grams ≡ brute-force reference on random corpora") {
    import spark.implicits._
    import graft.ops.Dedup
    val rnd = new scala.util.Random(4242)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps")
    for (trial <- 1 to 3) {
      val docs = (0 until 30).map { i =>
        val len = rnd.nextInt(25) // 0..24 words — crosses the <10 collapse
        (s"t$trial-d$i", Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      // brute-force reference straight from the shingle contract — a
      // MULTISET of hashes per doc (distinct STRINGS may hash-collide;
      // production explodes the Seq, so the reference must too)
      val sets = docs.map { case (id, t) =>
        id -> Dedup.shingles(t, 10).toSeq.map(Dedup.shingleHash)
      }.toMap
      val global = sets.values.flatten.groupBy(identity).view
        .mapValues(_.size).toMap
      val expected = sets.map { case (id, hs) =>
        val shared = hs.count(h => global(h) >= 2)
        id -> ((hs.size.toLong, shared.toLong,
          if (hs.isEmpty) 0L else shared.toLong * 1000 / hs.size))
      }
      val got = Dedup.withRepeatedNgrams(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("split assignment partitions completely for arbitrary valid weights") {
    import spark.implicits._
    import graft.ops.Sampling
    val ids = (0L until 300L).toDF("doc_id")
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val cuts = Seq.fill(2)(rnd.nextInt(1001)).sorted
      val weights = Seq(("a", cuts(0)), ("b", cuts(1) - cuts(0)),
        ("c", 1000 - cuts(1)))
      val out = Sampling.withSplit(ids, splits = weights).collect()
      assert(out.length == 300) // total function: every row, exactly once
      out.foreach { r =>
        val bucket = ((r.getLong(0) % Sampling.IdM) * Sampling.HashK %
          Sampling.HashP) % 1000
        val expect =
          if (bucket < cuts(0)) "a" else if (bucket < cuts(1)) "b" else "c"
        assert(r.getString(1) == expect, s"weights=$weights id=${r.getLong(0)}")
      }
    }
  }

  test("swapCache: a same-plan successor stays cached after the swap") {
    // two invocations whose plans canonicalize sameResult: evicting the
    // predecessor must not strip the successor's cache entry (the
    // persist-then-evict order did exactly that — zero copies cached)
    val a = graft.ops.Dedup.swapCache("t-swap", spark.range(10).toDF)
    a.count()
    val b = graft.ops.Dedup.swapCache("t-swap", spark.range(10).toDF)
    assert(b.storageLevel.useMemory || b.storageLevel.useDisk,
      s"successor lost its cache entry: ${b.storageLevel}")
    b.unpersist(blocking = true)
  }

  test("SQL kernel surface: registered functions ≡ the operator kernels") {
    import graft.ops.{Dedup, MediaOps, TextOps}
    graft.functions.ExtractSpansExpr.register(spark)
    val t = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame(Seq(Tuple1(t))).toDF("text")
      .createOrReplaceTempView("sqlkernel_v")
    val row = spark.sql(
      """SELECT minhash_sig(text) AS mh, simhash64(text) AS sh,
        |  ngram_jaccard(text, text) AS j, doc_fingerprint(text) AS fp,
        |  text_shingles(text) AS ss FROM sqlkernel_v""".stripMargin)
      .collect().head
    assert(row.getSeq[Long](0) == Dedup.minhash(t).toSeq)
    assert(row.getLong(1) == Dedup.simhash(t))
    assert(row.getDouble(2) == 1.0)
    assert(row.getSeq[Long](3) == TextOps.fingerprint(t).toSeq)
    assert(row.getSeq[String](4).toSet == Dedup.shingles(t))
    // media_meta over real bytes: a generated PNG and a generated WAV
    val png = MediaOps.pngEncode(20, 30, 7L)
    val wav = MediaOps.wavHeader(2, 16000, 64) ++ new Array[Byte](20)
    val mrow = spark.createDataFrame(Seq(Tuple1(png), Tuple1(wav))).toDF("b")
      .selectExpr("media_meta(b) AS m").selectExpr(
        "m.mime", "m.width", "m.height", "m.channels", "m.sample_rate")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSet
    assert(mrow == Set(("image/png", 20, 30, 0, 0),
      ("audio/wav", 0, 0, 2, 16000)))
  }

  test("trigram novelty: rare-trigram rate flags the corpus outlier") {
    import spark.implicits._
    import graft.ops.TextOps
    // ten near-identical docs (their trigrams are common: count ≥ 5)
    // plus one alien doc whose trigrams appear exactly once
    val docs = ((1 to 10).map(i => (s"c$i", "the common sentence here")) :+
      ("alien", "zzqxj wvkpf")).toDF("doc_id", "text")
    val out = TextOps.withTrigramNovelty(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val (nTri, nRare, permille) = out("alien")
    assert(nTri == 9 && nRare == 9 && permille == 1000) // all trigrams unique
    (1 to 10).foreach { i =>
      val (t, r, p) = out(s"c$i")
      assert(t == 22 && r == 0 && p == 0, s"c$i: $t $r $p")
    }
    // degenerate: shorter than one trigram → zeros, no division by zero
    val tiny = TextOps.withTrigramNovelty(Seq(("t", "ab")).toDF("doc_id", "text"))
      .collect().head
    assert(tiny.getLong(1) == 0 && tiny.getLong(3) == 0)
  }

  test("scale knobs: t12 shuffle join — same rows") {
    import spark.implicits._
    import graft.ops.TextOps
    // t12: broadcast-vs-shuffle join strategy is a parameter; values identical
    val docs = ((1 to 10).map(i => (s"c$i", "the common sentence here")) :+
      ("alien", "zzqxj wvkpf")).toDF("doc_id", "text")
    val bc = TextOps.withTrigramNovelty(docs).collect().map(_.toString).sorted
    val sh = TextOps.withTrigramNovelty(docs, broadcastCommon = false)
      .collect().map(_.toString).sorted
    assert(bc.sameElements(sh))
    // t12 over a column name needing backticks (spaces) — built with
    // column functions now, not interpolated SQL text
    val spaced = docs.withColumnRenamed("text", "the text")
    val sp2 = TextOps.withTrigramNovelty(spaced, textCol = "the text")
      .collect().map(_.toString).sorted
    assert(sp2.sameElements(bc))
  }

  test("real PNG decode: pngEncode → javax.imageio roundtrips every pixel") {
    import graft.ops.MediaOps
    for (seed <- Seq(0L, 7L, 4294967295L, 123456789L)) {
      val (w, h) = MediaOps.pngDims(seed)
      val bytes = MediaOps.pngEncode(w, h, seed)
      assert(bytes.length == MediaOps.pngByteLen(w, h)) // closed-form length
      // a genuinely independent decoder (the JDK's) must read it…
      val Some((dw, dh, px)) = MediaOps.decodeImage(bytes)
      assert(dw == w && dh == h)
      // …and hand back the closed-form channel values bit-for-bit
      var idx = 0
      while (idx < px.length) {
        assert((px(idx) & 0xFF) == MediaOps.pngPixel(seed, idx.toLong),
          s"seed=$seed idx=$idx")
        idx += 1
      }
      // header sniffer agrees with the full decoder
      assert(MediaOps.sniffImage(bytes) === Some(("image/png", w, h)))
    }
    assert(MediaOps.decodeImage("not an image".getBytes("ASCII")) === None)
  }

  test("real GIF decode: gifEncode → javax.imageio roundtrips every pixel") {
    import graft.ops.MediaOps
    // sizes straddling the 254-literal CLEAR boundary and sub-block edges
    for ((w, h, seed) <- Seq((16, 15, 0L), (17, 15, 99L), (40, 33, 4294967295L))) {
      val bytes = MediaOps.gifEncode(w, h, seed)
      assert(MediaOps.sniffImage(bytes) === Some(("image/gif", w, h)))
      val Some((dw, dh, px)) = MediaOps.decodeImage(bytes)
      assert(dw == w && dh == h)
      var p = 0
      while (p < w * h) { // grayscale palette: all three channels = index
        val v = MediaOps.pngPixel(seed, p.toLong)
        assert((px(3 * p) & 0xFF) == v && (px(3 * p + 1) & 0xFF) == v &&
          (px(3 * p + 2) & 0xFF) == v, s"($w,$h,$seed) pixel $p")
        p += 1
      }
    }
  }

  test("real video-frame decode: multi-frame GIF, sampled frames, pixel-exact") {
    import graft.ops.MediaOps
    // multi-frame roundtrip at the unit level: every frame of a 3-frame
    // GIF continues the closed-form pixel stream
    val (w, h, seed) = (9, 7, 12345L)
    val bytes = MediaOps.gifEncodeFrames(w, h, seed, 3)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
    reader.setInput(iis)
    assert(reader.getNumImages(true) == 3)
    for (f <- 0 until 3) {
      val img = reader.read(f)
      for (y <- 0 until h; x <- 0 until w) {
        val v = MediaOps.pngPixel(seed, f.toLong * w * h + y * w + x)
        assert((img.getRGB(x, y) & 0xFF) == v, s"frame $f pixel ($x,$y)")
      }
    }
    reader.dispose(); iis.close()
    // the m5 operator over the synthetic corpus: sampled indices follow
    // the stride policy, counts come from the real container, hashes are
    // the closed-form fold
    val rows = MediaOps.videoFrameHashes(MediaOps.syntheticVideos(SgmlExtract.documents(spark, sf)))
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, frames) =>
      val nf = frames.head.getLong(1)
      val expectIdx = (0L until nf by 30L).take(8).toSet
      assert(frames.map(_.getLong(2)).toSet == expectIdx)
    }
    // spot-verify one hash end to end against the closed form
    val r0 = rows.minBy(r => (r.getString(0), r.getLong(2)))
    val id = r0.getString(0).stripPrefix(SgmlExtract.AssetPrefix)
      .stripSuffix(SgmlExtract.AssetSuffix)
    val s0 = graft.ops.Dedup.shingleHash(id)
    val (gw, gh) = MediaOps.gifDims(s0)
    var expect = 0L
    for (i <- 0L until gw.toLong * gh * 3)
      expect = (expect * 31 +
        MediaOps.pngPixel(s0, r0.getLong(2) * gw * gh + i / 3)) % MediaOps.MediaP
    assert(r0.getLong(3) == expect)
  }

  test("real pixel resize: nearest-neighbor over the decoded raster") {
    import graft.ops.MediaOps
    val out = MediaOps.resizePixels(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf)),
      maxW = 64, maxH = 64).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (w, h) = (r.getAs[Int]("width"), r.getAs[Int]("height"))
      val (rw, rh) = (r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h"))
      assert(rw <= 64 && rh <= 64 && rw >= 1 && rh >= 1)
      if (w <= 64 && h <= 64) assert(rw == w && rh == h)
      assert(r.getAs[Long]("pixel_hash") >= 0L)
    }
    // independent replay of one row: decode, sample, fold — must agree
    val seedOf = (ref: String) => Dedup.shingleHash(
      ref.stripPrefix(SgmlExtract.AssetPrefix).stripSuffix(SgmlExtract.AssetSuffix))
    val sample = out.head
    val seed = seedOf(sample.getAs[String]("media_ref"))
    val (w, h) = MediaOps.pngDims(seed)
    val (rw, rh) = (sample.getAs[Int]("resized_w"), sample.getAs[Int]("resized_h"))
    var expect = 0L
    for (ry <- 0 until rh; rx <- 0 until rw; c <- 0 until 3) {
      val srcIdx = (((ry * h / rh) * w + (rx * w / rw)) * 3 + c).toLong
      expect = (expect * 31 + MediaOps.pngPixel(seed, srcIdx)) % MediaOps.MediaP
    }
    assert(sample.getAs[Long]("pixel_hash") == expect)
  }

  test("real WAV decode: javax.sound PCM stats match the filler stream") {
    import graft.ops.MediaOps
    val out = MediaOps.audioStats(MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf))).collect()
    assert(out.nonEmpty)
    // independent replay of one row straight from the closed form
    val sample = out.head
    val seed = Dedup.shingleHash(sample.getAs[String]("media_ref")
      .stripPrefix(SgmlExtract.AssetPrefix).stripSuffix(SgmlExtract.AssetSuffix))
    val len = 64 + (seed % 192).toInt
    val channels = MediaOps.wavChannels(seed)
    assert(sample.getAs[Int]("channels") == channels)
    assert(sample.getAs[Int]("sample_rate") == MediaOps.wavSampleRate(seed))
    val nSamples = (len - 44) / (2 * channels) * channels
    assert(sample.getAs[Long]("n_samples") == nSamples.toLong)
    def fillerU(j: Int): Int =
      ((((seed + (j + 1) * MediaOps.MediaK) % MediaOps.MediaP % 256) - 128).toByte & 0xFF)
    var sumSq = 0L
    for (i <- 0 until nSamples) {
      val v = fillerU(44 + 2 * i) | (fillerU(44 + 2 * i + 1) << 8)
      val s = v.toShort.toLong
      sumSq += s * s
    }
    assert(sample.getAs[Long]("sum_sq") == sumSq)
    assert(sample.getAs[Long]("rms_micro") ==
      math.floor(math.sqrt(sumSq.toDouble / nSamples) * 1000000.0).toLong)
    assert(out.length ==
      MediaOps.syntheticAssets(SgmlExtract.documents(spark, sf)).filter(_.mime == "audio/wav").count())
  }
}

/** A span array whose `offset` slot cannot be read as an int, which
  * makes the kernel's feed throw: its row is an `internal-error` row. A
  * leaf, so a whole-stage stage keeps it. */
private case object MalformedSpans extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String
  override def nullable: Boolean = false
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.ArrayType(graft.functions.ExtractSpansExpr.SpanType)
  override def eval(input: InternalRow): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
      new GenericInternalRow(Array[Any](UTF8String.fromString("text"), UTF8String.fromString("<p>x"), null, 0)) {
        override def getInt(i: Int): Int = throw new IllegalStateException("malformed offset")
      }))
}
