package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.sgml._
import graft.sgml.SerializerSpec.forAll
import ExtractSpansExpr.{Canonical, Cells, Kernel, Projection, Spans, XPath}

/** The one parse lifecycle of the Spark layer, [[ExtractSpansExpr.Kernel]]:
  * a non-fatal throw becomes the `internal-error` row and costs nothing to
  * the next row; fatal errors and interrupts propagate. A reused kernel is
  * not observable: it gives each row what a fresh one gives, and keeps
  * nothing of the documents before. */
class KernelSpec extends AnyFunSuite {

  private val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve)
  private val doc = "<html><body><p>one <b>two</b><p>three &amp; four</body></html>"

  private def kernel(c: ParserConfig, projection: Projection = Spans) =
    new Kernel(c, projection, ExtractSpansExpr.SpanType)

  private def text(s: String, off: Int): InternalRow =
    InternalRow(UTF8String.fromString("text"), UTF8String.fromString(s), null, off)
  /** A span whose offset throws `t` when the feed reads it. */
  private def throwing(t: Throwable): InternalRow =
    new GenericInternalRow(Array[Any](UTF8String.fromString("text"), UTF8String.fromString("x"), null, 0)) {
      override def getInt(i: Int): Int = throw t
    }
  private def spans(rows: InternalRow*): ArrayData = new GenericArrayData(rows.toArray[Any])

  /** An output row as Scala values: the projection's field, then the errors. */
  private def value(projection: Projection, row: InternalRow): Row =
    CatalystTypeConverters.convertToScala(row, StructType(Seq(projection.field,
      StructField("errors", ArrayType(ExtractSpansExpr.ErrType))))).asInstanceOf[Row]
  private def errs(errors: Seq[ParseErr]): Seq[Row] = errors.map(e => Row(e.code, e.offset, e.detail))
  /** What a fresh parser gives `text` under the span projection. */
  private def fresh(text: String, c: ParserConfig = cfg): Row = {
    val (ss, es) = SgmlParser.spans(text, c)
    Row(ss.map(s => Row(s.kind, s.text, s.media_ref, s.offset)), errs(es))
  }
  private def internalError(cls: Class[_]) = errs(Seq(ParseErr("internal-error", 0, cls.getName)))

  test("a throw in the feed gives each projection's failed value and one internal-error naming the class") {
    val xpath = XPath(Seq("//p", "//b"))
    val failed = Seq(Spans -> Seq.empty, Canonical -> null, Cells -> Seq.empty, xpath -> Seq(Nil, Nil))
    for ((projection, empty) <- failed; before <- Seq(Nil, Seq(text("<p>open <b>", 0)))) {
      val row = kernel(cfg, projection)(spans(before :+ throwing(new RuntimeException("boom")): _*))
      assert(value(projection, row) === Row(empty, internalError(classOf[RuntimeException])),
        s"${projection.name} after ${before.size} spans")
    }
  }

  test("an internal-error detail is the class alone: an exception with a message and one without give the same row") {
    val k = kernel(cfg)
    val rows = Seq(new ClassCastException("class A cannot be cast to class B"), new ClassCastException())
      .map(e => value(Spans, k(spans(text(doc, 0), throwing(e)))))
    assert(rows.distinct === Seq(Row(Seq.empty, internalError(classOf[ClassCastException]))))
  }

  test("the next doc after a mid-parse failure equals a fresh parser's result") {
    // leave the parser deep inside an open element, then throw
    val poisoned = spans(text("<html><body><table><tr><td><!-- open comment", 0),
      throwing(new IllegalStateException("poisoned")))
    val k = kernel(cfg)
    assert(value(Spans, k(poisoned)) === Row(Seq.empty, internalError(classOf[IllegalStateException])))
    assert(value(Spans, k(spans(text(doc, 0)))) === fresh(doc))
    val tree = kernel(cfg, Canonical)
    tree(poisoned)
    assert(value(Canonical, tree(spans(text(doc, 0)))) ===
      Row(Serializer.xml(SgmlParser.parse(doc, cfg).content, canonical = true), Seq.empty))
  }

  test("StackOverflowError and InterruptedException propagate") {
    val k = kernel(cfg)
    intercept[StackOverflowError](k(spans(throwing(new StackOverflowError()))))
    intercept[InterruptedException](k(spans(text("<p>open", 0), throwing(new InterruptedException()))))
    // and the kernel still parses afterwards
    assert(value(Spans, k(spans(text(doc, 0)))) === fresh(doc))
  }

  /** A catalog DTD shared by every document that names it: `#CURRENT`,
    * a SHORTREF map in use, entities and omissible tags. */
  private val memo = DtdParser.parseSubset(
    """<!ELEMENT memo - - (head?, para+)>
      |<!ELEMENT head - O (#PCDATA)>
      |<!ELEMENT para - O (#PCDATA|em)*>
      |<!ELEMENT em - - (#PCDATA)>
      |<!ATTLIST para style CDATA #CURRENT>
      |<!ENTITY mk "#">
      |<!ENTITY sig "<em>m</em>">
      |<!SHORTREF m "--" mk>
      |<!USEMAP m memo>""".stripMargin, Dtd.empty, foldCase = true)._1
  private val catalog = Catalog.Resolver(
    Catalog.bundled.entries :+ Catalog.Entry("SYSTEM", "memo.dtd", "memo.dtd"),
    Catalog.bundled.store + ("memo.dtd" -> memo))

  private val limits = ParserConfig(maxErrors = 12, maxDocChars = 600, catalog = catalog)
  private val reuseConfigs = for {
    d <- Dialect.all
    s <- Seq(SpaceMode.Preserve, SpaceMode.SgmlMode, SpaceMode.Remove)
  } yield limits.copy(dialect = d, space = s, boilerplate = s == SpaceMode.Remove)

  private val prologs = Vector("", "", "<!DOCTYPE memo SYSTEM \"memo.dtd\">",
    "<!DOCTYPE memo SYSTEM \"memo.dtd\">", "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01//EN\">",
    "<!DOCTYPE d [<!ELEMENT d - - (#PCDATA|e)*><!ELEMENT e - O EMPTY>" +
      "<!ATTLIST e a CDATA #CURRENT><!ENTITY mk \"!\"><!SHORTREF s \"--\" mk><!USEMAP s d>]>")
  private val bodies = ChunkFuzzSpec.fragments ++ Vector(
    "<memo>", "<head>h", "<para style=x>", "<para style='y z'>", "<para>", "a--b", "&mk;", "&sig;",
    "<em>e</em>", "</memo>", "<d>", "<e a=v>", "<e>", "</d>", "<p>one<p>two", "<li>x")
  // each ends its document in a named code under `limits`
  private val endings = Vector("",
    "</nope>" * 20,                                                   // max-errors
    "x" * 700,                                                        // doc-too-large
    "<!DOCTYPE d [<!ENTITY e0 \"xxxxxxxxxx\"><!ENTITY e1 \"" + "&e0;" * 8 + "\">" +
      "<!ENTITY e2 \"" + "&e1;" * 8 + "\">]><d>&e2;</d>")              // entity-budget

  /** A document as its span array: text spans cut at random points, each
    * at its offset, and sometimes a span that throws after the first. */
  private val genDoc: Gen[(String, ArrayData)] = for {
    prolog <- Gen.oneOf(prologs)
    body <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.oneOf(bodies))).map(_.mkString)
    end <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(endings))
    doc = prolog + body + end
    cuts <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(1, doc.length)))
    throws <- Gen.frequency(12 -> false, 1 -> true)
  } yield {
    val bounds = (0 +: cuts.sorted :+ doc.length).distinct
    val chunks = bounds.zip(bounds.tail).map { case (a, b) => text(doc.substring(a, b), a) }
    val rows = if (throws) chunks.head +: throwing(new IllegalStateException("feed failed")) +: chunks.tail
      else chunks
    (doc, spans(rows: _*))
  }

  test("a reused kernel equals fresh parsers: 2-20 doc sequences, every dialect, catalog #CURRENT and SHORTREF") {
    val setups = for (c <- reuseConfigs; p <- Seq[Projection](Spans, Canonical)) yield (c, p)
    val reused = setups.map(s => s -> kernel(s._1, s._2)).toMap
    val seqs = for {
      setup <- Gen.oneOf(setups)
      docs <- Gen.choose(2, 20).flatMap(Gen.listOfN(_, genDoc))
    } yield (setup, docs)
    val seen = collection.mutable.Set.empty[String]
    forAll(seqs, n = 2000) { case ((c, projection), docs) =>
      docs.foreach { case (text, arr) =>
        val want = value(projection, kernel(c, projection)(arr))
        assert(value(projection, reused((c, projection))(arr)) === want,
          s"${projection.name} ${c.dialect}/${c.space}: $text")
        want.getSeq[Row](1).foreach(e => seen += e.getString(0))
      }
    }
    // the generator reaches what a reused parser could carry over
    for (code <- Seq("max-errors", "doc-too-large", "entity-budget", "current-attribute-no-value", "internal-error"))
      assert(seen(code), s"$code never generated: $seen")
  }

  test("a #CURRENT value does not outlive its document in a reused parser") {
    val c = limits.copy(dialect = Dialect.Sgml, maxDocChars = 1 << 20)
    val k = kernel(c, Canonical) // a tree sink, whose elements the retention check reads
    def errors(markup: String): Seq[Row] = value(Canonical, k(spans(text(markup, 0)))).getSeq[Row](1)
    val named = "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para style=x>a</memo>"
    val omitted = "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para>b</memo>"
    assert(errors(named) === Seq.empty)
    val noValue = Vector(ParseErr("current-attribute-no-value", omitted.indexOf("<para>"), "para/style"))
    assert(errors(omitted) === errs(noValue))
    assert(SgmlParser.parse(omitted, c).errors === noValue)
    // internal-subset values: none is held once the next document starts
    val values = (1 to 50).map { i =>
      assert(errors(s"<!DOCTYPE e [<!ELEMENT e - - (#PCDATA)><!ATTLIST e a CDATA #CURRENT>]>" +
        s"<e a='${"v" * 1000}$i'>x</e>").forall(_.getString(0) != "internal-error"))
      val e = k.sink.asInstanceOf[DomSink].content.collectFirst { case e: Node.Elem => e }.get
      new java.lang.ref.WeakReference(e.attrs.head.value.render)
    }
    assert(errors(doc).forall(_.getString(0) != "internal-error"))
    val deadline = System.nanoTime() + 10000000000L
    while (values.exists(_.get != null) && System.nanoTime() < deadline) { System.gc(); Thread.sleep(20) }
    assert(values.count(_.get != null) === 0)
  }
}
