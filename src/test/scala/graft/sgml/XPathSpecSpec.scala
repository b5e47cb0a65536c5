package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** Spec-based xpath interpreter (XPathSpec) — the xpath.pl dialect over
  * the task-local DOM: positional filters, attribute conditions/coercions,
  * text steps, first-solution semantics, malformed-spec safety. */
class XPathSpecSpec extends AnyFunSuite {

  private val cfg = ParserConfig(dialect = Dialect.Xml, space = SpaceMode.Preserve)

  private def q(xml: String, spec: String): Vector[String] =
    XPathSpec.evalStrings(SgmlParser.parse(xml, cfg).content,
      XPathSpec.parse(spec).fold(e => fail(e), identity))

  private val doc =
    """<shop><table class="Items"><tr><td>a</td><td>b</td></tr>""" +
      """<tr><td>c</td><td>d</td></tr><tr><td>e</td><td>f</td></tr></table>""" +
      """<p id="p1" n="12 apples">one</p><p id="p2">two</p></shop>"""

  test("child axis walks one level; descendant sweeps the subtree") {
    assert(q(doc, "shop/p/text") == Vector("one", "two"))
    assert(q(doc, "//td/text") == Vector("a", "b", "c", "d", "e", "f"))
    assert(q(doc, "p/text") == Vector()) // p is not a root element
  }

  test("positional (N), (last), (last-N) index the per-context match list") {
    assert(q(doc, "//table/tr(2)/td(1)/text") == Vector("c"))
    assert(q(doc, "//tr(last)/td(last)/text") == Vector("f"))
    assert(q(doc, "//tr(last-1)/td(2)/text") == Vector("d"))
    assert(q(doc, "//tr(9)/td/text") == Vector()) // out of range → no solution
  }

  test("per-parent positional semantics: td(1) of EVERY tr") {
    assert(q(doc, "//tr/td(1)/text") == Vector("a", "c", "e"))
  }

  test("attribute steps with coercions") {
    assert(q(doc, "//p(1)/@id") == Vector("p1"))
    assert(q(doc, "//table/@class(lower)") == Vector("items"))
    assert(q(doc, "//table/@class(upper)") == Vector("ITEMS"))
    assert(q(doc, "//p(1)/@n(integer)") == Vector("12")) // first numeric token
    assert(q(doc, "//p/@missing") == Vector())
  }

  test("attribute-equality conditions select among siblings") {
    assert(q(doc, "//p(@id=p2)/text") == Vector("two"))
    assert(q(doc, "//p(@id='p1')/text") == Vector("one"))
    assert(q(doc, "//p(@id=nope)/text") == Vector())
  }

  test("element result renders as text content; normalize_space coercion") {
    assert(q(doc, "//tr(1)") == Vector("ab"))
    assert(q("<d><t>  a   b </t></d>", "//t/text(normalize_space)") == Vector("a b"))
  }

  test("contains(@attr, v) and contains(text, v) conditions (Q8)") {
    assert(q(doc, "//p(contains(@n, 'apple'))/@id") == Vector("p1"))
    assert(q(doc, "//p(contains(text, 'wo'))/@id") == Vector("p2"))
    assert(q(doc, "//tr(contains(text, 'c'))/td(2)/text") == Vector("d"))
    assert(q(doc, "//p(contains(@n, 'pear'))/@id") == Vector())
    // composes with positional filters: condition first, then index
    assert(q(doc, "//td(contains(text, 'a'), 1)/text") == Vector("a"))
  }

  test("first = xpath_chk: first solution in document order") {
    val r = SgmlParser.parse(doc, cfg)
    val p = XPathSpec.parse("//td/text").toOption.get
    assert(XPathSpec.first(r.content, p).contains("a"))
    assert(XPathSpec.first(r.content, XPathSpec.parse("//nope").toOption.get).isEmpty)
  }

  test("malformed specs are Left at parse and empty at query — never throw") {
    assert(XPathSpec.parse("").isLeft)
    assert(XPathSpec.parse("//a(").isLeft)
    assert(XPathSpec.parse("a/@").isLeft)
    assert(XPathSpec.parse("a((2)").isLeft)
    assert(XPathSpec.parse("a(bogus)").isLeft)
  }

  test("self-oracle vs Spark xpath built-in semantics on the same doc") {
    // //name/text() over region xml ≡ our //name/text — cross-checked in
    // spirit here without a SparkSession: the interpreter's document-order
    // all-solutions contract matches xpath()'s array order
    val region = "<region><nation><name>ALGERIA</name></nation>" +
      "<nation><name>ARGENTINA</name></nation></region>"
    assert(q(region, "//name/text") == Vector("ALGERIA", "ARGENTINA"))
    assert(q(region, "region/nation(2)/name/text") == Vector("ARGENTINA"))
  }
}
