package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** Kernel options that only the kernel API sets — `validate` (SURVEY D2),
  * `qualifyAttributes` (D7) and `SpaceMode.Strict` (D6) — on small DTD
  * documents: each option adds its errors or names, and the spans stay
  * those of the run without it. */
class KernelOptionsSpec extends AnyFunSuite {

  // r needs a then b; a holds text and an enumerated attribute; c is
  // declared but r's model has no place for it. Offsets in the
  // instance: <r> 120, t= 126, <c> 139, three 149.
  private val dtd = "<!DOCTYPE r [<!ELEMENT r (a, b)><!ELEMENT a (#PCDATA)>" +
    "<!ELEMENT b EMPTY><!ELEMENT c (#PCDATA)><!ATTLIST a t (x|y) \"x\">]>"
  private val doc = dtd + "<r><a t=\"z\">one</a><c>two</c>three</r>"

  private val xml = ParserConfig(dialect = Dialect.Xml, space = SpaceMode.Preserve)

  test("validate: content-model and enum errors at pinned offsets, spans unchanged") {
    val plain = SgmlParser.parse(doc, xml)
    val checked = SgmlParser.parse(doc, xml.copy(validate = true))
    assert(plain.errors.isEmpty)
    assert(checked.errors == Vector(
      ParseErr("bad-enum-attribute", 126, "z"),
      ParseErr("not-allowed-here", 139, "c"),
      ParseErr("cdata-not-allowed", 149, "r"),
      ParseErr("incomplete-content", 120, "r")))
    assert(checked.spans(xml) == plain.spans(xml))
    assert(plain.spans(xml).map(_.text) == Vector("one", "two", "three"))
  }

  test("validate: an omitted end tag the DTD allows is no error") {
    val sgml = ParserConfig(dialect = Dialect.Sgml, space = SpaceMode.Preserve,
      validate = true)
    val d = "<!DOCTYPE l [<!ELEMENT l - - (i)+><!ELEMENT i - O (#PCDATA)>]>" +
      "<l><i>one<i>two</l>"
    val r = SgmlParser.parse(d, sgml)
    assert(r.errors.isEmpty)
    assert(r.spans(sgml).map(_.text) == Vector("one", "two"))
  }

  test("qualifyAttributes: the default namespace applies to unprefixed attributes") {
    val d = "<r xmlns=\"urn:x\" xmlns:p=\"urn:p\" a=\"1\" p:b=\"2\"><s c=\"3\"/></r>"
    def attrNames(cfg: ParserConfig): Vector[Vector[String]] = {
      val out = Vector.newBuilder[Vector[String]]
      Node.walk(SgmlParser.parse(d, cfg).content) {
        case e: Node.Elem => out += e.attrs.map(_.name).toVector; true
        case _ => true
      }(_ => ())
      out.result()
    }
    val ns = ParserConfig(dialect = Dialect.Xmlns)
    assert(attrNames(ns) == Vector(
      Vector("xmlns", "xmlns:p", "a", "{urn:p}b"), Vector("c")))
    assert(attrNames(ns.copy(qualifyAttributes = true)) == Vector(
      Vector("xmlns", "xmlns:p", "{urn:x}a", "{urn:p}b"), Vector("{urn:x}c")))
    val r = SgmlParser.parse(d, ns.copy(qualifyAttributes = true))
    assert(r.errors.isEmpty)
    assert(r.content.collect { case e: Node.Elem => e.name } == Vector("{urn:x}r"))
  }

  // r holds only elements, so its newlines are element-content whitespace
  private val spaced = "<!DOCTYPE r [<!ELEMENT r (a)*><!ELEMENT a (#PCDATA)>]>" +
    "<r>\n  <a>\nx\n</a>\n</r>"
  private val strict = ParserConfig(dialect = Dialect.Xml, space = SpaceMode.Strict)
  private val preserve = strict.copy(space = SpaceMode.Preserve)

  test("Strict: spans are those of Preserve") {
    val r = SgmlParser.parse(spaced, strict)
    assert(r.spans(strict) == SgmlParser.parse(spaced, preserve).spans(preserve))
    assert(r.spans(strict).map(_.text) == Vector("\nx\n"))
    assert(SgmlParser.parse(spaced, preserve).errors.isEmpty)
  }

  test("Strict: whitespace in element content logs whitespace-not-allowed") {
    assert(SgmlParser.parse(spaced, strict).errors == Vector(
      ParseErr("whitespace-not-allowed", spaced.indexOf("<r>") + 3, "r"),
      ParseErr("whitespace-not-allowed", spaced.indexOf("</a>") + 4, "r")))
  }
}
