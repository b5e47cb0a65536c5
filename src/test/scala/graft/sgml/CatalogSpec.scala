package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** OASIS TR9401 catalog: file parsing, lookup order, DOCTYPE resolution
  * through a custom resolver (reference catalog.c semantics [V]). */
class CatalogSpec extends AnyFunSuite {

  private val catalogText =
    """-- test catalog --
      |PUBLIC "-//ACME//DTD Memo//EN" "memo.dtd"
      |SYSTEM "http://acme.example/memo.dtd" memo.dtd
      |DOCTYPE memo memo.dtd
      |OVERRIDE YES
      |DELEGATE "-//W3C//" "w3c.cat"
      |CATALOG "more.cat"
      |BASE "/dtds"
      |ENTITY amp "amp.ent"
      |""".stripMargin

  test("parseCatalog: all entry kinds, quoted + bare tokens, comments") {
    val (entries, errs) = Catalog.parseCatalog(catalogText)
    assert(errs.isEmpty)
    assert(entries.contains(Catalog.Entry("PUBLIC", "-//ACME//DTD Memo//EN", "memo.dtd")))
    assert(entries.contains(Catalog.Entry("SYSTEM", "http://acme.example/memo.dtd", "memo.dtd")))
    assert(entries.contains(Catalog.Entry("DOCTYPE", "memo", "memo.dtd")))
    assert(entries.contains(Catalog.Entry("OVERRIDE", "YES", "")))
    assert(entries.contains(Catalog.Entry("DELEGATE", "-//W3C//", "w3c.cat")))
    assert(entries.contains(Catalog.Entry("ENTITY", "amp", "amp.ent")))
  }

  test("parseCatalog: unknown entries and truncation collected, not thrown") {
    val (e1, errs1) = Catalog.parseCatalog("FROB x\nDOCTYPE memo memo.dtd")
    assert(errs1.exists(_.code == "catalog-unknown-entry"))
    assert(e1 === Vector(Catalog.Entry("DOCTYPE", "memo", "memo.dtd")))
    val (e2, errs2) = Catalog.parseCatalog("PUBLIC \"p\"")
    assert(errs2.exists(_.code == "catalog-truncated-entry"))
    assert(e2.isEmpty)
  }

  test("parseExternalId: PUBLIC with/without sysid, SYSTEM, junk") {
    assert(Catalog.parseExternalId("PUBLIC \"-//A//B//EN\" \"a.dtd\"") ===
      (Some("-//A//B//EN"), Some("a.dtd")))
    assert(Catalog.parseExternalId("  public '-//A//B//EN'") === (Some("-//A//B//EN"), None))
    assert(Catalog.parseExternalId("SYSTEM \"x.dtd\"") === (None, Some("x.dtd")))
    assert(Catalog.parseExternalId("[ <!ELEMENT a - - ANY> ]") === (None, None))
  }

  test("resolution order PUBLIC → SYSTEM → DOCTYPE, store basename fallback") {
    val memoDtdText =
      """<!ELEMENT memo - - (para)+>
        |<!ELEMENT para - O (#PCDATA)>
        |<!ATTLIST memo status (draft|final) draft>""".stripMargin
    val (memoDtd, derrs) = DtdParser.parseSubset(memoDtdText, Dtd.empty, foldCase = true)
    assert(derrs.isEmpty)
    val (entries, _) = Catalog.parseCatalog(catalogText)
    val resolver = Catalog.Resolver(entries, Map("memo.dtd" -> memoDtd))
    // PUBLIC id wins
    val viaPublic = resolver.resolveExternal("memo",
      "PUBLIC \"-//ACME//DTD Memo//EN\"")
    assert(viaPublic.exists(_.elements.contains("memo")))
    // SYSTEM id
    val viaSystem = resolver.resolveExternal("memo",
      "SYSTEM \"http://acme.example/memo.dtd\"")
    assert(viaSystem.exists(_.elements.contains("memo")))
    // bare DOCTYPE name, no external id at all
    val viaDoctype = resolver.resolveExternal("memo", "")
    assert(viaDoctype.exists(_.elements.contains("memo")))
    // unknown root falls through to None (no bundled match either)
    assert(resolver.resolveExternal("invoice", "").isEmpty)
  }

  test("end-to-end: DOCTYPE PUBLIC id pulls the catalog DTD into the parse") {
    val memoDtdText =
      """<!ELEMENT memo - - (para)+>
        |<!ELEMENT para - O (#PCDATA)>
        |<!ATTLIST memo status (draft|final) draft>""".stripMargin
    val (memoDtd, _) = DtdParser.parseSubset(memoDtdText, Dtd.empty, foldCase = true)
    val (entries, _) = Catalog.parseCatalog(catalogText)
    val resolver = Catalog.Resolver(entries, Map("memo.dtd" -> memoDtd))
    val cfg = ParserConfig(dialect = Dialect.Sgml, space = SpaceMode.SgmlMode,
      catalog = resolver)
    val doc = "<!DOCTYPE memo PUBLIC \"-//ACME//DTD Memo//EN\">" +
      "<memo><para>one<para>two</memo>" // para omit-end exercised
    val r = SgmlParser.parse(doc, cfg)
    val memo = r.content.collectFirst { case e: Node.Elem => e }.get
    assert(memo.name == "memo")
    // attr default from the CATALOG-resolved DTD fired
    assert(memo.attrs.exists(a => a.name == "status" && a.value.render == "draft"))
    // omit-end repair from the resolved content model: two sibling paras
    assert(memo.children.collect { case e: Node.Elem => e.name } == Seq("para", "para"))
    assert(r.spans(cfg).map(_.text) == Vector("one", "two"))
  }

  test("bundled resolver still auto-loads HTML4 for html doctypes") {
    val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.SgmlMode)
    val r = SgmlParser.parse(
      "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01//EN\"><html><body><p>x</body></html>", cfg)
    assert(r.spans(cfg).map(_.text) == Vector("x"))
  }
}
