package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** Synthetic conformance corpus — FIXTURES.md F1–F14. Goldens are
  * hand-derived from the documented reference semantics (SURVEY.md §5;
  * the reference checkout was empty at survey time, §0). Span equality is
  * exact on (kind, text, media_ref, order); offsets asserted strictly
  * increasing. */
class FixtureSpec extends AnyFunSuite {

  private def cfg(d: Dialect, s: SpaceMode = SpaceMode.Preserve) =
    ParserConfig(dialect = d, space = s)

  private def kts(spans: Seq[Span]): Vector[(String, String, String)] =
    spans.map(s => (s.kind, s.text, s.media_ref)).toVector

  private def assertIncreasing(spans: Seq[Span]): Unit = {
    val offs = spans.map(_.offset)
    assert(offs == offs.sorted, s"offsets not non-decreasing: $offs")
    assert(offs.distinct == offs, s"offsets not strictly increasing: $offs")
  }

  /** HTML fragments now imply the full DOCTYPE chain (html→head→body, like
    * upstream OMITTAG inference): descend to the first element inside the
    * implied body so fixtures assert on the fragment they wrote. */
  private def bodyFirst(r: ParseResult): Node.Elem = {
    val root = r.content.collectFirst { case e: Node.Elem => e }.get
    if (root.name != "html") root
    else {
      val body = root.children.collectFirst {
        case e: Node.Elem if e.name == "body" => e
      }.get
      body.children.collectFirst { case e: Node.Elem => e }.get
    }
  }

  test("F1 xml-basic") {
    val (spans, errs) = SgmlParser.spans("<doc><a>hello</a> <b>world</b></doc>",
      cfg(Dialect.Xml))
    assert(kts(spans) == Vector(
      ("text", "hello", null), ("text", " ", null), ("text", "world", null)))
    assertIncreasing(spans)
    assert(errs.isEmpty)
  }

  test("F2 xml-entities: char/named refs expand in place, one text node") {
    val (spans, errs) = SgmlParser.spans("<d>a &amp; b &#65;&#x42;</d>", cfg(Dialect.Xml))
    assert(kts(spans) == Vector(("text", "a & b AB", null)))
    assert(errs.isEmpty)
  }

  test("F3 xml-cdata section") {
    val (spans, errs) = SgmlParser.spans("<d>x<![CDATA[<not &markup;>]]>y</d>", cfg(Dialect.Xml))
    assert(kts(spans) == Vector(
      ("text", "x", null), ("cdata", "<not &markup;>", null), ("text", "y", null)))
    assertIncreasing(spans)
    assert(errs.isEmpty)
  }

  test("F4 xml-pi") {
    val (spans, errs) = SgmlParser.spans("<d><?target data?>t</d>", cfg(Dialect.Xml))
    assert(kts(spans) == Vector(("pi", "target data", null), ("text", "t", null)))
    assertIncreasing(spans)
    assert(errs.isEmpty)
  }

  test("F5 html-omission: li auto-closes li") {
    val r = SgmlParser.parse("<ul><li>one<li>two</ul>",
      cfg(Dialect.Html4, SpaceMode.SgmlMode))
    assert(kts(r.spans(cfg(Dialect.Html4))) == Vector(
      ("text", "one", null), ("text", "two", null)))
    // tree shape: (implied html/body)/ul/[li[one], li[two]]
    val ul = bodyFirst(r)
    assert(ul.name == "ul")
    val lis = ul.children.collect { case e: Node.Elem => e }
    assert(lis.map(_.name) == Vector("li", "li"))
    assert(lis(0).children == Vector(Node.Text("one", raw = false, 8)))
    assert(r.errors.isEmpty, r.errors)
  }

  test("F5b html-omission: table auto-inserts tbody") {
    val r = SgmlParser.parse("<table><tr><td>x</table>",
      cfg(Dialect.Html4, SpaceMode.SgmlMode))
    val table = bodyFirst(r)
    assert(table.name == "table")
    val tbody = table.children.collect { case e: Node.Elem => e }
    assert(tbody.map(_.name) == Vector("tbody"))
    val tr = tbody(0).children.collect { case e: Node.Elem => e }
    assert(tr.map(_.name) == Vector("tr"))
    assert(r.spans(cfg(Dialect.Html4)).map(_.text) == Vector("x"))
  }

  test("F5c html-omission: head/body implied") {
    val r = SgmlParser.parse("<html><title>t</title><p>y</html>",
      cfg(Dialect.Html4, SpaceMode.SgmlMode))
    val html = r.content.collectFirst { case e: Node.Elem => e }.get
    assert(html.name == "html")
    val kids = html.children.collect { case e: Node.Elem => e }
    assert(kids.map(_.name) == Vector("head", "body"))
  }

  test("F6 html-entities") {
    val (spans, _) = SgmlParser.spans("<p>a&nbsp;b &copy;</p>", cfg(Dialect.Html4))
    assert(kts(spans) == Vector(("text", "a b ©", null)))
  }

  test("F7 html-script declared CDATA") {
    val (spans, errs) = SgmlParser.spans("<script>if (a<b && c>d) {}</script>",
      cfg(Dialect.Html4))
    assert(kts(spans) == Vector(("cdata", "if (a<b && c>d) {}", null)))
    assert(errs.isEmpty)
  }

  test("F7b raw content: diverging end-tag prefix is kept verbatim once") {
    // regression: `</sx` inside <script> used to emit the diverging char
    // twice (buffered in etBuf AND re-stepped on bail-out)
    val (spans, _) = SgmlParser.spans("<script>a</sx b</script>", cfg(Dialect.Html4))
    assert(kts(spans) == Vector(("cdata", "a</sx b", null)))
    val (s2, _) = SgmlParser.spans("<script>x</scriptz</script>", cfg(Dialect.Html4))
    assert(kts(s2) == Vector(("cdata", "x</scriptz", null)))
    // chunk boundary inside the suspected end tag
    val doc = "<script>a</sx b</script>"
    val whole = SgmlParser.spans(doc, cfg(Dialect.Html4))._1
    for (k <- 1 until doc.length) {
      val p = new SgmlParser(cfg(Dialect.Html4))
      p.feed(doc.substring(0, k), 0)
      p.feed(doc.substring(k))
      assert(p.finish().spans(cfg(Dialect.Html4)) == whole, s"split at $k")
    }
  }

  test("F8 html-media") {
    val (spans, errs) = SgmlParser.spans("""<p>see <img src="pic.png"> here</p>""",
      cfg(Dialect.Html4))
    assert(kts(spans) == Vector(
      ("text", "see ", null), ("media", "", "pic.png"), ("text", " here", null)))
    assertIncreasing(spans)
    assert(errs.isEmpty)
  }

  test("F9 xmlns qualification") {
    val r = SgmlParser.parse("""<d xmlns:s="urn:x"><s:a>t</s:a></d>""", cfg(Dialect.Xmlns))
    assert(kts(r.spans(cfg(Dialect.Xmlns))) == Vector(("text", "t", null)))
    val d = r.content.collectFirst { case e: Node.Elem => e }.get
    val sa = d.children.collectFirst { case e: Node.Elem => e }.get
    assert(sa.name == "{urn:x}a")
    assert(r.errors.isEmpty)
  }

  test("F9b xmlns: default ns on elements, not attributes") {
    val r = SgmlParser.parse("""<d xmlns="urn:y" a="1"><e b="2">t</e></d>""", cfg(Dialect.Xmlns))
    val d = r.content.collectFirst { case e: Node.Elem => e }.get
    assert(d.name == "{urn:y}d")
    assert(d.attrs.exists(a => a.name == "a")) // unqualified attr
    val e = d.children.collectFirst { case el: Node.Elem => el }.get
    assert(e.name == "{urn:y}e")
    assert(e.attrs.map(_.name) == List("b"))
  }

  test("F10 attr types + defaulting via inline DTD") {
    val doc =
      """<!DOCTYPE r [
        |<!ELEMENT r (e)*>
        |<!ELEMENT e - - (#PCDATA)>
        |<!ATTLIST e n NUMBER #REQUIRED ts NMTOKENS #IMPLIED fx CDATA #FIXED "fixed-val">
        |]>
        |<r><e n="42" ts="a  b c">x</e><e>y</e></r>""".stripMargin
    val c = ParserConfig(dialect = Dialect.Sgml, space = SpaceMode.SgmlMode,
      number = NumberMode.Integer)
    val r = SgmlParser.parse(doc, c)
    val root = r.content.collectFirst { case e: Node.Elem => e }.get
    val es = root.children.collect { case e: Node.Elem => e }
    assert(es.size == 2)
    val a1 = es(0).attrs.map(a => a.name -> a.value).toMap
    assert(a1("n") == AttrValue.Num(42L))
    assert(a1("ts") == AttrValue.Toks(List("a", "b", "c")))
    assert(a1("fx") == AttrValue.Str("fixed-val"))
    // second e: missing #REQUIRED n → error; fx still defaulted
    val a2 = es(1).attrs.map(a => a.name -> a.value).toMap
    assert(a2("fx") == AttrValue.Str("fixed-val"))
    assert(r.errors.exists(_.code == "required-attribute-missing"))
  }

  test("F10b html4 bundled attlists: defaults fire without a per-doc DOCTYPE") {
    val c = cfg(Dialect.Html4, SpaceMode.SgmlMode)
    val r = SgmlParser.parse(
      "<html><body><form><input name=q><table><tr><td>x</table></form></body></html>", c)
    def find(n: Node, name: String): Option[Node.Elem] = n match {
      case e: Node.Elem =>
        if (e.name == name) Some(e)
        else e.children.iterator.flatMap(find(_, name)).nextOption()
      case _ => None
    }
    val root = r.content.collectFirst { case e: Node.Elem => e }.get
    val form = find(root, "form").get
    val attrs = form.attrs.map(a => a.name -> a.value).toMap
    assert(attrs("method") == AttrValue.Str("get")) // HTML4 default (get|post) get
    assert(attrs("enctype") == AttrValue.Str("application/x-www-form-urlencoded"))
    val input = find(root, "input").get
    assert(input.attrs.map(a => a.name -> a.value).toMap
      .get("type").contains(AttrValue.Str("text"))) // enumerated default
    val td = find(root, "td").get
    val tdAttrs = td.attrs.map(a => a.name -> a.value).toMap
    assert(tdAttrs("rowspan") == AttrValue.Str("1") || tdAttrs("rowspan") == AttrValue.Num(1L))
    // defaulted attrs survive serialization (the user-visible surface)
    val xml = Serializer.xml(r.content, canonical = true)
    assert(xml.contains("method=\"get\""))
    assert(xml.contains("type=\"text\""))
  }

  test("F10c SGML #CURRENT and #CONREF attribute defaults") {
    val c = cfg(Dialect.Sgml)
    val doc = """<!DOCTYPE d [
      |<!ELEMENT d - - (p|ref)*>
      |<!ELEMENT (p|q) - O (#PCDATA)>
      |<!ELEMENT ref - O (#PCDATA)>
      |<!ATTLIST (p|q) cls CDATA #CURRENT>
      |<!ATTLIST ref doc CDATA #CONREF>
      |]><d><p>zero</p><p cls="a">one</p><q>two</q><ref doc="other"><p>three</p></d>"""
      .stripMargin.replace("\n", " ")
    val r = SgmlParser.parse(doc, c)
    def elems(n: Node): Vector[Node.Elem] = n match {
      case e: Node.Elem => e +: e.children.toVector.flatMap(elems)
      case _ => Vector.empty
    }
    val all = r.content.flatMap(elems)
    def clsOf(e: Node.Elem): Option[String] =
      e.attrs.collectFirst { case Attr("cls", v) => v.render }
    val ps = all.filter(e => e.name == "p" || e.name == "q")
    assert(ps.length == 4) // zero, one, two, three (after the conref ref)
    // before any specified value: omission is an error, nothing injected
    assert(clsOf(ps(0)).isEmpty)
    assert(r.errors.exists(_.code == "current-attribute-no-value"))
    // specified on <p cls="a"> → becomes the default for every LATER
    // element sharing the name-grouped declaration (incl. <q>)
    assert(clsOf(ps(1)).contains("a"))
    assert(clsOf(ps(2)).contains("a"))
    assert(clsOf(ps(3)).contains("a"))
    // #CONREF specified → content empty, no end tag expected: the <p>
    // after <ref doc=…> is a SIBLING (child of d), not ref's child
    val ref = all.find(_.name == "ref").get
    assert(ref.children.isEmpty)
    assert(ps(0).children.nonEmpty) // sanity: normal elements keep content
    val d = all.find(_.name == "d").get
    assert(d.children.collect { case e: Node.Elem => e.name } ==
      Vector("p", "p", "q", "ref", "p"))
    // #CONREF omitted → the element takes normal content
    val doc2 = """<!DOCTYPE d [
      |<!ELEMENT d - - (ref)*>
      |<!ELEMENT ref - O (#PCDATA)>
      |<!ATTLIST ref doc CDATA #CONREF>
      |]><d><ref>inline content</ref></d>""".stripMargin.replace("\n", " ")
    val r2 = SgmlParser.parse(doc2, c)
    val ref2 = r2.content.flatMap(elems).find(_.name == "ref").get
    assert(ref2.children.nonEmpty)
  }

  test("F21 sgml NET-enabling start tag: <b/bold/ closes at the bare slash") {
    val c = cfg(Dialect.Sgml)
    val r = SgmlParser.parse("<d>x <b/bold/ y</d>", c)
    assert(kts(r.spans(c)) == Vector(
      ("text", "x ", null), ("text", "bold", null), ("text", " y", null)))
    val d = r.content.collectFirst { case e: Node.Elem => e }.get
    val b = d.children.collectFirst { case e: Node.Elem => e }.get
    assert(b.name == "b")
    assert(XPathSpec.textContent(b) == "bold")
    // nested: inner NET closes first, outer at the second slash
    val r2 = SgmlParser.parse("<d><a/x<b/y/z/</d>", c)
    val a = r2.content.collectFirst { case e: Node.Elem => e }.get
      .children.collectFirst { case e: Node.Elem => e }.get
    assert(a.name == "a")
    assert(XPathSpec.textContent(a) == "xyz")
    assert(a.children.collectFirst { case e: Node.Elem => e.name }.contains("b"))
    // XML dialect unaffected: <b/> stays a self-close, '/' is text
    val cx = cfg(Dialect.Xml)
    val r3 = SgmlParser.spans("<d>a/b <br/>c</d>", cx)._1
    assert(r3.map(_.text) == Vector("a/b ", "c"))
  }

  test("F11 whitespace modes") {
    val doc = "<d>\n  a  b\n</d>"
    def run(m: SpaceMode) =
      SgmlParser.spans(doc, ParserConfig(dialect = Dialect.Xml, space = m))._1.map(_.text)
    assert(run(SpaceMode.Preserve) == Vector("\n  a  b\n"))
    assert(run(SpaceMode.SgmlMode) == Vector("  a  b"))
    assert(run(SpaceMode.Remove) == Vector("a b"))
  }

  test("F11b xml:space=preserve overrides sgml mode") {
    val doc = "<d><pre xml:space=\"preserve\">\n  k\n</pre></d>"
    val (spans, _) = SgmlParser.spans(doc, ParserConfig(Dialect.Xml, SpaceMode.Default))
    assert(spans.map(_.text) == Vector("\n  k\n"))
  }

  test("F12 encodings: BOM, xml-decl UTF-8, Latin-1") {
    val c = cfg(Dialect.Xml)
    val utf8 = "<d>café</d>".getBytes("UTF-8")
    val utf8bom = (Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ utf8)
    val decl = "<?xml version=\"1.0\" encoding=\"UTF-8\"?><d>café</d>".getBytes("UTF-8")
    val latin1 = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?><d>café</d>".getBytes("ISO-8859-1")
    for (bytes <- Seq(utf8, utf8bom, decl, latin1)) {
      val r = SgmlParser.parseBytes(bytes, c)
      assert(r.spans(c).map(_.text) == Vector("café"), new String(bytes, "ISO-8859-1"))
    }
  }

  test("F12b declared encodings beyond Latin-1: xml-decl + html meta") {
    // xml-decl naming a non-Latin-1 charset: ISO-8859-2 (ő is 0xF5 there,
    // a different character than Latin-1's õ)
    val c = cfg(Dialect.Xml)
    val iso2 = "<?xml version=\"1.0\" encoding=\"ISO-8859-2\"?><d>hőség</d>"
      .getBytes("ISO-8859-2")
    assert(SgmlParser.parseBytes(iso2, c).spans(c).map(_.text) == Vector("hőség"),
      "ISO-8859-2 must decode per its own table, not Latin-1's")
    // semantics pin: identical to new String(bytes, cs) on the payload
    assert(new String("hőség".getBytes("ISO-8859-2"), "ISO-8859-2") == "hőség")
    // HTML5 meta shorthand: windows-1252 (€ is 0x80 there, undefined in
    // Latin-1) — meta prescan only applies to non-XML dialects
    val h = cfg(Dialect.Html4, SpaceMode.Preserve)
    val w1252 = "<html><head><meta charset=windows-1252></head><body><p>€99</p></body></html>"
      .getBytes("windows-1252")
    assert(SgmlParser.parseBytes(w1252, h).spans(h).map(_.text) == Vector("€99"))
    // http-equiv Content-Type form, quoted, mixed case
    val httpEquiv = ("<html><head><META HTTP-EQUIV=\"Content-Type\" " +
      "CONTENT=\"text/html; charset=Windows-1252\"></head><body><p>€5</p></body></html>")
      .getBytes("windows-1252")
    assert(SgmlParser.parseBytes(httpEquiv, h).spans(h).map(_.text) == Vector("€5"))
    // unknown declared name: graceful fall-through to the dialect default
    val bogus = "<html><head><meta charset=not-a-charset></head><body><p>ok</p></body></html>"
      .getBytes("ISO-8859-1")
    assert(SgmlParser.parseBytes(bogus, h).spans(h).map(_.text) == Vector("ok"))
    // direct sniff unit checks
    assert(CharDecoder.sniffMetaCharset("<meta charset='koi8-r'>") == Some("koi8-r"))
    assert(CharDecoder.sniffMetaCharset("<p>charset=fake</p>") == None)
    // WHATWG prescan: a declared utf-16* cannot be honored (the prescan
    // only reads ASCII-compatible bytes — a real UTF-16 stream is caught
    // by the BOM sniff) → mapped to UTF-8
    assert(CharDecoder.sniffMetaCharset("<meta charset=utf-16>") == Some("UTF-8"))
    assert(CharDecoder.sniffMetaCharset("<meta charset='UTF-16LE'>") == Some("UTF-8"))
    val fakeUtf16 = "<html><head><meta charset=utf-16></head><body><p>café</p></body></html>"
      .getBytes("UTF-8")
    assert(SgmlParser.parseBytes(fakeUtf16, h).spans(h).map(_.text) == Vector("café"),
      "declared utf-16 in an ASCII-compatible stream must decode as UTF-8")
    // the charset token must start at a token boundary — an incidental
    // '…charset=' inside a content attribute's free text mid-word is not
    // a declaration
    assert(CharDecoder.sniffMetaCharset(
      "<meta content=\"nocharset=koi8-r\">") == None)
  }

  test("F12c html5 dialect: WHATWG entity table + void elements") {
    // spot-pin known WHATWG values (case-sensitive names, multi-codepoint)
    assert(Entities.html5("longrightarrow") == "⟶")
    assert(Entities.html5("Gt") == "≫") // ≫ — distinct from gt
    assert(Entities.html5("gt") == ">")
    assert(Entities.html5("varnothing") == "∅")
    assert(Entities.html5("fjlig") == "fj") // two-codepoint expansion
    assert(Entities.html5("NotEqualTilde") == "≂̸")
    assert(Entities.html5.size > 2000) // the full table, not a sampler
    // html5 parses HTML5-only entities + void elements error-free
    val h5 = cfg(Dialect.Html5, SpaceMode.Preserve)
    val doc = "<html><body><p>x &longrightarrow; y</p>" +
      "<audio><source src=a.ogg><track kind=captions></audio>" +
      "<p>tail</p></body></html>"
    val r5 = SgmlParser.spans(doc, h5)
    assert(r5._2.isEmpty, r5._2)
    assert(r5._1.map(_.text).mkString == "x ⟶ ytail")
    // html4 behavior unchanged: same entity is UNDECLARED there (kept as
    // an entity node), and the 4.01 names still resolve in both dialects
    val h4 = cfg(Dialect.Html4, SpaceMode.Preserve)
    val r4 = SgmlParser.spans("<p>x &longrightarrow; y &eacute;</p>", h4)
    assert(r4._1.exists(s => s.kind == "entity" && s.text == "longrightarrow"))
    assert(SgmlParser.spans("<p>&eacute;&nbsp;</p>", h5)._1.map(_.text).mkString
      == "é ")
  }

  test("F13 malformed recovery: unclosed <b> repaired at </p>") {
    val (spans, errs) = SgmlParser.spans("<p>a <b>bold</p> tail",
      cfg(Dialect.Html4, SpaceMode.SgmlMode))
    assert(kts(spans) == Vector(
      ("text", "a ", null), ("text", "bold", null), ("text", " tail", null)))
    assert(errs.nonEmpty)
    assert(errs.exists(_.code == "unclosed-element"))
  }

  test("F14 interleaved media passthrough") {
    val p = new SgmlParser(cfg(Dialect.Html4))
    p.feed("<p>x</p>", 0)
    p.media("vid.mp4", 8)
    p.feed("<p>y</p>", 9)
    val r = p.finish()
    val spans = r.spans(cfg(Dialect.Html4))
    assert(kts(spans) == Vector(
      ("text", "x", null), ("media", "", "vid.mp4"), ("text", "y", null)))
    assertIncreasing(spans)
  }

  test("chunked feed equals whole-document parse (incremental API)") {
    val doc = "<ul><li>one<li>two</ul><p>a &amp; <img src='u'>b</p>"
    val whole = SgmlParser.spans(doc, cfg(Dialect.Html4, SpaceMode.SgmlMode))._1
    for (k <- 1 to doc.length) {
      val p = new SgmlParser(cfg(Dialect.Html4, SpaceMode.SgmlMode))
      p.feed(doc.substring(0, k), 0)
      p.feed(doc.substring(k))
      assert(p.finish().spans(cfg(Dialect.Html4, SpaceMode.SgmlMode)) == whole, s"split at $k")
    }
  }

  test("chunked feed ≡ whole parse across raw/CDATA/RCDATA/entity states") {
    // every tokenizer mode with internal state that must survive a chunk
    // boundary, incl. the bulk S_TEXT/S_RAW fast paths
    val doc = "<html><title>a&amp;b</title><body><p>x &lt; y" +
      "<script>if(a<b){go()}</script><![CDATA[raw ]] text]]>" +
      "<p>t&nbsp;u<img src='m.png'>tail</body></html>"
    val c = cfg(Dialect.Html4, SpaceMode.SgmlMode)
    val whole = SgmlParser.spans(doc, c)._1
    // all 2-chunk splits
    for (k <- 1 to doc.length) {
      val p = new SgmlParser(c)
      p.feed(doc.substring(0, k), 0)
      p.feed(doc.substring(k))
      assert(p.finish().spans(c) == whole, s"split at $k")
    }
    // seeded random many-chunk splits (1-5 char chunks)
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 50) {
      val p = new SgmlParser(c)
      var i = 0
      var first = true
      while (i < doc.length) {
        val j = math.min(doc.length, i + 1 + rng.nextInt(5))
        p.feed(doc.substring(i, j), if (first) 0 else -1)
        first = false
        i = j
      }
      assert(p.finish().spans(c) == whole)
    }
  }

  test("marked sections: INCLUDE and IGNORE") {
    val c = cfg(Dialect.Sgml)
    val (s1, _) = SgmlParser.spans("<d>a<![INCLUDE[b]]>c</d>", c)
    assert(s1.map(_.text).mkString == "abc")
    val (s2, _) = SgmlParser.spans("<d>a<![IGNORE[b]]>c</d>", c)
    assert(s2.map(_.text).mkString == "ac")
  }

  test("marked sections: RCDATA is character data, entities expand, ]]> ends it") {
    val c = cfg(Dialect.Sgml)
    val (s, errs) = SgmlParser.spans("<d>x<![ RCDATA [ y </d> &amp; <b>]]>z</d>", c)
    assert(kts(s) == Vector(("text", "x y </d> & <b>z", null)))
    assert(errs.isEmpty)
    // still open at the end: the end tag inside is text, d stays open
    val doc = "<d>x<![ RCDATA [ y </d>"
    val (s2, errs2) = SgmlParser.spans(doc, c)
    assert(kts(s2) == Vector(("text", "x y </d>", null)))
    assert(errs2 == Vector(ParseErr("eof-in-marked-section", doc.length, ""),
      ParseErr("unclosed-element", 0, "d")))
  }

  test("marked sections: INCLUDE, TEMP or RCDATA open at the end is eof-in-marked-section") {
    for (kw <- Seq("INCLUDE", "TEMP", "RCDATA")) {
      val doc = s"<d>a<![ $kw [b&amp;"
      val (s, errs) = SgmlParser.spans(doc, cfg(Dialect.Sgml))
      assert(s.map(_.text).mkString == "ab&", kw)
      assert(errs.contains(ParseErr("eof-in-marked-section", doc.length, "")), kw)
    }
  }

  test("marked sections: XML allows only CDATA, other keywords are errors") {
    val x = cfg(Dialect.Xml)
    val (s, errs) = SgmlParser.spans(
      "<d>a<![INCLUDE[b]]><![ IGNORE [c]]><![RCDATA[&amp;<e>]]><![CDATA[f]]></d>", x)
    assert(kts(s) == Vector(("text", "ab&<e>", null), ("cdata", "f", null)))
    assert(errs == Vector(ParseErr("marked-section-in-xml", 4, "INCLUDE"),
      ParseErr("marked-section-in-xml", 19, "IGNORE"),
      ParseErr("marked-section-in-xml", 35, "RCDATA")))
  }

  test("undeclared entity → entity span + error") {
    val (spans, errs) = SgmlParser.spans("<d>a&unknown;b</d>", cfg(Dialect.Xml))
    assert(kts(spans) == Vector(
      ("text", "a", null), ("entity", "unknown", null), ("text", "b", null)))
    assert(errs.exists(_.code == "undeclared-entity"))
  }

  test("a reference cut by the end of the document ends there; the text before it stays") {
    // the end acts as a non-name character would mid-document
    val cases = Seq(
      (Dialect.Html4, "<d>abc &amp", "abc &", Vector(ParseErr("eof-in-entity", 11, "amp"))),
      (Dialect.Xml, "<d>abc &#6", "abc &#6", Vector(ParseErr("eof-in-entity", 10, "6"),
        ParseErr("charref-missing-semicolon", 7, "6"))),
      (Dialect.Sgml, "<d>abc &x", "abc &x", Vector(ParseErr("eof-in-entity", 9, "x"),
        ParseErr("undeclared-entity", 7, "x"))))
    for ((d, doc, text, errs) <- cases) {
      val (spans, got) = SgmlParser.spans(doc, cfg(d))
      assert(kts(spans) == Vector(("text", text, null)), doc)
      assert(spans.map(_.offset) == Vector(3), doc)
      assert(got == errs :+ ParseErr("unclosed-element", 0, "d"), doc)
    }
  }

  test("undeclared-ns-prefix is reported at the tag") {
    val (spans, errs) = SgmlParser.spans("""<r xmlns:p="u">text <q:e/></r>""", cfg(Dialect.Xmlns))
    assert(kts(spans) == Vector(("text", "text ", null)))
    assert(errs == Vector(ParseErr("undeclared-ns-prefix", 20, "q")))
  }

  test("DTD general entity re-tokenized (may contain markup)") {
    val doc = "<!DOCTYPE d [<!ENTITY frag \"<b>x</b>\">]><d>a&frag;c</d>"
    val r = SgmlParser.parse(doc, cfg(Dialect.Xml))
    assert(r.spans(cfg(Dialect.Xml)).map(_.text) == Vector("a", "x", "c"))
  }

  test("comments do not split text runs") {
    val (spans, _) = SgmlParser.spans("<d>a<!-- c -->b</d>", cfg(Dialect.Xml))
    assert(spans.map(_.text) == Vector("ab"))
  }

  test("never throws on noise (error rows instead)") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val s = new String(Array.fill(rng.nextInt(300))(
        (rng.nextInt(96) + 32).toChar))
      val r = SgmlParser.parse(s, cfg(Dialect.Html4, SpaceMode.SgmlMode))
      assert(r != null)
    }
  }

  test("F15 inclusion exception: +(ins|del) admits ins anywhere under body") {
    // body declares +(ins | del) in the bundled DTD: ins is allowed even
    // where the content model alone would reject it (SGML inclusion
    // exceptions — dtd.h inclusion sets [V])
    val r = SgmlParser.parse("<body><ul><ins>mark</ins><li>x</ul></body>",
      cfg(Dialect.Html4))
    assert(r.spans(cfg(Dialect.Html4)).map(_.text) == Vector("mark", "x"))
    assert(!r.errors.exists(_.code == "not-allowed-here"))
  }

  test("F16 UTF-16 BOM decode (both endians)") {
    val doc = "<d>héllo 中文</d>"
    val le = Array[Byte](0xFF.toByte, 0xFE.toByte) ++
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
    val be = Array[Byte](0xFE.toByte, 0xFF.toByte) ++
      doc.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
    for (bytes <- Seq(le, be)) {
      val r = SgmlParser.parseBytes(bytes, cfg(Dialect.Xml))
      assert(r.spans(cfg(Dialect.Xml)).map(_.text) == Vector("héllo 中文"))
      assert(r.errors.isEmpty)
    }
  }

  test("F17 minimized attribute (<option selected>) keeps name-only attr") {
    val r = SgmlParser.parse("<select><option selected>x</option></select>",
      cfg(Dialect.Html4))
    val sel = bodyFirst(r)
    val opt = sel.children.collectFirst { case e: Node.Elem => e }.get
    // SGML minimization: bare NAME is the attr (reference maps it to
    // name=name per HTML semantics, value render non-null)
    assert(opt.attrs.exists(_.name == "selected"))
    assert(r.spans(cfg(Dialect.Html4)).map(_.text) == Vector("x"))
  }

  test("F18 TEMP marked section is included") {
    val (spans, _) = SgmlParser.spans("<d>a<![ TEMP [b]]>c</d>", cfg(Dialect.Sgml))
    assert(spans.map(_.text) == Vector("abc"))
  }

  test("F19 SGML null end tag </> closes the current element") {
    val r = SgmlParser.parse("<ul><li>one</><li>two</></ul>",
      cfg(Dialect.Html4, SpaceMode.SgmlMode))
    val ul = bodyFirst(r)
    assert(ul.children.collect { case e: Node.Elem => e.name } == Vector("li", "li"))
    assert(r.spans(cfg(Dialect.Html4)).map(_.text) == Vector("one", "two"))
  }

  test("F22 SHORTREF: delimiter → entity text substitution via USEMAP") {
    val doc =
      """<!DOCTYPE d [
        |<!ELEMENT d - - (#PCDATA)>
        |<!ENTITY endash "-">
        |<!SHORTREF m "--" endash>
        |<!USEMAP m d>
        |]>
        |<d>one--two</d>""".stripMargin
    val c = cfg(Dialect.Sgml, SpaceMode.SgmlMode)
    val r = SgmlParser.parse(doc, c)
    assert(r.spans(c).map(_.text) == Vector("one-two"))
    assert(r.errors.isEmpty, r.errors)
  }

  test("F22b SHORTREF: blank line → markup entity (classic paragraph map)") {
    val doc =
      """<!DOCTYPE doc [
        |<!ELEMENT doc - - (p)+>
        |<!ELEMENT p O O (#PCDATA)>
        |<!ENTITY ptag "</p><p>">
        |<!SHORTREF pmap "&#RE;&#RE;" ptag>
        |<!USEMAP pmap doc>
        |]>
        |<doc><p>one
        |
        |two</doc>""".stripMargin
    val c = cfg(Dialect.Sgml, SpaceMode.SgmlMode)
    val r = SgmlParser.parse(doc, c)
    val root = r.content.collectFirst { case e: Node.Elem => e }.get
    assert(root.name == "doc")
    val ps = root.children.collect { case e: Node.Elem => e }
    assert(ps.map(_.name) == Vector("p", "p"), Serializer.xml(r.content))
    assert(r.spans(c).map(_.text) == Vector("one", "two"))
  }

  test("F22c SHORTREF: blank-sequence B token, map scoping and #EMPTY") {
    val doc =
      """<!DOCTYPE d [
        |<!ELEMENT d - - (a, b)>
        |<!ELEMENT (a|b) - - (#PCDATA)>
        |<!ENTITY bull "*">
        |<!SHORTREF m "B+" bull>
        |<!USEMAP m a>
        |<!USEMAP #EMPTY b>
        |]>
        |<d><a>x  +y</a><b>x  +y</b></d>""".stripMargin
    val c = cfg(Dialect.Sgml, SpaceMode.Preserve)
    val r = SgmlParser.parse(doc, c)
    // map active inside <a> (blanks-then-plus → "*"), not inside <b>
    assert(r.spans(c).map(_.text) == Vector("x*y", "x  +y"))
  }

  test("F22d SHORTREF: in-instance <!USEMAP> rebinds; chunked ≡ whole") {
    val doc =
      """<!DOCTYPE d [
        |<!ELEMENT d - - (#PCDATA)>
        |<!ENTITY q '"'>
        |<!SHORTREF m "''" q>
        |]>
        |<d>a''b<!USEMAP m>c''d<!USEMAP #EMPTY>e''f</d>""".stripMargin
    val c = cfg(Dialect.Sgml, SpaceMode.Preserve)
    val whole = SgmlParser.spans(doc, c)._1
    assert(whole.map(_.text).mkString == "a''bc\"de''f")
    // delimiter spanning a feed-chunk boundary must still match
    for (k <- 1 until doc.length) {
      val p = new SgmlParser(c)
      p.feed(doc.substring(0, k), 0)
      p.feed(doc.substring(k))
      assert(p.finish().spans(c) == whole, s"split at $k")
    }
  }

  test("F22e SHORTREF: mid-document USEMAP sees a current line-start flag") {
    // regression: the &#RS; anchor used a stale srLineStart when the map
    // activated after text had already been processed with no map active
    val doc =
      """<!DOCTYPE d [
        |<!ELEMENT d - - (#PCDATA)>
        |<!ENTITY mk "#">
        |<!SHORTREF m "&#RS;-" mk>
        |]>
        |<d>x<!USEMAP m>-a
        |-b</d>""".stripMargin
    val c = cfg(Dialect.Sgml, SpaceMode.Preserve)
    val r = SgmlParser.parse(doc, c)
    // "-a" is mid-line (after "x") → NOT substituted; "-b" is at a line
    // start → substituted
    assert(r.spans(c).map(_.text).mkString == "x-a\n#b")
  }

  test("non-ASCII name folding survives the interning table") {
    val c = cfg(Dialect.Sgml, SpaceMode.Preserve)
    val r = SgmlParser.parse("<ÜBER>x</über>", c)
    val e = r.content.collectFirst { case el: Node.Elem => el }.get
    assert(e.name == "über")
    assert(!r.errors.exists(_.code == "unclosed-element"), r.errors)
  }

  test("F23 omission repair: p/p, dl lists, select options, thead/tbody") {
    val c = cfg(Dialect.Html4, SpaceMode.SgmlMode)
    def elems(e: Node.Elem): Vector[String] =
      e.children.collect { case x: Node.Elem => x.name }.toVector
    def root(doc: String): Node.Elem = bodyFirst(SgmlParser.parse(doc, c))

    // p omit-end: a second <p> closes the first, it does not nest
    val d1 = root("<div><p>one<p>two</div>")
    assert(elems(d1) == Vector("p", "p"))

    // dt/dd omit-end inside dl
    val dl = root("<dl><dt>term<dd>def one<dt>term2<dd>def two</dl>")
    assert(elems(dl) == Vector("dt", "dd", "dt", "dd"))
    assert(SgmlParser.spans("<dl><dt>t<dd>d</dl>", c)._1.map(_.text) ==
      Vector("t", "d"))

    // option omit-end inside select
    val sel = root("<select><option>a<option>b<option>c</select>")
    assert(elems(sel) == Vector("option", "option", "option"))

    // thead model is (tr)+ so consecutive tr's STAY in thead (DTD
    // semantics, not browser semantics); after an explicit </thead> the
    // next tr implies <tbody>
    val tbl0 = root("<table><thead><tr><th>h</tr><tr><td>x</table>")
    assert(elems(tbl0) == Vector("thead"))
    val tbl = root("<table><thead><tr><th>h</thead><tr><td>x</table>")
    assert(elems(tbl) == Vector("thead", "tbody"))
    val thead = tbl.children.collectFirst { case e: Node.Elem => e }.get
    assert(elems(thead) == Vector("tr"))

    // li content may hold blocks; nested list closes at the outer </ul>
    val ul = root("<ul><li>a<ul><li>a1</ul><li>b</ul>")
    assert(elems(ul) == Vector("li", "li"))
    assert(SgmlParser.spans("<ul><li>a<ul><li>a1</ul><li>b</ul>", c)._1.map(_.text) ==
      Vector("a", "a1", "b"))
  }

  test("F20 xhtml dialect: namespace-qualified names + HTML entity table") {
    val doc = "<html xmlns=\"http://www.w3.org/1999/xhtml\"><body>" +
      "<p>a&nbsp;b</p></body></html>"
    val r = SgmlParser.parse(doc, cfg(Dialect.Xhtml))
    // default namespace qualifies elements
    val html = r.content.collectFirst { case e: Node.Elem => e }.get
    assert(html.name == "{http://www.w3.org/1999/xhtml}html")
    // &nbsp; resolves via the HTML entity table even in XML syntax
    assert(r.spans(cfg(Dialect.Xhtml)).map(_.text) == Vector("a b"))
    assert(r.errors.isEmpty)
  }
}
