package graft.sgml

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import SerializerSpec.forAll

/** The single failure policy of the Spark layer's parse lifecycle: a
  * non-fatal throw becomes a failure value and costs nothing to the next
  * document; fatal errors and interrupts propagate. A reused parser is
  * not observable: it gives each document what a fresh one gives, and
  * keeps nothing of the documents before. */
class ParseDriverSpec extends AnyFunSuite {

  private val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve)
  private val doc = "<html><body><p>one <b>two</b><p>three &amp; four</body></html>"

  private def parseWith(d: ParseDriver, text: String) =
    d(_.feed(text, 0))(r => (r.spans(cfg), r.errors))

  test("a feed or projection that throws returns the failure, class before message") {
    val d = new ParseDriver(cfg)
    assert(d(_ => throw new RuntimeException("boom"))(identity) ===
      Left("java.lang.RuntimeException: boom"))
    assert(d(_.feed(doc, 0))(_ => throw new ArithmeticException("x")) ===
      Left("java.lang.ArithmeticException: x"))
  }

  test("the next doc after a mid-parse failure equals a fresh parser's result") {
    val d = new ParseDriver(cfg)
    // leave the parser deep inside an open element, then throw
    val failed = d { p =>
      p.feed("<html><body><table><tr><td><!-- open comment", 0)
      throw new IllegalStateException("poisoned")
    }(identity)
    assert(failed.isLeft)
    assert(parseWith(d, doc) === Right(SgmlParser.spans(doc, cfg)))
  }

  test("StackOverflowError and InterruptedException propagate") {
    val d = new ParseDriver(cfg)
    intercept[StackOverflowError](d(_ => throw new StackOverflowError())(identity))
    intercept[InterruptedException](d(_ => throw new InterruptedException())(identity))
    // and the driver still parses afterwards
    assert(parseWith(d, doc) === Right(SgmlParser.spans(doc, cfg)))
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

  /** A document, where its feed is cut, and whether the feed throws. */
  private val genDoc: Gen[(String, Seq[Int], Boolean)] = for {
    prolog <- Gen.oneOf(prologs)
    body <- Gen.choose(1, 8).flatMap(Gen.listOfN(_, Gen.oneOf(bodies))).map(_.mkString)
    end <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(endings))
    doc = prolog + body + end
    cuts <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(1, doc.length)))
    throws <- Gen.frequency(12 -> false, 1 -> true)
  } yield (doc, cuts.sorted, throws)

  private def parseIn(d: ParseDriver, sink: SpanSink[Span], doc: (String, Seq[Int], Boolean)) = {
    val (text, cuts, throws) = doc
    d { p =>
      var prev = 0
      (cuts :+ text.length).foreach { cut =>
        if (cut > prev) { p.feed(text.substring(prev, cut), if (prev == 0) 0 else -1); prev = cut }
        if (throws) throw new IllegalStateException("feed failed")
      }
    }(r => (sink.result, r.errors))
  }

  test("a reused driver equals fresh parsers: 2-20 doc sequences, every dialect, catalog #CURRENT and SHORTREF") {
    val reused = reuseConfigs.map { c => val s = SpanSink.spans(c); c -> (new ParseDriver(c, s), s) }.toMap
    val seqs = for {
      cfg <- Gen.oneOf(reuseConfigs)
      docs <- Gen.choose(2, 20).flatMap(Gen.listOfN(_, genDoc))
    } yield (cfg, docs)
    val seen = collection.mutable.Set.empty[String]
    forAll(seqs, n = 2000) { case (cfg, docs) =>
      val (driver, sink) = reused(cfg)
      docs.foreach { doc =>
        val fresh = SpanSink.spans(cfg)
        val want = parseIn(new ParseDriver(cfg, fresh), fresh, doc)
        assert(parseIn(driver, sink, doc) === want, s"${cfg.dialect}/${cfg.space}: ${doc._1}")
        want.foreach(_._2.foreach(e => seen += e.code))
        if (want.isLeft) seen += "thrown"
      }
    }
    // the generator reaches what a reused parser could carry over
    for (code <- Seq("max-errors", "doc-too-large", "entity-budget", "current-attribute-no-value", "thrown"))
      assert(seen(code), s"$code never generated: $seen")
  }

  test("a #CURRENT value does not outlive its document in a reused parser") {
    val cfg = limits.copy(dialect = Dialect.Sgml, maxDocChars = 1 << 20)
    val d = new ParseDriver(cfg)
    val named = "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para style=x>a</memo>"
    val omitted = "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para>b</memo>"
    assert(d(_.feed(named, 0))(_.errors) === Right(Vector.empty))
    val noValue = Vector(ParseErr("current-attribute-no-value", omitted.indexOf("<para>"), "para/style"))
    assert(d(_.feed(omitted, 0))(_.errors) === Right(noValue))
    assert(SgmlParser.parse(omitted, cfg).errors === noValue)
    // internal-subset values: none is held once the next document starts
    val values = (1 to 50).map { i =>
      d(_.feed(s"<!DOCTYPE e [<!ELEMENT e - - (#PCDATA)><!ATTLIST e a CDATA #CURRENT>]>" +
        s"<e a='${"v" * 1000}$i'>x</e>", 0)) { r =>
        val e = r.content.collectFirst { case e: Node.Elem => e }.get
        new java.lang.ref.WeakReference(e.attrs.head.value.render)
      }.toOption.get
    }
    assert(d(_.feed(doc, 0))(_ => ()).isRight)
    val deadline = System.nanoTime() + 10000000000L
    while (values.exists(_.get != null) && System.nanoTime() < deadline) { System.gc(); Thread.sleep(20) }
    assert(values.count(_.get != null) === 0)
  }
}
