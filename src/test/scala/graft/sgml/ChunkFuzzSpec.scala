package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** Differential chunk-equivalence fuzz: for RANDOM markup-ish documents
  * (not a fixed fixture), feeding the input in arbitrary chunks must
  * produce exactly the whole-input parse — across dialects and every
  * tokenizer state the fragment alphabet can reach. This is the test
  * class that catches buffered-lookahead bugs (the S_RAW_ET bail-out
  * duplication was exactly one: found by inspection, now also covered
  * here by the `</sX` fragments inside raw content). Seeds fixed. */
class ChunkFuzzSpec extends AnyFunSuite {
  import ChunkFuzzSpec.fragments

  private def randomDoc(rng: scala.util.Random): String = {
    val n = 1 + rng.nextInt(12)
    (0 until n).map(_ => fragments(rng.nextInt(fragments.length))).mkString
  }

  private def spansOf(doc: String, cfg: ParserConfig,
      cuts: Seq[Int]): (IndexedSeq[Span], Int) = {
    val p = new SgmlParser(cfg)
    var prev = 0
    (cuts.sorted.distinct :+ doc.length).foreach { c =>
      if (c > prev) {
        p.feed(doc.substring(prev, c), if (prev == 0) 0 else -1)
        prev = c
      }
    }
    if (prev == 0 && doc.nonEmpty) p.feed(doc, 0)
    val r = p.finish()
    (r.spans(cfg), r.errors.length)
  }

  test("html5 entities: chunked ≡ whole at every split point") {
    // WHATWG names (incl. long and multi-codepoint ones) must survive a
    // chunk boundary anywhere inside the reference
    val doc = "<p>x &longrightarrow; y &NotEqualTilde; &fjlig; &nbsp;z</p>"
    val cfg = ParserConfig(Dialect.Html5, SpaceMode.Preserve)
    val whole = SgmlParser.spans(doc, cfg)._1
    assert(whole.map(_.text).mkString == "x ⟶ y ≂̸ fj  z")
    for (k <- 1 until doc.length) {
      val p = new SgmlParser(cfg)
      p.feed(doc.substring(0, k), 0)
      p.feed(doc.substring(k))
      assert(p.finish().spans(cfg) == whole, s"split at $k")
    }
  }

  test("random SHORTREF docs: chunked ≡ whole (delimiters across cuts)") {
    val cfg = ParserConfig(dialect = Dialect.Sgml, space = SpaceMode.Preserve)
    val prolog = "<!DOCTYPE d [" +
      "<!ELEMENT d - - (#PCDATA)><!ENTITY mk \"#\">" +
      "<!ENTITY nl \"|\">" +
      "<!SHORTREF m \"--\" mk \"&#RE;&#RE;\" nl \"B+\" mk>" +
      "<!USEMAP m d>]><d>"
    val bits = Vector("ab", "--", "-", "\n", "  +", " ", "c--d", "+", "e")
    val rng = new scala.util.Random(77)
    for (i <- 1 to 80) {
      val body = (0 until 1 + rng.nextInt(10)).map(_ => bits(rng.nextInt(bits.length))).mkString
      val doc = prolog + body + "</d>"
      val (whole, _) = spansOf(doc, cfg, Nil)
      for (k <- 1 until doc.length) {
        val (got, _) = spansOf(doc, cfg, Seq(k))
        assert(got == whole, s"[$i] split=$k body=$body")
      }
    }
  }

  for (d <- Seq(Dialect.Html4, Dialect.Html5, Dialect.Sgml, Dialect.Xml)) {
    test(s"random docs: chunked ≡ whole, all 2-splits + random splits [${d.name}]") {
      val cfg = ParserConfig(dialect = d, space = SpaceMode.Preserve)
      val rng = new scala.util.Random(1234 + d.name.hashCode)
      for (i <- 1 to 120) {
        val doc = randomDoc(rng)
        val (whole, wholeErrs) = spansOf(doc, cfg, Nil)
        // every 2-chunk split
        for (k <- 1 until doc.length) {
          val (got, errs) = spansOf(doc, cfg, Seq(k))
          assert(got == whole, s"[$i] split=$k doc=${doc.take(120)}")
          assert(errs == wholeErrs, s"[$i] errs at split=$k doc=${doc.take(120)}")
        }
        // a few random many-chunk splits
        for (_ <- 1 to 5) {
          val cuts = Seq.fill(rng.nextInt(8))(rng.nextInt(math.max(1, doc.length)))
          val (got, _) = spansOf(doc, cfg, cuts)
          assert(got == whole, s"[$i] cuts=$cuts doc=${doc.take(120)}")
        }
        // offsets stay non-decreasing on arbitrary noise
        assert(whole.map(_.offset) == whole.map(_.offset).sorted)
      }
    }
  }
}

object ChunkFuzzSpec {
  /** Markup fragments that together reach every tokenizer state. */
  val fragments: Vector[String] = Vector(
    "plain text ", "a<b", "x & y", "&amp;", "&#65;", "&#x42;", "&nbsp;",
    "&nope;", "&unterminated ", "<p>", "</p>", "<div class='c'>", "</div>",
    "<ul><li>one<li>two</ul>", "<br>", "<br/>", "<img src='u.png'>",
    "<option selected>", "<!-- comment -->", "<!-- -- -->", "<?pi data?>",
    "<![CDATA[raw ]] text]]>", "<![INCLUDE[in]]>", "<![IGNORE[out]]>",
    "<![ TEMP [t]]>", "<script>if(a<b){x()}</script>",
    "<script>a</sx b</script>", "<script></scr</script>",
    "<title>t&amp;t</title>", "<textarea>r&lt;c</textarea>",
    "</>", "</nope>", "<a<b>", "<a b=>", "<a b='v'", "]]>", "]]", "/",
    "<!DOCTYPE d [<!ENTITY e \"ee\">]>", "&e;", "<em>t</em>",
    "<table><tr><td>c</table>", "\n", "  ", "é中☃",
    "\r\n", "\r", "a\rb", "<pre>x\r\ny</pre>", "&#13;",
    // WHATWG names: resolved under html5, undeclared-entity nodes under
    // html4/sgml — chunk-equivalence must hold either way
    "&longrightarrow;", "&NotEqualTilde;", "&varnothing", "<source src=a>")
}
