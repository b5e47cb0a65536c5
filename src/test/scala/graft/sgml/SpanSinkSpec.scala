package graft.sgml

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import SerializerSpec.forAll

/** The span sink the tree builder commits to while it parses against the
  * DOM walk driving the same sink: for generated documents in every
  * dialect, space mode and strip setting, whole or fed in chunks with
  * media passed between them, the spans and the errors are equal. Both
  * parsers are reused from document to document, as a thread's driver
  * reuses them. */
class SpanSinkSpec extends AnyFunSuite {

  /** Omission repair, entities, marked sections, media elements, chrome
    * for the strip and the newline rules, beside the chunk fuzzer's
    * fragments. */
  private val shapes = Vector(
    "<table><tr><td>a<td>b<tr><td>c</table>", "<p>one<p>two", "<dl><dt>t<dd>d</dl>",
    "<select><option>a<option>b</select>", "<li>x", "<html><body>", "<ul><li>a<ul><li>b</ul>",
    "&amp;&lt;&#x263A;&copy;", "&bogus;", "&#6", "&amp",
    "<!DOCTYPE d [<!ENTITY e \"<b>x</b>\n\"><!ENTITY f \"f&e;\">]>", "&e;", "&f;",
    "<![CDATA[c\n]]>", "<![ RCDATA [r &amp; <i>]]>", "<![ IGNORE [x]]>", "<![INCLUDE[\ni\n]]>",
    "<img src='i.png'>", "<video src=v>", "<object data=o.bin></object>", "<iframe src=f>x</iframe>",
    "<nav><a href=x>links links links links</a></nav>", "<a>aaaaaaaaaaaaaaaaaaaaaaaa</a>",
    "<div><a>aaaaaaaaaaaaaaaaaaaaaa</a>b</div>", "<script>s</script>", "<head><title>t</title></head>",
    "<pre>\nx\n</pre>", "<p>\n", "\n</p>", " x\n", "<d xml:space='preserve'>\n a \n</d>",
    "<x:y xmlns:x='u'>n</x:y>", "<q:z>w</q:z>", "<d xmlns='urn:d'><e/>t</d>")

  private val alphabet = ChunkFuzzSpec.fragments ++ shapes ++ shapes

  /** A document and its feed: the cut points, each with a media ref or
    * not. */
  private val genDoc: Gen[(String, Seq[(Int, Option[String])])] = for {
    doc <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, Gen.oneOf(alphabet))).map(_.mkString)
    cuts <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(1, doc.length)))
    media <- Gen.listOfN(cuts.length, Gen.option(Gen.oneOf("m.png", "v.mp4")))
  } yield (doc, cuts.zip(media).sortBy(_._1))

  private val configs = for {
    d <- Dialect.all
    s <- Seq(SpaceMode.Preserve, SpaceMode.SgmlMode, SpaceMode.Default, SpaceMode.Remove, SpaceMode.Strict)
    strip <- Seq(false, true)
  } yield ParserConfig(dialect = d, space = s, boilerplate = strip)

  private def parse(p: SgmlParser, doc: String, feed: Seq[(Int, Option[String])]): ParseResult = {
    p.reset()
    var prev = 0
    (feed :+ (doc.length -> None)).foreach { case (cut, media) =>
      if (cut > prev) { p.feed(doc.substring(prev, cut), if (prev == 0) 0 else -1); prev = cut }
      media.foreach(p.media(_, prev))
    }
    p.finish()
  }

  test("generated docs: the live span sink equals the DOM walk, every dialect, space mode and strip") {
    val parsers = configs.map { c =>
      val sink = SpanSink.spans(c)
      c -> (new SgmlParser(c), new SgmlParser(c, sink), sink)
    }.toMap
    val seen = scala.collection.mutable.Set[ParserConfig]()
    var spans, stripped, implied = 0
    forAll(Gen.zip(Gen.oneOf(configs), genDoc), n = 3000) { case (c, (doc, feed)) =>
      val (dom, live, sink) = parsers(c)
      val tree = parse(dom, doc, feed)
      val errs = parse(live, doc, feed).errors
      val want = tree.spans(c)
      assert(sink.result == want, s"$c: ${doc.take(300)} feed=$feed")
      assert(errs == tree.errors, s"$c: ${doc.take(300)} feed=$feed")
      seen += c
      spans += want.length
      if (tree.spans(c.copy(boilerplate = false)).length > want.length) stripped += 1
      if (tree.content.exists { case e: Node.Elem => e.name == "html"; case _ => false } &&
          !doc.contains("<html")) implied += 1
    }
    // every configuration is drawn; the strip and implied-element repair fire
    assert(seen.size == configs.size)
    assert(spans > 10000 && stripped > 100 && implied > 100, (spans, stripped, implied))
  }
}
