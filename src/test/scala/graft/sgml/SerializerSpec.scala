package graft.sgml

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed

/** Property tests for the serialization sink (SURVEY.md §2.8 W1–W5) and
  * the parse↔write round trip (SURVEY.md §5.2 property 3a): for generated
  * well-formed trees, `parse(serialize(t))` re-yields exactly the span
  * sequence of `t`; span offsets are monotonic; canonical mode is
  * parse-equivalent to plain mode.
  */
class SerializerSpec extends AnyFunSuite {
  import SerializerSpec._

  private val cfg = ParserConfig(dialect = Dialect.Xml, space = SpaceMode.Preserve)

  private val genContent: Gen[Vector[Node]] = for {
    root <- genNode(3)
  } yield Vector(root)

  private def spansOf(content: IndexedSeq[Node]): Vector[(String, String)] =
    SpanEmitter.emit(content, cfg).map(s => (s.kind, s.text)).toVector

  // ---- properties -------------------------------------------------------

  test("round trip: parse(xml_write(t)) yields t's span sequence") {
    forAll(genContent) { t =>
      val xml = Serializer.xml(t)
      val r = SgmlParser.parse(xml, cfg)
      assert(r.errors.isEmpty, s"errors on: $xml → ${r.errors}")
      assert(spansOf(r.content) === spansOf(t), s"xml was: $xml")
    }
  }

  test("canonical mode is parse-equivalent to plain mode") {
    forAll(genContent) { t =>
      val plain = SgmlParser.parse(Serializer.xml(t), cfg)
      val canon = SgmlParser.parse(Serializer.xml(t, canonical = true), cfg)
      assert(spansOf(plain.content) === spansOf(canon.content))
    }
  }

  test("span offsets are strictly increasing within a parsed doc") {
    forAll(genContent) { t =>
      val spans = SgmlParser.spans(Serializer.xml(t), cfg)._1
      spans.sliding(2).foreach {
        case Vector(a, b) => assert(a.offset < b.offset, spans.toString)
        case _            =>
      }
    }
  }

  test("parse never throws on arbitrary noise (error rows instead)") {
    forAll(Arbitrary.arbitrary[String]) { s =>
      val r = SgmlParser.parse(s, ParserConfig(dialect = Dialect.Html4))
      assert(r != null) // errors land in r.errors; no exception escapes
    }
  }

  test("html write: EMPTY elements minimized, script content verbatim") {
    val t = Vector(
      Node.Elem("p", Nil, Vector(
        Node.Elem("img", List(Attr("src", AttrValue.Str("a.png"))), Vector.empty, 0),
        Node.Text("x < y", raw = false, 0)), 0),
      Node.Elem("script", Nil, Vector(Node.Text("if (a<b) go()", raw = false, 0)), 0))
    val html = Serializer.html(t)
    assert(html === "<p><img src=\"a.png\">x &lt; y</p><script>if (a<b) go()</script>")
    // and it reparses to the same spans under the html dialect
    val r = SgmlParser.parse(html, ParserConfig(Dialect.Html4, SpaceMode.Preserve))
    assert(SpanEmitter.emit(r.content, cfg).map(s => (s.kind, s.text, s.media_ref)) ===
      Vector(("media", "", "a.png"), ("text", "x < y", null), ("cdata", "if (a<b) go()", null)))
  }

  test("attribute quoting round trip (W4)") {
    val t = Vector(Node.Elem("div",
      List(Attr("title", AttrValue.Str("a \"quoted\" <value> & more"))),
      Vector(Node.Text("body", raw = false, 0)), 0))
    val xml = Serializer.xml(t)
    val r = SgmlParser.parse(xml, cfg)
    val Node.Elem(_, attrs, _, _) = r.content.head: @unchecked
    assert(attrs.head.value.render === "a \"quoted\" <value> & more")
  }
}

/** Tree generators, shared with the other DOM-walk properties. */
object SerializerSpec {

  /** Deterministic property driver (raw ScalaCheck Gen, fixed seed chain —
    * no scalatestplus bridge needed in the offline build). */
  def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      f(gen.pureApply(Gen.Parameters.default, seed))
      seed = seed.next
      i += 1
    }
  }

  // ---- generators -------------------------------------------------------

  /** Printable text without markup-significant chars handled by escaping
    * (escaping IS allowed — &<> are escaped by the serializer), but no
    * bare CR (parser normalizes line ends) and nonempty. */
  val genText: Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '.', ',', '&', '<', '>', '\'', '"', 'é', '中'),
      1 -> Gen.const('\n'))).map(_.mkString)

  private val genCdataText: Gen[String] =
    genText.suchThat(s => !s.contains("]]>") && !s.contains("]]"))

  private val genPiText: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map("pi" + _.mkString)
      .suchThat(s => !s.contains("?>"))

  private val genTag: Gen[String] =
    Gen.oneOf("div", "sect", "item", "note", "wrap")

  val genAttr: Gen[Attr] = for {
    n <- Gen.oneOf("id", "cls", "role", "lang")
    v <- Gen.listOf(Gen.alphaNumChar).map(_.mkString)
  } yield Attr(n, AttrValue.Str(v))

  /** No two adjacent text nodes (they would merge on reparse), offsets
    * irrelevant (set 0; round-trip compares kind+text only). */
  private def dedupAdjacentText(ns: List[Node]): List[Node] = ns match {
    case (a: Node.Text) :: (b: Node.Text) :: rest if !a.raw && !b.raw =>
      dedupAdjacentText(a :: rest)
    case h :: t => h :: dedupAdjacentText(t)
    case Nil    => Nil
  }

  /** `tags`, `attr` and `text` default to the round-trip generators'. */
  def genNode(depth: Int, tags: Gen[String] = genTag, attr: Gen[Attr] = genAttr,
      text: Gen[String] = genText): Gen[Node] =
    if (depth <= 0) text.map(Node.Text(_, raw = false, 0))
    else Gen.frequency(
      5 -> text.map(Node.Text(_, raw = false, 0)),
      1 -> genCdataText.map(Node.Text(_, raw = true, 0)),
      1 -> genPiText.map(Node.Pi(_, 0)),
      3 -> (for {
        tag <- tags
        attrs <- Gen.listOfN(2, attr).map(_.distinctBy(_.name))
        kids <- Gen.resize(4, Gen.listOf(genNode(depth - 1, tags, attr, text)))
          .map(dedupAdjacentText)
      } yield Node.Elem(tag, attrs, kids.toVector, 0)))
}
