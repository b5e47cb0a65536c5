package graft.sgml

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The boilerplate strip inside the span walk against the two-pass
  * reference it replaced: copy the tree without the chrome (bottom-up,
  * each element judged on the text of its surviving children), then
  * flatten the copy recursively. Same spans for every tree, strip on and
  * off. */
class BoilerplateStripSpec extends AnyFunSuite {
  import BoilerplateStripSpec._
  import SerializerSpec.{forAll, genAttr, genNode, genText}

  private val off = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve)
  private val on = off.copy(boilerplate = true)

  private def assertSameAsReference(content: IndexedSeq[Node]): Unit = {
    assert(SpanEmitter.emit(content, on) === flatten(strip(content)), content)
    assert(SpanEmitter.emit(content, off) === flatten(content), content)
  }

  private val genTag: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("div", "p", "span", "{urn:x}div"),
    3 -> Gen.oneOf("a", "{urn:x}a"),
    1 -> Gen.oneOf("img", "video", "object"),
    2 -> Gen.oneOf(SpanEmitter.blacklist.toSeq.sorted))

  private val genSrc: Gen[Attr] = Gen.frequency(
    3 -> genAttr,
    1 -> Gen.oneOf("src", "data").map(n => Attr(n, AttrValue.Str("m.bin"))))

  /** Runs of 15–25 chars straddle MinChars alone; the shared text
    * generator adds short and long runs. */
  private val genRun: Gen[String] = Gen.frequency(
    1 -> genText,
    1 -> Gen.choose(15, 25).flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(_.mkString))

  private val genForest: Gen[Vector[Node]] =
    Gen.resize(4, Gen.nonEmptyListOf(genNode(4, genTag, genSrc, genRun))).map(_.toVector)

  test("generated trees: the walk's strip equals strip-then-flatten") {
    var stripped = 0
    forAll(genForest, n = 600) { t =>
      assertSameAsReference(t)
      if (SpanEmitter.emit(t, on).length < SpanEmitter.emit(t, off).length) stripped += 1
    }
    assert(stripped > 100, "the generator must exercise the strip")
  }

  private def text(s: String) = Node.Text(s, raw = false, 0)
  private def el(name: String, kids: Node*) = Node.Elem(name, Nil, kids.toVector, 0)
  private def img(src: String) = Node.Elem("img", List(Attr("src", AttrValue.Str(src))), Vector.empty, 0)
  private def texts(t: IndexedSeq[Node]) = SpanEmitter.emit(t, on).map(_.text)

  test("link density: 20 chars at 0.5 is dropped, 19 chars or less than 0.5 is not") {
    val linked20 = Vector(el("div", text("x" * 10), el("a", text("y" * 10))))
    val linked19 = Vector(el("div", text("x" * 10), el("a", text("y" * 9))))
    val under = Vector(el("div", text("x" * 11), el("a", text("y" * 10))))
    Seq(linked20, linked19, under).foreach(assertSameAsReference)
    assert(texts(linked20).isEmpty)
    assert(texts(linked19) === Seq("x" * 10, "y" * 9))
    assert(texts(under) === Seq("x" * 11, "y" * 10))
  }

  test("nested a: an anchor is never dropped itself and counts all its text as linked") {
    val t = Vector(el("p", text("lead "),
      el("a", text("outer "), el("a", text("inner link text")), el("span", text(" tail")))))
    assertSameAsReference(t)
    assert(texts(t).isEmpty) // 5 of 31 chars unlinked
    val kept = Vector(el("a", text("a" * 30)))
    assertSameAsReference(kept)
    assert(texts(kept) === Seq("a" * 30))
  }

  test("an img inside dropped chrome leaves no media span") {
    val t = Vector(el("body",
      el("nav", img("logo.png"), text("Home")),
      el("div", img("ad.png"), el("a", text("Related article one two"))),
      el("p", img("figure.png"), text("Main text."))))
    assertSameAsReference(t)
    assert(SpanEmitter.emit(t, on).map(s => (s.kind, s.text, s.media_ref)) ===
      Seq(("media", "", "figure.png"), ("text", "Main text.", null)))
  }

  test("chrome at root level is stripped; root text is kept") {
    val t = Vector(text("before"), el("nav", text("menu")),
      el("div", el("a", text("a link that is long enough"))), text("after"),
      el("script", text("x()")))
    assertSameAsReference(t)
    assert(texts(t) === Seq("before", "after"))
  }
}

object BoilerplateStripSpec {

  /** The reference strip, on a tree copy: prune blacklisted subtrees,
    * then drop a non-`a` element whose surviving text is ≥ 20 chars and
    * at least half inside anchors. Recursive, O(n · depth). */
  def strip(content: IndexedSeq[Node]): IndexedSeq[Node] = content.flatMap(keep)

  private def keep(n: Node): Option[Node] = n match {
    case e: Node.Elem =>
      val local = Node.localOf(e.name)
      if (SpanEmitter.blacklist.contains(local)) None
      else {
        val pruned = e.copy(children = e.children.flatMap(keep))
        val (total, linked) = textStats(pruned, insideA = local == "a")
        if (local != "a" && total >= 20 && linked.toDouble / total >= 0.5) None
        else Some(pruned)
      }
    case other => Some(other)
  }

  private def textStats(n: Node, insideA: Boolean): (Int, Int) = n match {
    case Node.Text(s, _, _) => (s.length, if (insideA) s.length else 0)
    case e: Node.Elem =>
      val inA = insideA || Node.localOf(e.name) == "a"
      e.children.map(textStats(_, inA)).foldLeft((0, 0)) {
        case ((t, l), (ct, cl)) => (t + ct, l + cl)
      }
    case _ => (0, 0)
  }

  /** Recursive pre-order flatten, media spans from the element's ref. */
  def flatten(content: IndexedSeq[Node]): IndexedSeq[Span] = content.flatMap {
    case Node.Text(s, raw, o) => Seq(Span(if (raw) "cdata" else "text", s, null, o))
    case Node.Pi(s, o) => Seq(Span("pi", s, null, o))
    case Node.EntityRef(name, o) => Seq(Span("entity", name, null, o))
    case Node.Media(ref, o) => Seq(Span("media", "", ref, o))
    case e: Node.Elem =>
      val media = SpanEmitter.mediaElements.get(Node.localOf(e.name)).map { a =>
        Span("media", "", e.attrs.collectFirst {
          case Attr(n, v) if Node.localOf(n) == a => v.render
        }.orNull, e.off)
      }
      media.toSeq ++ flatten(e.children)
  }
}
