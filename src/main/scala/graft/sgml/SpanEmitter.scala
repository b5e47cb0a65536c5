package graft.sgml

import scala.collection.mutable

/** Ordered content spans: the [[SpanSink]] that [[TreeBuilder]] commits
  * to while it parses, and the walk that drives a sink over a DOM
  * ([[Node.walk]]), so the span rules below are written once.
  *
  * The output side of the contract (BASELINE.json input_hint /
  * FIXTURES.md): `kind ∈ {text, cdata, pi, entity, media}`, exact
  * sequence equality per doc. Reference analogue: the term-builder's
  * content items (`sgml2pl.c — term construction` [V]) flattened in
  * document order, with media placeholders (F8/F14):
  * `img|audio|video|source|embed|object|iframe` emit a `media` span with
  * `media_ref` from `src` (or `data` for object).
  *
  * With `cfg.boilerplate` the span sink is a main-content extractor
  * (north-star "HTML boilerplate strip"; SURVEY.md §7 risk 4 — OFF for
  * reference conformance, because the reference parser has no
  * boilerplate notion), by two deterministic heuristics — tag semantics
  * and link density, a la the boilerplate-detection literature:
  *
  *  1. tag blacklist — chrome/meta subtrees never carry main content and
  *     are skipped whole;
  *  2. link density — an element other than `a` whose surviving text is
  *     at least [[MinChars]] chars, at least [[LinkDensity]] of them
  *     inside anchors, is navigation/related-links chrome: its spans are
  *     truncated away when the element closes.
  *
  * Each element is judged on the text of the children it KEPT, so a
  * `body` holding both chrome and the article does not count the
  * chrome's links against itself. One pass, O(content), no tree.
  */
object SpanEmitter {

  /** Elements that yield a media span, and the attribute carrying the ref. */
  val mediaElements: Map[String, String] = Map(
    "img" -> "src", "audio" -> "src", "video" -> "src", "source" -> "src",
    "embed" -> "src", "iframe" -> "src", "object" -> "data")

  /** Chrome/meta elements whose content the strip skips. */
  val blacklist: Set[String] = Set(
    "head", "script", "style", "nav", "header", "footer", "aside",
    "noscript", "form", "button", "select", "template", "menu", "iframe")

  private[sgml] val LinkDensity = 0.5
  private[sgml] val MinChars = 20

  /** Drive `sink` over a tree, as the builder drove it while parsing. */
  def walk(content: IndexedSeq[Node], sink: ContentSink): Unit =
    Node.walk(content) {
      case Node.Text(s, raw, off) => sink.text(s, raw, off); false
      case Node.Pi(s, off) => sink.pi(s, off); false
      case Node.EntityRef(name, off) => sink.entity(name, off); false
      case Node.Media(ref, off) => sink.media(ref, off); false
      case e: Node.Elem => sink.open(e.name, e.attrs, e.off); true
    }(_ => sink.close())

  def emit(content: IndexedSeq[Node], cfg: ParserConfig): IndexedSeq[Span] = {
    val sink = SpanSink.spans(cfg)
    walk(content, sink)
    sink.result
  }
}

/** The spans of one document, each made by `span` when its content is
  * committed (no tree) into a buffer reused across documents. */
abstract class SpanSink[S](cfg: ParserConfig) extends ContentSink {
  import SpanEmitter._
  import SpanSink._

  /** One span: its kind (an index into [[SpanSink.Kinds]]), text, media
    * ref and offset. */
  protected def span(kind: Int, text: String, ref: String, off: Int): S

  private val strip = cfg.boilerplate
  private val out = new mutable.ArrayBuffer[S](16)
  // the strip's state: open elements inside a blacklisted one (0 = none),
  // and one Kept per entered element, the document's at the bottom
  private var skipped = 0
  private val kept = new mutable.ArrayBuffer[Kept]
  reset()

  def result: IndexedSeq[S] = out.toIndexedSeq
  def toArray: Array[Any] = out.toArray[Any]

  def open(name: String, attrs: List[Attr], off: Int): Unit = {
    val local = Node.localOf(name)
    if (skipped > 0 || (strip && blacklist.contains(local))) skipped += 1
    else {
      if (strip) kept += new Kept(out.size, local == "a")
      mediaElements.get(local).foreach { attrName =>
        val ref = attrs.collectFirst {
          case Attr(an, v) if Node.localOf(an) == attrName => v.render
        }
        out += span(Media, "", ref.orNull, off)
      }
    }
  }

  def close(): Unit =
    if (skipped > 0) skipped -= 1
    else if (strip) {
      val k = kept.remove(kept.size - 1)
      if (!k.isA && k.total >= MinChars && k.linked.toDouble / k.total >= LinkDensity)
        out.dropRightInPlace(out.size - k.mark)
      else {
        val parent = kept.last
        parent.total += k.total
        parent.linked += (if (k.isA) k.total else k.linked)
      }
    }

  def text(s: String, raw: Boolean, off: Int): Unit = if (skipped == 0) {
    out += span(if (raw) Cdata else Text, s, null, off)
    if (strip) kept.last.total += s.length
  }
  def pi(s: String, off: Int): Unit = if (skipped == 0) out += span(Pi, s, null, off)
  def entity(name: String, off: Int): Unit = if (skipped == 0) out += span(Entity, name, null, off)
  def media(ref: String, off: Int): Unit = if (skipped == 0) out += span(Media, "", ref, off)

  def reset(): Unit = {
    out.clear(); skipped = 0
    if (strip) { kept.clear(); kept += new Kept(0, isA = false) }
  }
}

object SpanSink {
  /** The contract's span kinds; a span's kind is an index into this. */
  val Kinds: IndexedSeq[String] = Vector("text", "cdata", "pi", "entity", "media")
  private final val Text = 0
  private final val Cdata = 1
  private final val Pi = 2
  private final val Entity = 3
  private final val Media = 4

  /** The sink of contract [[Span]]s. */
  def spans(cfg: ParserConfig): SpanSink[Span] = new SpanSink[Span](cfg) {
    protected def span(kind: Int, text: String, ref: String, off: Int): Span =
      Span(Kinds(kind), text, ref, off)
  }

  /** An entered element under the strip: the span count before its own
    * spans, and the (total, inside-`a`) text chars of the children kept. */
  private final class Kept(val mark: Int, val isA: Boolean) {
    var total = 0
    var linked = 0
  }
}
