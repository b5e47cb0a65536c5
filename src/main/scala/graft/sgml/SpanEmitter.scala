package graft.sgml

import scala.collection.mutable

/** DOM → ordered content spans (pre-order flatten over [[Node.walk]]).
  *
  * The output side of the contract (BASELINE.json input_hint /
  * FIXTURES.md): `kind ∈ {text, cdata, pi, entity, media}`, exact
  * sequence equality per doc. Reference analogue: the term-builder's
  * content items (`sgml2pl.c — term construction` [V]) flattened in
  * document order, with media placeholders (F8/F14):
  * `img|audio|video|source|embed|object|iframe` emit a `media` span with
  * `media_ref` from `src` (or `data` for object).
  *
  * With `cfg.boilerplate` the same walk is a main-content extractor
  * (north-star "HTML boilerplate strip"; SURVEY.md §7 risk 4 — OFF for
  * reference conformance, because the reference parser has no
  * boilerplate notion), by two deterministic heuristics — tag semantics
  * and link density, a la the boilerplate-detection literature:
  *
  *  1. tag blacklist — chrome/meta subtrees never carry main content and
  *     are never entered;
  *  2. link density — an element other than `a` whose surviving text is
  *     at least [[MinChars]] chars, at least [[LinkDensity]] of them
  *     inside anchors, is navigation/related-links chrome: its spans are
  *     truncated away when the walk leaves it.
  *
  * Each element is judged on the text of the children it KEPT, so a
  * `body` holding both chrome and the article does not count the
  * chrome's links against itself. One pass, O(tree), no tree copy.
  */
object SpanEmitter {

  /** Elements that yield a media span, and the attribute carrying the ref. */
  val mediaElements: Map[String, String] = Map(
    "img" -> "src", "audio" -> "src", "video" -> "src", "source" -> "src",
    "embed" -> "src", "iframe" -> "src", "object" -> "data")

  /** Chrome/meta elements the strip never enters. */
  val blacklist: Set[String] = Set(
    "head", "script", "style", "nav", "header", "footer", "aside",
    "noscript", "form", "button", "select", "template", "menu", "iframe")

  private val LinkDensity = 0.5
  private val MinChars = 20

  /** An entered element under the strip: the output size before its own
    * spans, and the (total, inside-`a`) text chars of the children kept. */
  private final class Kept(val mark: Int, val isA: Boolean) {
    var total = 0
    var linked = 0
  }

  def emit(content: IndexedSeq[Node], cfg: ParserConfig): IndexedSeq[Span] = {
    val out = new mutable.ArrayBuffer[Span](16)
    val strip = cfg.boilerplate
    val kept = mutable.ArrayBuffer(new Kept(0, isA = false)) // root-level sink
    Node.walk(content) {
      case Node.Text(s, raw, off) =>
        out += Span(if (raw) "cdata" else "text", s, null, off)
        if (strip) kept.last.total += s.length
        false
      case Node.Pi(s, off) =>
        out += Span("pi", s, null, off); false
      case Node.EntityRef(name, off) =>
        out += Span("entity", name, null, off); false
      case Node.Media(ref, off) =>
        out += Span("media", "", ref, off); false
      case e: Node.Elem =>
        val local = Node.localOf(e.name)
        if (strip && blacklist.contains(local)) false
        else {
          if (strip) kept += new Kept(out.size, local == "a")
          mediaElements.get(local).foreach { attrName =>
            val ref = e.attrs.collectFirst {
              case Attr(n, v) if Node.localOf(n) == attrName => v.render
            }
            out += Span("media", "", ref.orNull, e.off)
          }
          true
        }
    } { _ =>
      if (strip) {
        val k = kept.remove(kept.size - 1)
        if (!k.isA && k.total >= MinChars && k.linked.toDouble / k.total >= LinkDensity)
          out.dropRightInPlace(out.size - k.mark)
        else {
          val parent = kept.last
          parent.total += k.total
          parent.linked += (if (k.isA) k.total else k.linked)
        }
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray(SpanTag))
  }

  /** Hoisted ClassTag — same ClassValue-probe saving as
    * TreeBuilder.NodeTag (once per document here). */
  private val SpanTag: scala.reflect.ClassTag[Span] =
    scala.reflect.ClassTag(classOf[Span])
}
