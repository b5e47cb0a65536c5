package graft.sgml

import scala.collection.mutable

/** DOM → ordered content spans (pre-order flatten).
  *
  * The output side of the contract (BASELINE.json input_hint /
  * FIXTURES.md): `kind ∈ {text, cdata, pi, entity, media}`, exact
  * sequence equality per doc. Reference analogue: the term-builder's
  * content items (`sgml2pl.c — term construction` [V]) flattened in
  * document order, with media placeholders (F8/F14):
  * `img|audio|video|source|embed|object|iframe` emit a `media` span with
  * `media_ref` from `src` (or `data` for object).
  */
object SpanEmitter {

  /** Elements that yield a media span, and the attribute carrying the ref. */
  val mediaElements: Map[String, String] = Map(
    "img" -> "src", "audio" -> "src", "video" -> "src", "source" -> "src",
    "embed" -> "src", "iframe" -> "src", "object" -> "data")

  /** Pre-order over an explicit stack of sibling iterators, so a
    * deeply nested document costs heap, never thread stack. */
  def emit(content: IndexedSeq[Node], cfg: ParserConfig): IndexedSeq[Span] = {
    val out = new mutable.ArrayBuffer[Span](16)
    val stack = mutable.ArrayBuffer[Iterator[Node]](content.iterator)
    while (stack.nonEmpty) {
      val it = stack.last
      if (!it.hasNext) stack.dropRightInPlace(1)
      else it.next() match {
        case Node.Text(s, raw, off) =>
          out += Span(if (raw) "cdata" else "text", s, null, off)
        case Node.Pi(s, off) =>
          out += Span("pi", s, null, off)
        case Node.EntityRef(name, off) =>
          out += Span("entity", name, null, off)
        case Node.Media(ref, off) =>
          out += Span("media", "", ref, off)
        case e: Node.Elem =>
          val local = localOf(e.name)
          mediaElements.get(local).foreach { attrName =>
            val ref = e.attrs.collectFirst {
              case Attr(n, v) if localOf(n) == attrName => v.render
            }
            out += Span("media", "", ref.orNull, e.off)
          }
          if (e.children.nonEmpty) stack += e.children.iterator
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray(SpanTag))
  }

  /** Hoisted ClassTag — same ClassValue-probe saving as
    * TreeBuilder.NodeTag (once per document here). */
  private val SpanTag: scala.reflect.ClassTag[Span] =
    scala.reflect.ClassTag(classOf[Span])

  private def localOf(name: String): String = {
    val j = name.indexOf('}')
    if (name.startsWith("{") && j > 0) name.substring(j + 1) else name
  }
}
