package graft.sgml

import scala.collection.mutable

/** Where [[TreeBuilder]] commits the repaired content, in document order:
  * the reference's event mode that builds no term
  * (`sgml_parse(…, call(begin|end|cdata, …))`, SURVEY.md §E2). `open` and
  * `close` bracket an element (an EMPTY or self-closing one closes at
  * once); text arrives merged, after the space rules. Two sinks:
  * [[DomSink]] builds the tree (canonical XML, table cells, xpath, Pwp,
  * `SgmlParser.parse`), [[SpanSink]] keeps only the spans
  * (`extract_spans`); [[SpanEmitter.walk]] drives a sink over a tree. */
abstract class ContentSink {
  def open(name: String, attrs: List[Attr], off: Int): Unit
  def close(): Unit
  def text(s: String, raw: Boolean, off: Int): Unit
  def pi(s: String, off: Int): Unit
  def entity(name: String, off: Int): Unit
  def media(ref: String, off: Int): Unit
  /** Forget the document (cross-document reuse). */
  def reset(): Unit
}

/** The DOM (D5, `sgml2pl.c — term build` [V]): an open element keeps
  * its name, attributes and offset beside its children until it closes;
  * its `Node.Elem` is built then, once. */
final class DomSink extends ContentSink {
  private val stack = mutable.ArrayBuffer(new DomSink.Open(null, Nil, 0)) // (0): document

  def open(name: String, attrs: List[Attr], off: Int): Unit = stack += new DomSink.Open(name, attrs, off)
  def close(): Unit = {
    val e = stack.remove(stack.size - 1)
    add(Node.Elem(e.name, e.attrs, if (e.isEmpty) TreeBuilder.NoChildren else DomSink.seq(e), e.off))
  }
  def text(s: String, raw: Boolean, off: Int): Unit = add(Node.Text(s, raw, off))
  def pi(s: String, off: Int): Unit = add(Node.Pi(s, off))
  def entity(name: String, off: Int): Unit = add(Node.EntityRef(name, off))
  def media(ref: String, off: Int): Unit = add(Node.Media(ref, off))
  def reset(): Unit = { stack.dropRightInPlace(stack.size - 1); stack(0).clear() }

  /** The document content committed so far. */
  def content: IndexedSeq[Node] = DomSink.seq(stack(0))

  private def add(n: Node): Unit = stack(stack.size - 1) += n
}

object DomSink {
  /** An open element: its name, attributes and offset, and its children
    * so far. */
  private final class Open(val name: String, val attrs: List[Attr], val off: Int)
      extends mutable.ArrayBuffer[Node](4)

  /** Hoisted ClassTag: `toArray` runs once per closed element, and the
    * implicit `ClassTag[Node]` at the call site costs a ClassValue map
    * probe per call (jstack-measured ~5% of kernel CPU). */
  private val NodeTag: scala.reflect.ClassTag[Node] = scala.reflect.ClassTag(classOf[Node])

  private def seq(b: mutable.ArrayBuffer[Node]): IndexedSeq[Node] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(b.toArray(NodeTag))
}
