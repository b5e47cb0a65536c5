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

/** The DOM (D5, `sgml2pl.c — term build` [V]): each open element's
  * children are collected until it closes. */
final class DomSink extends ContentSink {
  private val elems = new mutable.ArrayBuffer[Node.Elem](16) // open, children unset
  private val kids = mutable.ArrayBuffer(new mutable.ArrayBuffer[Node](16)) // (0): document

  def open(name: String, attrs: List[Attr], off: Int): Unit = {
    elems += Node.Elem(name, attrs, TreeBuilder.NoChildren, off)
    kids += new mutable.ArrayBuffer[Node](4)
  }
  def close(): Unit = {
    val e = elems.remove(elems.size - 1)
    val ch = kids.remove(kids.size - 1)
    add(if (ch.isEmpty) e else e.copy(children = DomSink.seq(ch)))
  }
  def text(s: String, raw: Boolean, off: Int): Unit = add(Node.Text(s, raw, off))
  def pi(s: String, off: Int): Unit = add(Node.Pi(s, off))
  def entity(name: String, off: Int): Unit = add(Node.EntityRef(name, off))
  def media(ref: String, off: Int): Unit = add(Node.Media(ref, off))
  def reset(): Unit = { elems.clear(); kids.dropRightInPlace(kids.size - 1); kids(0).clear() }

  /** The document content committed so far. */
  def content: IndexedSeq[Node] = DomSink.seq(kids(0))

  private def add(n: Node): Unit = kids(kids.size - 1) += n
}

object DomSink {
  /** Hoisted ClassTag: `toArray` runs once per closed element, and the
    * implicit `ClassTag[Node]` at the call site costs a ClassValue map
    * probe per call (jstack-measured ~5% of kernel CPU). */
  private val NodeTag: scala.reflect.ClassTag[Node] = scala.reflect.ClassTag(classOf[Node])

  private def seq(b: mutable.ArrayBuffer[Node]): IndexedSeq[Node] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(b.toArray(NodeTag))
}
