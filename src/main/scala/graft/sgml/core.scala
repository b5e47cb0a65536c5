package graft.sgml

/** Core ADTs for the SGML/XML/HTML extraction engine.
  *
  * Re-expresses the data model of the reference (CapelliC/packages-sgml,
  * a mirror of SWI-Prolog packages/sgml: `parser.c` state machine, `dtd.h`
  * structures, `sgml2pl.c` event callbacks — SURVEY.md §1/§2 [V]) as
  * immutable Scala values consumed by a push tokenizer + tree builder.
  * Everything here is Spark-free; the Spark surface lives in
  * `graft.SgmlExtract`.
  */

/** Parser dialect — mirrors the reference's dialect enum (`dtd.h — DL_*`,
  * selected via `set_sgml_parser(P, dialect(D))` [V]).
  *
  * @param foldCase    SGML/HTML fold element+attribute names to lowercase;
  *                    XML dialects preserve case.
  * @param xmlSyntax   XML lexical rules: `<br/>` self-closing, PIs end with
  *                    `?>`, strict entity termination.
  * @param namespaces  process `xmlns[:p]` attributes, qualify names.
  * @param htmlEntities the HTML named character-entity table is in scope
  *                    (reference: `charent.c` [V]).
  * @param htmlDtd     auto-load the bundled pragmatic HTML DTD (reference
  *                    auto-loads `DTD/HTML4.dtd` for html dialects [V]).
  */
sealed abstract class Dialect(
    val name: String,
    val foldCase: Boolean,
    val xmlSyntax: Boolean,
    val namespaces: Boolean,
    val htmlEntities: Boolean,
    val htmlDtd: Boolean)

object Dialect {
  case object Sgml   extends Dialect("sgml",   true,  false, false, false, false)
  case object Html4  extends Dialect("html4",  true,  false, false, true,  true)
  case object Html5  extends Dialect("html5",  true,  false, false, true,  true)
  case object Xml    extends Dialect("xml",    false, true,  false, false, false)
  case object Xmlns  extends Dialect("xmlns",  false, true,  true,  false, false)
  case object Xhtml  extends Dialect("xhtml",  false, true,  true,  true,  false)
  case object Xhtml5 extends Dialect("xhtml5", false, true,  true,  true,  false)

  val all: Seq[Dialect] = Seq(Sgml, Html4, Html5, Xml, Xmlns, Xhtml, Xhtml5)
  /** Case-insensitive; `html` is an alias of `html4`. */
  def parse(s: String): Dialect = s.toLowerCase match {
    case "html" => Html4
    case n => all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown dialect '$s' (expected one of ${all.map(_.name).mkString(", ")}, html)"))
  }
}

/** Whitespace policy (`parser.c — option space(...)` [V]; SURVEY.md D6).
  * - Preserve: keep every character.
  * - SgmlMode: drop one newline directly after a start tag and one directly
  *   before an end tag (the SGML RE/RS rule); the reference default.
  * - Default: SgmlMode semantics, but `xml:space="preserve"` subtrees switch
  *   to Preserve.
  * - Remove: trim leading/trailing whitespace of each text node and collapse
  *   internal runs to a single space; empty results are dropped.
  * - Strict: Preserve + validation errors for character data where the
  *   content model forbids it (errors only; output equals Preserve).
  */
sealed trait SpaceMode
object SpaceMode {
  case object Preserve extends SpaceMode
  case object SgmlMode extends SpaceMode
  case object Default  extends SpaceMode
  case object Remove   extends SpaceMode
  case object Strict   extends SpaceMode
  /** Case-insensitive. */
  def parse(s: String): SpaceMode = s.toLowerCase match {
    case "preserve" => Preserve
    case "sgml"     => SgmlMode
    case "default"  => Default
    case "remove"   => Remove
    case "strict"   => Strict
    case _ => throw new IllegalArgumentException(s"unknown space mode '$s' " +
      "(expected one of preserve, sgml, default, remove, strict)")
  }
}

/** NUMBER attribute conversion (`sgml2pl.c — number(integer)` option [V]). */
sealed trait NumberMode
object NumberMode {
  case object Token   extends NumberMode
  case object Integer extends NumberMode
}

/** Parser options — the subset of `set_sgml_parser/2` options that affect
  * span output or the tree (SURVEY.md §2.2/§2.3 [V]). */
final case class ParserConfig(
    dialect: Dialect = Dialect.Xml,
    space: SpaceMode = SpaceMode.SgmlMode,
    number: NumberMode = NumberMode.Token,
    maxErrors: Int = 100,
    /** Giant-doc cap: docs longer than this yield an error row with no spans
      * (scale guard — SURVEY.md §7 risk 5). */
    maxDocChars: Int = 64 << 20,
    /** qualify_attributes(true): apply default namespace to attributes too. */
    qualifyAttributes: Boolean = false,
    /** Emit DFA validation errors (not-allowed-here / incomplete-content). */
    validate: Boolean = false,
    /** Main-content extraction: strip boilerplate subtrees before span
      * emission (OFF for reference conformance — Boilerplate.scala). */
    boilerplate: Boolean = false,
    /** PUBLIC/SYSTEM/DOCTYPE external-id resolution (OASIS TR9401
      * catalog, parsed driver-side — Catalog.scala). Defaults to the
      * bundled HTML4 mapping. */
    catalog: Catalog.Resolver = Catalog.bundled)

/** Typed attribute value (`parser.c — attribute value conversion`;
  * `sgml2pl.c — typed value → Prolog term` [V]). */
sealed trait AttrValue { def render: String }
object AttrValue {
  final case class Str(s: String) extends AttrValue { def render = s }
  final case class Num(n: Long) extends AttrValue { def render = n.toString }
  final case class Toks(ts: List[String]) extends AttrValue { def render = ts.mkString(" ") }
}

final case class Attr(name: String, value: AttrValue)

/** Raw (untyped) attribute as lexed by the tokenizer. `value = None` for a
  * minimized SGML attribute (`<option selected>`). */
final case class RawAttr(name: String, value: Option[String], off: Int)

/** Parse events — the SAX-like primitive rows of the system
  * (`sgml2pl.c — on_begin/on_end/on_cdata/on_entity/on_pi/on_decl` [V]). */
sealed trait Event { def off: Int }
object Event {
  final case class Open(name: String, attrs: List[RawAttr], selfClosing: Boolean, off: Int) extends Event
  final case class Close(name: String, off: Int) extends Event
  /** raw=true: CDATA section / declared-CDATA element content. */
  final case class Text(s: String, raw: Boolean, off: Int) extends Event
  final case class Pi(s: String, off: Int) extends Event
  final case class Decl(s: String, off: Int) extends Event
  /** Undeclared entity reference kept as a node (`&unknown;`). */
  final case class EntityRef(name: String, off: Int) extends Event
  /** Interleaved-input media passthrough (BASELINE input_hint). */
  final case class Media(ref: String, off: Int) extends Event
  final case class Err(code: String, off: Int, detail: String) extends Event
}

/** Recoverable parse error (`error.c — gripe` [V]). Never thrown across
  * rows; accumulated per doc. */
final case class ParseErr(code: String, off: Int, detail: String)

/** Task-local DOM (SURVEY.md §1.2: recursive trees never become a Catalyst
  * type; they live inside one task and are flattened to spans). */
sealed trait Node { def off: Int }
object Node {
  final case class Elem(
      name: String,
      attrs: List[Attr],
      children: IndexedSeq[Node],
      off: Int) extends Node
  final case class Text(s: String, raw: Boolean, off: Int) extends Node
  final case class Pi(s: String, off: Int) extends Node
  final case class EntityRef(name: String, off: Int) extends Node
  final case class Media(ref: String, off: Int) extends Node
}

/** Flattened output span — matches the contract schema exactly
  * (BASELINE.json input_hint / FIXTURES.md):
  * kind ∈ {text, cdata, pi, entity, media}. */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** Result of parsing one document. */
final case class ParseResult(content: IndexedSeq[Node], errors: Vector[ParseErr]) {
  def spans(cfg: ParserConfig): IndexedSeq[Span] =
    SpanEmitter.emit(
      if (cfg.boilerplate) Boilerplate.strip(content) else content, cfg)
}
