package graft.sgml

import scala.util.control.NonFatal

/** Facade: one parser instance per document.
  *
  * Mirrors the reference lifecycle (`new_sgml_parser` → `set_sgml_parser`
  * → repeated `sgml_parse(P, [parse(content), …])` — `sgml2pl.c —
  * pl_new_sgml_parser / pl_sgml_parse` [V]; SURVEY.md §3 E1/E2): the
  * push API makes chunked feeds and interleaved text+media spans
  * first-class. Pure Scala. Spark-layer code reuses parsers only
  * through [[ParseDriver]].
  */
final class SgmlParser(cfg: ParserConfig) {

  private val initialDtd = if (cfg.dialect.htmlDtd) HtmlDtd.dtd else Dtd.empty
  private val holder = new DtdHolder(initialDtd)
  private val log = new ErrorLog(cfg.maxErrors)
  private val builder = new TreeBuilder(cfg, holder, log)
  private val tokenizer = new Tokenizer(cfg, holder, builder.accept, log)
  private var chars = 0L

  /** Reset for cross-document reuse inside one task (per-doc isolation:
    * a document's internal DTD subset never leaks to the next doc). */
  def reset(): this.type = {
    holder.dtd = initialDtd
    log.reset(); builder.reset(); tokenizer.reset()
    chars = 0
    this
  }

  /** Feed a chunk of markup text starting at char offset `baseOffset`.
    * Repeated calls continue the same parse (incremental API). */
  def feed(text: CharSequence, baseOffset: Int = -1): this.type = {
    if (baseOffset >= 0) tokenizer.setOffset(baseOffset)
    chars += text.length()
    if (chars > cfg.maxDocChars) {
      log.add("doc-too-large", baseOffset.max(0), s"> ${cfg.maxDocChars} chars")
      return this
    }
    tokenizer.feed(text)
    this
  }

  /** Interleaved media span passthrough at its input offset. */
  def media(ref: String, offset: Int): this.type = {
    tokenizer.media(ref, offset)
    this
  }

  def finish(): ParseResult = {
    tokenizer.finish()
    ParseResult(builder.finish(), log.result())
  }
}

object SgmlParser {

  /** Parse a whole document string. */
  def parse(text: String, cfg: ParserConfig): ParseResult =
    new SgmlParser(cfg).feed(text, 0).finish()

  /** Parse raw bytes (encoding sniff per S2). */
  def parseBytes(bytes: Array[Byte], cfg: ParserConfig): ParseResult =
    parse(CharDecoder.decode(bytes, cfg.dialect).text, cfg)

  /** Parse one document straight to its span sequence. */
  def spans(text: String, cfg: ParserConfig): (IndexedSeq[Span], Vector[ParseErr]) = {
    val r = parse(text, cfg)
    (r.spans(cfg), r.errors)
  }
}

/** The one parse lifecycle of the Spark layer: reset → feed → finish, with
  * ONE parser reused across the documents of a thread (per-doc parser
  * construction dominated small-doc throughput) and one failure policy.
  *
  * A non-fatal throw anywhere in the feed, the finish or the projection
  * becomes `Left(detail)` — the exception class, then its message — and
  * the parser, whose state is now unknown, is dropped: the next document
  * gets a fresh one. Fatal errors (`VirtualMachineError`,
  * `InterruptedException`, …) propagate and drop the parser too.
  *
  * Not thread-safe: one driver per thread (or per partition).
  */
final class ParseDriver(cfg: ParserConfig) {

  private var idle: SgmlParser = null

  /** Parse one document: `feed` pushes its spans into the reset parser,
    * `use` projects the finished result. */
  def apply[A](feed: SgmlParser => Unit)(use: ParseResult => A): Either[String, A] =
    try {
      val p = if (idle == null) new SgmlParser(cfg) else idle
      idle = null // checked out: only a completed parse returns it
      p.reset()
      feed(p)
      val out = use(p.finish())
      idle = p
      Right(out)
    } catch {
      case NonFatal(e) =>
        Left(s"${e.getClass.getName}: ${e.getMessage}".take(200))
    }
}
