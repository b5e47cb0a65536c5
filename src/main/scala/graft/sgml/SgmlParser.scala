package graft.sgml

/** Facade: one parser instance per document, committing its content to
  * `sink` — a tree ([[DomSink]]) unless a caller wants only the spans.
  *
  * Mirrors the reference lifecycle (`new_sgml_parser` → `set_sgml_parser`
  * → repeated `sgml_parse(P, [parse(content), …])` — `sgml2pl.c —
  * pl_new_sgml_parser / pl_sgml_parse` [V]; SURVEY.md §3 E1/E2): the
  * push API makes chunked feeds and interleaved text+media spans
  * first-class. Pure Scala. Spark-layer code reuses parsers only
  * through the Catalyst kernel (`graft.functions.ExtractSpansExpr`).
  */
final class SgmlParser(cfg: ParserConfig, sink: ContentSink = new DomSink) {

  private val initialDtd = if (cfg.dialect.htmlDtd) HtmlDtd.dtd else Dtd.empty
  private val holder = new DtdHolder(initialDtd)
  private val log = new ErrorLog(cfg.maxErrors)
  private val builder = new TreeBuilder(cfg, holder, log, sink)
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

  /** End the document: its tree (empty unless the sink is a DomSink) and
    * its errors. */
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

  /** Parse one document straight to its span sequence (no tree). */
  def spans(text: String, cfg: ParserConfig): (IndexedSeq[Span], Vector[ParseErr]) = {
    val sink = SpanSink.spans(cfg)
    val r = new SgmlParser(cfg, sink).feed(text, 0).finish()
    (sink.result, r.errors)
  }
}
