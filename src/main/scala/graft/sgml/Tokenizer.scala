package graft.sgml

/** Push-based, char-at-a-time SGML/XML/HTML tokenizer.
  *
  * Re-expresses the reference's single-pass automaton (`parser.c —
  * dtd_state enum S_PCDATA/S_CDATA/S_RCDATA/S_MSCDATA/S_DECL/S_STRING/
  * S_CMT/S_PI/S_ENT…, dispatcher putchar_dtd_parser` [V]) as a pure-Scala
  * state machine. Incremental by construction (repeated `feed` calls keep
  * state across chunks, mirroring `sgml_parse`'s `parse(content)` API
  * [`sgml2pl.c — pl_sgml_parse`, V]) — that is what makes interleaved
  * text+media inputs and chunked feeds work.
  *
  * No regex, no token materialization, one reusable StringBuilder per
  * buffer: allocation-light for the per-row loop of the `extract_spans`
  * Catalyst expression (`graft.functions.ExtractSpansExpr`; SURVEY.md §4).
  */
final class Tokenizer(cfg: ParserConfig, holder: DtdHolder, sink: Event => Unit, log: ErrorLog) {

  import Tokenizer._

  private val fold = cfg.dialect.foldCase
  private val xml = cfg.dialect.xmlSyntax
  // SGML SHORTTAG NET: `<tag/content/` — `/` in a start tag closes the
  // tag and enables a bare `/` in content as the end tag (`parser.c —
  // NET-enabling start tags` [V]). SGML dialect only; XML/HTML keep
  // their self-close lexing.
  private val sgmlNet = cfg.dialect == Dialect.Sgml

  private var state = S_TEXT
  private var pos = 0          // global char offset (per contract: int32)
  private var frozen = false   // true while injecting entity replacement text

  // text accumulation (T1)
  private val textBuf = new java.lang.StringBuilder(256)
  private var textStart = 0

  // tag lexing (T2/T3/T4)
  private val nameBuf = new java.lang.StringBuilder(32)
  private var tagStart = 0
  private var attrs: List[RawAttr] = Nil
  private val attrName = new java.lang.StringBuilder(32)
  private val attrVal = new java.lang.StringBuilder(64)
  private var attrOff = 0
  private var quote: Char = 0

  // declarations (T12), incl. DOCTYPE internal subset
  private val declBuf = new java.lang.StringBuilder(64)
  private var declStart = 0
  private var declQuote: Char = 0
  private var declBracket = 0

  // PI
  private val piBuf = new java.lang.StringBuilder(64)
  private var piStart = 0

  // marked sections (T9/T10)
  private val msKw = new java.lang.StringBuilder(16)
  private var msDepth = 0
  private var netDepth = 0     // open NET-enabled elements (SGML only)
  private var pendingCr = false // last source char was CR (§2.11 CRLF fold)
  private var msIgnoreDepth = 0

  // raw content: CDATA sections + declared CDATA/RCDATA elements (T9/T11)
  private val rawBuf = new java.lang.StringBuilder(256)
  private var rawStart = 0
  private var rawIsCdata = true
  private var rawEndTag: String = ""
  private val etBuf = new java.lang.StringBuilder(16)
  private var rawLtPos = 0

  // entity refs (T6/T7)
  private val entBuf = new java.lang.StringBuilder(16)
  private var entStart = 0
  private var entReturn = S_TEXT
  private var injectDepth = 0
  // chars of entity replacement text injected into this doc; past
  // cfg.maxDocChars it is pinned at maxDocChars + 1 and injection stops
  private var injected = 0L

  // SHORTREF recognition (T14): runs over the buffered PCDATA run when it
  // ends (markup / media / EOF) — chunk-safe by construction, since text
  // accumulates in textBuf across feeds and a delimiter never spans
  // markup. srBusy guards against recursion while a mapped entity's
  // replacement text is re-tokenized.
  private var srBusy = false
  private var srLineStart = true // document start counts as a line start

  /** Reset the running char offset (interleaved-input base per span). */
  def setOffset(off: Int): Unit = pos = off

  /** Full reset for cross-document reuse (one tokenizer per partition —
    * kills the per-doc fixed allocation that dominates small docs). */
  def reset(): Unit = {
    state = S_TEXT; pos = 0; frozen = false; netDepth = 0
    textBuf.setLength(0); textStart = 0
    nameBuf.setLength(0); tagStart = 0; attrs = Nil
    attrName.setLength(0); attrVal.setLength(0); attrOff = 0; quote = 0
    declBuf.setLength(0); declStart = 0; declQuote = 0; declBracket = 0
    piBuf.setLength(0); piStart = 0
    msKw.setLength(0); msDepth = 0; msIgnoreDepth = 0
    rawBuf.setLength(0); rawStart = 0; rawIsCdata = true; rawEndTag = ""
    etBuf.setLength(0); rawLtPos = 0
    entBuf.setLength(0); entStart = 0; entReturn = S_TEXT; injectDepth = 0
    injected = 0L
    srBusy = false; srLineStart = true; pendingCr = false
  }

  // Bulk fast path for the two states that dominate real documents:
  // plain text (S_TEXT) and raw CDATA-element content (S_RAW, e.g.
  // <script>). Scan the run up to the next state-changing char and
  // append it in ONE StringBuilder call instead of per-char dispatch
  // (the reference's per-char putchar loop is the model for the slow
  // path; the bulk path is an observationally identical shortcut).
  // Rare-state flags (marked sections, NET) are hoisted out of the scan
  // loop — they can only change via push(), which ends the scan.

  def feed(s: CharSequence): Unit = {
    var i = 0
    val n = s.length
    while (i < n) {
      if (state == S_TEXT && !log.overflowed && !frozen && !pendingCr) {
        val msActive = msDepth > 0
        val netActive = netDepth > 0
        var j = i
        var break = false
        while (j < n && !break) {
          val cc = s.charAt(j)
          if (cc == '<' || cc == '&' || cc == '\r' ||
              (msActive && cc == ']') || (netActive && cc == '/')) break = true
          else j += 1
        }
        if (j > i) {
          if (textBuf.length() == 0) textStart = pos
          textBuf.append(s, i, j)
          pos += j - i
          i = j
        }
        if (i < n) { push(s.charAt(i)); i += 1 }
      } else if (state == S_RAW && !log.overflowed && !frozen && !pendingCr) {
        val rcdata = !rawIsCdata
        var j = i
        var break = false
        while (j < n && !break) {
          val cc = s.charAt(j)
          // RCDATA ('title') also stops at '&' (entity expansion)
          if (cc == '<' || cc == '\r' || (rcdata && cc == '&')) break = true
          else j += 1
        }
        if (j > i) {
          rawBuf.append(s, i, j)
          pos += j - i
          i = j
        }
        if (i < n) { push(s.charAt(i)); i += 1 }
      } else {
        push(s.charAt(i)); i += 1
      }
    }
  }

  /** Interleaved media passthrough: flush pending text, emit in order. */
  def media(ref: String, off: Int): Unit = {
    if (state == S_TEXT) { srProcess(); flushText() }
    sink(Event.Media(ref, off))
  }

  /** End of document: flush buffers, report truncation errors. */
  def finish(): Unit = {
    if (state == S_ENT || state == S_ENT_NUM) {
      // the end of the document ends a reference as a non-name character
      // would, then the context it was read in ends as below
      log.add("eof-in-entity", pos, entBuf.toString)
      endReference()
    }
    var inSection = msDepth > 0 // an INCLUDE, TEMP or RCDATA section is open
    state match {
      case S_TEXT => srProcess(); flushText()
      case S_RAW | S_RAW_LT | S_RAW_ET | S_RAW_ET_SP =>
        log.add("eof-in-cdata-element", pos, rawEndTag)
        if (rawBuf.length > 0) flushRaw()
      case S_MS_CDATA | S_MS_CB1 | S_MS_CB2 =>
        if (rawIsCdata) log.add("eof-in-cdata-section", pos, "")
        if (rawBuf.length > 0) flushRaw()
      // comments, PIs, ignored sections and a bare `<` do not flush the
      // text before them, so a document cut inside one flushes it here
      case S_COM | S_COM_D | S_COM_DD | S_COM_D1 => log.add("eof-in-comment", pos, ""); flushText()
      case S_PI | S_PI_Q => log.add("eof-in-pi", pos, ""); flushText()
      case S_MS_KW | S_MS_IGNORE | S_MS_IG_LT | S_MS_IG_LTB | S_MS_IG_B1 | S_MS_IG_B2 =>
        inSection = true; flushText()
      // a bare `<` or `<!`: no tag name yet, nothing to open
      case S_LT | S_BANG => log.add("eof-in-tag", pos, ""); flushText()
      case S_DECL => log.add("eof-in-declaration", pos, "")
      case S_TEXT_B1 | S_TEXT_B2 => flushText()
      case _ =>
        log.add("eof-in-tag", pos, nameBuf.toString)
        if (nameBuf.length > 0 && state != S_ETAG && state != S_ETAGNAME) finishOpen(false)
    }
    if (inSection) log.add("eof-in-marked-section", pos, "")
    state = S_TEXT
  }

  // ---------------------------------------------------------------- core

  private def push(c: Char): Unit = {
    if (log.overflowed) { if (!frozen) pos += 1; return }
    // Line-ending normalization (XML 1.0 §2.11; the SGML RE and HTML5
    // analogues agree): source CRLF / bare CR reach the state machine as a
    // single LF, while `pos` keeps counting SOURCE chars so span offsets
    // stay source-anchored. Entity replacement text bypasses push()
    // (inject() calls step() directly), so `&#13;` still yields a literal
    // CR — §2.11 normalizes the input, not references.
    if (pendingCr) {
      pendingCr = false
      if (c == '\n') { if (!frozen) pos += 1; return } // LF of a CRLF pair
    }
    if (c == '\r') { pendingCr = true; step('\n') }
    else step(c)
    if (!frozen) pos += 1
  }

  /** Re-tokenize DTD entity replacement text in place (SGML replacement-
    * text semantics; `parser.c — process_entity` [V]). Offsets freeze. */
  private def inject(s: String): Unit = {
    if (injectDepth >= 8) { log.add("entity-loop", pos, s.take(20)); return }
    if (injected + s.length > cfg.maxDocChars) {
      if (injected <= cfg.maxDocChars)
        log.add("entity-budget", pos, s"> ${cfg.maxDocChars} injected chars")
      injected = cfg.maxDocChars + 1L
      return
    }
    injected += s.length
    injectDepth += 1
    val wasFrozen = frozen
    frozen = true
    var i = 0
    while (i < s.length) { step(s.charAt(i)); i += 1 }
    frozen = wasFrozen
    injectDepth -= 1
  }

  private def step(c: Char): Unit = (state: @annotation.switch) match {
    case S_TEXT =>
      if (c == '<') { srProcess(); state = S_LT; tagStart = pos }
      else if (c == '&') startEntity(S_TEXT)
      else if (c == '/' && netDepth > 0) { // NET end tag ≡ </> (empty close)
        srProcess(); flushText(); sink(Event.Close("", pos)); netDepth -= 1
      }
      else if (c == ']' && msDepth > 0) state = S_TEXT_B1
      else appendText(c, pos)

    case S_TEXT_B1 =>
      if (c == ']') state = S_TEXT_B2
      else { appendText(']', pos); state = S_TEXT; step(c) }

    case S_TEXT_B2 =>
      if (c == '>') { msDepth -= 1; state = S_TEXT }
      else if (c == ']') appendText(']', pos) // sliding ]]]>
      else { appendText("]]", pos); state = S_TEXT; step(c) }

    case S_LT =>
      if (c == '/') { nameBuf.setLength(0); state = S_ETAGNAME }
      else if (c == '!') state = S_BANG
      else if (c == '?') { piBuf.setLength(0); piStart = pos + 1; state = S_PI }
      else if (isNameStart(c)) {
        flushText()
        nameBuf.setLength(0); nameBuf.append(c)
        attrs = Nil
        state = S_STAGNAME
      } else {
        if (xml) log.add("unexpected-lt", tagStart, c.toString)
        appendText('<', tagStart)
        state = S_TEXT
        step(c)
      }

    // ---- start tag -----------------------------------------------------
    case S_STAGNAME =>
      if (isNameChar(c)) nameBuf.append(c)
      else if (c == '>') finishOpen(false)
      else if (c == '/') netOrSlash()
      else if (c.isWhitespace) state = S_STAG
      else if (c == '<') { // SGML unclosed start tag: <a<b>
        log.add("unclosed-tag", pos, nameBuf.toString)
        finishOpen(false); step(c)
      } else { log.add("bad-name-char", pos, c.toString); state = S_STAG }

    case S_STAG =>
      if (c.isWhitespace) ()
      else if (c == '>') finishOpen(false)
      else if (c == '/') netOrSlash()
      else if (isNameStart(c)) {
        attrName.setLength(0); attrName.append(c); attrOff = pos
        state = S_ANAME
      } else if (c == '<') {
        log.add("unclosed-tag", pos, nameBuf.toString)
        finishOpen(false); step(c)
      } else log.add("bad-char-in-tag", pos, c.toString)

    case S_ANAME =>
      if (isNameChar(c)) attrName.append(c)
      else if (c == '=') { attrVal.setLength(0); state = S_AVALPRE }
      else if (c.isWhitespace) state = S_ANAME_POST
      else if (c == '>') { pushBoolAttr(); finishOpen(false) }
      else if (c == '/') { pushBoolAttr(); netOrSlash() }
      else { log.add("bad-name-char", pos, c.toString) }

    case S_ANAME_POST =>
      if (c.isWhitespace) ()
      else if (c == '=') { attrVal.setLength(0); state = S_AVALPRE }
      else if (c == '>') { pushBoolAttr(); finishOpen(false) }
      else if (c == '/') { pushBoolAttr(); netOrSlash() }
      else if (isNameStart(c)) {
        pushBoolAttr()
        attrName.setLength(0); attrName.append(c); attrOff = pos
        state = S_ANAME
      } else log.add("bad-char-in-tag", pos, c.toString)

    case S_AVALPRE =>
      if (c.isWhitespace) ()
      else if (c == '"' || c == '\'') { quote = c; state = S_AVALQ }
      else if (c == '>') {
        log.add("empty-attr-value", pos, attrName.toString)
        pushAttr(); finishOpen(false)
      } else { state = S_AVALU; step(c) }

    case S_AVALQ =>
      if (c == quote) { pushAttr(); state = S_STAG }
      else if (c == '&') startEntity(S_AVALQ)
      else if (xml && (c == '\n' || c == '\t' || c == '\r')) attrVal.append(' ')
      else {
        if (xml && c == '<') log.add("lt-in-attr-value", pos, attrName.toString)
        attrVal.append(c)
      }

    case S_AVALU =>
      if (c.isWhitespace) { pushAttr(); state = S_STAG }
      else if (c == '>') { pushAttr(); finishOpen(false) }
      else if (c == '&') startEntity(S_AVALU)
      else attrVal.append(c)

    case S_SLASH =>
      if (c == '>') finishOpen(true)
      else if (c.isWhitespace) () // tolerate `<br/ >`
      else {
        log.add("bad-self-close", pos, nameBuf.toString)
        state = S_STAG; step(c)
      }

    // ---- end tag -------------------------------------------------------
    case S_ETAGNAME =>
      if (isNameChar(c)) nameBuf.append(c)
      else if (c == '>') finishClose()
      else if (c.isWhitespace && nameBuf.length > 0) state = S_ETAG
      else { log.add("bad-end-tag", pos, c.toString); state = S_ETAG }

    case S_ETAG =>
      if (c == '>') finishClose()
      else () // skip to '>'

    // ---- <! ... --------------------------------------------------------
    case S_BANG =>
      if (c == '-') state = S_COM_D1
      else if (c == '[') { msKw.setLength(0); state = S_MS_KW }
      else if (c == '>') state = S_TEXT // empty <!>
      else startDecl("", c)

    case S_COM_D1 =>
      // NB: comments are invisible markup — the text buffer is NOT flushed,
      // so `a<!-- c -->b` stays one contiguous text node.
      if (c == '-') state = S_COM
      else startDecl("-", c) // bogus comment `<!-x`: declaration text

    case S_COM =>
      if (c == '-') state = S_COM_D

    case S_COM_D =>
      state = if (c == '-') S_COM_DD else S_COM

    case S_COM_DD =>
      if (c == '>') state = S_TEXT
      else if (c == '-') () // ---> tails
      else {
        if (xml) log.add("double-dash-in-comment", pos, "")
        state = S_COM
      }

    case S_DECL =>
      if (declQuote != 0) {
        declBuf.append(c)
        if (c == declQuote) declQuote = 0
      }
      else if (c == '"' || c == '\'') { declQuote = c; declBuf.append(c) }
      else if (c == '[') { declBracket += 1; declBuf.append(c) }
      else if (c == ']') { declBracket -= 1; declBuf.append(c) }
      else if (c == '>' && declBracket <= 0) {
        sink(Event.Decl(declBuf.toString, declStart))
        state = S_TEXT
      }
      else declBuf.append(c)

    // ---- marked sections <![KW[ ... ]]> ---------------------------------
    case S_MS_KW =>
      if (c == '[') {
        val kw = msKw.toString.trim.toUpperCase
        // XML allows CDATA sections only; the content is handled as in SGML
        if (xml && kw != "CDATA") log.add("marked-section-in-xml", tagStart, kw)
        kw match {
          case "CDATA" | "RCDATA" => // character data up to `]]>`
            flushText()
            rawBuf.setLength(0); rawStart = pos + 1; rawIsCdata = kw == "CDATA"
            if (!rawIsCdata) msDepth += 1
            state = S_MS_CDATA
          case "IGNORE" =>
            msIgnoreDepth = 1; state = S_MS_IGNORE
          case _ => // INCLUDE / TEMP / unknown → include content
            msDepth += 1; state = S_TEXT
        }
      } else msKw.append(c)

    case S_MS_CDATA => // an RCDATA section expands entity references
      if (c == ']') state = S_MS_CB1
      else if (!rawIsCdata && c == '&') startEntity(S_MS_CDATA)
      else rawBuf.append(c)

    case S_MS_CB1 =>
      if (c == ']') state = S_MS_CB2
      else { rawBuf.append(']'); state = S_MS_CDATA; step(c) }

    case S_MS_CB2 =>
      if (c == '>') {
        if (!rawIsCdata) msDepth -= 1
        flushRaw(); state = S_TEXT
      }
      else if (c == ']') rawBuf.append(']') // sliding
      else { rawBuf.append(']'); rawBuf.append(']'); state = S_MS_CDATA; step(c) }

    case S_MS_IGNORE =>
      if (c == ']') state = S_MS_IG_B1
      else if (c == '<') state = S_MS_IG_LT

    case S_MS_IG_LT =>
      if (c == '!') state = S_MS_IG_LTB else { state = S_MS_IGNORE; step(c) }

    case S_MS_IG_LTB =>
      if (c == '[') { msIgnoreDepth += 1; state = S_MS_IGNORE }
      else { state = S_MS_IGNORE; step(c) }

    case S_MS_IG_B1 =>
      if (c == ']') state = S_MS_IG_B2 else { state = S_MS_IGNORE; step(c) }

    case S_MS_IG_B2 =>
      if (c == '>') {
        msIgnoreDepth -= 1
        state = if (msIgnoreDepth <= 0) S_TEXT else S_MS_IGNORE
      }
      else if (c == ']') () // sliding
      else { state = S_MS_IGNORE; step(c) }

    // ---- processing instructions ----------------------------------------
    case S_PI =>
      if (xml && c == '?') state = S_PI_Q
      else if (!xml && c == '>') finishPi()
      else piBuf.append(c)

    case S_PI_Q =>
      if (c == '>') finishPi()
      else { piBuf.append('?'); state = S_PI; step(c) }

    // ---- raw element content (script/style CDATA, title RCDATA) ---------
    case S_RAW =>
      if (c == '<') { state = S_RAW_LT; rawLtPos = pos }
      else if (!rawIsCdata && c == '&') startEntity(S_RAW)
      else rawBuf.append(c)

    case S_RAW_LT =>
      if (c == '/') { etBuf.setLength(0); state = S_RAW_ET }
      else { rawBuf.append('<'); state = S_RAW; step(c) }

    case S_RAW_ET =>
      if (isNameChar(c)) {
        // compare the INCOMING char against the expected end-tag position
        // BEFORE buffering it: on mismatch, etBuf holds only the matched
        // prefix and bailRawEtag re-steps c exactly once (appending first
        // emitted the char twice: once inside etBuf, once via step) —
        // and no per-char String materializes for the prefix check
        val l = etBuf.length
        if (l < rawEndTag.length &&
            Character.toLowerCase(c) == Character.toLowerCase(rawEndTag.charAt(l))) {
          etBuf.append(c) // original case kept for faithful bail-out
          if (etBuf.length == rawEndTag.length) state = S_RAW_ET_SP
        } else bailRawEtag(c)
      } else bailRawEtag(c)

    case S_RAW_ET_SP =>
      if (c == '>') {
        flushRaw()
        sink(Event.Close(rawEndTag, rawLtPos))
        state = S_TEXT
      }
      else if (c.isWhitespace) ()
      else bailRawEtag(c)

    // ---- entity references ----------------------------------------------
    case S_ENT =>
      if (c == '#' && entBuf.length == 0) state = S_ENT_NUM
      else if (entBuf.length == 0 && isNameStart(c)) entBuf.append(c)
      else if (entBuf.length > 0 && isNameChar(c)) entBuf.append(c)
      else if (c == ';' && entBuf.length > 0) resolveNamed(terminated = true)
      else { endReference(); step(c) }

    case S_ENT_NUM =>
      if (isHexOrDigit(c) || ((c == 'x' || c == 'X') && entBuf.length == 0))
        entBuf.append(c)
      else if (c == ';') resolveNumeric(terminated = true)
      else { endReference(); step(c) }

    case other =>
      throw new IllegalStateException(s"tokenizer state $other")
  }

  // ------------------------------------------------------------- helpers

  /** Add to the pending text run; `off` becomes the run's offset when the
    * run is empty. */
  private def appendText(c: Char, off: Int): Unit = {
    if (textBuf.length() == 0) textStart = off
    textBuf.append(c)
  }

  private def appendText(s: String, off: Int): Unit = {
    var i = 0
    while (i < s.length) { appendText(s.charAt(i), off); i += 1 }
  }

  private def flushText(): Unit = {
    if (textBuf.length() > 0) {
      sink(Event.Text(textBuf.toString, raw = false, textStart))
      textBuf.setLength(0)
    }
  }

  // Interned (case-folded) names: one String per distinct name per
  // parser, not per tag — downstream map probes hit reference equality
  // (`util.c — dtd_symbol lookup` [V] plays the same role upstream).
  private val names = new NameTable(fold)

  private def pushBoolAttr(): Unit = {
    // minimized SGML attribute (`<option selected>`): value = name
    val n = names.intern(attrName)
    attrs = RawAttr(n, None, attrOff) :: attrs
  }

  private def pushAttr(): Unit = {
    val n = names.intern(attrName)
    attrs = RawAttr(n, Some(attrVal.toString), attrOff) :: attrs
    attrVal.setLength(0)
  }

  /** `/` inside a start tag: SGML → NET-enabling (tag ends here, a bare
    * `/` in content closes it); XML/HTML → expect a self-close `/>`. */
  private def netOrSlash(): Unit =
    if (sgmlNet) { finishOpen(false); netDepth += 1 }
    else state = S_SLASH

  private def finishOpen(selfClosingMark: Boolean): Unit = {
    val name = names.intern(nameBuf)
    val id = names.id(name, holder.dtd.names)
    val edef = holder.dtd.element(id)
    sink(Event.Open(name, attrs.reverse, selfClosingMark, tagStart, id, edef))
    attrs = Nil
    state = S_TEXT
    if (!selfClosingMark && edef != null &&
        (edef.content == ContentKind.Cdata || edef.content == ContentKind.Rcdata)) {
      rawBuf.setLength(0); rawStart = pos + 1
      rawIsCdata = edef.content == ContentKind.Cdata; rawEndTag = name
      state = S_RAW
    }
  }

  private def finishClose(): Unit = {
    flushText()
    sink(Event.Close(names.intern(nameBuf), tagStart))
    state = S_TEXT
  }

  private def finishPi(): Unit = {
    flushText()
    val s = piBuf.toString
    if (s == "xml" || s.startsWith("xml ") || s.startsWith("xml\t") ||
        s.startsWith("xml\n") || s.startsWith("xml\r"))
      sink(Event.Decl("?" + s, piStart)) // XML declaration, not a PI node
    else
      sink(Event.Pi(s, piStart))
    state = S_TEXT
  }

  /** Emit the raw-content buffer: raw=true for CDATA (sections and
    * script/style), raw=false for RCDATA (ordinary text after entity
    * expansion) — FIXTURES F7. */
  private def flushRaw(): Unit = {
    sink(Event.Text(rawBuf.toString, rawIsCdata, rawStart))
    rawBuf.setLength(0)
  }

  /** `<!` opened a declaration: buffer it from `prefix` and `c` on. */
  private def startDecl(prefix: String, c: Char): Unit = {
    flushText()
    declBuf.setLength(0); declBuf.append(prefix)
    declStart = tagStart; declQuote = 0; declBracket = 0
    state = S_DECL
    step(c)
  }

  private def bailRawEtag(c: Char): Unit = {
    rawBuf.append('<').append('/').append(etBuf)
    state = S_RAW
    step(c)
  }

  private def startEntity(ret: Int): Unit = {
    entBuf.setLength(0)
    entStart = pos
    entReturn = ret
    state = S_ENT
  }

  /** Append expanded entity text into whatever context we came from. */
  private def entAppend(s: String): Unit = entReturn match {
    case S_TEXT  => appendText(s, entStart)
    case S_RAW | S_MS_CDATA => rawBuf.append(s)
    case _       => attrVal.append(s) // S_AVALQ / S_AVALU
  }

  /** A reference ended by a character other than `;`. */
  private def endReference(): Unit =
    if (state == S_ENT_NUM) resolveNumeric(terminated = false)
    else if (entBuf.length > 0) resolveNamed(terminated = false)
    else { entAppend("&"); state = entReturn } // a lone '&'

  private def resolveNamed(terminated: Boolean): Unit = {
    val name = entBuf.toString
    state = entReturn
    if (!terminated && xml) {
      log.add("entity-missing-semicolon", entStart, name)
      entAppend("&" + name)
    } else if (entReturn == S_TEXT) textEntity(name, entStart, terminated)
    else entAppend(holder.dtd.entities.get(name)
      .orElse(Entities.resolve(name, cfg.dialect, holder.dtd))
      .getOrElse {
        log.add("undeclared-entity", entStart, name)
        "&" + name + (if (terminated) ";" else "")
      })
  }

  /** An entity named in PCDATA — by `&name;` or by a SHORTREF delimiter —
    * at offset `off` (`parser.c — process_entity` [V]): a DTD entity's
    * replacement text is re-tokenized (it may contain markup), a built-in
    * expands into the text run, and an undeclared one is an error plus,
    * when the reference was terminated, an entity-reference node. */
  private def textEntity(name: String, off: Int, terminated: Boolean): Unit =
    holder.dtd.entities.get(name) match {
      case Some(repl) => inject(repl)
      case None => Entities.resolve(name, cfg.dialect, holder.dtd) match {
        case Some(t) => appendText(t, off)
        case None =>
          log.add("undeclared-entity", off, name)
          if (terminated) {
            srProcess(); flushText()
            sink(Event.EntityRef(name, off))
          } else appendText("&" + name, off)
      }
    }

  private def resolveNumeric(terminated: Boolean): Unit = {
    val body = entBuf.toString
    state = entReturn
    if (!terminated && xml) {
      log.add("charref-missing-semicolon", entStart, body)
      entAppend("&#" + body)
      return
    }
    Entities.charRef(body) match {
      case Some(t) => entAppend(t)
      case None =>
        log.add("bad-char-ref", entStart, body)
        entAppend("&#" + body + (if (terminated) ";" else ""))
    }
  }

  private def isHexOrDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  // ------------------------------------------------------- SHORTREF (T14)

  /** Scan the buffered PCDATA run for active SHORTREF delimiters; literal
    * segments go back into textBuf in order, matches expand their mapped
    * entity (DTD replacement text is re-tokenized via inject, so a map
    * entry can contribute markup — the classic blank-line→`</p><p>` use).
    * Leaves the tail in textBuf for the caller's flushText. No-op unless
    * a map is active, so the HTML/XML hot path pays one null check. */
  private def srProcess(): Unit = {
    if (srBusy || textBuf.length() == 0) return
    val rules = holder.activeShortrefs
    if (rules == null) {
      // keep the line-start flag current even while no map is active —
      // a map activated mid-document (in-instance USEMAP) must not see
      // a stale &#RS; anchor
      srLineStart = textBuf.charAt(textBuf.length() - 1) == '\n'
      return
    }
    val s = textBuf.toString
    val start = textStart
    textBuf.setLength(0)
    srBusy = true
    var i = 0
    var lit = 0
    while (i < s.length) {
      val ls = if (i == 0) srLineStart else s.charAt(i - 1) == '\n'
      var best = 0
      var ent: String = null
      var r = 0
      while (r < rules.length) {
        val m = Shortref.matchLen(rules(r), s, i, ls)
        if (m > best) { best = m; ent = rules(r).ent }
        r += 1
      }
      if (best > 0) {
        if (i > lit) appendText(s.substring(lit, i), start + lit)
        textEntity(ent, start + i, terminated = true)
        i += best
        lit = i
      } else i += 1
    }
    if (lit < s.length) appendText(s.substring(lit), start + lit)
    srLineStart = s.charAt(s.length - 1) == '\n'
    srBusy = false
  }
}

object Tokenizer {
  // states
  final val S_TEXT = 0
  final val S_TEXT_B1 = 1
  final val S_TEXT_B2 = 2
  final val S_LT = 3
  final val S_STAGNAME = 4
  final val S_STAG = 5
  final val S_ANAME = 6
  final val S_ANAME_POST = 7
  final val S_AVALPRE = 8
  final val S_AVALQ = 9
  final val S_AVALU = 10
  final val S_SLASH = 11
  final val S_ETAGNAME = 12
  final val S_ETAG = 13
  final val S_BANG = 14
  final val S_COM_D1 = 15
  final val S_COM = 16
  final val S_COM_D = 17
  final val S_COM_DD = 18
  final val S_DECL = 19
  final val S_MS_KW = 21
  final val S_MS_CDATA = 22
  final val S_MS_CB1 = 23
  final val S_MS_CB2 = 24
  final val S_MS_IGNORE = 25
  final val S_MS_IG_B1 = 26
  final val S_MS_IG_B2 = 27
  final val S_MS_IG_LT = 28
  final val S_MS_IG_LTB = 29
  final val S_PI = 30
  final val S_PI_Q = 31
  final val S_RAW = 32
  final val S_RAW_LT = 33
  final val S_RAW_ET = 34
  final val S_RAW_ET_SP = 35
  final val S_ENT = 36
  final val S_ENT_NUM = 37

  /** XML name-character classification: exact XML 1.0 tables
    * (XmlChars — the `xml_unicode.c` analogue [V], SURVEY.md T13). */
  def isNameStart(c: Char): Boolean = XmlChars.isNameStart(c)
  def isNameChar(c: Char): Boolean = XmlChars.isNameChar(c)
}

/** Per-doc error accumulator with `max_errors` budget
  * (`error.c — gripe`; `parser.c — ERC_*` [V]). Never throws. */
final class ErrorLog(max: Int) {
  private val b = Vector.newBuilder[ParseErr]
  private var n = 0
  var overflowed = false
  def add(code: String, off: Int, detail: String): Unit = {
    if (overflowed) return
    n += 1
    if (n > max) {
      overflowed = true
      b += ParseErr("max-errors", off, s"aborted after $max errors")
    } else b += ParseErr(code, off, detail)
  }
  def count: Int = n
  def result(): Vector[ParseErr] = b.result()
  // a log that stayed empty has nothing to clear (a clear allocates)
  def reset(): Unit = if (n > 0) { b.clear(); n = 0; overflowed = false }
}
