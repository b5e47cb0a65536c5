package graft.sgml

import java.util.BitSet
import scala.collection.mutable

/** Event stream → content with DTD-driven structural repair, committed
  * to a [[ContentSink]] in document order (a [[DomSink]] unless given).
  *
  * Reference anchors (all [V], SURVEY.md §2.3):
  * - D2 validation: `parser.c — complete()/element transition via model.c`
  * - D3 omitted-tag inference: `parser.c — open_element / find omitted
  *   path; dtd.h — omit flags in dtd_edef` — the core of HTML leniency:
  *   a child that fits no DFA transition auto-closes open elements with
  *   omit-end flags (`<li>` implies `</li>`) or inserts omit-start
  *   elements (`<tbody>`).
  * - D4 EMPTY/self-closing immediate close
  * - D5 DOM fold: `sgml2pl.c — environment stack, term build`; without a
  *   term, `call(begin|end|cdata, …)` (SURVEY.md §E2): the open-element
  *   stack stays, the children go to the sink
  * - D6 whitespace policy: `parser.c — add_cdata / space(...) option`
  * - D7 namespaces: `xmlns.c — xmlns_push/xmlns_find/update_xmlns`
  * - D8 error recovery: `error.c — gripe` (errors accumulate, parse
  *   continues; a poisoned doc yields error rows, never a failed task)
  */
final class TreeBuilder(cfg: ParserConfig, holder: DtdHolder, log: ErrorLog,
    sink: ContentSink = new DomSink) {

  import TreeBuilder._

  /** An open element: what repair, the space rules and SHORTREF read.
    * One frame per stack depth, reused by every element opened there. */
  private final class Frame {
    var name = ""
    var off = 0
    var edef: ElementDef = null // null = undeclared, or the document level
    var dfa: DfaRun = null // null = no content model
    val run = new DfaRun   // what `dfa` points at when there is a model
    var exclusions = NoIds // element ids, own and inherited
    var inclusions = NoIds
    var nsScope = Map.empty[String, String] // prefix → uri ("" = default)
    var spacePreserve = false
    /** SHORTREF map active in this element's content (T14); inherited by
      * containment, overridden by USEMAP; null = none. An in-instance
      * `<!USEMAP …>` rebinds the current frame. */
    var srMap: Array[Shortref.Rule] = null
    /** Some content (a child, or text the space rules kept) is committed. */
    var started = false
  }

  // frames(0) is the virtual root frame: accepts anything
  private val frames = mutable.ArrayBuffer(new Frame)
  private var depth = 0
  private var rootHasElem = false // an element opened at document level
  // The top frame's last text run while it can still grow by entity text
  // or lose the newline before an end tag; null = none.
  private var pending: String = null
  private var pendingOff = 0
  /** #CURRENT attribute state (per document): declaration → most recently
    * specified value. IdentityHashMap because the key IS the declaration
    * instance (shared across a name-grouped attlist). Empty for HTML/XML
    * (no #CURRENT in those DTDs) — one null-check per defaulted attr. */
  private val currentVals = new java.util.IdentityHashMap[AttrDecl, String]()
  reset()

  private def top: Frame = frames(depth)

  def accept(ev: Event): Unit = {
    if (log.overflowed) return
    ev match {
      case Event.Open(n, as, sc, off, id, ed) => onOpen(n, as, sc, off, id, ed)
      case Event.Close(n, off)        => onClose(n, off)
      case Event.Text(s, raw, off)    => onText(s, raw, off)
      case Event.Pi(s, off)           => addChild(); sink.pi(s, off)
      case Event.EntityRef(n, off)    => addChild(); sink.entity(n, off)
      case Event.Media(ref, off)      => addChild(); sink.media(ref, off)
      case Event.Decl(s, off)         => onDecl(s, off)
    }
  }

  /** Close remaining elements and commit pending text; the document
    * content when the sink is a [[DomSink]], else empty (the content is
    * in the sink). */
  def finish(): IndexedSeq[Node] = {
    closeAbove(0, at = -1)
    commitText()
    sink match { case d: DomSink => d.content; case _ => TreeBuilder.NoChildren }
  }

  /** Full reset for cross-document reuse (paired with Tokenizer.reset). A
    * hostile nest's frames are not kept past [[TreeBuilder.KeptFrames]]. */
  def reset(): Unit = {
    if (frames.size > TreeBuilder.KeptFrames) frames.dropRightInPlace(frames.size - TreeBuilder.KeptFrames)
    depth = 0; rootHasElem = false; pending = null
    if (!currentVals.isEmpty) currentVals.clear()
    val root = top
    root.spacePreserve = cfg.space == SpaceMode.Preserve || cfg.space == SpaceMode.Strict
    root.srMap = null
    root.started = false
    holder.activeShortrefs = null
    sink.reset()
  }

  // ----------------------------------------------------------- open/close

  private def onOpen(rawName: String, rawAttrs: List[RawAttr],
      selfClosing: Boolean, off: Int, rawId: Int, rawDef: ElementDef): Unit = {
    // 1. namespace scope from xmlns attrs (D7); name qualification
    var scope = top.nsScope
    if (cfg.dialect.namespaces) {
      rawAttrs.foreach { a =>
        if (a.name == "xmlns")
          scope = scope.updated("", a.value.getOrElse(""))
        else if (a.name.startsWith("xmlns:"))
          scope = scope.updated(a.name.substring(6), a.value.getOrElse(""))
      }
    }
    val name = qualify(rawName, scope, isAttr = false, off)

    // 2. typed attribute values + defaulting (T4/T5); the tokenizer
    // resolved the tag's own name, so only a prefixed one is looked up
    val lookup = if (cfg.dialect.namespaces) localOf(rawName) else rawName
    val edef = if (lookup == rawName) rawDef else holder.dtd.element(holder.dtd.id(lookup))
    val attrs = typedAttrs(rawName, rawAttrs, edef, scope, off)

    // 3. structural repair (D3) — may implicitly close/open elements
    val local = localOf(name)
    val id = if (local == rawName) rawId else holder.dtd.id(local)
    repairFor(local, id, off)

    // 4. advance parent's DFA
    stepParent(id)

    // 5. push or immediately close (D4). A SPECIFIED #CONREF attribute
    // makes the element's content empty (ISO 8879 content reference —
    // the attribute points at the content, so no end tag is expected).
    val isEmpty = edef != null && (edef.content == ContentKind.Empty ||
      (edef.conrefAttrs.length > 0 && edef.conrefAttrs.exists(n =>
        rawAttrs.exists(ra => localOf(ra.name) == n))))
    if (selfClosing || isEmpty) { openChild(name, attrs, off); sink.close() }
    else pushFrame(name, attrs, off, edef, lookup, scope,
      xmlSpaceOf(rawAttrs).getOrElse(top.spacePreserve))
  }

  /** A child element of the top frame begins: commit what precedes it. */
  private def openChild(name: String, attrs: List[Attr], off: Int): Unit = {
    addChild()
    if (depth == 0) rootHasElem = true
    sink.open(name, attrs, off)
  }

  /** The one element-frame constructor, for present and implied start
    * tags alike (`parser.c — open_element` [V]): the element's DFA run,
    * the exception sets merged with the parent's, its namespace scope,
    * space flag and SHORTREF map (`lookup` is its DTD name). */
  private def pushFrame(name: String, attrs: List[Attr], off: Int,
      edef: ElementDef, lookup: String, scope: Map[String, String],
      preserve: Boolean): Unit = {
    openChild(name, attrs, off)
    val parent = top
    val srm = srMapFor(lookup)
    depth += 1
    if (depth == frames.size) frames += new Frame
    val f = top
    f.name = name; f.off = off; f.edef = edef
    val model = if (edef == null) null else edef.dfa
    f.dfa = if (model == null) null else f.run.start(model)
    if (edef == null) { f.exclusions = parent.exclusions; f.inclusions = parent.inclusions }
    else {
      f.exclusions = union(parent.exclusions, edef.exclusionIds)
      f.inclusions = union(parent.inclusions, edef.inclusionIds)
    }
    f.nsScope = scope; f.spacePreserve = preserve; f.srMap = srm
    f.started = false
    holder.activeShortrefs = srm
  }

  /** SHORTREF map for the content of an element being opened: a USEMAP
    * association overrides, otherwise inherit (T14). The empty-useMaps
    * check keeps the non-SGML hot path to one field read. */
  private def srMapFor(lookupName: String): Array[Shortref.Rule] = {
    val d = holder.dtd
    if (d.useMaps.isEmpty) top.srMap
    else d.useMaps.get(lookupName) match {
      case Some("") => null // #EMPTY
      case Some(m) => d.compiledShortrefs.getOrElse(m, top.srMap)
      case None => top.srMap
    }
  }

  private def onClose(rawName: String, off: Int): Unit = {
    if (rawName.isEmpty) { // SGML null end tag `</>` closes current
      if (depth > 0) popFrame()
      else log.add("unmatched-end-tag", off, "</>")
      return
    }
    val local = localOf(qualify(rawName, top.nsScope, isAttr = false, off))
    // find matching open element (by local name; ns-qualified match on full)
    var idx = -1
    var i = depth
    while (i >= 1 && idx < 0) {
      if (localOf(frames(i).name) == local) idx = i
      i -= 1
    }
    if (idx < 0) {
      log.add("unmatched-end-tag", off, rawName)
      return
    }
    // FIXTURES F13: an unclosed <b> is repaired at </p>
    closeAbove(idx, at = off)
    popFrame()
  }

  /** Pop every frame above stack index `keep`. D8: each one whose end tag
    * may not be omitted is an `unclosed-element` error, at offset `at`
    * (the end tag that closes it), or at its own offset when `at` < 0
    * (end of document). */
  private def closeAbove(keep: Int, at: Int): Unit =
    while (depth > keep) {
      val f = top
      if (f.edef == null || !f.edef.omitEnd)
        log.add("unclosed-element", if (at < 0) f.off else at, f.name)
      popFrame()
    }

  private def popFrame(): Unit = {
    val f = top
    depth -= 1
    holder.activeShortrefs = top.srMap
    if (cfg.validate && f.dfa != null && !f.dfa.isComplete)
      log.add("incomplete-content", f.off, f.name)
    // SGML whitespace rule: one newline directly before the end tag
    if (pending != null && !f.spacePreserve &&
        (cfg.space == SpaceMode.SgmlMode || cfg.space == SpaceMode.Default)) {
      pending = stripTrailingNewline(pending)
      if (pending.isEmpty) pending = null
    }
    commitText()
    sink.close()
  }

  // --------------------------------------------------------------- repair

  /** Can `frame` directly accept child element `id`? An unknown element
    * (or no DTD) is transparent; EMPTY/CDATA/RCDATA content takes none. */
  private def accepts(f: Frame, id: Int): Boolean =
    if (has(f.exclusions, id)) false
    else has(f.inclusions, id) || f.edef == null || f.edef.content == ContentKind.Any ||
      canStepTo(f, id)

  private def acceptsText(f: Frame, wsOnly: Boolean): Boolean =
    f.edef == null || f.edef.mixed || (wsOnly && f.edef.content != ContentKind.Empty)

  /** D3 — omitted-tag inference: make the top frame able to accept
    * `local`, closing omit-end elements and opening omit-start elements
    * as the reference does; bounded, never throws. */
  private def repairFor(local: String, id: Int, off: Int): Unit = {
    var guard = depth + 9
    var relaxedUsed = false
    while (guard > 0) {
      guard -= 1
      val f = top
      if (f.edef == null) {
        // Virtual document frame (or an undeclared element): upstream
        // OMITTAG inference starts at the DOCTYPE root, so `<p>…` with the
        // HTML DTD materializes the full `<html><head></head><body>` chain
        // (`parser.c` — omitted start-tag inference from the doctype [V];
        // differential oracle: HtmlOmissionDifferentialSpec vs the JDK's
        // DTD-driven Swing parser). Implied only for the FIRST root-level
        // element — content after the root closed (epilog) must not spawn
        // a second chain — and only when the declared root is omissible
        // and not the element itself; the loop then repairs downward.
        if (depth == 0) {
          val root = holder.dtd.doctype.filter(r => r != local && !rootHasElem)
            .flatMap(r => holder.dtd.element(r)).filter(_.omitStart)
          if (root.isEmpty) return
          impliedOpen(root.get, off)
          // restart the loop: repair continues against the implied root
        } else return
      }
      else if (accepts(f, id)) return
      else {
        // (a) implied open: an enabled child with omitted start tag that
        //     can contain `local` (e.g. <table><tr> → insert <tbody>)
        var via = impliable(f, holder.dtd.omitStartElems, id)
        // (a') one-shot relaxed open: step through a fully-omissible
        //      required element that cannot itself hold `local` — e.g.
        //      `<html><body>` materializes the empty `head` (its close
        //      is implied next iteration, advancing html's DFA to body)
        if (via == null && !relaxedUsed) {
          via = impliable(f, holder.dtd.omitStartEndElems, AnyChild)
          relaxedUsed = via != null
        }
        if (via != null) impliedOpen(via, off)
        // (b) implied close: `<li>` implies `</li>` when li omit-end
        else if (f.edef.omitEnd && depth > 0) popFrame()
        else {
          if (cfg.validate) log.add("not-allowed-here", off, local)
          return // accept in place (lenient)
        }
      }
    }
  }

  /** The first of `cands` — omissible-start elements — that frame `f` does
    * not exclude, that `f`'s model can step to, and that can contain
    * element `id` (any, when [[AnyChild]]); null = none. The search is
    * inverted for speed: the DTD's few omissible elements, one DFA probe
    * each, never the full enabled-symbol set. */
  private def impliable(f: Frame, cands: Array[ElementDef], id: Int): ElementDef = {
    var i = 0
    while (i < cands.length) {
      val xd = cands(i)
      if ((id == AnyChild || xd.canContain(id)) && !has(f.exclusions, xd.id) &&
          canStepTo(f, xd.id)) return xd
      i += 1
    }
    null
  }

  private def canStepTo(f: Frame, id: Int): Boolean = f.dfa != null && f.dfa.canStep(id)

  /** Text repair — same search, driven by `mixed` instead of a name. */
  private def repairForText(off: Int): Unit = {
    var guard = depth + 9
    while (guard > 0) {
      guard -= 1
      val f = top
      if (acceptsText(f, wsOnly = false)) return
      val via = impliable(f, holder.dtd.omitStartMixedElems, AnyChild)
      if (via != null) impliedOpen(via, off)
      else {
        if (f.edef.omitEnd && depth > 0) popFrame()
        else {
          if (cfg.validate) log.add("cdata-not-allowed", off, f.name)
          return
        }
      }
    }
  }

  private def impliedOpen(xd: ElementDef, off: Int): Unit = {
    stepParent(xd.id)
    val scope = top.nsScope
    pushFrame(qualify(xd.name, scope, isAttr = false, off), typedAttrs(xd.name, Nil, xd, scope, off),
      off, xd, xd.name, scope, top.spacePreserve)
  }

  /** Share, not copy, in the common no-exceptions case (HTML4: most
    * elements declare no inclusions/exclusions). */
  private def union(parent: BitSet, own: BitSet): BitSet =
    if (own.isEmpty) parent else if (parent.isEmpty) own
    else { val u = parent.clone().asInstanceOf[BitSet]; u.or(own); u }

  private def has(ids: BitSet, id: Int): Boolean = id >= 0 && ids.get(id)

  /** Advance the top frame's content model past child `id`; inclusions
    * do not advance it. A child it cannot take is one repair gave up on,
    * which logged it. */
  private def stepParent(id: Int): Unit = {
    val f = top
    if (f.dfa != null && !has(f.inclusions, id)) f.dfa.step(id)
  }

  // ----------------------------------------------------------------- text

  private def onText(s0: String, raw: Boolean, off: Int): Unit = {
    if (s0.isEmpty) return
    var s = s0
    val wsOnly = isWhitespaceOnly(s)

    if (!raw) {
      // ignorable whitespace: element-declared content never holds text;
      // document level (outside the root element) holds none either —
      // `<!DOCTYPE …>\n<root>` drops the separator newline (upstream
      // treats prolog/epilog whitespace as markup separation [V])
      if (wsOnly && depth == 0) return
      if (wsOnly && top.edef != null && !top.edef.mixed) {
        if (cfg.space == SpaceMode.Strict) log.add("whitespace-not-allowed", off, top.name)
        return
      }
      if (wsOnly && !acceptsText(top, wsOnly = true) && top.edef != null) return

      if (!wsOnly && !acceptsText(top, wsOnly = false)) repairForText(off)

      val mode = effectiveSpace
      if (!top.spacePreserve) mode match {
        case SpaceMode.SgmlMode | SpaceMode.Default =>
          // one newline directly after the start tag is removed
          if (!top.started && depth > 0) s = stripLeadingNewline(s)
        case SpaceMode.Remove =>
          s = collapseWs(s)
        case _ =>
      }
      if (s.isEmpty) return
    }

    top.started = true
    // a text run merges with the pending one before it (entity boundaries
    // and comments must not split runs unless markup intervened — the
    // tokenizer already coalesces; this handles re-tokenized entity
    // content); raw text neither merges nor loses a newline
    if (raw) { commitText(); sink.text(s, raw = true, off) }
    else if (pending == null) { pending = s; pendingOff = off }
    else pending += s
  }

  private def effectiveSpace: SpaceMode =
    if (top.spacePreserve) SpaceMode.Preserve else cfg.space

  /** Content other than text joins the top frame: the pending run ends. */
  private def addChild(): Unit = {
    commitText()
    top.started = true
  }

  private def commitText(): Unit =
    if (pending != null) {
      sink.text(pending, raw = false, pendingOff)
      pending = null
    }

  // ----------------------------------------------------- attributes (T4/T5)

  private def typedAttrs(rawName: String, rawAttrs: List[RawAttr],
      edef: ElementDef, scope: Map[String, String], off: Int): List[Attr] = {
    // fast path: no attrs on the tag and nothing to inject/enforce — the
    // common case even with the bundled attlists (core attrs are all
    // #IMPLIED, which requires no action when absent)
    val actions = if (edef == null) ElementDef.noActions else edef.actionAttrs
    if (rawAttrs.isEmpty && actions.length == 0) return Nil
    val decls = if (edef == null) Map.empty[String, AttrDecl] else edef.attrs
    // tags carry a handful of attrs — an order-preserving array with a
    // linear dup scan beats per-name hashing (LinkedHashMap's anyHash was
    // a measured ~5% of kernel CPU with the bundled attlists active); a
    // tag that can hold more than 8 gets a name set, so an attribute
    // flood stays linear
    val out = new mutable.ArrayBuffer[Attr](rawAttrs.length + actions.length)
    val names =
      if (rawAttrs.lengthCompare(8 - actions.length) > 0) new java.util.HashSet[String] else null
    def has(name: String): Boolean =
      if (names != null) names.contains(name) else out.exists(_.name == name)
    def add(a: Attr): Unit = { out += a; if (names != null) names.add(a.name) }
    rawAttrs.foreach { ra =>
      val qn = if (cfg.dialect.namespaces) qualify(ra.name, scope, isAttr = true, ra.off)
               else ra.name
      if (has(qn)) log.add("duplicate-attribute", ra.off, ra.name)
      else {
        val rawVal = ra.value.getOrElse(ra.name) // minimized: value = name
        val decl = decls.get(localOf(ra.name))
        // ISO 8879 #CURRENT: a specified value becomes the default for
        // every LATER element governed by the same declaration (name-
        // grouped attlists share AttrDecl instances, so identity keying
        // gives exact cross-element sharing)
        decl match {
          case Some(d) if d.default == AttrDefault.Current =>
            currentVals.put(d, rawVal)
          case _ =>
        }
        add(Attr(qn, convertAttr(rawVal, decl, ra.off)))
      }
    }
    // attribute defaulting: #FIXED / literal / #CURRENT defaults injected;
    // #REQUIRED enforced (`parser.c — add_default_attributes` [V])
    var i = 0
    while (i < actions.length) {
      val d = actions(i)
      if (!has(d.name)) d.default match {
        case AttrDefault.Fixed(v) => add(Attr(d.name, convertAttr(v, Some(d), off)))
        case AttrDefault.Value(v) => add(Attr(d.name, convertAttr(v, Some(d), off)))
        case AttrDefault.Required => log.add("required-attribute-missing", off, s"$rawName/${d.name}")
        case AttrDefault.Current =>
          val v = currentVals.get(d)
          if (v != null) add(Attr(d.name, convertAttr(v, Some(d), off)))
          // omitted before any value was specified: an error per ISO 8879
          else log.add("current-attribute-no-value", off, s"$rawName/${d.name}")
        case _ =>
      }
      i += 1
    }
    out.toList
  }

  private def convertAttr(v0: String, decl: Option[AttrDecl], off: Int): AttrValue = {
    import AttrType._
    decl.map(_.tpe) match {
      case None | Some(TCdata) => AttrValue.Str(v0)
      case Some(t) =>
        // tokenized types: collapse whitespace; SGML folds token case
        val collapsed = collapseWs(v0)
        val v = if (cfg.dialect.foldCase) collapsed.toLowerCase else collapsed
        t match {
          case TNumber =>
            if (!v.forall(_.isDigit) || v.isEmpty) {
              log.add("bad-number-attribute", off, v0); AttrValue.Str(v)
            } else if (cfg.number == NumberMode.Integer)
              try AttrValue.Num(v.toLong)
              catch { case _: NumberFormatException => AttrValue.Str(v) }
            else AttrValue.Str(v)
          case TNumbers if cfg.number == NumberMode.Integer =>
            AttrValue.Toks(v.split(' ').toList)
          case tt if AttrType.isList(tt) =>
            AttrValue.Toks(if (v.isEmpty) Nil else v.split(' ').toList)
          case TEnum(vals) =>
            if (!vals.contains(v) && cfg.validate)
              log.add("bad-enum-attribute", off, v0)
            AttrValue.Str(v)
          case _ => AttrValue.Str(v)
        }
    }
  }

  // ------------------------------------------------------------ namespaces

  /** `name` in `scope`; an undeclared prefix is logged at `off`. */
  private def qualify(name: String, scope: Map[String, String], isAttr: Boolean,
      off: Int): String = {
    if (!cfg.dialect.namespaces) return name
    if (name == "xmlns" || name.startsWith("xmlns:")) return name
    val i = name.indexOf(':')
    if (i > 0) {
      val prefix = name.substring(0, i)
      val local = name.substring(i + 1)
      if (prefix == "xml") name
      else scope.get(prefix) match {
        case Some(uri) if uri.nonEmpty => s"{$uri}$local"
        case _ =>
          log.add("undeclared-ns-prefix", off, prefix)
          name
      }
    } else if (!isAttr || cfg.qualifyAttributes) {
      // default namespace applies to elements (not attributes)
      scope.get("") match {
        case Some(uri) if uri.nonEmpty => s"{$uri}$name"
        case _ => name
      }
    } else name
  }

  private def localOf(name: String): String = {
    val j = name.indexOf('}')
    val base = if (name.startsWith("{") && j > 0) name.substring(j + 1) else name
    val i = base.indexOf(':')
    if (i > 0 && !base.startsWith("xmlns")) base.substring(i + 1) else base
  }

  private def xmlSpaceOf(attrs: List[RawAttr]): Option[Boolean] =
    attrs.collectFirst {
      case RawAttr("xml:space", Some("preserve"), _) => true
      case RawAttr("xml:space", Some("default"), _)  => false
    }

  // --------------------------------------------------------------- doctype

  private def onDecl(s: String, off: Int): Unit = {
    if (s.startsWith("?")) return // XML declaration — informational only
    val up = s.stripLeading()
    def is(kw: String) = up.regionMatches(true, 0, kw, 0, kw.length)
    // in-instance map (re)binding (T14): `<!USEMAP m>` switches the
    // current map; with element names it adds associations like a DTD
    // declaration; `<!USEMAP #EMPTY>` deactivates.
    val usemap =
      if (is("USEMAP")) up.substring(6).trim.split("\\s+").filter(_.nonEmpty) else Array.empty[String]
    if (is("DOCTYPE")) {
      val lx = up.substring(7).trim
      // root name
      var i = 0
      while (i < lx.length && !lx.charAt(i).isWhitespace && lx.charAt(i) != '[') i += 1
      val rootName = lx.substring(0, i)
      val after = lx.substring(i)
      // external id → catalog (PUBLIC/SYSTEM/DOCTYPE) resolution (S3):
      // the configured TR9401 resolver first, bundled heuristic inside
      cfg.catalog.resolveExternal(rootName, after).foreach(d => holder.dtd = holder.dtd.merge(d))
      // internal subset
      val lb = after.indexOf('[')
      val rb = after.lastIndexOf(']')
      val subset = lb >= 0 && rb > lb
      if (subset) applyDecl(DtdParser.parseSubset(after.substring(lb + 1, rb), _, cfg.dialect.foldCase), off)
      if (subset || holder.dtd.doctype.isEmpty)
        holder.dtd = holder.dtd.copy(doctype = Some(
          if (cfg.dialect.foldCase) rootName.toLowerCase else rootName))
    } else if (usemap.length == 1) {
      val srm =
        if (usemap(0).startsWith("#")) null // #EMPTY
        else {
          val mn = if (cfg.dialect.foldCase) usemap(0).toLowerCase else usemap(0)
          holder.dtd.compiledShortrefs.getOrElse(mn, {
            log.add("undeclared-shortref-map", off, usemap(0)); top.srMap
          })
        }
      top.srMap = srm
      holder.activeShortrefs = srm
    } else if (usemap.length >= 2 || TreeBuilder.InstanceDecls.exists(is)) {
      // declarations outside a DOCTYPE (declaration-mode leniency)
      applyDecl(DtdParser.parseDeclaration(up, _, cfg.dialect.foldCase), off)
    }
    // other declarations ignored
  }

  /** Run a DTD parse against the current DTD, keep its result and log
    * its errors at the declaration's offset. */
  private def applyDecl(parse: Dtd => (Dtd, Vector[ParseErr]), off: Int): Unit = {
    val (d2, errs) = parse(holder.dtd)
    holder.dtd = d2
    errs.foreach(e => log.add(e.code, off, e.detail))
  }

  // --------------------------------------------------------------- helpers

  private def isWhitespaceOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (!s.charAt(i).isWhitespace) return false; i += 1 }
    true
  }

  private def stripLeadingNewline(s: String): String = {
    if (s.startsWith("\r\n")) s.substring(2)
    else if (s.length > 0 && (s.charAt(0) == '\n' || s.charAt(0) == '\r')) s.substring(1)
    else s
  }

  private def stripTrailingNewline(s: String): String = {
    if (s.endsWith("\r\n")) s.substring(0, s.length - 2)
    else if (s.length > 0 && (s.charAt(s.length - 1) == '\n' || s.charAt(s.length - 1) == '\r'))
      s.substring(0, s.length - 1)
    else s
  }

  private def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) { if (sb.length() > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}

object TreeBuilder {
  /** The empty id set: a frame's exceptions when no element declares any. */
  private val NoIds = new BitSet

  /** `impliable`'s wildcard child: an element that can contain anything. */
  private final val AnyChild = -2

  /** Declarations applied to the DTD when they appear in the instance. */
  private val InstanceDecls = Seq("ELEMENT", "ATTLIST", "ENTITY", "SHORTREF", "NOTATION")

  /** Shared empty-children instance (EMPTY/self-closing elements). */
  val NoChildren: IndexedSeq[Node] = Vector.empty

  /** Frames a builder keeps for reuse across documents. */
  private val KeptFrames = 256
}
