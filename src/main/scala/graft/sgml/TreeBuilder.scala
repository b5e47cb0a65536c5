package graft.sgml

import scala.collection.mutable

/** Event-stream → DOM fold with DTD-driven structural repair.
  *
  * Reference anchors (all [V], SURVEY.md §2.3):
  * - D2 validation: `parser.c — complete()/element transition via model.c`
  * - D3 omitted-tag inference: `parser.c — open_element / find omitted
  *   path; dtd.h — omit flags in dtd_edef` — the core of HTML leniency:
  *   a child that fits no DFA transition auto-closes open elements with
  *   omit-end flags (`<li>` implies `</li>`) or inserts omit-start
  *   elements (`<tbody>`).
  * - D4 EMPTY/self-closing immediate close
  * - D5 DOM fold: `sgml2pl.c — environment stack, term build`
  * - D6 whitespace policy: `parser.c — add_cdata / space(...) option`
  * - D7 namespaces: `xmlns.c — xmlns_push/xmlns_find/update_xmlns`
  * - D8 error recovery: `error.c — gripe` (errors accumulate, parse
  *   continues; a poisoned doc yields error rows, never a failed task)
  */
final class TreeBuilder(cfg: ParserConfig, holder: DtdHolder, log: ErrorLog) {

  private final class Frame(
      val name: String,
      val attrs: List[Attr],
      val off: Int,
      val edef: Option[ElementDef],
      val dfa: DfaRun, // null = no content model (hot path: no Option probe)
      val exclusions: Set[String],
      val inclusions: Set[String],
      val nsScope: Map[String, String],   // prefix → uri ("" = default)
      val spacePreserve: Boolean,
      /** SHORTREF map active in this element's content (T14); inherited by
        * containment, overridden by USEMAP; null = none. var: an
        * in-instance `<!USEMAP …>` rebinds the current frame. */
      var srMap: Array[Shortref.Rule]) {
    val children = new mutable.ArrayBuffer[Node](4)
    var sawText = false
  }

  // virtual root frame: accepts anything
  private val root = new Frame("", Nil, 0, None, null, Set.empty, Set.empty,
    Map.empty, cfg.space == SpaceMode.Preserve || cfg.space == SpaceMode.Strict,
    null)
  private val stack = new mutable.ArrayBuffer[Frame](16)
  stack += root

  private def top: Frame = stack(stack.size - 1)

  def accept(ev: Event): Unit = {
    if (log.overflowed) return
    ev match {
      case Event.Open(n, as, sc, off) => onOpen(n, as, sc, off)
      case Event.Close(n, off)        => onClose(n, off)
      case Event.Text(s, raw, off)    => onText(s, raw, off)
      case Event.Pi(s, off)           => addChild(Node.Pi(s, off))
      case Event.EntityRef(n, off)    => addChild(Node.EntityRef(n, off))
      case Event.Media(ref, off)      => addChild(Node.Media(ref, off))
      case Event.Decl(s, off)         => onDecl(s, off)
      case Event.Err(code, off, d)    => log.add(code, off, d)
    }
  }

  /** Close remaining elements and return the document content. */
  def finish(): IndexedSeq[Node] = {
    while (stack.size > 1) {
      val f = top
      if (f.edef.forall(!_.omitEnd))
        log.add("unclosed-element", f.off, f.name)
      popFrame()
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      root.children.toArray(TreeBuilder.NodeTag))
  }

  /** Full reset for cross-document reuse (paired with Tokenizer.reset). */
  def reset(): Unit = {
    stack.clear()
    root.children.clear()
    root.sawText = false
    root.srMap = null
    holder.activeShortrefs = null
    stack += root
  }

  // ----------------------------------------------------------- open/close

  private def onOpen(rawName: String, rawAttrs: List[RawAttr],
      selfClosing: Boolean, off: Int): Unit = {
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
    val name = qualify(rawName, scope, isAttr = false)

    // 2. typed attribute values + defaulting (T4/T5)
    val edef = holder.dtd.element(if (cfg.dialect.namespaces) localOf(rawName) else rawName)
    val attrs = typedAttrs(rawName, rawAttrs, edef, scope, off)

    // 3. structural repair (D3) — may implicitly close/open elements
    repairFor(localOf(name), off)

    // 4. advance parent's DFA
    stepParent(localOf(name), off)

    // 5. push or immediately close (D4). A SPECIFIED #CONREF attribute
    // makes the element's content empty (ISO 8879 content reference —
    // the attribute points at the content, so no end tag is expected).
    val isEmpty = edef.exists { e =>
      e.content == ContentKind.Empty ||
        (e.conrefAttrs.length > 0 && e.conrefAttrs.exists(n =>
          rawAttrs.exists(ra => localOf(ra.name) == n)))
    }
    val node = Node.Elem(name, attrs, TreeBuilder.NoChildren, off)
    if (selfClosing || isEmpty) {
      addChildNode(node)
    } else {
      val preserve = xmlSpaceOf(rawAttrs).getOrElse(top.spacePreserve)
      val srm = srMapFor(if (cfg.dialect.namespaces) localOf(rawName) else rawName)
      stack += new Frame(name, attrs, off, edef,
        edef.flatMap(_.dfa).map(new DfaRun(_)).orNull,
        mergedSet(top.exclusions, edef.map(_.exclusions).getOrElse(Set.empty)),
        mergedSet(top.inclusions, edef.map(_.inclusions).getOrElse(Set.empty)),
        scope, preserve, srm)
      holder.activeShortrefs = srm
    }
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
      if (stack.size > 1) popFrame()
      else log.add("unmatched-end-tag", off, "</>")
      return
    }
    val local = localOf(qualify(rawName, top.nsScope, isAttr = false))
    // find matching open element (by local name; ns-qualified match on full)
    var idx = -1
    var i = stack.size - 1
    while (i >= 1 && idx < 0) {
      if (localOf(stack(i).name) == local) idx = i
      i -= 1
    }
    if (idx < 0) {
      log.add("unmatched-end-tag", off, rawName)
      return
    }
    // close everything above it (D8: explicit error when end-omission is
    // not declared — FIXTURES F13 unclosed <b> repaired at </p>)
    while (stack.size - 1 > idx) {
      val f = top
      if (f.edef.forall(!_.omitEnd))
        log.add("unclosed-element", off, f.name)
      popFrame()
    }
    popFrame()
  }

  private def popFrame(): Unit = {
    val f = stack.remove(stack.size - 1)
    holder.activeShortrefs = top.srMap
    if (cfg.validate && f.dfa != null && !f.dfa.isComplete)
      log.add("incomplete-content", f.off, f.name)
    // SGML whitespace rule: one newline directly before the end tag
    stripTrailingNewline(f)
    val parent = top
    parent.children += Node.Elem(f.name, f.attrs,
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        f.children.toArray(TreeBuilder.NodeTag)), f.off)
  }

  // --------------------------------------------------------------- repair

  /** Can `frame` directly accept a child element `local`? */
  private def accepts(f: Frame, local: String): Boolean = {
    if (f.exclusions.contains(local)) return false
    if (f.inclusions.contains(local)) return true
    f.edef match {
      case None => true // unknown element / no DTD: transparent
      case Some(ed) => ed.content match {
        case ContentKind.Any => true
        case ContentKind.Modelled(_) =>
          (f.dfa != null && f.dfa.canStep(local)) ||
            // lenient: allow re-entry for repeatable members the DFA lost
            // track of due to the All-approximation
            (f.dfa == null && ed.containable.contains(local))
        case _ => false // EMPTY/CDATA/RCDATA cannot contain elements
      }
    }
  }

  private def acceptsText(f: Frame, wsOnly: Boolean): Boolean = {
    f.edef match {
      case None     => true
      case Some(ed) => ed.mixed || (wsOnly && ed.content != ContentKind.Empty)
    }
  }

  /** D3 — omitted-tag inference: make the top frame able to accept
    * `local`, closing omit-end elements and opening omit-start elements
    * as the reference does; bounded, never throws. */
  private def repairFor(local: String, off: Int): Unit = {
    var guard = stack.size + 8
    var relaxedUsed = false
    while (guard > 0) {
      guard -= 1
      val f = top
      if (f.edef.isEmpty) {
        // Virtual document frame (or an undeclared element): upstream
        // OMITTAG inference starts at the DOCTYPE root, so `<p>…` with the
        // HTML DTD materializes the full `<html><head></head><body>` chain
        // (`parser.c` — omitted start-tag inference from the doctype [V];
        // differential oracle: HtmlOmissionDifferentialSpec vs the JDK's
        // DTD-driven Swing parser). Implied only for the FIRST root-level
        // element — content after the root closed (epilog) must not spawn
        // a second chain — and only when the declared root is omissible
        // and not the element itself; the loop then repairs downward.
        if (stack.size == 1) {
          val rootName = holder.dtd.doctype.orNull
          val implyRoot = rootName != null && rootName != local &&
            holder.dtd.element(rootName).exists(_.omitStart) &&
            !f.children.exists(_.isInstanceOf[Node.Elem])
          if (!implyRoot) return
          impliedOpen(rootName, off)
          // restart the loop: repair continues against the implied root
        } else return
      }
      else if (accepts(f, local)) return
      else {
      // (a) implied open: an enabled child with omitted start tag that can
      //     contain `local` (e.g. <table><tr> → insert <tbody>). Search is
      //     inverted for speed: iterate the DTD's few omit-start elements
      //     and probe the DFA (one hash + mark check each), never the full
      //     enabled-symbol set.
      val viaOpen: String = {
        var found: String = null
        val oss = holder.dtd.omitStartElems
        var i = 0
        while (found == null && i < oss.length) {
          val xd = oss(i)
          if ((xd.containable.contains(local) || xd.content == ContentKind.Any) &&
              !f.exclusions.contains(xd.name) && canStepTo(f, xd.name))
            found = xd.name
          i += 1
        }
        found
      }
      if (viaOpen != null) {
        impliedOpen(viaOpen, off)
      } else {
        // (a') one-shot relaxed open: step through a fully-omissible
        //      required element that cannot itself hold `local` — e.g.
        //      `<html><body>` materializes the empty `head` (its close
        //      is implied next iteration, advancing html's DFA to body)
        var viaRelaxed: String = null
        if (!relaxedUsed) {
          val oss = holder.dtd.omitStartEndElems
          var i = 0
          while (viaRelaxed == null && i < oss.length) {
            val xd = oss(i)
            if (!f.exclusions.contains(xd.name) && canStepTo(f, xd.name))
              viaRelaxed = xd.name
            i += 1
          }
        }
        if (viaRelaxed != null) {
          relaxedUsed = true
          impliedOpen(viaRelaxed, off)
        } else {
          // (b) implied close: `<li>` implies `</li>` when li omit-end
          if (f.edef.exists(_.omitEnd) && stack.size > 1) {
            popFrame()
          } else {
            if (cfg.validate)
              log.add("not-allowed-here", off, local)
            return // accept in place (lenient)
          }
        }
      }
      }
    }
  }

  private def canStepTo(f: Frame, sym: String): Boolean = {
    val run = f.dfa
    run != null && run.canStep(sym)
  }

  /** Text repair — same search, driven by `mixed` instead of a name. */
  private def repairForText(off: Int): Unit = {
    var guard = stack.size + 8
    while (guard > 0) {
      guard -= 1
      val f = top
      if (acceptsText(f, wsOnly = false)) return
      var viaOpen: String = null
      val oss = holder.dtd.omitStartMixedElems
      var i = 0
      while (viaOpen == null && i < oss.length) {
        if (canStepTo(f, oss(i).name)) viaOpen = oss(i).name
        i += 1
      }
      if (viaOpen != null) impliedOpen(viaOpen, off)
      else {
        if (f.edef.exists(_.omitEnd) && stack.size > 1) popFrame()
        else {
          if (cfg.validate) log.add("cdata-not-allowed", off, f.name)
          return
        }
      }
    }
  }

  private def impliedOpen(local: String, off: Int): Unit = {
    stepParent(local, off)
    val edef = holder.dtd.element(local)
    val name = qualify(local, top.nsScope, isAttr = false)
    val attrs = typedAttrs(local, Nil, edef, top.nsScope, off)
    val srm = srMapFor(local)
    stack += new Frame(name, attrs, off, edef,
      edef.flatMap(_.dfa).map(new DfaRun(_)).orNull,
      mergedSet(top.exclusions, edef.map(_.exclusions).getOrElse(Set.empty)),
      mergedSet(top.inclusions, edef.map(_.inclusions).getOrElse(Set.empty)),
      top.nsScope, top.spacePreserve, srm)
    holder.activeShortrefs = srm
  }

  /** Avoid Set concat allocation in the common no-exceptions case (HTML4:
    * most elements declare no inclusions/exclusions). */
  private def mergedSet(parent: Set[String], own: Set[String]): Set[String] =
    if (own.isEmpty) parent else if (parent.isEmpty) own else parent ++ own

  private def stepParent(local: String, off: Int): Unit = {
    val f = top
    if (f.inclusions.contains(local)) return // inclusions don't advance DFA
    val run = f.dfa
    if (run != null && !run.step(local) && cfg.validate)
      log.add("not-allowed-here", off, local)
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
      if (wsOnly && stack.size == 1) return
      if (wsOnly && top.edef.exists(ed => !ed.mixed)) return
      if (wsOnly && !acceptsText(top, wsOnly = true) && top.edef.isDefined) return

      if (!wsOnly && !acceptsText(top, wsOnly = false)) repairForText(off)

      val mode = effectiveSpace
      if (!top.spacePreserve) mode match {
        case SpaceMode.SgmlMode | SpaceMode.Default =>
          // one newline directly after the start tag is removed
          if (top.children.isEmpty && !top.sawText && stack.size > 1)
            s = stripLeadingNewline(s)
        case SpaceMode.Remove =>
          s = collapseWs(s)
        case _ =>
      }
      if (cfg.space == SpaceMode.Strict && wsOnly &&
          top.edef.exists(ed => !ed.mixed))
        log.add("whitespace-not-allowed", off, top.name)
      if (s.isEmpty) return
    }

    top.sawText = true
    // merge with an adjacent text node of the same rawness (entity
    // boundaries, comments and injected media must not split runs
    // unless markup intervened — the tokenizer already coalesces;
    // this handles re-tokenized entity content)
    val ch = top.children
    val mergeable = !raw && ch.nonEmpty && (ch(ch.size - 1) match {
      case Node.Text(_, false, _) => true
      case _ => false
    })
    if (mergeable) {
      val Node.Text(prev, _, poff) = ch(ch.size - 1): @unchecked
      ch(ch.size - 1) = Node.Text(prev + s, raw, poff)
    } else ch += Node.Text(s, raw, off)
  }

  private def effectiveSpace: SpaceMode =
    if (top.spacePreserve) SpaceMode.Preserve else cfg.space

  private def stripTrailingNewline(f: Frame): Unit = {
    if (f.spacePreserve) return
    cfg.space match {
      case SpaceMode.SgmlMode | SpaceMode.Default =>
        (if (f.children.isEmpty) None else Some(f.children(f.children.size - 1))) match {
          case Some(Node.Text(s, false, off)) =>
            val t = stripTrailingNewlineStr(s)
            if (t.isEmpty) f.children.remove(f.children.size - 1)
            else if (t ne s) f.children(f.children.size - 1) = Node.Text(t, raw = false, off)
          case _ =>
        }
      case _ =>
    }
  }

  // ----------------------------------------------------- attributes (T4/T5)

  private def typedAttrs(rawName: String, rawAttrs: List[RawAttr],
      edef: Option[ElementDef], scope: Map[String, String], off: Int): List[Attr] = {
    // fast path: no attrs on the tag and nothing to inject/enforce — the
    // common case even with the bundled attlists (core attrs are all
    // #IMPLIED, which requires no action when absent)
    val actions = edef match {
      case Some(e) => e.actionAttrs
      case None => ElementDef.noActions
    }
    if (rawAttrs.isEmpty && actions.length == 0) return Nil
    val decls = edef.map(_.attrs).getOrElse(Map.empty)
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
      val qn = if (cfg.dialect.namespaces) qualify(ra.name, scope, isAttr = true)
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

  /** #CURRENT attribute state (per document): declaration → most recently
    * specified value. IdentityHashMap because the key IS the declaration
    * instance (shared across a name-grouped attlist). Empty for HTML/XML
    * (no #CURRENT in those DTDs) — one null-check per defaulted attr. */
  private val currentVals = new java.util.IdentityHashMap[AttrDecl, String]()

  private def convertAttr(v0: String, decl: Option[AttrDecl], off: Int): AttrValue = {
    import AttrType._
    decl.map(_.tpe) match {
      case None | Some(TCdata) => AttrValue.Str(v0)
      case Some(t) =>
        // tokenized types: collapse whitespace; SGML folds token case
        val collapsed = collapseWs(v0)
        val v = if (cfg.dialect.foldCase && !t.isInstanceOf[TEnum]) collapsed.toLowerCase
                else if (cfg.dialect.foldCase) collapsed.toLowerCase
                else collapsed
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

  private def qualify(name: String, scope: Map[String, String], isAttr: Boolean): String = {
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
          log.add("undeclared-ns-prefix", 0, prefix)
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
    if (up.regionMatches(true, 0, "DOCTYPE", 0, 7)) {
      val rest = up.substring(7)
      val lx = rest.trim
      // root name
      var i = 0
      while (i < lx.length && !lx.charAt(i).isWhitespace && lx.charAt(i) != '[') i += 1
      val rootName = lx.substring(0, i)
      val after = lx.substring(i)
      // external id → catalog (PUBLIC/SYSTEM/DOCTYPE) resolution (S3):
      // the configured TR9401 resolver first, bundled heuristic inside
      val fromCatalog = cfg.catalog.resolveExternal(rootName, after, cfg.dialect)
      fromCatalog.foreach(d => holder.dtd = holder.dtd.merge(d))
      // internal subset
      val lb = after.indexOf('[')
      val rb = after.lastIndexOf(']')
      if (lb >= 0 && rb > lb) {
        val subset = after.substring(lb + 1, rb)
        val (d2, errs) = DtdParser.parseSubset(subset, holder.dtd, cfg.dialect.foldCase)
        holder.dtd = d2.copy(doctype = Some(
          if (cfg.dialect.foldCase) rootName.toLowerCase else rootName))
        errs.foreach(e => log.add(e.code, off, e.detail))
      } else if (holder.dtd.doctype.isEmpty) {
        holder.dtd = holder.dtd.copy(doctype = Some(
          if (cfg.dialect.foldCase) rootName.toLowerCase else rootName))
      }
    } else if (up.regionMatches(true, 0, "USEMAP", 0, 6)) {
      // in-instance map (re)binding (T14): `<!USEMAP m>` switches the
      // current map; with element names it adds associations like a DTD
      // declaration; `<!USEMAP #EMPTY>` deactivates.
      val toks = up.substring(6).trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length >= 2) { // association form → regular declaration
        val (d2, errs) = DtdParser.parseDeclaration(up, holder.dtd, cfg.dialect.foldCase)
        holder.dtd = d2
        errs.foreach(e => log.add(e.code, off, e.detail))
      } else if (toks.length == 1) {
        val srm =
          if (toks(0).startsWith("#")) null // #EMPTY
          else {
            val mn = if (cfg.dialect.foldCase) toks(0).toLowerCase else toks(0)
            holder.dtd.compiledShortrefs.getOrElse(mn, {
              log.add("undeclared-shortref-map", off, toks(0)); top.srMap
            })
          }
        top.srMap = srm
        holder.activeShortrefs = srm
      }
    } else if (up.regionMatches(true, 0, "ELEMENT", 0, 7) ||
               up.regionMatches(true, 0, "ATTLIST", 0, 7) ||
               up.regionMatches(true, 0, "ENTITY", 0, 6) ||
               up.regionMatches(true, 0, "SHORTREF", 0, 8) ||
               up.regionMatches(true, 0, "NOTATION", 0, 8)) {
      // declarations outside a DOCTYPE (declaration-mode leniency)
      val (d2, errs) = DtdParser.parseDeclaration(up, holder.dtd, cfg.dialect.foldCase)
      holder.dtd = d2
      errs.foreach(e => log.add(e.code, off, e.detail))
    }
    // other declarations ignored
  }

  // --------------------------------------------------------------- helpers

  private def addChild(n: Node): Unit = addChildNode(n)
  private def addChildNode(n: Node): Unit = top.children += n

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

  private def stripTrailingNewlineStr(s: String): String = {
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
  /** Shared empty-children instance (EMPTY/self-closing elements). */
  val NoChildren: IndexedSeq[Node] = Vector.empty

  /** Hoisted ClassTag: `children.toArray` runs once per closed element,
    * and the implicit `ClassTag[Node]` at the call site costs a
    * ClassValue map probe per call (jstack-measured ~5% of kernel CPU:
    * ClassValueCompat.get + ClassValueMap.startEntry). A static tag
    * makes it a field read. */
  val NodeTag: scala.reflect.ClassTag[Node] =
    scala.reflect.ClassTag(classOf[Node])
}
