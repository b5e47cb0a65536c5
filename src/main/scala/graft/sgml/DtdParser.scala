package graft.sgml

import scala.collection.mutable

/** Parser for DTD declarations — `<!ELEMENT>`, `<!ATTLIST>`, `<!ENTITY>`,
  * `<!NOTATION>` — in SGML or XML syntax, with parameter-entity expansion.
  *
  * Reference: `parser.c — DTD declaration mode` (process_declaration,
  * parameter-entity branch of process_entity) [V]; data structures per
  * `dtd.h` [V]; driven from `sgml.pl — load_dtd/3, dtd/2` [V].
  *
  * Used for (a) `<!DOCTYPE … [ internal subset ]>` and (b) the bundled
  * pragmatic HTML DTD (`HtmlDtd`). Errors are collected, never thrown.
  */
object DtdParser {

  /** Deepest content-model group nesting that is parsed. A deeper
    * `<!ELEMENT>` logs `dtd-nesting`, the rest of its declaration is
    * skipped and its content is ANY — which also bounds the recursion of
    * `Dfa.compile` over the model. */
  private[sgml] val MaxGroupDepth = 256

  private object GroupTooDeep extends scala.util.control.ControlThrowable

  /** Parse a DTD text (sequence of declarations / comments / PE refs). */
  def parseSubset(text: String, initial: Dtd, foldCase: Boolean): (Dtd, Vector[ParseErr]) = {
    var dtd = initial
    val errs = Vector.newBuilder[ParseErr]
    var i = 0
    val n = text.length

    def expandPe(decl: String): String = {
      // textual %name; expansion, bounded depth
      var s = decl
      var depth = 0
      var changed = true
      while (changed && depth < 16) {
        changed = false
        val sb = new StringBuilder(s.length)
        var j = 0
        while (j < s.length) {
          val c = s.charAt(j)
          if (c == '%' && j + 1 < s.length && isNameStart(s.charAt(j + 1))) {
            var k = j + 1
            while (k < s.length && isNameChar(s.charAt(k))) k += 1
            val name = s.substring(j + 1, k)
            if (k < s.length && s.charAt(k) == ';') k += 1
            dtd.paramEntities.get(name) match {
              case Some(v) => sb.append(' ').append(v).append(' '); changed = true
              case None =>
                errs += ParseErr("undeclared-pentity", 0, name)
                sb.append(s, j, k)
            }
            j = k
          } else { sb.append(c); j += 1 }
        }
        s = sb.toString
        depth += 1
      }
      s
    }

    while (i < n) {
      val c = text.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '%') {
        // PE reference between declarations: splice (rare; expand inline)
        var k = i + 1
        while (k < n && isNameChar(text.charAt(k))) k += 1
        i = if (k < n && text.charAt(k) == ';') k + 1 else k
      } else if (c == '<' && i + 3 < n && text.startsWith("<!--", i)) {
        val e = text.indexOf("-->", i + 4)
        i = if (e < 0) n else e + 3
      } else if (c == '<' && i + 1 < n && text.charAt(i + 1) == '!') {
        // find matching '>' respecting quotes and nested [ ] (marked sections)
        var j = i + 2
        var q: Char = 0
        var br = 0
        var end = -1
        while (j < n && end < 0) {
          val ch = text.charAt(j)
          if (q != 0) { if (ch == q) q = 0 }
          else ch match {
            case '"' | '\'' => q = ch
            case '[' => br += 1
            case ']' => br -= 1
            case '>' if br <= 0 => end = j
            case _ =>
          }
          j += 1
        }
        if (end < 0) { errs += ParseErr("unterminated-declaration", i, ""); i = n }
        else {
          val body = expandPe(text.substring(i + 2, end))
          val (d2, e2) = parseDeclaration(body, dtd, foldCase)
          dtd = d2
          errs ++= e2
          i = end + 1
        }
      } else {
        errs += ParseErr("unexpected-char-in-dtd", i, c.toString)
        i += 1
      }
    }
    (dtd, errs.result())
  }

  /** Parse one declaration body (text after `<!`, without the closing `>`,
    * parameter entities already expanded). */
  def parseDeclaration(body: String, dtd: Dtd, foldCase: Boolean): (Dtd, Vector[ParseErr]) = {
    val lx = new Lex(body)
    val errs = Vector.newBuilder[ParseErr]
    def fold(s: String) = if (foldCase) s.toLowerCase else s
    val kw = lx.name().getOrElse("")
    val out = kw.toUpperCase match {
      case "ELEMENT" =>
        val names = elementNames(lx, fold)
        // omission flags: '-' or 'O' twice (SGML); absent in XML decls
        var omitStart = false
        var omitEnd = false
        lx.save()
        (lx.flag(), lx.flag()) match {
          case (Some(a), Some(b)) => omitStart = a; omitEnd = b
          case _ => lx.restore()
        }
        val content = try parseContent(lx, fold, errs) catch {
          case GroupTooDeep =>
            errs += ParseErr("dtd-nesting", 0, s"> $MaxGroupDepth nested groups")
            lx.skipRest()
            ContentKind.Any
        }
        var incl = Set.empty[String]
        var excl = Set.empty[String]
        var more = true
        while (more) {
          lx.save()
          lx.punct() match {
            case Some('+') => parseGroupNames(lx, fold).foreach(ns => incl ++= ns)
            case Some('-') => parseGroupNames(lx, fold).foreach(ns => excl ++= ns)
            case _ => lx.restore(); more = false
          }
        }
        val mentioned = content match {
          case ContentKind.Modelled(m) => Dfa.symbols(m)
          case _ => Set.empty[String]
        }
        val table = dtd.names ++ (names.iterator ++ mentioned ++ incl ++ excl)
        val defs = names.map { nm =>
          nm -> ElementDef(nm, omitStart, omitEnd, content, incl, excl,
            dtd.elements.get(nm).map(_.attrs).getOrElse(Map.empty), table)
        }
        // first declaration wins (SGML); don't overwrite existing models
        val merged = defs.foldLeft(dtd.elements) { case (m, (k, v)) =>
          m.get(k) match {
            case Some(old) if old.content != ContentKind.Any => m
            case Some(old) => m.updated(k, v.copy(attrs = old.attrs))
            case None => m.updated(k, v)
          }
        }
        dtd.copy(elements = merged, names = table)

      case "ATTLIST" =>
        val names = elementNames(lx, fold)
        val decls = mutable.LinkedHashMap.empty[String, AttrDecl]
        var go = true
        while (go) {
          lx.name() match {
            case None => go = false
            case Some(an0) =>
              val an = fold(an0)
              val tpe = parseAttrType(lx, fold, errs)
              val dflt = parseAttrDefault(lx, errs)
              decls += an -> AttrDecl(an, tpe, dflt)
          }
        }
        val table = dtd.names ++ names
        val els = names.foldLeft(dtd.elements) { (m, nm) =>
          val old = m.getOrElse(nm,
            ElementDef(nm, omitStart = false, omitEnd = false, ContentKind.Any, names = table))
          m.updated(nm, old.copy(attrs = old.attrs ++ decls.filterNot {
            case (k, _) => old.attrs.contains(k) }))
        }
        dtd.copy(elements = els, names = table)

      case "ENTITY" =>
        lx.save()
        val isParam = lx.punct().contains('%')
        if (!isParam) lx.restore()
        lx.name() match {
          case None =>
            errs += ParseErr("bad-entity-declaration", 0, body.take(40))
            dtd
          case Some(en) =>
            val value: String = {
              lx.save()
              lx.name() match {
                case Some(k) if k.equalsIgnoreCase("SYSTEM") =>
                  lx.literal(); "" // external entities not fetched (zero I/O)
                case Some(k) if k.equalsIgnoreCase("PUBLIC") =>
                  lx.literal(); lx.literal(); ""
                case Some(k) if k.equalsIgnoreCase("CDATA") || k.equalsIgnoreCase("SDATA") =>
                  lx.literal().getOrElse("")
                case _ =>
                  lx.restore()
                  lx.literal().getOrElse { errs += ParseErr("bad-entity-value", 0, en); "" }
              }
            }
            val v = expandCharRefs(value)
            if (isParam) firstWins(dtd.paramEntities, en, v).fold(dtd)(m => dtd.copy(paramEntities = m))
            else firstWins(dtd.entities, en, v).fold(dtd)(m => dtd.copy(entities = m))
        }

      case "SHORTREF" =>
        // <!SHORTREF mapname "delim" entity ["delim" entity …]> (T14)
        lx.name() match {
          case None =>
            errs += ParseErr("bad-shortref-declaration", 0, body.take(40))
            dtd
          case Some(mn0) =>
            val mn = fold(mn0)
            val pairs = mutable.ListBuffer.empty[(String, String)]
            var go = true
            while (go) {
              lx.literal() match {
                case Some(d) => lx.name() match {
                  case Some(en) => pairs += d -> en
                  case None =>
                    errs += ParseErr("shortref-missing-entity", 0, d)
                    go = false
                }
                case None => go = false
              }
            }
            firstWins(dtd.shortrefs, mn, pairs.toList).fold(dtd)(m => dtd.copy(shortrefs = m))
        }

      case "USEMAP" =>
        // <!USEMAP mapname elem-or-(group)> / <!USEMAP #EMPTY elems> (T14)
        lx.save()
        val mapName: Option[String] = lx.punct() match {
          case Some('#') => lx.name(); Some("") // #EMPTY → deactivation sentinel
          case _ => lx.restore(); lx.name().map(fold)
        }
        mapName match {
          case None =>
            errs += ParseErr("bad-usemap-declaration", 0, body.take(40))
            dtd
          case Some(mn) =>
            val um = elementNames(lx, fold).foldLeft(dtd.useMaps) { (m, el) =>
              firstWins(m, el, mn).getOrElse(m)
            }
            dtd.copy(useMaps = um)
        }

      case "NOTATION" => dtd // notation identifiers carry no parse behavior

      case other =>
        errs += ParseErr("unknown-declaration", 0, other)
        dtd
    }
    (out, errs.result())
  }

  /** SGML keeps the FIRST declaration of a name: `m` with `k -> v` added,
    * or None when `k` is already declared. */
  private def firstWins[V](m: Map[String, V], k: String, v: V): Option[Map[String, V]] =
    if (m.contains(k)) None else Some(m.updated(k, v))

  // `name | (a|b|c)` element-name target of ELEMENT/ATTLIST
  private def elementNames(lx: Lex, fold: String => String): List[String] =
    parseGroupNames(lx, fold).getOrElse(lx.name().map(fold).toList)

  private def parseGroupNames(lx: Lex, fold: String => String): Option[List[String]] = {
    lx.save()
    lx.punct() match {
      case Some('(') =>
        val ns = mutable.ListBuffer.empty[String]
        var go = true
        while (go) {
          lx.name().foreach(n => ns += fold(n))
          lx.punct() match {
            case Some(')') => go = false
            case Some('|') | Some(',') | Some('&') =>
            case _ => go = false
          }
        }
        Some(ns.toList)
      case _ => lx.restore(); None
    }
  }

  private def parseContent(lx: Lex, fold: String => String,
      errs: mutable.Builder[ParseErr, Vector[ParseErr]]): ContentKind = {
    lx.save()
    lx.name() match {
      case Some(k) => k.toUpperCase match {
        case "EMPTY"  => ContentKind.Empty
        case "CDATA"  => ContentKind.Cdata
        case "RCDATA" => ContentKind.Rcdata
        case "ANY"    => ContentKind.Any
        case _ =>
          lx.restore()
          parseGroup(lx, fold, errs, 1).map(ContentKind.Modelled).getOrElse(ContentKind.Any)
      }
      case None =>
        lx.restore()
        parseGroup(lx, fold, errs, 1).map(ContentKind.Modelled).getOrElse(ContentKind.Any)
    }
  }

  /** `( item (conn item)* ) card?` — connector must be uniform per group;
    * `depth` counts the groups open here, at most `MaxGroupDepth`. */
  private def parseGroup(lx: Lex, fold: String => String,
      errs: mutable.Builder[ParseErr, Vector[ParseErr]], depth: Int): Option[Model] = {
    if (depth > MaxGroupDepth) throw GroupTooDeep
    lx.save()
    if (!lx.punct().contains('(')) { lx.restore(); return None }
    val items = mutable.ListBuffer.empty[Model]
    var conn: Char = 0
    var go = true
    while (go) {
      parseItem(lx, fold, errs, depth) match {
        case Some(it) => items += it
        case None =>
      }
      lx.punct() match {
        case Some(')') => go = false
        case Some(c @ (',' | '|' | '&')) =>
          if (conn == 0) conn = c
          else if (conn != c) errs += ParseErr("mixed-connectors", 0, s"$conn vs $c")
        case _ => go = false
      }
    }
    val base: Model =
      if (items.isEmpty) Model.PcData
      else if (items.size == 1) items.head
      else conn match {
        case '|' => Model.Alt(items.toList)
        case '&' => Model.All(items.toList)
        case _   => Model.MSeq(items.toList)
      }
    Some(applyCard(lx, base))
  }

  private def parseItem(lx: Lex, fold: String => String,
      errs: mutable.Builder[ParseErr, Vector[ParseErr]], depth: Int): Option[Model] = {
    lx.save()
    lx.punct() match {
      case Some('(') => lx.restore(); parseGroup(lx, fold, errs, depth + 1)
      case Some('#') =>
        lx.name() // PCDATA
        Some(Model.PcData)
      case _ =>
        lx.restore()
        lx.name().map(n => applyCard(lx, Model.Ref(fold(n))))
    }
  }

  private def applyCard(lx: Lex, m: Model): Model = {
    lx.save()
    lx.punct() match {
      case Some('?') => Model.Opt(m)
      case Some('*') => Model.Star(m)
      case Some('+') => Model.Plus(m)
      case _         => lx.restore(); m
    }
  }

  private def parseAttrType(lx: Lex, fold: String => String,
      errs: mutable.Builder[ParseErr, Vector[ParseErr]]): AttrType = {
    import AttrType._
    lx.save()
    lx.punct() match {
      case Some('(') =>
        lx.restore()
        parseGroupNames(lx, fold).map(ns => TEnum(ns.toSet)).getOrElse(TCdata)
      case _ =>
        lx.restore()
        lx.name().map(_.toUpperCase) match {
          case Some("CDATA")    => TCdata
          case Some("ID")       => TId
          case Some("IDREF")    => TIdRef
          case Some("IDREFS")   => TIdRefs
          case Some("NAME")     => TName
          case Some("NAMES")    => TNames
          case Some("NMTOKEN")  => TNmToken
          case Some("NMTOKENS") => TNmTokens
          case Some("NUMBER")   => TNumber
          case Some("NUMBERS")  => TNumbers
          case Some("NUTOKEN")  => TNuToken
          case Some("NUTOKENS") => TNuTokens
          case Some("ENTITY") | Some("ENTITIES") => TCdata
          case Some("NOTATION") =>
            TNotation(parseGroupNames(lx, fold).map(_.toSet).getOrElse(Set.empty))
          case other =>
            errs += ParseErr("bad-attr-type", 0, other.getOrElse("?"))
            TCdata
        }
    }
  }

  private def parseAttrDefault(lx: Lex,
      errs: mutable.Builder[ParseErr, Vector[ParseErr]]): AttrDefault = {
    import AttrDefault._
    lx.save()
    lx.punct() match {
      case Some('#') =>
        lx.name().map(_.toUpperCase) match {
          case Some("REQUIRED") => Required
          case Some("IMPLIED")  => Implied
          case Some("CURRENT")  => Current
          case Some("CONREF")   => Conref
          case Some("FIXED")    => Fixed(lx.literal().getOrElse(""))
          case other =>
            errs += ParseErr("bad-attr-default", 0, other.getOrElse("?")); Implied
        }
      case _ =>
        lx.restore()
        lx.literal() match {
          case Some(v) => Value(v)
          case None => lx.name() match {
            case Some(v) => Value(v)
            case None    => Implied
          }
        }
    }
  }

  private def expandCharRefs(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&' && i + 2 < s.length && s.charAt(i + 1) == '#') {
        var k = i + 2
        while (k < s.length && s.charAt(k) != ';') k += 1
        Entities.charRef(s.substring(i + 2, k)) match {
          case Some(t) => sb.append(t); i = math.min(k + 1, s.length)
          case None    => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private[sgml] def isNameStart(c: Char): Boolean = XmlChars.isNameStart(c)
  private[sgml] def isNameChar(c: Char): Boolean = XmlChars.isNameChar(c)

  /** Tiny backtracking lexer over a declaration body. */
  private final class Lex(s: String) {
    private var i = 0
    private var mark = 0
    def save(): Unit = mark = i
    def restore(): Unit = i = mark
    def skipRest(): Unit = i = s.length
    private def ws(): Unit = {
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      // declaration-internal SGML comments: -- … --
      if (i + 1 < s.length && s.charAt(i) == '-' && s.charAt(i + 1) == '-') {
        val e = s.indexOf("--", i + 2)
        i = if (e < 0) s.length else e + 2
        ws()
      }
    }
    def name(): Option[String] = {
      ws()
      if (i < s.length && (isNameStart(s.charAt(i)) || s.charAt(i).isDigit)) {
        val st = i
        while (i < s.length && isNameChar(s.charAt(i))) i += 1
        Some(s.substring(st, i))
      } else None
    }
    def punct(): Option[Char] = {
      ws()
      if (i < s.length && !isNameStart(s.charAt(i)) && !s.charAt(i).isDigit &&
          !s.charAt(i).isWhitespace) {
        val c = s.charAt(i); i += 1; Some(c)
      } else None
    }
    def literal(): Option[String] = {
      ws()
      if (i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
        val q = s.charAt(i)
        val st = i + 1
        var j = st
        while (j < s.length && s.charAt(j) != q) j += 1
        i = math.min(j + 1, s.length)
        Some(s.substring(st, math.min(j, s.length)))
      } else None
    }
    /** SGML omission flag: '-' → false(required), 'O'/'o' → true(omissible). */
    def flag(): Option[Boolean] = {
      ws()
      if (i < s.length) s.charAt(i) match {
        case '-' =>
          // must not be the start of an exclusion group `-(`
          if (i + 1 < s.length && s.charAt(i + 1) == '(') None
          else { i += 1; Some(false) }
        case 'O' | 'o' if i + 1 >= s.length || !isNameChar(s.charAt(i + 1)) =>
          i += 1; Some(true)
        case _ => None
      } else None
    }
  }
}
