package graft.sgml

/** Spec-based XPath interpreter over the task-local [[Node]] DOM —
  * the analogue of the reference's `xpath.pl` (`xpath/3`, `xpath_chk/3`
  * [V]), which runs Prolog specs like `//table/tr(2)/@class(lower)`
  * directly over the parsed document term rather than re-parsing
  * serialized XML. Round-1 gap #2 (VERDICT): users porting Prolog
  * queries hit this surface first — Spark's `xpath_*` built-ins cover
  * the W3C subset over serialized strings, but not the spec dialect
  * (positional `(N)`/`(last)`, `@a(lower)`, attribute-equality
  * conditions, first-solution `xpath_chk`).
  *
  * Supported spec grammar (string-encoded Prolog spec dialect):
  * {{{
  *   path    := ('//' | '/')? step ('/' | '//') step ...
  *   step    := '@' NAME ['(' coercion ')']        attribute of context
  *            | 'text' ['(' coercion ')']          text content
  *            | 'self'                             context node itself
  *            | (NAME | '*') ['(' filter,* ')']    element step
  *   filter  := INT | 'last' | 'last-' INT         1-based position among
  *                                                 the step's matches
  *            | '@' NAME '=' value                 attribute condition
  *            | 'contains(' ('@' NAME | 'text') ',' value ')'
  *                                                 substring condition (Q8)
  *            | coercion                           rendering coercion
  *   coercion:= 'lower' | 'upper' | 'string' | 'normalize_space'
  *            | 'number' | 'integer'
  * }}}
  * All-solutions semantics: results stream in document order, depth-first
  * (≡ Prolog backtracking order); [[first]] is `xpath_chk/3`.
  *
  * Scale shape: the interpreter is a pure per-doc function (no Spark
  * dependency) exposed through `sgml_xpath`, a projection of the kernel
  * expression whose spec is parsed once at analysis — a narrow map over
  * documents, exactly like the reference's per-doc Prolog evaluation.
  */
object XPathSpec {

  sealed trait Axis
  case object Child extends Axis
  case object Descendant extends Axis

  sealed trait Filter
  final case class Pos(i: Int) extends Filter
  final case class LastMinus(k: Int) extends Filter // last = LastMinus(0)
  final case class AttrEq(name: String, value: String) extends Filter
  /** contains(@a, v) — attr substring; contains(text, v) — text substring. */
  final case class ContainsF(attr: Option[String], value: String) extends Filter
  final case class Coerce(kind: String) extends Filter

  sealed trait Step
  final case class ElemStep(axis: Axis, name: String, filters: List[Filter]) extends Step
  final case class AttrStep(axis: Axis, name: String, coerce: Option[String]) extends Step
  final case class TextStep(axis: Axis, coerce: Option[String]) extends Step
  case object SelfStep extends Step

  final case class Path(steps: List[Step])

  private val Coercions =
    Set("lower", "upper", "string", "normalize_space", "number", "integer")

  /** Parse a spec string; Left(error) on malformed input (never throws). */
  def parse(spec: String): Either[String, Path] = {
    val s = spec.trim
    if (s.isEmpty) return Left("empty spec")
    var i = 0
    val steps = List.newBuilder[Step]
    var axis: Axis = Child
    def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    def isNameChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_' || c == '-' || c == ':' || c == '.'
    def name(): String = {
      val b = i
      while (i < s.length && isNameChar(s.charAt(i))) i += 1
      s.substring(b, i)
    }
    // a quoted value, or a bare name
    def value(): Either[String, String] =
      if (peek != '\'' && peek != '"') Right(name())
      else {
        val q = peek; i += 1
        val b = i
        while (i < s.length && s.charAt(i) != q) i += 1
        if (i >= s.length) Left("unterminated quoted value")
        else { i += 1; Right(s.substring(b, i - 1)) }
      }
    def filterList(): Either[String, List[Filter]] = {
      // on '(' — parse comma-separated filters to ')'
      i += 1
      val fs = List.newBuilder[Filter]
      var done = false
      while (!done) {
        while (peek == ' ') i += 1
        if (peek == '@') {
          i += 1
          val an = name()
          while (peek == ' ') i += 1
          if (peek != '=') return Left(s"expected '=' in @$an condition")
          i += 1
          while (peek == ' ') i += 1
          val v = value() match { case Right(v) => v; case Left(e) => return Left(e) }
          fs += AttrEq(an, v)
        } else if (peek.isDigit) {
          val b = i
          while (peek.isDigit) i += 1
          fs += Pos(s.substring(b, i).toInt)
        } else {
          val w = name() // note: '-' is a name char, so "last-2" is one token
          if (w == "contains" && peek == '(') {
            i += 1
            while (peek == ' ') i += 1
            val target: Option[String] =
              if (peek == '@') { i += 1; Some(name()) }
              else {
                val t = name()
                if (t != "text") return Left(s"contains() expects @attr or text, got '$t'")
                None
              }
            while (peek == ' ') i += 1
            if (peek != ',') return Left("expected ',' in contains()")
            i += 1
            while (peek == ' ') i += 1
            val v = value() match { case Right(v) => v; case Left(e) => return Left(e) }
            while (peek == ' ') i += 1
            if (peek != ')') return Left("expected ')' closing contains()")
            i += 1
            fs += ContainsF(target, v)
          } else if (w == "last") {
            while (peek == ' ') i += 1
            if (peek == '-') {
              i += 1
              while (peek == ' ') i += 1
              val b = i
              while (peek.isDigit) i += 1
              if (b == i) return Left("expected integer after last-")
              fs += LastMinus(s.substring(b, i).toInt)
            } else fs += LastMinus(0)
          } else if (w.startsWith("last-") && w.drop(5).nonEmpty && w.drop(5).forall(_.isDigit)) {
            fs += LastMinus(w.drop(5).toInt)
          } else if (Coercions(w)) fs += Coerce(w)
          else if (w.isEmpty) return Left(s"bad filter at ${i min s.length}")
          else return Left(s"unknown filter '$w'")
        }
        while (peek == ' ') i += 1
        if (peek == ',') { i += 1 }
        else if (peek == ')') { i += 1; done = true }
        else return Left("expected ',' or ')' in filter list")
      }
      Right(fs.result())
    }
    while (i < s.length) {
      if (peek == '/') {
        i += 1
        if (peek == '/') { i += 1; axis = Descendant } else axis = Child
      }
      if (i >= s.length) return Left("trailing '/'")
      if (peek == '@') {
        i += 1
        val an = name()
        if (an.isEmpty) return Left("expected attribute name after @")
        var co: Option[String] = None
        if (peek == '(') filterList() match {
          case Left(e) => return Left(e)
          case Right(List(Coerce(k))) => co = Some(k)
          case Right(_) => return Left(s"@$an takes a single coercion")
        }
        steps += AttrStep(axis, an, co)
      } else if (peek == '*') {
        i += 1
        var fs: List[Filter] = Nil
        if (peek == '(') filterList() match {
          case Left(e) => return Left(e)
          case Right(l) => fs = l
        }
        steps += ElemStep(axis, "*", fs)
      } else {
        val nm = name()
        if (nm.isEmpty) return Left(s"unexpected character '${peek}' at $i")
        var fs: List[Filter] = Nil
        if (peek == '(') filterList() match {
          case Left(e) => return Left(e)
          case Right(l) => fs = l
        }
        if (nm == "text" && fs.forall(_.isInstanceOf[Coerce]))
          steps += TextStep(axis, fs.collectFirst { case Coerce(k) => k })
        else if (nm == "self" && fs.isEmpty) steps += SelfStep
        else steps += ElemStep(axis, nm, fs)
      }
      axis = Child
      if (i < s.length && peek != '/') return Left(s"expected '/' at $i")
    }
    Right(Path(steps.result()))
  }

  // ------------------------------------------------------------- evaluate

  /** Text content of an element (descendant text, document order). */
  def textContent(n: Node): String = {
    val sb = new StringBuilder
    Node.walk(Seq(n)) {
      case Node.Text(t, _, _) => sb.append(t); false
      case _ => true
    }(_ => ())
    sb.toString
  }

  private def collapseWs(s: String): String =
    s.trim.replaceAll("\\s+", " ")

  private def coerce(v: String, kind: Option[String]): String = kind match {
    case None => v
    case Some("lower") => v.toLowerCase
    case Some("upper") => v.toUpperCase
    case Some("string") => v
    case Some("normalize_space") => collapseWs(v)
    case Some("number") | Some("integer") =>
      // first numeric token, integer-truncated for 'integer' (xpath.pl
      // fails the solution when no number is present → empty here)
      val m = java.util.regex.Pattern.compile("-?\\d+(\\.\\d+)?").matcher(v)
      if (m.find()) {
        val t = m.group()
        if (kind.contains("integer")) t.takeWhile(c => c == '-' || c.isDigit) else t
      } else ""
    case Some(other) => v // unreachable: parser validates
  }

  /** Element children of the context elements. */
  private def childElems(ctx: Vector[Node.Elem]): Vector[Node.Elem] =
    ctx.flatMap(_.children.collect { case e: Node.Elem => e })

  /** Strict element descendants of the context elements (doc order). */
  private def descendantElems(ctx: Vector[Node.Elem]): Vector[Node.Elem] = {
    val out = Vector.newBuilder[Node.Elem]
    ctx.foreach(c => Node.walk(c.children) {
      case e: Node.Elem => out += e; true
      case _ => false
    }(_ => ()))
    out.result()
  }

  private def attrOf(e: Node.Elem, name: String): Option[String] =
    e.attrs.collectFirst { case Attr(n, v) if n == name => v.render }

  /** All element solutions of one step within one context node list. */
  private def elemMatches(ctx: Vector[Node.Elem], st: ElemStep): Vector[Node.Elem] = {
    val pool = st.axis match {
      case Child => childElems(ctx)
      case Descendant => descendantElems(ctx)
    }
    var matched = if (st.name == "*") pool else pool.filter(_.name == st.name)
    st.filters.foreach {
      case AttrEq(a, v) => matched = matched.filter(e => attrOf(e, a).contains(v))
      case ContainsF(Some(a), v) =>
        matched = matched.filter(e => attrOf(e, a).exists(_.contains(v)))
      case ContainsF(None, v) =>
        matched = matched.filter(e => textContent(e).contains(v))
      case _ => ()
    }
    // positional filters index the (condition-filtered) match list, 1-based
    st.filters.foldLeft(matched) {
      case (m, Pos(i)) => if (i >= 1 && i <= m.length) Vector(m(i - 1)) else Vector.empty
      case (m, LastMinus(k)) =>
        val i = m.length - k
        if (i >= 1) Vector(m(i - 1)) else Vector.empty
      case (m, _) => m
    }
  }

  /** All solutions (document order) of `path` against forest `roots`,
    * rendered as strings: elements render as their text content,
    * attributes as their (coerced) value, text steps as (coerced) text. */
  def evalStrings(roots: IndexedSeq[Node], path: Path): Vector[String] = {
    def go(ctx: Vector[Node.Elem], steps: List[Step]): Vector[String] = steps match {
      case Nil => ctx.map(textContent)
      case SelfStep :: rest => go(ctx, rest)
      case TextStep(axis, co) :: Nil =>
        val nodes = axis match {
          case Child => ctx // text of the context node itself
          case Descendant => descendantElems(ctx)
        }
        nodes.map(n => coerce(textContent(n), co))
      case TextStep(_, _) :: _ => Vector.empty // text is terminal
      case AttrStep(axis, a, co) :: Nil =>
        // attribute of the context node(s) — `//p/@class` reads the
        // matched p itself; a descendant-axis `//@a` sweeps the subtree
        val sources = axis match {
          case Child => ctx
          case Descendant => descendantElems(ctx)
        }
        sources.flatMap(e => attrOf(e, a)).map(v => coerce(v, co))
      case AttrStep(_, _, _) :: _ => Vector.empty // attrs are terminal
      case (st: ElemStep) :: rest =>
        // depth-first per solution → document order across solutions
        elemMatches(ctx, st).flatMap(e => go(Vector(e), rest))
    }
    // bootstrap with a virtual root holding the forest: the first step's
    // Child axis then means "root elements" (xpath.pl's root convention);
    // the '#root' name can never match a spec name
    go(Vector(Node.Elem("#root", Nil, roots, 0)), path.steps)
  }

  /** `xpath_chk/3`: first solution or None. */
  def first(roots: IndexedSeq[Node], path: Path): Option[String] =
    evalStrings(roots, path).headOption
}
