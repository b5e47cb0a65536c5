package graft.sgml

import scala.collection.mutable

/** DTD data structures + content-model DFA.
  *
  * Reference: `dtd.h` — struct dtd / dtd_element / dtd_edef / dtd_attr /
  * dtd_entity, modelcard/modeltype enums, omit flags [V]; `model.c` —
  * make_state_engine: content-model group → finite-state engine, compiled
  * lazily once per element and cached [V]. We compile with the Glushkov
  * construction and cache it on the element definition; the `Dtd` value is
  * immutable and broadcast-friendly (built once per executor, never per
  * doc — SURVEY.md §4).
  */

/** Content-model expression (`dtd.h — model groups with , & | connectors
  * and ? * + cardinality` [V]). */
sealed trait Model
object Model {
  case object PcData extends Model                      // #PCDATA
  final case class Ref(name: String) extends Model      // element name
  final case class MSeq(ms: List[Model]) extends Model  // a , b
  final case class Alt(ms: List[Model]) extends Model   // a | b
  /** SGML AND-group `a & b` — accepted leniently as `(a|b)*` with the
    * member set preserved for containability (documented approximation;
    * HTML's DTD barely uses `&` and span output is unaffected). */
  final case class All(ms: List[Model]) extends Model
  final case class Opt(m: Model) extends Model          // m?
  final case class Star(m: Model) extends Model         // m*
  final case class Plus(m: Model) extends Model         // m+
}

/** Declared content kind (`dtd.h — content types C_EMPTY/C_CDATA/C_RCDATA/
  * C_ANY` [V]). */
sealed trait ContentKind
object ContentKind {
  case object Empty extends ContentKind
  case object Cdata extends ContentKind   // literal until matching end tag
  case object Rcdata extends ContentKind  // literal but entities expand
  case object Any extends ContentKind
  final case class Modelled(model: Model) extends ContentKind
}

/** Attribute type (`dtd.h — attrtype enum AT_*` [V]). */
sealed trait AttrType
object AttrType {
  case object TCdata extends AttrType
  case object TId extends AttrType
  case object TIdRef extends AttrType
  case object TIdRefs extends AttrType
  case object TName extends AttrType
  case object TNames extends AttrType
  case object TNmToken extends AttrType
  case object TNmTokens extends AttrType
  case object TNumber extends AttrType
  case object TNumbers extends AttrType
  case object TNuToken extends AttrType
  case object TNuTokens extends AttrType
  final case class TNotation(values: Set[String]) extends AttrType
  final case class TEnum(values: Set[String]) extends AttrType

  def isList(t: AttrType): Boolean = t match {
    case TIdRefs | TNames | TNmTokens | TNumbers | TNuTokens => true
    case _ => false
  }
}

/** Attribute default (`dtd.h — attrdef enum: #REQUIRED #IMPLIED #FIXED
  * #CURRENT #CONREF / literal` [V]). */
sealed trait AttrDefault
object AttrDefault {
  case object Required extends AttrDefault
  case object Implied extends AttrDefault
  case object Current extends AttrDefault
  case object Conref extends AttrDefault
  final case class Fixed(v: String) extends AttrDefault
  final case class Value(v: String) extends AttrDefault
}

final case class AttrDecl(name: String, tpe: AttrType, default: AttrDefault)

/** Element definition with SGML omission flags (`dtd.h — dtd_edef omit
  * flags` [V]) and inclusion/exclusion exceptions (`+(X)` / `-(X)`).
  * `names` is the table of the DTD that declared it, which numbers every
  * name the element mentions. */
final case class ElementDef(
    name: String,
    omitStart: Boolean,
    omitEnd: Boolean,
    content: ContentKind,
    inclusions: Set[String] = Set.empty,
    exclusions: Set[String] = Set.empty,
    attrs: Map[String, AttrDecl] = Map.empty,
    names: Names) {

  @transient lazy val id: Int = names.id(name)

  /** Compiled once and cached — mirrors `model.c`'s per-element state-engine
    * cache [V]; null without a content model. @transient: recompiled
    * lazily per JVM rather than shipped (a ParserConfig carrying a catalog
    * Resolver closes over Dtd values). */
  @transient lazy val dfa: Dfa = content match {
    case ContentKind.Modelled(m) => Dfa.compile(m, names)
    case _                       => null
  }

  @transient lazy val inclusionIds: java.util.BitSet = names.bits(inclusions)
  @transient lazy val exclusionIds: java.util.BitSet = names.bits(exclusions)

  /** Can this element ever contain element `id` (omitted-tag repair)? */
  def canContain(id: Int): Boolean =
    content == ContentKind.Any || (dfa != null && dfa.positions(id) != null)

  /** Does the content model admit character data? */
  lazy val mixed: Boolean = content match {
    case ContentKind.Modelled(m) => Dfa.hasPcData(m)
    case ContentKind.Empty       => false
    case _                       => true
  }

  /** Declarations that require ACTION when the attribute is absent
    * (#FIXED / literal default → inject; #REQUIRED → error; #CURRENT →
    * inject the most recently specified value or error). Pre-split so
    * the per-start-tag defaulting pass skips elements whose attlist is
    * all-#IMPLIED (the common case once core attrs are declared on every
    * element) — the hot path stays allocation-free for attr-less tags. */
  @transient lazy val actionAttrs: Array[AttrDecl] =
    attrs.valuesIterator.filter(d => d.default match {
      case AttrDefault.Fixed(_) | AttrDefault.Value(_) | AttrDefault.Required |
           AttrDefault.Current => true
      case _ => false
    }).toArray

  /** Names of #CONREF attributes (ISO 8879 content-reference: when one is
    * SPECIFIED the element's content is empty — no end tag expected).
    * Empty for every HTML/XML element, so the open path pays one length
    * check. */
  @transient lazy val conrefAttrs: Array[String] =
    attrs.valuesIterator.collect {
      case d if d.default == AttrDefault.Conref => d.name
    }.toArray
}

object ElementDef {
  /** Shared empty action list for undeclared elements (hot path). */
  val noActions: Array[AttrDecl] = Array.empty
}

/** Immutable DTD — element map + entity tables (`dtd.h — struct dtd` [V]).
  * `shortrefs`/`useMaps` carry the SHORTREF feature (T14): map name →
  * ordered (delimiter, entity) pairs, and element name → map name (""
  * encodes `#EMPTY` = deactivate). `names` numbers every element name the
  * DTD mentions. */
final case class Dtd(
    doctype: Option[String],
    elements: Map[String, ElementDef],
    entities: Map[String, String],       // general entities → replacement text
    paramEntities: Map[String, String],
    shortrefs: Map[String, List[(String, String)]] = Map.empty,
    useMaps: Map[String, String] = Map.empty,
    names: Names = Names.empty) {

  @transient private lazy val defs: Array[ElementDef] = {
    val a = new Array[ElementDef](names.size)
    elements.foreach { case (n, e) => a(names.id(n)) = e }
    a
  }

  /** The id of element name `name`; -1 when the DTD never mentions it. */
  def id(name: String): Int = names.id(name)
  /** The definition of element `id`; null when it is not declared. */
  def element(id: Int): ElementDef = if (id < 0) null else defs(id)
  def element(name: String): Option[ElementDef] = Option(element(id(name)))

  /** Elements whose start tag is omissible (HTML4: html/head/body/tbody),
    * in stable name order. The omitted-tag repair search iterates these
    * FEW and probes the DFA per candidate — instead of scanning every
    * enabled symbol of the failing model (measured at ~23% of kernel CPU
    * on the old path: a failed `<p>` inside `<p>` scanned the ~40-symbol
    * inline group twice per doc). */
  @transient lazy val omitStartElems: Array[ElementDef] =
    // Tie-break contract: candidates are probed in ALPHABETICAL name
    // order, not content-model order. When several omissible-start
    // elements are simultaneously steppable from the same DFA state the
    // inserted element is the alphabetically first — deterministic, and
    // indistinguishable for the bundled HTML4 DTD (its candidates —
    // tbody/head/body — are never steppable from the same state). A
    // custom DTD needing strict content-model-order repair should not
    // declare multiple concurrently-steppable omissible starts.
    elements.valuesIterator.filter(_.omitStart).toArray.sortBy(_.name)
  /** Fully omissible (start+end) — the one-shot relaxed repair step. */
  @transient lazy val omitStartEndElems: Array[ElementDef] =
    omitStartElems.filter(_.omitEnd)
  /** Omissible-start elements that admit #PCDATA — text repair. */
  @transient lazy val omitStartMixedElems: Array[ElementDef] =
    omitStartElems.filter(_.mixed)

  /** Compiled SHORTREF maps, invalid (unmatchable) delimiters dropped. */
  @transient lazy val compiledShortrefs: Map[String, Array[Shortref.Rule]] =
    shortrefs.map { case (m, prs) =>
      m -> prs.iterator.flatMap { case (d, e) => Shortref.compile(d, e) }.toArray
    }

  /** Merge: `this` takes priority for doctype; for declarations SGML keeps
    * the FIRST declaration seen, so existing entries in `this` win. The
    * merged table extends this one; `other`'s definitions, numbered by
    * their own table, are rebuilt on it unless that table is the merged
    * one. */
  def merge(other: Dtd): Dtd = {
    val ns = if (names.size == 0 || (other.names eq names)) other.names else names ++ other.names.ordered
    val theirs = if (ns eq other.names) other.elements
      else other.elements.map { case (n, e) => n -> e.copy(names = ns) }
    Dtd(
      doctype.orElse(other.doctype),
      theirs ++ elements,
      other.entities ++ entities,
      other.paramEntities ++ paramEntities,
      other.shortrefs ++ shortrefs,
      other.useMaps ++ useMaps,
      ns)
  }
}

/** The element names of a DTD, each numbered by an int id (`dtd.h —
  * dtd_symbol_table` [V]): every declared element and every name a
  * content model or an exception group mentions. A DTD derived from
  * another — by a subset, an in-instance declaration or a merge — extends
  * its table, so an id keeps its name for the rest of a parse. */
final class Names private (private val ids: Map[String, Int]) extends Serializable {
  @transient private lazy val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](ids.size * 2)
    ids.foreach { case (n, i) => m.put(n, i) }
    m
  }

  def size: Int = ids.size
  /** The id of `name`; -1 when the table does not hold it. */
  def id(name: String): Int = { val i = index.get(name); if (i == null) -1 else i }
  /** This table, extended by the names it lacks, numbered in order. */
  def ++(more: IterableOnce[String]): Names = {
    val m = more.iterator.foldLeft(ids)((m, n) => if (m.contains(n)) m else m.updated(n, m.size))
    if (m.size == ids.size) this else new Names(m)
  }
  def ordered: Seq[String] = ids.toSeq.sortBy(_._2).map(_._1)
  def bits(ns: Set[String]): java.util.BitSet = {
    val b = new java.util.BitSet
    ns.foreach(n => b.set(id(n)))
    b
  }
}

object Names {
  val empty: Names = new Names(Map.empty)
}

object Dtd {
  val empty: Dtd = Dtd(None, Map.empty, Map.empty, Map.empty)
}

/** Mutable holder shared by Tokenizer and TreeBuilder: a `<!DOCTYPE … [ … ]>`
  * internal subset updates the DTD mid-parse (`sgml.pl — dtd/2`;
  * `parser.c — declaration mode` [V]). `activeShortrefs` is the SHORTREF
  * map in effect at the current element-stack top (null = none) —
  * maintained by TreeBuilder, read by the Tokenizer's PCDATA path; events
  * flow synchronously, so the read is always consistent. */
final class DtdHolder(var dtd: Dtd) {
  var activeShortrefs: Array[Shortref.Rule] = null
}

/** Glushkov automaton over child-element ids. Immutable; per-element
  * runs live in [[DfaRun]]. Spark-side analogue of `model.c —
  * make_state_engine` [V]. */
final class Dfa private[sgml] (
    val nullable: Boolean,
    val first: Array[Int],
    private val lastBits: Array[Boolean],
    val follow: Array[Array[Int]],
    symOf: Array[Int]) {

  def isLast(p: Int): Boolean = lastBits(p)
  def size: Int = symOf.length
  @transient lazy val isFirst: Array[Boolean] = Array.tabulate(size)(first.contains)

  // Positions per symbol id, open-addressed by id in twice as many slots
  // as positions (an empty slot holds -1 and null): a step reads two int
  // arrays, and the table grows with the model, not with the DTD.
  private val symKeys = Array.fill(Integer.highestOneBit(2 * size + 1) * 2)(-1)
  private val symPos = new Array[Array[Int]](symKeys.length)
  private def slot(sym: Int): Int = {
    var i = sym & (symKeys.length - 1)
    while (symKeys(i) >= 0 && symKeys(i) != sym) i = (i + 1) & (symKeys.length - 1)
    i
  }
  symOf.indices.foreach { p =>
    val i = slot(symOf(p))
    symKeys(i) = symOf(p)
    symPos(i) = if (symPos(i) == null) Array(p) else symPos(i) :+ p
  }

  /** The positions of symbol id `sym`; null when the model never names it. */
  def positions(sym: Int): Array[Int] = symPos(slot(sym))
}

object Dfa {
  import Model._

  /** All element names mentioned in a model. (RefP positions exist only
    * inside compile(), after these helpers run — the @unchecked matches
    * record that invariant instead of warning.) */
  def symbols(m: Model): Set[String] = (m: @unchecked) match {
    case PcData   => Set.empty
    case Ref(n)   => Set(n)
    case MSeq(ms) => ms.flatMap(symbols).toSet
    case Alt(ms)  => ms.flatMap(symbols).toSet
    case All(ms)  => ms.flatMap(symbols).toSet
    case Opt(x)   => symbols(x)
    case Star(x)  => symbols(x)
    case Plus(x)  => symbols(x)
  }

  def hasPcData(m: Model): Boolean = (m: @unchecked) match {
    case PcData   => true
    case Ref(_)   => false
    case MSeq(ms) => ms.exists(hasPcData)
    case Alt(ms)  => ms.exists(hasPcData)
    case All(ms)  => ms.exists(hasPcData)
    case Opt(x)   => hasPcData(x)
    case Star(x)  => hasPcData(x)
    case Plus(x)  => hasPcData(x)
  }

  private final case class RefP(name: String, pos: Int) extends Model

  /** Glushkov construction: positions / nullable / first / last / follow.
    * `&`-groups normalize to `(a|b|…)*`; #PCDATA leaves are dropped (text
    * admission is checked via `ElementDef.mixed`). */
  def compile(model: Model, names: Names): Dfa = {
    def norm(m: Model): Option[Model] = (m: @unchecked) match {
      case PcData  => None
      case r: Ref  => Some(r)
      case MSeq(ms) =>
        val ns = ms.flatMap(norm)
        if (ns.isEmpty) None
        else if (ns.size == 1) Some(ns.head) else Some(MSeq(ns))
      case Alt(ms) =>
        val ns = ms.flatMap(norm)
        val hadPc = ms.exists { case PcData => true; case _ => false }
        if (ns.isEmpty) None
        else {
          val alt = if (ns.size == 1) ns.head else Alt(ns)
          // mixed groups (#PCDATA|a|b) are inherently repeatable in SGML
          if (hadPc) Some(Star(alt)) else Some(alt)
        }
      case All(ms) =>
        val ns = ms.flatMap(norm)
        if (ns.isEmpty) None
        else Some(Star(if (ns.size == 1) ns.head else Alt(ns)))
      case Opt(x)  => norm(x).map(Opt(_))
      case Star(x) => norm(x).map(Star(_))
      case Plus(x) => norm(x).map(Plus(_))
    }

    norm(model) match {
      case None =>
        new Dfa(true, Array.empty, Array.empty, Array.empty, Array.empty)
      case Some(m0) =>
        val syms = mutable.ArrayBuffer.empty[Int]
        def number(mm: Model): Model = mm match {
          case Ref(n)   => syms += names.id(n); RefP(n, syms.size - 1)
          case MSeq(ms) => MSeq(ms.map(number))
          case Alt(ms)  => Alt(ms.map(number))
          case Opt(x)   => Opt(number(x))
          case Star(x)  => Star(number(x))
          case Plus(x)  => Plus(number(x))
          case other    => other
        }
        val nm = number(m0)
        val n = syms.size
        val follow = Array.fill(n)(mutable.LinkedHashSet.empty[Int])

        final case class G(nullable: Boolean, first: Set[Int], last: Set[Int])
        def go(mm: Model): G = mm match {
          case RefP(_, p) => G(nullable = false, Set(p), Set(p))
          case MSeq(ms) =>
            ms.map(go).reduceLeft { (a, b) =>
              a.last.foreach(p => follow(p) ++= b.first)
              G(a.nullable && b.nullable,
                if (a.nullable) a.first ++ b.first else a.first,
                if (b.nullable) a.last ++ b.last else b.last)
            }
          case Alt(ms) =>
            ms.map(go).reduceLeft { (a, b) =>
              G(a.nullable || b.nullable, a.first ++ b.first, a.last ++ b.last)
            }
          case Opt(x) => val g = go(x); G(nullable = true, g.first, g.last)
          case Star(x) =>
            val g = go(x)
            g.last.foreach(p => follow(p) ++= g.first)
            G(nullable = true, g.first, g.last)
          case Plus(x) =>
            val g = go(x)
            g.last.foreach(p => follow(p) ++= g.first)
            G(g.nullable, g.first, g.last)
          case _ => throw new IllegalStateException("normalized away: " + mm)
        }
        val g = go(nm)
        val lastBits = Array.fill(n)(false)
        g.last.foreach(p => lastBits(p) = true)
        // equal position sets share one array (the members of a star or
        // plus group have one follow set, often equal to `first`), so a
        // run sees by identity that a step leaves its candidates as they are
        val shared = mutable.HashMap.empty[Seq[Int], Array[Int]]
        def one(ps: Iterable[Int]): Array[Int] = shared.getOrElseUpdate(ps.toSeq.sorted, ps.toArray.sorted)
        new Dfa(g.nullable, one(g.first), lastBits, follow.map(one), syms.toArray)
    }
  }
}

/** A running automaton for one open element: tracks candidate positions and
  * completeness. One per TreeBuilder stack depth, restarted by `start`
  * for each element opened there.
  *
  * Allocation-free stepping (hot path at 100 TB): candidate sets are kept
  * in two flipping int arrays with a boolean de-dup mark — no per-step
  * collections (mirrors `model.c`'s array-walk state engine [V]). The
  * arrays outlive the element: a restart clears its marks and keeps them,
  * growing them only for a larger automaton. */
final class DfaRun {
  private var dfa: Dfa = null
  // Candidate set = dfa.first until the first step that changes it, then
  // candList[0..nCand) + membership mark array. `from` is the position
  // array the set equals (dfa.first or one follow set), null for a union.
  private var onFirst = true
  private var from: Array[Int] = null
  private var nCand = 0
  private var candList = Array.emptyIntArray
  private var candMark = Array.emptyBooleanArray // membership of candList
  private var nextList = Array.emptyIntArray
  private var nextMark = Array.emptyBooleanArray
  private var complete = false

  /** Start over in `d`'s initial state. */
  def start(d: Dfa): this.type = {
    if (!onFirst) { var k = 0; while (k < nCand) { candMark(candList(k)) = false; k += 1 } }
    dfa = d; onFirst = true; from = d.first; nCand = d.first.length; complete = d.nullable
    this
  }

  private def ensure(): Unit = if (onFirst) {
    if (candMark.length < dfa.size) {
      candMark = new Array[Boolean](dfa.size)
      nextMark = new Array[Boolean](dfa.size)
      nextList = new Array[Int](dfa.size)
      candList = new Array[Int](dfa.size)
    }
    System.arraycopy(dfa.first, 0, candList, 0, nCand)
    var i = 0; while (i < nCand) { candMark(candList(i)) = true; i += 1 }
    onFirst = false
  }

  private def isCand(p: Int): Boolean = if (onFirst) dfa.isFirst(p) else candMark(p)

  /** Try to consume child element id `sym`; false = not allowed here. */
  def step(sym: Int): Boolean = {
    val ps = dfa.positions(sym)
    if (ps == null) return false
    // a position whose follow set is the candidate set: nothing to rebuild
    if (ps.length == 1 && (dfa.follow(ps(0)) eq from) && isCand(ps(0))) {
      complete = dfa.isLast(ps(0))
      return true
    }
    ensure()
    var matchedLast = false
    var matched = 0
    var fs: Array[Int] = null
    var cnt = 0
    var i = 0
    while (i < ps.length) {
      val p = ps(i)
      if (candMark(p)) {
        matched += 1
        if (dfa.isLast(p)) matchedLast = true
        fs = dfa.follow(p)
        var j = 0
        while (j < fs.length) {
          val q = fs(j)
          if (!nextMark(q)) { nextMark(q) = true; nextList(cnt) = q; cnt += 1 }
          j += 1
        }
      }
      i += 1
    }
    if (matched == 0) {
      var k = 0; while (k < cnt) { nextMark(nextList(k)) = false; k += 1 }
      return false
    }
    // clear old membership, then swap current ↔ next (arrays reused)
    var k = 0; while (k < nCand) { candMark(candList(k)) = false; k += 1 }
    val tl = candList; candList = nextList; nextList = tl
    val tm = candMark; candMark = nextMark; nextMark = tm
    nCand = cnt
    from = if (matched == 1) fs else null
    complete = matchedLast
    true
  }

  /** Would `step(sym)` succeed, without consuming? */
  def canStep(sym: Int): Boolean = {
    val ps = dfa.positions(sym)
    if (ps == null) return false
    var i = 0
    while (i < ps.length) { if (isCand(ps(i))) return true; i += 1 }
    false
  }

  def isComplete: Boolean = complete
}
