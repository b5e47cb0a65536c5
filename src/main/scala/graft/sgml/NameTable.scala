package graft.sgml

/** Per-parser interning table for element/attribute names — the Spark-side
  * analogue of the reference's interned symbol table (`util.c —
  * dtd_symbol lookup` [V]).
  *
  * A real corpus uses a few dozen distinct names; interning the FOLDED
  * name straight off the tokenizer's StringBuilder means one String
  * allocation per distinct name per parser instead of one per tag, the
  * String hashCode is memoized once ever, stack-name compares hit the
  * reference-equality fast path, and a stored name keeps its DTD id, so a
  * start tag resolves in the DTD without a hash probe.
  *
  * Open addressing, power-of-two table, linear probing. Capacity is
  * CAPPED: an adversarial document with unbounded distinct names stops
  * inserting at `MaxEntries` and falls back to plain materialization —
  * lookups stay correct and memory stays bounded. The table is NOT
  * cleared between documents of one partition (names recur across docs;
  * the cap bounds the lifetime cost).
  */
final class NameTable(fold: Boolean) {

  private val Size = 4096 // power of two
  private val MaxEntries = Size / 2
  private val keys = new Array[String](Size)
  private var n = 0
  // the slot of the name `intern` returned last (-1: not stored); per
  // slot, the id of its name in `table` when its generation is `gen`
  private var last = -1
  private var table: Names = null
  private var gen = 0L
  private val idGen = new Array[Long](Size)
  private val ids = new Array[Int](Size)

  // Per-CHAR case folding (Character.toLowerCase), not String.toLowerCase:
  // identical for ASCII and for the non-ASCII letters that appear in real
  // markup (Ü→ü, É→é, Cyrillic, Greek); the only divergence is the handful
  // of code points whose String lowercase expands to MULTIPLE chars
  // (e.g. İ U+0130) — documented single-char contract, and deterministic.
  private def foldc(c: Char): Char =
    if (!fold) c
    else if (c < 0x80) { if (c >= 'A' && c <= 'Z') (c + 32).toChar else c }
    else Character.toLowerCase(c)

  /** Interned, case-folded copy of `sb`'s content. */
  def intern(sb: java.lang.StringBuilder): String = {
    val len = sb.length
    var h = 0
    var i = 0
    while (i < len) { h = h * 31 + foldc(sb.charAt(i)); i += 1 }
    var idx = h & (Size - 1)
    var probes = 0
    while (probes < Size) {
      val k = keys(idx)
      if (k == null) {
        val s = materialize(sb, len)
        if (n < MaxEntries) { keys(idx) = s; n += 1; last = idx } else last = -1
        return s
      }
      if (k.length == len && sameFolded(k, sb, len)) { last = idx; return k }
      idx = (idx + 1) & (Size - 1)
      probes += 1
    }
    last = -1
    materialize(sb, len) // table pathologically full: still correct
  }

  /** The id of `name`, the name `intern` returned last, in `t`: one hash
    * probe per stored name while `t` stays the table asked, then an array
    * read. Only that one table is held. */
  def id(name: String, t: Names): Int = {
    if (t ne table) { table = t; gen += 1 }
    val s = last
    if (s < 0 || (keys(s) ne name)) return t.id(name)
    if (idGen(s) != gen) { ids(s) = t.id(name); idGen(s) = gen }
    ids(s)
  }

  private def sameFolded(k: String, sb: java.lang.StringBuilder, len: Int): Boolean = {
    var i = 0
    while (i < len) {
      if (k.charAt(i) != foldc(sb.charAt(i))) return false
      i += 1
    }
    true
  }

  private def materialize(sb: java.lang.StringBuilder, len: Int): String = {
    if (!fold) return sb.toString
    val a = new Array[Char](len)
    var i = 0
    while (i < len) { a(i) = foldc(sb.charAt(i)); i += 1 }
    new String(a)
  }
}
