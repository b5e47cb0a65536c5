package graft.sgml

/** OASIS SGML Open Catalog (TR9401) parsing + PUBLIC/SYSTEM/DOCTYPE
  * id → DTD resolution.
  *
  * Reference: `catalog.c — register_catalog_file, find_in_catalogue` [V]
  * (~600 LoC upstream: tokenizer for quoted/bare words and `--` comments,
  * entry table, lookup order PUBLIC → SYSTEM → DOCTYPE). This is the
  * Spark-shaped equivalent: the catalog FILE is parsed once driver-side
  * into [[Catalog.Entry]] rows and the referenced DTD files are
  * pre-parsed into a name → [[Dtd]] store; the resulting [[Resolver]] is
  * a pure in-memory lookup, so executors never do per-row file I/O for
  * schema resolution (SURVEY.md S3: broadcast a small map instead).
  *
  * Supported entry kinds: PUBLIC, SYSTEM, DOCTYPE, ENTITY, DTDDECL,
  * SGMLDECL, DELEGATE, CATALOG, OVERRIDE, BASE. DELEGATE/CATALOG targets
  * are recorded but not chased (no I/O here — the driver can parse the
  * delegate catalog and concatenate the entry lists).
  */
object Catalog {

  /** One catalog entry: `kind key value` (value empty for OVERRIDE etc.). */
  final case class Entry(kind: String, key: String, value: String)

  private val Kinds = Set("PUBLIC", "SYSTEM", "DOCTYPE", "ENTITY",
    "DTDDECL", "SGMLDECL", "DELEGATE", "CATALOG", "OVERRIDE", "BASE")
  private val OneArg = Set("SGMLDECL", "CATALOG", "OVERRIDE", "BASE")

  /** Parse TR9401 catalog text: quoted ("…" / '…') or bare tokens,
    * `-- … --` comments. Errors are collected, never thrown. */
  def parseCatalog(text: String): (Vector[Entry], Vector[ParseErr]) = {
    val entries = Vector.newBuilder[Entry]
    val errs = Vector.newBuilder[ParseErr]
    var i = 0
    val n = text.length

    def skipWs(): Unit = {
      var go = true
      while (go) {
        while (i < n && text.charAt(i).isWhitespace) i += 1
        if (i + 1 < n && text.charAt(i) == '-' && text.charAt(i + 1) == '-') {
          val end = text.indexOf("--", i + 2)
          i = if (end < 0) n else end + 2
        } else go = false
      }
    }

    def token(): Option[String] = {
      skipWs()
      if (i >= n) return None
      val c = text.charAt(i)
      if (c == '"' || c == '\'') {
        val q = c; i += 1
        val b = i
        while (i < n && text.charAt(i) != q) i += 1
        if (i >= n) { errs += ParseErr("catalog-unterminated-literal", b, ""); None }
        else { val r = text.substring(b, i); i += 1; Some(r) }
      } else {
        val b = i
        while (i < n && !text.charAt(i).isWhitespace) i += 1
        Some(text.substring(b, i))
      }
    }

    var tok = token()
    while (tok.isDefined) {
      val kind = tok.get.toUpperCase
      if (!Kinds(kind)) {
        errs += ParseErr("catalog-unknown-entry", i, tok.get.take(40))
        token() // skip one arg and resync
      } else if (OneArg(kind)) {
        token() match {
          case Some(v) => entries += Entry(kind, v, "")
          case None => errs += ParseErr("catalog-truncated-entry", i, kind)
        }
      } else {
        (token(), token()) match {
          case (Some(k), Some(v)) => entries += Entry(kind, k, v)
          case _ => errs += ParseErr("catalog-truncated-entry", i, kind)
        }
      }
      tok = token()
    }
    (entries.result(), errs.result())
  }

  /** Parse the external-id tail of a DOCTYPE declaration:
    * `PUBLIC "pubid" ["sysid"]` or `SYSTEM "sysid"` → (pubid?, sysid?). */
  def parseExternalId(rest: String): (Option[String], Option[String]) = {
    val s = rest.trim
    def lit(from: Int): (Option[String], Int) = {
      var i = from
      while (i < s.length && s.charAt(i).isWhitespace) i += 1
      if (i < s.length && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
        val q = s.charAt(i); i += 1
        val b = i
        while (i < s.length && s.charAt(i) != q) i += 1
        if (i < s.length) (Some(s.substring(b, i)), i + 1) else (None, i)
      } else (None, from)
    }
    if (s.regionMatches(true, 0, "PUBLIC", 0, 6)) {
      val (pub, after) = lit(6)
      val (sys, _) = lit(after)
      (pub, sys)
    } else if (s.regionMatches(true, 0, "SYSTEM", 0, 6)) {
      val (sys, _) = lit(6)
      (None, sys)
    } else (None, None)
  }

  /** Pure-lookup resolver: catalog entries + pre-parsed DTD store keyed by
    * the catalog's storage identifiers (exact string, plus basename as a
    * fallback). Built driver-side, shipped as a value (or rebuilt per JVM
    * from the same inputs). */
  final case class Resolver(entries: Vector[Entry], store: Map[String, Dtd])
      extends Serializable {

    private def stored(file: String): Option[Dtd] =
      store.get(file).orElse(store.get(file.substring(file.lastIndexOf('/') + 1)))

    /** Upstream lookup order (catalog.c — find_in_catalogue [V]):
      * PUBLIC exact → SYSTEM exact → DOCTYPE by root name. */
    def resolveExternal(rootName: String, declRest: String): Option[Dtd] = {
      val (pubid, sysid) = parseExternalId(declRest)
      val byPublic = pubid.flatMap(p =>
        entries.collectFirst { case Entry("PUBLIC", k, v) if k == p => v })
      val bySystem = sysid.flatMap(sy =>
        entries.collectFirst { case Entry("SYSTEM", k, v) if k == sy => v })
      val byDoctype = entries.collectFirst {
        case Entry("DOCTYPE", k, v) if k.equalsIgnoreCase(rootName) => v
      }
      byPublic.orElse(bySystem).orElse(byDoctype).flatMap(stored)
        .orElse(resolveDoctype(rootName)) // bundled fallback
    }
  }

  /** Built-in resolver: the pragmatic HTML4 DTD under its conventional
    * ids, matching what the reference auto-loads for html dialects. */
  lazy val bundled: Resolver = Resolver(
    Vector(
      Entry("PUBLIC", "-//W3C//DTD HTML 4.01//EN", "html4.dtd"),
      Entry("PUBLIC", "-//W3C//DTD HTML 4.01 Transitional//EN", "html4.dtd"),
      Entry("DOCTYPE", "html", "html4.dtd")),
    Map("html4.dtd" -> HtmlDtd.dtd))

  /** Doctype → bundled DTD fallback (pre-catalog behavior): an `html`
    * root gets the bundled HTML DTD whatever its external id, so
    * undeclared/unknown HTML ids still resolve. */
  def resolveDoctype(rootName: String): Option[Dtd] =
    if (rootName.toLowerCase == "html") Some(HtmlDtd.dtd) else None
}
