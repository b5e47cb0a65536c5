package graft.pdf

import scala.collection.mutable
import scala.util.control.NonFatal

/** Minimal PDF object model + parser — the "PDF/layout parse" leg of the
  * extraction pipeline (BASELINE.json north rule; the SGML/HTML leg is
  * graft.sgml). Self-contained on the JDK: Flate streams inflate via
  * `java.util.zip.Inflater`, no external codecs.
  *
  * Scope (documented contract, tuned for content extraction at scale):
  *  - full PDF object syntax: numbers, names, literal `(…)` strings with
  *    escapes, hex `<…>` strings, arrays, dictionaries, indirect refs,
  *    booleans, null, streams (`/FlateDecode` or raw);
  *  - document structure by robust linear object scan (`N G obj …
  *    endobj`) — xref tables are not required to be intact, which is the
  *    right trade-off for crawled/truncated PDFs (a malformed doc yields
  *    partial text + errors, never a throw);
  *  - page tree traversal from /Root → /Pages → /Kids for page order,
  *    falling back to object order when the tree is broken;
  *  - text extraction from content streams: BT/ET, Tj/TJ/'/" shows,
  *    line tracking via Td, TD, T-star and Tm (a new line emits '\n');
  *    font tracking via Tf against the page's /Resources /Font dict —
  *    when the selected font carries a /ToUnicode CMap, show strings
  *    decode through it (codespacerange width, bfchar pairs, bfrange in
  *    both sequential and array form — the common embedded/subset-font
  *    shapes); simple fonts with /Encoding /Differences decode through
  *    the override table (glyph names via the uniXXXX convention + a
  *    curated AGL subset, WinAnsi/Latin-1 base); without either, strings
  *    decode as UTF-16BE when BOM-prefixed, Latin-1 otherwise. Not
  *    interpreted: predefined CID CMap names (Identity-H ordering tables
  *    etc. — rare in crawled text PDFs relative to ToUnicode, which
  *    writers emit for copy-paste).
  */
object Pdf {

  sealed trait PObj
  case object PNull extends PObj
  final case class PBool(b: Boolean) extends PObj
  final case class PNum(d: Double) extends PObj { def toInt: Int = d.toInt }
  final case class PName(s: String) extends PObj
  final case class PStr(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(m: Map[String, PObj]) extends PObj {
    def get(k: String): Option[PObj] = m.get(k)
  }
  final case class PRef(num: Int, gen: Int) extends PObj
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  final case class PdfError(code: String, offset: Int, detail: String)

  /** A parsed document: indirect objects + trailer dict (if found). */
  final class Document(
      val objects: Map[Int, PObj],
      val trailer: Option[PDict],
      val errors: Vector[PdfError]) {

    def resolve(o: PObj): PObj = o match {
      case PRef(n, _) => objects.getOrElse(n, PNull)
      case other      => other
    }

    private def dictOf(o: PObj): Option[PDict] = resolve(o) match {
      case d: PDict   => Some(d)
      case s: PStream => Some(s.dict)
      case _          => None
    }

    /** Page objects in document order (Kids traversal; fallback: object-
      * number order over /Type /Page dicts). */
    def pages: Vector[PDict] = {
      val viaTree = for {
        tr <- trailer
        root <- tr.get("Root").flatMap(dictOf)
        pagesRoot <- root.get("Pages").flatMap(dictOf)
      } yield {
        val out = Vector.newBuilder[PDict]
        def walk(node: PDict, depth: Int): Unit = {
          if (depth > 64) return // cycle guard
          node.get("Type").map(resolve) match {
            case Some(PName("Page")) => out += node
            case _ =>
              node.get("Kids").map(resolve) match {
                case Some(PArr(kids)) =>
                  kids.foreach(k => dictOf(k).foreach(walk(_, depth + 1)))
                case _ =>
                  if (node.get("Contents").isDefined) out += node
              }
          }
        }
        walk(pagesRoot, 0)
        out.result()
      }
      viaTree.filter(_.nonEmpty).getOrElse {
        objects.toVector.sortBy(_._1).collect {
          case (_, d: PDict) if d.get("Type").contains(PName("Page")) => d
        }
      }
    }

    /** Decoded content-stream bytes of one page (multiple streams concat). */
    def pageContent(page: PDict): Array[Byte] = {
      val streams: Seq[PStream] = page.get("Contents").map(resolve) match {
        case Some(s: PStream) => Seq(s)
        case Some(PArr(items)) =>
          items.flatMap(i => resolve(i) match {
            case s: PStream => Some(s); case _ => None
          })
        case _ => Nil
      }
      val out = new java.io.ByteArrayOutputStream()
      streams.foreach(s => out.write(decodeStream(s)))
      out.toByteArray
    }

    /** Inflate /FlateDecode; pass through unfiltered data. Unknown
      * filters yield empty (recorded extraction gap, not a throw). */
    def decodeStream(s: PStream): Array[Byte] =
      s.dict.get("Filter").map(resolve) match {
        case None => s.raw
        case Some(PName("FlateDecode")) => inflate(s.raw)
        case Some(PArr(Vector(PName("FlateDecode")))) => inflate(s.raw)
        case Some(_) => Array.emptyByteArray
      }

    /** Text decoders of a page's fonts, keyed by resource name (the
      * operand of Tf): a /ToUnicode CMap when present (takes precedence —
      * it is the authoritative extraction map), else a simple /Encoding
      * with /Differences. Only the page's own /Resources are consulted
      * (the writer twin and typical crawled PDFs put them there;
      * /Pages-level inheritance is not walked). */
    def fontDecoders(page: PDict): Map[String, TextDecoder] =
      (for {
        res <- page.get("Resources").flatMap(dictOf).toSeq
        fonts <- res.get("Font").flatMap(dictOf).toSeq
        (name, fref) <- fonts.m.toSeq
        fd <- dictOf(fref).toSeq
        dec <- decoderOf(fd).toSeq
      } yield name -> dec).toMap

    private def decoderOf(fd: PDict): Option[TextDecoder] = {
      val viaCMap = fd.get("ToUnicode").map(resolve).collect {
        case s: PStream => parseCMap(decodeStream(s))
      }
      viaCMap.orElse {
        fd.get("Encoding").map(resolve).flatMap {
          case enc: PDict =>
            val base = enc.get("BaseEncoding") match {
              case Some(PName(n)) => n
              case _ => ""
            }
            enc.get("Differences").map(resolve) match {
              case Some(PArr(items)) => Some(parseDifferences(items, base))
              case _ => None // bare base encoding: default decode is fine
            }
          case _ => None // named encodings ≈ Latin-1/WinAnsi default path
        }
      }
    }
  }

  /** A per-font show-string decoder (ToUnicode CMap or simple-encoding
    * /Differences table). */
  sealed trait TextDecoder { def decode(b: Array[Byte]): String }

  /** Simple-font /Differences decoding: a 256-slot override table on top
    * of the base single-byte encoding (WinAnsi ≈ windows-1252, else
    * Latin-1). Glyph names resolve via the `uniXXXX`/`uXXXXXX` convention
    * and a curated Adobe-Glyph-List subset; unresolvable names decode to
    * U+FFFD (visible, not silent). */
  final class DiffEncoding(overrides: Array[String], base: java.nio.charset.Charset)
      extends TextDecoder {
    def decode(b: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(b.length)
      var i = 0
      while (i < b.length) {
        val code = b(i) & 0xFF
        val o = overrides(code)
        if (o != null) sb.append(o)
        else sb.append(new String(b, i, 1, base))
        i += 1
      }
      sb.toString
    }
  }

  private[pdf] def parseDifferences(items: Vector[PObj], baseEncoding: String): DiffEncoding = {
    val table = new Array[String](256)
    var code = 0
    items.foreach {
      case PNum(n) => code = n.toInt
      case PName(g) =>
        if (code >= 0 && code < 256) {
          table(code) = glyphToUnicode(g).getOrElse("�")
          code += 1
        }
      case _ =>
    }
    val cs =
      if (baseEncoding == "WinAnsiEncoding")
        java.nio.charset.Charset.forName("windows-1252")
      else java.nio.charset.StandardCharsets.ISO_8859_1
    new DiffEncoding(table, cs)
  }

  /** Glyph name → replacement text: the AGL `uniXXXX` / `uXXXX(XX)` hex
    * conventions (exact, covers every subset-font name a modern writer
    * emits), then a curated subset of the Adobe Glyph List for the names
    * legacy simple fonts actually use (Latin letters/digits/punctuation
    * are identity through the base encoding, so only non-trivial names
    * need entries). */
  def glyphToUnicode(g: String): Option[String] = {
    if (g.length >= 7 && g.startsWith("uni")) {
      try {
        val cp = Integer.parseInt(g.substring(3, 7), 16)
        return Some(new String(Character.toChars(cp)))
      } catch { case _: NumberFormatException => }
    }
    if (g.length >= 5 && g.length <= 7 && g.charAt(0) == 'u') {
      try {
        val cp = Integer.parseInt(g.substring(1), 16)
        if (cp >= 0 && cp <= 0x10FFFF) return Some(new String(Character.toChars(cp)))
      } catch { case _: NumberFormatException => }
    }
    AglSubset.get(g)
  }

  private val AglSubset: Map[String, String] = Map(
    "Euro" -> "€", "emdash" -> "—", "endash" -> "–",
    "quoteleft" -> "‘", "quoteright" -> "’",
    "quotedblleft" -> "“", "quotedblright" -> "”",
    "quotesinglbase" -> "‚", "quotedblbase" -> "„",
    "bullet" -> "•", "ellipsis" -> "…", "dagger" -> "†",
    "daggerdbl" -> "‡", "perthousand" -> "‰",
    "guilsinglleft" -> "‹", "guilsinglright" -> "›",
    "guillemotleft" -> "«", "guillemotright" -> "»",
    "trademark" -> "™", "copyright" -> "©", "registered" -> "®",
    "degree" -> "°", "plusminus" -> "±", "mu" -> "µ",
    "periodcentered" -> "·", "middot" -> "·",
    "section" -> "§", "paragraph" -> "¶", "florin" -> "ƒ",
    "cent" -> "¢", "sterling" -> "£", "yen" -> "¥",
    "currency" -> "¤", "brokenbar" -> "¦",
    "exclamdown" -> "¡", "questiondown" -> "¿",
    "agrave" -> "à", "aacute" -> "á", "acircumflex" -> "â",
    "atilde" -> "ã", "adieresis" -> "ä", "aring" -> "å",
    "ae" -> "æ", "ccedilla" -> "ç",
    "egrave" -> "è", "eacute" -> "é", "ecircumflex" -> "ê",
    "edieresis" -> "ë", "igrave" -> "ì", "iacute" -> "í",
    "icircumflex" -> "î", "idieresis" -> "ï", "eth" -> "ð",
    "ntilde" -> "ñ", "ograve" -> "ò", "oacute" -> "ó",
    "ocircumflex" -> "ô", "otilde" -> "õ", "odieresis" -> "ö",
    "divide" -> "÷", "oslash" -> "ø", "ugrave" -> "ù",
    "uacute" -> "ú", "ucircumflex" -> "û", "udieresis" -> "ü",
    "yacute" -> "ý", "thorn" -> "þ", "ydieresis" -> "ÿ",
    "Agrave" -> "À", "Aacute" -> "Á", "Adieresis" -> "Ä",
    "Aring" -> "Å", "AE" -> "Æ", "Ccedilla" -> "Ç",
    "Egrave" -> "È", "Eacute" -> "É", "Ntilde" -> "Ñ",
    "Odieresis" -> "Ö", "Oslash" -> "Ø", "Udieresis" -> "Ü",
    "germandbls" -> "ß", "OE" -> "Œ", "oe" -> "œ",
    "Scaron" -> "Š", "scaron" -> "š", "Zcaron" -> "Ž",
    "zcaron" -> "ž", "Ydieresis" -> "Ÿ",
    "circumflex" -> "ˆ", "tilde" -> "˜",
    "minus" -> "−", "fraction" -> "⁄", "fi" -> "ﬁ",
    "fl" -> "ﬂ", "space" -> " ", "nbspace" -> " ",
    "hyphen" -> "-", "softhyphen" -> "­")

  // ------------------------------------------------------------- ToUnicode

  /** A parsed /ToUnicode CMap: fixed code width (1 or 2 bytes, from
    * codespacerange) + code → replacement-text map. Unmapped 1-byte codes
    * fall back to Latin-1 (PDFDocEncoding's printable range); unmapped
    * 2-byte codes emit U+FFFD — mojibake is made VISIBLE, not silent. */
  final class CMap(val codeBytes: Int, val map: Map[Int, String]) extends TextDecoder {
    def decode(b: Array[Byte]): String = {
      val sb = new java.lang.StringBuilder(b.length)
      var i = 0
      while (i + codeBytes <= b.length) {
        var code = 0
        var k = 0
        while (k < codeBytes) { code = (code << 8) | (b(i + k) & 0xFF); k += 1 }
        map.get(code) match {
          case Some(s) => sb.append(s)
          case None =>
            if (codeBytes == 1) sb.append(code.toChar) else sb.append('�')
        }
        i += codeBytes
      }
      sb.toString
    }
  }

  /** Parse a (decoded) CMap stream: `begincodespacerange` fixes the code
    * width, `beginbfchar` pairs and `beginbfrange` triples (sequential
    * `<lo> <hi> <dstStart>` — last UTF-16 code unit increments — and
    * array `<lo> <hi> [<d1> …]` forms) fill the map. Tolerant of the
    * surrounding PostScript boilerplate (skipped tokens); never throws. */
  def parseCMap(data: Array[Byte]): CMap = {
    val lx = new Lexer(data)
    val m = mutable.Map.empty[Int, String]
    var codeBytes = 0
    def codeOf(b: Array[Byte]): Int = {
      var v = 0
      b.foreach(x => v = (v << 8) | (x & 0xFF))
      v
    }
    def utf16(b: Array[Byte]): String =
      new String(b, java.nio.charset.StandardCharsets.UTF_16BE)
    def noteWidth(src: Array[Byte]): Unit =
      if (codeBytes == 0 && src.length > 0) codeBytes = math.min(2, src.length)
    var go = true
    var guard = 1 << 20
    while (go && guard > 0) {
      guard -= 1
      lx.token() match {
        case TEof => go = false
        case TKw("begincodespacerange") =>
          var inner = true
          while (inner) lx.token() match {
            case TStr(lo) => noteWidth(lo) // the hi bound token follows; skipped
            case TKw("endcodespacerange") | TEof => inner = false
            case _ =>
          }
        case TKw("beginbfchar") =>
          var inner = true
          while (inner) lx.token() match {
            case TStr(src) => lx.token() match {
              case TStr(dst) => noteWidth(src); m(codeOf(src)) = utf16(dst)
              case _ => inner = false
            }
            case TKw("endbfchar") | TEof => inner = false
            case _ =>
          }
        case TKw("beginbfrange") =>
          var inner = true
          while (inner) lx.token() match {
            case TStr(lo0) =>
              noteWidth(lo0)
              val lo = codeOf(lo0)
              lx.token() match {
                case TStr(hi0) =>
                  val hi = math.min(codeOf(hi0), lo + 0xFFFF) // range-size valve
                  lx.token() match {
                    case TStr(dst) => // sequential: last code unit increments
                      val base = utf16(dst)
                      if (base.nonEmpty) {
                        var c = lo
                        while (c <= hi) {
                          val last = (base.charAt(base.length - 1) + (c - lo)).toChar
                          m(c) = base.substring(0, base.length - 1) + last
                          c += 1
                        }
                      }
                    case TArrOpen => // array form: one dst string per code
                      var c = lo
                      var arr = true
                      while (arr) lx.token() match {
                        case TStr(dst) => if (c <= hi) { m(c) = utf16(dst); c += 1 }
                        case TArrClose | TEof => arr = false
                        case _ =>
                      }
                    case _ => inner = false
                  }
                case _ => inner = false
              }
            case TKw("endbfrange") | TEof => inner = false
            case _ =>
          }
        case _ => // PostScript boilerplate (findresource, dicts, cid ops): skip
      }
    }
    new CMap(if (codeBytes == 0) 2 else codeBytes, m.toMap)
  }

  def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        else if (n == 0 && inf.needsDictionary()) return out.toByteArray
      }
      out.toByteArray
    } catch {
      case _: java.util.zip.DataFormatException => Array.emptyByteArray
    } finally inf.end()
  }

  // ----------------------------------------------------------- doc parse

  /** Parse a whole PDF byte array by linear object scan. Never throws. */
  def parse(bytes: Array[Byte]): Document = {
    val errs = Vector.newBuilder[PdfError]
    val objs = mutable.Map.empty[Int, PObj]
    var trailer: Option[PDict] = None
    val lx = new Lexer(bytes)
    var guard = 1 << 20
    while (!lx.atEnd && guard > 0) {
      guard -= 1
      val start = lx.pos
      lx.token() match {
        case TInt(n) =>
          lx.save()
          (lx.token(), lx.token()) match {
            case (TInt(_), TKw("obj")) =>
              parseValue(lx, errs, 0) match {
                case d: PDict if lx.tryKeyword("stream") =>
                  val raw = lx.readStreamData(streamLength(d, objs))
                  objs(n) = PStream(d, raw)
                  lx.tryKeyword("endstream")
                  lx.tryKeyword("endobj")
                case v =>
                  objs(n) = v
                  lx.tryKeyword("endobj")
              }
            case _ => lx.restore() // stray number (xref rows etc.)
          }
        case TKw("trailer") =>
          parseValue(lx, errs, 0) match {
            case d: PDict => trailer = Some(d)
            case _ =>
          }
        case TKw("startxref") => lx.token() // the offset int; ignored
        case TEof => guard = 0
        case TErr(msg) =>
          errs += PdfError("pdf-lex", start, msg)
        case _ => // comments/xref noise between objects: skip
      }
    }
    // PDF 1.5 compressed object streams (/Type /ObjStm): first-class in
    // real-world PDFs — inflate each, parse the `num offset` header
    // pairs, then parse the member objects. Members never override
    // already-scanned top-level objects (same first-wins robustness).
    objs.toSeq.collect {
      case (_, s: PStream) if s.dict.get("Type").contains(PName("ObjStm")) => s
    }.foreach { s =>
      val data = new Document(objs.toMap, None, Vector.empty).decodeStream(s)
      val n = s.dict.get("N") match {
        case Some(PNum(v)) => v.toInt
        case _ => 0
      }
      val first = s.dict.get("First") match {
        case Some(PNum(v)) => v.toInt
        case _ => 0
      }
      if (n > 0 && data.nonEmpty) {
        val hl = new Lexer(data)
        val header = Vector.newBuilder[(Int, Int)]
        var i = 0
        var ok = true
        while (i < n && ok) {
          (hl.token(), hl.token()) match {
            case (TInt(num), TInt(off)) => header += ((num, off))
            case _ => ok = false
          }
          i += 1
        }
        header.result().foreach { case (num, off) =>
          if (!objs.contains(num) && first + off >= 0 && first + off < data.length) {
            val ol = new Lexer(data)
            ol.pos = first + off
            objs(num) = parseValue(ol, errs, 0)
          }
        }
      }
    }
    // fallback trailer: a catalog object makes an implicit root
    if (trailer.isEmpty) {
      objs.toSeq.sortBy(_._1).collectFirst {
        case (n, d: PDict) if d.get("Type").contains(PName("Catalog")) =>
          PDict(Map("Root" -> PRef(n, 0)))
      }.foreach(d => trailer = Some(d))
    }
    new Document(objs.toMap, trailer, errs.result())
  }

  private def streamLength(d: PDict, objs: mutable.Map[Int, PObj]): Int =
    d.get("Length") match {
      case Some(PNum(n)) => n.toInt
      case Some(PRef(n, _)) => objs.get(n) match {
        case Some(PNum(v)) => v.toInt
        case _ => -1
      }
      case _ => -1
    }

  /** Parse one value (operand grammar shared by objects and content). */
  private[pdf] def parseValue(lx: Lexer,
      errs: mutable.Builder[PdfError, Vector[PdfError]], depth: Int): PObj = {
    if (depth > 64) return PNull
    lx.token() match {
      case TInt(a) =>
        // `a g R` indirect reference lookahead
        lx.save()
        (lx.token(), lx.token()) match {
          case (TInt(g), TKw("R")) => PRef(a, g)
          case _ => lx.restore(); PNum(a.toDouble)
        }
      case TReal(d)   => PNum(d)
      case TName(s)   => PName(s)
      case TStr(b)    => PStr(b)
      case TKw("true")  => PBool(true)
      case TKw("false") => PBool(false)
      case TKw("null")  => PNull
      case TDictOpen =>
        val m = Map.newBuilder[String, PObj]
        var go = true
        while (go) {
          lx.save()
          lx.token() match {
            case TDictClose => go = false
            case TName(k)   => m += k -> parseValue(lx, errs, depth + 1)
            case TEof       => go = false
            case _ => // tolerate junk keys
          }
        }
        PDict(m.result())
      case TArrOpen =>
        val items = Vector.newBuilder[PObj]
        var go = true
        while (go) {
          lx.save()
          lx.token() match {
            case TArrClose => go = false
            case TEof      => go = false
            case _ => lx.restore(); items += parseValue(lx, errs, depth + 1)
          }
        }
        PArr(items.result())
      case TEof => PNull
      case other =>
        errs += PdfError("pdf-unexpected-token", lx.pos, other.toString)
        PNull
    }
  }

  // -------------------------------------------------------- text extract

  /** PDF text string → String: UTF-16BE with BOM, else Latin-1 (covers
    * PDFDocEncoding's printable range and everything PdfWriter emits). */
  def decodeText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Extract the text of one content stream: shows concatenate; the line
    * operators (Td, TD, T-star, Tm, quote and double-quote) insert a
    * newline. `fonts` maps Tf resource names to their decoders (ToUnicode
    * CMap or /Differences table) — shows under such a font decode through
    * it. */
  def contentText(content: Array[Byte], sb: java.lang.StringBuilder,
      fonts: Map[String, TextDecoder] = Map.empty): Unit = {
    val lx = new Lexer(content)
    val operands = mutable.ArrayBuffer.empty[PObj]
    val noErrs = Vector.newBuilder[PdfError]
    var firstLine = true
    var curCMap: TextDecoder = null // set by Tf; null = simple-encoding decode
    def newline(): Unit = {
      if (!firstLine) sb.append('\n')
      firstLine = false
    }
    def show(o: PObj): Unit = o match {
      case PStr(b) =>
        sb.append(if (curCMap != null) curCMap.decode(b) else decodeText(b))
      case _ =>
    }
    var guard = 1 << 22
    var go = true
    while (go && guard > 0) {
      guard -= 1
      lx.save()
      lx.token() match {
        case TEof => go = false
        case TKw(op) => op match {
          case "Tj" => operands.lastOption.foreach(show); operands.clear()
          case "TJ" => operands.lastOption.foreach {
            case PArr(items) => items.foreach(show)
            case _ =>
          }; operands.clear()
          case "'" => newline(); operands.lastOption.foreach(show); operands.clear()
          case "\"" => newline(); operands.lastOption.foreach(show); operands.clear()
          case "Td" | "TD" | "T*" => newline(); operands.clear()
          case "Tm" => newline(); operands.clear()
          case "BT" => firstLine = true; operands.clear()
          case "Tf" => // `/F1 11 Tf`: select font → its CMap (or none)
            curCMap = operands.collectFirst { case PName(f) => f }
              .flatMap(fonts.get).orNull
            operands.clear()
          case _ => operands.clear() // ET, colors, paths, …
        }
        case _ =>
          lx.restore()
          operands += parseValue(lx, noErrs, 0)
      }
    }
  }

  /** Full-document text + page count. */
  final case class TextResult(text: String, nPages: Int, errors: Vector[PdfError])

  def extractText(bytes: Array[Byte]): TextResult = {
    try {
      val doc = parse(bytes)
      val ps = doc.pages
      val sb = new java.lang.StringBuilder(1024)
      var i = 0
      while (i < ps.length) {
        if (i > 0) sb.append('\n')
        contentText(doc.pageContent(ps(i)), sb, doc.fontDecoders(ps(i)))
        i += 1
      }
      TextResult(sb.toString, ps.length, doc.errors)
    } catch {
      case NonFatal(e) => // backstop: a poisoned doc is data, not a crash
        TextResult("", 0, Vector(PdfError("pdf-internal", 0,
          String.valueOf(e.getMessage).take(120))))
    }
  }

  // ---------------------------------------------------------------- lexer

  sealed trait Tok
  case object TEof extends Tok
  final case class TInt(n: Int) extends Tok
  final case class TReal(d: Double) extends Tok
  final case class TName(s: String) extends Tok
  final case class TStr(bytes: Array[Byte]) extends Tok
  final case class TKw(s: String) extends Tok
  case object TDictOpen extends Tok
  case object TDictClose extends Tok
  case object TArrOpen extends Tok
  case object TArrClose extends Tok
  final case class TErr(msg: String) extends Tok

  /** Byte-level PDF tokenizer with save/restore backtracking. */
  final class Lexer(val b: Array[Byte]) {
    var pos = 0
    private var mark = 0
    def save(): Unit = mark = pos
    def restore(): Unit = pos = mark
    def atEnd: Boolean = { ws(); pos >= b.length }

    private def isWs(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12
    private def isDelim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'

    private def ws(): Unit = {
      var go = true
      while (go) {
        while (pos < b.length && isWs(b(pos) & 0xFF)) pos += 1
        if (pos < b.length && b(pos) == '%') { // comment to EOL
          while (pos < b.length && b(pos) != '\n' && b(pos) != '\r') pos += 1
        } else go = false
      }
    }

    def token(): Tok = {
      ws()
      if (pos >= b.length) return TEof
      val c = b(pos) & 0xFF
      c match {
        case '<' =>
          if (pos + 1 < b.length && b(pos + 1) == '<') { pos += 2; TDictOpen }
          else hexString()
        case '>' =>
          if (pos + 1 < b.length && b(pos + 1) == '>') { pos += 2; TDictClose }
          else { pos += 1; TErr("stray >") }
        case '[' => pos += 1; TArrOpen
        case ']' => pos += 1; TArrClose
        case '(' => literalString()
        case '/' => name()
        case d if (d >= '0' && d <= '9') || d == '+' || d == '-' || d == '.' =>
          number()
        case _ => keyword()
      }
    }

    def tryKeyword(kw: String): Boolean = {
      save()
      token() match {
        case TKw(`kw`) => true
        case _ => restore(); false
      }
    }

    /** Raw stream payload: after the `stream` keyword + EOL, either
      * exactly `len` bytes, or (len < 0) scan for `endstream`. */
    def readStreamData(len: Int): Array[Byte] = {
      if (pos < b.length && b(pos) == '\r') pos += 1
      if (pos < b.length && b(pos) == '\n') pos += 1
      val start = pos
      val end =
        if (len >= 0 && start + len <= b.length) start + len
        else {
          var i = start
          var found = -1
          val pat = "endstream".getBytes
          while (found < 0 && i + pat.length <= b.length) {
            var k = 0
            while (k < pat.length && b(i + k) == pat(k)) k += 1
            if (k == pat.length) found = i else i += 1
          }
          if (found < 0) b.length
          else { // trim the EOL that precedes endstream
            var e = found
            if (e > start && b(e - 1) == '\n') e -= 1
            if (e > start && b(e - 1) == '\r') e -= 1
            e
          }
        }
      pos = end
      java.util.Arrays.copyOfRange(b, start, end)
    }

    private def number(): Tok = {
      val st = pos
      var real = false
      if (b(pos) == '+' || b(pos) == '-') pos += 1
      while (pos < b.length && {
        val c = b(pos) & 0xFF
        if (c == '.') { real = true; true } else c >= '0' && c <= '9'
      }) pos += 1
      val s = new String(b, st, pos - st, java.nio.charset.StandardCharsets.ISO_8859_1)
      if (s.isEmpty || s == "+" || s == "-" || s == ".") TErr("bad number")
      else if (real)
        // never throw from the lexer: `1.2.3` and friends occur in
        // garbage input and must degrade to an error token, not kill
        // the task ("errors are data" contract)
        try TReal(s.toDouble)
        catch { case _: NumberFormatException => TErr(s"bad real: $s") }
      else
        try TInt(s.toInt)
        catch {
          case _: NumberFormatException =>
            try TReal(s.toDouble)
            catch { case _: NumberFormatException => TErr(s"bad number: $s") }
        }
    }

    private def name(): Tok = {
      pos += 1 // '/'
      val sb = new java.lang.StringBuilder(16)
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF)) {
        val c = b(pos) & 0xFF
        if (c == '#' && pos + 2 < b.length) {
          val d1 = Character.digit(b(pos + 1), 16)
          val d2 = Character.digit(b(pos + 2), 16)
          // BOTH digits must be valid hex (`/A#4Z` keeps the literal '#')
          if (d1 >= 0 && d2 >= 0) { sb.append((d1 * 16 + d2).toChar); pos += 3 }
          else { sb.append('#'); pos += 1 }
        } else { sb.append(c.toChar); pos += 1 }
      }
      TName(sb.toString)
    }

    private def keyword(): Tok = {
      val st = pos
      while (pos < b.length && !isWs(b(pos) & 0xFF) && !isDelim(b(pos) & 0xFF))
        pos += 1
      if (pos == st) { pos += 1; TErr("stray delimiter") }
      else TKw(new String(b, st, pos - st, java.nio.charset.StandardCharsets.ISO_8859_1))
    }

    private def hexString(): Tok = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream(32)
      var hi = -1
      var go = true
      while (go && pos < b.length) {
        val c = b(pos) & 0xFF
        pos += 1
        if (c == '>') go = false
        else {
          val d = Character.digit(c, 16)
          if (d >= 0) {
            if (hi < 0) hi = d
            else { out.write(hi * 16 + d); hi = -1 }
          }
        }
      }
      if (hi >= 0) out.write(hi * 16) // odd count: pad with 0
      TStr(out.toByteArray)
    }

    private def literalString(): Tok = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream(64)
      var depth = 1
      while (depth > 0 && pos < b.length) {
        val c = b(pos) & 0xFF
        pos += 1
        c match {
          case '\\' if pos < b.length =>
            val e = b(pos) & 0xFF
            pos += 1
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write(12)
              case '(' => out.write('(')
              case ')' => out.write(')')
              case '\\' => out.write('\\')
              case '\r' => if (pos < b.length && b(pos) == '\n') pos += 1 // line continuation
              case '\n' =>
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && pos < b.length && b(pos) >= '0' && b(pos) <= '7') {
                  v = v * 8 + (b(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xFF)
              case other => out.write(other)
            }
          case '(' => depth += 1; out.write('(')
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
          case other => out.write(other)
        }
      }
      TStr(out.toByteArray)
    }
  }
}
