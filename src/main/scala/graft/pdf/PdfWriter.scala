package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.mutable

/** Deterministic minimal PDF writer — the test/corpus twin of [[Pdf]].
  *
  * Emits structurally valid PDF 1.4: catalog → page tree → one content
  * stream per page (one Tj per line, Td line advances), a correct xref
  * table and trailer. One routine, `file`, lays out every file the three
  * page shapes make (Helvetica text, a CMap'd Type0 font, a
  * /Differences-encoded simple font); one, `literal`, escapes every
  * literal string. Text encodes as ASCII-safe literal strings (octal
  * escapes for non-printables, Latin-1 range) or, when a line contains
  * characters above U+00FF, as a BOM-prefixed UTF-16BE hex string — both
  * forms round-trip exactly through `Pdf.extractText`. `compress = true`
  * Flate-encodes every stream (java.util.zip.Deflater, fixed level →
  * byte-deterministic for a given input).
  */
object PdfWriter {

  def singlePage(text: String, compress: Boolean = true): Array[Byte] =
    document(Seq(text), compress)

  def document(pages: Seq[String], compress: Boolean = true): Array[Byte] =
    file(Seq(Left("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")),
      pages.map(text => content(Option(text).getOrElse("").split("\n", -1).map(encodeString): _*)),
      compress)

  /** An object body: `Left` a dictionary, `Right` a stream's data. */
  private type Obj = Either[String, Array[Byte]]

  /** The one file layout: header; catalog (1); page tree (2); the font's
    * objects from 3 on (object 3 is /F1); a page and its content stream
    * per entry of `contents`; xref; trailer. Streams are Flate-encoded
    * when `compress`. */
  private def file(font: Seq[Obj], contents: Seq[Array[Byte]], compress: Boolean): Array[Byte] = {
    val pageNums = contents.indices.map(i => 3 + font.length + 2 * i)
    val objs: Seq[Obj] =
      Seq(Left("<< /Type /Catalog /Pages 2 0 R >>"),
        Left(pageNums.map(n => s"$n 0 R").mkString("<< /Type /Pages /Kids [", " ",
          s"] /Count ${contents.length} >>"))) ++
      font ++
      contents.zip(pageNums).flatMap { case (data, n) =>
        Seq(Left("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${n + 1} 0 R >>"), Right(data))
      }
    val out = new java.io.ByteArrayOutputStream(1024)
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val offsets = objs.zipWithIndex.map { case (obj, i) =>
      val at = out.size()
      w(s"${i + 1} 0 obj\n")
      obj match {
        case Left(dict) => w(dict)
        case Right(raw) =>
          val (data, filter) =
            if (compress) (deflate(raw), " /Filter /FlateDecode") else (raw, "")
          w(s"<< /Length ${data.length}$filter >>\nstream\n")
          out.write(data)
          w("\nendstream")
      }
      w("\nendobj\n")
      at
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    // NB: s-interpolator does NOT collapse %% (only the f-interpolator
    // does) — the marker below is the literal spec-required %%EOF
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\nstartxref\n$xrefAt\n")
    w("%%EOF\n")
    out.toByteArray
  }

  /** One content stream: BT, first string at (72,720), then -14pt
    * advances, one Tj per (already encoded) string. */
  private def content(strings: String*): Array[Byte] =
    strings.map(_ + " Tj").mkString("BT /F1 11 Tf 72 720 Td ", " 0 -14 Td ", " ET")
      .getBytes(ISO_8859_1)

  /** ASCII-safe literal string, or UTF-16BE hex string past Latin-1. */
  private[pdf] def encodeString(s: String): String =
    if (s.forall(_ <= 0xFF)) literal(s)
    else s.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
      .map(b => f"${b & 0xFF}%02X").mkString("<FEFF", "", ">")

  /** The one literal-string writer: `(`, `)` and `\` escaped, and every
    * char outside printable ASCII written as the 3-digit octal escape of
    * its byte, `code(c)`. */
  private def literal(s: String, code: Char => Int = _.toInt): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    sb.append('(')
    s.foreach {
      case c @ ('(' | ')' | '\\') => sb.append('\\').append(c)
      case c if c < 0x20 || c > 0x7E => sb.append('\\').append(f"${code(c)}%03o") // always 3 digits
      case c => sb.append(c)
    }
    sb.append(')').toString
  }

  /** CMap'd-font twin: one page whose text is written as 2-byte codes
    * (code i+1 = the i-th UTF-16 code unit of `text`) under a /Type0 font
    * whose /ToUnicode CMap maps them back. The generator exercises all
    * three CMap entry forms deterministically: maximal consecutive-char
    * runs of length ≥3 become sequential `<lo> <hi> <dstStart>` bfranges,
    * runs of exactly 2 become array-form bfranges, singletons become
    * bfchar pairs. `Pdf.extractText` must round-trip `text` exactly. */
  def cmapPage(text: String, compress: Boolean = true): Array[Byte] = {
    val chars = text.toCharArray
    require(chars.length <= 0xFFFE, "cmapPage: text too long for 2-byte codes")
    val bfchar = mutable.ArrayBuffer.empty[String]
    val bfrange = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < chars.length) {
      var j = i + 1
      while (j < chars.length && chars(j) == chars(j - 1) + 1) j += 1
      val len = j - i
      if (len >= 3)
        bfrange += f"<${i + 1}%04X> <$j%04X> <${chars(i).toInt}%04X>"
      else if (len == 2)
        bfrange += f"<${i + 1}%04X> <$j%04X> [<${chars(i).toInt}%04X> <${chars(i + 1).toInt}%04X>]"
      else
        bfchar += f"<${i + 1}%04X> <${chars(i).toInt}%04X>"
      i = j
    }
    val cmap = new java.lang.StringBuilder(256)
    cmap.append("/CIDInit /ProcSet findresource begin\nbegincmap\n")
    cmap.append("1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n")
    cmap.append(s"${bfchar.length} beginbfchar\n")
    bfchar.foreach(l => cmap.append(l).append('\n'))
    cmap.append("endbfchar\n")
    cmap.append(s"${bfrange.length} beginbfrange\n")
    bfrange.foreach(l => cmap.append(l).append('\n'))
    cmap.append("endbfrange\nendcmap\nend\n")

    val codesHex = new java.lang.StringBuilder(chars.length * 4 + 2)
    codesHex.append('<')
    var k = 0
    while (k < chars.length) { codesHex.append(f"${k + 1}%04X"); k += 1 }
    codesHex.append('>')
    file(Seq(Left("<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic /ToUnicode 4 0 R >>"),
      Right(cmap.toString.getBytes(ISO_8859_1))),
      Seq(content(codesHex.toString)), compress)
  }

  /** /Differences-encoded twin: one page whose non-ASCII characters are
    * written as single-byte codes 128+ under a simple font carrying an
    * /Encoding /Differences table (glyph names: `uniXXXX` by default,
    * or an explicit AGL name via `aglNames`). ASCII passes through the
    * base encoding untouched — exactly the legacy simple-font shape.
    * Up to 128 distinct non-ASCII chars per page. */
  def diffPage(text: String, aglNames: Map[Char, String] = Map.empty,
      compress: Boolean = true): Array[Byte] = {
    val codeOf = mutable.LinkedHashMap.empty[Char, Int]
    text.foreach { c =>
      if (c > 0x7E && !codeOf.contains(c)) codeOf(c) = 128 + codeOf.size
    }
    require(codeOf.size <= 128, "diffPage: too many distinct non-ASCII chars")
    val diffs = codeOf.map { case (c, code) =>
      val g = aglNames.getOrElse(c, f"uni${c.toInt}%04X")
      s"$code /$g"
    }.mkString(" ")
    file(Seq(Left("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding " +
      s"/Differences [ $diffs ] >> >>")),
      // content string: ASCII verbatim (escaped), non-ASCII as octal codes
      Seq(content(literal(text, c => codeOf.getOrElse(c, c.toInt)))), compress)
  }

  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    try {
      d.setInput(data)
      d.finish()
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length / 2))
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally d.end()
  }
}
