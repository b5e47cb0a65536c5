package graft.sgml

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import SerializerSpec.forAll

/** Hostile documents end as error codes: for each family of adversarial
  * input, in both the XML and the HTML dialect, the parse returns
  * instead of throwing, its span text stays within `maxDocChars` plus a
  * fixed multiple of the input, the family's code is reported, and one
  * document parses well inside a per-doc bound generous enough for a
  * loaded 4-core host. */
class HostileInputSpec extends AnyFunSuite {

  private val budget = 1 << 16
  private val cfgs = Seq(Dialect.Xml, Dialect.Html4).map(d =>
    ParserConfig(dialect = d, space = SpaceMode.Preserve, maxDocChars = budget))

  /** A hostile document, the code its parse reports ("" for none) and
    * the text its spans start with. */
  private final case class Case(doc: String, code: String, keeps: String = "")

  // every family but the <b> flood stays under the budget, so its own
  // guard, not doc-too-large, has to answer
  private val families: Seq[(String, Gen[Case])] = Seq(
    // fan^levels copies of a 10-char entity: at least 80,000 chars
    "entity chain" -> (for {
      fan <- Gen.choose(20, 100)
      levels <- Gen.choose(3, 5)
    } yield {
      val chain = "<!ENTITY e0 \"xxxxxxxxxx\">" + (1 to levels).map(k =>
        s"<!ENTITY e$k \"" + s"&e${k - 1};" * fan + "\">").mkString
      Case(s"<!DOCTYPE d [$chain]><d>&e$levels;</d>", "entity-budget")
    }),
    "nested <!ELEMENT> groups" ->
      Gen.choose(DtdParser.MaxGroupDepth + 1, 20 * DtdParser.MaxGroupDepth).map(depth => Case(
        "<!DOCTYPE r [<!ELEMENT r " + "(" * depth + "a" + ")" * depth + ">]><r>x</r>",
        "dtd-nesting")),
    "deep <div> nests" ->
      Gen.choose(200, 12000).map(n => Case("<div>" * n + "deep", "max-errors")),
    // over the budget the whole doc is refused; under it, no error
    "many <b>x</b>" -> Gen.choose(1000, 16000).map { n =>
      val doc = "<p>" + "<b>x</b>" * n + "</p>"
      Case(doc, if (doc.length > budget) "doc-too-large" else "")
    },
    // no '>' after the open, which would end an SGML PI; the text before
    // it is kept
    "unclosed comment / CDATA / marked section / PI" -> (for {
      (open, code) <- Gen.oneOf("<!--" -> "eof-in-comment", "<![CDATA[" -> "eof-in-cdata-section",
        "<![ IGNORE [" -> "eof-in-marked-section", "<?pi " -> "eof-in-pi")
      n <- Gen.choose(0, 3000)
    } yield Case("<d>x" + open + "<d y ]] " * n, code, keeps = "x")),
    // their content is parsed (RCDATA: as text), so the filler is markup
    // that logs no error of its own before the end of the document
    "unclosed INCLUDE / TEMP / RCDATA section" -> (for {
      kw <- Gen.oneOf("INCLUDE", "TEMP", "RCDATA")
      n <- Gen.choose(0, 3000)
    } yield Case(s"<d>x<![ $kw [" + "<d>y ]] &amp; " * n, "eof-in-marked-section", keeps = "x")),
    "document cut after < or <!" -> (for {
      open <- Gen.oneOf("<", "<!")
      n <- Gen.choose(1, 3000)
    } yield Case("<d>" + "x" * n + open, "eof-in-tag", keeps = "x" * n)),
    "attribute flood" -> Gen.choose(2, 7000).map { n =>
      Case("<p" + (0 until n).map(i => s" a${i / 2}=v").mkString + ">x</p>",
        "duplicate-attribute")
    })

  for ((family, gen) <- families) test(s"hostile input: $family") {
    forAll(gen, n = 20) { c =>
      for (cfg <- cfgs) {
        val at = s"${cfg.dialect} ${c.doc.take(60)}… (${c.doc.length} chars)"
        val t0 = System.nanoTime()
        val r = SgmlParser.parse(c.doc, cfg)
        val spans = r.spans(cfg)
        val secs = (System.nanoTime() - t0) / 1e9
        val chars = spans.map(s => if (s.text == null) 0L else s.text.length.toLong).sum
        assert(chars <= budget + 2L * c.doc.length, at)
        assert(spans.flatMap(s => Option(s.text)).mkString.startsWith(c.keeps), at)
        val codes = r.errors.map(_.code)
        if (c.code.isEmpty) assert(codes.isEmpty, at)
        else assert(codes.contains(c.code), s"$at: ${codes.distinct}")
        assert(secs < 5.0, s"$at: $secs s")
      }
    }
  }
}
