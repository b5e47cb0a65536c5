package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** An attribute flood costs linear work: one start tag with 50k
  * attributes reports exactly its repeated names as duplicate-attribute
  * rows, in document order. A per-name linear scan made this quadratic:
  * 11.8 s at this size on a 4-core host, against 0.3 s for the name set. */
class AttributeFloodSpec extends AnyFunSuite {

  test("a 50k-attribute start tag reports exactly its duplicates, fast") {
    val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve)
    val n = 50000
    // repeats inside the first 8 attributes (the linear-scan range),
    // just past it, in the middle and at the end
    val repeatAfter = Map(4 -> Seq(1), 9 -> Seq(0, 8), 30000 -> Seq(29999, 5), n - 1 -> Seq(n - 1))
    val sb = new StringBuilder("<p")
    for (i <- 0 until n) {
      sb ++= s" a$i=v"
      repeatAfter.getOrElse(i, Nil).foreach(j => sb ++= s" a$j=w")
    }
    sb ++= ">x</p>"
    val t0 = System.nanoTime()
    val r = SgmlParser.parse(sb.toString, cfg)
    val secs = (System.nanoTime() - t0) / 1e9
    val dups = r.errors.filter(_.code == "duplicate-attribute")
    assert(dups.map(_.detail) ==
      repeatAfter.toSeq.sortBy(_._1).flatMap(_._2).map(j => s"a$j"))
    assert(dups.map(_.off) == dups.map(_.off).sorted)
    assert(secs < 5.0, s"$secs s")
  }
}
