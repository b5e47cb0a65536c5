package graft.sgml

import org.scalatest.funsuite.AnyFunSuite

/** The single failure policy of the Spark layer's parse lifecycle: a
  * non-fatal throw becomes a failure value and costs nothing to the next
  * document; fatal errors and interrupts propagate. */
class ParseDriverSpec extends AnyFunSuite {

  private val cfg = ParserConfig(dialect = Dialect.Html4, space = SpaceMode.Preserve)
  private val doc = "<html><body><p>one <b>two</b><p>three &amp; four</body></html>"

  private def parseWith(d: ParseDriver, text: String) =
    d(_.feed(text, 0))(r => (r.spans(cfg), r.errors))

  test("a feed or projection that throws returns the failure, class before message") {
    val d = new ParseDriver(cfg)
    assert(d(_ => throw new RuntimeException("boom"))(identity) ===
      Left("java.lang.RuntimeException: boom"))
    assert(d(_.feed(doc, 0))(_ => throw new ArithmeticException("x")) ===
      Left("java.lang.ArithmeticException: x"))
  }

  test("the next doc after a mid-parse failure equals a fresh parser's result") {
    val d = new ParseDriver(cfg)
    // leave the parser deep inside an open element, then throw
    val failed = d { p =>
      p.feed("<html><body><table><tr><td><!-- open comment", 0)
      throw new IllegalStateException("poisoned")
    }(identity)
    assert(failed.isLeft)
    assert(parseWith(d, doc) === Right(SgmlParser.spans(doc, cfg)))
  }

  test("StackOverflowError and InterruptedException propagate") {
    val d = new ParseDriver(cfg)
    intercept[StackOverflowError](d(_ => throw new StackOverflowError())(identity))
    intercept[InterruptedException](d(_ => throw new InterruptedException())(identity))
    // and the driver still parses afterwards
    assert(parseWith(d, doc) === Right(SgmlParser.spans(doc, cfg)))
  }
}
