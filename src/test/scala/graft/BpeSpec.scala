package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.Bpe

/** BPE merge learning — hand-computed rounds, tie-breaks, and the pinned
  * replace-kernel semantics the Scaladoc documents. */
class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def mergesOf(text: String, k: Int): Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    Bpe.mergesOf(Seq(text).toDF("text"), "text", k)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
  }

  test("the classic low/lower example: counts, tie-breaks, composed merges") {
    // words: low ×3, lower ×1
    // r1: (l,o)=4 ties (o,w)=4 → lhs 'l' < 'o' wins; r2: (lo,w)=4;
    // r3: (e,r)=1 ties (low,e)=1 → lhs 'e' < 'low' wins
    assert(mergesOf("low low low lower", 3) ==
      Seq((1, "l", "o", 4L), (2, "lo", "w", 4L), (3, "e", "r", 1L)))
  }

  test("merged symbols participate in later rounds (lo + w → low)") {
    val m = mergesOf("low low low lower", 2)
    assert(m(1)._2 == "lo" && m(1)._3 == "w") // lhs is itself a merge product
  }

  test("pair space exhausts: fewer than k rows, no error") {
    // single word 'ab' ×2 → one merge then nothing left to pair
    assert(mergesOf("ab ab", 5) == Seq((1, "a", "b", 2L)))
  }

  test("line-terminator characters inside a word are symbols, not dropped") {
    // U+2028 survives the \s+ word split, so a U+2028 b is one 3-symbol
    // word: r1 ties (a, U+2028) and (U+2028, b) at 1 → lhs "a" wins
    assert(mergesOf("a\u2028b", 1) == Seq((1, "a", "\u2028", 1L)))
  }

  test("U+000B splits words, as the oracle's word split does") {
    // two words 'ab': one merge, then the pair space is exhausted (one
    // 5-symbol word would go on to a second round, (ab, U+000B))
    assert(mergesOf("ab\u000Bab", 2) == Seq((1, "a", "b", 2L)))
  }

  test("replace-kernel run semantics are exactly as documented") {
    // 'aaaa': r1 (a,a)=3. The kernel's post-merge segmentation is
    // [aa, a, a] (trailing-delimiter consumption — the documented
    // divergence from list-based BPE's [aa, aa]), so r2 sees (aa,a)=1
    // and (a,a)=1 → tie-break lhs 'a' < 'aa' → (a,a) again.
    assert(mergesOf("aaaa", 2) == Seq((1, "a", "a", 3L), (2, "a", "a", 1L)))
  }
}
