package perfbench

import java.io.File
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SgmlExtract

/** Seeded corpus generators. Every generator takes the seed; the same
  * seed gives the same tables. The size profile of each corpus (doc
  * count, length schedule, cohort arithmetic) is fixed, and the seed
  * decides content, so figures of different seeds stay comparable. */
object Rng {
  def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Independent stream `i` of generator `stream` under `seed`. */
  def apply(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) ^ mix(i + 0x632BE59BD9B4E019L)))
}

object Gen {
  /** Contract schema of the program's input table. */
  val SpanSchema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))

  val InputChars: String =
    "aggregate(spans, 0L, (a, s) -> a + length(coalesce(s.text, '')))"

  /** Input markup chars of the contract table at `path`. */
  def inputChars(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).agg(sum(expr(InputChars))).first().getLong(0)

  def parts: Int = Host.cores * 4
}

/** `extract_small`: documents like the sf0.1 `documents.parquet` texts
  * (44-577 chars of words), word-permuted by the seed and wrapped by the
  * program's own `SgmlExtract.wrapDocumentsMarked` (one text span plus
  * one media span per doc). */
object SmallCorpus {
  val Docs = 300000L

  private val Vocab = Array(
    "batch", "part", "spark", "line", "column", "order", "small", "sort", "fast",
    "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "stream", "table", "data", "merge", "the", "join",
    "vector", "customer", "index", "shuffle", "cache", "plan", "node", "task",
    "stage", "file", "block", "page", "of", "and", "to", "in")

  /** Word count depends on the doc number only (8..96 words, uniform), so
    * every seed has the same length profile; the words come from the seed. */
  def text(seed: Long, i: Long): String = {
    val n = 8 + ((Rng.mix(i) >>> 1) % 89).toInt
    val rng = Rng(seed, 1, i)
    val b = new java.lang.StringBuilder(n * 7)
    var k = 0
    while (k < n) {
      if (k > 0) b.append(' ')
      b.append(Vocab(rng.nextInt(Vocab.length)))
      k += 1
    }
    b.toString
  }

  final case class Truth(docs: Long, rawChars: Long, inputChars: Long)

  /** Writes `dir/documents.parquet` (doc_id, text) and the wrapped contract
    * table `dir/docs`. The gate figures come from Spark SQL over the raw
    * texts, not from the parser. */
  def generate(spark: SparkSession, dir: File, seed: Long): Truth = {
    val raw = new File(dir, "documents.parquet").getPath
    val rows = spark.sparkContext.range(0, Docs, 1, Gen.parts)
      .map(i => Row(i, text(seed, i)))
    spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .write.parquet(raw)
    val docs = new File(dir, "docs").getPath
    SgmlExtract.wrapDocumentsMarked(spark, dir.getPath).toDF().write.parquet(docs)
    val t = spark.read.parquet(raw).agg(count(lit(1)), sum(length(col("text")))).first()
    Truth(t.getLong(0), t.getLong(1), Gen.inputChars(spark, docs))
  }
}

/** `extract_markup`: markup-dense html4 documents, tens of KB each, with a
  * heavy-tailed size schedule. The generator builds each doc from a model
  * and counts, as it writes, what a correct html4/preserve parse must
  * return: text runs and their chars, cdata runs (script/style), media
  * spans (img elements and input media spans), undeclared-entity spans,
  * and the planted error codes. */
object MarkupCorpus {
  val Docs = 8192 // a power of two: the size schedule is a bijection
  val MedianChars = 8000
  val MaxFactor = 50

  /** Doc `i`'s target size: the quantile `(p + 0.5) / Docs` of a
    * Pareto-like law (median `MedianChars`, capped at 50x), where `p` is
    * `i` under a seeded bijection. The multiset of sizes is the same for
    * every seed; only which doc gets which size changes. */
  def targetChars(seed: Long, i: Long): Int = {
    val p = (i * 40503L + (Rng.mix(seed) & (Docs - 1))) & (Docs - 1)
    val q = (p + 0.5) / Docs
    math.min(MedianChars * math.sqrt(0.5 / (1 - q)), MedianChars.toDouble * MaxFactor).toInt
  }

  val Codes: Seq[String] =
    Seq("unclosed-element", "undeclared-entity", "unmatched-end-tag", "duplicate-attribute")

  val TruthCols: Seq[String] = Seq("t_text_runs", "t_text_chars", "t_cdata_runs",
    "t_cdata_chars", "t_media", "t_entities") ++ Codes.map(c => "t_" + c.replace('-', '_'))

  val Schema: StructType = StructType(
    StructField("doc_id", StringType) +:
      StructField("spans", ArrayType(Gen.SpanSchema)) +:
      TruthCols.map(StructField(_, LongType)))

  final case class Truth(docs: Long, inputChars: Long, totals: Map[String, Long])

  def generate(spark: SparkSession, dir: File, seed: Long): Truth = {
    val path = new File(dir, "docs").getPath
    val rows = spark.sparkContext.range(0, Docs, 1, Gen.parts).map { i =>
      val d = new MarkupDoc(Rng(seed, 2, i), i, targetChars(seed, i))
      d.build()
      d.row()
    }
    spark.createDataFrame(rows, Schema).write.parquet(path)
    val t = spark.read.parquet(path)
      .agg(count(lit(1)), TruthCols.map(c => sum(col(c))): _*).first()
    Truth(t.getLong(0), Gen.inputChars(spark, path),
      TruthCols.zipWithIndex.map { case (c, k) => c -> t.getLong(k + 1) }.toMap)
  }
}

/** One generated markup document and its expected parse figures.
  *
  * The model keeps every text run bounded by markup that the parser turns
  * into a node (an element, an undeclared-entity reference or a media
  * span), so no two runs can merge; writes no whitespace between tags; and
  * places text only where html4 allows #PCDATA. End tags of p, li, td, th
  * and tr are omitted at random where the content model implies them. */
final class MarkupDoc(rng: SplittableRandom, docNo: Long, target: Int) {
  import MarkupDoc._

  private val sb = new java.lang.StringBuilder(target + 8192)
  private val cuts = ArrayBuffer.empty[Int]
  private var textRuns, textChars, cdataRuns, cdataChars, media, entities = 0L
  private val errs = Array.fill(4)(0L)
  private var imgs = 0

  private def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))

  private def text(minW: Int, maxW: Int): Unit = {
    val n = minW + rng.nextInt(maxW - minW + 1)
    var chars = 0
    var k = 0
    while (k < n) {
      if (k > 0) { sb.append(' '); chars += 1 }
      if (k > 0 && rng.nextInt(10) == 0) { sb.append(pick(Ents)); chars += 1 }
      else { val w = pick(Words); sb.append(w); chars += w.length }
      k += 1
    }
    if (rng.nextInt(3) == 0) { sb.append(pick(Punct)); chars += 1 }
    textRuns += 1
    textChars += chars
  }

  private def attrs(): Unit = {
    if (rng.nextBoolean()) sb.append(" class=\"c").append(rng.nextInt(40)).append('"')
    if (rng.nextInt(4) == 0) sb.append(" title=\"").append(pick(Words)).append(" &amp; ")
      .append(pick(Words)).append(" &#169;\"")
    if (rng.nextInt(6) == 0) sb.append(" dir=\"").append(if (rng.nextBoolean()) "ltr" else "rtl").append('"')
    if (rng.nextInt(6) == 0) sb.append(" style=\"margin:").append(rng.nextInt(9)).append("px\"")
  }

  private def img(): Unit = {
    imgs += 1
    sb.append("<img src=\"img/").append(docNo).append('/').append(imgs)
      .append(".png\" alt=\"").append(pick(Words)).append("\" width=\"")
      .append(16 + rng.nextInt(300)).append("\">")
    media += 1
  }

  /** Inline element; `a` holds text only (no nested anchors). */
  private def inlineElem(depth: Int): Unit = rng.nextInt(8) match {
    case 0 | 1 | 2 | 3 =>
      val tag = pick(InlineTags)
      sb.append('<').append(tag)
      if (tag == "span") attrs()
      sb.append('>')
      text(1, 8)
      if (depth < 2 && rng.nextInt(4) == 0) { inlineElem(depth + 1); text(1, 6) }
      sb.append("</").append(tag).append('>')
    case 4 =>
      sb.append("<a href=\"/p/").append(rng.nextInt(100000)).append("?q=1&amp;r=2\"")
      attrs()
      sb.append('>')
      text(1, 5)
      sb.append("</a>")
    case 5 | 6 => img()
    case _ => sb.append("<br>")
  }

  /** text (element text)*: runs alternate with elements. */
  private def inline(): Unit = {
    text(1, 12)
    var k = rng.nextInt(5)
    while (k > 0) { inlineElem(0); text(1, 12); k -= 1 }
  }

  private def para(): Unit = {
    sb.append("<p"); attrs(); sb.append('>')
    inline()
    if (rng.nextBoolean()) sb.append("</p>")
  }

  private def script(): Unit = {
    val code = s"var v${rng.nextInt(1000)} = [${rng.nextInt(99)}, ${rng.nextInt(99)}]; " +
      s"if (a < b && c > d) { f('${pick(Words)}'); }"
    sb.append("<script type=\"text/javascript\">").append(code).append("</script>")
    cdataRuns += 1
    cdataChars += code.length
  }

  private def block(depth: Int): Unit = rng.nextInt(if (depth >= 3) 4 else 10) match {
    case 0 | 1 => para()
    case 2 => sb.append("<h2>"); inline(); sb.append("</h2>")
    case 3 => script()
    case 4 | 5 =>
      sb.append("<div"); attrs(); sb.append('>')
      if (rng.nextInt(3) == 0) sb.append("<!-- section ").append(rng.nextInt(1000)).append(" -->")
      var k = 1 + rng.nextInt(3)
      while (k > 0) { block(depth + 1); k -= 1 }
      sb.append("</div>")
    case 6 | 7 =>
      val tag = if (rng.nextBoolean()) "ul" else "ol"
      sb.append('<').append(tag); attrs(); sb.append('>')
      var k = 1 + rng.nextInt(5)
      while (k > 0) {
        sb.append("<li>")
        inline()
        if (depth < 3 && rng.nextInt(4) == 0) block(3)
        if (rng.nextBoolean()) sb.append("</li>")
        k -= 1
      }
      sb.append("</").append(tag).append('>')
    case _ =>
      sb.append("<table border=\"1\" cellpadding=\"2\">")
      var r = 1 + rng.nextInt(4)
      while (r > 0) {
        sb.append("<tr>")
        var c = 1 + rng.nextInt(4)
        while (c > 0) {
          val cell = if (rng.nextInt(5) == 0) "th" else "td"
          sb.append('<').append(cell)
          if (rng.nextInt(8) == 0) sb.append(" colspan=\"2\"")
          sb.append('>')
          if (depth < 2 && rng.nextInt(6) == 0) block(depth + 1) else inline()
          if (rng.nextBoolean()) sb.append("</").append(cell).append('>')
          c -= 1
        }
        if (rng.nextBoolean()) sb.append("</tr>")
        r -= 1
      }
      sb.append("</table>")
  }

  /** Planted malformed markup, one known error code each. */
  private def plant(code: Int): Unit = {
    code match {
      case 0 => // unclosed <b>, repaired at the explicit </p>
        sb.append("<p>"); text(2, 8); sb.append("<b>"); text(1, 4); sb.append("</p>")
      case 1 => // undeclared entity: text, entity span, text
        sb.append("<p>"); text(2, 8); sb.append("&perfbenchundef;"); text(2, 8)
        entities += 1
        if (rng.nextBoolean()) sb.append("</p>")
      case 2 => // stray end tag of an element that is never open
        sb.append("</strike>")
      case _ => // duplicate attribute
        sb.append("<div class=\"x\" class=\"y\">"); para(); sb.append("</div>")
    }
    errs(code) += 1
  }

  def build(): Unit = {
    sb.append("<html><head><title>")
    text(2, 6)
    sb.append("</title><meta name=\"generator\" content=\"perfbench\"><style type=\"text/css\">")
    val css = s"p.c${rng.nextInt(40)} { margin: ${rng.nextInt(9)}px } td > b { color: #${rng.nextInt(999)} }"
    sb.append(css).append("</style></head><body>")
    cdataRuns += 1
    cdataChars += css.length
    val planted = ArrayBuffer.empty[Int]
    for (c <- 0 until 4; _ <- 0 until rng.nextInt(3)) planted += c
    while (sb.length < target || planted.nonEmpty) {
      cuts += sb.length
      if (planted.nonEmpty && (sb.length >= target || rng.nextInt(6) == 0))
        plant(planted.remove(rng.nextInt(planted.size)))
      else block(0)
    }
    sb.append("</body></html>")
  }

  /** Contract row: the markup split at 1-4 block boundaries into text
    * spans, with one media span between each two; then the truth columns. */
  def row(): Row = {
    val pool = cuts.toArray
    val k = math.min(rng.nextInt(4), pool.length)
    for (j <- 0 until k) { // partial Fisher-Yates: k distinct block boundaries
      val r = j + rng.nextInt(pool.length - j)
      val t = pool(j); pool(j) = pool(r); pool(r) = t
    }
    val chosen = pool.take(k).sorted.toSeq
    val bounds = (0 +: chosen) :+ sb.length
    val markup = sb.toString
    val spans = ArrayBuffer.empty[Row]
    for (j <- 0 until bounds.size - 1) {
      if (j > 0) spans += Row("media", "", s"media/$docNo/$j.jpg", bounds(j))
      spans += Row("text", markup.substring(bounds(j), bounds(j + 1)), null, bounds(j))
    }
    media += k
    Row.fromSeq(Seq(f"m$docNo%06d", spans.toSeq, textRuns, textChars, cdataRuns,
      cdataChars, media, entities) ++ errs.toSeq)
  }
}

object MarkupDoc {
  private val Words: IndexedSeq[String] = (SmallWords ++ Seq(
    "café", "naïve", "straße", "über", "façade", "smörgåsbord", "東京", "데이터",
    "данные", "λόγος")).toIndexedSeq
  private def SmallWords = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "filter",
    "query", "window", "stream", "table", "merge", "the", "join", "vector", "and")
  /** Declared entities; each expands to exactly one char. */
  private val Ents = IndexedSeq("&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&eacute;",
    "&copy;", "&mdash;", "&#169;", "&#x2014;", "&#8364;", "&#233;")
  private val InlineTags = IndexedSeq("b", "i", "em", "span")
  private val Punct = IndexedSeq(".", ",", ";", ":", "!", "?", ")", "-", "'")
}

/** `curate`: contract docs (marked wrap, like `extract_small`) with planted
  * cohorts, generated driver-side so the expected funnel is exact:
  * B base docs (distinct, all pass quality) each followed by 0-2 exact
  * copies or 0-2 near variants (one word replaced: 3-shingle Jaccard about
  * 0.94, far above the 0.5 threshold, so LSH finds every pair), then J
  * short docs that fail the quality gate and R docs with a parse error.
  * Doc ids are zero-padded and rise within a cohort, so the base is always
  * the kept member. Expected: quality keeps N-J-R, exact keeps B+V, fuzzy
  * keeps B. */
object CurateCorpus {
  val Bases = 16000
  val Junk = 800
  val Broken = 400

  private val Syll = IndexedSeq("ba", "ko", "ri", "me", "tu", "sa", "lo", "ne", "vi",
    "da", "pe", "gu", "fa", "zo", "hi", "mu", "ce", "wa", "jo", "ty")
  private val Vocab: IndexedSeq[String] =
    (0 until 400).map(i => Syll(i % 20) + Syll((i / 20) % 20) + Syll((i * 7) % 20))
  private val Stop = IndexedSeq("the", "and", "of", "to", "in", "is", "a", "it")

  final case class Truth(docs: Long, inputChars: Long, bases: Long, copies: Long,
      variants: Long, junk: Long, broken: Long) {
    def qualityKept: Long = docs - junk - broken
    def exactKept: Long = bases + variants
    def kept: Long = bases
  }

  /** `n` words; every fifth is a stopword, so every base passes the
    * quality gate's stopword test. */
  private def words(rng: SplittableRandom, n: Int): Array[String] =
    Array.tabulate(n)(k => if (k % 5 == 1) pick(rng, Stop) else pick(rng, Vocab))

  private def pick(rng: SplittableRandom, xs: IndexedSeq[String]): String = xs(rng.nextInt(xs.size))

  private def marked(id: String, text: String): Row = Row(id, Seq(
    Row("text", SgmlExtract.MarkedPrefix + text + SgmlExtract.MarkedTail +
      SgmlExtract.MarkedSuffix, null, 0),
    Row("media", "", SgmlExtract.AssetPrefix + id + SgmlExtract.AssetSuffix,
      text.length + SgmlExtract.MarkedMediaOffset)))

  private def malformed(id: String, text: String): Row = Row(id, Seq(
    Row("text", SgmlExtract.MarkedPrefix + text + SgmlExtract.MalformedInfix +
      SgmlExtract.MalformedSuffix, null, 0)))

  def generate(spark: SparkSession, dir: File, seed: Long): Truth = {
    val rows = ArrayBuffer.empty[Row]
    def id(): String = f"c${rows.size}%08d"
    var copies, variants = 0L
    for (b <- 0 until Bases) {
      val rng = Rng(seed, 3, b)
      val base = words(rng, 80 + rng.nextInt(41))
      val text = base.mkString(" ")
      rows += marked(id(), text)
      val u = rng.nextInt(10)
      if (u == 0) for (_ <- 0 to rng.nextInt(2)) { rows += marked(id(), text); copies += 1 }
      else if (u == 1) for (v <- 0 to rng.nextInt(2)) {
        val w = base.clone()
        val at = w.length / 3 + v * 7
        w(at) = Vocab((Vocab.indexOf(w(at)) + 1 + rng.nextInt(Vocab.size - 1)) % Vocab.size)
        rows += marked(id(), w.mkString(" "))
        variants += 1
      }
    }
    for (j <- 0 until Junk) rows += marked(id(), words(Rng(seed, 4, j), 5).mkString(" "))
    for (j <- 0 until Broken) {
      val rng = Rng(seed, 5, j)
      rows += malformed(id(), words(rng, 80 + rng.nextInt(41)).mkString(" "))
    }
    val path = new File(dir, "docs").getPath
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, Gen.parts),
        StructType(Seq(StructField("doc_id", StringType),
          StructField("spans", ArrayType(Gen.SpanSchema)))))
      .write.parquet(path)
    Truth(rows.size, Gen.inputChars(spark, path), Bases, copies, variants, Junk, Broken)
  }
}
