package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, TextOps}

/** The curation text kernels (TextOps.withQuality / withLangId,
  * Dedup.minhash / bandHashes / ngramJaccard) against the
  * built-in-expression, Column-fold and regex-split definitions they
  * replaced — kept here, and only here, as the reference — plus the
  * singleton-bucket pruning and the cap of Dedup.buckets. */
class CurationKernelSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("curation-kernel-spec").getOrCreate()

  private val adversarial: Seq[String] = Seq(
    null, "", " ", "\t", "  the  ", "\tthe cat", "the cat\t", " \tthe",
    "x\u000Bthe\fand\rof\nto", "The THE the", "the,", "the the the",
    "\u4e2d\u6587 the and", "the \u9fff", "\u4dff\ua000 the",
    "\u212Athe \u0130the", "\u00c4\u00d6\u00dc and der die das",
    "a\u00a0the\u3000and", "\ud835\udd18 the \ud835\udd18", "\ud800 the x\udc00",
    "le la les un une dans", "el los las un una que por es",
    "der die das und ist nicht ein zu", "der le el the",
    "und\r\nder\r\ndie", "ZU Nicht DAS", "that it is in to of",
    "a an or y and", "the quick brown fox jumps over the lazy dog and runs")

  /** Seeded random texts over stopwords, case variants and every kind of
    * whitespace (regex `\s` and not). */
  private val randomTexts: Seq[String] = {
    val rnd = new scala.util.Random(20261017L)
    val words = TextOps.stopwords ++ Seq("The", "AND", "Der", "un", "una",
      "nicht", "dans", "que", "zu", "x", "\u00e9t\u00e9", "\u4e2d", "\u212A",
      "\u0130", "caf\u00e9", "fox", "dog,", "the.", "\u00c4\u00d6\u00dc")
    val gaps = Seq(" ", " ", " ", "  ", "\t", "\n", "\r\n", "\u000B", "\f",
      "\u00a0", "\u3000", "")
    (1 to 400).map { _ =>
      val n = rnd.nextInt(25)
      val sb = new StringBuilder
      if (rnd.nextInt(4) == 0) sb ++= gaps(rnd.nextInt(gaps.length))
      (0 until n).foreach { i =>
        if (i > 0) sb ++= gaps(rnd.nextInt(gaps.length))
        sb ++= words(rnd.nextInt(words.length))
      }
      if (rnd.nextInt(4) == 0) sb ++= gaps(rnd.nextInt(gaps.length))
      sb.toString
    }
  }

  private def corpus: DataFrame = {
    import spark.implicits._
    (adversarial ++ randomTexts).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  // ---- the replaced definitions, as references ----------------------------

  private def refQuality(d: DataFrame): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    d.withColumn("n_words", size(words))
      .withColumn("stopword_hits",
        size(filter(words, w => w.isin(TextOps.stopwords: _*))))
      .withColumn("alpha_chars", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("is_quality",
        (col("n_words") >= 10) && (col("stopword_hits") > 0) &&
        (col("alpha_chars") * 100 >= col("n_chars") * 50))
  }

  private def refLangId(d: DataFrame): DataFrame = {
    val markers: Map[String, Seq[String]] = Map(
      "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it"),
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
      "es" -> Seq("el", "los", "las", "es", "un", "una", "que", "por"))
    val words = split(lower(col("text")), "\\s+")
    val scored = markers.foldLeft(d) { case (df, (l, ms)) =>
      df.withColumn(s"score_$l", size(filter(words, w => w.isin(ms: _*))))
    }
    scored
      .withColumn("predicted_lang",
        when(col("text").rlike("[\\u4e00-\\u9fff]"), lit("zh")).otherwise(
          when(col("score_en") >= col("score_de") &&
               col("score_en") >= col("score_fr") &&
               col("score_en") >= col("score_es"), "en")
            .when(col("score_de") >= col("score_fr") &&
                  col("score_de") >= col("score_es"), "de")
            .when(col("score_fr") >= col("score_es"), "fr")
            .otherwise("es")))
      .drop("score_en", "score_de", "score_fr", "score_es")
  }

  private def refMinhash(text: String): Array[Long] = {
    val sig = Array.fill(Dedup.NumHashes)(Long.MaxValue)
    if (text == null) return sig
    val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) return sig
    val windows =
      if (words.length < 3) Iterator(words) else words.sliding(3)
    windows.foreach { ws =>
      val h = Dedup.shingleHash(ws.mkString(" "))
      (0 until Dedup.NumHashes).foreach { i =>
        val v = (coefA(i) * h + coefB(i)) % Dedup.HashP
        if (v < sig(i)) sig(i) = v
      }
    }
    sig
  }
  // the closed-form coefficients, as the d2/d3 oracles rebuild them
  private def coefA(i: Int): Long = ((i + 1) * 2654435761L) % 2147483629L + 1
  private def coefB(i: Int): Long = ((i + 1) * 2246822519L) % 2147483629L

  /** `t` quoted, non-ASCII as \\uXXXX (a report may not hold lone surrogates). */
  private def esc(t: String): String =
    if (t == null) "null"
    else t.flatMap(c => if (c >= ' ' && c < 0x7f) c.toString else f"\\u${c.toInt}%04X")
      .mkString("'", "", "'")

  /** Rows of `a` and `b` (same columns, keyed by doc_id) that differ. */
  private def diffRows(a: DataFrame, b: DataFrame): Seq[String] = {
    val ra = a.collect().map(r => r.getLong(0) -> r).toMap
    val rb = b.collect().map(r => r.getLong(0) -> r).toMap
    assert(ra.keySet == rb.keySet)
    ra.keys.toSeq.sorted.filter(k => ra(k) != rb(k))
      .map(k => s"doc $k: kernel ${ra(k)} vs reference ${rb(k)}")
  }

  test("quality kernel ≡ split/trim/filter(isin)/regexp_replace") {
    val d = corpus
    val kernel = TextOps.withQuality(d)
    val ref = refQuality(d)
    assert(kernel.schema.map(f => f.name -> f.dataType) ==
      ref.schema.map(f => f.name -> f.dataType))
    val diff = diffRows(kernel, ref)
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
    // the edge cases really are edges: a leading tab opens an empty word,
    // "" is one word, and null text stays null
    val byText = kernel.collect().map(r => Option(r.getString(1)) -> r).toMap
    assert(byText(Some("\tthe cat")).getAs[Int]("n_words") == 3)
    assert(byText(Some("")).getAs[Int]("n_words") == 1)
    assert(byText(Some("The THE the")).getAs[Int]("stopword_hits") == 1)
    assert(byText(None).isNullAt(byText(None).fieldIndex("n_words")))
  }

  test("language-ID kernel ≡ four filter(isin) scores plus rlike") {
    val d = corpus
    val diff = diffRows(TextOps.withLangId(d), refLangId(d))
    assert(diff.isEmpty, diff.take(5).mkString("\n"))
    val byText = TextOps.withLangId(d).collect()
      .map(r => Option(r.getString(1)) -> r.getString(2)).toMap
    assert(byText(None) == "es")
    assert(byText(Some("\u4e2d\u6587 the and")) == "zh")
    assert(byText(Some("ZU Nicht DAS")) == "de")
  }

  test("minhash word scan ≡ the regex-split signature") {
    val diff = (adversarial ++ randomTexts).filterNot(t =>
      Dedup.minhash(t).sameElements(refMinhash(t)))
    assert(diff.isEmpty, diff.take(5).map(esc).mkString("\n"))
  }

  test("bandHashes ≡ the Column fold of the minhash signature") {
    import spark.implicits._
    val folds = (0 until Dedup.Bands).map { b =>
      (0 until Dedup.RowsPerBand).foldLeft(lit(0L)) { (acc, r) =>
        (acc * Dedup.BandB + col("sig")(b * Dedup.RowsPerBand + r) % Dedup.HashP) % Dedup.HashP
      }
    }
    // signatures, not texts, go through Spark: UTF-8 cannot carry the
    // lone surrogates of the adversarial set
    val texts = adversarial ++ randomTexts
    val ref = texts.map(t => Dedup.minhash(t).toSeq).toDF("sig")
      .select(array(folds: _*)).collect().map(_.getSeq[Long](0))
    val diff = texts.zip(ref).filterNot { case (t, r) => Dedup.bandHashes(t).toSeq == r }
    assert(diff.isEmpty, diff.take(5).map(d => esc(d._1)).mkString("\n"))
  }

  test("ngramJaccard word scan ≡ the Set-based definition") {
    def refJaccard(a: String, b: String): Double = {
      val (sa, sb) = (Dedup.shingles(a), Dedup.shingles(b))
      if (sa.isEmpty && sb.isEmpty) 1.0
      else {
        val inter = sa.intersect(sb).size
        inter.toDouble / (sa.size + sb.size - inter)
      }
    }
    // "az" and "b[" share a shingle hash (97·31 + 122 = 98·31 + 91) but
    // not a shingle: equality must compare the words themselves
    assert(Dedup.shingleHash("x y az") == Dedup.shingleHash("x y b["))
    val collide = Seq("az", "b[", "x y az", "x y b[", "az b[ az b[ az", "b[ az b[ az b[")
    val texts = adversarial ++ collide
    val rnd = new scala.util.Random(11L)
    val pairs = (for (a <- texts; b <- texts) yield (a, b)) ++
      randomTexts.zip(randomTexts.tail) ++
      randomTexts.map(t => (t, rnd.shuffle(t.split(" ").toSeq).mkString(" "))) ++
      randomTexts.map(t => (t, t.toUpperCase + " the end"))
    val diff = pairs.filterNot { case (a, b) => Dedup.ngramJaccard(a, b) == refJaccard(a, b) }
    assert(diff.isEmpty, diff.take(5).map(p => s"${esc(p._1)} vs ${esc(p._2)}").mkString("\n"))
    assert(Dedup.ngramJaccard("x y az", "x y b[") == 0.0)
    assert(Dedup.ngramJaccard("az b[ az b[ az", "b[ az b[ az b[") == 1.0)
  }

  test("bucket_collect: a 100k-row bucket holds at most cap + 1 items, n is exact") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.LongType
    import graft.functions.BucketCollect
    val agg = BucketCollect(BoundReference(0, LongType, nullable = false), cap = 10)
    // four partial buffers of 25k updates each, merged pairwise and
    // round-tripped through the shuffle serialization
    val parts = (0 until 4).map { p =>
      val b = agg.createAggregationBuffer()
      (0 until 25000).foreach { i =>
        agg.update(b, InternalRow(p * 25000L + i))
        assert(b.items.length <= 11)
      }
      agg.deserialize(agg.serialize(b))
    }
    val merged = parts.reduce { (x, y) =>
      val m = agg.merge(x, y)
      assert(m.items.length <= 11)
      m
    }
    assert(merged.n == 100000L)
    assert(merged.items.length == 11)
    // the same through Spark: one bucket, dropped whole and counted
    val rows = spark.range(100000).select(lit(0).as("k"), col("id"))
    val b = Dedup.buckets(rows, Seq("k"), col("id"), cap = 10)
    val r = b.collect().head
    assert(r.getAs[Long]("n") == 100000L)
    assert(r.getSeq[Long](r.fieldIndex("items")).length == 11)
    assert(Dedup.bucketPairs(b, 10).count() == 0L)
    val stats = Dedup.droppedOf(b, 10).collect().head
    assert(stats.getAs[Long]("dropped_buckets") == 1L)
    assert(stats.getAs[Long]("dropped_rows") == 100000L)
  }

  test("singleton pruning: a cap no bucket exceeds leaves pairs unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val vocab = (1 to 300).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (1 to 12).map(_ => text(30))
    val docs = base.zipWithIndex.flatMap { case (t, i) =>
      // half the bases get one exact copy (two-doc buckets), half also a
      // one-word edit (three-doc buckets); every base brings a noise doc
      val cohort = if (i % 2 == 0) Seq(t, t) else Seq(t, t, t + " extra")
      (cohort :+ text(30)).zipWithIndex.map { case (x, j) => ((i * 4 + j).toLong, x) }
    }.toDF("doc_id", "text")
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.get(2))).toSet
    val uncapped = pairs(Dedup.verifiedPairsOf(docs, "doc_id", "text", 0.5))
    val capped = pairs(Dedup.verifiedPairsOf(docs, "doc_id", "text", 0.5,
      maxBucket = 1000))
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
    val sh = udf((t: String) => Dedup.simhash(t))
    val hashes = docs.select(col("doc_id"), sh(col("text")).as("simhash"))
    val shUncapped = pairs(Dedup.simhashPairsOf(hashes))
    assert(shUncapped.nonEmpty)
    assert(pairs(Dedup.simhashPairsOf(hashes, maxBucket = 1000)) == shUncapped)
    // the audit of the same banded frame still reports nothing dropped
    val stats = Dedup.droppedBucketStats(Dedup.bandsOf(docs, "doc_id", "text"),
      Seq("band", "band_hash"), 1000).collect().head
    assert(stats.getAs[Long]("dropped_buckets") == 0L)
    assert(stats.getAs[Long]("dropped_rows") == 0L)
  }
}
