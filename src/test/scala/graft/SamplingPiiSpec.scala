package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.{Sampling, TextOps}

/** Deterministic sampling + PII scrubbing — the restart-stability and
  * redaction-completeness properties the oracle's value compare can't
  * express directly. */
class SamplingPiiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

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

  test("stratified sample is restart-stable and respects per-stratum rates") {
    val a = Sampling.stratifiedSample(SgmlExtract.documents(spark, sf))
      .collect().sortBy(_.getLong(0))
    val b = Sampling.stratifiedSample(SgmlExtract.documents(spark, sf))
      .collect().sortBy(_.getLong(0))
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq) // identical reruns
    assert(a.nonEmpty)
    // every kept row satisfies its own stratum's threshold
    assert(a.forall(r => r.getLong(2) < r.getLong(3)))
    // rates differ across strata (the rule isn't a constant filter)
    val rates = a.map(_.getLong(3)).distinct
    assert(rates.length > 1, s"expected multiple stratum rates, got ${rates.toSeq}")
  }

  test("uniform sample: k smallest hashes, stable under repartitioning") {
    val base = Sampling.uniformSample(SgmlExtract.documents(spark, sf), k = 20)
      .collect().map(_.getLong(0)).toSeq
    assert(base.length == 20)
    // the same k rows regardless of physical layout (per-partition top-k merge)
    val docs = spark.read.parquet(s"$sf/documents.parquet").repartition(13)
    val re = docs.select(col("doc_id"), Sampling.bucket1000(col("doc_id")).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc).limit(20)
      .collect().map(_.getLong(0)).toSeq
    assert(re == base)
  }

  test("split assignment: total partition, stable, thresholds honored") {
    val rows = SparkEntry.queries("s3_split_assign")(spark, sf).collect()
    assert(rows.length == 500) // every row gets exactly one split
    rows.foreach { r =>
      val (b, s) = (r.getLong(1), r.getString(2))
      val expected = if (b < 900) "train" else if (b < 950) "val" else "test"
      assert(s == expected, s"bucket $b → $s")
    }
    assert(rows.map(_.getString(2)).toSet == Set("train", "val", "test"))
    // re-run identical (restart-stable by construction)
    val again = SparkEntry.queries("s3_split_assign")(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // invalid weights rejected loudly
    intercept[IllegalArgumentException] {
      Sampling.withSplit(spark.range(1).toDF("doc_id"),
        splits = Seq(("a", 800), ("b", 300)))
    }
  }

  test("pii scrub removes every email/phone/ipv4 occurrence") {
    val out = TextOps.piiScrub(SgmlExtract.documents(spark, sf))
    val counted = out.select(
      sum(regexp_count(col("scrubbed"), lit(TextOps.EmailRe))).as("e"),
      sum(regexp_count(col("scrubbed"), lit(TextOps.PhoneRe))).as("p"),
      sum(regexp_count(col("scrubbed"), lit(TextOps.Ipv4Re))).as("i"),
      sum(col("n_emails")).as("ne"), sum(col("n_phones")).as("np"),
      sum(col("n_ips")).as("ni"), count(lit(1)).as("n")).collect()(0)
    assert(counted.getLong(0) == 0 && counted.getLong(1) == 0 && counted.getLong(2) == 0,
      s"residual PII after scrub: $counted")
    val n = counted.getLong(6)
    // synthesis: 1 phone + 1 ip per doc, 1 email (+1 for doc_id % 3 == 0)
    assert(counted.getLong(3) >= n && counted.getLong(4) == n && counted.getLong(5) == n)
    // replacement markers present
    val one = out.filter(col("doc_id") === 0).select(col("scrubbed")).collect()(0).getString(0)
    assert(one.contains("[EMAIL]") && one.contains("[PHONE]") && one.contains("[IP]"))
    assert(!one.contains("@") && !one.contains("+1-555"))
  }

  test("temperature sampling: rare strata keep more; rates match the closed form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Sampling.withTemperatureRates(docs, "doc_id", "lang").collect()
    assert(out.nonEmpty)
    val rateOf = out.map(r => (r.getString(r.fieldIndex("lang")),
      (r.getLong(r.fieldIndex("n_stratum")), r.getLong(r.fieldIndex("w_stratum")),
       r.getLong(r.fieldIndex("rate_permille"))))).toMap
    // recompute the exact integer formula from the raw counts
    val counts = docs.groupBy(col("lang")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val w = counts.map { case (l, n) => (l, math.sqrt(n.toDouble).toLong) }
    val sumW = w.values.sum
    val nTotal = counts.values.sum
    counts.foreach { case (l, n) =>
      val expect = math.min(1000L,
        (BigInt(500) * w(l) * nTotal / (BigInt(sumW) * n)).toLong)
      val (gotN, gotW, gotR) = rateOf(l)
      assert(gotN == n && gotW == w(l) && gotR == expect,
        s"$l: got ($gotN,$gotW,$gotR) expect ($n,${w(l)},$expect)")
    }
    // the POINT of temperature: the rarest language keeps a strictly higher
    // rate than the most common one (counts are skewed: en dominates)
    val maxLang = counts.maxBy(_._2)._1
    val minLang = counts.minBy(_._2)._1
    assert(rateOf(minLang)._3 > rateOf(maxLang)._3,
      s"rare $minLang rate ${rateOf(minLang)._3} !> common $maxLang rate ${rateOf(maxLang)._3}")
    // every kept row passed its own stratum's threshold
    out.foreach { r =>
      assert(r.getLong(r.fieldIndex("bucket")) < r.getLong(r.fieldIndex("rate_permille")))
    }
  }

  test("temperature sampling rejects a null stratum, naming the column") {
    import spark.implicits._
    val docs = Seq((1L, Some("en")), (2L, Some("en")), (3L, None), (4L, Some("fr")))
      .toDF("doc_id", "lang")
    val e = intercept[IllegalArgumentException](
      Sampling.withTemperatureRates(docs, "doc_id", "lang"))
    assert(e.getMessage.contains("'lang'") && e.getMessage.contains("1 null"), e.getMessage)
  }

  test("split leakage: pairs are real near-dups with endpoints in different splits") {
    import graft.ops.{Audit, Dedup}
    val leaks = Audit.splitLeakageOf(SgmlExtract.documents(spark, sf), "doc_id", "text").collect()
    val pairs = Dedup.verifiedPairsOf(SgmlExtract.documents(spark, sf), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def splitOf(id: Long): String = {
      val b = ((id % Sampling.IdM) * Sampling.HashK) % Sampling.HashP % 1000
      if (b < 900) "train" else if (b < 950) "val" else "test"
    }
    leaks.foreach { r =>
      val (a, sa, b, sb) = (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))
      assert(pairs.contains((a, b)), s"leak ($a,$b) is not a verified near-dup pair")
      assert(sa == splitOf(a) && sb == splitOf(b) && sa != sb)
    }
    // and the audit finds EVERY cross-split pair, not a subset
    val expected = pairs.count { case (a, b) => splitOf(a) != splitOf(b) }
    assert(leaks.length == expected)
    // the pairs-reusing variant (the cheap production path) agrees exactly
    import spark.implicits._
    val reused = Audit.splitLeakageFromPairs(
        Dedup.verifiedPairsOf(SgmlExtract.documents(spark, sf), "doc_id", "text", 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(reused.toSet ==
      leaks.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet)
  }

  test("domain cap: exact window semantics under any partitioning, whale domain tamed") {
    import spark.implicits._
    // 3 domains: a whale (500 rows), a mid (30), a tiny (7 — below k)
    val rows = (1L to 500L).map(i => (i, "whale")) ++
      (1001L to 1030L).map(i => (i, "mid")) ++ (2001L to 2007L).map(i => (i, "tiny"))
    val d = rows.toDF("doc_id", "source").repartition(11) // arbitrary layout
    val got = Sampling.withDomainCap(d, "doc_id", "source", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: plain window semantics recomputed in memory
    def h(id: Long) = ((id % Sampling.IdM) * Sampling.HashK) % Sampling.HashP % 1000
    val expect = rows.groupBy(_._2).flatMap { case (dom, rs) =>
      rs.map(_._1).sortBy(id => (h(id), id)).take(10).zipWithIndex
        .map { case (id, i) => (dom, id, h(id), i + 1L) }
    }.toSet
    assert(got.toSet == expect)
    val byDom = got.groupBy(_._1).map { case (k2, v) => (k2, v.length) }
    assert(byDom == Map("whale" -> 10, "mid" -> 10, "tiny" -> 7))
    // re-run on a different physical layout → identical kept set
    val again = Sampling.withDomainCap(d.repartition(3), "doc_id", "source", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == expect)
  }
}
