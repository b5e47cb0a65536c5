package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation pipeline: quality filter, exact dedup keeper
  * choice, fuzzy-dedup loser rule, language annotation — on a corpus
  * whose expected survivors are known by construction. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("pipeline-spec").getOrCreate()

  private def docsOf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "raw")
      .selectExpr("doc_id",
        "array(named_struct('kind', 'text', 'text', raw, 'media_ref', " +
          "CAST(NULL AS STRING), 'offset', 0)) AS spans")
  }

  private val quality =
    "the quick brown fox jumps over the lazy dog and runs far away today"

  test("quality filter, exact dedup, fuzzy dedup, lang-id compose") {
    val near = quality + " extra"
    val docs = docsOf(
      "d1" -> quality,          // survives (keeper of the exact pair)
      "d2" -> quality,          // exact dup of d1 → dropped
      "d3" -> near,             // near-dup of d1 (high shingle overlap) → dropped
      "d4" -> "short junk",     // < 10 words → dropped by quality
      "d5" -> ("der hund und die katze sind nicht in dem haus und das ist gut so"))
    val out = Pipeline.curate(docs).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out.keySet == Set("d1", "d5"), out)
    assert(out("d1") == "en")
    assert(out("d5") == "de")
  }

  test("curateClustered keeps one doc per component (≡ curate here)") {
    val near = quality + " extra"
    val docs = docsOf(
      "d1" -> quality, "d2" -> quality, "d3" -> near,
      "d4" -> "short junk",
      "d5" -> "der hund und die katze sind nicht in dem haus und das ist gut so")
    val clustered = Pipeline.curateClustered(docs).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // d1~d3 form one component → keeper d1; d2 exact-deduped earlier;
    // d4 fails quality; d5 its own (singleton) component
    assert(clustered.keySet == Set("d1", "d5"), clustered)
    assert(clustered("d1") == "en" && clustered("d5") == "de")
    // on a corpus without skipped transitive edges the pairwise rule
    // agrees — the divergence case is pinned by the d7 unit test
    val pairwise = Pipeline.curate(docs).collect().map(_.getString(0)).toSet
    assert(pairwise == clustered.keySet)
  }

  test("markup parses before curation; parse-error docs are dropped") {
    val docs = docsOf(
      "m1" -> s"<html><body><p>$quality</p></body></html>",
      // unclosed <b> → parse error row → dropped by the n_errors gate
      "m2" -> s"<p>$quality <b>bold</p>")
    val out = Pipeline.curate(docs).collect().map(_.getString(0)).toSet
    assert(out == Set("m1"))
    val text = Pipeline.curate(docs).collect().head.getString(1)
    assert(text == quality)
  }

  test("entry points agree: run ≡ curate, curateClustered ⊆ curate") {
    // c1 and c3 each cover 28 of c9's 40 chain words: (c1,c9) and (c3,c9)
    // verify, the (c1,c3) edge does not — the pairwise rule keeps c1 and
    // c3, the cluster rule only c1
    val w = (0 until 40).map(i => s"chain${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    def chain(from: Int, until: Int) = ("the" +: w.slice(from, until)).mkString(" ")
    val docs = docsOf(
      "e1" -> quality, "e2" -> quality, "e3" -> quality, // exact-copy cohort
      "n1" -> "der hund und die katze sind nicht in dem haus und das ist gut so",
      "n2" -> "der hund und die katze sind nicht in dem haus und das ist gut so ja",
      "c1" -> chain(0, 28), "c3" -> chain(12, 40), "c9" -> chain(0, 40),
      "j1" -> "short junk",
      "m1" -> s"<p>$quality <b>bold</p>") // parse error
    val dir = java.nio.file.Files.createTempDirectory("pipeline").toString
    docs.write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.run(spark, s"$dir/in", s"$dir/out", runId = "parity")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "text", "predicted_lang", "n_words").collect().map(_.toSeq).toSet
    val curated = rows(Pipeline.curate(docs))
    assert(rows(spark.read.parquet(s"$dir/out/curated")) == curated)
    val clustered = rows(Pipeline.curateClustered(docs))
    assert(clustered.subsetOf(curated))
    assert(curated.map(_.head) == Set("e1", "n1", "c1", "c3"), curated)
    assert(clustered.map(_.head) == Set("e1", "n1", "c1"), clustered)
  }

  test("main rejects unknown keys and bare arguments before starting Spark") {
    val before = spark
    for (bad <- Seq("minjaccard=0.8", "resume", "maxBucket", "dialect=htlm4",
        "space=presrve", "minJaccard=half"))
      intercept[IllegalArgumentException](Pipeline.main(Array("in", "out", bad)))
    assert(!before.sparkContext.isStopped)
  }

  test("run(): curated + lineage parquet written in one call") {
    val dir = java.nio.file.Files.createTempDirectory("pipeline").toString
    docsOf("a" -> quality, "b" -> quality)
      .write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.run(spark, s"$dir/in", s"$dir/out", runId = "t1")
    val curated = spark.read.parquet(s"$dir/out/curated")
    assert(curated.count() == 1)
    val lineage = spark.read.parquet(s"$dir/out/lineage")
    assert(lineage.columns.toSet ==
      Set("run_id", "stage", "partition_id", "docs", "bytes", "spans",
        "errors", "dropped_buckets", "dropped_rows"))
    assert(lineage.filter("stage = 'extract'")
      .selectExpr("sum(docs)").collect().head.getLong(0) == 2L)
    // default Config caps the valve → the audit row is always present,
    // zeros here (no bucket anywhere near 1000 docs)
    val cap = lineage.filter("stage = 'fuzzy_dedup_cap'").collect()
    assert(cap.length == 1)
    assert(cap.head.getAs[Long]("dropped_buckets") == 0L)
    assert(cap.head.getAs[Long]("dropped_rows") == 0L)
  }

  test("run(): resume skips the committed parse stage; resume=false redoes it") {
    val dir = java.nio.file.Files.createTempDirectory("pipeline").toString
    docsOf("a" -> quality,
        "b" -> "der hund und die katze sind nicht in dem haus und das ist gut so")
      .write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.run(spark, s"$dir/in", s"$dir/out", runId = "r1")
    val marker = java.nio.file.Paths.get(s"$dir/out/extracted/_SUCCESS")
    val t1 = java.nio.file.Files.getLastModifiedTime(marker)
    Thread.sleep(20)
    // crash-after-extract scenario: the second attempt must reuse the
    // committed product (marker untouched) and still rebuild the rest
    Pipeline.run(spark, s"$dir/in", s"$dir/out", runId = "r2")
    assert(java.nio.file.Files.getLastModifiedTime(marker) == t1)
    assert(spark.read.parquet(s"$dir/out/curated").count() == 2)
    assert(spark.read.parquet(s"$dir/out/lineage")
      .filter("run_id = 'r2'").count() > 0)
    // opting out forces a fresh parse
    Thread.sleep(20)
    Pipeline.run(spark, s"$dir/in", s"$dir/out", runId = "r3", resume = false)
    val t3 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(t3 != t1)
    // a DIFFERENT parse config must not reuse the stale product: the
    // fingerprint mismatch forces a re-parse even with resume=true
    Thread.sleep(20)
    Pipeline.run(spark, s"$dir/in", s"$dir/out",
      Pipeline.Config(extract =
        SgmlExtract.Config(dialect = "xml", space = "preserve")),
      runId = "r4")
    val t4 = java.nio.file.Files.getLastModifiedTime(marker)
    assert(t4 != t3)
    // CHANGED INPUT at the same inPath must not reuse the stale product
    // either: the fingerprint folds in a listing digest (count/bytes/
    // mtime), so the new doc shows up in curated after a resume=true run
    Thread.sleep(20)
    docsOf("a" -> quality,
        "b" -> "der hund und die katze sind nicht in dem haus und das ist gut so",
        "c" -> (quality.replace("fox", "wolf")))
      .write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.run(spark, s"$dir/in", s"$dir/out",
      Pipeline.Config(extract =
        SgmlExtract.Config(dialect = "xml", space = "preserve")),
      runId = "r5")
    assert(java.nio.file.Files.getLastModifiedTime(marker) != t4)
    assert(spark.read.parquet(s"$dir/out/extracted").count() == 3)
    // an unchanged input + config DOES still resume (digest is stable)
    val t5 = java.nio.file.Files.getLastModifiedTime(marker)
    Thread.sleep(20)
    Pipeline.run(spark, s"$dir/in", s"$dir/out",
      Pipeline.Config(extract =
        SgmlExtract.Config(dialect = "xml", space = "preserve")),
      runId = "r6")
    assert(java.nio.file.Files.getLastModifiedTime(marker) == t5)
    // unlistable input (no such path) degrades to the config-only guard
    assert(Pipeline.inputDigest(spark, s"$dir/definitely-missing") == "unlisted")
  }

  test("run(): a firing valve is recorded in lineage, not silent") {
    // 12 case-variants of one sentence: shingling lowercases, so all 12
    // share an IDENTICAL shingle set (→ identical minhash signature →
    // every band bucket holds all 12) while md5(text) differs (exact
    // dedup keeps all 12). maxBucket=4 drops those size-12 buckets
    // WHOLE → fuzzy dedup finds no pairs, all 12 survive, and the
    // lineage audit row records exactly what the valve discarded.
    val words = quality.split(" ")
    val tpl = (i: Int) =>
      words.updated(i % words.length, words(i % words.length).toUpperCase)
        .mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("pipeline").toString
    docsOf((1 to 12).map(i => f"t$i%02d" -> tpl(i)): _*)
      .write.mode("overwrite").parquet(s"$dir/in")
    Pipeline.run(spark, s"$dir/in", s"$dir/out",
      Pipeline.Config(maxBucket = 4), runId = "t2")
    val cap = spark.read.parquet(s"$dir/out/lineage")
      .filter("stage = 'fuzzy_dedup_cap'").collect()
    assert(cap.length == 1)
    assert(cap.head.getAs[Long]("dropped_buckets") > 0L)
    assert(cap.head.getAs[Long]("dropped_rows") > 0L)
    // and the capped run keeps the whale cohort instead of pair-exploding
    assert(spark.read.parquet(s"$dir/out/curated").count() == 12)
    // library callers (curate/curateExtracted, no lineage sink) get the
    // same audit numbers from dropAudit — a capped run is never silent
    val docs = docsOf((1 to 12).map(i => f"t$i%02d" -> tpl(i)): _*)
    val extracted = SgmlExtract.extractDf(docs,
      Pipeline.Config().extract)
    val audit = Pipeline.dropAudit(extracted,
      Pipeline.Config(maxBucket = 4)).collect().head
    assert(audit.getAs[Long]("dropped_buckets") == cap.head.getAs[Long]("dropped_buckets"))
    assert(audit.getAs[Long]("dropped_rows") == cap.head.getAs[Long]("dropped_rows"))
    // uncapped: zeros (the row's presence is the audit)
    val none = Pipeline.dropAudit(extracted).collect().head
    assert(none.getAs[Long]("dropped_buckets") == 0L)
  }

  test("the valve audit reads the fuzzy stage's cached buckets: no band shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ops.Dedup
    // the 12 case-variants above: every band bucket holds all 12 docs
    val words = quality.split(" ")
    val docs = docsOf((1 to 12).map { i =>
      f"t$i%02d" -> words.updated(i % words.length, words(i % words.length).toUpperCase)
        .mkString(" ")
    }: _*)
    val cfg = Pipeline.Config(maxBucket = 4)
    val extracted = SgmlExtract.extractDf(docs, cfg.extract)
    val curated = Pipeline.curateExtracted(extracted, cfg).cache()
    assert(curated.count() == 12)
    val audit = Pipeline.dropAudit(extracted, cfg)
    val bandShuffles = audit.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.toString.contains("band_hash") => e
    }
    assert(bandShuffles.isEmpty, audit.queryExecution.executedPlan)
    // and it counts what the count-only aggregation over the bands counts
    val ref = Dedup.droppedBucketStats(Dedup.bandsOf(curated, "doc_id", "text"),
      Seq("band", "band_hash"), cfg.maxBucket).collect().head
    assert(audit.collect().head == ref)
    assert(ref.getAs[Long]("dropped_rows") == 12L * Dedup.Bands)
    curated.unpersist()
  }
}
