package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextOps}

/** End-to-end training-data curation over a contract-schema table — the
  * composition proof that the engine's pieces are one pipeline, not a
  * bag of demos: extract → quality-filter → exact dedup → fuzzy dedup →
  * language annotation. Shuffles: the repartition, the exact-dedup
  * window, the band aggregation and the pair distinct; the two verify
  * text joins and the keeper anti-join add one per side that does not
  * broadcast.
  *
  * Stage shapes (each documented at its operator):
  *  1. extract: skew-isolated narrow parse (SgmlExtract.extractDf over
  *     sizeAwareRepartition) — shuffle 0 (the repartition).
  *  2. text + quality: narrow — span concat, then one Scala pass per doc
  *     for the word/stopword/letter counts (TextOps.withQuality), filter.
  *  3. exact dedup: row_number over a window keyed by md5(text), keep
  *     the lowest doc_id — shuffle 1, no join.
  *  4. fuzzy dedup: one Scala kernel per doc gives its 16 MinHash band
  *     hashes (Dedup.bandsOf); ONE band aggregation, bucket_collect,
  *     gives each bucket of ≥ 2 docs its exact size and at most
  *     maxBucket + 1 ids (Dedup.buckets) — shuffle 2. The buckets within
  *     the cap explode into id pairs, deduplicated across bands by a
  *     distinct — shuffle 3 — and joined to both texts for the word-scan
  *     Jaccard check (Dedup.verifiedPairsFromBuckets). Survivors via
  *     left-anti join on the losers (every doc that is the GREATER member
  *     of a verified pair — deterministic, order-free, no distinct).
  *     Losers are bounded by the duplicate rate, so the anti-join's
  *     small side broadcasts in practice (Spark decides; no hint forced).
  *     A capped run caches the bucket frame once: the lineage audit of
  *     the over-cap buckets reads it, with no second band shuffle.
  *  5. language annotation: narrow — one Scala pass per doc over
  *     `lower(text)` (TextOps.withLangId).
  *
  * Stages 2-4 are built in one place (`stages`); `curate`,
  * `curateExtracted`, `curateClustered`, `run` and `dropAudit` all go
  * through it and differ only in the keeper rule applied to its pairs.
  *
  * Deterministic end to end, and SQL-expressible stage by stage — the
  * p1_curate query is value-verified against a DuckDB oracle that
  * replays the identical pipeline from scratch.
  */
object Pipeline {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** spark-submit entry:
    * {{{
    * spark-submit --class graft.Pipeline <jar> <inPath> <outPath> \
    *   [dialect=html4] [space=preserve] [minJaccard=0.5] [partitions=0] \
    *   [maxBucket=1000] [runId=run-0] [format=parquet] [resume=true]
    * }}}
    * Writes `<outPath>/{extracted,curated,lineage}`. An argument that is
    * not `k=v` with one of these keys, or an unknown dialect/space, fails
    * before a SparkSession is built. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Pipeline <inPath> <outPath> [k=v …]")
    val kv = args.drop(2).map(a => a.split("=", 2) match {
      case Array(k, v) if MainKeys.contains(k) => k -> v
      case _ => throw new IllegalArgumentException(s"Pipeline: bad argument " +
        s"'$a' (expected k=v with k one of ${MainKeys.mkString(", ")})")
    }).toMap
    val cfg = Config(
      extract = SgmlExtract.Config(
        dialect = kv.getOrElse("dialect", "html4"),
        space = kv.getOrElse("space", "preserve")),
      minJaccard = kv.getOrElse("minJaccard", "0.5").toDouble,
      partitions = kv.getOrElse("partitions", "0").toInt,
      maxBucket = kv.get("maxBucket").map(_.toInt)
        .getOrElse(Config().maxBucket))
    cfg.extract.toParserConfig
    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    run(spark, args(0), args(1), cfg,
      runId = kv.getOrElse("runId", "run-0"),
      format = kv.getOrElse("format", "parquet"),
      resume = kv.getOrElse("resume", "true").toBoolean)
    spark.stop()
  }

  private val MainKeys = Seq("dialect", "space", "minJaccard", "partitions",
    "maxBucket", "runId", "format", "resume")

  final case class Config(
      extract: SgmlExtract.Config = SgmlExtract.Config(dialect = "html4", space = "preserve"),
      minJaccard: Double = 0.5,
      partitions: Int = 0, // 0 = leave the input partitioning alone
      /** LSH mega-bucket cap (Dedup.verifiedPairsOf) — the 100 TB safety
        * valve, ON by default: a bucket holding >1000 docs is template/
        * boilerplate mass whose Σ|bucket|² pair explosion can stall a
        * stage, and exact dedup upstream already collapsed true copies.
        * Int.MaxValue disables it. Every capped run is auditable — `run`
        * writes a `fuzzy_dedup_cap` lineage row with dropped_buckets/
        * dropped_rows, and library callers of curate* get the same numbers
        * from `Pipeline.dropAudit`. The oracle entries (p1/p2) pass
        * Int.MaxValue explicitly: the uncapped path stays value-verified
        * against DuckDB. */
      maxBucket: Int = 1000)

  /** Valve audit for library callers of curate/curateExtracted (the
    * `run` entry writes this into lineage automatically): the over-cap
    * buckets of the SAME bucket frame the fuzzy stage builds, so a capped
    * run never silently reads as "covered everything". One row:
    * (dropped_buckets, dropped_rows) — zeros when nothing was over the
    * cap. Callers of `curate(docs, cfg)` pass
    * `SgmlExtract.extractDf(docs, cfg.extract)` as `extracted`. Nothing
    * is cached here, so when the curation ran on this session its plan
    * (and the bucket frame's) is served from the copies that run cached,
    * and the audit re-pays neither the signature pass nor the shuffle. */
  def dropAudit(extracted: DataFrame, cfg: Config = Config()): DataFrame =
    Dedup.droppedOf(stages(extracted, cfg, cacheTag = None).buckets, cfg.maxBucket)

  /** Contract table (doc_id, spans) → curated (doc_id, text, predicted_lang,
    * n_words). */
  def curate(docs: DataFrame, cfg: Config = Config()): DataFrame =
    curateExtracted(SgmlExtract.extractDf(repartitioned(docs, cfg), cfg.extract), cfg)

  /** Stage 1's placement: size-aware when `cfg.partitions` asks for it. */
  private def repartitioned(docs: DataFrame, cfg: Config): DataFrame =
    if (cfg.partitions > 0) SgmlExtract.sizeAwareRepartition(docs, cfg.partitions)
    else docs

  /** Stage 2: span-concat + error count + quality gate — shared verbatim
    * by the streaming leg (StreamingExtract.curatedStream), so the batch
    * and streaming quality semantics cannot drift apart. */
  private[graft] def qualityStage(extracted: DataFrame,
      keep: Seq[String] = Nil): DataFrame = {
    // `keep`: extra input columns carried through the projection (the
    // streaming leg threads its event-time column this way — a narrow
    // passthrough, not a join)
    val texts = extracted
      .select(col("doc_id") +:
        expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("text") +:
        size(col("errors")).as("n_errors") +:
        keep.map(col): _*)
    TextOps.withQuality(texts)
      .filter(col("is_quality") && col("n_errors") === 0)
      .select(col("doc_id") +: col("text") +: col("n_words") +:
        keep.map(col): _*)
  }

  /** Stage 3: exact dedup — keep the lowest doc_id per content hash.
    * Window + row_number, one shuffle, no join. */
  private def exactStage(quality: DataFrame): DataFrame = {
    val wHash = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    quality
      .withColumn("__rn", row_number().over(wHash))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Stages 2-4 as every entry point composes them: quality → exact dedup
    * → MinHash band buckets → Jaccard-verified pairs. The stage
    * boundaries live here and nowhere else; entry points differ only in
    * their keeper rule. */
  private final case class Stages(exact: DataFrame, buckets: DataFrame, cfg: Config) {
    def pairs: DataFrame = Dedup.verifiedPairsFromBuckets(buckets, exact,
      "doc_id", "text", cfg.minJaccard, cfg.maxBucket)
  }

  /** `cacheTag`: the exact frame is persisted under this Dedup.swapCache
    * tag. The fuzzy stage references that subtree four times (bands,
    * both verify-join text sides, the keeper join); without the cache
    * each branch re-executes the parse kernel — the dominant cost — under
    * a different column pruning, which also defeats exchange reuse.
    * swapCache releases the copy a previous invocation cached, so repeated
    * calls on a long-lived session hold at most one copy per tag.
    * MEMORY_AND_DISK holds the post-quality text corpus; at sizes where
    * that is unwelcome, materialize to a table (Pipeline.run's extracted
    * product plays that role for the parse leg) and curate from the
    * re-read. A capped run also persists the bucket frame (keys, sizes
    * and at most maxBucket + 1 ids per bucket of ≥ 2 docs), which both
    * the pairs and the valve audit read. */
  private def stages(extracted: DataFrame, cfg: Config,
      cacheTag: Option[String]): Stages = {
    val built = exactStage(qualityStage(extracted))
    val exact = cacheTag.fold(built)(Dedup.swapCache(_, built))
    val buckets = Dedup.buckets(Dedup.bandsOf(exact, "doc_id", "text"),
      Seq("band", "band_hash"), col("doc_id"), cfg.maxBucket)
    val shared = if (cfg.maxBucket == Int.MaxValue) buckets
      else cacheTag.fold(buckets)(t => Dedup.swapCache(s"$t-buckets", buckets))
    Stages(exact, shared, cfg)
  }

  /** Stage 4's pairwise keeper: drop the greater member of every verified
    * pair (deterministic, order-free) via anti-join, which needs no
    * distinct on its right side. */
  private def pairwiseKept(st: Stages): DataFrame =
    st.exact.join(st.pairs.select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")

  /** Stage 5 and the curated column contract, one tail for every entry. */
  private def withLang(deduped: DataFrame): DataFrame =
    TextOps.withLangId(deduped)
      .select(col("doc_id"), col("text"), col("predicted_lang"), col("n_words"))

  /** Stages 2-5 over an ALREADY-extracted frame (doc_id, spans, errors) —
    * lets `run` parse once and feed several consumers. */
  def curateExtracted(extracted: DataFrame, cfg: Config = Config()): DataFrame =
    withLang(pairwiseKept(stages(extracted, cfg, Some("p1-exact"))))

  /** Cluster-keeper curation: stages 1–3 as `curate`, but fuzzy dedup
    * keeps exactly ONE doc per CONNECTED COMPONENT of the verified-pair
    * graph (the smallest doc_id — Dedup.clustersOf) instead of dropping
    * the greater member of each pair. The difference matters on
    * transitive chains with a skipped edge: pairs (3,9) and (1,9) form
    * the cluster {1,3,9}, but 3 is never a pair's greater member, so the
    * pairwise rule keeps BOTH 1 and 3 — the cluster rule keeps only 1.
    * Costs the component iteration (O(diameter) rounds over (id, label)
    * pairs) on top of curate's four shuffles; the p2 oracle replays it
    * with a recursive-CTE transitive closure. */
  def curateClustered(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val st = stages(SgmlExtract.extractDf(repartitioned(docs, cfg), cfg.extract),
      cfg, Some("p2-exact"))
    val keepers = Dedup.clustersOf(st.pairs, st.exact.select(col("doc_id")))
      .filter(col("is_keeper")).select(col("doc_id"))
    withLang(st.exact.join(keepers, Seq("doc_id"), "left_semi"))
  }

  /** Listing digest of an input path for the resume fingerprint: file
    * count, total bytes, max modification time over non-hidden files.
    * Metadata-only (no data read). Paths that cannot be listed (a table
    * identifier rather than a directory) degrade to a constant so resume
    * still works config-guarded, with a warning. */
  private[graft] def inputDigest(spark: SparkSession, inPath: String): String =
    try {
      val p = new org.apache.hadoop.fs.Path(inPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      var bytes = 0L
      var maxMtime = 0L
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          n += 1
          bytes += st.getLen
          if (st.getModificationTime > maxMtime) maxMtime = st.getModificationTime
        }
      }
      s"files=$n bytes=$bytes maxMtime=$maxMtime"
    } catch {
      case e: Exception =>
        log.warn(s"inputDigest: cannot list '$inPath' (${e.getMessage}); " +
          "resume will guard on config only — stale-input reuse is possible")
        "unlisted"
    }

  /** Production entry: read a contract table, PARSE ONCE, write the
    * extracted product, then derive curated output + per-partition
    * lineage from the cheap columnar re-read — the expensive leg (the
    * parse kernel) never runs twice (same single-scan discipline as
    * graft.Resume). */
  def run(spark: SparkSession, inPath: String, outPath: String,
      cfg: Config = Config(), runId: String = "run-0",
      format: String = "parquet", resume: Boolean = true): Unit = {
    // Stage-level resume (north rule "partial runs continue without
    // recomputation"): a committed extracted product (_SUCCESS present)
    // is the checkpoint — a re-run after a crash in the curation leg
    // skips the parse, the expensive stage, entirely. File-granular
    // resume WITHIN the parse leg is graft.Resume (manifest per input
    // file); compose them by pointing `inPath` at Resume's output.
    // The checkpoint is only valid for the SAME input and parse config:
    // a fingerprint written next to the product guards against silently
    // reusing a stale extract for a different inPath / dialect / layout —
    // AND for changed CONTENT at the same inPath: the fingerprint folds in
    // a listing digest of the input (file count, total bytes, max mtime),
    // so re-running after the input files were replaced or appended
    // re-parses instead of silently curating from stale data. The listing
    // is a metadata-only namenode op the read pays anyway; for
    // non-filesystem inputs (an Iceberg table identifier), the digest
    // degrades to a constant and config-only guarding — Iceberg's own
    // snapshot id is the right digest there (documented day-one gap).
    val fingerprint =
      s"in=$inPath format=$format partitions=${cfg.partitions} " +
        s"extract=${cfg.extract} input={${inputDigest(spark, inPath)}}"
    val successMarker =
      new org.apache.hadoop.fs.Path(s"$outPath/extracted/_SUCCESS")
    val metaPath = new org.apache.hadoop.fs.Path(s"$outPath/extracted/_graft_meta")
    val fs = successMarker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def committedFingerprint: Option[String] =
      if (!fs.exists(metaPath)) None
      else {
        val in = fs.open(metaPath)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    val reusable = resume && fs.exists(successMarker) &&
      committedFingerprint.contains(fingerprint)
    if (resume && fs.exists(successMarker) && !reusable)
      log.warn(s"resume: committed extract at $outPath/extracted was built " +
        s"with ${committedFingerprint.getOrElse("<no fingerprint>")}; " +
        s"this run wants '$fingerprint' — re-parsing")
    if (reusable)
      log.info(s"resume: reusing committed extract at $outPath/extracted")
    else {
      val docs = SgmlExtract.readDocs(spark, inPath, format).toDF()
      SgmlExtract.extractDf(repartitioned(docs, cfg), cfg.extract)
        .withColumn("__pid", spark_partition_id())
        .write.mode("overwrite").parquet(s"$outPath/extracted")
      val out = fs.create(metaPath, true)
      try out.write(fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    val extracted = spark.read.parquet(s"$outPath/extracted")
    val extractRows = SgmlExtract.partitionRows(extracted, runId)
      .select(col("run_id"), lit("extract").as("stage"),
        col("partition_id"), col("docs"), col("bytes"), col("spans"),
        col("errors"),
        lit(null).cast("long").as("dropped_buckets"),
        lit(null).cast("long").as("dropped_rows"))
    // the bucket frame is SHARED between pair generation and the
    // cap-audit lineage row — a capped run is auditable without a second
    // signature pass or band shuffle
    val st = stages(extracted.drop("__pid"), cfg, Some("run-exact"))
    withLang(pairwiseKept(st))
      .write.mode("overwrite").parquet(s"$outPath/curated")
    // Lineage LAST: per-partition extract metrics, plus the valve audit
    // row whenever a cap is active (zeros when nothing was dropped — the
    // row's presence is the audit; reads the cached bucket frame).
    // Uncapped runs have no valve to audit and skip the row rather than
    // pay an extra band aggregation.
    val lineage =
      if (cfg.maxBucket == Int.MaxValue) extractRows
      else extractRows.unionByName(
        Dedup.droppedOf(st.buckets, cfg.maxBucket)
          .select(lit(runId).as("run_id"),
            lit("fuzzy_dedup_cap").as("stage"),
            lit(null).cast("int").as("partition_id"),
            lit(null).cast("long").as("docs"),
            lit(null).cast("long").as("bytes"),
            lit(null).cast("long").as("spans"),
            lit(null).cast("long").as("errors"),
            col("dropped_buckets"), col("dropped_rows")))
    lineage.write.mode("overwrite").parquet(s"$outPath/lineage")
  }
}
