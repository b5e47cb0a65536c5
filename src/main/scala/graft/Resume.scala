package graft

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-based resume for the extraction pipeline (north rule:
  * "resumable from checkpoint with per-partition lineage + metrics";
  * SURVEY.md §7 step 4; reference precedent: the push parser's own
  * incremental `sgml_parse` / `parse(content)` API — sgml2pl.c,
  * pl_sgml_parse [V] — which keeps parser state across calls).
  *
  * Unit of work = input FILE (the natural Iceberg/Parquet granule; at
  * 100 TB these are the table's data files). Files are grouped into
  * chunks; each chunk is one parallel Spark job that
  *   1. reads ONLY that chunk's files (explicit file list → no rescan of
  *      completed data, real I/O pruning at any scale),
  *   2. extracts spans via the `extract_spans` expression,
  *   3. overwrites `out/data/chunk=<id>/` (idempotent: a re-run of a
  *      half-written chunk replaces it, never duplicates it),
  *   4. appends one manifest row per completed file plus per-partition
  *      lineage rows.
  * On restart, pending = listed input files ANTI-JOINed against the
  * manifest — completed work is never recomputed, matching the
  * reference's resume-without-reparse contract at file granularity.
  *
  * Scale notes: the manifest is tiny (one row per data file — ~10^6 rows
  * for 100 TB of 100 MB files) and read driver-side once per attempt;
  * chunk size trades resume granularity against per-job overhead
  * (default 64 files/chunk → a few hundred jobs at 100 TB, each wide
  * enough to occupy the cluster).
  */
object Resume {

  final case class ManifestRow(
      run_id: String, chunk_id: String, file: String, file_docs: Long,
      chunk_docs: Long, chunk_spans: Long, chunk_errors: Long, wall_ms: Long)

  /** Deterministic chunk id from its member files. */
  private def chunkId(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach(f => md.update(f.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def manifestPath(outDir: String) = s"$outDir/_manifest"
  def dataPath(outDir: String) = s"$outDir/data"
  def lineagePath(outDir: String) = s"$outDir/_lineage"

  /** Files of `inputPath` not yet recorded complete in the manifest. */
  def pendingFiles(spark: SparkSession, inputPath: String, outDir: String): Seq[String] = {
    val all = spark.read.parquet(inputPath).inputFiles.toSeq.sorted
    val manifest = new org.apache.hadoop.fs.Path(manifestPath(outDir))
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no manifest = first attempt; an unreadable one must fail, not be
    // mistaken for a first attempt that reprocesses every file
    val done: Set[String] =
      if (!fs.exists(manifest)) Set.empty
      else spark.read.parquet(manifest.toString)
        .select("file").distinct.collect().map(_.getString(0)).toSet
    all.filterNot(done)
  }

  /** One resumable attempt. Processes pending files chunk-by-chunk;
    * returns the number of files newly completed. Safe to call again
    * after any crash — completed chunks are skipped, a torn chunk is
    * rewritten in place. `failAfterChunks` injects a crash for tests. */
  def runAttempt(
      spark: SparkSession,
      inputPath: String,
      outDir: String,
      cfg: SgmlExtract.Config = SgmlExtract.Config(),
      runId: String = "run",
      filesPerChunk: Int = 64,
      failAfterChunks: Int = Int.MaxValue): Int = {
    import spark.implicits._
    val pending = pendingFiles(spark, inputPath, outDir)
    var completed = 0
    pending.grouped(filesPerChunk).zipWithIndex.foreach { case (files, i) =>
      if (i >= failAfterChunks) throw new RuntimeException(s"injected failure after $i chunks")
      val cid = chunkId(files)
      val t0 = System.nanoTime()

      // Single-scan chunk job (VERDICT r1 #3 on the resume path): carry
      // input_file_name() THROUGH the extract via the expression kernel,
      // cache the extracted chunk, then (a) write the data and (b) run ONE
      // grouped aggregation per (file, parse-partition) off the cache.
      // Input is read once; the written output is never re-read. A chunk
      // is sized to occupy the cluster, so caching one chunk at a time is
      // bounded (MEMORY_AND_DISK: eviction falls back to a narrow
      // recompute, never a wrong answer).
      val extracted = spark.read.parquet(files: _*)
        .select(
          col("doc_id").cast("string").as("doc_id"),
          SgmlExtract.textSpans(col("text")).as("spans"),
          input_file_name().as("__file"))
        .select(col("doc_id"),
          SgmlExtract.extractCol(spark, cfg).as("r"),
          col("__file"))
        .select(col("doc_id"), col("r.spans").as("spans"), col("r.errors").as("errors"),
          col("__file"), spark_partition_id().as("__pid"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // one write job; chunk dir overwrite → idempotent re-run
        extracted.drop("__file", "__pid").write.mode(SaveMode.Overwrite)
          .parquet(s"${dataPath(outDir)}/chunk=$cid")

        // one tiny grouped agg (≤ files × partitions rows) from the cache;
        // lineage, per-file counts and chunk totals all fold out of it
        val g = extracted.groupBy(col("__file"), col("__pid"))
          .agg(
            count(lit(1)).as("docs"),
            sum(SgmlExtract.spanChars).as("bytes"),
            sum(size(col("spans")).cast("long")).as("spans"),
            sum(size(col("errors")).cast("long")).as("errors"))
          .collect()

        val lineageRows = g.groupBy(_.getInt(1)).toSeq.map { case (pid, rs) =>
          (runId, pid, rs.map(_.getLong(2)).sum, rs.map(_.getLong(3)).sum,
            rs.map(_.getLong(4)).sum, rs.map(_.getLong(5)).sum, cid)
        }
        spark.createDataFrame(lineageRows)
          .toDF("run_id", "partition_id", "docs", "bytes", "spans", "errors", "chunk_id")
          .write.mode(SaveMode.Append).parquet(lineagePath(outDir))

        val chunkDocs = g.map(_.getLong(2)).sum
        val chunkSpans = g.map(_.getLong(4)).sum
        val chunkErrors = g.map(_.getLong(5)).sum
        val perFile: Map[String, Long] = g.groupBy(_.getString(0)).view
          .mapValues(_.map(_.getLong(2)).sum).toMap
        def fileDocs(f: String): Long =
          perFile.collectFirst { case (k, v) if k.endsWith(f) || f.endsWith(k.stripPrefix("file:")) => v }
            .getOrElse(perFile.getOrElse(f, 0L))
        val wallMs = (System.nanoTime() - t0) / 1000000
        val rows = files.map(f => ManifestRow(runId, cid, f, fileDocs(f),
          chunkDocs, chunkSpans, chunkErrors, wallMs))
        // manifest append LAST: a crash before this line leaves the chunk
        // unrecorded → next attempt redoes it (idempotent overwrite above)
        spark.createDataset(rows).write.mode(SaveMode.Append).parquet(manifestPath(outDir))
      } finally extracted.unpersist(blocking = false)
      completed += files.size
    }
    completed
  }

  /** The completed output as one DataFrame (all chunks). */
  def output(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"${dataPath(outDir)}/chunk=*")
}
