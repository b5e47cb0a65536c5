package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** Checkpoint/resume machinery (Resume.scala): crash mid-run, rerun,
  * nothing recomputed, output complete and duplicate-free. */
class ResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("resume-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mkInput(dir: String, nFiles: Int, docsPerFile: Int): Unit = {
    import spark.implicits._
    (0 until nFiles).foreach { f =>
      (0 until docsPerFile)
        .map(i => (s"d${f}_$i", s"<html><p>file $f doc $i</p></html>"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$dir/part_$f")
    }
  }

  // Resume expects one logical table; build it as a dir of N single-file
  // subdirs read via glob so inputFiles yields exactly N parquet files.
  private def tableOf(dir: String): String = s"$dir/part_*"

  test("resume: crash after first chunk, rerun completes without recompute") {
    val tmp = Files.createTempDirectory("resume").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    mkInput(in, nFiles = 4, docsPerFile = 25)
    val input = tableOf(in)

    assert(Resume.pendingFiles(spark, input, out).size === 4)

    // attempt 1: crashes after 2 chunks of 1 file each
    intercept[RuntimeException] {
      Resume.runAttempt(spark, input, out, runId = "r1",
        filesPerChunk = 1, failAfterChunks = 2)
    }
    val afterCrash = Resume.pendingFiles(spark, input, out)
    assert(afterCrash.size === 2, "two files should remain pending")

    // attempt 2: only the pending two are processed
    val n2 = Resume.runAttempt(spark, input, out, runId = "r1", filesPerChunk = 1)
    assert(n2 === 2)

    // attempt 3: nothing left
    assert(Resume.runAttempt(spark, input, out, runId = "r1") === 0)

    // output complete and duplicate-free
    val got = Resume.output(spark, out)
    assert(got.count() === 100)
    assert(got.select("doc_id").distinct.count() === 100)
    // spans survived the kernel
    val spans = got.select(explode(col("spans")).as("s"))
      .filter(col("s.kind") === "text")
    assert(spans.filter(col("s.text").contains("file 3 doc 0")).count() === 1)

    // manifest: one row per file, exact per-file doc counts
    val manifest = spark.read.parquet(Resume.manifestPath(out))
    assert(manifest.select("file").distinct.count() === 4)
    assert(manifest.agg(sum("file_docs")).collect()(0).getLong(0) === 100)

    // lineage rows exist for every chunk
    val lineage = spark.read.parquet(Resume.lineagePath(out))
    assert(lineage.select("chunk_id").distinct.count() === 4)
    assert(lineage.agg(sum("docs")).collect()(0).getLong(0) === 100)
  }

  test("resume: an input directory whose name holds a space and a '%' resumes to the full count") {
    // the listed files are URI strings (`%20`, `%25`); each chunk must
    // read its files by their decoded paths
    val tmp = Files.createTempDirectory("resume4").toString
    val in = s"$tmp/res in/docs %x"; val out = s"$tmp/out"
    mkInput(in, nFiles = 2, docsPerFile = 10)
    val input = tableOf(in)

    val crash = intercept[Exception] {
      Resume.runAttempt(spark, input, out, filesPerChunk = 1, failAfterChunks = 1)
    }
    assert(crash.getMessage.startsWith("injected failure"), crash.getMessage)
    assert(Resume.runAttempt(spark, input, out, filesPerChunk = 1) === 1)

    assert(Resume.output(spark, out).count() === 20)
    val manifest = spark.read.parquet(Resume.manifestPath(out))
    assert(manifest.agg(sum("file_docs")).collect()(0).getLong(0) === 20)
  }

  test("resume: torn chunk (data written, manifest missing) is rewritten idempotently") {
    val tmp = Files.createTempDirectory("resume2").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    mkInput(in, nFiles = 2, docsPerFile = 10)
    val input = tableOf(in)

    // simulate a torn chunk: full run, then delete the manifest rows of one
    // chunk while leaving its data dir — next attempt must redo that file
    Resume.runAttempt(spark, input, out, filesPerChunk = 1)
    val m = spark.read.parquet(Resume.manifestPath(out)).collect()
    val dropChunk = m.head.getAs[String]("chunk_id")
    val kept = m.filterNot(_.getAs[String]("chunk_id") == dropChunk)
    import spark.implicits._
    // rewrite manifest without the dropped chunk (out-of-band surgery)
    val keptDs = kept.map(r => Resume.ManifestRow(
      r.getAs[String]("run_id"), r.getAs[String]("chunk_id"), r.getAs[String]("file"),
      r.getAs[Long]("file_docs"), r.getAs[Long]("chunk_docs"),
      r.getAs[Long]("chunk_spans"), r.getAs[Long]("chunk_errors"), r.getAs[Long]("wall_ms"))).toSeq
    val mp = Resume.manifestPath(out)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(mp.stripPrefix("file:")))
    spark.createDataset(keptDs).write.parquet(mp)

    assert(Resume.pendingFiles(spark, input, out).size === 1)
    assert(Resume.runAttempt(spark, input, out, filesPerChunk = 1) === 1)
    val got = Resume.output(spark, out)
    assert(got.count() === 20)
    assert(got.select("doc_id").distinct.count() === 20)
  }

  test("resume: a corrupt manifest fails loudly, not as a first attempt") {
    val tmp = Files.createTempDirectory("resume3").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"
    mkInput(in, nFiles = 2, docsPerFile = 5)
    val input = tableOf(in)
    Resume.runAttempt(spark, input, out, filesPerChunk = 1)
    // overwrite every manifest part with junk (and drop the checksums, so
    // the failure is the parquet read, not the local-FS checksum)
    val parts = new java.io.File(Resume.manifestPath(out)).listFiles()
    assert(parts.exists(_.getName.endsWith(".parquet")))
    parts.foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else if (f.getName.endsWith(".parquet"))
        Files.write(f.toPath, "not parquet".getBytes("UTF-8"))
    }
    intercept[Exception](Resume.pendingFiles(spark, input, out))
    intercept[Exception](Resume.runAttempt(spark, input, out, filesPerChunk = 1))
  }
}
