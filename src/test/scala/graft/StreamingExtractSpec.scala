package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.sgml.Span
import graft.streaming.{Chunk, StreamingExtract}

/** Structured Streaming surface: chunked-doc assembly with
  * flatMapGroupsWithState must produce EXACTLY the batch kernel's output
  * once all chunks arrive (chunked ≡ whole-input parse — the reference's
  * incremental push API equivalence, SURVEY.md §3 E2). */
class StreamingExtractSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cfg = SgmlExtract.Config(dialect = "html4", space = "preserve")

  private val html1 = "<html><body><p>Hello <b>world"
  private val html1b = " of streams</b><p>second para</body></html>"
  private val html2 = "<html><body><ul><li>one<li>two</ul></body></html>"

  test("chunked streaming parse ≡ batch parse of assembled docs") {
    import spark.implicits._

    val chunks = Seq(
      // doc A: text split across two chunks + trailing media chunk
      Chunk("A", 0, last = false, "text", html1, null, 0),
      Chunk("A", 1, last = false, "text", html1b, null, html1.length),
      Chunk("A", 2, last = true, "media", "", "asset_A.png", 100000),
      // doc B: whole in one final chunk
      Chunk("B", 0, last = true, "text", html2, null, 0))

    val mem = MemoryStream[Chunk](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    // two micro-batches: A's first chunk alone, then the rest
    mem.addData(chunks.take(1))
    mem.addData(chunks.drop(1))
    StreamingExtract.runToMemory(spark, mem.toDS(), cfg, "stream_out", ckpt)

    val streamed = spark.table("stream_out").as[Extracted].collect()
      .map(e => e.doc_id -> e).toMap

    val batchDocs = Seq(
      Doc("A", Seq(
        Span("text", html1, null, 0),
        Span("text", html1b, null, html1.length),
        Span("media", "", "asset_A.png", 100000))),
      Doc("B", Seq(Span("text", html2, null, 0))))
      .toDF()
    val batch = SgmlExtract.extractDf(batchDocs, cfg).as[Extracted].collect()
      .map(e => e.doc_id -> e).toMap

    assert(streamed.keySet === Set("A", "B"))
    for (id <- Seq("A", "B")) {
      assert(streamed(id).spans === batch(id).spans, s"spans differ for doc $id")
      assert(streamed(id).errors === batch(id).errors, s"errors differ for doc $id")
    }
    // media passthrough kept document order in the streamed result
    assert(streamed("A").spans.last.kind === "media")
    assert(streamed("A").spans.last.media_ref === "asset_A.png")
  }

  test("straggler chunks after last=true are dropped (tombstone), no dup doc_id") {
    import spark.implicits._
    val mem = MemoryStream[Chunk](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt4").toString
    // batch 1 completes doc S; batch 2 delivers a late straggler for S
    mem.addData(Seq(Chunk("S", 0, last = true, "text", html2, null, 0)))
    mem.addData(Seq(Chunk("S", 1, last = false, "text", "<p>late", null, 999)))
    StreamingExtract.runToMemory(spark, mem.toDS(), cfg, "stream_tomb", ckpt)
    val rows = spark.table("stream_tomb").as[Extracted].collect()
    assert(rows.count(_.doc_id == "S") === 1, "tombstone must swallow the straggler")
    assert(rows.head.spans.nonEmpty)
  }

  test("chunked streaming: processing-time timeout flushes incomplete docs") {
    import spark.implicits._
    val mem = MemoryStream[Chunk](spark)
    mem.addData(Seq(Chunk("X", 0, last = false, "text", "<p>partial", null, 0)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt3").toString
    // paced batches leave idle gaps between them for the stop below
    val q = StreamingExtract.assembleAndExtract(mem.toDS(), cfg, timeoutMs = 300)
      .writeStream.outputMode("append").format("memory")
      .trigger(Trigger.ProcessingTime("250 milliseconds"))
      .queryName("stream_timeout").option("checkpointLocation", ckpt).start()
    try {
      // with a processing-time timeout the engine schedules no-data
      // micro-batches; the abandoned doc must flush shortly after 300 ms
      val deadline = System.currentTimeMillis + 60000
      while (spark.table("stream_timeout").isEmpty &&
             System.currentTimeMillis < deadline) Thread.sleep(250)
      val got = spark.table("stream_timeout").as[Extracted].collect()
      assert(got.length === 1, "timed-out doc never flushed")
      assert(got.head.doc_id === "X")
      assert(got.head.errors.exists(_.code == "incomplete-doc"))
      assert(got.head.spans.map(_.text) === Seq("partial"))
    } finally {
      // the timeout keeps no-data batches running: stop between two of
      // them, never while one commits its state
      val idle = System.currentTimeMillis + 10000
      while (q.status.isTriggerActive && System.currentTimeMillis < idle) Thread.sleep(5)
      q.stop()
    }
  }

  test("whole-doc streaming uses the batch kernel unchanged") {
    import spark.implicits._
    val mem = MemoryStream[Doc](spark)
    mem.addData(Seq(Doc("W", Seq(Span("text", html2, null, 0)))))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt2").toString
    val q = SgmlExtract.extractDf(mem.toDF(), cfg)
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_whole").option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_whole").as[Extracted].collect()
    assert(got.length === 1)
    assert(got(0).spans === SgmlExtract.extractDf(
      Seq(Doc("W", Seq(Span("text", html2, null, 0)))).toDF(), cfg).as[Extracted].head().spans)
  }

  test("streaming curation: quality filter + stateful exact dedup") {
    import spark.implicits._
    val good = "<p>the quick brown fox jumps over the lazy dog and runs far away</p>"
    val mem = MemoryStream[Doc](spark)
    mem.addData(Seq(
      Doc("c1", Seq(Span("text", good, null, 0))),
      Doc("c2", Seq(Span("text", good, null, 0))),      // exact dup → dropped
      Doc("c3", Seq(Span("text", "<p>junk</p>", null, 0))))) // quality-dropped
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt3").toString
    val q = StreamingExtract.curatedStream(
        SgmlExtract.extractDf(mem.toDF(), cfg))
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_curated").option("checkpointLocation", ckpt).start()
    q.processAllAvailable()
    // a later micro-batch re-sending the same content must stay deduped
    mem.addData(Seq(Doc("c4", Seq(Span("text", good, null, 0)))))
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_curated")
      .select("doc_id").as[String].collect().toSet
    assert(got == Set("c1"))
  }

  test("bounded streaming dedup: state expires with the watermark") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    val good = "the quick brown fox jumps over the lazy dog and runs far away"
    val other = "der hund und die katze sind nicht in dem haus und das ist gut so"
    // extracted-shaped rows (doc_id, spans, errors, event_time)
    val mem = MemoryStream[(String, String, java.sql.Timestamp)](spark)
    def extractedDf = mem.toDF().toDF("doc_id", "text", "event_time")
      .selectExpr("doc_id",
        "array(named_struct('kind', 'text', 'text', text, 'media_ref', " +
          "CAST(NULL AS STRING), 'offset', 0)) AS spans",
        "array() AS errors", "event_time")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt5").toString
    val q = StreamingExtract.curatedStreamBounded(extractedDf,
        lateness = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_bounded").option("checkpointLocation", ckpt).start()
    // batch 1: X emits, Y (same content, within horizon) suppressed
    mem.addData(Seq(("X", good, ts("10:00:00")), ("Y", good, ts("10:01:00"))))
    q.processAllAvailable()
    // batch 2 advances the watermark past X's expiry (10:30−10m > 10:00)
    mem.addData(Seq(("Z", other, ts("10:30:00"))))
    q.processAllAvailable()
    // batch 3: same content as X again — state EXPIRED, so W re-emits
    // (the documented cross-horizon weakening; batch dedup owns that)
    mem.addData(Seq(("W", good, ts("10:31:00"))))
    q.processAllAvailable(); q.stop()
    val got = spark.table("stream_bounded")
      .select("doc_id").as[String].collect().toSet
    assert(got == Set("X", "Z", "W"), got)
  }

  test("windowed ingest metrics: watermark finalizes windows and drops late rows") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    // (doc_id, event_time, spans, errors) — ingestMetrics only reads sizes
    val mem = MemoryStream[(String, java.sql.Timestamp, Seq[String], Seq[String])](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ckpt4").toString
    val q = StreamingExtract.ingestMetrics(
        mem.toDF().toDF("doc_id", "event_time", "spans", "errors"),
        windowDur = "1 minute", lateness = "30 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_metrics").option("checkpointLocation", ckpt).start()
    // batch 1: two docs in [10:00,10:01), one in [10:01,10:02)
    mem.addData(Seq(
      ("a", ts("10:00:10"), Seq("s1", "s2"), Seq.empty[String]),
      ("b", ts("10:00:20"), Seq("s1"), Seq("e1")),
      ("c", ts("10:01:05"), Seq("s1", "s2", "s3"), Seq.empty[String])))
    q.processAllAvailable()
    // batch 2: event time 10:03 → watermark 10:02:30 → both windows close
    mem.addData(Seq(("d", ts("10:03:00"), Seq("s1"), Seq.empty[String])))
    q.processAllAvailable()
    // batch 3: straggler far behind the watermark → engine drops it; the
    // already-finalized [10:00,10:01) row must not change or duplicate
    mem.addData(Seq(("late", ts("10:00:30"), Seq("x"), Seq("e"))))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("stream_metrics")
      .select(col("window_start").cast("string"), col("docs"), col("spans"), col("errors"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (k, d, s, e) => k -> ((d, s, e)) }.toMap
    // exactly the two finalized windows; d's window is still open (not emitted)
    assert(rows.keySet == Set("2026-01-01 10:00:00", "2026-01-01 10:01:00"))
    assert(rows("2026-01-01 10:00:00") == ((2L, 3L, 1L))) // late row NOT counted
    assert(rows("2026-01-01 10:01:00") == ((1L, 3L, 0L)))
  }

  test("st1: bounded file-source stream ≡ batch quality+dedup content set") {
    // the oracle-gated streaming query end to end: file source over the
    // real corpus, extract kernel, shared quality gate, stateful exact
    // dedup, memory sink — its committed row set must equal the BATCH
    // twin's distinct content projection (what the DuckDB oracle replays)
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("st1_stream_curate")(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamed.nonEmpty)
    val batch = Pipeline.qualityStage(
        SgmlExtract.extractDf(SgmlExtract.wrapDocuments(spark, sf).toDF(), cfg))
      .select(md5(col("text")).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"),
        col("n_words").cast("long").as("n_words"))
      .distinct().collect().map(_.toString).toSet
    assert(streamed == batch)
  }
}
