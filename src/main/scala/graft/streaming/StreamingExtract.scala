package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.{Doc, Extracted, InSpan, SgmlExtract}

/** One chunk of an interleaved document arriving on a stream.
  *
  * Mirrors the reference's incremental push API (`sgml_parse/2` with
  * `parse(content)` + `content_length(N)` repeated across calls keeps
  * parser state between chunks — sgml2pl.c, pl_sgml_parse [V], SURVEY.md
  * §3 E2): a producer may deliver a document as many chunks; `seq` orders
  * them, `last` marks completion.
  */
final case class Chunk(
    doc_id: String,
    seq: Int,
    last: Boolean,
    kind: String,       // 'text' | 'media'
    text: String,
    media_ref: String,
    offset: Int)

/** Buffered chunks for one in-flight document (the keyed state). `done`
  * marks a tombstone: the doc already emitted (last=true or timeout
  * flush), so stragglers arriving in later micro-batches are dropped
  * instead of re-opening state and emitting a duplicate doc_id. */
final case class DocBuffer(chunks: Seq[Chunk], done: Boolean = false)

/** Structured Streaming surface of the extraction engine.
  *
  * Two shapes (SURVEY.md §2.7 "grouping/streaming state" row):
  *
  * 1. Whole docs on the stream → `SgmlExtract.extract` applied verbatim:
  *    the `extract_spans` expression is stateless per row, so the same
  *    typed transform runs under `readStream` unchanged (no watermark
  *    needed).
  * 2. Chunked docs → `flatMapGroupsWithState` keyed by doc_id buffers
  *    chunks until `last=true`, then parses the assembled doc and emits
  *    one `Extracted` row (append mode). A processing-time timeout flushes
  *    abandoned partials as error rows, so state size stays bounded —
  *    at scale, state is per *in-flight* doc only, never the corpus.
  */
object StreamingExtract {

  /** Shape 2: chunked-doc assembly + parse.
    *
    * @param timeoutMs processing-time timeout after which an incomplete
    *                  doc is emitted with an `incomplete-doc` error row;
    *                  ≤ 0 disables the timeout (note: with a timeout the
    *                  engine schedules continuous no-data micro-batches to
    *                  check expiry — correct for a 24/7 ingest job, but
    *                  bounded runs / tests should pass 0).
    */
  def assembleAndExtract(
      chunks: Dataset[Chunk],
      cfg: SgmlExtract.Config,
      timeoutMs: Long = 0L): Dataset[Extracted] = {
    import chunks.sparkSession.implicits._
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    def parseBuffered(docId: String, buffered: Seq[Chunk], incomplete: Boolean): Extracted = {
      val spans = buffered.sortBy(_.seq)
        .map(c => InSpan(c.kind, c.text, c.media_ref, c.offset))
      val out = SgmlExtract.parseDoc(Doc(docId, spans), cfg.toParserConfig)
      if (incomplete)
        out.copy(errors = out.errors :+
          graft.ErrRow("incomplete-doc", 0, s"timed out with ${buffered.size} chunks"))
      else out
    }

    // After emitting a doc the key keeps a TOMBSTONE (empty, done=true)
    // so late/out-of-order stragglers are dropped — append-mode consumers
    // never see a second row for the same doc_id. With a timeout the
    // tombstone expires after the same TTL as partials (state stays
    // bounded by in-flight + recently-completed docs); with timeout
    // disabled (bounded runs / tests) tombstones live for the run, which
    // is bounded by the run's own doc count.
    chunks
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState[DocBuffer, Extracted](
        OutputMode.Append, timeoutConf) {
        (docId: String, newChunks: Iterator[Chunk], state: GroupState[DocBuffer]) =>
          def tombstone(): Unit = {
            state.update(DocBuffer(Seq.empty, done = true))
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
          }
          if (state.hasTimedOut) {
            val st = state.getOption
            if (st.exists(_.done)) { state.remove(); Iterator.empty } // GC tombstone
            else {
              // flush the abandoned partial, then tombstone it too — a
              // straggler after the flush must not re-open the doc
              val buffered = st.map(_.chunks).getOrElse(Seq.empty)
              tombstone()
              Iterator.single(parseBuffered(docId, buffered, incomplete = true))
            }
          } else if (state.getOption.exists(_.done)) {
            newChunks.foreach(_ => ()) // drain + drop stragglers
            if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
            Iterator.empty
          } else {
            val buffered = state.getOption.map(_.chunks).getOrElse(Seq.empty) ++ newChunks
            if (buffered.exists(_.last)) {
              tombstone()
              Iterator.single(parseBuffered(docId, buffered, incomplete = false))
            } else {
              state.update(DocBuffer(buffered))
              if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
              Iterator.empty
            }
          }
      }
  }

  /** Streaming leg of the curation pipeline (batch twin:
    * graft.Pipeline.curate): text + quality filter (narrow) + STATEFUL
    * exact dedup — `dropDuplicates` on the content hash keeps one state
    * entry per distinct content, first-seen-wins in stream order
    * (arrival order replaces the batch keeper rule; deterministic per
    * checkpointed run). Production jobs add a watermark column before
    * the dropDuplicates to bound state by time. Fuzzy dedup is
    * inherently corpus-global, so it stays a periodic batch stage over
    * this stream's sink (the standard lambda split — Pipeline.curate
    * picks up exactly where this leaves off). */
  def curatedStream(extracted: Dataset[Extracted]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // quality gate SHARED with the batch pipeline (one implementation,
    // the legs cannot drift), then the streaming-specific stateful dedup
    graft.Pipeline.qualityStage(extracted.toDF())
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      .select(col("doc_id"), col("text"), col("n_words"))
  }

  /** `curatedStream` with BOUNDED dedup state — the 24/7 production
    * variant: `dropDuplicatesWithinWatermark` keeps a content hash in
    * the state store only until the watermark passes it, so state size
    * is O(arrival rate × lateness horizon) instead of O(stream history).
    * The contract weakens accordingly — a duplicate arriving more than
    * `lateness` after its twin is NOT suppressed (cross-horizon dedup is
    * corpus-global work; the batch stage downstream owns it, same lambda
    * split as fuzzy dedup). Input rows need an event-time column. */
  def curatedStreamBounded(extracted: org.apache.spark.sql.DataFrame,
      eventTimeCol: String = "event_time",
      lateness: String = "10 minutes"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Pipeline.qualityStage(extracted, keep = Seq(eventTimeCol))
      .withColumn("content_hash", md5(col("text")))
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("text"), col("n_words"), col(eventTimeCol))
  }

  /** Event-time windowed ingest metrics — the streaming twin of the batch
    * per-partition lineage rows (north rule "per-partition lineage +
    * metrics"): docs/spans/errors per event-time window over the extracted
    * stream.
    *
    * Input needs columns `spans`, `errors` (any array type — only sizes
    * are read) and `eventTimeCol` (timestamp). The watermark is what makes
    * this viable 24/7 at scale: window state older than `lateness` behind
    * the max observed event time is finalized (append mode emits exactly
    * one row per window) and dropped from the store, and later stragglers
    * are discarded by the engine — state is bounded by the lateness
    * horizon, never the stream's history. */
  def ingestMetrics(
      extracted: org.apache.spark.sql.DataFrame,
      eventTimeCol: String = "event_time",
      windowDur: String = "1 minute",
      lateness: String = "30 seconds"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    extracted
      .withWatermark(eventTimeCol, lateness)
      .groupBy(window(col(eventTimeCol), windowDur))
      .agg(
        count(lit(1)).as("docs"),
        sum(size(col("spans")).cast("long")).as("spans"),
        sum(size(col("errors")).cast("long")).as("errors"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("docs"), col("spans"), col("errors"))
  }

  /** Convenience: run a chunk stream through assembly+extract into an
    * in-memory table (tests / demos); returns after all available data is
    * processed. Production uses the same plan with a parquet/Iceberg sink
    * and a durable checkpointLocation (exactly-once via the streaming
    * commit log — the alternative resume framing to graft.Resume). */
  def runToMemory(
      spark: SparkSession,
      chunks: Dataset[Chunk],
      cfg: SgmlExtract.Config,
      queryName: String,
      checkpointDir: String): Unit = {
    val q = assembleAndExtract(chunks, cfg)
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q.stop()
  }
}
