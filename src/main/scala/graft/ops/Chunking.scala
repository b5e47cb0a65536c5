package graft.ops

import org.apache.spark.RangePartitioner
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Shaping curated text into model-ready training sequences — the step
  * between curation (dedup/quality/split) and the training loader:
  * sliding-window chunking of long documents to a context length, and
  * token-budget sequence packing ("concatenate-and-slice") that assigns
  * every document a position in a fixed-size training block.
  *
  * Both are integer-exact over whitespace tokens, so the DuckDB oracle
  * replays them bit-for-bit; both are designed around the 100 TB
  * question: chunking is a map-only explode (no shuffle at all), and
  * packing needs a GLOBAL prefix sum — computed the distributed way
  * (one range shuffle + a partition-count-bounded driver collect + a
  * narrow running-sum pass), never a single-partition window.
  */
object Chunking {

  /** Scratch-column name not colliding with the frame's columns. */
  private def fresh(base: String, taken: Array[String]): String =
    Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
      .find(n => !taken.contains(n)).get

  // ---- t13: sliding-window chunking ---------------------------------------

  /** Explode `textCol` into windows of `window` whitespace tokens advancing
    * by `stride` (overlap = window - stride). Chunk k covers tokens
    * [k*stride, k*stride+window); the final chunk is short rather than
    * padded; every doc emits at least one chunk (short docs pass through
    * whole). Appends `chunk_idx`, `chunk_tokens`, `chunk_text`.
    *
    * Scale shape: pure built-ins (split / sequence / transform / slice +
    * posexplode) → one narrow whole-stage-codegen'd pass, zero shuffles,
    * zero UDFs. Output rows = Σ_docs max(1, ceil((n-window)/stride)+1);
    * at 100 TB this is a map-only stage bounded by the write, which is
    * exactly what a context-length shaping pass should be.
    */
  def withChunks(d: DataFrame, textCol: String = "text",
      window: Int = 32, stride: Int = 24): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val clash = d.columns.toSet.intersect(Set("chunk_idx", "chunk_tokens", "chunk_text"))
    require(clash.isEmpty, s"input already has output column(s) $clash — rename them first")
    val toksCol = fresh("_toks", d.columns)
    val nCol = fresh("_n", d.columns)
    val toks = split(col(textCol), " ")
    val n = size(toks)
    // ceil((n-window)/stride)+1 via integer arithmetic; 1 when n <= window
    val nChunks = when(n <= window, lit(1))
      .otherwise(floor((n - window + (stride - 1)) / stride).cast("int") + 1)
    d.withColumn(toksCol, toks)
      .withColumn(nCol, n)
      .select(col("*"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          k => array_join(slice(col(toksCol), k * stride + 1, lit(window)), " ")))
          .as(Seq("chunk_idx", "chunk_text")))
      .withColumn("chunk_tokens",
        least(lit(window), col(nCol) - col("chunk_idx") * stride))
      .drop(toksCol, nCol)
  }

  // ---- c1: token-budget sequence packing ----------------------------------

  /** Assign each row (in ascending `idCol` order) its token start offset in
    * the concatenated corpus and the id of the fixed-size training block
    * containing that offset: `seq_start` = Σ tokens of all earlier ids,
    * `pack_id` = seq_start / blockSize. A doc longer than the remaining
    * block budget spills into the next block (standard concatenate-and-
    * slice packing — block boundaries cut documents, pack_id records where
    * each doc STARTS).
    *
    * The global prefix sum is computed distributed:
    *   1. ONE range shuffle on `idCol` over a `RangePartitioner`
    *      constructed ONCE driver-side — its bounds are then immutable,
    *      so the two passes below CANNOT disagree on row placement.
    *      (Dataset `repartitionByRange` would NOT give that guarantee:
    *      its per-execution reservoir sample is seeded with the physical
    *      plan's rdd.id, so two executions of the same plan may pick
    *      different bounds — with big partitions the offsets would then
    *      belong to a different partitioning than the rows they seed.)
    *   2. per-partition token totals → driver (bounded by PARTITION COUNT,
    *      never data size) → exclusive prefix offsets, broadcast;
    *   3. a narrow per-partition running sum seeded with the partition's
    *      offset. `mapPartitionsWithIndex`, whose index is the parent
    *      partition index under any task packing — NOT
    *      `TaskContext.getPartitionId`, which is the TASK id and lies
    *      under a downstream coalesce(1).
    * Both jobs read the SAME shuffle output (stage reuse), so the map
    * side runs once; no corpus-sized cache is ever held.
    *
    * `idCol` must be globally unique, non-null, and naturally ordered —
    * its values are compared as java.lang.Comparable, so numbers,
    * strings and timestamps qualify while binary ids do NOT (map them to
    * a hex string or long first; a non-Comparable id fails the job with
    * a ClassCastException rather than mis-ordering). NOTE the string
    * collation: Comparable on String is UTF-16 code-unit order, which
    * differs from binary UTF-8 (Catalyst UTF8String / DuckDB) order only
    * when ids mix supplementary-plane characters with U+E000..U+FFFF —
    * corpus ids here are numeric, and callers with such exotic ids
    * should pre-map them. `tokensCol` must be non-negative and non-null
    * (validated, with the offending id in the error). Output appends
    * `seq_start` and `pack_id` (both long).
    */
  def withPackIds(d: DataFrame, idCol: String = "doc_id",
      tokensCol: String = "tokens", blockSize: Long = 256L,
      partitions: Int = 32): DataFrame = {
    require(blockSize > 0, s"blockSize must be positive, got $blockSize")
    val spark = d.sparkSession
    val prepared = d.withColumn(tokensCol, col(tokensCol).cast(LongType))
    val schema = prepared.schema
    val idIdx = schema.fieldIndex(idCol)
    val tokIdx = schema.fieldIndex(tokensCol)
    def tokensOf(r: Row): Long = {
      require(!r.isNullAt(tokIdx),
        s"null $tokensCol at $idCol=${r.get(idIdx)} — packing needs a count for every row")
      val t = r.getLong(tokIdx)
      require(t >= 0, s"negative $tokensCol=$t at $idCol=${r.get(idIdx)}")
      t
    }
    implicit val ordAny: Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = {
        require(a != null && b != null, s"null $idCol — packing order needs non-null ids")
        a.asInstanceOf[Comparable[Any]].compareTo(b)
      }
    }
    val keyed = prepared.rdd.map(r => (r.get(idIdx), r))
    // bounds sampled ONCE, here, on the driver; immutable afterwards.
    // Sampling reads a PRUNED ids-only projection, not `keyed`: the
    // partitioner only needs key split points, and pruning lets Catalyst
    // drop the expensive upstream columns (for c3 that is the whole parse
    // kernel) from the sampling job — the heavy map side then runs once,
    // in the shuffle stage both output jobs share.
    val idsOnly = prepared.select(col(idCol)).rdd.map(r => (r.get(0), ()))
    val part = new RangePartitioner(math.max(1, partitions), idsOnly)
    val ranged = keyed.repartitionAndSortWithinPartitions(part)
    // pass 1: per-partition totals (≤ `partitions` rows to the driver)
    val partSums = ranged.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L; it.foreach { case (_, r) => s += tokensOf(r) }; Iterator((pid, s))
    }.collect().sortBy(_._1)
    val offsets: Map[Int, Long] = // exclusive prefix sum (every pid present)
      partSums.map(_._1).zip(partSums.scanLeft(0L)(_ + _._2)).toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = schema.add("seq_start", LongType).add("pack_id", LongType)
    // pass 2: narrow running sum, id order within each range partition
    val packed = ranged.mapPartitionsWithIndex({ (pid, it) =>
      var run = bc.value.getOrElse(pid, 0L)
      it.map { case (_, r) =>
        val start = run
        run += tokensOf(r)
        Row.fromSeq(r.toSeq :+ start :+ (start / blockSize))
      }
    }, preservesPartitioning = true)
    spark.createDataFrame(packed, outSchema)
  }

  // ---- c2: materialized training blocks -----------------------------------

  /** The consumer of c1's offsets: materialize the fixed-length blocks
    * of a (doc_id, text) frame — every token of the concatenated corpus
    * (space-split, concatenated in doc_id order) lands in block
    * floor(globalPos / blockSize), block text is the tokens in global
    * order (the "concatenate-and-slice" batch a pretraining loader
    * reads). The last block is short rather than padded.
    *
    * Scale shape: the token arrays ride THROUGH the packing pass
    * (withPackIds preserves its input columns), so the corpus is scanned
    * and split exactly once and no join is needed; then a narrow
    * posexplode to (globalPos, token) pairs and ONE shuffle keyed by
    * block id whose per-group state is bounded by blockSize tokens —
    * never a whole-corpus collect or a single-partition window. The
    * oracle rebuilds the same blocks from a string_agg of the whole
    * corpus (fine at oracle SF, impossible at prod SF — which is the
    * point of the distributed shape). */
  def packedBlocks(docs: DataFrame, blockSize: Long): DataFrame = {
    val d = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("tokens", size(col("toks")).cast(LongType))
    withPackIds(d, "doc_id", "tokens", blockSize)
      .select(col("seq_start"), posexplode(col("toks")).as(Seq("i", "tok")))
      .withColumn("pos", col("seq_start") + col("i"))
      // `div` (IntegralDivide), not floor(/): long division stays exact
      // past 2^53 global tokens, matching withPackIds' start/blockSize
      .groupBy(expr(s"pos div $blockSize").as("block_id"))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        array_join(
          sort_array(collect_list(struct(col("pos"), col("tok")))).getField("tok"),
          " ").as("block_text"))
  }

  // ---- c3: interleaved multimodal training blocks --------------------------

  /** The placeholder token a media span contributes to the text stream —
    * the multimodal-trainer convention: the token reserves the position,
    * the aligned ref column says which asset to embed there. NOTE: a
    * corpus whose TEXT contains this literal string would alias real
    * tokens with placeholders; production tokenizers reserve a token id
    * outside the text vocabulary for exactly this reason — treat the
    * string form here as the pre-tokenizer wire format and filter or
    * escape colliding text upstream if the corpus can contain it. */
  val MediaToken = "<|media|>"

  /** Interleaved multimodal training blocks — the packed batch a
    * text+image trainer reads: each document's EXTRACTED span sequence
    * (`docs` in the contract schema through the real parse kernel, media
    * spans and all; doc_id must cast to long) flattens to a token stream
    * where every media span becomes ONE `<|media|>` placeholder carrying
    * its media_ref; streams
    * concatenate in id order and slice into `blockSize`-token blocks.
    * Output per block: the token text AND the ordered refs of the media
    * placeholders inside it — position-aligned, so the loader knows
    * which asset goes where.
    *
    * Scale shape = c2's exactly (the interleaving rides in the SAME
    * narrow flatten): parse + span flatten are one narrow pass, offsets
    * via the c1 distributed prefix sum, then ONE block-id shuffle with
    * per-group state ≤ blockSize. The media_refs column falls out of the
    * same sorted collect (collect_list drops the text tokens' null
    * structs) — no second shuffle, no join against a media table. */
  def interleavedBlocks(docs: DataFrame, blockSize: Long): DataFrame = {
    import graft.SgmlExtract
    // The EXPRESSION form of the kernel (extractDf), not the typed
    // Dataset path: a typed map is opaque to Catalyst, so withPackIds'
    // ids-only sampling projection would still pay the whole parse. As a
    // Project expression it column-prunes away — the sampling job reads
    // ids off the parquet scan and the parse runs exactly once, in the
    // shared shuffle stage. (The unused errors column prunes for free.)
    val extracted = SgmlExtract.extractDf(docs,
        SgmlExtract.Config(dialect = "html4", space = "preserve"))
      .select(col("doc_id"), col("spans"))
    val d = extracted.select(
        col("doc_id").cast(LongType).as("doc_id"),
        flatten(transform(col("spans"), s =>
          when(s.getField("kind") === "media",
            // a media span with a NULL ref still keeps its slot — coalesce
            // to "" so the ref list cannot silently shift left and embed
            // every later asset at the wrong placeholder
            array(struct(lit(MediaToken).as("tok"),
              coalesce(s.getField("media_ref"), lit("")).as("ref"))))
          .otherwise(transform(split(s.getField("text"), " "),
            t => struct(t.as("tok"),
              lit(null).cast("string").as("ref")))))).as("toks"))
      .withColumn("tokens", size(col("toks")).cast(LongType))
    withPackIds(d, "doc_id", "tokens", blockSize)
      .select(col("seq_start"), posexplode(col("toks")).as(Seq("i", "t")))
      .select((col("seq_start") + col("i")).as("pos"),
        col("t.tok").as("tok"), col("t.ref").as("ref"))
      .groupBy(expr(s"pos div $blockSize").as("block_id")) // exact long div
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        array_join(
          sort_array(collect_list(struct(col("pos"), col("tok")))).getField("tok"),
          " ").as("block_text"),
        array_join(
          sort_array(collect_list( // null for text tokens → dropped
            when(col("ref").isNotNull, struct(col("pos"), col("ref")))))
            .getField("ref"),
          ",").as("media_refs"))
  }
}
