package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator exposed here is one of:
  * - the extraction kernel itself (x*) — parse correctness is verified
  *   end-to-end through the DuckDB oracle because the synthetic markup is
  *   SQL-reconstructable;
  * - relational/dataflow ops used around the kernel (q*);
  * - training-data pipeline ops (d* dedup, t* text analysis, e* embedding
  *   similarity, m* multimodal plumbing).
  * Non-SQL-expressible ops have no oracleSql entry (rows-only check).
  */
object SparkEntry {
  import SgmlExtract.{documents, embeddings}

  // The oracles' word separator, a SQL literal: Java's `\s` class
  // `[ \t\n\x0B\f\r]`, which Spark's `split(…, "\\s+")` and the
  // word-scan kernels (TextOps.isRegexSpace) use. RE2's `\s` leaves out
  // U+000B, so no oracle may write `'\s+'`.
  private val WordSep = """'[ \t\n\x0B\f\r]+'"""

  /** Flagship: parse the interleaved text+media corpus and explode the
    * ordered span sequences. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = SgmlExtract.wrapDocumentsMarked(spark, "/root/testdata/sf0.001")
    val cfg = SgmlExtract.Config(dialect = "html4", space = "preserve")
    SgmlExtract.extract(docs, cfg)
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"), col("span.kind"), col("span.text"),
        col("span.media_ref"), col("span.offset"))
  }

  private def extractPreserve(s: SparkSession, dir: String, marked: Boolean) = {
    val docs = if (marked) SgmlExtract.wrapDocumentsMarked(s, dir)
               else SgmlExtract.wrapDocuments(s, dir)
    SgmlExtract.extract(docs, SgmlExtract.Config(dialect = "html4", space = "preserve"))
  }

  private def nation(s: SparkSession, dir: String) = s.read.parquet(s"$dir/nation.parquet")

  /** Every query, from the corpus directory to its result. These lambdas
    * are the only place a corpus table is read; the operators in
    * graft.ops take frames. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction kernel, oracle-verified end-to-end ------------------
    "x1_parse_identity" -> ((s, dir) => {
      extractPreserve(s, dir, marked = false)
        .select(
          col("doc_id"),
          expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("text"),
          size(col("spans")).cast("long").as("n_spans"))
    }),
    "x2_parse_markup_spans" -> ((s, dir) => {
      extractPreserve(s, dir, marked = true)
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "span")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("span.kind").as("kind"), col("span.text").as("text"),
          col("span.media_ref").as("media_ref"),
          col("span.offset").cast("long").as("off")) // D9: position parity
    }),
    "x6_malformed_recovery" -> ((s, dir) => {
      // D8 at corpus scale: every doc carries an unclosed <b>; parse must
      // recover (repair at </p>), emit the full text, and record exactly
      // one error with a deterministic code + offset
      val docs = SgmlExtract.wrapDocumentsMalformed(s, dir)
      SgmlExtract.extractDf(docs,
          SgmlExtract.Config(dialect = "html4", space = "preserve"))
        .select(col("doc_id"),
          expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("recovered_text"),
          size(col("errors")).cast("long").as("n_errors"),
          col("errors")(0)("code").as("first_error_code"),
          col("errors")(0)("offset").cast("long").as("first_error_off"))
    }),
    "x3_parse_errors" -> ((s, dir) => {
      extractPreserve(s, dir, marked = true)
        .select(col("doc_id"), size(col("errors")).cast("long").as("n_errors"))
    }),
    "x4_boilerplate_strip" -> ((s, dir) => {
      // main-content extraction: chrome (head/nav/link-lists/footer)
      // stripped, exactly the article text survives
      val docs = SgmlExtract.wrapDocumentsBoiler(s, dir)
      SgmlExtract.extractDf(docs,
          SgmlExtract.Config(dialect = "html4", space = "preserve", boilerplate = true))
        .select(
          col("doc_id"),
          expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("main_text"),
          size(col("spans")).cast("long").as("n_spans"))
    }),

    "x7_shortref" -> ((s, dir) => {
      // T14 at corpus scale: the SGML wrapper's SHORTREF map rewrites every
      // `--` in the document text to the mk entity's replacement
      val docs = SgmlExtract.wrapDocumentsShortref(s, dir)
      SgmlExtract.extractDf(docs,
          SgmlExtract.Config(dialect = "sgml", space = "preserve"))
        .select(col("doc_id"),
          expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("text"),
          size(col("errors")).cast("long").as("n_errors"))
    }),

    "x8_pdf_roundtrip" -> ((s, dir) => {
      // north-rule PDF leg: deterministic writer builds one PDF per doc,
      // the parser extracts the text back — identity against the corpus
      PdfOps.extractText(PdfOps.syntheticPdfs(documents(s, dir)))
        .select(col("doc_id"), col("text"),
          col("n_pages").cast("long").as("n_pages"),
          col("n_errors").cast("long").as("n_errors"))
    }),

    "x9_lineage_totals" -> ((s, dir) => {
      // north-rule "per-partition lineage + metrics", promoted into the
      // oracle gate: per-partition rows can't be replayed in SQL (partition
      // ids are Spark-internal), but their GLOBAL totals are closed-form on
      // the marked wrapper (3 spans/doc, bytes = doc text + tail text)
      val ext = extractPreserve(s, dir, marked = true)
      SgmlExtract.lineage(ext, "verify").agg(
        sum(col("docs")).as("docs"), sum(col("bytes")).as("bytes"),
        sum(col("spans")).as("spans"), sum(col("errors")).as("errors"))
    }),

    "x10_table_extract" -> ((s, dir) =>
      // structured extraction: HTML tables (every optional end tag
      // omitted — DTD omission inference builds the grid) → relational
      // (doc, table, row, col, cell) rows; same one-stage kernel shape
      TableOps.tableCells(TableOps.wrapDocumentsTable(documents(s, dir)))),

    "x5_serialize_roundtrip" -> ((s, dir) => {
      // W1/W5: parse + canonical re-serialization; the DuckDB oracle
      // reconstructs the exact expected markup (incl. the implied <head>
      // materialized by tag-omission repair and the media passthrough)
      val docs = SgmlExtract.wrapDocumentsMarked(s, dir)
      SgmlExtract.serializeCanonical(docs,
          SgmlExtract.Config(dialect = "html4", space = "preserve"))
        .select(col("doc_id"), col("xml_out")) // error column: none expected here
    }),

    // ---- relational ops around the kernel --------------------------------
    "q1_lineitem_agg" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))
    }),
    "q2_join_agg" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    }),
    "q3_window_first_event" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("first_event_type"))
    }),

    "q4_topk_revenue" -> ((s, dir) => {
      // sort + limit / top-k (SURVEY.md §2.7): global top-10 customers by
      // revenue — Spark executes as per-partition TakeOrdered + merge, no
      // full sort at scale
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
    }),
    "q5_no_order_customers" -> ((s, dir) => {
      // set op (SURVEY.md §2.7): customers with no orders via EXCEPT
      // (≡ anti-join; Spark plans a left-anti hash join)
      val cust = s.read.parquet(s"$dir/customer.parquet").select(col("c_custkey"))
      val withOrders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("c_custkey"))
      cust.except(withOrders)
    }),
    "q6_typed_values" -> ((s, dir) => {
      // scalar JSON / date / cast functions + lexical validation via
      // try_cast (SURVEY.md §2.6 xsdp_types analogue: typed conversion
      // with graceful failure → null, never an error)
      s.read.parquet(s"$dir/events.parquet").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        year(col("ts")).cast("long").as("yr"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        expr("try_cast(event_type AS double)").as("bad_num"))
    }),

    "q8_distinct_suppliers" -> ((s, dir) => {
      // distinct aggregation (§2.7): suppliers per brand through the
      // lineitem fact. part and lineitem are both fact-sized at scale, so
      // no forced broadcast — the optimizer picks the join (AQE re-plans
      // at runtime); count(distinct) expands to the standard two-phase
      // partial-distinct aggregate. approx_count_distinct is the
      // sketch path when exactness can be traded at 100 TB.
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"))
      val part = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_brand"))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_lineitems"))
    }),

    "q9_rollup" -> ((s, dir) => {
      // grouping-sets surface (§2.7): ROLLUP expands to grouping sets via
      // a single Expand + two-phase hash agg — one shuffle regardless of
      // the number of sets. Group keys coalesced to a sentinel so the
      // output carries no nulls (null sort order differs across engines).
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_qty"), col("n"))
    }),

    "q10_source_stats" -> ((s, dir) =>
      // corpus-distribution analytics (§2.7 aggregation surface): exact
      // percentiles of doc length per source. Spark's percentile and
      // DuckDB's quantile_cont share the p·(n−1) linear-interpolation
      // definition, so the oracle matches bit-for-bit after ROUND(…, 6);
      // sums/counts are integer-exact so avg is too. At 100 TB swap
      // percentile → approx_percentile (t-digest) — the documented
      // sketch path; grouping stays one partial-agg exchange.
      documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(length(col("text"))), 6).as("avg_chars"),
          round(expr("percentile(length(text), 0.5)"), 6).as("p50_chars"),
          round(expr("percentile(length(text), 0.9)"), 6).as("p90_chars"),
          max(length(col("text"))).cast("long").as("max_chars"))),
    "q7_xsd_types" -> ((s, dir) => {
      // xsdp_types surface (SURVEY.md §2.6): lexical validation +
      // graceful typed conversion, all codegen'd (rlike + cast, no UDF)
      s.read.parquet(s"$dir/events.parquet").select(
        col("event_id"),
        XsdTypes.validate(col("event_type"), "NCName").as("is_ncname"),
        XsdTypes.convert(get_json_object(col("props"), "$.k"), "integer").as("k_int"),
        XsdTypes.convert(date_format(col("ts"), "yyyy"), "gYear").as("yr4"),
        XsdTypes.convert(
          when(pmod(col("event_id"), lit(2)) === 0, "true").otherwise("false"),
          "boolean").as("bool_flag"),
        // graceful failure: non-numeric lexical form → null, never an error
        XsdTypes.convert(col("event_type"), "integer").as("bad_int"))
    }),
    "t6_iso639" -> ((s, dir) =>
      // iso_639 surface: plan-literal map lookup (codegen, no join/UDF)
      documents(s, dir).select(col("doc_id"), col("lang"),
        Iso639.nameOf(col("lang")).as("lang_name"),
        Iso639.isKnown(col("lang")).as("known"))),

    // ---- xpath query surface (reference xpath.pl — SURVEY.md §2.4) -------
    "xq1_xpath_child" -> ((s, dir) => XPathOps.childAxis(nation(s, dir))),
    "xq2_xpath_descendant" -> ((s, dir) => XPathOps.descendantAll(nation(s, dir))),
    "xq3_xpath_positional" -> ((s, dir) => XPathOps.positional(nation(s, dir))),
    "xq4_xpath_window" -> ((s, dir) => XPathOps.positionalWindow(nation(s, dir))),
    "xq5_xpath_spec_interp" -> ((s, dir) => XPathOps.specInterpreter(nation(s, dir))),
    "xq6_pwp_template" -> ((s, dir) => {
      // §2.5 pwp surface: one exchange builds the per-region nested row
      // set (sort_array for a deterministic solution order), then the
      // template renders in a narrow stage — pwp:ask replicates <nation>
      // per row, pwp:tag renames, pwp:use projects, $name substitutes
      val region = s.read.parquet(s"$dir/region.parquet")
      val nested = region
        .join(nation(s, dir), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_regionkey"), col("r_name"))
        .agg(sort_array(collect_list(struct(
          col("n_nationkey").cast("long").as("key"),
          col("n_name").as("name")))).as("nations"))
      PwpOps.render(nested, PwpRegionTemplate, "r_regionkey")
        .select(col("r_regionkey").cast("long").as("region_key"), col("pwp_out"))
    }),

    // ---- end-to-end curation pipeline -------------------------------------
    "p2_curate_clustered" -> ((s, dir) =>
      // the cluster-keeper variant: fuzzy dedup keeps one doc per
      // connected component (min doc_id) — catches the transitive-chain
      // over-keep the pairwise rule misses; oracle replays with a
      // recursive-CTE closure
      // maxBucket = MaxValue: the ORACLE path stays uncapped (the DuckDB
      // replay has no valve); production keeps the capped Config default
      Pipeline.curateClustered(SgmlExtract.wrapDocuments(s, dir).toDF(),
          Pipeline.Config(maxBucket = Int.MaxValue))
        .select(col("doc_id"), col("text"), col("predicted_lang"),
          col("n_words").cast("long").as("n_words"))),
    "p1_curate" -> ((s, dir) => {
      // the whole engine in one plan: parse → quality filter → exact
      // dedup → minhash fuzzy dedup → lang-id, four shuffles total;
      // the oracle replays the identical pipeline in SQL from scratch
      // doc_id stays the contract STRING — the exact-dedup window and the
      // pair ordering compare lexicographically, and the oracle mirrors
      // that with VARCHAR ids
      Pipeline.curate(SgmlExtract.wrapDocuments(s, dir).toDF(),
          Pipeline.Config(maxBucket = Int.MaxValue)) // uncapped oracle path
        .select(col("doc_id"), col("text"), col("predicted_lang"),
          col("n_words").cast("long").as("n_words"))
    }),

    // ---- streaming (driven to completion inside the query fn) ------------
    "st1_stream_curate" -> ((s, dir) => {
      // the STREAMING curation leg under the oracle gate: a bounded
      // file-source stream over the contract corpus → the SAME stateless
      // extract kernel → the SHARED quality gate → STATEFUL exact dedup
      // (dropDuplicates on the content hash) → memory sink, AvailableNow,
      // awaited to completion; the committed table is the returned frame.
      // Output is keyed by CONTENT (hash, n_chars, n_words), not doc_id:
      // the streaming keeper is arrival-order dependent where duplicate
      // texts exist (first-seen-wins vs the batch min-id rule), and twins
      // agree on every content column — so the emitted row SET is
      // deterministic at any SF and the batch oracle replays it as
      // SELECT DISTINCT over the quality stage.
      import org.apache.spark.sql.streaming.Trigger
      val schema = documents(s, dir).schema
      // the corpus is a single parquet FILE, but a file-stream source
      // derives basePath from its path and requires a directory — so the
      // filename becomes a single-match GLOB ([d]ocuments.parquet): the
      // glob prefix $dir is the basePath, the pattern matches exactly the
      // corpus file (production streams a directory; this shim exists
      // only because the test corpus is one file)
      val stream = s.readStream.schema(schema)
        .parquet(s"$dir/[d]ocuments.parquet")
      val curated = streaming.StreamingExtract.curatedStream(
        SgmlExtract.extract(
          SgmlExtract.wrapDocsDf(stream),
          SgmlExtract.Config(dialect = "html4", space = "preserve")))
      val out = curated.select(md5(col("text")).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"),
        col("n_words").cast("long").as("n_words"))
      val qn = "st1_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val ckpt = java.nio.file.Files.createTempDirectory("st1_ckpt").toString
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName(qn).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn)
    }),

    // ---- SQL kernel surface (text-only query, registered functions) ------
    "k1_sql_kernels" -> ((s, dir) => {
      // the OpsFunctions surface under the oracle gate end-to-end: the
      // query is exactly what a SQL-first user types — TEXT ONLY, every
      // kernel via a registered function (simhash64 / minhash_sig /
      // text_shingles / doc_fingerprint / ngram_jaccard); DuckDB replays
      // each kernel from the shared closed-form arithmetic. try_element_at
      // (1-based) keeps empty fingerprints null under ANSI mode, matching
      // the oracle's out-of-range list index.
      OpsFunctions.register(s)
      documents(s, dir).createOrReplaceTempView("k1_documents")
      s.sql("""
        SELECT a.doc_id,
          simhash64(a.text) AS simhash,
          try_element_at(minhash_sig(a.text), 1) AS mh0,
          size(text_shingles(a.text)) AS n_shingles,
          try_element_at(doc_fingerprint(a.text), 1) AS fp_min,
          round(ngram_jaccard(a.text, b.text), 6) AS j_next
        FROM k1_documents a JOIN k1_documents b ON b.doc_id = a.doc_id + 1""")
    }),

    // ---- deduplication ----------------------------------------------------
    "d1_dedup_exact" -> ((s, dir) => Dedup.exact(documents(s, dir))),
    "d2_minhash_bands" -> ((s, dir) => Dedup.bandsOf(documents(s, dir), "doc_id", "text")),
    "d3_minhash_pairs" -> ((s, dir) =>
      Dedup.verifiedPairsOf(documents(s, dir), "doc_id", "text", minJaccard = 0.5)),
    "d4_simhash" -> ((s, dir) => Dedup.simhashes(documents(s, dir))),
    "d5_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairsOf(Dedup.simhashes(documents(s, dir)), maxDist = 3)),
    "d6_ngram_jaccard" -> ((s, dir) => Dedup.consecutiveJaccard(documents(s, dir))),
    "d7_dedup_clusters" -> ((s, dir) => {
      // minhash-verified pairs → duplicate clusters
      val d = documents(s, dir)
      Dedup.clustersOf(Dedup.verifiedPairsOf(d, "doc_id", "text", minJaccard = 0.5),
        d.select(col("doc_id")))
    }),
    "d8_repeated_ngrams" -> ((s, dir) =>
      // substring-level dedup signal: per-doc fraction of distinct word
      // 10-grams that also occur in another document
      Dedup.withRepeatedNgrams(documents(s, dir), n = 10)),
    "t10_decontaminate" -> ((s, dir) => {
      // the docs with doc_id < 10 stand in for a benchmark suite; any
      // shared shingle flags a corpus doc
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      Dedup.decontaminateAgainst(d.filter(col("doc_id") >= 10), d.filter(col("doc_id") < 10))
    }),
    "t11_decontaminate_external" -> ((s, dir) => {
      // external-held-out shape: a synthetic benchmark whose eval passages
      // QUOTE the corpus (first 40 words of every 100th doc) — the corpus
      // keeps ALL rows (the quoted sources must flag themselves), and the
      // threshold (3 distinct shared shingles) ignores idiom-level hits
      val d = documents(s, dir).select(col("doc_id"), col("text"))
      val heldout = d.filter(col("doc_id") % 100 === 7)
        .select(col("doc_id").as("h_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 40), " ").as("text"))
      Dedup.decontaminateAgainst(d, heldout, minOverlap = 3L)
    }),
    "t12_novelty" -> ((s, dir) =>
      // LM-quality family, integer-exact: per-doc out-of-vocabulary rate
      // against corpus-wide char-trigram statistics (rare trigrams ⇒
      // perplexity-outlier candidate) — codegen'd trigram explode, one
      // count agg + one broadcast-join agg
      TextOps.withTrigramNovelty(documents(s, dir))),

    // ---- text analysis ----------------------------------------------------
    "t1_text_stats" -> ((s, dir) => {
      documents(s, dir).select(
        col("doc_id"),
        length(col("text")).cast("long").as("char_len"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("word_count"),
        length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("vowel_count"))
    }),
    "t2_token_count" -> ((s, dir) => TextOps.tokenCount(documents(s, dir))),
    "t3_quality" -> ((s, dir) =>
      TextOps.withQuality(documents(s, dir).select(col("doc_id"), col("text")))
        .drop("text")),
    "t4_lang_id" -> ((s, dir) =>
      TextOps.withLangId(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          (col("lang") === col("predicted_lang")).as("agree"))),
    "t5_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(documents(s, dir)).select(col("doc_id"),
        col("fingerprint")(0).as("fp_min"), size(col("fingerprint")).as("fp_len"))),
    "t7_pii_scrub" -> ((s, dir) => TextOps.piiScrub(documents(s, dir))),
    "t8_url_extract" -> ((s, dir) => TextOps.urlExtract(documents(s, dir))),
    "t9_repetition" -> ((s, dir) =>
      TextOps.withRepetition(documents(s, dir).select(col("doc_id"), col("text")))
        .drop("text")),
    "t13_chunk" -> ((s, dir) =>
      // context-length shaping: sliding 32-token windows, stride 24 —
      // map-only explode, zero shuffles (the long-doc → training-sample op)
      Chunking.withChunks(documents(s, dir).select(col("doc_id"), col("text")),
          window = 32, stride = 24)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_tokens"), col("chunk_text"))),
    "t15_bpe_merges" -> ((s, dir) =>
      // BPE tokenizer training: ONE corpus pass to a word-count table,
      // then 6 merge rounds over the vocab-sized frame only — O(corpus +
      // K × vocab), the production trainer shape
      Bpe.mergesOf(documents(s, dir), "text", k = 6)),
    "t14_vocab_topk" -> ((s, dir) =>
      // corpus frequency table (tokenizer/stopword seed): one hash agg
      // with map-side partials + TakeOrdered top-k, total order pinned
      TextOps.vocabTopK(documents(s, dir), k = 100)),
    "c1_pack_sequences" -> ((s, dir) =>
      // concatenate-and-slice packing: global token prefix sum via ONE
      // range shuffle + partition-offset broadcast (distributed scan),
      // never a single-partition window; pack id = seq_start / 256;
      // tokens are space-split, as in t2
      Chunking.withPackIds(documents(s, dir).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens")), blockSize = 256L)
        .select(col("doc_id"), col("tokens"), col("seq_start"), col("pack_id"))),
    "c2_pack_blocks" -> ((s, dir) =>
      // materialized 256-token training blocks: token arrays ride through
      // the packing pass (no join), narrow explode to (globalPos, token),
      // ONE block-id shuffle with per-group state bounded by block size
      Chunking.packedBlocks(documents(s, dir), blockSize = 256L)),
    "c3_interleaved_blocks" -> ((s, dir) =>
      // multimodal packing: extracted text+media span streams (REAL parse
      // kernel) flatten to tokens with <|media|> placeholders carrying
      // refs; same c1 prefix sum + ONE block shuffle as c2
      Chunking.interleavedBlocks(SgmlExtract.wrapDocumentsMarked(s, dir).toDF(),
        blockSize = 256L)),

    // ---- deterministic sampling (restart-stable corpus downsampling) ------
    "s1_stratified_sample" -> ((s, dir) => Sampling.stratifiedSample(documents(s, dir))),
    "s2_uniform_sample" -> ((s, dir) => Sampling.uniformSample(documents(s, dir), k = 100)),
    "s3_split_assign" -> ((s, dir) =>
      // deterministic train/val/test assignment: hash bucket → cumulative
      // permille ranges, a narrow CASE at the scan (retry/restart-stable)
      Sampling.withSplit(documents(s, dir))
        .select(col("doc_id"), Sampling.bucket1000(col("doc_id")).as("bucket"), col("split"))),
    "s4_temperature_sample" -> ((s, dir) =>
      // multilingual mixing: keep rates ∝ n^(1/2) per language at a 500‰
      // target, integer-exact (decimal div); one tiny count agg +
      // broadcast rate join, keep decision is the closed-form bucket hash
      // at the scan
      Sampling.withTemperatureRates(documents(s, dir), "doc_id", "lang", targetPermille = 500)
        .select(col("doc_id"), col("lang"), col("n_stratum"),
          col("w_stratum"), col("rate_permille"), col("bucket"))),
    "s5_domain_cap" -> ((s, dir) =>
      // ≤20 docs per source: exact two-phase per-domain top-k (narrow
      // k-heaps, ONE candidate shuffle) — never a corpus-wide window
      // funneling each giant domain through one task
      Sampling.withDomainCap(documents(s, dir), k = 20)),
    "a1_split_leakage" -> ((s, dir) =>
      // train/test leakage audit: near-dup pairs (d3 machinery) whose
      // endpoints land in different splits — split membership evaluated
      // inline on the ids, zero joins beyond pair generation
      Audit.splitLeakageOf(documents(s, dir), "doc_id", "text")),

    // ---- embedding similarity --------------------------------------------
    "e1_knn_exact" -> ((s, dir) =>
      Similarity.knnBruteForce(embeddings(s, dir))
        .withColumn("rank", col("rank").cast("long"))),
    "e2_knn_lsh" -> ((s, dir) => Similarity.knnLsh(embeddings(s, dir))),
    "e4_knn_ivf" -> ((s, dir) => Similarity.knnIvf(embeddings(s, dir))),
    "e5_ann_recall" -> ((s, dir) => Similarity.annRecall(embeddings(s, dir))),
    "e6_knn_pq" -> ((s, dir) =>
      // flat PQ/ADC scan — the compressed-corpus leg of the ANN family
      // (8 subspaces × 16 centroids, asymmetric-distance ranking); the
      // oracle replays encode + LUT + fixed-order ADC sum from the
      // driver-fitted codebook literals
      Similarity.knnPq(embeddings(s, dir))),
    "e7_knn_ivfpq" -> ((s, dir) =>
      // the production composite: IVF cell restriction + residual-PQ
      // ADC ranking over the compressed codes only — the oracle replays
      // both quantizers, incl. per-probed-cell query residual tables
      Similarity.knnIvfPq(embeddings(s, dir))),
    "e3_embedding_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDups(embeddings(s, dir), minSim = NearDupMinSim)
        .select(col("id_a"), col("id_b"))),

    // ---- multimodal: real PNG/WAV decode, video frame decode stubbed ------
    "m1_media_meta" -> ((s, dir) => {
      MediaOps.decodeStub(MediaOps.syntheticAssets(documents(s, dir))).toDF()
        .select(col("media_ref"), col("mime"), col("byte_len"),
          col("width"), col("height"), col("n_frames"),
          col("channels"), col("sample_rate"))
    }),
    "m2_media_resize" -> ((s, dir) =>
      // REAL pixel path: ImageIO-decode every PNG, nearest-neighbor
      // resample the actual raster into a 64×64 box, fingerprint the
      // resized pixel stream; the oracle replays pixels from the seed
      MediaOps.resizePixels(MediaOps.syntheticAssets(documents(s, dir)),
        maxW = 64, maxH = 64)),
    "m3_frame_sample" -> ((s, dir) =>
      MediaOps.sampleFrames(MediaOps.decodeStub(MediaOps.syntheticAssets(documents(s, dir))).toDF())
        .withColumn("frame_idx", col("frame_idx").cast("long"))),
    "m4_audio_stats" -> ((s, dir) =>
      // REAL PCM path: javax.sound decodes each WAV, exact integer
      // sum-of-squares + RMS over the 16-bit samples
      MediaOps.audioStats(MediaOps.syntheticAssets(documents(s, dir)))),
    "m5_video_frames" -> ((s, dir) =>
      // REAL video-frame path: each video doc's multi-frame GIF twin is
      // decoded via ImageIO — frame count read from the container, only
      // the SAMPLED frames decoded, each raster pixel-hashed; the oracle
      // replays every sampled frame's pixels from the seed (same fold
      // as m2's resize path)
      MediaOps.videoFrameHashes(MediaOps.syntheticVideos(documents(s, dir))))
  )

  // ---- oracle offsets/fragments DERIVED from the wrapper constants ----
  // (VERDICT r1 #10: a wrapper edit now shifts these and fails the oracle
  // comparison loudly instead of silently testing stale offsets)
  private val textOff = SgmlExtract.MarkedPrefix.length
  private val tailOffDelta = // doc-coordinate offset of the tail TEXT
    SgmlExtract.MarkedPrefix.length +
      (SgmlExtract.MarkedTail.length - SgmlExtract.MarkedTailText.length)
  private val malformedErrOffDelta = // error fires at the closing </p>
    SgmlExtract.MarkedPrefix.length + SgmlExtract.MalformedInfix.length
  private val malformedTextSuffix = // markup removed, text content kept
    SgmlExtract.MalformedInfix.replaceAll("<[^>]*>", "")

  // t15: K chained merge rounds generated programmatically — each round is
  // (pair counts over the vocab segmentations) → (argmax, tie-break c DESC
  // then lhs, rhs ASC) → (the same left-to-right string replace Spark
  // applies). SUM is cast back to BIGINT (DuckDB SUM(BIGINT) → HUGEINT).
  private def bpeOracleSql(k: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (
        |  SELECT word, cnt,
        |    ' ' || array_to_string(regexp_extract_all(word, '.'), ' ') || ' ' AS seg
        |  FROM (
        |    SELECT w AS word, COUNT(*) AS cnt FROM (
        |      SELECT unnest(list_filter(
        |        regexp_split_to_array(lower(trim(text)), $WordSep),
        |        x -> x <> '')) AS w
        |      FROM documents) tw
        |    GROUP BY w) tc)""".stripMargin
    val rounds = (1 to k).map { i =>
      // MATERIALIZED is load-bearing, not a hint to skim past: m$i is
      // referenced 4× by s$i and s$i by the next round — un-materialized,
      // DuckDB re-inlines the whole prefix per reference and the chain
      // re-evaluates ~4^k times (measured: 13 min at sf0.1 vs <1 s with)
      s"""p$i AS MATERIALIZED (
        |  SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
        |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
        |      j -> {'l': toks[j], 'r': toks[j + 1]})) AS pr
        |    FROM (SELECT cnt, list_filter(regexp_split_to_array(seg, ' '),
        |            x -> x <> '') AS toks
        |          FROM s${i - 1}) tt$i) uu$i
        |  GROUP BY pr.l, pr.r),
        |m$i AS MATERIALIZED (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
        |s$i AS MATERIALIZED (
        |  SELECT word, cnt,
        |    replace(seg,
        |      ' ' || (SELECT l FROM m$i) || ' ' || (SELECT r FROM m$i) || ' ',
        |      ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ') AS seg
        |  FROM s${i - 1})""".stripMargin
    }
    val union = (1 to k).map(i =>
      s"SELECT CAST($i AS INTEGER) AS round, l AS lhs, r AS rhs, c AS pair_count FROM m$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${(s0 +: rounds).mkString(",\n")}\n$union"
  }

  // bucket1000 of an id expression, then the default 900/50/50 split CASE —
  // mirrors Sampling.bucket1000/splitExpr bit-for-bit for ANY id sign:
  // SQL % is sign-of-dividend, Spark pmod is non-negative, so each mod is
  // wrapped pmod-style (+m then %m again; no overflow — see bounds below)
  private def bucketSql(idExpr: String): String = {
    val (m, k, p) = (ops.Sampling.IdM, ops.Sampling.HashK, ops.Sampling.HashP)
    // (id%m+m)%m ≤ m-1 ≈ 1.3e6; ×k ≈ 3.4e15; %p + p < 8.6e9 — all < 2^63
    s"(((($idExpr % $m) + $m) % $m * $k) % $p + $p) % $p % 1000"
  }
  private def splitCaseSql(idExpr: String): String =
    s"""CASE WHEN ${bucketSql(idExpr)} < 900 THEN 'train'
      |  WHEN ${bucketSql(idExpr)} < 950 THEN 'val'
      |  ELSE 'test' END""".stripMargin

  // Word 3-shingle sets of `src` (g.sh), as Dedup.shingles builds them.
  private def shingleCtesFrom(src: String): String =
    s"""w AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), $WordSep), x -> x <> '') AS words
      |  FROM $src),
      |g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(words) = 0 THEN []::VARCHAR[]
      |         WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
      |         ELSE list_distinct(list_transform(range(1, len(words) - 1),
      |                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
      |    END AS sh
      |  FROM w)""".stripMargin

  // Dedup.ngramJaccard of the shingle sets of g-rows `a` and `b`, rounded
  // to 6 places like the Spark side.
  private def jaccardSql(a: String, b: String): String =
    s"""ROUND(CASE WHEN len($a.sh) = 0 AND len($b.sh) = 0 THEN 1.0
      |    ELSE CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE)
      |         / (len($a.sh) + len($b.sh) - len(list_intersect($a.sh, $b.sh))) END, 6)""".stripMargin

  // Shared CTE chain: word 3-shingles → code-point polynomial shingle
  // hashes → 64-way minhash signature → banded hashes. Mirrors
  // graft.ops.Dedup bit-for-bit (closed-form coefficients, mod-P integer
  // arithmetic — HUGEINT where the product exceeds 2^63).
  private def minhashCtesFrom(src: String): String =
    s"""${shingleCtesFrom(src)},
      |u AS (
      |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
      |      list_transform(regexp_extract_all(s, '.'), c -> ord(c)::BIGINT)),
      |      (h, cp) -> (h * 31 + cp) % 4294967296) AS h
      |  FROM (SELECT doc_id, unnest(sh) AS s FROM g)),
      |params AS (
      |  SELECT CAST(i AS INTEGER) AS i,
      |    ((i + 1) * 2654435761) % 2147483629 + 1 AS a,
      |    ((i + 1) * 2246822519) % 2147483629 AS b
      |  FROM range(${ops.Dedup.NumHashes}) t(i)),
      |sig AS (
      |  SELECT d.doc_id, p.i,
      |    COALESCE(MIN(CAST((CAST(p.a AS HUGEINT) * u.h + p.b) % ${ops.Dedup.HashP} AS BIGINT)),
      |             9223372036854775807) AS v
      |  FROM (SELECT doc_id FROM $src) d
      |  CROSS JOIN params p
      |  LEFT JOIN u ON u.doc_id = d.doc_id
      |  GROUP BY d.doc_id, p.i),
      |bands AS (
      |  SELECT doc_id, CAST(i // ${ops.Dedup.RowsPerBand} AS INTEGER) AS band,
      |    list_reduce(list_prepend(0::BIGINT, list(v ORDER BY i)),
      |      (acc, x) -> (acc * ${ops.Dedup.BandB} + x % ${ops.Dedup.HashP}) % ${ops.Dedup.HashP}) AS band_hash
      |  FROM sig GROUP BY doc_id, i // ${ops.Dedup.RowsPerBand})""".stripMargin

  // The minhash chain, then band-collision candidates (cand) and the
  // Jaccard-verified pairs (vp: id_a < id_b, jaccard >= 0.5) —
  // Dedup.verifiedPairsFromBands uncapped.
  private def pairCtesFrom(src: String): String =
    s"""${minhashCtesFrom(src)},
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |vp AS (
      |  SELECT id_a, id_b, jaccard FROM (
      |    SELECT c.id_a, c.id_b, ${jaccardSql("ga", "gb")} AS jaccard
      |    FROM cand c JOIN g ga ON ga.doc_id = c.id_a JOIN g gb ON gb.doc_id = c.id_b) t
      |  WHERE jaccard >= 0.5)""".stripMargin

  // Connected components of the vp graph over the doc_ids of `nodes`:
  // cluster_id = the smallest doc_id reachable (Dedup.clustersOf's
  // fixpoint), by transitive closure — needs WITH RECURSIVE.
  private def clusterCtesFrom(nodes: String): String =
    s"""edges AS (
      |  SELECT id_a AS esrc, id_b AS edst FROM vp
      |  UNION ALL SELECT id_b AS esrc, id_a AS edst FROM vp),
      |reach AS (
      |  SELECT doc_id AS rsrc, doc_id AS rdst FROM $nodes
      |  UNION
      |  SELECT r.rsrc, e.edst FROM reach r JOIN edges e ON e.esrc = r.rdst),
      |clusters AS (
      |  SELECT rsrc AS doc_id, MIN(rdst) AS cluster_id, (rsrc = MIN(rdst)) AS is_keeper
      |  FROM reach GROUP BY rsrc)""".stripMargin

  // TextOps.withLangId over `src`: lid = src's columns + predicted_lang
  // (CJK → zh, else the argmax of marker-word hits in lower(text) split on
  // \s+, ties en > de > fr > es).
  private def langIdCteFrom(src: String): String = {
    val hits = Seq(
      "en" -> "'the','and','of','is','to','in','that','it'",
      "de" -> "'der','die','das','und','ist','nicht','ein','zu'",
      "fr" -> "'le','la','les','et','est','un','une','dans'",
      "es" -> "'el','los','las','es','un','una','que','por'")
      .map { case (l, ws) =>
        s"""len(list_filter(regexp_split_to_array(lower(text), $WordSep),
          |      x -> list_contains([$ws], x))) AS s_$l""".stripMargin }
    s"""lid AS (
      |  SELECT *,
      |    CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
      |         WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |         WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |         WHEN s_fr >= s_es THEN 'fr'
      |         ELSE 'es' END AS predicted_lang
      |  FROM (SELECT *,
      |    ${hits.mkString(",\n    ")}
      |  FROM $src) sl)""".stripMargin
  }

  // xq6 template, shared shape with its oracle's string_agg reconstruction
  private val PwpRegionTemplate =
    """<region name="$r_name"><nation pwp:ask="nations" k="$key" pwp:tag="n">""" +
      """<nm pwp:use="$name"></nm></nation></region>"""

  // threshold 0.4: the synthetic embeddings are near-orthogonal random
  // vectors (max pairwise cosine ≈ 0.51 at sf0.01), so a production-like
  // 0.9+ threshold would vacuously return nothing to check
  private val NearDupMinSim = 0.4

  // Sign-LSH planes + per-(vector, table) buckets, rebuilt in SQL from the
  // same closed-form plane values as graft.ops.Similarity.planeVal.
  private def lshBucketCtes(nTables: Int, nPlanes: Int): String =
    s"""planes AS (
      |  SELECT t, p,
      |    list_transform(range(${Similarity.Dim}), i ->
      |      (((t*64 + p)*64 + i + 1) * ${Similarity.PlaneCoefK}
      |       % ${Similarity.PlaneCoefP} % ${Similarity.PlaneRange} - 1000) / 1000.0) AS pl
      |  FROM range($nTables) tt(t), range($nPlanes) pp(p)),
      |b AS (
      |  SELECT e.vec_id, pl.t AS tbl,
      |    CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.pl) > 0
      |      THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS bucket
      |  FROM embeddings e CROSS JOIN planes pl
      |  GROUP BY e.vec_id, pl.t)""".stripMargin

  // SimHash rebuilt in SQL: per-word 64 bits = two 32-bit code-point
  // polynomial hashes (bases 31/37, mod 2^32 — mirrors Dedup.simhash),
  // per-bit majority vote, then the 64-bit value assembled in HUGEINT and
  // wrapped to the signed BIGINT two's-complement value Spark emits.
  private val simhashCtes: String =
    s"""w2 AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), $WordSep), x -> x <> '') AS words
      |  FROM documents),
      |wh AS (
      |  SELECT doc_id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(regexp_extract_all(word, '.'), c -> ord(c)::BIGINT)),
      |      (h, cp) -> (h * 31 + cp) % 4294967296) AS hi,
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(regexp_extract_all(word, '.'), c -> ord(c)::BIGINT)),
      |      (h, cp) -> (h * 37 + cp) % 4294967296) AS lo
      |  FROM (SELECT doc_id, unnest(words) AS word FROM w2)),
      |bits AS (
      |  SELECT doc_id, i.i AS bit,
      |    SUM(CASE WHEN ((CASE WHEN i.i < 32 THEN lo >> i.i
      |                        ELSE hi >> (i.i - 32) END) & 1) = 1
      |        THEN 1 ELSE -1 END) AS acc
      |  FROM wh CROSS JOIN range(64) i(i)
      |  GROUP BY doc_id, i.i),
      |sh2 AS (
      |  SELECT d.doc_id,
      |    CAST(CASE WHEN u >= 9223372036854775808 THEN u - 18446744073709551616
      |              ELSE u END AS BIGINT) AS simhash
      |  FROM (
      |    SELECT d0.doc_id,
      |      COALESCE(SUM(CASE WHEN b.acc > 0 THEN CAST(1 AS HUGEINT) << b.bit
      |                        ELSE 0 END), 0) AS u
      |    FROM (SELECT doc_id FROM documents) d0
      |    LEFT JOIN bits b ON b.doc_id = d0.doc_id
      |    GROUP BY d0.doc_id) d)""".stripMargin

  // Quality-stage replay shared by the p1/p2/st1 oracles: the contract
  // src view + TextOps.withQuality in SQL (≥10 words, ≥1 stopword, ≥50%
  // alpha). The parse is identity on the plain-text wrapper (x1 pins
  // that), so quality applies to the raw corpus text — ONE definition so
  // the batch and streaming oracle legs cannot drift.
  private def qualitySrcCtes: String = {
    val stop = TextOps.stopwords.map(s => s"'$s'").mkString("[", ",", "]")
    s"""src AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents),
      |q AS (
      |  SELECT doc_id, text,
      |    CAST(LEN(regexp_split_to_array(TRIM(text), $WordSep)) AS BIGINT) AS n_words
      |  FROM src
      |  WHERE LEN(regexp_split_to_array(TRIM(text), $WordSep)) >= 10
      |    AND LEN(list_filter(regexp_split_to_array(TRIM(text), $WordSep),
      |      x -> list_contains($stop, x))) > 0
      |    AND LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 100 >= LENGTH(text) * 50)"""
      .stripMargin
  }

  // Pipeline stages 2-4 (p1/p2): quality (q) → exact-dedup keeper (ex:
  // lowest doc_id per md5(text), VARCHAR-ordered like the contract's
  // string doc_id) → minhash bands → verified pairs (vp).
  private def curateStageCtes: String =
    s"""$qualitySrcCtes,
      |ex AS (
      |  SELECT doc_id, text, n_words FROM (
      |    SELECT doc_id, text, n_words,
      |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM q) t WHERE rn = 1),
      |${pairCtesFrom("ex")}""".stripMargin

  // Synthetic media assets + decode rebuilt in SQL (mirrors
  // graft.ops.MediaOps: base-31 seed over the decimal doc_id). Every
  // metadata value below is the closed-form (seed-derived) value the
  // asset WRITER embeds into a REAL format header (PNG IHDR, WAV fmt
  // chunk, MP4 mvhd/tkhd boxes) — the Spark side reads them back out of
  // the actual bytes (sniffImage/sniffWav/sniffMp4), so matching here
  // verifies the write→sniff round trip end-to-end for all three types.
  private val mediaCtes: String =
    s"""ma AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id,
      |    list_reduce(list_prepend(0::BIGINT,
      |      list_transform(regexp_extract_all(CAST(doc_id AS VARCHAR), '.'),
      |        c -> ord(c)::BIGINT)),
      |      (h, cp) -> (h * 31 + cp) % 4294967296) AS seed
      |  FROM documents),
      |mb AS ( -- pw/ph: real-pixel PNG dims (small: one stored block/image)
      |  SELECT id, seed,
      |    CASE seed % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |    16 + seed % 128 AS pw, 16 + (seed // 128) % 128 AS ph
      |  FROM ma),
      |mc AS ( -- png length is the closed form of the stored-deflate file
      |  SELECT id, seed, mime, pw, ph,
      |    CASE seed % 3 WHEN 0 THEN 68 + ph * (1 + 3 * pw)
      |         WHEN 2 THEN 256 + seed % 192
      |         ELSE 64 + seed % 192 END AS len
      |  FROM mb),
      |mm AS (
      |  SELECT '${SgmlExtract.AssetPrefix}' || id || '${SgmlExtract.AssetSuffix}' AS media_ref,
      |    mime, CAST(len AS INTEGER) AS byte_len,
      |    CAST(CASE WHEN mime = 'image/png' THEN pw
      |         WHEN mime = 'audio/wav' THEN 0
      |         ELSE 16 + seed % 1024 END AS INTEGER) AS width,
      |    CAST(CASE WHEN mime = 'image/png' THEN ph
      |         WHEN mime = 'audio/wav' THEN 0
      |         ELSE 16 + (seed // 1024) % 1024 END AS INTEGER) AS height,
      |    CAST(CASE WHEN mime LIKE 'video%' THEN 1 + (seed // 3) % 300
      |         ELSE 1 END AS INTEGER) AS n_frames,
      |    CAST(CASE WHEN mime = 'audio/wav' THEN 1 + seed % 2
      |         ELSE 0 END AS INTEGER) AS channels,
      |    CAST(CASE WHEN mime = 'audio/wav' THEN 8000 + (seed % 8) * 4000
      |         ELSE 0 END AS INTEGER) AS sample_rate,
      |    seed, len
      |  FROM mc)""".stripMargin

  /** sf-aware oracle completion (what `graft.Verify` dumps): after the
    * deterministic driver-side fit, the quantizer centroids and codebooks
    * are plain literals — interpolated as VALUES tables so DuckDB replays
    * the ENTIRE e4/e6/e7 searches from scratch. The context-free
    * `oracleSql` map stays the static driver contract; these are the
    * entries that need the data-dependent (but deterministic) fit to be
    * SQL-expressible. */
  def oracleSqlFor(spark: SparkSession, sfDir: String): Map[String, String] = {
    val fit = Similarity.fit(embeddings(spark, sfDir))
    val ivfSql = e4IvfSql(fit.centers)
    val pqSql = e6PqSql(fit.books)
    val ivfpqSql = e7IvfPqSql(fit.centers, fit.rbooks)
    oracleSql +
      ("e4_knn_ivf" -> ivfSql) +
      ("e6_knn_pq" -> pqSql) +
      ("e7_knn_ivfpq" -> ivfpqSql) +
      // e5 as a TRUE replay at any SF (supersedes the static SF-pinned
      // VALUES fallback): recall is recomputed by intersecting the
      // e2/e4/e6/e7 oracle replays with the e1 exact replay — the same
      // SQL bodies that verify individually, composed.
      ("e5_ann_recall" -> e5RecallSql(ivfSql, pqSql, ivfpqSql))
  }

  // ---- e-family oracle fragments, one per step of the ANN chain --------
  // quantizer literals → cell assignment and probes → PQ codes → cosine or
  // ADC top-5. The arithmetic mirrors graft.ops.Similarity's kernels (same
  // left-fold accumulation order, same tie-breaks), but is rebuilt here
  // from the literals alone.

  private val PqSub = Similarity.Dim / Similarity.PqM

  /** Σ (a[off + i] − b[i])² over i = 1..len as a sequential left fold ≡
    * the `+=` loop of Similarity.l2. */
  private def l2Sql(a: String, off: String, b: String, len: Int): String =
    s"""list_reduce(list_transform(range(1, ${len + 1}), i ->
      |      ($a[${off}i] - $b[i]) * ($a[${off}i] - $b[i])), (a, b) -> a + b)""".stripMargin

  private def pqSubDistSql(v: String): String =
    l2Sql(v, s"cb.m * $PqSub + ", "cb.v", PqSub)

  /** Quantizer literals as a VALUES table: Double.toString round-trips
    * exactly, and DuckDB parses the same decimal (incl. scientific
    * notation) back to the identical IEEE double. */
  private def valuesCte(head: String, rows: Seq[(String, Array[Double])]): String =
    rows.map { case (key, v) => v.mkString(s"($key, [", ", ", "])") }
      .mkString(s"$head AS (VALUES\n    ", ",\n    ", ")")

  private def centroidCte(centers: Array[Array[Double]]): String =
    valuesCte("cc(cell, v)", centers.indices.map(i => (s"$i", centers(i))))

  private def codebookCte(books: Array[Array[Array[Double]]]): String =
    valuesCte("cb(m, c, v)",
      for (mi <- books.indices; c <- books(mi).indices) yield (s"$mi, $c", books(mi)(c)))

  private val embCte =
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings)"

  /** Coarse quantizer over `e` and `cc`: casg is each vector's cell
    * (argmin L2, ties to the lowest cell), qp each query's IvfNprobe
    * nearest cells (same order), cand the probed cells' members — cells
    * are disjoint, so a neighbor appears once per query. */
  private val ivfCellCtes: String =
    s"""crank AS (
      |  SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |  FROM (SELECT e.vec_id, cc.cell, ${l2Sql("e.emb", "", "cc.v", Similarity.Dim)} AS d
      |        FROM e CROSS JOIN cc) t),
      |casg AS (SELECT vec_id, cell FROM crank WHERE rn = 1),
      |qp AS (
      |  SELECT vec_id AS query_id, cell AS q_cell FROM crank
      |  WHERE vec_id < 10 AND rn <= ${Similarity.IvfNprobe}),
      |cand AS (
      |  SELECT qp.query_id, a.vec_id AS neighbor_id, a.cell
      |  FROM qp JOIN casg a ON a.cell = qp.q_cell AND a.vec_id <> qp.query_id)""".stripMargin

  /** PQ encode over `src(vec_id, emb)`: sd is every subspace's distance
    * to every codebook row, pc its argmin code (ties to the lowest c). */
  private def pqCodeCtes(src: String): String =
    s"""sd AS (
      |  SELECT r.vec_id, cb.m, cb.c, ${pqSubDistSql("r.emb")} AS d
      |  FROM $src r CROSS JOIN cb),
      |pc AS (
      |  SELECT vec_id, m, c AS code FROM (
      |    SELECT vec_id, m, c,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
      |    FROM sd) t WHERE rn = 1)""".stripMargin

  /** ADC over lut rows `l` joined to a candidate's codes, as a FIXED-order
    * PqM-term sum (≡ the UDF's ascending-m accumulation; a SUM() aggregate
    * would add in nondeterministic order and drift in the last ulp). */
  private val adcSumSql = (0 until Similarity.PqM)
    .map(mi => s"MAX(CASE WHEN l.m = $mi THEN l.d END)")
    .reduce((a, b) => s"($a + $b)")

  /** Per-query top 5 of `src` by `order`, ties to the lowest neighbor_id. */
  private def top5Sql(src: String, order: String, cols: String = ""): String =
    s"""SELECT query_id, rank, neighbor_id$cols FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
      |    ORDER BY $order, neighbor_id) AS rank
      |  FROM $src) t
      |WHERE rank <= 5""".stripMargin

  /** Exact-cosine top 5 over the `cand(query_id, neighbor_id, …)` CTE. */
  private def cosineTop5Sql(cols: String = ""): String =
    top5Sql("""(SELECT cd.*, list_cosine_similarity(eq.embedding, en.embedding) AS sim
      |  FROM cand cd
      |  JOIN embeddings eq ON eq.vec_id = cd.query_id
      |  JOIN embeddings en ON en.vec_id = cd.neighbor_id)""".stripMargin,
      "sim DESC", cols)

  private def e4IvfSql(centers: Array[Array[Double]]): String =
    s"""WITH ${centroidCte(centers)},
      |$embCte,
      |$ivfCellCtes
      |${cosineTop5Sql(", cell")}""".stripMargin

  /** e6: flat PQ encode, the query-side lookup rows (sd restricted to
    * the queries), ADC ranking. */
  private def e6PqSql(books: Array[Array[Array[Double]]]): String =
    s"""WITH ${codebookCte(books)},
      |$embCte,
      |${pqCodeCtes("e")},
      |lut AS (SELECT vec_id AS query_id, m, c, d FROM sd WHERE vec_id < 10),
      |adc AS (
      |  SELECT l.query_id, p.vec_id AS neighbor_id, $adcSumSql AS adc
      |  FROM pc p JOIN lut l ON l.m = p.m AND l.c = p.code
      |  WHERE p.vec_id <> l.query_id
      |  GROUP BY l.query_id, p.vec_id)
      |${top5Sql("adc", "adc")}""".stripMargin

  /** e7: e4's cells and probes, PQ codes of the residual against the
    * vector's own cell, and query lookup rows per PROBED cell (the query
    * residual differs per cell) — the UDF's (v − ctr) − cb arithmetic. */
  private def e7IvfPqSql(centers: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): String = {
    val residual = s"list_transform(range(1, ${Similarity.Dim + 1}), i -> e.emb[i] - cc.v[i])"
    s"""WITH ${centroidCte(centers)},
      |${codebookCte(books)},
      |$embCte,
      |$ivfCellCtes,
      |r AS (
      |  SELECT e.vec_id, $residual AS emb
      |  FROM e JOIN casg a ON a.vec_id = e.vec_id JOIN cc ON cc.cell = a.cell),
      |${pqCodeCtes("r")},
      |qr AS (
      |  SELECT qp.query_id, qp.q_cell, $residual AS emb
      |  FROM qp JOIN e ON e.vec_id = qp.query_id JOIN cc ON cc.cell = qp.q_cell),
      |lut AS (
      |  SELECT r.query_id, r.q_cell, cb.m, cb.c, ${pqSubDistSql("r.emb")} AS d
      |  FROM qr r CROSS JOIN cb),
      |adc AS (
      |  SELECT cd.query_id, cd.neighbor_id, cd.cell, $adcSumSql AS adc
      |  FROM cand cd
      |  JOIN pc p ON p.vec_id = cd.neighbor_id
      |  JOIN lut l ON l.query_id = cd.query_id AND l.q_cell = cd.cell
      |    AND l.m = p.m AND l.c = p.code
      |  GROUP BY cd.query_id, cd.neighbor_id, cd.cell)
      |${top5Sql("adc", "adc", ", cell")}""".stripMargin
  }

  private def e5RecallSql(ivfSql: String, pqSql: String,
      ivfpqSql: String): String = {
    val legs = Seq("lsh" -> oracleSql("e2_knn_lsh"), "ivf" -> ivfSql,
      "pq" -> pqSql, "ivfpq" -> ivfpqSql)
    val total = 50 // numQueries(10) × k(5), Similarity.annRecall defaults
    val legCtes = legs.map { case (m, sql) => s"${m}_q AS (\n$sql)" }.mkString(",\n")
    val hits = legs.map { case (m, _) =>
      s"""  SELECT '$m' AS method, COUNT(*) AS hits
         |  FROM ${m}_q a JOIN exact x
         |    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH exact AS (
      |${oracleSql("e1_knn_exact")}),
      |$legCtes,
      |h AS (
      |$hits)
      |SELECT method, CAST(hits AS BIGINT) AS hits,
      |  CAST($total AS BIGINT) AS total,
      |  ROUND(hits / ${total}.0, 6) AS recall FROM h""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "m1_media_meta" ->
      s"""WITH $mediaCtes
        |SELECT media_ref, mime, byte_len, width, height, n_frames,
        |  channels, sample_rate FROM mm""".stripMargin,
    // m2 replays the REAL pixel path from the seed: same fixed-point
    // geometry, nearest-neighbor source index sx=⌊rx·w/rw⌋ / sy=⌊ry·h/rh⌋,
    // closed-form channel value (seed + (srcIdx+1)·K) % P % 256, and the
    // shared base-31 fold over the resized stream (ry-major, rx, then c)
    "m2_media_resize" ->
      s"""WITH $mediaCtes,
        |sc AS (
        |  SELECT media_ref, width, height, seed,
        |    LEAST(64000000 / width, 64000000 / height, 1000000) AS s
        |  FROM mm WHERE mime = 'image/png'),
        |g AS (
        |  SELECT media_ref, width, height, seed,
        |    GREATEST(1, CAST(FLOOR(width * s / 1000000) AS INTEGER)) AS resized_w,
        |    GREATEST(1, CAST(FLOOR(height * s / 1000000) AS INTEGER)) AS resized_h
        |  FROM sc)
        |SELECT media_ref, width, height, resized_w, resized_h,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(0, resized_h * resized_w * 3), i ->
        |      (seed + ((((((i // 3) // resized_w) * height // resized_h) * width
        |        + (((i // 3) % resized_w) * width // resized_w)) * 3 + i % 3)
        |        + 1) * 2654435761) % 4294967311 % 256)),
        |    (h, v) -> (h * 31 + v) % 4294967311) AS pixel_hash
        |FROM g""".stripMargin,
    // m4 replays javax.sound's PCM read from the seed: bytes 44… are the
    // closed-form filler stream; 16-bit LE samples over the frame-aligned
    // data length, exact Σs², and micro-RMS as ⌊√(Σs²/n)·10⁶⌋
    "m4_audio_stats" ->
      s"""WITH $mediaCtes,
        |w AS (
        |  SELECT media_ref, channels, sample_rate, seed,
        |    ((len - 44) // (2 * channels)) * channels AS n_samples
        |  FROM mm WHERE mime = 'audio/wav'),
        |sq AS (
        |  SELECT media_ref, channels, sample_rate,
        |    CAST(n_samples AS BIGINT) AS n_samples,
        |    list_sum(list_transform(range(0, n_samples), i ->
        |      CAST(POWER(
        |        ((seed + (44 + 2*i + 1) * 2654435761) % 4294967311 % 256 + 128) % 256
        |        + 256 * (((seed + (44 + 2*i + 2) * 2654435761) % 4294967311 % 256 + 128) % 256)
        |        - CASE WHEN ((seed + (44 + 2*i + 1) * 2654435761) % 4294967311 % 256 + 128) % 256
        |               + 256 * (((seed + (44 + 2*i + 2) * 2654435761) % 4294967311 % 256 + 128) % 256)
        |               >= 32768 THEN 65536 ELSE 0 END, 2) AS BIGINT)))
        |      AS sum_sq
        |  FROM w)
        |SELECT media_ref, channels, sample_rate, n_samples,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  CAST(FLOOR(SQRT(sum_sq / n_samples) * 1000000) AS BIGINT) AS rms_micro
        |FROM sq""".stripMargin,
    "m3_frame_sample" ->
      s"""WITH $mediaCtes
        |SELECT media_ref, n_frames,
        |  CAST(unnest(generate_series(0, n_frames - 1, 30)[1:8]) AS BIGINT) AS frame_idx
        |FROM mm WHERE mime LIKE 'video%'""".stripMargin,
    // m5 replays the REAL frame-decode path from the seed: the GIF twin's
    // dims/frame count are closed-form, the sampled indices follow m3's
    // stride policy, and each sampled frame's raster is the continued
    // pngPixel stream (frame f starts at flat index f·w·h; the decoded
    // gray palette repeats each value across r,g,b — hence i//3), folded
    // with the shared base-31 pixel hash
    "m5_video_frames" ->
      s"""WITH $mediaCtes,
        |vg AS ( -- the GIF twin: small real-pixel dims + frame count
        |  SELECT media_ref, seed,
        |    8 + seed % 16 AS gw, 8 + (seed // 16) % 16 AS gh,
        |    1 + (seed // 256) % 120 AS nf
        |  FROM mm WHERE mime LIKE 'video%'),
        |fr AS (
        |  SELECT media_ref, nf, gw, gh, seed,
        |    unnest(generate_series(0, nf - 1, 30)[1:8]) AS frame_idx
        |  FROM vg)
        |SELECT media_ref, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(frame_idx AS BIGINT) AS frame_idx,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(0, gw * gh * 3), i ->
        |      (seed + (frame_idx * gw * gh + i // 3 + 1) * 2654435761) % 4294967311 % 256)),
        |    (h, v) -> (h * 31 + v) % 4294967311) AS frame_hash
        |FROM fr""".stripMargin,
    "d4_simhash" ->
      s"WITH $simhashCtes SELECT doc_id, simhash FROM sh2",
    "d5_simhash_pairs" ->
      s"""WITH $simhashCtes,
        |bands2 AS (
        |  SELECT doc_id, simhash, b.b AS band,
        |    (simhash >> (b.b * 16)) & 65535 AS band_val
        |  FROM sh2 CROSS JOIN range(4) b(b))
        |SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b2.simhash)) AS INTEGER) AS hamming
        |FROM bands2 a JOIN bands2 b2
        |  ON a.band = b2.band AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id
        |WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3""".stripMargin,
    "e2_knn_lsh" ->
      s"""WITH ${lshBucketCtes(Similarity.DefaultTables, Similarity.DefaultPlanes)},
        |probes AS ( -- ≤2-bit flip masks: 0, single bits, bit pairs
        |  SELECT CAST(0 AS BIGINT) AS mask
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) << CAST(p AS INTEGER)
        |  FROM range(${Similarity.DefaultPlanes}) t(p)
        |  UNION ALL
        |  SELECT (CAST(1 AS BIGINT) << CAST(a.a AS INTEGER)) |
        |         (CAST(1 AS BIGINT) << CAST(b.b AS INTEGER))
        |  FROM range(${Similarity.DefaultPlanes}) a(a),
        |       range(${Similarity.DefaultPlanes}) b(b)
        |  WHERE a.a < b.b),
        |qp AS (
        |  SELECT q.vec_id, q.tbl, xor(q.bucket, p.mask) AS bucket
        |  FROM b q, probes p
        |  WHERE q.vec_id < 10),
        |cand AS (
        |  SELECT DISTINCT qp.vec_id AS query_id, e.vec_id AS neighbor_id
        |  FROM qp JOIN b e ON e.tbl = qp.tbl AND e.bucket = qp.bucket AND e.vec_id <> qp.vec_id)
        |${cosineTop5Sql()}""".stripMargin,
    "e3_embedding_neardup" ->
      s"""WITH ${lshBucketCtes(1, Similarity.DefaultPlanes)}
        |SELECT a.vec_id AS id_a, b2.vec_id AS id_b
        |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
        |JOIN embeddings ea ON ea.vec_id = a.vec_id
        |JOIN embeddings eb ON eb.vec_id = b2.vec_id
        |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= $NearDupMinSim""".stripMargin,
    // e5 regression pin: every seed/plane/probe in the ANN family is fixed
    // and the IVF fit is a driver-side Lloyd's over an ordered bounded
    // sample, so recall@5 at the driver's verify SF (sf0.01: 10 queries ×
    // k=5 over 500 near-orthogonal random vectors) is a deterministic
    // constant. Multi-table multi-probe LSH (8×6-bit, ≤2-bit flips) hits
    // 0.92 (was 0.28 single-probe, 0.76 with 1-bit flips; 1.0 at sf0.1)
    // and multi-probe IVF (4/16 cells) 0.92 on this structureless corpus;
    // clustered real embeddings score higher at the same parameters.
    // NOTE: pins are SF-specific by nature — recall is a property of the
    // data. This static entry is the context-free fallback only:
    // oracleSqlFor supersedes it with a TRUE replay (e2/e4 oracle bodies
    // intersected with e1's) that verifies at ANY SF.
    // (pq 0.24 is the honest flat-PQ number on THIS corpus: 64-dim
    // near-orthogonal random vectors have no cluster structure for the
    // codebooks to exploit, and PQ ranks by L2 ADC while the e1 ground
    // truth is cosine — real clustered embeddings score far higher)
    "e5_ann_recall" ->
      """SELECT * FROM (VALUES
        |  ('lsh', CAST(46 AS BIGINT), CAST(50 AS BIGINT), CAST(0.92 AS DOUBLE)),
        |  ('ivf', CAST(46 AS BIGINT), CAST(50 AS BIGINT), CAST(0.92 AS DOUBLE)),
        |  ('pq',  CAST(12 AS BIGINT), CAST(50 AS BIGINT), CAST(0.24 AS DOUBLE)),
        |  ('ivfpq', CAST(15 AS BIGINT), CAST(50 AS BIGINT), CAST(0.30 AS DOUBLE)))
        | t(method, hits, total, recall)""".stripMargin,
    // st1: the streaming leg's batch twin — quality stage + exact dedup
    // projected to CONTENT columns (the keeper-independent view: identical
    // texts agree on hash/chars/words, so DISTINCT replays dropDuplicates
    // regardless of which twin the stream kept first)
    "st1_stream_curate" ->
      s"""WITH $qualitySrcCtes
        |SELECT DISTINCT md5(text) AS content_hash,
        |  CAST(LENGTH(text) AS BIGINT) AS n_chars, n_words
        |FROM q""".stripMargin,
    // full pipeline replay: quality filter → exact dedup (VARCHAR-ordered
    // keeper, mirroring the contract's string doc_id) → banded minhash →
    // Jaccard-verified losers → lang-id — stage for stage what
    // Pipeline.curate plans in Spark
    "p1_curate" ->
      s"""WITH $curateStageCtes,
        |surv AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id_b FROM vp)),
        |${langIdCteFrom("surv")}
        |SELECT doc_id, text, predicted_lang, n_words FROM lid""".stripMargin,
    // p2: p1's quality + exact-dedup stages, then CLUSTER-keeper fuzzy
    // dedup — survivors are the docs equal to the minimum doc_id reachable
    // through verified pairs (recursive transitive closure), then lang-id
    "p2_curate_clustered" ->
      s"""WITH RECURSIVE $curateStageCtes,
        |${clusterCtesFrom("ex")},
        |surv AS (
        |  SELECT * FROM ex WHERE doc_id IN (SELECT doc_id FROM clusters WHERE is_keeper)),
        |${langIdCteFrom("surv")}
        |SELECT doc_id, text, predicted_lang, n_words FROM lid""".stripMargin,
    // t10: shared-shingle contamination vs the doc_id < 10 held-out set —
    // overlap counted over the SAME closed-form shingle hashes (the u CTE
    // of the minhash chain)
    "t10_decontaminate" ->
      s"""WITH ${minhashCtesFrom("documents")},
        |contam AS (SELECT DISTINCT h FROM u WHERE doc_id < 10),
        |hits AS (
        |  SELECT u.doc_id, COUNT(DISTINCT u.h) AS n_shared
        |  FROM u JOIN contam c ON c.h = u.h
        |  WHERE u.doc_id >= 10 GROUP BY u.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(hits.n_shared, 0) AS n_shared,
        |  COALESCE(hits.n_shared, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
        |LEFT JOIN hits ON hits.doc_id = d.doc_id""".stripMargin,
    // external-held-out decontamination: the held-out side is rebuilt in
    // SQL exactly as the Spark query builds it (first 40 RAW words —
    // slice before lowering, mirroring slice(split(trim(text)))[1:40] —
    // then the shared shingle/hash chain), threshold >= 3
    "t11_decontaminate_external" ->
      s"""WITH ${minhashCtesFrom("documents")},
        |hw AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(TRIM(text), $WordSep)[1:40], x -> lower(x)),
        |      x -> x <> '') AS words
        |  FROM documents WHERE doc_id % 100 = 7),
        |hg AS (
        |  SELECT doc_id,
        |    CASE WHEN len(words) = 0 THEN []::VARCHAR[]
        |         WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(words) - 1),
        |                i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    END AS sh
        |  FROM hw),
        |hu AS (
        |  SELECT DISTINCT list_reduce(list_prepend(0::BIGINT,
        |      list_transform(regexp_extract_all(s, '.'), c -> ord(c)::BIGINT)),
        |      (h, cp) -> (h * 31 + cp) % 4294967296) AS h
        |  FROM (SELECT unnest(sh) AS s FROM hg)),
        |hits AS (
        |  SELECT u.doc_id, COUNT(DISTINCT u.h) AS n_shared
        |  FROM u JOIN hu ON hu.h = u.h
        |  GROUP BY u.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(hits.n_shared, 0) AS n_shared,
        |  COALESCE(hits.n_shared, 0) >= 3 AS contaminated
        |FROM documents d
        |LEFT JOIN hits ON hits.doc_id = d.doc_id""".stripMargin,
    // trigram-novelty replay: identical trigram windows (3-char
    // substrings at 1-based offsets), corpus-wide count threshold 5,
    // integer per-mille via floor division
    "t12_novelty" ->
      """WITH tg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(text) - 1),
        |      i -> substring(text, i, 3))) AS tri
        |  FROM documents WHERE length(text) >= 3),
        |common AS (
        |  SELECT tri FROM (SELECT tri, COUNT(*) AS c FROM tg GROUP BY tri) t
        |  WHERE c >= 5),
        |hits AS (
        |  SELECT tg.doc_id, COUNT(*) AS n_common
        |  FROM tg JOIN common USING (tri) GROUP BY tg.doc_id)
        |SELECT d.doc_id,
        |  CAST(GREATEST(length(d.text) - 2, 0) AS BIGINT) AS n_tri,
        |  CAST(GREATEST(length(d.text) - 2, 0) - COALESCE(h.n_common, 0)
        |    AS BIGINT) AS n_rare,
        |  CAST(CASE WHEN length(d.text) < 3 THEN 0
        |    ELSE (GREATEST(length(d.text) - 2, 0) - COALESCE(h.n_common, 0))
        |         * 1000 // GREATEST(length(d.text) - 2, 0) END AS BIGINT)
        |    AS rare_permille
        |FROM documents d
        |LEFT JOIN hits h ON h.doc_id = d.doc_id""".stripMargin,
    // repeated word-10-gram replay: same word split / <10-word collapse /
    // distinct / hash chain as the shingle CTEs, windows of 10
    "d8_repeated_ngrams" ->
      s"""WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), $WordSep), x -> x <> '') AS words
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(words) = 0 THEN []::VARCHAR[]
        |         WHEN len(words) < 10 THEN [array_to_string(words, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(words) - 8),
        |                i -> array_to_string(words[i:i+9], ' ')))
        |    END AS sh
        |  FROM w),
        |u AS (
        |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        |      list_transform(regexp_extract_all(s, '.'), c -> ord(c)::BIGINT)),
        |      (h, cp) -> (h * 31 + cp) % 4294967296) AS h
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM g)),
        |shared AS (
        |  SELECT h FROM (SELECT h, COUNT(*) AS c FROM u GROUP BY h) t
        |  WHERE c >= 2),
        |hits AS (
        |  SELECT u.doc_id, COUNT(*) AS n_shared
        |  FROM u JOIN shared USING (h) GROUP BY u.doc_id)
        |SELECT g.doc_id,
        |  CAST(len(g.sh) AS BIGINT) AS n_ngrams,
        |  CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(CASE WHEN len(g.sh) = 0 THEN 0
        |       ELSE COALESCE(h.n_shared, 0) * 1000 // len(g.sh) END AS BIGINT)
        |    AS shared_permille
        |FROM g LEFT JOIN hits h ON h.doc_id = g.doc_id""".stripMargin,
    "d2_minhash_bands" ->
      s"WITH ${minhashCtesFrom("documents")} SELECT doc_id, band, band_hash FROM bands",
    // k1: every registered SQL kernel replayed per doc — simhash (d4's
    // ctes), first minhash value (d2's sig at i=0), distinct-shingle count
    // (the g cte), first fingerprint value (t5's winnowing body), and the
    // consecutive-doc jaccard (d6's formula over the same g)
    "k1_sql_kernels" -> {
      s"""WITH ${minhashCtesFrom("documents")},
        |$simhashCtes,
        |cps AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '.', 0, 's'), c -> ord(c)::BIGINT) AS cp
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(cp) < 16 THEN []::BIGINT[]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(cp) - 14),
        |      i -> list_reduce(list_prepend(0::BIGINT, cp[i:i+15]),
        |             (h, c) -> (h * 31 + c) % 4294967311))))[1:8]
        |    END AS f
        |  FROM cps),
        |j AS (
        |  SELECT a.doc_id, ${jaccardSql("a", "b")} AS j_next
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id + 1)
        |SELECT j.doc_id, sh2.simhash, s0.v AS mh0,
        |  CAST(len(g.sh) AS INTEGER) AS n_shingles, fp.f[1] AS fp_min, j.j_next
        |FROM j
        |JOIN sh2 ON sh2.doc_id = j.doc_id
        |JOIN (SELECT doc_id, v FROM sig WHERE i = 0) s0 ON s0.doc_id = j.doc_id
        |JOIN g ON g.doc_id = j.doc_id
        |JOIN fp ON fp.doc_id = j.doc_id""".stripMargin
    },
    "d3_minhash_pairs" ->
      s"WITH ${pairCtesFrom("documents")} SELECT id_a, id_b, jaccard FROM vp",
    // d7: the Spark side's iterative min-label propagation must reach the
    // same fixpoint as the oracle's transitive closure (recursive CTE):
    // cluster_id = smallest doc_id reachable through verified pairs
    "d7_dedup_clusters" ->
      s"""WITH RECURSIVE ${pairCtesFrom("documents")},
        |${clusterCtesFrom("documents")}
        |SELECT doc_id, cluster_id, is_keeper FROM clusters""".stripMargin,
    "t2_token_count" ->
      s"""SELECT doc_id,
        | CAST(LEN(regexp_split_to_array(TRIM(text), $WordSep)) AS INTEGER) AS ws_tokens,
        | CAST(LEN(regexp_extract_all(text, '[a-zA-Z0-9]+'))
        |   + LEN(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS INTEGER) AS bpe_tokens
        |FROM documents""".stripMargin,
    // t13: sliding 32-token windows, stride 24; chunk k = tokens
    // [k*24+1, k*24+32] (1-based inclusive slice, clipped at the end) —
    // the same integer algebra as Chunking.withChunks
    "t13_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, ' ') AS toks FROM documents),
        |c AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    CASE WHEN len(toks) <= 32 THEN 1
        |         ELSE ((len(toks) - 32 + 23) // 24) + 1 END AS nc
        |  FROM t),
        |u AS (
        |  SELECT doc_id, toks, n,
        |    unnest(generate_series(0, nc - 1)) AS k
        |  FROM c)
        |SELECT doc_id,
        |  CAST(k AS INTEGER) AS chunk_idx,
        |  CAST(LEAST(32, n - k * 24) AS INTEGER) AS chunk_tokens,
        |  array_to_string(toks[k * 24 + 1 : k * 24 + 32], ' ') AS chunk_text
        |FROM u""".stripMargin,
    "t14_vocab_topk" ->
      """SELECT word, COUNT(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, ' ')) AS word
        |      FROM documents) w
        |WHERE LEN(word) > 0
        |GROUP BY word
        |ORDER BY cnt DESC, word ASC
        |LIMIT 100""".stripMargin,
    "t15_bpe_merges" -> bpeOracleSql(6),
    // c1: the distributed prefix sum replayed as a plain window cumsum
    // (identical by the packing invariant: pack ids depend only on the
    // global doc_id order, not the partitioning)
    "c1_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens,
        |    SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, tokens,
        |  CAST(cum - tokens AS BIGINT) AS seq_start,
        |  CAST((cum - tokens) // 256 AS BIGINT) AS pack_id
        |FROM c""".stripMargin,
    // c2: the same blocks rebuilt from a whole-corpus string_agg — valid
    // at oracle SF only, which is exactly the distributed shape's point
    "c2_pack_blocks" ->
      """WITH s AS (
        |  SELECT string_agg(text, ' ' ORDER BY doc_id) AS all_text
        |  FROM documents),
        |t AS (SELECT regexp_split_to_array(all_text, ' ') AS toks FROM s),
        |b AS (SELECT toks, len(toks) AS n,
        |        (len(toks) - 1) // 256 AS max_b FROM t),
        |u AS (SELECT toks, n,
        |        unnest(generate_series(0, max_b)) AS block_id FROM b)
        |SELECT CAST(block_id AS BIGINT) AS block_id,
        |  CAST(LEAST(256, n - block_id * 256) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[block_id * 256 + 1 : block_id * 256 + 256], ' ')
        |    AS block_text
        |FROM u""".stripMargin,
    // c3: per doc the extracted stream is words(text) ++ ['tail'] ++ ONE
    // media placeholder (x2 pins that parse output), so the oracle
    // rebuilds it textually; each doc's media token is its stream's LAST
    // token, at global position start + n - 1
    "c3_interleaved_blocks" ->
      s"""WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(text, ' ')) + 2 AS BIGINT) AS n
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, n,
        |    SUM(n) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS start
        |  FROM d),
        |m AS (
        |  SELECT (start + n - 1) // 256 AS block_id,
        |    string_agg('${SgmlExtract.AssetPrefix}' || CAST(doc_id AS VARCHAR)
        |      || '${SgmlExtract.AssetSuffix}', ',' ORDER BY start + n - 1) AS media_refs
        |  FROM o GROUP BY 1),
        |s AS (
        |  SELECT string_agg(text || ' ${SgmlExtract.MarkedTailText} ${ops.Chunking.MediaToken}',
        |    ' ' ORDER BY doc_id) AS all_text FROM documents),
        |t AS (SELECT regexp_split_to_array(all_text, ' ') AS toks FROM s),
        |b AS (SELECT toks, len(toks) AS n, (len(toks) - 1) // 256 AS max_b FROM t),
        |u AS (SELECT toks, n, unnest(generate_series(0, max_b)) AS block_id FROM b)
        |SELECT CAST(u.block_id AS BIGINT) AS block_id,
        |  CAST(LEAST(256, n - u.block_id * 256) AS INTEGER) AS n_tokens,
        |  array_to_string(toks[u.block_id * 256 + 1 : u.block_id * 256 + 256], ' ')
        |    AS block_text,
        |  COALESCE(m.media_refs, '') AS media_refs
        |FROM u LEFT JOIN m ON m.block_id = u.block_id""".stripMargin,
    "t5_fingerprint" ->
      """WITH cps AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '.', 0, 's'), c -> ord(c)::BIGINT) AS cp
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id,
        |    CASE WHEN len(cp) < 16 THEN []::BIGINT[]
        |    ELSE list_sort(list_distinct(list_transform(range(1, len(cp) - 14),
        |      i -> list_reduce(list_prepend(0::BIGINT, cp[i:i+15]),
        |             (h, c) -> (h * 31 + c) % 4294967311))))[1:8]
        |    END AS f
        |  FROM cps)
        |SELECT doc_id, f[1] AS fp_min, CAST(len(f) AS INTEGER) AS fp_len FROM fp""".stripMargin,
    "x1_parse_identity" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
        | CAST(1 AS BIGINT) AS n_spans FROM documents""".stripMargin,
    "x2_parse_markup_spans" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS pos,
        |  'text' AS kind, text AS text, CAST(NULL AS VARCHAR) AS media_ref,
        |  CAST($textOff AS BIGINT) AS off FROM documents
        |UNION ALL
        |SELECT CAST(doc_id AS VARCHAR), CAST(1 AS BIGINT), 'text',
        |  '${SgmlExtract.MarkedTailText}',
        |  CAST(NULL AS VARCHAR), CAST(LENGTH(text) + $tailOffDelta AS BIGINT) FROM documents
        |UNION ALL
        |SELECT CAST(doc_id AS VARCHAR), CAST(2 AS BIGINT), 'media', '',
        |  '${SgmlExtract.AssetPrefix}' || CAST(doc_id AS VARCHAR) || '${SgmlExtract.AssetSuffix}',
        |  CAST(LENGTH(text) + ${SgmlExtract.MarkedMediaOffset} AS BIGINT) FROM documents""".stripMargin,
    "x6_malformed_recovery" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        | text || '$malformedTextSuffix' AS recovered_text,
        | CAST(1 AS BIGINT) AS n_errors,
        | 'unclosed-element' AS first_error_code,
        | CAST(LENGTH(text) + $malformedErrOffDelta AS BIGINT) AS first_error_off
        |FROM documents""".stripMargin,
    "x3_parse_errors" ->
      "SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(0 AS BIGINT) AS n_errors FROM documents",
    "x8_pdf_roundtrip" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
        | CAST(1 AS BIGINT) AS n_pages, CAST(0 AS BIGINT) AS n_errors
        |FROM documents""".stripMargin,
    "x9_lineage_totals" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS docs,
        | CAST(SUM(LENGTH(text)) + COUNT(*) * ${SgmlExtract.MarkedTailText.length} AS BIGINT) AS bytes,
        | CAST(3 * COUNT(*) AS BIGINT) AS spans,
        | CAST(0 AS BIGINT) AS errors FROM documents""".stripMargin,
    // x10: the synthetic per-doc table replayed cell-by-cell from the
    // documents columns (header row th, two data rows td)
    "x10_table_extract" ->
      """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS id, lang, source,
        |    CASE WHEN strpos(text, ' ') = 0 THEN text
        |         ELSE substr(text, 1, strpos(text, ' ') - 1) END AS w1
        |  FROM documents)
        |SELECT id AS doc_id, 0 AS tbl_idx, 0 AS row_idx, 0 AS col_idx,
        |  'th' AS cell_tag, 'lang' AS cell FROM d
        |UNION ALL SELECT id, 0, 0, 1, 'th', 'source' FROM d
        |UNION ALL SELECT id, 0, 1, 0, 'td', lang FROM d
        |UNION ALL SELECT id, 0, 1, 1, 'td', source FROM d
        |UNION ALL SELECT id, 0, 2, 0, 'td', w1 FROM d
        |UNION ALL SELECT id, 0, 2, 1, 'td', id FROM d""".stripMargin,
    "x7_shortref" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        | replace(text, '${SgmlExtract.ShortrefDelim}', '${SgmlExtract.ShortrefMarker}') AS text,
        | CAST(0 AS BIGINT) AS n_errors FROM documents""".stripMargin,
    "x4_boilerplate_strip" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS main_text,
        | CAST(1 AS BIGINT) AS n_spans FROM documents""".stripMargin,
    "xq1_xpath_child" ->
      """SELECT n_nationkey AS nation_key, n_name AS name,
        | CAST(n_nationkey AS BIGINT) AS key_attr,
        | CAST(n_regionkey AS DOUBLE) AS region_num,
        | n_name AS name_norm FROM nation""".stripMargin,
    "xq2_xpath_descendant" ->
      """SELECT n_regionkey AS region_key,
        | CAST(ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) - 1 AS BIGINT) AS pos,
        | n_name AS name FROM nation""".stripMargin,
    "xq3_xpath_positional" ->
      """SELECT n_regionkey AS region_key,
        | COALESCE(MAX(CASE WHEN rn = 2 THEN n_name END), '') AS second_nation,
        | COALESCE(MAX(CASE WHEN rn = cnt THEN n_name END), '') AS last_nation
        |FROM (SELECT n_regionkey, n_name,
        |  ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn,
        |  COUNT(*) OVER (PARTITION BY n_regionkey) AS cnt FROM nation) t
        |GROUP BY n_regionkey""".stripMargin,
    "xq4_xpath_window" ->
      """SELECT n_regionkey AS region_key,
        | MAX(CASE WHEN rn = 2 THEN n_name END) AS second_nation,
        | MAX(CASE WHEN rn = cnt THEN n_name END) AS last_nation
        |FROM (SELECT n_regionkey, n_name,
        |  ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn,
        |  COUNT(*) OVER (PARTITION BY n_regionkey) AS cnt FROM nation) t
        |WHERE rn = 2 OR rn = cnt
        |GROUP BY n_regionkey""".stripMargin,
    "xq6_pwp_template" ->
      """SELECT CAST(r.r_regionkey AS BIGINT) AS region_key,
        | '<region name="' || r.r_name || '">' ||
        | string_agg('<n k="' || n.n_nationkey || '"><nm>' || n.n_name || '</nm></n>',
        |            '' ORDER BY n.n_nationkey) ||
        | '</region>' AS pwp_out
        |FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_regionkey, r.r_name""".stripMargin,
    "xq5_xpath_spec_interp" ->
      """SELECT n_regionkey AS region_key,
        | MAX(CASE WHEN rn = 2 THEN n_name END) AS second_nation,
        | MAX(CASE WHEN rn = cnt THEN n_name END) AS last_nation,
        | CAST(MAX(CASE WHEN rn = 1 THEN n_nationkey END) AS BIGINT) AS first_key
        |FROM (SELECT n_regionkey, n_name, n_nationkey,
        |  ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rn,
        |  COUNT(*) OVER (PARTITION BY n_regionkey) AS cnt FROM nation) t
        |GROUP BY n_regionkey""".stripMargin,
    "q10_source_stats" ->
      """SELECT source, COUNT(*) AS n_docs,
        | ROUND(AVG(LENGTH(text)), 6) AS avg_chars,
        | ROUND(quantile_cont(LENGTH(text), 0.5), 6) AS p50_chars,
        | ROUND(quantile_cont(LENGTH(text), 0.9), 6) AS p90_chars,
        | CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
        |FROM documents GROUP BY source""".stripMargin,
    "q9_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        | COALESCE(l_linestatus, 'ALL') AS lstatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "t7_pii_scrub" -> {
      import TextOps.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@example.com' ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' cc admin@example.org' ELSE '' END ||
        |    ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 10.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) ||
        |    '.' || ((doc_id // 65536) % 256) AS pii_text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(pii_text,
        |    '$EmailRe', '[EMAIL]', 'g'), '$Ipv4Re', '[IP]', 'g'),
        |    '$PhoneRe', '[PHONE]', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(pii_text, '$Ipv4Re')) AS BIGINT) AS n_ips
        |FROM p""".stripMargin
    },
    // URL patterns interpolated from TextOps — one source of truth, RE2-safe
    "t8_url_extract" -> {
      import TextOps.{UrlRe, UrlHostRe}
      s"""WITH u AS (
        |  SELECT doc_id,
        |    text || ' see https://WWW.Example' || (doc_id % 50) ||
        |    '.com/p' || doc_id || '?x=1' ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN ' and http://sub.site' || (doc_id % 7) || '.org'
        |         ELSE '' END AS url_text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(url_text, '$UrlRe')) AS BIGINT) AS n_urls,
        |  regexp_extract(url_text, '$UrlRe') AS first_url,
        |  regexp_replace(lower(regexp_extract(url_text, '$UrlHostRe', 1)),
        |    '^www\\.', '') AS first_host
        |FROM u""".stripMargin
    },
    "t9_repetition" ->
      s"""WITH w AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), $WordSep),
        |      x -> x <> '') AS words
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, words,
        |    CASE WHEN len(words) >= 3
        |      THEN list_transform(range(1, len(words) - 1),
        |             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])
        |      ELSE []::VARCHAR[] END AS tris
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
        |  CAST(len(tris) AS BIGINT) AS n_trigrams,
        |  CAST(len(tris) - len(list_distinct(tris)) AS BIGINT) AS n_dup_trigrams,
        |  CAST(CASE WHEN len(words) > 0
        |    THEN (1000 * len(list_distinct(words))) // len(words)
        |    ELSE 1000 END AS BIGINT) AS distinct_word_permille,
        |  CAST(CASE WHEN len(tris) > 0
        |    THEN (1000 * (len(tris) - len(list_distinct(tris)))) // len(tris)
        |    ELSE 0 END AS BIGINT) AS dup_trigram_permille
        |FROM t""".stripMargin,
    "s1_stratified_sample" ->
      s"""SELECT doc_id, source,
        |  ${bucketSql("doc_id")} AS bucket,
        |  CAST(100 + (CAST(substr(source, 4) AS BIGINT) % 5) * 200 AS BIGINT)
        |    AS rate_permille
        |FROM documents
        |WHERE ${bucketSql("doc_id")}
        |  < 100 + (CAST(substr(source, 4) AS BIGINT) % 5) * 200""".stripMargin,
    "s2_uniform_sample" ->
      s"""SELECT doc_id,
        |  ${bucketSql("doc_id")} AS h
        |FROM documents ORDER BY h, doc_id LIMIT 100""".stripMargin,
    "s3_split_assign" ->
      s"""SELECT doc_id,
        |  ${bucketSql("doc_id")} AS bucket,
        |  ${splitCaseSql("doc_id")} AS split
        |FROM documents""".stripMargin,
    // s4: stratum weight floor(sqrt(n)) — IEEE sqrt of an exact integer is
    // correctly rounded, so floor agrees bit-for-bit with Spark; the rate
    // arithmetic is HUGEINT `//` ≡ Spark DECIMAL(38,0) `div`
    "s4_temperature_sample" ->
      s"""WITH c AS (
        |  SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang),
        |w AS (
        |  SELECT lang, n_stratum,
        |    CAST(floor(sqrt(n_stratum)) AS BIGINT) AS w_stratum FROM c),
        |t AS (SELECT SUM(w_stratum) AS sum_w, SUM(n_stratum) AS n_total FROM w),
        |r AS (
        |  SELECT lang, n_stratum, w_stratum,
        |    LEAST(1000, CAST((CAST(500 AS HUGEINT) * w_stratum * n_total)
        |      // (CAST(sum_w AS HUGEINT) * n_stratum) AS BIGINT)) AS rate_permille
        |  FROM w, t)
        |SELECT d.doc_id, d.lang, r.n_stratum, r.w_stratum, r.rate_permille,
        |  ${bucketSql("d.doc_id")} AS bucket
        |FROM documents d JOIN r ON r.lang = d.lang
        |WHERE ${bucketSql("d.doc_id")} < r.rate_permille""".stripMargin,
    // s5: the oracle replays the two-phase heap top-k as the window it is
    // semantically equivalent to (feasible at oracle SF)
    "s5_domain_cap" ->
      s"""SELECT source, doc_id, h, rank FROM (
        |  SELECT source, doc_id, ${bucketSql("doc_id")} AS h,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY ${bucketSql("doc_id")}, doc_id) AS rank
        |  FROM documents) t
        |WHERE rank <= 20""".stripMargin,
    // a1: the d3 pair machinery verbatim, then the split CASE on both ids
    "a1_split_leakage" ->
      s"""WITH ${pairCtesFrom("documents")}
        |SELECT id_a, ${splitCaseSql("id_a")} AS split_a,
        |  id_b, ${splitCaseSql("id_b")} AS split_b, jaccard
        |FROM vp
        |WHERE ${splitCaseSql("id_a")} <> ${splitCaseSql("id_b")}""".stripMargin,
    "q8_distinct_suppliers" ->
      """SELECT p_brand, COUNT(DISTINCT l_suppkey) AS n_suppliers,
        | COUNT(*) AS n_lineitems
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    // patterns interpolated from XsdTypes.patterns — one source of truth,
    // and they avoid lookarounds so Java regex (Spark) ≡ RE2 (DuckDB)
    "q7_xsd_types" ->
      s"""SELECT event_id,
        | (event_type IS NOT NULL AND
        |  regexp_matches(event_type, '${XsdTypes.patterns("NCName")}')) AS is_ncname,
        | CASE WHEN regexp_matches(json_extract_string(props, '$$.k'),
        |   '${XsdTypes.patterns("integer")}')
        |   THEN CAST(regexp_replace(json_extract_string(props, '$$.k'), '^\\+', '') AS BIGINT)
        | END AS k_int,
        | CASE WHEN regexp_matches(strftime(ts, '%Y'), '${XsdTypes.patterns("gYear")}')
        |   THEN CAST(substr(strftime(ts, '%Y'), 1, 4) AS BIGINT)
        | END AS yr4,
        | (event_id % 2 = 0) AS bool_flag,
        | CASE WHEN regexp_matches(event_type, '${XsdTypes.patterns("integer")}')
        |   THEN CAST(event_type AS BIGINT)
        | END AS bad_int
        |FROM events""".stripMargin,
    "t6_iso639" ->
      s"""WITH iso(code, name) AS (VALUES ${Iso639.names.toSeq.sorted
            .map { case (c, n) => s"('$c', '$n')" }.mkString(", ")})
        |SELECT d.doc_id, d.lang, i.name AS lang_name,
        |  (i.name IS NOT NULL) AS known
        |FROM documents d LEFT JOIN iso i ON i.code = lower(d.lang)""".stripMargin,
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q3_window_first_event" ->
      """SELECT user_id, event_type AS first_event_type FROM (
        | SELECT user_id, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        | FROM events) t WHERE rn = 1""".stripMargin,
    "x5_serialize_roundtrip" ->
      s"""SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        | '<html><head></head><body><p>' || text ||
        | '</p><p>${SgmlExtract.MarkedTailText}</p></body></html><img src="${SgmlExtract.AssetPrefix}' ||
        | CAST(doc_id AS VARCHAR) || '${SgmlExtract.AssetSuffix}"/>' AS xml_out
        |FROM documents""".stripMargin,
    "q4_topk_revenue" ->
      """SELECT o_custkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_custkey
        |ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin,
    "q5_no_order_customers" ->
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders""".stripMargin,
    "q6_typed_values" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | CAST(year(ts) AS BIGINT) AS yr,
        | strftime(ts, '%Y-%m-%d') AS day,
        | TRY_CAST(event_type AS DOUBLE) AS bad_num
        |FROM events""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_id,
        | COUNT(*) AS dup_count FROM documents GROUP BY md5(text)""".stripMargin,
    "t3_quality" ->
      s"""SELECT doc_id,
        | CAST(LEN(regexp_split_to_array(TRIM(text), $WordSep)) AS INTEGER) AS n_words,
        | CAST(LEN(list_filter(regexp_split_to_array(TRIM(text), $WordSep),
        |   x -> list_contains(['the','a','an','and','or','of','to','in','is','it','der','die','das','und','le','la','les','et','el','los','y'], x))) AS INTEGER) AS stopword_hits,
        | CAST(LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INTEGER) AS alpha_chars,
        | CAST(LENGTH(text) AS INTEGER) AS n_chars,
        | (LEN(regexp_split_to_array(TRIM(text), $WordSep)) >= 10
        |   AND LEN(list_filter(regexp_split_to_array(TRIM(text), $WordSep),
        |     x -> list_contains(['the','a','an','and','or','of','to','in','is','it','der','die','das','und','le','la','les','et','el','los','y'], x))) > 0
        |   AND LENGTH(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 100 >= LENGTH(text) * 50) AS is_quality
        |FROM documents""".stripMargin,
    "t1_text_stats" ->
      s"""SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS char_len,
        | CAST(LEN(regexp_split_to_array(TRIM(text), $WordSep)) AS BIGINT) AS word_count,
        | CAST(LENGTH(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS vowel_count
        |FROM documents""".stripMargin,
    "d6_ngram_jaccard" ->
      s"""WITH ${shingleCtesFrom("documents")}
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, ${jaccardSql("a", "b")} AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin,
    "t4_lang_id" ->
      s"""WITH ${langIdCteFrom("documents")}
        |SELECT doc_id, lang, predicted_lang, (lang = predicted_lang) AS agree FROM lid""".stripMargin,
    "e1_knn_exact" ->
      s"""WITH cand AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
        |  FROM embeddings q, embeddings e
        |  WHERE q.vec_id < 10 AND e.vec_id <> q.vec_id)
        |${cosineTop5Sql()}""".stripMargin
  )
}
