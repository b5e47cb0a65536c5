package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Catalyst
import graft.functions.ExtractSpansExpr
import graft.sgml._

/** The contract rows (BASELINE.json input_hint), typed. Their elements
  * are the kernel's own [[graft.sgml.Span]] and [[graft.sgml.ParseErr]],
  * so the parser's output needs no copy:
  * input  docs(doc_id string, spans array<struct<kind,text,media_ref,offset>>)
  * output extracted(doc_id, spans, errors array<struct<code,offset,detail>>).
  */
final case class Doc(doc_id: String, spans: Seq[Span])
final case class Extracted(doc_id: String, spans: Seq[Span], errors: Seq[ParseErr])

/** The Spark surface of the extraction engine (SURVEY.md §1.2, §3 E1).
  *
  * One Catalyst expression, `extract_spans` (graft.functions.ExtractSpansExpr):
  * decode → tokenize → build → emit, one doc per row, events never leave
  * the task. Columnar at rest (Parquet/Iceberg), row-oriented only inside
  * the kernel. No shuffle on the bulk path; shuffles exist only before
  * (size-aware repartition for skew) and after (writes / aggregations).
  */
object SgmlExtract {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Serializable parse options for executors. */
  final case class Config(
      dialect: String = "html4",
      space: String = "sgml",
      maxErrors: Int = 100,
      maxDocChars: Int = 64 << 20,
      boilerplate: Boolean = false) {
    def toParserConfig: ParserConfig = ParserConfig(
      dialect = Dialect.parse(dialect),
      space = SpaceMode.parse(space),
      maxErrors = maxErrors,
      maxDocChars = maxDocChars,
      boilerplate = boilerplate)
  }

  /** Production source: read a contract-schema table `(doc_id, spans)`
    * from any DataSourceV2 format. Iceberg is the deployment target
    * (`format = "iceberg"`, path = table identifier) — its jars are absent
    * in this sandbox (SURVEY.md §1.2), so local tests use the default
    * `parquet`; the adapter is exactly this format string. Columns are
    * selected explicitly so pruning reaches the scan before the opaque
    * kernel; the typed view checks the spans' element type at analysis. */
  def readDocs(spark: SparkSession, path: String,
      format: String = "parquet"): DataFrame = {
    import spark.implicits._
    spark.read.format(format).load(path)
      .select(col("doc_id").cast("string").as("doc_id"), col("spans"))
      .as[Doc].toDF()
  }

  // ---- the corpus directory: one parquet file per table ----
  // The operators in graft.ops take frames; SparkEntry's queries read the
  // documents and embeddings tables through these readers.

  /** The `documents` table (doc_id int64, text, lang, source, n_chars). */
  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The `embeddings` table (vec_id, embedding array<float>, label). */
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Wrap the `documents` table into the contract schema — one text span
    * at offset 0. Columns pruned BEFORE the opaque kernel so the parquet
    * scan reads only doc_id+text (pushdown stops at the kernel — SURVEY.md
    * §4). */
  def wrapDocuments(spark: SparkSession, dir: String): DataFrame =
    wrapDocsDf(documents(spark, dir))

  /** The wrapDocuments projection over ANY (doc_id, text) frame — shared
    * by the batch wrapper and the streaming file source (st1 drives the
    * same projection under readStream). */
  def wrapDocsDf(df: DataFrame): DataFrame = contractRows(df, col("text"))

  /** The one writer of contract rows: `doc_id` as a string, then
    * `spans` = one text span at offset 0 holding `text`, followed by the
    * `media` spans — exactly the fields of `Doc`. Every wrapper,
    * `TableOps.wrapDocumentsTable`, `Resume`'s chunks and `Bench`'s skew
    * corpus build their rows here. */
  private[graft] def contractRows(d: DataFrame, text: Column, media: Column*): DataFrame =
    d.select(col("doc_id").cast("string").as("doc_id"), textSpans(text, media: _*).as("spans"))

  /** The contract span array: one text span at offset 0 holding `text`,
    * then the `media` spans. Also the input of the kernel's text
    * functions (`sgml_spans`, `sgml_xpath`). */
  private[graft] def textSpans(text: Column, media: Column*): Column = {
    val textSpan = struct(lit("text").as("kind"), text.as("text"),
      lit(null).cast("string").as("media_ref"), lit(0).as("offset"))
    array(textSpan +: media: _*)
  }

  // Wrapper constants, shared between the synthetic-markup wrappers below
  // and SparkEntry's DuckDB oracles: every oracle offset is DERIVED from
  // these (never hard-coded), so a wrapper change breaks the build/oracle
  // loudly instead of silently invalidating the comparison.
  val MarkedPrefix = "<html><body><p>" // before the document text
  val MarkedTail = "<p>tail" // second paragraph open + its text
  val MarkedSuffix = "</body></html>"
  val MarkedTailText = "tail" // the text content of MarkedTail
  val MarkedMediaOffset = 100000 // media span offset = len(text) + this
  val AssetPrefix = "asset_"
  val AssetSuffix = ".bin"
  val MalformedInfix = " <b>bold" // unclosed <b> injected after the text
  val MalformedSuffix = "</p></body></html>"
  // SHORTREF wrapper (T14): delimiter and its replacement, shared with the
  // x7 oracle (`replace(text, ShortrefDelim, ShortrefMarker)`).
  val ShortrefDelim = "--"
  val ShortrefMarker = "#"
  val ShortrefProlog: String =
    "<!DOCTYPE d [" +
      "<!ELEMENT d - - (#PCDATA)>" +
      s"""<!ENTITY mk "$ShortrefMarker">""" +
      s"""<!SHORTREF m "$ShortrefDelim" mk>""" +
      "<!USEMAP m d>" +
      "]><d>"
  val ShortrefClose = "</d>"

  /** Wrap with deterministic synthetic markup + an interleaved media span —
    * exercises tag parse, omission repair and media passthrough on the real
    * corpus while staying SQL-reconstructable for the DuckDB oracle. */
  def wrapDocumentsMarked(spark: SparkSession, dir: String): DataFrame =
    contractRows(documents(spark, dir),
      concat(lit(MarkedPrefix), col("text"), lit(MarkedTail), lit(MarkedSuffix)),
      struct(
        lit("media").as("kind"),
        lit("").as("text"),
        concat(lit(AssetPrefix), col("doc_id"), lit(AssetSuffix)).as("media_ref"),
        (length(col("text")) + lit(MarkedMediaOffset)).as("offset")))

  /** Wrap with deterministically MALFORMED markup (an unclosed `<b>`
    * inside the paragraph) — the corpus-scale error-recovery check (D8):
    * the parse must repair at `</p>`, lose no text, and log exactly one
    * `unclosed-element` error at a computable offset. */
  def wrapDocumentsMalformed(spark: SparkSession, dir: String): DataFrame =
    contractRows(documents(spark, dir),
      concat(lit(MarkedPrefix), col("text"), lit(MalformedInfix + MalformedSuffix)))

  /** Wrap as an SGML document whose internal DTD declares a SHORTREF map
    * (delimiter `--` → entity `mk`) activated on the root via USEMAP —
    * corpus-scale exercise of T14, SQL-reconstructable for the oracle. */
  def wrapDocumentsShortref(spark: SparkSession, dir: String): DataFrame =
    contractRows(documents(spark, dir),
      concat(lit(ShortrefProlog), col("text"), lit(ShortrefClose)))

  /** Wrap with realistic page chrome (head/style, nav of links, footer)
    * around the document text — the boilerplate-strip stage must recover
    * exactly the main text, which keeps the DuckDB oracle trivial. */
  def wrapDocumentsBoiler(spark: SparkSession, dir: String): DataFrame =
    contractRows(documents(spark, dir), concat(
      lit("<html><head><title>Page</title><style>p{color:red}</style>" +
        "</head><body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a>" +
        " <a href=\"/b\">More</a></nav><div><a href=\"/x\">Related one</a>" +
        " <a href=\"/y\">Related two</a></div><p>"),
      col("text"),
      lit("<footer>(c) corp</footer></body></html>")))

  /** Columnar extraction via the native Catalyst expression
    * (graft.functions.ExtractSpansExpr): no Doc/Extracted encoder
    * round-trip, inputs stay UTF8String off the vectorized Parquet
    * reader. The result has the fields of `Extracted`; typed callers
    * write `extractDf(df, cfg).as[Extracted]`. */
  def extractDf(df: DataFrame, config: Config): DataFrame =
    parseDf(df, config, ExtractSpansExpr.Spans, "spans")

  /** Serialization sink (SURVEY.md §2.8 W1/W5): each doc written back as
    * canonical XML (attributes name-sorted, no self-closing elements —
    * deterministic byte-stable output) by the `sgml_canonical` projection
    * of the same kernel expression: (doc_id, xml_out, errors). A failed
    * parse gives a null `xml_out`, never a silently serialized ''. Used by
    * the round-trip conformance query (x5) and by downstream consumers
    * that want markup, not spans. */
  def serializeCanonical(docs: DataFrame, config: Config): DataFrame =
    parseDf(docs, config, ExtractSpansExpr.Canonical, "xml_out")

  /** `doc_id`, the `projection` of the kernel over `spans` named `out`,
    * then `errors` — one kernel expression per row. */
  private[graft] def parseDf(df: DataFrame, config: Config,
      projection: ExtractSpansExpr.Projection, out: String): DataFrame =
    df.select(col("doc_id"), kernel(col("spans"), config, projection).as("r"))
      .select(col("doc_id"), col("r.*")).toDF("doc_id", out, "errors")

  /** The kernel expression over contract `spans` as a Column:
    * `struct<projection field, errors>`. The config is checked here, on
    * the driver, so an unknown dialect or space fails before any plan. */
  private[graft] def kernel(spans: Column, config: Config,
      projection: ExtractSpansExpr.Projection = ExtractSpansExpr.Spans): Column = {
    config.toParserConfig
    Catalyst.column(ExtractSpansExpr(Catalyst.expression(spans), config, projection))
  }

  /** Size-aware repartition for skewed giant docs (north rule; SURVEY.md
    * §4.1): whales (≥ whaleChars) are placed ROUND-ROBIN on exact
    * partitions — a deterministic ≤⌈W/P⌉ whales-per-task bound, where
    * hash placement would let whales collide — and everything else
    * hash-distributes uniformly over the same partitions.
    *
    * Shape (r2 redesign, measured): ONE exchange of the data plus one
    * cheap id pass. Pass 1 scans only (doc_id, chars) and collects the
    * whale ids driver-side — whales are rare by definition (the id list
    * is ~10⁴ rows at 100 TB; above `MaxDriverWhales` the call degrades
    * gracefully to plain hashing rather than ship a huge literal). Pass 2
    * keys a single `repartition` with a probe integer whose Murmur3 hash
    * lands on the whale's round-robin target partition (normals key by
    * `hash(doc_id)` — uniform over all partitions). The previous
    * branch/window/union design funnelled whale BYTES through a
    * single-partition window and re-read the source per branch — it cost
    * more than it balanced once the parse kernel got fast. */
  def sizeAwareRepartition(df: DataFrame, numPartitions: Int,
      whaleChars: Long = 8L << 20): DataFrame = {
    // limit BEFORE collect: the cap must bound the driver transfer itself,
    // not just check it after the fact (a corpus where most docs are
    // whales would otherwise OOM the driver before the check ran)
    val whaleIds = df
      .select(col("doc_id"))
      .where(spanChars >= whaleChars)
      .limit(MaxDriverWhales + 1)
      .collect().map(_.getString(0)).sorted
    if (whaleIds.length > MaxDriverWhales)
      log.warn(s"sizeAwareRepartition: ${whaleIds.length}+ whales (docs of " +
        s">= $whaleChars chars; counting stops past the cap) exceed " +
        s"MaxDriverWhales = $MaxDriverWhales; falling back to plain hash " +
        "partitioning on doc_id, so whales may share a task")
    if (whaleIds.isEmpty || whaleIds.length > MaxDriverWhales)
      return df.repartition(numPartitions, col("doc_id"))
    val probes = partitionProbeKeys(numPartitions)
    val slotKey: Map[String, Int] = whaleIds.zipWithIndex.map {
      case (id, i) => id -> probes(i % numPartitions)
    }.toMap
    df.repartition(numPartitions,
      coalesce(element_at(typedLit(slotKey), col("doc_id")), hash(col("doc_id"))))
  }

  /** Cap on the driver-side whale-id map: the id→probe map ships as a
    * plan literal, and beyond ~10⁴ entries literal size starts to tax
    * plan serialization; above the cap the call degrades to plain hash
    * partitioning (an input with >10⁴ whales has a skew profile that
    * wants a dedicated job split, not per-row salting). */
  val MaxDriverWhales = 10000

  /** probe(p) = the smallest int whose Murmur3 hash (seed 42 — what
    * HashPartitioning uses for an int key) routes to partition p of
    * `parts`; keying an exchange with probe((slot-1) % parts) places each
    * whale slot on its exact round-robin target through a plain hash
    * repartition. */
  private[graft] def partitionProbeKeys(parts: Int): Array[Int] = {
    val keys = new Array[Int](parts)
    val found = new Array[Boolean](parts)
    var remaining = parts
    var k = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42)
      val p = ((h % parts) + parts) % parts
      if (!found(p)) { found(p) = true; keys(p) = k; remaining -= 1 }
      k += 1
    }
    keys
  }

  /** Attach observed metrics to an extracted DataFrame (SURVEY.md §7
    * step 4: `observe()` + CollectMetrics): docs/spans/errors/chars
    * counters computed inside the SAME job as whatever action consumes
    * the frame — no second pass, no pipeline break. Read the result via
    * `org.apache.spark.sql.Observation#get` after the action. */
  def withObservedMetrics(df: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame = {
    val fold = metricsFold(chars = Some("chars"))
    df.observe(obs, fold.head, fold.tail: _*)
  }

  /** The per-doc metrics fold over contract-output rows: `docs`, then
    * the text chars of `spans` named `chars` (when given), then `spans`
    * and `errors` counts — all long. `withObservedMetrics`, lineage,
    * `Resume`'s chunk totals and `StreamingExtract.ingestMetrics` (no
    * chars) aggregate with it. */
  private[graft] def metricsFold(chars: Option[String]): Seq[Column] =
    Seq(count(lit(1)).as("docs")) ++ chars.map(sum(spanChars).as(_)) ++ Seq(
      sum(size(col("spans")).cast("long")).as("spans"),
      sum(size(col("errors")).cast("long")).as("errors"))

  /** The concatenated text of a row's `spans`, linear in its length. */
  private[graft] def spanText: Column = expr("array_join(transform(spans, s -> s.text), '')")

  /** Text chars over a row's `spans` (a null text counts 0). */
  private[graft] def spanChars: Column =
    expr("aggregate(spans, 0L, (a, s) -> a + length(coalesce(s.text, '')))")

  /** Per-partition lineage rows (run_id, partition_id, docs, bytes, spans,
    * errors) — computed in the same narrow stage as the parse, so
    * spark_partition_id() is the parse partition (FIXTURES.md lineage
    * schema; north rule "per-partition lineage + metrics"). */
  def lineage(extracted: DataFrame, runId: String): DataFrame =
    partitionRows(extracted.withColumn("__pid", spark_partition_id()), runId)

  /** `lineage` over a frame that already carries its parse partition in
    * `__pid` (Pipeline.run stores it with the extracted product). */
  private[graft] def partitionRows(extracted: DataFrame, runId: String): DataFrame = {
    val fold = metricsFold(chars = Some("bytes"))
    extracted
      .groupBy(col("__pid").as("partition_id"))
      .agg(fold.head, fold.tail: _*)
      .select(lit(runId).as("run_id"), col("partition_id"), col("docs"),
        col("bytes"), col("spans"), col("errors"))
  }
}
