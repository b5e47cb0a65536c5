package graft.functions

import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.Catalyst
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, GetArrayItem, GetStructField, Literal, ScalaUDF, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sgml.{ContentSink, DomSink, ParseErr, ParseResult, ParserConfig, Pwp, SgmlParser, Serializer, Span, SpanSink, XPathSpec}
import graft.SgmlExtract
import graft.ops.{Dedup, MediaOps, TableOps, TextOps}

/** Native Catalyst expression for the extraction kernel:
  * `extract_spans(spans_array [, dialect [, space [, boilerplate
  * [, maxErrors [, maxDocChars]]]]])` →
  * `struct<spans: array<span>, errors: array<err>>`.
  *
  * Why an Expression and not a typed `mapPartitions` (SURVEY.md §7.6):
  * inputs arrive as Catalyst `ArrayData`/`UTF8String` straight off the
  * vectorized Parquet reader and results are built as `InternalRow`s —
  * the `Dataset[Doc]`/`Dataset[Extracted]` encoder round-trip (a measured
  * GC hotspot at 32 cores: per-row Seq + case-class materialization) is
  * skipped entirely. The generated code calls [[parse]], as `eval` does,
  * so the scan, the parse and the projections after it fuse into one
  * whole-stage codegen stage.
  *
  * Every parse is this one expression: its [[Projection]] names the sink
  * the parse commits to and turns the finished parse into the first field
  * of the output — spans straight from a span sink, no tree; canonical
  * XML, table cells or xpath solutions from the DOM. The feed, the
  * lifecycle ([[ExtractSpansExpr.Kernel]]), the input check and the
  * `errors` field are shared.
  *
  * Reference lifecycle mirrored per SURVEY.md §3 E1 (`sgml2pl.c —
  * pl_new_sgml_parser / pl_sgml_parse` [V]): one parser per thread, reset
  * per row. A null input array yields null.
  */
case class ExtractSpansExpr(child: Expression, config: SgmlExtract.Config,
    projection: ExtractSpansExpr.Projection = ExtractSpansExpr.Spans)
  extends UnaryExpression {

  import ExtractSpansExpr._

  override def prettyName: String = projection.name

  override lazy val dataType: DataType =
    StructType(Seq(projection.field, StructField("errors", ArrayType(ErrType))))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = child.dataType match {
      case ArrayType(st: StructType, _) => st.fields.map(f => f.name -> f.dataType).toMap
      case _ => Map.empty[String, DataType]
    }
    SpanType.fields.find(f => !types.get(f.name).contains(f.dataType))
      .fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(f => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects ${ArrayType(SpanType).sql}, got ${child.dataType.sql}: " +
          s"field `${f.name}` is ${types.get(f.name).fold("missing")(_.sql)}"))
  }

  // One kernel per thread: expression instances can be shared across the
  // tasks of a local-mode executor, and the parser is stateful. The last
  // caller's kernel is kept in a field, so a row costs a thread compare
  // instead of a ThreadLocal probe. Another thread that reads that field
  // reads only the kernel's final `thread` field, and so takes its own
  // kernel; the kernel's other state is touched only by its own thread.
  @transient private lazy val kernels: ThreadLocal[Kernel] = {
    val cfg = config.toParserConfig
    val input = child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    ThreadLocal.withInitial(() => new Kernel(cfg, projection, input))
  }
  @transient private var last: Kernel = _

  override protected def nullSafeEval(v: Any): Any = parse(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("kernel", this)
    defineCodeGen(ctx, ev, arr => s"$self.parse($arr)")
  }

  /** The output struct of one non-null input array. */
  def parse(arr: ArrayData): InternalRow = {
    var k = last
    if (k == null || (k.thread ne Thread.currentThread())) { k = kernels.get(); last = k }
    k(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractSpansExpr =
    copy(child = newChild)
}

object ExtractSpansExpr {
  /** The calling thread's parse lifecycle for one expression: the
    * projection's sink and ONE parser committing to it, reused across the
    * rows of the thread (per-row parser construction dominated small-doc
    * throughput). `input` is the element type of the span array.
    *
    * A non-fatal throw anywhere in the feed, the finish or the projection
    * gives the projection's failed value and one `internal-error` whose
    * detail is the throwable's class name: in hot code HotSpot throws the
    * JVM's implicit exceptions without a message, so a message would
    * differ from run to run. The parser, whose state is then unknown, is
    * dropped and the next row gets a fresh one; fatal errors
    * (`VirtualMachineError`, `InterruptedException`, …) propagate and
    * drop it too. Not thread-safe: one kernel per thread. */
  private[graft] final class Kernel(cfg: ParserConfig, projection: Projection, input: StructType) {
    val thread: Thread = Thread.currentThread()
    private[functions] val sink: ContentSink = projection.sink(cfg)
    private var parser: SgmlParser = _
    private val kindI = input.fieldIndex("kind")
    private val textI = input.fieldIndex("text")
    private val refI = input.fieldIndex("media_ref")
    private val offI = input.fieldIndex("offset")
    private val nFields = input.size

    /** The output struct of one non-null span array. */
    def apply(arr: ArrayData): InternalRow =
      try {
        val p = if (parser == null) new SgmlParser(cfg, sink) else parser
        parser = null // checked out: only a completed parse returns it
        p.reset()
        feed(arr, p)
        val r = p.finish()
        val row = new GenericInternalRow(Array[Any](projection(r, sink), errRows(r.errors)))
        parser = p
        row
      } catch {
        case NonFatal(e) => new GenericInternalRow(Array[Any](projection.failed(cfg),
          errRows(Vector(ParseErr("internal-error", 0, e.getClass.getName)))))
      }

    // Text goes in via `UTF8String.toString`: measured 5-15% faster than
    // decoding into a reused char[] (compact strings, intrinsified decoder).
    private def feed(arr: ArrayData, p: SgmlParser): Unit = {
      val nIn = arr.numElements()
      var i = 0
      while (i < nIn) {
        val row = arr.getStruct(i, nFields)
        if (row != null) {
          val kind = row.getUTF8String(kindI)
          val off = if (row.isNullAt(offI)) 0 else row.getInt(offI)
          if (kind != null && MediaKind.equals(kind)) {
            val ref = row.getUTF8String(refI)
            p.media(if (ref == null) null else ref.toString, off)
          } else {
            val t = row.getUTF8String(textI)
            if (t != null) p.feed(t.toString, off)
          }
        }
        i += 1
      }
    }
  }

  private val MediaKind = UTF8String.fromString("media")

  // the element types are the kernel's case classes, so the SQL schema
  // and the typed rows (graft.Doc / graft.Extracted) cannot drift apart
  val SpanType: StructType = Encoders.product[Span].schema
  val ErrType: StructType = Encoders.product[ParseErr].schema

  /** What a parse commits to and becomes: the first field of the output
    * struct, `field`, of the SQL function `name`. */
  sealed abstract class Projection(val name: String, val field: StructField)
      extends Serializable {
    /** The sink a parse commits to — by default a tree, which `apply`
      * reads from the finished parse. */
    private[graft] def sink(cfg: ParserConfig): ContentSink = new DomSink
    /** The field's value of a finished parse that committed to `sink`. */
    private[graft] def apply(r: ParseResult, sink: ContentSink): Any
    /** The field's value when the parse failed — by default the
      * projection of an empty document, committed to a fresh sink. */
    private[graft] def failed(cfg: ParserConfig): Any =
      apply(ParseResult(Vector.empty, Vector.empty), sink(cfg))
  }

  /** `extract_spans`: the span sequence, each span a row made when the
    * parse commits its content to a span sink. */
  case object Spans extends Projection("extract_spans", StructField("spans", ArrayType(SpanType))) {
    private val kinds = SpanSink.Kinds.map(UTF8String.fromString)

    override private[graft] def sink(cfg: ParserConfig): ContentSink = new SpanSink[Any](cfg) {
      protected def span(kind: Int, text: String, ref: String, off: Int): Any =
        new SpanRow(kinds(kind), utf8(text), utf8(ref), off)
    }
    private[graft] def apply(r: ParseResult, sink: ContentSink): Any =
      new GenericArrayData(sink.asInstanceOf[SpanSink[_]].toArray)

    private def utf8(t: String): UTF8String = if (t == null) null else UTF8String.fromString(t)
  }

  /** One `SpanType` row: kind, text, media_ref and a primitive offset. */
  private final class SpanRow(kind: UTF8String, text: UTF8String, ref: UTF8String, offset: Int)
      extends BaseGenericInternalRow {
    def numFields: Int = 4
    protected def genericGet(i: Int): Any =
      if (i == 0) kind else if (i == 1) text else if (i == 2) ref else offset
    override def isNullAt(i: Int): Boolean = i < 3 && genericGet(i) == null
    override def getInt(i: Int): Int = offset
    def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
  }

  /** `sgml_canonical`: canonical XML (attributes name-sorted, no
    * self-closing elements); null when the parse failed. */
  case object Canonical extends Projection("sgml_canonical", StructField("xml", StringType)) {
    private[graft] def apply(r: ParseResult, sink: ContentSink): Any =
      UTF8String.fromString(Serializer.xml(r.content, canonical = true))
    override private[graft] def failed(cfg: ParserConfig): Any = null
  }

  /** `sgml_table_cells`: one row per table cell (TableOps.cellsOf). */
  case object Cells
      extends Projection("sgml_table_cells", StructField("cells", ArrayType(TableOps.CellType))) {
    private[graft] def apply(r: ParseResult, sink: ContentSink): Any = TableOps.cellsOf(r)
  }

  /** `sgml_xpath`: every solution of each xpath.pl-style spec, in
    * document order — one solution array per spec, all from one parse.
    * Each spec is parsed here, once, so a malformed one fails analysis
    * with its parse message. */
  final case class XPath(specs: Seq[String]) extends Projection("sgml_xpath",
      StructField("solutions", ArrayType(ArrayType(StringType)))) {
    private val paths = specs.map(spec => XPathSpec.parse(spec).fold(
      e => throw new IllegalArgumentException(s"sgml_xpath: spec '$spec': $e"), identity))
    private[graft] def apply(r: ParseResult, sink: ContentSink): Any = new GenericArrayData(paths.map(p =>
      new GenericArrayData(XPathSpec.evalStrings(r.content, p).map(UTF8String.fromString).toArray[Any])).toArray[Any])
  }

  private def errRows(errors: Vector[ParseErr]): ArrayData =
    new GenericArrayData(errors.map(e => new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.code), e.offset, UTF8String.fromString(e.detail)))).toArray[Any])

  /** The value of a non-null literal argument of type `tpe` (a string as
    * a `String`). */
  private def literal[T](e: Expression, tpe: DataType, fn: String, what: String): T = e match {
    case Literal(v, `tpe`) if v != null =>
      (if (tpe == StringType) v.toString else v).asInstanceOf[T]
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be a ${tpe.simpleString} literal, got $other")
  }

  /** Builder of `extract_spans`, `sgml_canonical` and `sgml_table_cells`:
    * the spans plus up to five literal options; omitted ones default to
    * html4, preserve, no strip and the `SgmlExtract.Config` limits. */
  def fromArgs(args: Seq[Expression], projection: Projection): ExtractSpansExpr = {
    val fn = projection.name
    if (args.isEmpty || args.length > 6) throw new IllegalArgumentException(
      s"$fn(spans[, dialect[, space[, boilerplate[, maxErrors[, maxDocChars]]]]]) " +
        "takes 1-6 arguments")
    val arg = args.lift
    val limits = SgmlExtract.Config()
    val config = SgmlExtract.Config(
      dialect = arg(1).fold("html4")(literal[String](_, StringType, fn, "dialect").toLowerCase),
      space = arg(2).fold("preserve")(literal[String](_, StringType, fn, "space").toLowerCase),
      boilerplate = arg(3).exists(literal[Boolean](_, BooleanType, fn, "boilerplate")),
      maxErrors = arg(4).fold(limits.maxErrors)(literal[Int](_, IntegerType, fn, "maxErrors")),
      maxDocChars = arg(5).fold(limits.maxDocChars)(literal[Int](_, IntegerType, fn, "maxDocChars")))
    config.toParserConfig // an unknown dialect or space fails at analysis
    ExtractSpansExpr(args.head, config, projection)
  }

  /** The contract span array of one text span holding `text`, built by
    * the contract's own writer (`SgmlExtract.textSpans`). */
  private def spansOf(text: Expression): Expression =
    Catalyst.expression(SgmlExtract.textSpans(Catalyst.column(Cast(text, StringType))))

  /** `sgml_spans(text[, dialect[, space]])`: `extract_spans` over a
    * one-text-span array, its `.spans`. Dialect and space are literals
    * with `extract_spans`' defaults; a parse that fails yields an empty
    * array, as `extract_spans` yields an error row. */
  def spansOfText(args: Seq[Expression]): Expression = {
    if (args.isEmpty || args.length > 3) throw new IllegalArgumentException(
      "sgml_spans(text[, dialect[, space]]) takes 1-3 arguments")
    GetStructField(fromArgs(spansOf(args.head) +: args.tail, Spans), 0)
  }

  /** `sgml_xpath(text, spec, dialect)`: the solutions of an xpath.pl-style
    * spec over `text` parsed with space `preserve` — the one solution
    * array of an `XPath` projection of one spec. Spec and dialect are
    * literals. */
  def xpathOfText(args: Seq[Expression]): Expression = {
    if (args.length != 3) throw new IllegalArgumentException(
      "sgml_xpath(text, spec, dialect) takes 3 arguments")
    val xpath = XPath(Seq(literal[String](args(1), StringType, "sgml_xpath", "spec")))
    GetArrayItem(GetStructField(
      fromArgs(Seq(spansOf(args.head), args(2), Literal("preserve")), xpath), 0), Literal(0))
  }

  /** The SQL function table, which `register` and `GraftExtensions` read
    * whole: the kernel functions and `bucket_collect` as their own
    * expression nodes, then scalar UDFs — `pwp_render` (PWP template
    * rendering with scalar bindings, SURVEY.md §2.5; the row-set pwp:ask
    * form is graft.ops.PwpOps.render) and the training-data kernels the
    * d/t/m operators build on (SURVEY.md §2.7 UDF surface). Those are
    * pure and bit-deterministic, so a SQL-built pipeline verifies against
    * the same DuckDB oracles as the operators. Lazy: the projections' own
    * initialization reads this object's span types. */
  lazy val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def scalar(name: String, arity: Int, f: UserDefinedFunction) =
      (name, classOf[ScalaUDF], (args: Seq[Expression]) => {
        if (args.length != arity) throw new IllegalArgumentException(s"$name takes $arity argument(s)")
        Catalyst.expression(f.withName(name)(args.map(Catalyst.column): _*))
      })
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      (Spans.name, classOf[ExtractSpansExpr], fromArgs(_, Spans)),
      ("sgml_spans", classOf[ExtractSpansExpr], spansOfText),
      (Canonical.name, classOf[ExtractSpansExpr], fromArgs(_, Canonical)),
      (Cells.name, classOf[ExtractSpansExpr], fromArgs(_, Cells)),
      ("sgml_xpath", classOf[ExtractSpansExpr], xpathOfText),
      ("bucket_collect", classOf[BucketCollect], BucketCollect.fromArgs),
      scalar("pwp_render", 2, udf((template: String, scalars: Map[String, String]) =>
        Pwp.renderXml(if (template == null) "" else template,
          if (scalars == null) Map.empty[String, Pwp.Val]
          else scalars.map { case (k, v) => k -> (Pwp.Scalar(if (v == null) "" else v): Pwp.Val) }))),
      // word 3-shingles (LATERAL VIEW explode-able), and their oracle hash
      scalar("text_shingles", 1, udf((t: String) => Dedup.shingles(t).toSeq.sorted)),
      scalar("shingle_hash", 1, udf((s: String) => Dedup.shingleHash(if (s == null) "" else s))),
      // minhash signature / LSH band hashes — identical to d2's columns
      scalar("minhash_sig", 1, udf((t: String) => Dedup.minhash(t))),
      scalar("simhash64", 1, udf((t: String) => Dedup.simhash(t))),
      // exact n-gram Jaccard (the d3/d6 verification kernel)
      scalar("ngram_jaccard", 2, udf((a: String, b: String) => Dedup.ngramJaccard(a, b))),
      // winnowing fingerprint (t5)
      scalar("doc_fingerprint", 1, udf((t: String) => TextOps.fingerprint(t))),
      scalar("media_meta", 1, udf(mediaMeta _))
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }
  }

  /** Media metadata from real header bytes (m1's kernel): the sniffed
    * mime plus the dimensions, channels and rate read out of the payload;
    * a null mime when no header matches. */
  private def mediaMeta(b: Array[Byte]): MediaOps.MediaMeta =
    MediaOps.sniff(b).getOrElse(MediaOps.MediaMeta(null, null, if (b == null) 0 else b.length,
      0, 0, 1, 0, 0, Array.emptyFloatArray))

  /** Registration on an existing session (tests / REPL / SQL users;
    * production sessions use
    * `spark.sql.extensions=graft.functions.GraftExtensions`). Library
    * calls build their nodes directly and never register. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` entry point — enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    ExtractSpansExpr.functions.foreach(e.injectFunction)
}
