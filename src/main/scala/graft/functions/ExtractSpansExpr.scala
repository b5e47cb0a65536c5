package graft.functions

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, CreateNamedStruct, Expression, ExpressionInfo, GetStructField, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sgml.{ParseDriver, ParseErr, ParseResult, ParserConfig, SgmlParser, Span}
import graft.SgmlExtract

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
  * skipped entirely. The parse itself cannot be code-generated, so this
  * is a `CodegenFallback` leaf; everything around it stays in
  * whole-stage codegen.
  *
  * Reference lifecycle mirrored per SURVEY.md §3 E1 (`sgml2pl.c —
  * pl_new_sgml_parser / pl_sgml_parse` [V]) through [[ParseDriver]]: one
  * parser per thread, reset per row. A null input array yields null.
  */
case class ExtractSpansExpr(child: Expression, config: SgmlExtract.Config)
  extends UnaryExpression with CodegenFallback {

  import ExtractSpansExpr._

  override def prettyName: String = "extract_spans"

  override def dataType: DataType = OutType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(st: StructType, _)
        if st.fieldNames.contains("kind") && st.fieldNames.contains("text") &&
           st.fieldNames.contains("media_ref") && st.fieldNames.contains("offset") =>
      TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"extract_spans expects array<struct<kind,text,media_ref,offset>>, got ${other.sql}")
  }

  @transient private lazy val idx: (Int, Int, Int, Int, Int) = {
    val st = child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    (st.fieldIndex("kind"), st.fieldIndex("text"),
      st.fieldIndex("media_ref"), st.fieldIndex("offset"), st.size)
  }

  @transient private lazy val cfg: ParserConfig = config.toParserConfig

  // One driver per thread: expression instances can be shared across the
  // tasks of a local-mode executor, and the parser is stateful.
  @transient private lazy val drivers: ThreadLocal[ParseDriver] =
    ThreadLocal.withInitial(() => new ParseDriver(cfg))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return null
    drivers.get()(feed(v.asInstanceOf[ArrayData], _))(toRow)
      .fold(errorRow, identity)
  }

  // The one feed of Catalyst span rows (a typed `Doc` goes through
  // SgmlExtract.feedDoc, with the same rules). Text goes in via
  // `UTF8String.toString`: measured 5-15% faster than decoding into a
  // reused char[] (compact strings, intrinsified decoder).
  private def feed(arr: ArrayData, p: SgmlParser): Unit = {
    val (kindI, textI, refI, offI, nFields) = idx
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

  private def toRow(r: ParseResult): InternalRow = {
    val spans = r.spans(cfg)
    val spanRows = new Array[Any](spans.length)
    var j = 0
    while (j < spans.length) {
      val s = spans(j)
      spanRows(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(s.kind),
        if (s.text == null) null else UTF8String.fromString(s.text),
        if (s.media_ref == null) null else UTF8String.fromString(s.media_ref),
        s.offset))
      j += 1
    }
    val errRows = new Array[Any](r.errors.length)
    j = 0
    while (j < r.errors.length) {
      val e = r.errors(j)
      errRows(j) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(e.code), e.offset, UTF8String.fromString(e.detail)))
      j += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(spanRows), new GenericArrayData(errRows)))
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractSpansExpr =
    copy(child = newChild)
}

object ExtractSpansExpr {
  private val MediaKind = UTF8String.fromString("media")

  // the element types are the kernel's case classes, so the SQL schema
  // and the typed rows (graft.Doc / graft.Extracted) cannot drift apart
  val SpanType: StructType = Encoders.product[Span].schema
  val ErrType: StructType = Encoders.product[ParseErr].schema
  val OutType: StructType = StructType(Seq(
    StructField("spans", ArrayType(SpanType)),
    StructField("errors", ArrayType(ErrType))))

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString.toLowerCase
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be a string literal, got $other")
  }

  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(b: java.lang.Boolean, BooleanType) => b
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be a boolean literal, got $other")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: java.lang.Integer, IntegerType) => i
    case other => throw new IllegalArgumentException(
      s"extract_spans: $what must be an int literal, got $other")
  }

  private def errorRow(detail: String): InternalRow =
    new GenericInternalRow(Array[Any](
      new GenericArrayData(Array.empty[Any]),
      new GenericArrayData(Array[Any](new GenericInternalRow(Array[Any](
        UTF8String.fromString("internal-error"), 0, UTF8String.fromString(detail)))))))

  /** Builder used by the function registry: the spans plus up to five
    * literal options; omitted ones default to html4, preserve, no strip
    * and the `SgmlExtract.Config` limits. */
  def fromArgs(args: Seq[Expression]): ExtractSpansExpr = {
    if (args.isEmpty || args.length > 6) throw new IllegalArgumentException(
      "extract_spans(spans[, dialect[, space[, boilerplate[, maxErrors[, maxDocChars]]]]]) " +
        "takes 1-6 arguments")
    val arg = args.lift
    val limits = SgmlExtract.Config()
    val config = SgmlExtract.Config(
      dialect = arg(1).fold("html4")(litStr(_, "dialect")),
      space = arg(2).fold("preserve")(litStr(_, "space")),
      boilerplate = arg(3).exists(litBool(_, "boilerplate")),
      maxErrors = arg(4).fold(limits.maxErrors)(litInt(_, "maxErrors")),
      maxDocChars = arg(5).fold(limits.maxDocChars)(litInt(_, "maxDocChars")))
    config.toParserConfig // an unknown dialect or space fails at analysis
    ExtractSpansExpr(args.head, config)
  }

  /** `sgml_spans(text[, dialect[, space]])`: `extract_spans` over a
    * one-text-span array (offset 0), its `.spans`. Dialect and space are
    * literals with `extract_spans`' defaults; a parse that fails yields
    * an empty array, as `extract_spans` yields an error row. */
  def spansOfText(args: Seq[Expression]): Expression = {
    if (args.isEmpty || args.length > 3) throw new IllegalArgumentException(
      "sgml_spans(text[, dialect[, space]]) takes 1-3 arguments")
    val span = CreateNamedStruct(Seq(
      Literal("kind"), Literal("text"), Literal("text"), Cast(args.head, StringType),
      Literal("media_ref"), Literal(null, StringType), Literal("offset"), Literal(0)))
    GetStructField(fromArgs(CreateArray(Seq(span)) +: args.tail), 0)
  }

  /** The function-registry entries of the kernel, shared by `register`
    * and GraftExtensions. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("extract_spans"),
      new ExpressionInfo(classOf[ExtractSpansExpr].getName, "extract_spans"), fromArgs _),
    (FunctionIdentifier("sgml_spans"),
      new ExpressionInfo(classOf[ExtractSpansExpr].getName, "sgml_spans"), spansOfText _))

  /** Late registration on an existing session (tests / REPL convenience;
    * production sessions use `spark.sql.extensions=graft.GraftExtensions`). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `SparkSessionExtensions` entry point — enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    ExtractSpansExpr.functions.foreach(e.injectFunction)
    e.injectFunction((FunctionIdentifier("bucket_collect"),
      BucketCollect.info, BucketCollect.fromArgs _))
  }
}
