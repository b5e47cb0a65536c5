package perfbench

import java.io.File
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pipeline, SgmlExtract}
import graft.ops.{Dedup, TextOps}

/** One measured unit of work. A pass that threw or failed its gate counts
  * every doc as failed and reads 0 docs/s; it is never dropped. */
final case class Pass(docs: Long, chars: Long, wallS: Double, cpuS: Double,
    failedRows: Long, problem: Option[String]) {
  def failed: Long = if (problem.isDefined) docs else failedRows
  def docsPerS: Double = if (problem.isDefined) 0.0 else docs / wallS
  def mcharsPerS: Double = if (problem.isDefined) 0.0 else chars / wallS / 1e6
  def cpuSPerMdoc: Double = cpuS / docs * 1e6
  def record: Map[String, Any] = Map("wall_s" -> wallS, "cpu_s" -> cpuS,
    "docs" -> docs, "failed" -> failed, "problem" -> problem)
}

object Pass {
  /** Times `work` (wall and process CPU), then checks its result with
    * `gate`, which returns the internal-error row count or a problem. */
  def run[A](docs: Long, chars: Long)(work: => A)(gate: A => Either[String, Long]): Pass = {
    val c0 = Host.cpuS()
    val t0 = System.nanoTime()
    val r = try Right(work) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Host.cpuS() - c0
    r.flatMap(a => try gate(a) catch { case NonFatal(e) => Left(e) }) match {
      case Right(internal) => Pass(docs, chars, wall, cpu, internal, None)
      case Left(e: Throwable) =>
        Pass(docs, chars, wall, cpu, docs, Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
      case Left(msg) => Pass(docs, chars, wall, cpu, docs, Some(s"gate: $msg"))
    }
  }

  /** Compares named figures; a mismatch names every figure that differs. */
  def expect(got: Seq[(String, Long)], want: Seq[(String, Long)]): Either[String, Unit] = {
    val bad = got.zip(want).collect {
      case ((n, g), (_, w)) if g != w => s"$n=$g (expected $w)"
    }
    if (bad.isEmpty) Right(()) else Left(bad.mkString(", "))
  }
}

abstract class Workload(val name: String) {
  /** Writes this run's inputs for `seed` under the fresh directory `dir`. */
  def generate(spark: SparkSession, dir: File, seed: Long): Unit
  def docs: Long
  def chars: Long
  /** The contract table the program reads: (doc_id, spans). */
  def input(spark: SparkSession): DataFrame
  /** One measured unit of work with its gate. */
  def pass(spark: SparkSession, i: Int): Pass
  /** Fewest measured passes of an untraced run. */
  def minPasses: Int = 2
  /** Per-layer figures only this workload has (traced run). The passes'
    * root SQL executions are given for call-site attribution. */
  def tracedExtras(spark: SparkSession, execs: Seq[Probe.Exec], passes: Int)
      : (Map[String, Double], Map[String, Any], Option[String]) =
    (Map.empty, Map.empty, None)
}

object Workload {
  val Cfg: SgmlExtract.Config = SgmlExtract.Config(dialect = "html4", space = "preserve")

  def apply(name: String, work: File): Workload = name match {
    case "extract_small" => new ExtractSmall
    case "extract_markup" => new ExtractMarkup
    case "curate" => new Curate(work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

/** Extraction over a contract table, then one aggregate over the result. */
abstract class ExtractWorkload(name: String) extends Workload(name) {
  protected var path: String = _

  def input(spark: SparkSession): DataFrame = {
    val bytes = new File(path).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      math.max(1L << 20, bytes / (Host.cores * 4L)).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    spark.read.parquet(path).select("doc_id", "spans")
  }

  /** Aggregates computed over `extractDf`'s output in the measured action. */
  protected def stats: Seq[(String, String)]
  protected def gate(got: Map[String, Long]): Either[String, Unit]

  def pass(spark: SparkSession, i: Int): Pass = {
    val in = input(spark)
    Pass.run(docs, chars) {
      val row = SgmlExtract.extractDf(in, Workload.Cfg)
        .agg(count(lit(1)), stats.map { case (_, e) => sum(expr(e)) }: _*).first()
      ("docs" +: stats.map(_._1)).zipWithIndex.map { case (n, k) => n -> row.getLong(k) }.toMap
    } { got => gate(got).map(_ => got("internal_errors")) }
  }
}

object ExtractWorkload {
  def ofKind(k: String, what: String): String = what match {
    case "runs" => s"size(filter(spans, s -> s.kind = '$k'))"
    case "chars" => s"aggregate(filter(spans, s -> s.kind = '$k'), 0L, (a, s) -> a + length(s.text))"
  }
  def code(c: String): String = s"size(filter(errors, e -> e.code = '$c'))"
}

/** `extract_small`: ~1M short docs; per-doc fixed costs dominate. */
final class ExtractSmall extends ExtractWorkload("extract_small") {
  import ExtractWorkload._
  private var truth: SmallCorpus.Truth = _

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    truth = SmallCorpus.generate(spark, dir, seed)
    path = new File(dir, "docs").getPath
  }
  def docs: Long = truth.docs
  def chars: Long = truth.inputChars

  protected val stats: Seq[(String, String)] = Seq(
    "spans" -> "size(spans)",
    "docs_not_3_spans" -> "if(size(spans) = 3, 0, 1)",
    "text_chars" -> ofKind("text", "chars"),
    "errors" -> "size(errors)",
    "internal_errors" -> code("internal-error"))

  /** 3 spans (text, tail, media), text = raw + tail, no errors — derived
    * from the raw texts and the `SgmlExtract.Marked*` constants. */
  protected def gate(got: Map[String, Long]): Either[String, Unit] = Pass.expect(
    Seq("docs", "spans", "docs_not_3_spans", "text_chars", "errors").map(k => k -> got(k)),
    Seq("docs" -> truth.docs, "spans" -> 3 * truth.docs, "docs_not_3_spans" -> 0L,
      "text_chars" -> (truth.rawChars + SgmlExtract.MarkedTailText.length * truth.docs),
      "errors" -> 0L))
}

/** `extract_markup`: ~16k markup-dense docs with a heavy size tail; the
  * kernel (tokenize, tree, emit) dominates. */
final class ExtractMarkup extends ExtractWorkload("extract_markup") {
  import ExtractWorkload._
  private var truth: MarkupCorpus.Truth = _

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    truth = MarkupCorpus.generate(spark, dir, seed)
    path = new File(dir, "docs").getPath
  }
  def docs: Long = truth.docs
  def chars: Long = truth.inputChars

  private val figures: Seq[(String, String)] = Seq(
    "t_text_runs" -> ofKind("text", "runs"),
    "t_text_chars" -> ofKind("text", "chars"),
    "t_cdata_runs" -> ofKind("cdata", "runs"),
    "t_cdata_chars" -> ofKind("cdata", "chars"),
    "t_media" -> ofKind("media", "runs"),
    "t_entities" -> ofKind("entity", "runs")) ++
    MarkupCorpus.Codes.map(c => "t_" + c.replace('-', '_') -> code(c))

  protected val stats: Seq[(String, String)] = figures ++ Seq(
    "errors" -> "size(errors)",
    "internal_errors" -> code("internal-error"))

  /** Every figure equals the generator's count; no error beyond the
    * planted ones. */
  protected def gate(got: Map[String, Long]): Either[String, Unit] = {
    val planted = MarkupCorpus.Codes.map(c => truth.totals("t_" + c.replace('-', '_'))).sum
    Pass.expect(
      ("docs" +: "errors" +: figures.map(_._1)).map(k => k -> got(k)),
      ("docs" -> truth.docs) +: ("errors" -> planted) +:
        figures.map { case (k, _) => k -> truth.totals(k) })
  }
}

/** `curate`: `Pipeline.run` (partitions = nproc, resume off) into a fresh
  * output directory per pass. */
final class Curate(work: File) extends Workload("curate") {
  private var truth: CurateCorpus.Truth = _
  private var path: String = _
  val cfg: Pipeline.Config = Pipeline.Config(partitions = Host.cores)

  def generate(spark: SparkSession, dir: File, seed: Long): Unit = {
    truth = CurateCorpus.generate(spark, dir, seed)
    path = new File(dir, "docs").getPath
  }
  def docs: Long = truth.docs
  def chars: Long = truth.inputChars
  def input(spark: SparkSession): DataFrame = spark.read.parquet(path).select("doc_id", "spans")
  /** Three, so the median skips the first pass after warm-up, which is
    * still slower by 5-15%. */
  override def minPasses: Int = 3

  private def out(i: Int) = new File(work, s"curate-out-$i")

  def pass(spark: SparkSession, i: Int): Pass = {
    val p = Pass.run(docs, chars) {
      Pipeline.run(spark, path, out(i).getPath, cfg, runId = s"pass-$i", resume = false)
    } { _ => gate(spark, out(i).getPath) }
    if (i != KeepPass) Main.deleteTree(out(i))
    p
  }

  /** The traced run keeps this pass's output for the stage replay. */
  val KeepPass = -1

  /** Extract keeps every doc, curated keeps exactly the base docs, the
    * lineage extract rows sum to the input and the valve row reads 0. */
  private def gate(spark: SparkSession, o: String): Either[String, Long] = {
    val ex = spark.read.parquet(s"$o/extracted")
      .agg(count(lit(1)), sum(expr(ExtractWorkload.code("internal-error")))).first()
    val curated = spark.read.parquet(s"$o/curated").count()
    val lin = spark.read.parquet(s"$o/lineage")
    val linDocs = lin.where(col("stage") === "extract").agg(sum(col("docs"))).first().getLong(0)
    val cap = lin.where(col("stage") === "fuzzy_dedup_cap")
      .agg(count(lit(1)), coalesce(sum(col("dropped_rows")), lit(0L))).first()
    Pass.expect(
      Seq("extracted" -> ex.getLong(0), "lineage_docs" -> linDocs, "curated" -> curated,
        "cap_rows" -> cap.getLong(0), "valve_dropped_rows" -> cap.getLong(1)),
      Seq("extracted" -> truth.docs, "lineage_docs" -> truth.docs, "curated" -> truth.kept,
        "cap_rows" -> 1L, "valve_dropped_rows" -> 0L)).map(_ => ex.getLong(1))
  }

  /** Stage times of the real runs, keyed by call site: the whale probe's
    * collect in SgmlExtract.scala, then Pipeline.scala's three writes in
    * call order (extracted, curated, lineage). Then a replay of the stage
    * boundaries over the kept pass's extracted product with the public
    * operators (`TextOps.withQuality`, `Dedup.bandsOf`,
    * `Dedup.verifiedPairsFromBands`, `Pipeline.dropAudit`) for the
    * quality/exact and fuzzy split, the dedup counts and the funnel gate. */
  override def tracedExtras(spark: SparkSession, execs: Seq[Probe.Exec], passes: Int)
      : (Map[String, Double], Map[String, Any], Option[String]) = {
    def perPass(xs: Seq[Probe.Exec]) = xs.map(_.wallS).sum / passes
    val probeS = perPass(execs.filter(_.callSite.contains("SgmlExtract.scala")))
    val writes = execs.filter(_.callSite.contains("Pipeline.scala"))
    val sites = writes.map(_.callSite).distinct
    def site(k: Int) = perPass(writes.filter(e => sites.lift(k).contains(e.callSite)))

    val o = out(KeepPass).getPath
    val kept = pass(spark, KeepPass)
    val extracted = spark.read.parquet(s"$o/extracted").drop("__pid")
    val texts = extracted.select(col("doc_id"),
      expr("aggregate(spans, '', (acc, sp) -> acc || sp.text)").as("text"),
      size(col("errors")).as("n_errors"))
    val quality = TextOps.withQuality(texts)
      .filter(col("is_quality") && col("n_errors") === 0).select("doc_id", "text").persist()
    val exact = quality
      .withColumn("__rn", row_number().over(Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn").persist()
    val t0 = System.nanoTime()
    val nIn = extracted.count()
    val nQuality = quality.count()
    val nExact = exact.count()
    val t1 = System.nanoTime()
    val pairs = Dedup.verifiedPairsFromBands(Dedup.bandsOf(exact, "doc_id", "text"), exact,
      "doc_id", "text", cfg.minJaccard, cfg.maxBucket).persist()
    val nVerified = pairs.count()
    val nKept = exact.join(pairs.select(col("id_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      .count()
    val t2 = System.nanoTime()
    val ids = Dedup.bandsOf(exact, "doc_id", "text")
      .groupBy("band", "band_hash").agg(collect_list(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
    val nCandidates = ids.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b")).where(col("a") < col("b"))
      .distinct().count()
    val valve = Pipeline.dropAudit(extracted, cfg).first().getAs[Long]("dropped_rows")
    val curated = spark.read.parquet(s"$o/curated").count()
    Seq(pairs, exact, quality).foreach(_.unpersist())
    Main.deleteTree(out(KeepPass))

    val funnel = Seq(
      ("extract", truth.docs, nIn, truth.docs),
      ("quality", nIn, nQuality, truth.qualityKept),
      ("exact", nQuality, nExact, truth.exactKept),
      ("fuzzy", nExact, nKept, truth.kept))
    val bad = funnel.collect { case (s, _, got, want) if got != want => s"$s kept $got (expected $want)" } ++
      kept.problem.toSeq ++ (if (curated != truth.kept) Seq(s"curated $curated") else Nil) ++
      (if (nVerified < truth.variants) Seq(s"verified pairs $nVerified < variants ${truth.variants}") else Nil)
    val metrics = Map(
      "repartition.probe_s" -> probeS,
      "pipeline.extract_write.s" -> site(0),
      "pipeline.curated_write.s" -> site(1),
      "pipeline.lineage.s" -> site(2),
      "pipeline.quality_exact.s" -> (t1 - t0) / 1e9,
      "pipeline.fuzzy.s" -> (t2 - t1) / 1e9,
      "dedup.candidate_pairs" -> nCandidates.toDouble,
      "dedup.verified_pairs" -> nVerified.toDouble,
      "dedup.verify_yield" -> (if (nCandidates > 0) nVerified.toDouble / nCandidates else 0.0),
      "dedup.dropped_rows" -> (nExact - nKept).toDouble,
      "dedup.valve_dropped_rows" -> valve.toDouble,
      "pipeline.kept" -> curated.toDouble)
    val detail = Map(
      "call_sites" -> sites,
      "funnel" -> funnel.map { case (s, in, k, want) =>
        Map("stage" -> s, "in" -> in, "kept" -> k, "dropped" -> (in - k), "expected_kept" -> want) },
      "truth" -> Map("bases" -> truth.bases, "copies" -> truth.copies,
        "variants" -> truth.variants, "junk" -> truth.junk, "broken" -> truth.broken))
    (metrics, detail, if (bad.isEmpty) None else Some(bad.mkString("; ")))
  }
}
