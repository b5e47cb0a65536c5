package perfbench

import java.io.File

/** Benchmark entry (started by perfbench/run.py):
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --launch-ms T --git C --src-digest D
  * }}}
  * Set-up: session start, corpus generation (repeated [[Setups]] times,
  * median taken) and warm-up passes. Then, untraced (`--trace 0`): passes
  * for `--seconds`, medians of the end-to-end metrics. Traced
  * (`--trace 1`): untraced and listener-traced passes, the layer ladder
  * and the workload's own stage figures, reported as per-layer metrics.
  * Prints the run record, then the result as the last stdout line. */
object Main {
  val Setups = 3
  val TracedPasses = 2
  val LadderReps = 7

  val EndToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "1/s", "mchars_per_s" -> "Mchar/s", "cpu_s_per_mdoc" -> "s",
    "peak_rss_mb" -> "MiB", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan_bytes.s" -> "s", "decode.s" -> "s",
    "tokenize.s" -> "s", "tokenize.events" -> "count",
    "tree.s" -> "s", "tree.nodes" -> "count", "tree.errors" -> "count",
    "emit.s" -> "s", "emit.spans" -> "count",
    "rowbuild.s" -> "s", "extract_spans.s" -> "s", "agg.s" -> "s",
    "kernel.docs_per_s_1t" -> "1/s", "kernel.docs_per_s_nt" -> "1/s",
    "spark.tasks" -> "count", "spark.task_ms_p50" -> "ms", "spark.task_ms_p99" -> "ms",
    "spark.run_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.idle_share" -> "share",
    "spark.shuffle_read_mb" -> "MiB", "spark.shuffle_write_mb" -> "MiB", "spark.spill_mb" -> "MiB",
    "pipeline.extract_write.s" -> "s", "pipeline.quality_exact.s" -> "s",
    "pipeline.fuzzy.s" -> "s", "pipeline.curated_write.s" -> "s", "pipeline.lineage.s" -> "s",
    "repartition.probe_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "share", "dedup.dropped_rows" -> "count",
    "dedup.valve_dropped_rows" -> "count", "pipeline.kept" -> "count",
    "trace.untraced_docs_per_s" -> "1/s", "trace.traced_docs_per_s" -> "1/s",
    "trace.overhead" -> "share", "trace.l6_docs_per_s" -> "1/s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = new File(opt("work"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val w = Workload(opt("workload"), work)

    val canaryBefore = Host.canary()
    val steal0 = Host.stealS()
    val t0 = System.nanoTime()
    val spark = Host.session(work)
    val sessionS = (System.currentTimeMillis() - opt("launch-ms").toLong) / 1e3

    // set-up: the same steps on every run
    val genS = (1 to Setups).map { g =>
      val dir = new File(work, s"corpus-$g")
      val t0 = System.nanoTime()
      w.generate(spark, dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      deleteTree(new File(work, s"corpus-${g - 1}"))
      s
    }
    val warm = Seq(w.pass(spark, 900))
    val setupS = sessionS + median(genS) + warm.map(_.wallS).sum

    val (passes, metrics, extra, problems) =
      if (!trace) {
        val start = System.nanoTime()
        val ps = scala.collection.mutable.ArrayBuffer.empty[Pass]
        while (ps.size < w.minPasses || (System.nanoTime() - start) / 1e9 < seconds) ps += w.pass(spark, ps.size)
        val m = Map(
          "docs_per_s" -> median(ps.map(_.docsPerS).toSeq),
          "mchars_per_s" -> median(ps.map(_.mcharsPerS).toSeq),
          "cpu_s_per_mdoc" -> median(ps.map(_.cpuSPerMdoc).toSeq),
          "peak_rss_mb" -> Host.peakRssMb(),
          "setup_s" -> setupS)
        (ps.toSeq, m, Map.empty[String, Any], Seq.empty[String])
      } else traced(w, spark, seconds)

    val canaryAfter = Host.canary()
    val stealShare = (Host.stealS() - steal0) / ((System.nanoTime() - t0) / 1e9 * Host.cores)
    val allProblems = (warm ++ passes).flatMap(_.problem) ++ problems
    val record = Map(
      "workload" -> w.name,
      "trace" -> trace,
      "host" -> Host.record(seed, opt("git"), opt("src-digest"), canaryBefore, canaryAfter, stealShare),
      "input" -> Map("docs" -> w.docs, "input_chars" -> w.chars),
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS,
        "warmup" -> warm.map(_.record), "setup_s" -> setupS),
      "passes" -> passes.map(_.record),
      "problems" -> allProblems,
      "metrics" -> metrics) ++ extra
    spark.stop()

    val units = (if (trace) PerLayer else EndToEnd).toMap
    val result = Map(
      "correct" -> allProblems.isEmpty,
      "attempted" -> passes.map(_.docs).sum,
      "failed" -> passes.map(_.failed).sum,
      "metrics" -> units.keys.toSeq.sorted.map(k =>
        k -> Map("value" -> metrics.getOrElse(k, 0.0), "unit" -> units(k))).toMap)
    println(Json(Map("perfbench_run" -> record)))
    println(Json(result))
    System.out.flush()
  }

  /** The traced run: untraced passes, listener-traced passes, the layer
    * ladder and the workload's own stage figures. */
  private def traced(w: Workload, spark: org.apache.spark.sql.SparkSession, seconds: Double)
      : (Seq[Pass], Map[String, Double], Map[String, Any], Seq[String]) = {
    val untraced = (0 until TracedPasses).map(k => w.pass(spark, 200 + k))
    val probe = new Probe(spark).attach()
    val mark = probe.mark()
    val traced = (0 until TracedPasses).map(k => w.pass(spark, 100 + k))
    val tasks = probe.tasksSince(mark)
    val execs = probe.execsSince(mark)
    probe.detach()
    val sparkM = Probe.summary(tasks, traced.map(_.wallS).sum)
    val (ladderM, ladder) = Layers.run(spark, w.input(spark), seconds, LadderReps)
    val (extraM, extra, problem) = w.tracedExtras(spark, execs, traced.size)
    val untracedRate = median(untraced.map(_.docsPerS))
    val tracedRate = median(traced.map(_.docsPerS))
    val levelWalls = ladder("level_wall_s").asInstanceOf[Map[String, Double]]
    val traceM = Map(
      "trace.untraced_docs_per_s" -> untracedRate,
      "trace.traced_docs_per_s" -> tracedRate,
      "trace.overhead" -> (untracedRate / tracedRate - 1),
      "trace.l6_docs_per_s" -> w.docs / levelWalls("L6"))
    val m = sparkM ++ ladderM ++ extraM ++ traceM
    (untraced ++ traced, m,
      Map("ladder" -> ladder, "untraced_passes" -> untraced.map(_.record)) ++ extra,
      problem.toSeq)
  }
}
