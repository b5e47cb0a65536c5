package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Benchmark main (driver contract): prints ONE JSON line
  * `{"metric":…,"value":N,"unit":"sec","queries":{…},"sf":…}`.
  *
  * Headline: end-to-end parse+extract throughput (docs/sec) on the
  * interleaved text+media corpus (BASELINE.json metric), measured over an
  * amplified deterministic corpus so the kernel dominates scheduling
  * overhead.
  */
object Bench {

  private def session(cpus: String): SparkSession = {
    val b = SparkSession.builder()
    // respect -Dspark.master (e.g. local-cluster[4,8,8192] — real executor
    // JVMs, the multi-executor scaling evidence); default in-process local[cpus]
    if (!sys.props.contains("spark.master")) b.master(s"local[$cpus]")
    else if (sys.props("spark.master").startsWith("local-cluster")) {
      // executors are separate JVMs: ship our code + size them honestly
      val jar = classOf[SgmlExtract.Config].getProtectionDomain
        .getCodeSource.getLocation.toString
      b.config("spark.jars", jar)
      val execCores = sys.props("spark.master") // local-cluster[n,cores,mem]
        .split("[\\[\\],]")(2).trim
      b.config("spark.executor.extraJavaOptions",
        s"-XX:+UseParallelGC -XX:ActiveProcessorCount=$execCores")
    }
    val s = b
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Deterministic amplified corpus: each doc replicated `amp` times with
    * distinct doc_ids (same payload → same parse work). */
  def benchCorpus(spark: SparkSession, sfDir: String, amp: Int): DataFrame = {
    // documents.parquet is a single file → 1-2 scan partitions; spread the
    // base rows across the cores BEFORE amplification (tiny shuffle of the
    // 5k base docs) so the parse stage actually uses the cluster — same
    // move as explicit repartitioning after a skinny Iceberg scan at prod
    // scale. amp× amplification then happens in parallel per partition.
    val p = spark.sparkContext.defaultParallelism * 3
    SgmlExtract.wrapDocumentsMarked(spark, sfDir)
      .repartition(p)
      .withColumn("rep", explode(sequence(lit(0), lit(amp - 1))))
      .select(concat(col("doc_id"), lit("_"), col("rep")).as("doc_id"), col("spans"))
  }

  /** Materialize the amplified corpus ONCE as parquet (128 files — fixed,
    * so BOTH scaling levels read the identical input; at prod scale the
    * corpus is at rest in Iceberg, so generation is not part of the
    * measured job). Returns the corpus path. */
  def ensureCorpus(spark: SparkSession, sfDir: String, amp: Int): String = {
    val path = s"/tmp/graft_bench/corpus_${new java.io.File(sfDir).getName}_amp$amp"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      benchCorpus(spark, sfDir, amp).repartition(128)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  /** One timed extraction pass over the at-rest corpus;
    * returns (docs, spanRows, seconds). Uses the columnar expression
    * path (`extractDf`) — the 100 TB production shape. */
  def extractionRun(spark: SparkSession, sfDir: String, amp: Int): (Long, Long, Double) = {
    val path = ensureCorpus(spark, sfDir, amp)
    // Size input splits to the parallelism level: target ≥4 splits per
    // core so the scan stage can use every core (the default 128 MB +
    // 4 MB open-cost coalesces a small corpus into a handful of splits —
    // at 100 TB this is moot, but the proxy must exercise the same
    // parallelism the real cluster would see).
    val bytes = new java.io.File(path).listFiles().map(_.length()).sum
    // SPARK_GRAFT_CPUS is the authoritative level: right after a
    // local-cluster context starts, defaultParallelism can report a low
    // value until executors register.
    val cores = math.max(spark.sparkContext.defaultParallelism,
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val splitTarget = math.max(1L << 20, bytes / (cores * 4L))
    spark.conf.set("spark.sql.files.maxPartitionBytes", splitTarget.toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    val docs = spark.read.parquet(path)
    val cfg = SgmlExtract.Config(dialect = "html4", space = "preserve")
    val t0 = System.nanoTime()
    val agg = SgmlExtract.extractDf(docs, cfg)
      .select(size(col("spans")).as("n"))
      .agg(count(lit(1)), sum(col("n"))).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    (agg.getLong(0), agg.getLong(1), secs)
  }

  /** Fixed single-thread CPU-bound loop (FNV-1a fold over a counter),
    * timed — the host-contention canary. Run before and after the suite:
    * on an uncontended box both times land near the same value (~0.2 s on
    * this class of core); a noisy-neighbor episode inflates whichever
    * side overlapped it. Emitted as a `calibration` field so a contended
    * run is machine-detectable IN the JSON, not just by cross-round
    * comparison (the r2/r3 driver-bench regression clusters were exactly
    * such episodes — both bisected clean in fresh JVMs). */
  private def calibrationSecs(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.print("") // defeat dead-code elimination
    secs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val amp = sys.env.getOrElse("SPARK_GRAFT_AMP", "20").toInt

    if (args.headOption.contains("extract")) { runExtractOnly(sfDir, amp); return }
    if (args.headOption.contains("gen")) { // corpus generation only (excluded from timing)
      val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      ensureCorpus(spark, sfDir, amp); spark.stop(); return
    }
    if (args.headOption.contains("skew")) { runSkew(sfDir); return }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val calPre = calibrationSecs()

    // headline: parse+extract throughput (1 warm-up, 1 measured)
    extractionRun(spark, sfDir, math.max(1, amp / 4)) // warm-up (JIT, DTD)
    val (docs, _, secs) = extractionRun(spark, sfDir, amp)
    results += "x0_extract" -> secs
    System.err.println(f"[bench] extract: $docs docs in $secs%.2f s = ${docs / secs}%.0f docs/s")

    // Per-query latency is STEADY-STATE: one untimed warm-up run compiles
    // the plan's whole-stage codegen (JIT of generated classes is a per-JVM
    // one-time cost — measured 13.6 s cold vs 3.0 s warm on d3 — and a
    // long-lived 100 TB job amortizes it to zero), then best-of-2 measured
    // runs is reported (this shared box injects multi-second one-off
    // stalls; min-of-trials estimates uncontended latency). Protocol
    // documented in BENCH/BASELINE.md.
    // SPARK_GRAFT_QUERIES: comma-separated name prefixes — run a subset in
    // a fresh JVM (the bisect tool for suite-level interference; leave
    // unset for the full driver-contract suite)
    val keep: String => Boolean = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(q) =>
        val prefixes = q.split(",").map(_.trim).filter(_.nonEmpty)
        name => prefixes.exists(name.startsWith)
      case None => _ => true
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val contended = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keep(name) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).count() // warm-up: codegen compile + page cache
          def trial(): Double = {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            (System.nanoTime() - t0) / 1e9
          }
          // best-of-2, plus ONE re-run when the trial spread exceeds 2× —
          // a spread that wide is a contention stall, not steady-state
          // variance, and the re-run usually lands next to the min. A
          // query whose spread stays >2× even with the third trial is
          // flagged `contended` in the JSON (machine-readable marker).
          var trials = List(trial(), trial())
          if (trials.max / trials.min > 2.0) trials ::= trial()
          if (trials.max / trials.min > 2.0) contended += name
          results += name -> trials.min
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e")
            failed += name
            results += name -> -1.0 // sentinel: failed (excluded from total)
        }
      }
    val calPost = calibrationSecs()

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // a failed query must never SHRINK the headline: total sums successes
    // only, and the failure list rides the JSON so a non-green run is
    // distinguishable downstream, not just on stderr
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contJson = contended.map("\"" + _ + "\"").mkString("[", ",", "]")
    val cal = f""""calibration":{"pre_sec":$calPre%.3f,"post_sec":$calPost%.3f}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","failed":$failedJson%s,"contended":$contJson%s,$cal%s,"queries":$qs%s,"sf":"$sfDir%s"}""")
    spark.stop()
  }

  /** One parallelism level in THIS JVM — the clean per-level measurement
    * for the scaling protocol (run once with SPARK_GRAFT_CPUS=8, once
    * with 32, in separate JVMs; BASELINE.md). */
  private def runExtractOnly(sfDir: String, amp: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    // warm-up on the SAME corpus: populates page cache + JIT so the
    // measured runs see steady-state I/O (the 100 TB analogue is a long
    // job far past its cold start)
    extractionRun(spark, sfDir, amp)
    // best-of-5: the sandbox is a shared VM (transient steal-time spikes
    // measured up to 5%); max-of-trials estimates uncontended throughput
    val tp = (1 to 5).map { _ =>
      val (docs, _, secs) = extractionRun(spark, sfDir, amp)
      docs / secs
    }.max
    println(f"""{"metric":"docs_per_sec","value":$tp%.0f,"unit":"docs/sec","queries":{"cpus":$cpus%s},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Skew demo (SURVEY.md §7 step 5; north rule "skew handled
    * explicitly"): corpus of small docs + whale docs (~0.5 MB markup
    * each). Compare extract wall-time when docs are hash-partitioned by
    * doc_id (whales collide into shared tasks) vs size-aware whale
    * round-robin isolation. Prints one JSON line with both times and the
    * speedup. */
  private def runSkew(sfDir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    import org.apache.spark.sql.functions._
    val n = cpus.toInt
    val cfg = SgmlExtract.Config(dialect = "html4", space = "preserve")

    // deterministic skewed corpus: 5k small docs + 2*cpus whales of
    // ~16 MB markup each. Whale doc_ids are CHOSEN to hash-collide into a
    // quarter of the partitions — the demo measures the TAIL case that
    // the size-aware bound removes (with uniformly-hashing ids the two
    // placements measure ≈1.0× on this box: hash placement of 2P whales
    // over P partitions is usually balanced enough, and isolation is
    // INSURANCE against exactly this tail, costing one id-only scan —
    // both numbers reported in BENCH/BASELINE.md). Build via repeat() so
    // the plan carries a short literal, not a 16 MB one.
    import spark.implicits._
    val para = "<p>" + ("lorem ipsum dolor sit amet " * 20) // ~540 chars
    val collidingIds: Array[String] = spark.range(0, 200000)
      .select(concat(lit("w"), col("id")).as("doc_id"))
      .withColumn("p", pmod(hash(col("doc_id")), lit(n))) // = naive placement
      .filter(col("p") < math.max(1, n / 4))
      .limit(2 * n).select("doc_id").as[String].collect()
    val small = SgmlExtract.contractRows(
      spark.range(0, 5000).select(concat(lit("s"), col("id")).as("doc_id"), col("id")),
      concat(lit("<html><body><p>doc "), col("id"), lit("</p></body></html>")))
    val whales = SgmlExtract.contractRows(collidingIds.toSeq.toDF("doc_id"),
      concat(lit("<html><body>"), repeat(lit(para), 30000), lit("</body></html>")))
    val corpus = small.union(whales)
    corpus.write.mode("overwrite").parquet("/tmp/graft_bench/skew_corpus")
    val docs = spark.read.parquet("/tmp/graft_bench/skew_corpus")

    // Measure the PARSE STAGE over data already placed — the leg that
    // placement controls, and the production-relevant one (at scale the
    // corpus lives placed at rest in bucketed Iceberg; the exchange is a
    // one-time cost, not per-query). Timing placement+parse end-to-end
    // buries the effect: the ~1 GB exchange costs the same on both legs
    // and its GC noise swings several seconds run-to-run (measured; the
    // parse-stage split below is stable).
    // wall time AND the per-task duration distribution of the parse
    // stage (SparkListener over the timed action only): the p99/max task
    // time is the quantitative skew evidence — a whale-loaded task is the
    // straggler that pins a 1000-executor stage, and the size-aware bound
    // must show up as a BOUNDED tail, not just a better mean
    def parseTime(df: org.apache.spark.sql.DataFrame): (Double, Array[Long]) = {
      val c = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.count() // materialize the placement
      val durs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskInfo != null) durs.add(te.taskInfo.duration)
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SgmlExtract.extractDf(c, cfg)
        .select(size(col("spans")).as("s")).agg(sum(col("s"))).collect()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // bench-only: let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      c.unpersist(blocking = true)
      import scala.jdk.CollectionConverters._
      (secs, durs.asScala.map(_.toLong).toArray)
    }
    def pct(a: Array[Long], p: Double): Long =
      if (a.isEmpty) 0L
      else {
        val s = a.sorted // nearest-rank percentile
        s(math.max(0, math.min(s.length - 1, math.ceil(p * s.length).toInt - 1)))
      }
    // AQE off for this comparison: we are demonstrating OUR explicit
    // placement, not AQE's skew splitting (which only helps join/agg
    // shuffles, not an opaque parse stage anyway)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the DETERMINISTIC part of the claim: max whales on one task —
    // placement is what sizeAwareRepartition controls, and the bound is
    // reproducible when wall times on a shared box are not
    def maxLoad(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("pid", spark_partition_id())
        .filter(col("doc_id").startsWith("w"))
        .groupBy("pid").count()
        .agg(max(col("count"))).collect()(0).getLong(0)
    val naiveLoad = maxLoad(docs.repartition(n, col("doc_id")))
    val saltedLoad = maxLoad(SgmlExtract.sizeAwareRepartition(docs, n, whaleChars = 100000))
    parseTime(docs.repartition(n, col("doc_id"))) // warm-up (JIT + page cache)
    val trials = (1 to 3).map { _ =>
      val nv = parseTime(docs.repartition(n, col("doc_id")))
      val sa = parseTime(SgmlExtract.sizeAwareRepartition(docs, n, whaleChars = 100000))
      (nv, sa)
    }
    // best-of wall (uncontended estimate); task distribution of that trial
    val (naive, naiveTasks) = trials.map(_._1).minBy(_._1)
    val (salted, saltedTasks) = trials.map(_._2).minBy(_._1)
    println(f"""{"metric":"skew_speedup","value":${naive / salted}%.2f,"unit":"x","queries":{"naive_hash_sec":$naive%.2f,"size_aware_sec":$salted%.2f,"whales":${2 * n},"naive_max_whales_per_task":$naiveLoad,"salted_max_whales_per_task":$saltedLoad,"naive_task_p50_ms":${pct(naiveTasks, 0.5)},"naive_task_p99_ms":${pct(naiveTasks, 0.99)},"naive_task_max_ms":${pct(naiveTasks, 1.0)},"salted_task_p50_ms":${pct(saltedTasks, 0.5)},"salted_task_p99_ms":${pct(saltedTasks, 0.99)},"salted_task_max_ms":${pct(saltedTasks, 1.0)},"tasks":${naiveTasks.length}},"sf":"$sfDir"}""")
    spark.stop()
  }
}
