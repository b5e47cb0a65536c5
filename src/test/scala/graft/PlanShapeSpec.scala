package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Scale-shape regression gate over EVERY `SparkEntry.queries` plan.
  *
  * The invariants that make a query survive a 100× scale-up are physical-plan
  * properties, not result properties: no cartesian product anywhere, a
  * broadcast nested-loop join only where it is the documented brute-force
  * baseline (e1), and a pinned number of shuffle exchanges. This spec pins
  * the measured plan shape of every query entry at sf0.001 (AQE off, so
  * `EnsureRequirements` materializes every exchange in `executedPlan`); any
  * future edit that silently degrades a bucketed equi-join into an all-pairs
  * join, or adds an unintended exchange, fails HERE — loudly, before a
  * benchmark ever notices.
  *
  * Caveat (documented, accepted): exchanges inside a cached subtree
  * (`InMemoryTableScan`, e.g. p1_curate's persisted parse) are not visible to
  * `plan.collect`; the pinned count is the top-level plan's. The cartesian /
  * BNLJ scan still sees every operator that ends up in THIS plan tree.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

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

  private var aqeWas: Option[String] = None

  override def beforeAll(): Unit = {
    aqeWas = try Some(spark.conf.get("spark.sql.adaptive.enabled")) catch { case _: Throwable => None }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  override def afterAll(): Unit = {
    aqeWas.foreach(v => spark.conf.set("spark.sql.adaptive.enabled", v))
    if (spark != null) spark.stop()
  }

  /** Expected shuffle-exchange count per query (measured on the round-2
    * tree, Spark 4.1.2, sf0.001, AQE off). Queries absent from this map are
    * map-only: ZERO exchanges — the parse/extract family must stay
    * single-stage. Update a pin only with a deliberate plan change. */
  private val expectedShuffles: Map[String, Int] = Map(
    "d1_dedup_exact"        -> 1, // single hash agg (map-side partials)
    "d3_minhash_pairs"      -> 2, // band explode agg + in-bucket verify
    "d5_simhash_pairs"      -> 2,
    "e1_knn_exact"          -> 1, // window rank after the broadcast NLJ
    "e2_knn_lsh"            -> 2,
    "e3_embedding_neardup"  -> 1,
    "e4_knn_ivf"            -> 1,
    "e5_ann_recall"         -> 9, // union of FIVE knn legs (pq/ivfpq: +1 window, +1 agg each) + recall aggs
    "e6_knn_pq"             -> 1, // encode + ADC explode are narrow; the per-query top-k window is the only exchange
    "e7_knn_ivfpq"          -> 1, // broadcast probe join + ADC are narrow; one top-k window
    "p1_curate"             -> 4, // quality→exact-dedup→fuzzy→lang-id stages
    "p2_curate_clustered"   -> 2, // keeper semi-join shuffles BOTH sides since the
    // path-halving rewrite: keepers come out of the halving join, so their
    // partitioning no longer lines up with doc_id. The right shape anyway —
    // keepers ≈ corpus-sized at scale, never broadcastable; cluster rounds +
    // parse still live behind checkpoint/cache.
    "q1_lineitem_agg"       -> 1,
    "q10_source_stats"      -> 1, // percentile agg: partial + one exchange
    "t10_decontaminate"     -> 3, // contam distinct + per-doc countDistinct + left join (contam side broadcasts)
    "t11_decontaminate_external" -> 3, // same chain as t10 over an external held-out frame
    "t12_novelty"           -> 2, // corpus trigram count agg + per-doc hits agg (common side broadcasts)
    "t14_vocab_topk"        -> 1, // ONE count agg (map-side partials); top-k is TakeOrdered, not a sort shuffle
    "c2_pack_blocks"        -> 1, // token arrays ride THROUGH the packing pass (no join); the one pinned exchange is the block-id agg with bounded per-group state
    "c3_interleaved_blocks" -> 1, // same shape as c2: parse+flatten narrow, c1 prefix sum eager, ONE block-id agg exchange
    // t13_chunk is map-only (0). c1_pack_sequences ALSO shows 0 here: its
    // range shuffle + offset collect run eagerly inside the query fn and
    // the returned frame scans the resulting RDD — the visible plan is the
    // narrow running-sum pass (the intended shape: ONE exchange total,
    // spent before this plan starts).
    "d8_repeated_ngrams"    -> 2, // shared-hash count agg + ONE fused per-doc agg (totals + shared counts together; hash-only shuffles)
    "a1_split_leakage"      -> 2, // EXACTLY d3's machinery (band agg + verify join);
    // split membership is a pure id function evaluated inline — zero extra exchanges
    // s4_temperature_sample shows 0 here: the stratum-count agg (one
    // exchange, stratum-cardinality rows) runs eagerly inside the op and
    // the rates come back as broadcast literals — the visible corpus plan
    // is scan + BHJ + codegen'd hash filter, exchange-free by design
    // s5_domain_cap shows 0 here for the c1 reason: its ONE candidate
    // shuffle (repartition by domain of ≤ k×partitions survivors) lives
    // in the RDD lineage behind the final ExistingRDD scan
    // t15_bpe_merges shows 0 for the s4 reason: the corpus word-count agg
    // and the K vocab-sized rounds run eagerly inside the op; the
    // returned merge table is k literal rows
    "q2_join_agg"           -> 1, // dims broadcast; one agg exchange
    "q3_window_first_event" -> 1,
    "q4_topk_revenue"       -> 1,
    "q5_no_order_customers" -> 1,
    "q8_distinct_suppliers" -> 2, // distinct + final agg
    "q9_rollup"             -> 1, // Expand + two-phase hash agg
    "x9_lineage_totals"     -> 2, // per-partition groupBy + global totals
    "xq2_xpath_descendant"  -> 1,
    "xq3_xpath_positional"  -> 1,
    "xq4_xpath_window"      -> 1,
    "xq5_xpath_spec_interp" -> 1,
    "xq6_pwp_template"      -> 1)

  /** The deliberate brute-force baseline: e1 is SUPPOSED to be a broadcast
    * nested-loop join (queries broadcast, scan once) — and must never
    * degrade further, into a cartesian. */
  private val allowedBnlj: Map[String, Int] = Map("e1_knn_exact" -> 1)

  test("every query plan: no cartesian, BNLJ only in e1, pinned shuffle count") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan
      val ops = plan.collect { case p => p.getClass.getSimpleName }
      val shuffles = ops.count(_ == "ShuffleExchangeExec")
      val cart = ops.count(_ == "CartesianProductExec")
      val bnlj = ops.count(_ == "BroadcastNestedLoopJoinExec")
      val expS = expectedShuffles.getOrElse(name, 0)
      val expB = allowedBnlj.getOrElse(name, 0)
      val errs = Seq(
        if (cart != 0) Some(s"$name: $cart CartesianProduct (all-pairs join!)") else None,
        if (bnlj != expB) Some(s"$name: $bnlj BroadcastNestedLoopJoin (expected $expB)") else None,
        if (shuffles != expS) Some(s"$name: $shuffles shuffle exchanges (pinned $expS)") else None)
      errs.flatten
    }
    assert(failures.isEmpty, failures.mkString("\n  ", "\n  ", "\n"))
  }

  test("e5 recall gate reads the corpus from ONE cached frame, not per leg") {
    // annRecall threads a single persisted embeddings frame through all
    // five legs: the top-level plan must contain NO parquet scan at all
    // (every corpus read is an InMemoryTableScan over the shared cache) —
    // the r4 shape re-scanned embeddings once per leg, 5+ scans per call.
    val plan = SparkEntry.queries("e5_ann_recall")(spark, sf)
      .queryExecution.executedPlan
    val ops = plan.collect { case p => p.getClass.getSimpleName }
    assert(ops.count(_ == "FileSourceScanExec") == 0,
      s"parquet scan escaped the e5 cache: ${ops.mkString(", ")}")
    assert(ops.count(_ == "InMemoryTableScanExec") > 0, ops.mkString(", "))
  }

  // The title names the valve's guarantee as first built: a hot bucket is
  // gated out before the collect aggregation could buffer it whole. That
  // gate is now the cap inside bucket_collect itself, so the checks below
  // pin bucket_collect(cap = maxBucket) and the absence of any join.
  test("mega-bucket valve plans a semi-join BEFORE the collect aggregation") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateFunction, CollectList}
    import graft.functions.BucketCollect
    import graft.ops.Dedup
    val sh = udf((t: String) => Dedup.simhash(t))
    val hashes = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), sh(col("text")).as("simhash"))
    def plan(maxBucket: Int) =
      Dedup.simhashPairsOf(hashes, maxBucket = maxBucket).queryExecution.executedPlan
    def aggs(maxBucket: Int): Seq[AggregateFunction] =
      plan(maxBucket).collect { case p => p.expressions.flatMap(_.collect {
        case f: AggregateFunction => f }) }.flatten
    // capped or not, every bucket goes through ONE aggregation whose
    // buffer holds at most cap + 1 items — a hot bucket is never buffered
    // whole, and no join or count pre-pass sits in front of it
    for (maxBucket <- Seq(Int.MaxValue, 1000)) {
      val fs = aggs(maxBucket)
      assert(fs.exists { case b: BucketCollect => b.cap == maxBucket; case _ => false }, fs)
      assert(!fs.exists(_.isInstanceOf[CollectList]), fs)
      assert(fs.collect { case b: BucketCollect => b.cap }.forall(_ == maxBucket), fs)
      val ops = plan(maxBucket).collect { case p => p.getClass.getSimpleName }
      assert(!ops.exists(_.contains("Join")), ops)
      assert(!ops.exists(_ == "CartesianProductExec"))
    }
  }

  test("flagship extract leg is a single stage: zero exchanges of any kind") {
    val docs = SgmlExtract.extractDf(
      SgmlExtract.wrapDocuments(spark, sf),
      SgmlExtract.Config(dialect = "html4", space = "preserve"))
    val ops = docs.queryExecution.executedPlan.collect { case p => p.getClass.getSimpleName }
    assert(!ops.exists(_.contains("Exchange")), ops.mkString(", "))
  }
}
