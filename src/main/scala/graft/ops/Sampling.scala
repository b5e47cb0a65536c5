package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deterministic sampling operators — the downsample primitives a 100 TB
  * training-data pipeline needs before anything else runs: cut the corpus
  * to a target size per stratum (stratified) or overall (uniform) with a
  * seedable, restart-stable decision per row.
  *
  * Scale shape: the keep/drop decision is a closed-form hash of the row
  * key — a narrow, codegen'd filter evaluated at the scan, no shuffle, no
  * RNG state, no driver participation. Re-running the job (or resuming a
  * failed one) selects the exact same rows, which `rand()`-based sampling
  * cannot guarantee across task retries. The same arithmetic is
  * re-computable in ANSI SQL, so the DuckDB oracle checks values, not just
  * row counts.
  */
object Sampling {

  /** Closed-form per-row hash → bucket in [0, 1000). `doc_id` is reduced
    * mod a ~2^20 prime FIRST so the multiply never overflows a signed
    * 64-bit value — Spark and DuckDB BIGINT then agree bit-for-bit at any
    * id magnitude. Knuth multiplicative constant; P prime > 2^32. */
  val IdM: Long = 1299709L
  val HashK: Long = 2654435761L
  val HashP: Long = 4294967311L

  def bucket1000(id: Column): Column =
    pmod(pmod(id, lit(IdM)) * lit(HashK), lit(HashP)) % 1000

  /** Stratified sample of a (doc_id, source) frame: per-source keep rates
    * (permille), decided per row from `bucket1000(doc_id)`. The rate rule
    * is itself closed-form on the stratum name so the oracle can replay
    * it; a production caller passes an explicit rate map instead. */
  def stratifiedSample(d: DataFrame): DataFrame = {
    // stratum 'srcN' → rate 100 + (N mod 5) * 200 permille (100..900)
    val srcNum = substring(col("source"), 4, 10).cast("long")
    val rate = lit(100) + pmod(srcNum, lit(5)) * 200
    d.select(col("doc_id"), col("source"),
        bucket1000(col("doc_id")).as("bucket"), rate.cast("long").as("rate_permille"))
      .filter(col("bucket") < col("rate_permille"))
  }

  /** Uniform fixed-size sample: the k rows with the smallest row hash —
    * a deterministic reservoir. Spark plans order-by + limit as
    * TakeOrderedAndProject: a per-partition top-k heap merged on the
    * driver, O(k) memory, NO global sort and no shuffle exchange. */
  def uniformSample(d: DataFrame, k: Int): DataFrame =
    d.select(col("doc_id"), bucket1000(col("doc_id")).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(k)

  /** Deterministic train/val/test split assignment — the canonical
    * pre-training partition: each row's bucket (closed-form hash, same
    * restart-stability argument as the samplers) falls into cumulative
    * permille ranges, so membership is a narrow codegen'd CASE at the
    * scan — no shuffle, no RNG, stable under retries/repartition, and a
    * row can never land in two splits. `splits` are (name, permille)
    * pairs; they must sum to ≤1000 (rows past the last threshold get the
    * final name — pass an explicit remainder split to make that
    * visible). */
  def withSplit(d: DataFrame, idCol: String = "doc_id",
      splits: Seq[(String, Int)] =
        Seq(("train", 900), ("val", 50), ("test", 50))): DataFrame =
    d.withColumn("split", splitExpr(col(idCol), splits))

  /** The split CASE as a standalone Column — split membership is a pure
    * function of the id, so consumers that already have ids in hand
    * (e.g. the leakage audit over near-dup pairs) evaluate it inline
    * with ZERO extra joins instead of joining an assignment table. */
  def splitExpr(id: Column,
      splits: Seq[(String, Int)] =
        Seq(("train", 900), ("val", 50), ("test", 50))): Column = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      splits.map(_._2).sum <= 1000,
      s"split permilles must be >= 0 and sum to <= 1000: $splits")
    val b = bucket1000(id)
    val thresholds = splits.scanLeft(0)(_ + _._2).tail // cumulative uppers
    splits.init.zip(thresholds.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), upper)) =>
        when(b < upper, name).otherwise(acc)
      }
  }

  /** Temperature-based stratum rebalancing — the multilingual-mixing op:
    * keep rates per stratum proportional to n^α with α = 1/2, so rare
    * strata (languages, sources) are upweighted relative to their natural
    * share while the expected kept total stays at `targetPermille`‰ of
    * the corpus. Rates are INTEGER-EXACT: the stratum weight is
    * floor(sqrt(n)) — IEEE sqrt of an exactly-representable integer is
    * correctly rounded and sits far outside half-ulp of the next integer
    * for any n below ~2^40, so Scala and DuckDB agree bit-for-bit — and
    * the rate arithmetic is BigInt division ≡ HUGEINT `//`, never a
    * lossy double.
    *
    * Scale shape: ONE count agg over the stratum column (map-side
    * partials), whose result is collected driver-side — bounded by
    * STRATUM CARDINALITY (languages/sources: tens, not rows — the same
    * bounded-collect contract as the ANN fit sample); rates become plain
    * literals and ship back as a broadcast hash join, so the corpus-side
    * plan is scan + BHJ + codegen'd hash filter with ZERO exchanges
    * (PlanShapeSpec-pinned). The keep decision is the same closed-form
    * `bucket1000` filter as every sampler here — restart- and
    * retry-stable, no RNG.
    *
    * Capped at 1000‰: a stratum whose fair share exceeds its size keeps
    * everything (the cap is where α-sampling meets reality — you cannot
    * upsample what you do not have; epoch-repeat is the trainer's job). */
  def withTemperatureRates(d: DataFrame, idCol: String, stratumCol: String,
      targetPermille: Int = 500): DataFrame = {
    require(targetPermille >= 0 && targetPermille <= 1000,
      s"targetPermille must be in [0, 1000], got $targetPermille")
    val spark = d.sparkSession
    val stratumField = d.schema(stratumCol)
    val counts = d.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_stratum"))
      .collect().map(r => (r.get(0), r.getLong(1)))
    // the rate join below would drop null-stratum rows after they had
    // diluted every other stratum's rate
    counts.find(_._1 == null).foreach { case (_, n) =>
      throw new IllegalArgumentException(
        s"withTemperatureRates: stratum column '$stratumCol' has $n null rows")
    }
    val w = counts.map { case (_, n) => math.sqrt(n.toDouble).toLong }
    val sumW = BigInt(w.sum)
    val nTotal = BigInt(counts.map(_._2).sum)
    val rateRows = counts.zip(w).map { case ((s, n), ws) =>
      val rate = // exact: BigInt floor division ≡ DuckDB HUGEINT //
        if (sumW == 0) 0L
        else (BigInt(targetPermille) * ws * nTotal / (sumW * n))
          .min(BigInt(1000)).toLong
      Row(s, n, ws, rate)
    }
    val rates = spark.createDataFrame(
      spark.sparkContext.parallelize(rateRows.toSeq, 1),
      StructType(Seq(
        stratumField,
        StructField("n_stratum", LongType, nullable = false),
        StructField("w_stratum", LongType, nullable = false),
        StructField("rate_permille", LongType, nullable = false))))
    d.join(broadcast(rates), Seq(stratumCol))
      .withColumn("bucket", bucket1000(col(idCol)))
      .filter(col("bucket") < col("rate_permille"))
  }

  /** Per-domain cap — keep at most `k` docs per domain/source (the
    * C4 / web-corpus step that stops boilerplate-heavy giant hosts from
    * dominating the mix). The kept set is EXACT and deterministic: the k
    * rows with the smallest `bucket1000(id)` hash (ties by id) within
    * each domain — equivalent to a row_number window, which is how the
    * oracle replays it.
    *
    * Scale shape — deliberately NOT that window: a window partitioned by
    * domain shuffles the whole corpus and funnels each domain through
    * one task, and giant domains are precisely the rows this op exists
    * to tame (the skew bomb). Instead, exact two-phase top-k (the
    * knnPq heap shape): a narrow per-partition pass keeps a worst-at-
    * head k-heap PER DOMAIN (combiner-bounded state: domains-in-
    * partition × k ids), so the ONE shuffle moves at most k × partitions
    * survivors per domain — candidate rows, never the corpus — and a
    * sort-within-partition + running counter assigns final ranks. A
    * domain with a billion pages costs what a domain with k pages costs
    * after the first pass. Output is (domain, id, h, rank ≤ k); callers
    * keep full rows with a semi-join on the id (broadcast-able whenever
    * domains × k is — by construction it is the SMALL side). */
  def withDomainCap(d: DataFrame, idCol: String = "doc_id",
      domainCol: String = "source", k: Int = 20): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = d.sparkSession
    val sel = d.select(col(domainCol), col(idCol).cast(LongType).as(idCol))
      .withColumn("h", bucket1000(col(idCol)))
    val schema = sel.schema
    // worst-at-head: the LARGEST (h, id) sits at the head for eviction
    val worstFirst = new Ordering[(Long, Long)] {
      def compare(a: (Long, Long), b: (Long, Long)): Int =
        implicitly[Ordering[(Long, Long)]].compare(b, a)
    }
    // phase 1 (narrow): per-partition, per-domain k-heaps
    val candidates = sel.rdd.mapPartitions { it =>
      val heaps = new java.util.HashMap[Any,
        java.util.PriorityQueue[(Long, Long)]]()
      it.foreach { r =>
        val dom = r.get(0)
        val key = (r.getLong(2), r.getLong(1)) // (h, id)
        var hp = heaps.get(dom)
        if (hp == null) {
          hp = new java.util.PriorityQueue[(Long, Long)](k + 1, worstFirst)
          heaps.put(dom, hp)
        }
        if (hp.size < k) hp.add(key)
        else if (worstFirst.compare(key, hp.peek()) > 0) { // key < head
          hp.poll(); hp.add(key)
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.entrySet().iterator().asScala.flatMap { e =>
        e.getValue.iterator().asScala
          .map { case (h, id) => Row(e.getKey, id, h) }
      }
    }
    // phase 2: ONE shuffle of survivors by domain, contiguous after the
    // within-partition sort; a running counter is the exact rank
    val ranked = spark.createDataFrame(candidates, schema)
      .repartition(col(domainCol))
      .sortWithinPartitions(col(domainCol), col("h"), col(idCol))
      .rdd.mapPartitions { it =>
        var curDom: Any = null
        var rank = 0L
        var first = true
        it.flatMap { r =>
          val dom = r.get(0)
          if (first || dom != curDom) { curDom = dom; rank = 0L; first = false }
          rank += 1
          if (rank <= k) Some(Row(dom, r.getLong(1), r.getLong(2), rank))
          else None
        }
      }
    spark.createDataFrame(ranked, StructType(schema.fields :+
      StructField("rank", LongType, nullable = false)))
  }
}
