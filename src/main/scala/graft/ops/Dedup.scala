package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline, in increasing
  * fuzziness: exact (hash groupBy), MinHash+LSH (shingle → minhash → band
  * → bucket join), SimHash (hamming-banded), n-gram Jaccard verification.
  *
  * Scale notes (100 TB): every variant avoids the O(n²) cross join — LSH
  * band buckets and simhash bands turn near-dup search into an equi-join
  * on a band key, which Spark executes as a shuffled hash join keyed by
  * small band values; candidate verification happens only within buckets.
  * Exact dedup is a single hash aggregation with map-side partials.
  */
object Dedup {

  /** Persist `df` and release the frame a PREVIOUS invocation cached
    * under the same tag. Lazy callers can't know when their consumer is
    * done with a cached subtree, so an eager unpersist would defeat the
    * cache — instead each new invocation evicts its predecessor's copy,
    * bounding a long-lived session (bench warm-up + trials, notebooks)
    * to ONE cached copy per tag instead of one per call. Unpersisting a
    * frame a still-running plan references is safe (InMemoryRelation
    * recomputes from its child); two concurrent same-tag invocations on
    * one session merely lose caching, not correctness. */
  private[graft] def swapCache(tag: String, df: DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // housekeeping: drop registry entries whose session is gone (a
    // multi-session JVM otherwise pins stopped sessions forever)
    cacheReg.keySet.removeIf(k => k._1.sparkContext.isStopped)
    // Unpersist the predecessor BEFORE persisting: if the new plan
    // canonicalizes sameResult to the old one, persist-first would no-op
    // on the shared CacheManager entry and the eviction would then
    // delete it — leaving the new frame uncached (zero copies, the
    // opposite of the intent). Evict-then-persist re-registers cleanly
    // in that case, at worst recomputing the shared subtree once.
    val prev = cacheReg.put((df.sparkSession, tag), df)
    if (prev != null && (prev ne df)) prev.unpersist(blocking = false)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }
  private val cacheReg =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]

  /** The bucket aggregation shared by every LSH-style operator
    * (verifiedPairsFromBands, simhashPairsOf, Similarity.embeddingNearDups):
    * one group-by on `keyCols` → (keyCols…, n, items), where `n` is the
    * bucket's exact row count and `items` holds `item` of at most
    * `cap + 1` of its rows (graft.functions.BucketCollect). Buckets with
    * n < 2 can never yield a pair and are pruned here (LSH block
    * purging). A bucket of more than `cap` rows is the mega-bucket valve's
    * case: `bucketPairs` drops it WHOLE — its members are boilerplate/
    * template mass better handled by exact dedup upstream — and
    * `droppedOf` counts it, both from this one frame. No buffer
    * ever holds a whole mega bucket, so the valve needs no pre-pass.
    * At cap = Int.MaxValue this is collect_list plus a count. */
  private[graft] def buckets(banded: DataFrame, keyCols: Seq[String], item: Column,
      cap: Int): DataFrame = {
    if (!banded.sparkSession.catalog.functionExists("bucket_collect"))
      graft.functions.BucketCollect.register(banded.sparkSession)
    banded.groupBy(keyCols.map(col): _*)
      .agg(call_function("bucket_collect", item, lit(cap)).as("b"))
      .select(keyCols.map(col) :+ col("b.n").as("n") :+ col("b.items").as("items"): _*)
      .filter(col("n") >= 2)
  }

  /** Every ordered (a, b) item pair, self-pairs included, of the buckets
    * of at most `maxBucket` rows; callers keep a < b. */
  private[graft] def bucketPairs(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets.filter(col("n") <= maxBucket)
      .select(explode(col("items")).as("a"), col("items"))
      .select(col("a"), explode(col("items")).as("b"))

  /** Audit row of a capped run over a buckets frame: how many buckets and
    * rows the valve dropped (production pipelines log this next to the
    * pair output so a silent cap never reads as "covered everything"). */
  private[graft] def droppedOf(buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets.filter(col("n") > maxBucket)
      .agg(count(lit(1)).as("dropped_buckets"),
        coalesce(sum(col("n")), lit(0L)).as("dropped_rows"))

  /** `droppedOf` over a banded frame: the same aggregation, collecting
    * one item per bucket (cap 0) since only the counts are read. */
  def droppedBucketStats(banded: DataFrame, keyCols: Seq[String],
      maxBucket: Int): DataFrame =
    droppedOf(buckets(banded, keyCols, lit(true), cap = 0), maxBucket)

  /** Exact dedup: group by content hash, keep min doc_id. One shuffle on
    * md5(text) (partial aggregation map-side). */
  def exact(d: DataFrame): DataFrame = {
    d.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("dup_count"))
  }

  // -------------------------------------------------------------- MinHash

  val NumHashes = 64
  val Bands = 16 // 16 bands × 4 rows: ~threshold (1/16)^(1/4) ≈ 0.5 Jaccard
  val RowsPerBand: Int = NumHashes / Bands

  // ---- minhash scheme, shared bit-for-bit with the DuckDB oracle ----
  // shingle hash : base-31 polynomial over Unicode code points, mod 2^32
  // hash_i(h)    : (a_i·h + b_i) mod P with a_i,b_i < 2^31 so the product
  //                fits a signed 64-bit value on both engines
  // band hash    : base-1000003 polynomial fold of the band's 4 signature
  //                values, mod P
  // Everything is closed-form (no PRNG stream), so the oracle can rebuild
  // the exact coefficients with integer SQL.
  val HashP = 4294967311L // prime > 2^32
  val BandB = 1000003L // band-fold base (BandB·P < 2^63: no overflow)
  private val CoefM = 2147483629L // prime < 2^31 bounding a_i / b_i
  private[ops] def coefA(i: Int): Long = ((i + 1) * 2654435761L) % CoefM + 1
  private[ops] def coefB(i: Int): Long = ((i + 1) * 2246822519L) % CoefM
  // hoisted: one coefficient table per JVM, not per row (was a measured
  // cost at 64 draws + 2 allocations per document)
  private val HashAs: Array[Long] = Array.tabulate(NumHashes)(coefA)
  private val HashBs: Array[Long] = Array.tabulate(NumHashes)(coefB)

  /** The words of `text`, lowercased into `t`, as [starts(w), ends(w))
    * ranges: its maximal non-`\s` runs, exactly the pieces
    * `t.split("\\s+").filter(_.nonEmpty)` would copy, without the copies
    * (that split was ~43% of minhash) — the one word scan of minhash,
    * simhash, shingles and ngramJaccard. Window s is the k-shingle of
    * words s until s + len (all of them when there are fewer than k). A
    * word never ends on half a surrogate pair (its successor is
    * whitespace), so codePointAt over `t` ≡ over the copied word. */
  private final class Words(text: String, k: Int = 3) {
    val t: String = if (text == null) "" else text.toLowerCase
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var n = 0
    locally {
      var p = 0
      while (p < t.length) {
        if (TextOps.isRegexSpace(t.charAt(p))) p += 1
        else {
          if (n == starts.length) {
            starts = java.util.Arrays.copyOf(starts, n * 2)
            ends = java.util.Arrays.copyOf(ends, n * 2)
          }
          starts(n) = p
          while (p < t.length && !TextOps.isRegexSpace(t.charAt(p))) p += 1
          ends(n) = p
          n += 1
        }
      }
    }
    val len: Int = math.min(k, n)
    val windows: Int = if (n == 0) 0 else n - len + 1

    /** shingleHash of window s's words joined by ' ', streamed over
      * the code points. */
    def hash(s: Int): Long = {
      var h = 0L
      var w = s
      while (w < s + len) {
        if (w > s) h = (h * 31 + ' ') & 0xFFFFFFFFL
        var i = starts(w)
        while (i < ends(w)) {
          val cp = t.codePointAt(i)
          h = (h * 31 + cp) & 0xFFFFFFFFL
          i += Character.charCount(cp)
        }
        w += 1
      }
      h
    }

    /** Window s here and window o of `that` are the same shingle:
      * compared word by word. */
    def sameWindow(s: Int, that: Words, o: Int): Boolean =
      len == that.len && (0 until len).forall { i =>
        val l = ends(s + i) - starts(s + i)
        l == that.ends(o + i) - that.starts(o + i) &&
          t.regionMatches(starts(s + i), that.t, that.starts(o + i), l)
      }
  }

  /** Word n-shingles of a document (lowercased); fewer than n words make
    * one shingle of them all. */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = new Words(text, n)
    (0 until w.windows).map(s =>
      (s until s + w.len).map(i => w.t.substring(w.starts(i), w.ends(i))).mkString(" ")).toSet
  }

  /** Base-31 code-point polynomial hash, mod 2^32 (oracle-replicable). */
  def shingleHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) & 0xFFFFFFFFL
      i += Character.charCount(cp)
    }
    h
  }

  /** 64 minhashes via (a_i·h + b_i) mod P over shingle hashes. Closed-form
    * coefficients → deterministic across JVMs and replicable in SQL.
    *
    * Values are EXACTLY those of hashing `shingles(text)` (the oracle's
    * definition), computed without materializing shingle strings or a
    * dedup set: each window's hash streams the code points of its words
    * with a literal ' ' joiner (≡ shingleHash of the joined string), and
    * duplicates need no removal because min() over each hash function is
    * duplicate-insensitive — the Set and the string concatenations were
    * measured overhead (~20% of d3/p1), not semantics. */
  def minhash(text: String): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    val w = new Words(text)
    var s = 0
    while (s < w.windows) {
      val h = w.hash(s)
      var i = 0
      while (i < NumHashes) {
        val v = (HashAs(i) * h + HashBs(i)) % HashP
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** The 16 band hashes of `minhash(text)`: band b folds its 4 signature
    * values as a base-BandB polynomial mod P (the oracle replays the same
    * fold in integer SQL; BandB·P < 2^63, so no step overflows). */
  def bandHashes(text: String): Array[Long] = {
    val sig = minhash(text)
    Array.tabulate(Bands)(b => (0 until RowsPerBand).foldLeft(0L)((acc, r) =>
      (acc * BandB + sig(b * RowsPerBand + r) % HashP) % HashP))
  }

  /** (id, band, band_hash) rows for ANY (id, text) frame; near-dup
    * candidates collide in ≥1 band. One Scala kernel per doc
    * (`bandHashes`), exploded with its band index. */
  def bandsOf(d: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bh = udf((t: String) => bandHashes(t))
    d.select(col(idCol), posexplode(bh(col(textCol))).as(Seq("band", "band_hash")))
  }

  /** Jaccard-verified near-dup pairs for ANY (id, text) frame: candidate
    * pairs from LSH buckets, verified with exact n-gram Jaccard.
    * Candidate generation is bucket-collect, not a self-join: ONE pass
    * computes signatures (the dominant cost — a self-join recomputes the
    * minhash UDF on both sides), one shuffle groups by (band, band_hash),
    * and pairs explode within each bucket. Work is Σ|bucket|² either way
    * (inherent to LSH); a pathological all-identical corpus concentrates
    * in one bucket under both shapes.
    *
    * `maxBucket` is the 100 TB safety valve: a boilerplate-heavy corpus
    * can put millions of docs into one band bucket, and the in-bucket
    * pair explosion is |bucket|² — a mega-bucket is both an OOM risk
    * and useless for dedup (its members are better handled by exact
    * dedup / template detection upstream). Buckets larger than the cap
    * are dropped WHOLE (see `buckets`); Int.MaxValue (the default,
    * shared with the oracles) disables the cap. Production pipelines
    * should set it to O(10³) and count the dropped buckets. */
  def verifiedPairsOf(d: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    verifiedPairsFromBands(bandsOf(d, idCol, textCol), d, idCol, textCol,
      minJaccard, maxBucket)

  /** `verifiedPairsOf` over a PRE-BUILT banded frame (the perfbench
    * replay shares one). */
  def verifiedPairsFromBands(banded: DataFrame, d: DataFrame,
      idCol: String, textCol: String,
      minJaccard: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    verifiedPairsFromBuckets(buckets(banded, Seq("band", "band_hash"), col(idCol), maxBucket),
      d, idCol, textCol, minJaccard, maxBucket)

  /** `verifiedPairsOf` over a PRE-BUILT band buckets frame — lets
    * Pipeline.run share one cached bucket aggregation between pair
    * generation and the droppedOf lineage audit. */
  private[graft] def verifiedPairsFromBuckets(bucketed: DataFrame, d: DataFrame,
      idCol: String, textCol: String, minJaccard: Double, maxBucket: Int): DataFrame = {
    val cands = bucketPairs(bucketed, maxBucket)
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .distinct()
    val texts = d.select(col(idCol), col(textCol))
    val jac = udf((x: String, y: String) => ngramJaccard(x, y))
    cands
      .join(texts.withColumnRenamed(idCol, "id_a").withColumnRenamed(textCol, "text_a"), "id_a")
      .join(texts.withColumnRenamed(idCol, "id_b").withColumnRenamed(textCol, "text_b"), "id_b")
      .withColumn("jaccard", round(jac(col("text_a"), col("text_b")), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** n-gram Jaccard as a standalone surfaced op: similarity of each
    * consecutive doc_id pair — a deterministic, oracle-checkable slice of
    * the same verification kernel verifiedPairsOf uses inside buckets.
    * The pairing join is an equi-join on doc_id+1 (no cross join). */
  def consecutiveJaccard(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"))
    val jac = udf((x: String, y: String) => ngramJaccard(x, y))
    d.as("a")
      .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        round(jac(col("a.text"), col("b.text")), 6).as("jaccard"))
  }

  /** Connected components over the near-dup pair graph: every document
    * labeled with the SMALLEST doc_id reachable through verified pairs —
    * its cluster keeper — turning pairwise dedup output into the
    * per-cluster decision a pipeline actually applies (keep one doc per
    * cluster, not "drop the greater member of each pair", which
    * over-keeps on transitive chains a~b~c).
    *
    * Shape: iterative min-label propagation (label(v) ← min(label(v),
    * min over neighbors)) ACCELERATED with path halving: each round also
    * folds in label(label(v)) (pointer jumping — cluster_id is always an
    * existing doc_id, so the labels⋈labels self-join is total). The
    * distance-to-root roughly halves per round on top of the one-hop
    * neighbor step, so convergence is O(log diameter) rounds instead of
    * O(diameter) — the same reason the alternating large-star/small-star
    * MapReduce CC algorithms run in logarithmic rounds — at the price of
    * one extra (id, label) equi-join per round. A round that converges
    * under plain propagation converges at least as fast here, and the
    * fixpoint is identical (labels only decrease and never leave the
    * component, and any combined-operator fixpoint is a neighbor-min
    * fixpoint). `maxIter` caps adversarial graphs; a capped
    * non-converged run now LOGS A WARNING so it is distinguishable from
    * a converged one. Each round EAGERLY localCheckpoints its labels: without
    * lineage truncation the logical plan doubles per round (labels feeds
    * both the join and the convergence check) and round ~9 OOMs the
    * driver just RENDERING the plan — the standard Spark iterative-
    * algorithm discipline (GraphX Pregel materializes per round too).
    * At 100 TB every round is two shuffles over (id, label) pairs, NOT
    * over documents; a long-lived production job would point
    * setCheckpointDir at durable storage and use checkpoint() for
    * executor-loss tolerance. */
  def clustersOf(pairs: DataFrame, ids: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = ids.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("cluster_id").as("dst_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      // path halving: my root's current label (total: every cluster_id IS
      // a doc_id present in labels)
      val grand = labels.select(col("doc_id").as("g_id"), col("cluster_id").as("g_label"))
      val next = labels
        .join(nbrMin, Seq("doc_id"), "left")
        .join(grand, col("cluster_id") === col("g_id"), "left")
        .select(col("doc_id"), col("cluster_id").as("__old"),
          least(col("cluster_id"),
            coalesce(col("nbr_label"), col("cluster_id")),
            coalesce(col("g_label"), col("cluster_id")))
            .as("cluster_id"))
        // convergence indicator rides the SAME materialization instead
        // of a separate next⋈labels join job per round
        .withColumn("__changed", col("cluster_id") =!= col("__old"))
        .drop("__old")
        .localCheckpoint(true) // materialize + TRUNCATE lineage (see note)
      // zero/nonzero is all convergence needs: early-exit scan over the
      // just-checkpointed blocks, no join
      val changed = next.filter(col("__changed")).limit(1).count()
      labels = next.drop("__changed")
      converged = changed == 0
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"clustersOf hit maxIter=$maxIter WITHOUT converging: labels are " +
          "upper bounds, not component minima — raise maxIter (log-diameter " +
          "rounds suffice under path halving)")
    edges.unpersist(blocking = false)
    labels.withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** Train/test decontamination: flag every corpus document sharing
    * `minOverlap` distinct word 3-shingles with a held-out set. `heldout`
    * is an arbitrary (id, `textCol`) table (a loaded eval set, or a slice
    * of the corpus standing in for one), and `minOverlap` sets how many distinct shared shingles
    * make a corpus document "contaminated" (1 = any overlap; real
    * pipelines use 3–10 to ignore idiom-level collisions). The held-out
    * side reduces to a DISTINCT shingle-hash set that BROADCASTS (eval
    * suites are ≪ corpus); the corpus side is one narrow shingle explode
    * + broadcast hash join + per-doc distinct count — no corpus-side
    * shuffle besides that aggregation, so the whole check is one pass
    * over the corpus at any scale. Hash space is the shared closed-form
    * 2^32 polynomial, so the oracle recomputes the same overlap counts
    * in SQL. */
  def decontaminateAgainst(corpus: DataFrame, heldout: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      minOverlap: Long = 1L): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val shUdf = udf((t: String) => shingles(t).toSeq.map(shingleHash))
    val contam = heldout
      .select(explode(shUdf(col(textCol))).as("h")).distinct()
    val hits = corpus
      .select(col(idCol), explode(shUdf(col(textCol))).as("h"))
      .join(broadcast(contam), "h")
      .groupBy(col(idCol))
      .agg(countDistinct(col("h")).as("n_shared"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Cross-document repeated n-gram statistics — the substring-level
    * dedup signal (à la "Deduplicating Training Data Makes Language
    * Models Better"): per document, how many of its distinct word
    * n-grams also occur in ANOTHER document. High shared_permille marks
    * boilerplate/template mass that document-level dedup missed; the
    * shared-hash table itself is the removal work-list.
    *
    * Scale shape: ONE signature UDF call per row (size + explode_outer
    * off the same array), one count aggregation over (doc, distinct
    * n-gram hash) pairs, one equi-join back + per-doc count — no
    * self-join, no n-gram strings shuffled (64-bit hashes only). Hash
    * collisions hit both engines identically (same closed-form chain
    * the oracle replays). */
  def withRepeatedNgrams(d: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 10,
      cacheSignatures: Boolean = true): DataFrame = {
    val shUdf = udf((t: String) => shingles(t, n).toSeq.map(shingleHash))
    // cacheSignatures (default): BOTH consumers (the shared-hash
    // aggregation and the probe join) read this frame — uncached, Spark
    // re-runs the tokenize+hash UDF under each subtree; the cache is
    // (id, long, long) rows only, no text. The 100 TB valve: the cache is
    // O(total n-grams) rows of MEMORY_AND_DISK with no other off switch,
    // so at sizes where even the spilled footprint is unwelcome, pass
    // false to RECOMPUTE the signature pass per consumer instead (2× UDF
    // CPU bought consciously, zero cache footprint).
    val sigs = d.select(col(idCol), shUdf(col(textCol)).as("hs"))
      .select(col(idCol), size(col("hs")).as("n_ngrams"),
        explode_outer(col("hs")).as("h")) // empty docs keep a null-h row
    val f = if (cacheSignatures) swapCache("d8-ngrams", sigs) else sigs
    val shared = f.filter(col("h").isNotNull)
      .groupBy(col("h")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), lit(true).as("is_shared"))
    // one left join + ONE per-doc aggregation computes totals and shared
    // counts together (count(is_shared) skips nulls ⇒ unshared/null-h
    // rows don't count)
    f.join(shared, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(max(col("n_ngrams")).cast("long").as("n_ngrams"),
        count(col("is_shared")).as("n_shared"))
      .select(col(idCol), col("n_ngrams"), col("n_shared"),
        when(col("n_ngrams") === 0, lit(0L)).otherwise(
          expr("n_shared * 1000 div n_ngrams"))
          .as("shared_permille"))
  }

  /** A window of a word scan, equal to another when its words are (a
    * shared shingle hash is not equality): a shingle without its string. */
  private final class Shingle(val w: Words, val s: Int) {
    override val hashCode: Int = w.hash(s).toInt
    override def equals(o: Any): Boolean = o match {
      case x: Shingle => x.hashCode == hashCode && w.sameWindow(s, x.w, x.s)
      case _ => false
    }
  }

  /** Exact n-gram (word 3-shingle) Jaccard similarity: |A∩B| / |A∪B| over
    * the `shingles` sets, from the word scan without their strings. */
  def ngramJaccard(a: String, b: String): Double = {
    def set(text: String) = { val w = new Words(text); (0 until w.windows).map(new Shingle(w, _)).toSet }
    val (sa, sb) = (set(a), set(b))
    val inter = sa.count(sb.contains)
    if (sa.isEmpty && sb.isEmpty) 1.0 else inter.toDouble / (sa.size + sb.size - inter)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word hashes (weight = term frequency). The
    * 64 word-hash bits come from TWO independent 32-bit code-point
    * polynomial hashes (bases 31 and 37, mod 2^32) — no wrapping 64-bit
    * multiply anywhere, so the d4/d5 oracles recompute the exact same
    * bits in integer SQL. */
  def simhash(text: String): Long = {
    val w = new Words(text)
    val acc = new Array[Int](64)
    var k = 0
    while (k < w.n) {
      var hi = 0L // base-31 poly → bits 32..63
      var lo = 0L // base-37 poly → bits 0..31
      var i = w.starts(k)
      while (i < w.ends(k)) {
        val cp = w.t.codePointAt(i)
        hi = (hi * 31 + cp) & 0xFFFFFFFFL
        lo = (lo * 37 + cp) & 0xFFFFFFFFL
        i += Character.charCount(cp)
      }
      var b = 0
      while (b < 32) {
        if (((lo >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        if (((hi >>> b) & 1L) == 1L) acc(b + 32) += 1 else acc(b + 32) -= 1
        b += 1
      }
      k += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** (doc_id, simhash) of a (doc_id, text) frame. */
  def simhashes(d: DataFrame): DataFrame = {
    val sh = udf((t: String) => simhash(t))
    d.select(col("doc_id"), sh(col("text")).as("simhash"))
  }

  /** Near-dup pairs of a (doc_id, simhash) frame with hamming distance ≤
    * maxDist via 4×16-bit band blocking (a pair within distance 3 must
    * agree on ≥1 band). Same bucket-collect shape as verifiedPairsOf: one
    * pass + one shuffle. `maxBucket`: same whole-bucket valve (a
    * template-heavy corpus concentrates mass in few band values — one hot
    * bucket is one OOM'd task without the cap). Default uncapped for
    * oracle parity at test SFs. */
  def simhashPairsOf(sh: DataFrame, maxDist: Int = 3,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"), posexplode(array((0 until 4).map(b =>
      shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
      .as(Seq("band", "band_val")))
    bucketPairs(buckets(banded, Seq("band", "band_val"),
        struct(col("doc_id"), col("simhash")), maxBucket), maxBucket)
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
