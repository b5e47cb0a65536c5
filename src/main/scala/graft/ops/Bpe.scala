package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType,
  StructField, StructType}

/** BPE tokenizer training — the merge-rule learner (Sennrich et al. 2016,
  * the algorithm behind GPT-2/RoBERTa-style vocabularies), distributed
  * the way production trainers actually scale: the CORPUS is touched
  * exactly once (a word-frequency aggregation with map-side partials);
  * every merge round after that runs on the VOCABULARY-sized word table,
  * which is bounded by distinct-word count — millions of rows at web
  * scale regardless of whether the corpus is 1 GB or 100 TB. A trainer
  * that re-scanned the corpus per merge would be O(K × corpus); this is
  * O(corpus + K × vocab).
  *
  * Segmentations are carried as a delimited string `" c1 c2 ... "` and a
  * merge (l, r) is applied as the literal replacement of `" l r "` with
  * `" lr "`. Both Spark's UTF8String.replace and DuckDB's replace() scan
  * left-to-right and never rescan replaced output — greedy and
  * non-overlapping (`"a a a"` under merge (a,a) → `"aa a"`, not
  * `"a aa"`), so the oracle replays every round with the IDENTICAL
  * kernel. One honest caveat, spec-pinned: because a match consumes the
  * pair's trailing delimiter, a run of 3+ identical adjacent symbols
  * merges sparser than one-pass greedy BPE (`"a a a a"` → `"aa a a"`
  * here vs `"aa aa"` in a list-based trainer). No word in this corpus
  * has such a run and real-text runs are rare; a production deployment
  * would swap the list-based merge into the SAME counting/argmax
  * machinery. Ties in pair count break deterministically by
  * (lhs, rhs) ascending — the argmax is a Catalyst orderBy, which sorts
  * strings in UTF8String BINARY (UTF-8 byte) order, coinciding with
  * DuckDB's binary collation for ALL strings, not just ASCII.
  */
object Bpe {

  /** Learn the first `k` merge rules over ANY (textCol) frame. Returns
    * the merge table (round, left, right, pair_count) — k rows, or fewer
    * if the pair space exhausts first. The per-round argmax is a
    * TakeOrdered limit(1) collect (one row to the driver per round).
    *
    * Cache discipline (this loop CHAINS dependent frames, unlike the
    * swapCache call sites that swap across independent invocations, so
    * evict-before-persist would mean every round's cache is built, never
    * hit, and dropped — re-running the corpus scan each round): round
    * i's collect materializes segs_i FROM segs_{i-1}'s still-live cache;
    * only then is segs_{i-1} unpersisted. The corpus is scanned exactly
    * once, by round 1. */
  def mergesOf(d: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = d.sparkSession
    // ONE corpus pass: word frequencies (map-side partial agg), then the
    // initial segmentation " c1 c2 ... " per distinct word. (?s): Java's
    // `.` skips U+0085/U+2028/U+2029, which the \s+ split leaves in words
    val words0 = d
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("seg", concat(lit(" "),
        array_join(expr("regexp_extract_all(word, '(?s).', 0)"), " "), lit(" ")))
    var segs = words0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prev: DataFrame = null
    val merges = scala.collection.mutable.ArrayBuffer.empty[Row]
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      // adjacent-pair counts over the vocab frame, weighted by word freq
      val top = segs
        .select(col("cnt"), expr(
          "filter(split(seg, ' '), x -> x != '')").as("toks"))
        .filter(size(col("toks")) >= 2) // 1-token words contribute no pairs
        // (and Spark's sequence(0, -1) would DESCEND, unlike DuckDB range)
        .select(col("cnt"), explode(expr(
          """transform(sequence(0, size(toks) - 2),
            |  j -> struct(toks[j] AS l, toks[j + 1] AS r))""".stripMargin))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      // this collect just materialized segs' cache — its parent (prev)
      // is no longer needed by anything
      if (prev != null) { prev.unpersist(); prev = null }
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += Row(round, l, r, c)
        prev = segs
        segs = segs.withColumn("seg",
            replace(col("seg"), lit(s" $l $r "), lit(s" $l$r ")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        round += 1
      }
    }
    if (prev != null) prev.unpersist()
    segs.unpersist() // final frame: possibly never materialized; harmless
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.toSeq, 1),
      StructType(Seq(
        StructField("round", IntegerType, nullable = false),
        StructField("lhs", StringType, nullable = false), // not "left"/"right":
        StructField("rhs", StringType, nullable = false), // SQL keywords
        StructField("pair_count", LongType, nullable = false))))
  }
}
