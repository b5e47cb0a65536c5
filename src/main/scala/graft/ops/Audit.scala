package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-audit compositions — checks a training-data pipeline runs over
  * its OWN outputs before anything ships to a trainer. The first (and
  * canonical) one: near-duplicate leakage across the train/val/test
  * boundary, the audit that catches "the test set is in the training
  * data" — the same class of contamination t10/t11 guard against
  * external benchmarks, but internal to the corpus's own split.
  */
object Audit {

  /** Near-dup pairs whose endpoints land in DIFFERENT splits — each such
    * pair is an eval example whose near-twin is trained on.
    *
    * Scale shape: rides entirely on the d3 machinery (one signature
    * pass, one band-bucket shuffle, in-bucket pair explosion behind the
    * mega-bucket valve); split membership is a pure function of the id
    * (`Sampling.splitExpr`), evaluated INLINE on both pair endpoints —
    * zero extra joins and zero extra shuffles on top of pair
    * generation itself. The output is bounded by the near-dup pair
    * count, not the corpus.
    */
  def splitLeakageOf(d: DataFrame, idCol: String, textCol: String,
      minJaccard: Double = 0.5,
      splits: Seq[(String, Int)] =
        Seq(("train", 900), ("val", 50), ("test", 50)),
      maxBucket: Int = Int.MaxValue): DataFrame =
    splitLeakageFromPairs(
      Dedup.verifiedPairsOf(d, idCol, textCol, minJaccard, maxBucket), splits)

  /** The audit over an ALREADY-COMPUTED pair frame (id_a, id_b[, ...]):
    * a pipeline that has run fuzzy dedup has these pairs in hand, and
    * re-deriving them is the expensive half — this variant is a pure
    * narrow filter over the existing frame (zero shuffles, zero scans
    * of the corpus). Extra columns (jaccard, ...) pass through; a frame
    * that ALREADY carries split_a/split_b is rejected loudly rather
    * than silently recomputed over (drop or rename them first). */
  def splitLeakageFromPairs(pairs: DataFrame,
      splits: Seq[(String, Int)] =
        Seq(("train", 900), ("val", 50), ("test", 50))): DataFrame = {
    val clash = pairs.columns.toSet.intersect(Set("split_a", "split_b"))
    require(clash.isEmpty,
      s"pair frame already has ${clash.mkString(", ")} — this audit would " +
        "silently overwrite them with its own split assignment; drop or " +
        "rename first")
    pairs
      .withColumn("split_a", Sampling.splitExpr(col("id_a"), splits))
      .withColumn("split_b", Sampling.splitExpr(col("id_b"), splits))
      .filter(col("split_a") =!= col("split_b"))
      .select(Seq(col("id_a"), col("split_a"), col("id_b"), col("split_b")) ++
        pairs.columns.filterNot(Set("id_a", "id_b")).map(col): _*)
  }
}
