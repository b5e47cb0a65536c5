package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.ops.Chunking

/** Training-sequence shaping: sliding-window chunking and token-budget
  * packing — the invariants the oracle's value compare can't state
  * (coverage/overlap algebra, partitioning invariance of the distributed
  * prefix sum). */
class ChunkingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("chunking: exact windows, stride overlap, short-doc passthrough") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens, 1 chunk
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")), // exactly window → 1
      (3L, (1 to 33).map(i => s"w$i").mkString(" ")), // window+1 → 2 chunks
      (4L, (1 to 80).map(i => s"w$i").mkString(" "))  // 3 chunks (0,24,48)
    ).toDF("doc_id", "text")
    val got = Chunking.withChunks(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Int]("chunk_tokens"), r.getAs[String]("chunk_text")))
      .sortBy(t => (t._1, t._2))
    assert(got.count(_._1 == 1L) == 1 && got.count(_._1 == 2L) == 1)
    assert(got.count(_._1 == 3L) == 2 && got.count(_._1 == 4L) == 3)
    // chunk k starts at token k*stride+1 and holds min(window, n-k*stride)
    val c41 = got.filter(_._1 == 4L)
    assert(c41(0)._4.startsWith("w1 ") && c41(1)._4.startsWith("w25 ")
      && c41(2)._4.startsWith("w49 "))
    assert(c41.map(_._3) sameElements Array(32, 32, 32)) // 80-48=32 exactly
    val c3 = got.filter(_._1 == 3L)
    assert(c3(1)._3 == 9 && c3(1)._4 == (25 to 33).map(i => s"w$i").mkString(" "))
    // overlap algebra: consecutive chunks share window-stride=8 tokens
    val t0 = c41(0)._4.split(" ").takeRight(8).toSeq
    val t1 = c41(1)._4.split(" ").take(8).toSeq
    assert(t0 == t1)
  }

  test("chunking covers every token exactly (reassembly identity)") {
    import spark.implicits._
    val text = (1 to 101).map(i => s"t$i").mkString(" ")
    val d = Seq((9L, text)).toDF("doc_id", "text")
    val chunks = Chunking.withChunks(d, stride = 32, window = 32) // no overlap
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text"))
    assert(chunks.mkString(" ") == text) // stride==window → exact partition
  }

  test("packing: distributed prefix sum == single-partition window, any partitioning") {
    import spark.implicits._
    val d = (1L to 500L).map(i => (i, (i % 37) + 1)).toDF("doc_id", "tokens")
    val expected = d
      .withColumn("seq_start",
        coalesce(sum("tokens").over(
          Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack_id", floor(col("seq_start") / 64L))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    for (p <- Seq(1, 3, 7, 32)) {
      val got = Chunking.withPackIds(d, blockSize = 64L, partitions = p)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
      assert(got sameElements expected, s"partitions=$p diverged from window oracle")
    }
  }

  test("packing survives a downstream coalesce(1) (task id != partition id)") {
    import spark.implicits._
    // regression: Dataset.mapPartitions + TaskContext.getPartitionId seeded
    // every range partition from offsets(0) when a single-file write's
    // coalesce(1) packed all partitions into one task (Verify's exact shape)
    val d = (1L to 200L).map(i => (i, 5L)).toDF("doc_id", "tokens")
    val got = Chunking.withPackIds(d, blockSize = 100L, partitions = 8)
      .coalesce(1).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == (0L until 200L).map(_ * 5L)) // global, not per-partition
  }

  test("packing is re-execution stable (fixed partitioner bounds, no cache)") {
    import spark.implicits._
    // the partitioner is constructed once driver-side, so re-collecting the
    // SAME returned frame (a fresh execution of its plan) and calling the
    // op again both reproduce identical global offsets — the property that
    // Dataset repartitionByRange (per-execution sample seeded by rdd.id)
    // does not guarantee
    val d = (1L to 300L).map(i => (i, (i % 13) + 1)).toDF("doc_id", "tokens")
    val packed = Chunking.withPackIds(d, blockSize = 50L, partitions = 5)
    val first = packed.collect().map(_.toString).sorted
    val second = packed.collect().map(_.toString).sorted // re-execute same plan
    val again = Chunking.withPackIds(d, blockSize = 50L, partitions = 5)
      .collect().map(_.toString).sorted
    assert(first.sameElements(second) && first.sameElements(again))
  }

  test("packing rejects null and negative token counts with the offending id") {
    import spark.implicits._
    val withNull = Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("doc_id", "tokens")
    val e1 = intercept[Exception] {
      Chunking.withPackIds(withNull, partitions = 2).collect()
    }
    assert(e1.getMessage.contains("null tokens") || e1.getMessage.contains("doc_id=2")
      || Option(e1.getCause).exists(_.getMessage.contains("doc_id=2")))
    val withNeg = Seq((1L, 5L), (2L, -3L)).toDF("doc_id", "tokens")
    val e2 = intercept[Exception] {
      Chunking.withPackIds(withNeg, partitions = 2).collect()
    }
    assert(e2.getMessage.contains("negative") ||
      Option(e2.getCause).exists(_.getMessage.contains("negative")))
  }

  test("chunking refuses an input that already has an output column") {
    import spark.implicits._
    val d = Seq((1L, "a b c", 9)).toDF("doc_id", "text", "chunk_idx")
    val e = intercept[IllegalArgumentException](Chunking.withChunks(d))
    assert(e.getMessage.contains("chunk_idx"))
  }

  test("packed blocks: reassembly identity and exact block sizing") {
    import spark.implicits._
    // 3 docs × uneven lengths; blocks of 8 tokens must tile the global
    // concatenation exactly, last block short
    val docs = Seq(
      (1L, (1 to 5).map(i => s"a$i").mkString(" ")),
      (2L, (1 to 11).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 4).map(i => s"c$i").mkString(" ")))
    val blocks = Chunking.packedBlocks(docs.toDF("doc_id", "text"), blockSize = 8L)
      .orderBy("block_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val allToks = docs.sortBy(_._1).flatMap(_._2.split(" "))
    assert(blocks.map(_._2).sum == allToks.length) // every token exactly once
    assert(blocks.flatMap(_._3.split(" ")).toSeq == allToks.toSeq) // order kept
    assert(blocks.dropRight(1).forall(_._2 == 8)) // full blocks exact
    assert(blocks.last._2 == allToks.length % 8)
  }

  test("interleaved blocks: placeholders align with refs; reassembly identity") {
    val sf = "/root/testdata/sf0.001"
    val blocks = Chunking.interleavedBlocks(SgmlExtract.wrapDocumentsMarked(spark, sf).toDF(),
        blockSize = 64L)
      .orderBy("block_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3)))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // expected global stream: per doc words ++ "tail" ++ one placeholder
    val expected = docs.flatMap { case (_, t) =>
      t.split(" ").toSeq :+ "tail" :+ Chunking.MediaToken }
    assert(blocks.map(_._2).sum == expected.length)
    assert(blocks.flatMap(_._3.split(" ")).toSeq == expected.toSeq)
    // within EVERY block: #refs == #placeholders, and refs are in doc order
    blocks.foreach { case (_, _, text, refs) =>
      val nPh = text.split(" ").count(_ == Chunking.MediaToken)
      val rs = if (refs.isEmpty) Array.empty[String] else refs.split(",")
      assert(rs.length == nPh, s"$nPh placeholders but ${rs.length} refs")
    }
    // globally, the i-th placeholder carries the i-th doc's asset ref
    val allRefs = blocks.flatMap(r => if (r._4.isEmpty) Nil else r._4.split(",").toSeq)
    assert(allRefs.toSeq == docs.map { case (id, _) =>
      s"${SgmlExtract.AssetPrefix}$id${SgmlExtract.AssetSuffix}" }.toSeq)
  }

  test("packing: whale doc spills into later blocks; starts stay monotone") {
    import spark.implicits._
    val d = Seq((1L, 10L), (2L, 1000L), (3L, 10L), (4L, 10L)).toDF("doc_id", "tokens")
    val rows = Chunking.withPackIds(d, blockSize = 256L, partitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(0L, 10L, 1010L, 1020L)) // starts
    assert(rows.map(_._3).toSeq == Seq(0L, 0L, 3L, 3L)) // whale pushes 3,4 to block 3
  }
}
