package perfbench

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.SgmlExtract
import graft.sgml._

/** The traced layer ladder: cumulative passes over the same contract table
  * in one JVM, each a Spark job over the scan's `InternalRow`s that stops
  * one layer later than the one before. A layer's self time is the
  * difference of two neighbouring levels' median walls.
  *
  *   L0 scan: rows and span counts       L4 + TreeBuilder.accept/finish
  *   L1 + touch every text's UTF-8 bytes L5 + SpanEmitter (ParseResult.spans)
  *   L2 + UTF-8 -> String decode         L6 extract_spans (extractDf), size(spans)
  *   L3 + Tokenizer into a counting sink LA L6 + count/sum aggregate
  *   L7 the kernel alone, no Spark, over a sample of the same docs
  */
object Layers {
  private val cfg: ParserConfig = Workload.Cfg.toParserConfig

  // contract span struct: kind, text, media_ref, offset
  private final val Kind = 0
  private final val Text = 1
  private final val Ref = 2
  private final val Off = 3

  /** Counts one level adds up per partition. */
  final case class Counts(rows: Long, a: Long, b: Long) {
    def +(o: Counts): Counts = Counts(rows + o.rows, a + o.a, b + o.b)
  }

  private val MediaKind = org.apache.spark.unsafe.types.UTF8String.fromString("media")

  private def isMedia(s: InternalRow): Boolean = MediaKind.equals(s.getUTF8String(Kind))

  /** Kernel state for L3-L5: the public classes wired as SgmlParser wires
    * them, so each level can stop after its own layer. */
  private final class Kernel(level: Int) {
    val holder = new DtdHolder(HtmlDtd.dtd)
    val log = new ErrorLog(cfg.maxErrors)
    var events = 0L
    val builder = if (level >= 4) new TreeBuilder(cfg, holder, log) else null
    val sink: Event => Unit = if (builder != null) builder.accept else _ => events += 1
    val tok = new Tokenizer(cfg, holder, sink, log)

    /** Returns (a, b): L3 events/errors, L4 top-level nodes/errors, L5
      * spans/errors; level 40 (untimed) all nodes/errors. */
    def doc(spans: org.apache.spark.sql.catalyst.util.ArrayData): (Long, Long) = {
      holder.dtd = HtmlDtd.dtd
      log.reset(); tok.reset()
      if (builder != null) builder.reset()
      var i = 0
      while (i < spans.numElements()) {
        val s = spans.getStruct(i, 4)
        val off = if (s.isNullAt(Off)) 0 else s.getInt(Off)
        if (isMedia(s)) {
          val r = s.getUTF8String(Ref)
          tok.media(if (r == null) null else r.toString, off)
        } else {
          val t = s.getUTF8String(Text)
          if (t != null) { tok.setOffset(off); tok.feed(t.toString) }
        }
        i += 1
      }
      tok.finish()
      if (builder == null) return (events, log.count)
      val nodes = builder.finish()
      if (level == 4) (nodes.length.toLong, log.count)
      else if (level == 5) (ParseResult(nodes, log.result()).spans(cfg).length.toLong, log.count)
      else (countNodes(nodes), log.count)
    }
  }

  private def countNodes(ns: IndexedSeq[Node]): Long = {
    var n = ns.length.toLong
    ns.foreach { case e: Node.Elem => n += countNodes(e.children); case _ => }
    n
  }

  private def level(in: DataFrame, lv: Int): Counts =
    in.queryExecution.toRdd.mapPartitions { it =>
      var rows, a, b = 0L
      val k = if (lv >= 3) new Kernel(lv) else null
      it.foreach { row =>
        val spans = row.getArray(1)
        rows += 1
        lv match {
          case 0 => a += spans.numElements()
          case 1 | 2 =>
            var i = 0
            while (i < spans.numElements()) {
              val t = spans.getStruct(i, 4).getUTF8String(Text)
              if (t != null) a += (if (lv == 1) t.hashCode() else t.toString.length)
              i += 1
            }
          case _ =>
            k.events = 0
            val (x, y) = k.doc(spans)
            a += x; b += y
        }
      }
      Iterator(Counts(rows, a, b))
    }.collect().reduce(_ + _)

  /** L6 projects exactly what LA aggregates, so LA − L6 is the aggregate. */
  private def extractSpans(in: DataFrame): Counts =
    SgmlExtract.extractDf(in, Workload.Cfg).select(size(col("spans")))
      .queryExecution.toRdd.mapPartitions { it =>
        var rows, spans = 0L
        it.foreach { r => rows += 1; spans += r.getInt(0) }
        Iterator(Counts(rows, spans, 0))
      }.collect().reduce(_ + _)

  private def aggregate(in: DataFrame): Counts = {
    val r = SgmlExtract.extractDf(in, Workload.Cfg)
      .agg(count(lit(1)), sum(size(col("spans")))).first()
    Counts(r.getLong(0), r.getLong(1), 0)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  val Names: Seq[String] = Seq("L0", "L1", "L2", "L3", "L4", "L5", "L6", "LA")

  /** Runs the ladder `reps` times at least, and again while the ladder has
    * taken less than `seconds`; returns per-layer metrics and the record. */
  def run(spark: SparkSession, in: DataFrame, seconds: Double, minReps: Int)
      : (Map[String, Double], Map[String, Any]) = {
    val walls = Names.map(_ -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    var counts = Map.empty[String, Counts]
    val t0 = System.nanoTime()
    var reps = 0
    while (reps < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      Names.foreach { n =>
        val (c, s) = timed(n match {
          case "L6" => extractSpans(in)
          case "LA" => aggregate(in)
          case l => level(in, l.drop(1).toInt)
        })
        walls(n) += s
        counts += n -> c
      }
      reps += 1
    }
    val m = Names.map(n => n -> median(walls(n).toSeq)).toMap
    val docs = counts("L0").rows
    val docsSample = sample(in)
    val k1 = kernel(docsSample, 1)
    val kn = kernel(docsSample, Host.cores)
    val metrics = Map(
      "scan.s" -> m("L0"),
      "scan_bytes.s" -> (m("L1") - m("L0")),
      "decode.s" -> (m("L2") - m("L1")),
      "tokenize.s" -> (m("L3") - m("L2")),
      "tokenize.events" -> counts("L3").a.toDouble,
      "tree.s" -> (m("L4") - m("L3")),
      "tree.nodes" -> level(in, 40).a.toDouble,
      "tree.errors" -> counts("L4").b.toDouble,
      "emit.s" -> (m("L5") - m("L4")),
      "emit.spans" -> counts("L5").a.toDouble,
      "rowbuild.s" -> (m("L6") - m("L5")),
      "extract_spans.s" -> m("L6"),
      "agg.s" -> (m("LA") - m("L6")),
      "kernel.docs_per_s_1t" -> k1,
      "kernel.docs_per_s_nt" -> kn)
    val record = Map(
      "reps" -> reps,
      "docs" -> docs,
      "level_wall_s" -> m,
      "level_docs_per_s" -> m.map { case (n, s) => n -> docs / s },
      "kernel_sample_docs" -> docsSample.length,
      "spans_L5_L6_LA" -> Seq(counts("L5").a, counts("L6").a, counts("LA").a))
    (metrics, record)
  }

  /** Kernel-only throughput (docs/s) of `threads` threads, each parsing
    * the whole driver-side sample with its own `SgmlParser` and building
    * spans, repeated until at least a second has passed. */
  private def kernel(sample: Array[Array[(String, String, String, Int)]], threads: Int): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      var rounds = 0L
      while (rounds == 0 || System.nanoTime() - t0 < 1000000000L) {
        val fs = (0 until threads).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = {
              val p = new SgmlParser(cfg)
              var spans = 0L
              sample.foreach { d =>
                p.reset()
                d.foreach { case (kind, text, ref, off) =>
                  if (kind == "media") p.media(ref, off) else if (text != null) p.feed(text, off)
                }
                spans += p.finish().spans(cfg).length
              }
              spans
            }
          })
        }
        fs.foreach(_.get())
        rounds += 1
      }
      val secs = (System.nanoTime() - t0) / 1e9
      rounds * threads * sample.length / secs
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** The first docs of the table, up to about 16M input chars. */
  private def sample(in: DataFrame): Array[Array[(String, String, String, Int)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[(String, String, String, Int)]]
    var chars = 0L
    val it = in.toLocalIterator()
    while (it.hasNext && chars < (16L << 20)) {
      val spans = it.next().getSeq[org.apache.spark.sql.Row](1)
      out += spans.map { s =>
        val t = s.getString(1)
        if (t != null) chars += t.length
        (s.getString(0), t, s.getString(2), if (s.isNullAt(3)) 0 else s.getInt(3))
      }.toArray
    }
    out.toArray
  }
}
