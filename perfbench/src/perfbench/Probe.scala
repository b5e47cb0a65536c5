package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Executor-side figures of the timed actions, from a `SparkListener`:
  * one record per finished task, one per root SQL execution (its call
  * site and wall interval). Attached only in the traced run. */
final class Probe(spark: SparkSession) extends SparkListener {
  import Probe._

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val execStart = scala.collection.mutable.LinkedHashMap.empty[Long, (String, Long)]
  private val execs = ArrayBuffer.empty[Exec]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      synchronized { execStart(s.executionId) = (s.description, s.time) }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      execStart.remove(x.executionId).foreach { case (d, t0) =>
        execs += Exec(d, (x.time - t0) / 1e3)
      }
    }
    case _ =>
  }

  def attach(): this.type = { spark.sparkContext.addSparkListener(this); this }
  def detach(): Unit = { drain(); spark.sparkContext.removeSparkListener(this) }

  /** Position after every event so far; figures between two marks belong
    * to the actions run between them. */
  def mark(): Mark = { drain(); synchronized(Mark(tasks.size, execs.size)) }

  def tasksSince(m: Mark): Seq[TaskRec] = { drain(); synchronized(tasks.drop(m.tasks).toList) }
  def execsSince(m: Mark): Seq[Exec] = { drain(); synchronized(execs.drop(m.execs).toList) }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)
}

object Probe {
  final case class TaskRec(durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Exec(callSite: String, wallS: Double)
  final case class Mark(tasks: Int, execs: Int)

  /** The `spark.*` per-layer metrics over `ts`, the tasks of actions whose
    * walls sum to `wallS`. */
  def summary(ts: Seq[TaskRec], wallS: Double): Map[String, Double] = {
    val dur = ts.map(_.durMs.toDouble).sorted.toIndexedSeq
    def pct(p: Double): Double =
      if (dur.isEmpty) 0.0 else dur(math.min(dur.size - 1, math.ceil(p * dur.size).toInt - 1).max(0))
    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_ms_p50" -> pct(0.50),
      "spark.task_ms_p99" -> pct(0.99),
      "spark.run_s" -> runS,
      "spark.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.idle_share" -> (if (wallS > 0) 1.0 - runS / (wallS * Host.cores) else 0.0),
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb)
  }
}
