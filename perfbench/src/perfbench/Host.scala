package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Process- and host-level measurement: the Spark session, process CPU
  * time, peak RSS, the contention canary and the host record. */
object Host {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of this process so far, all threads (GC included). */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  private def procField(file: String, key: String): Double = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toDouble
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** High-water resident set of this process, MiB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM") / 1024

  def memTotalMb(): Double = procField("/proc/meminfo", "MemTotal") / 1024

  /** Host CPU seconds stolen from this VM so far (all CPUs; 0 where the
    * kernel does not report steal). */
  def stealS(): Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().collectFirst {
      case l if l.startsWith("cpu ") => l.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Fixed single-thread FNV-1a fold (10^8 steps), timed in seconds: the
    * same loop as the program's own calibration canary. Run before and
    * after the measurement; a drift beyond [[CanaryBound]] marks the run
    * contended. */
  def canary(): Double = {
    var h = 0xcbf29ce484222325L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { h = (h ^ i) * 0x100000001b3L; i += 1 }
    val secs = (System.nanoTime() - t0) / 1e9
    if (h == 42L) System.err.print("")
    secs
  }

  /** Largest before/after canary ratio (either way) of an uncontended run. */
  val CanaryBound = 1.25
  /** Largest share of the run's CPU capacity stolen by the host. */
  val StealBound = 0.05

  def record(seed: Long, git: String, srcDigest: String,
      canaryBefore: Double, canaryAfter: Double, stealShare: Double): Map[String, Any] = {
    val drift = math.max(canaryBefore, canaryAfter) / math.min(canaryBefore, canaryAfter)
    Map(
      "nproc" -> cores,
      "mem_total_mb" -> memTotalMb(),
      "jvm" -> System.getProperty("java.vm.version"),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(_.startsWith("--add-opens")).toSeq,
      "spark" -> org.apache.spark.SPARK_VERSION,
      "git_commit" -> git,
      "src_digest" -> srcDigest,
      "seed" -> seed,
      "canary_before_s" -> canaryBefore,
      "canary_after_s" -> canaryAfter,
      "canary_drift" -> drift,
      "steal_share" -> stealShare,
      "contended" -> (drift > CanaryBound || stealShare > StealBound))
  }
}

/** JSON for the run record and the result line (Jackson, from the Spark jars). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
