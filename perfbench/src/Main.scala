package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process: runs one workload against the engine and writes
  * `result.json` into the output directory. `perfbench/run.py` builds
  * the classpath, generates the inputs and starts this main:
  *
  * {{{
  *   perfbench.Main --workload <lambda_batch|dedup_ann|speed_layer>
  *     --seed <n> --seconds <s> --trace <0|1> --inputs <dir>
  *     --work <dir> --out <dir> --start-ms <epoch ms of process start>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val res = new Result(opt("start-ms").toLong)
    val ctx = Ctx(opt("workload"), opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1", opt("inputs"),
      opt("work"), opt("out"), res)
    val spark = Ctx.session(4, ctx.work)
    ctx.workload match {
      case "lambda_batch" | "dedup_ann" => Batch.run(spark, ctx)
      case "speed_layer" => SpeedLayer.run(spark, ctx)
      case w => sys.error(s"unknown workload $w")
    }
    SparkSession.active.stop()
    res.metrics("peak_rss_mb") = Ctx.peakRssMb
    Files.write(Paths.get(ctx.out, "result.json"),
      res.json.getBytes("UTF-8"))
  }
}

final case class Ctx(workload: String, seed: Long, seconds: Double,
                     trace: Boolean, inputs: String, work: String,
                     out: String, res: Result)

object Ctx {
  /** The measured posture: `local[cores]`, four shuffle partitions, ANSI
    * off and UTC (as the repository's Bench and Verify mains), and a
    * generated-code cache large enough that repeated passes never evict.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean
    .getTotalCompilationTime

  /** VmHWM of this process, in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (0 for an empty sequence). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** What the process reports: operations attempted, failures with their
  * reasons, and metrics by name.
  */
final class Result(val startMs: Long) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap[String, String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  var firstTimedMs = 0L

  def fail(op: String, why: String): Unit = {
    failed += 1
    failures(op) = why.linesIterator.take(1).mkString.take(300)
    System.err.println(s"[perfbench] FAILED $op: ${failures(op)}")
  }

  /** Marks the start of the timed pass; `setup_s` ends here. */
  def timedStart(): Unit = if (firstTimedMs == 0L) {
    firstTimedMs = System.currentTimeMillis()
    metrics("setup_s") = (firstTimedMs - startMs) / 1000.0
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""

  def json: String = {
    val m = metrics.map { case (k, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s"${str(k)}:$x"
    }.mkString("{", ",", "}")
    val f = failures.map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,""" +
      s""""failures":$f,"metrics":$m}"""
  }
}
