package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Figures one run hands back to `run.py`: metrics by name with unit, the
  * operations attempted, and what the checker must compare. Written as one
  * JSON object. */
final class Results {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val extra = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  /** A raw JSON value for the checker. */
  def put(key: String, json: String): Unit = extra(key) = json

  def json: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val ex = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"metrics":{$ms}${if (ex.isEmpty) "" else "," + ex}}"""
  }
}

object Results {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }

  def jsonStrings(xs: Seq[String]): String = xs.map(jsonString).mkString("[", ",", "]")
}

/** What every workload receives. A workload runs whole
  * rounds of its operations until `seconds` have passed (at least one). */
final case class Ctx(spark: SparkSession, trace: Trace, res: Results,
    in: String, work: String, seconds: Int, launchMs: Long) {
  /** Seconds from JVM launch to now — the set-up time when called just
    * before the first timed operation. */
  def sinceLaunchS: Double = (System.currentTimeMillis() - launchMs) / 1000.0
}

/** Benchmark driver JVM: one workload, one fresh `local[cores]` session.
  *
  *   perfbench.Main --workload W --in DIR --work DIR --seconds N
  *                  --trace 0|1 --cores C --launch-ms EPOCH_MS
  *
  * Writes `<work>/result.json` (and `<work>/spans.jsonl` when tracing). */
object Main {
  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the pins graft.Bench and graft.Verify set
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU time of this JVM so far, in seconds. */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))
    val spark = session(o("cores").toInt)
    val trace = new Trace(spark, enabled = o("trace") == "1")
    val ctx = Ctx(spark, trace, new Results, o("in"), work,
      o("seconds").toInt, o("launch-ms").toLong)
    o("workload") match {
      case "stream_scoreboard" => StreamScoreboard.run(ctx)
      case "rag_lifecycle"     => RagLifecycle.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.res.metric("rss_peak_mb", rssPeakMb(), "MB")
    if (trace.enabled) {
      // Spark work of the measured rounds, per round
      val rounds = trace.named("round")
      val js = trace.jobsIn(rounds)
      val n = rounds.size.toDouble
      ctx.res.metric("spark.jobs", js.size / n, "count")
      ctx.res.metric("spark.tasks", js.map(_.tasks).sum / n, "count")
      ctx.res.metric("spark.task_cpu_ms", js.map(_.cpuNs).sum / 1e6 / n, "ms")
      ctx.res.metric("spark.shuffle_bytes", js.map(_.shuffleBytes).sum / n, "bytes")
      ctx.res.metric("driver.outside_jobs_ms", trace.outsideJobsMs(rounds, js) / n, "ms")
    }
    if (trace.enabled) trace.write(java.nio.file.Paths.get(work, "spans.jsonl"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(work, "result.json"), ctx.res.json)
    spark.stop()
  }
}
