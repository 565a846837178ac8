package pipebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    def opt(name: String): String =
      argv.sliding(2).collectFirst { case Array(`name`, v) => v }
        .getOrElse(throw new IllegalArgumentException(s"missing $name"))
    Args(opt("--workload"), opt("--seed").toLong, opt("--seconds").toInt,
      opt("--trace") == "1", Files.createDirectories(Path.of(opt("--work"))))
  }
}

object Stats {
  /** Linear-interpolated percentile (`p` in 0..100) of unsorted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = (s.length - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

/** The run's result: every metric with its unit, and the operation counts. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  var correct = true
  var attempted = 0L
  var failed = 0L
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { correct = false; problems += what }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Human-readable report lines, printed before the result line. */
object Report {
  def line(s: String): Unit = println(s"# $s")
  /** progress, to standard error */
  def progress(s: String): Unit = System.err.println(s"pipebench: $s")
}

object Sessions {
  /** Task threads: no more than the machine's processors. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def start(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep every progress event of a run, not only the last 100
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
