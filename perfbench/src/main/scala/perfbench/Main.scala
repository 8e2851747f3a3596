package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Harrell–Davis estimate of the median: a Beta((n+1)/2, (n+1)/2)-
    * weighted average of all order statistics. With a dozen latencies that
    * cluster near the middle it moves smoothly, where the sample median
    * jumps from one query to another. */
  def hdMedian(xs: Seq[Double]): Double = {
    val s = xs.sorted.toArray
    val n = s.length
    require(n > 0, "median of no values")
    if (n == 1) return s(0)
    val a = (n + 1) / 2.0
    val steps = 4000
    // cumulative Beta(a, a) density on a grid (trapezoid rule), normalised
    val pdf = Array.tabulate(steps + 1) { i =>
      val t = i.toDouble / steps
      math.exp((a - 1) * (math.log(t) + math.log(1 - t)))
    }
    val cdf = pdf.sliding(2).map(p => (p(0) + p(1)) / 2).scanLeft(0.0)(_ + _).toArray
    def at(x: Double) = cdf((x * steps).round.toInt) / cdf(steps)
    s.indices.map(i => (at((i + 1).toDouble / n) - at(i.toDouble / n)) * s(i)).sum
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  /** Heap in use after full collections, in MB: what the run still holds.
    * Collections repeat, with pauses, until the figure stops falling:
    * Spark's ContextCleaner drops a broadcast or shuffle block only after
    * a collection has freed its owner. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1e6
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (cur < prev - 1.0 && rounds < 8) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Let background JIT compilation and cleanup from set-up finish before
    * the first timed pass. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(1000)
  }
}

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. `report` lines are
  * printed before the result line. */
final case class Outcome(attempted: Int, failed: Int, metrics: Seq[Metric],
                         report: Seq[String])

final case class Args(workload: String, data: String,
                      work: String, kernelDocs: String,
                      seed: Long, seconds: Double, trace: Boolean,
                      out: String, traceOut: String, goldens: String,
                      scale: String, dump: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      data = need("data"),
      work = m.getOrElse("work", ""),
      kernelDocs = m.getOrElse("kernel-docs", ""),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = m.get("trace").contains("1"),
      out = need("out"),
      traceOut = m.getOrElse("trace-out", ""),
      goldens = m.getOrElse("goldens", ""),
      scale = m.getOrElse("scale", ""),
      dump = m.get("dump"))
  }
}

/** Benchmark runner: one workload per JVM. Writes the run's result as one
  * JSON object to `--out`; `run.py` adds its own set-up share and
  * prints the final line. */
object Main {

  /** Progress line on stderr, so a slow run shows where it is. */
  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def session(): SparkSession = {
    val s = GraftSession.builder().getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val outcome = try {
      a.workload match {
        case "query_mix" =>
          new QueryWorkload(spark, a, sessionS).run()
        case "cte_lifecycle" =>
          new CteWorkload(spark, a, sessionS).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally spark.stop()
    outcome.report.foreach(println)
    val metrics = outcome.metrics.map { m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    val json = s"""{"correct":${outcome.failed == 0},"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$metrics}"""
    Files.writeString(Paths.get(a.out), json + "\n")
  }
}
