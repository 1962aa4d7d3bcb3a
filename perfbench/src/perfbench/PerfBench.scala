package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` is the entry point).
  *
  *   PerfBench <workload> <seed> <seconds> <trace 0|1> <workDir> <dataRoot> <cacheDir>
  *
  * Runs one workload in one local[nproc] session with one closed-loop
  * client, and prints one `PERFBENCH {json}` line: the metrics, the
  * attempted/failed counts, and the checks left to the Python side (the
  * DuckDB oracle compare of the query results written under `workDir`).
  */
object PerfBench {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, data, cache) = args
    val trace = traceS == "1"
    val t0 = System.nanoTime()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    val run = Run(spark, seedS.toLong, secondsS.toDouble, trace, work, data,
      cache, sessionS)
    val out = workload match {
      case "crawl_wide" => CrawlWorkload.run(run)
      case "queries"    => QueryWorkload.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    println("PERFBENCH " + out.json)
    spark.stop()
  }

  /** The end-to-end metrics; a traced run prefixes them with `trace.`,
    * since its own timings carry the tracing cost and are per-layer
    * figures, and adds the heap the measured work left live. `latencies`
    * are the per-operation samples (query entries, crawl rounds). A run
    * with no sample reports 0, and fails. */
  def putE2e(m: Metrics, r: Run, setupS: Double, throughput: Double,
             latencies: Seq[Double]): Unit = {
    val p = if (r.trace) "trace." else ""
    def q(x: Double) = if (latencies.isEmpty) 0.0 else quantile(latencies, x)
    m.put(p + "setup_s", setupS, "s")
    m.put(p + "throughput", throughput, "items/s")
    m.put(p + "latency_p50_s", q(0.5), "s")
    m.put(p + "latency_p90_s", q(0.9), "s")
    if (r.trace) m.put("trace.heap_retained_mb", heapRetainedMb(), "MB")
  }

  /** Heap still in use after a full collection: what the work leaves live
    * (caches, memos, session state). Per-layer only: it spread 20-45%
    * between runs of the same work, as did the highest heap seen after the
    * collector's own collections. */
  private def heapRetainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; secs(t0)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Everything one workload run needs. */
final case class Run(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, work: String, data: String,
                     cacheDir: String, sessionS: Double)

/** Metrics by name, in insertion order, each with its unit. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    m(name) = (if (value.isNaN || value.isInfinite) 0.0 else value, unit)
  def json: String = m.map { case (k, (v, u)) =>
    s"${Json.str(k)}: {\"value\": $v, \"unit\": ${Json.str(u)}}"
  }.mkString("{", ", ", "}")
}

/** One workload's result as handed to run.py. `checks` is a JSON value the
  * Python side interprets (the queries workload lists its result dirs). */
final case class Outcome(attempted: Int, failed: Int, metrics: Metrics,
                         notes: Seq[String], checks: String = "null") {
  def json: String =
    s"""{"attempted": $attempted, "failed": $failed, "metrics": ${metrics.json}, """ +
      s""""notes": ${notes.map(Json.str).mkString("[", ", ", "]")}, "checks": $checks}"""
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
