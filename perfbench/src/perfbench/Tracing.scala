package perfbench

import scala.collection.mutable

import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark runtime counters at one instant. */
final case class SparkSnap(jobs: Long, stages: Long, tasks: Long,
                           runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, shuffleRead: Long,
                           spill: Long, skewMax: Double) {
  def -(o: SparkSnap): SparkSnap = SparkSnap(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, skewMax)
  def +(o: SparkSnap): SparkSnap = SparkSnap(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs,
    gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, math.max(skewMax, o.skewMax))
}

object SparkSnap {
  val zero: SparkSnap = SparkSnap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0.0)
}

/** The benchmark's own listeners, registered only in a traced run:
  * Spark jobs/stages/tasks, Catalyst phase times of every executed query,
  * and streaming micro-batch progress. Read them at a layer boundary with
  * [[snap]], which first waits for the listener bus to drain. */
final class Tracer(spark: SparkSession) {
  private val MB = 1048576.0
  /** Listeners ignore events delivered while this is false; see [[paused]]. */
  @volatile private var active = true

  private object jobs extends SparkListener {
    var s = SparkSnap.zero
    private val durations = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) synchronized { s = s.copy(jobs = s.jobs + 1) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) synchronized {
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        // slowest task over the median task: how long the stage waited on
        // its straggler; one-task stages have no skew to measure
        val skew = durations.remove(key).filter(_.size >= 2).map { d =>
          val med = PerfBench.median(d.map(_.toDouble).toSeq)
          if (med > 0) d.max / med else 1.0
        }.getOrElse(0.0)
        s = s.copy(stages = s.stages + 1, skewMax = math.max(s.skewMax, skew))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
      val m = e.taskMetrics
      durations.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
      if (m != null) s = s.copy(tasks = s.tasks + 1,
        runMs = s.runMs + m.executorRunTime,
        cpuNs = s.cpuNs + m.executorCpuTime,
        gcMs = s.gcMs + m.jvmGCTime,
        shuffleWrite = s.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = s.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = s.spill + m.diskBytesSpilled)
      else s = s.copy(tasks = s.tasks + 1)
    }
  }

  private object catalyst extends QueryExecutionListener {
    val phaseMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    private def add(qe: QueryExecution): Unit = if (active) synchronized {
      qe.tracker.phases.foreach { case (p, sum) => phaseMs(p) += sum.durationMs }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private object streams extends StreamingQueryListener {
    var batches = 0L
    var batchMs = 0L
    var commitMs = 0L
    /** latest state size per query run: (rows, bytes) */
    val state = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (active) synchronized {
        val p = e.progress
        batches += 1
        batchMs += p.batchDuration
        commitMs += p.stateOperators.map(_.commitTimeMs).sum
        if (p.stateOperators.nonEmpty)
          state(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streams)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streams)
  }

  def drain(): Unit = PerfBenchBus.drain(spark.sparkContext)

  /** Run `body` unrecorded: the benchmark's own work between layer calls. */
  def paused[A](body: => A): A = {
    drain(); active = false
    try body finally { drain(); active = true }
  }

  def snap(): SparkSnap = { drain(); jobs.synchronized(jobs.s) }

  /** Spark runtime metrics of the work between two snapshots. */
  def sparkMetrics(d: SparkSnap, m: Metrics): Unit = {
    m.put("spark.jobs", d.jobs, "count")
    m.put("spark.stages", d.stages, "count")
    m.put("spark.tasks", d.tasks, "count")
    m.put("spark.task_run_s", d.runMs / 1e3, "s")
    m.put("spark.task_cpu_s", d.cpuNs / 1e9, "s")
    m.put("spark.gc_s", d.gcMs / 1e3, "s")
    m.put("spark.shuffle_write_mb", d.shuffleWrite / MB, "MB")
    m.put("spark.shuffle_read_mb", d.shuffleRead / MB, "MB")
    m.put("spark.spill_mb", d.spill / MB, "MB")
    m.put("spark.skew_max", d.skewMax, "ratio")
  }

  def catalystMetrics(m: Metrics): Unit = {
    drain()
    catalyst.synchronized {
      m.put("query.analysis_s", catalyst.phaseMs("analysis") / 1e3, "s")
      m.put("query.optimization_s", catalyst.phaseMs("optimization") / 1e3, "s")
      m.put("query.planning_s", catalyst.phaseMs("planning") / 1e3, "s")
    }
  }

  def streamMetrics(m: Metrics): Unit = {
    drain()
    streams.synchronized {
      m.put("stream.batches", streams.batches, "count")
      m.put("stream.batch_s", streams.batchMs / 1e3, "s")
      m.put("stream.state_commit_s", streams.commitMs / 1e3, "s")
      m.put("stream.state_rows", streams.state.values.map(_._1).sum, "count")
      m.put("stream.state_mb", streams.state.values.map(_._2).sum / MB, "MB")
    }
  }
}

object Tracer {
  /** The per-layer metric names every traced run prints; a layer the
    * workload does not exercise reads 0. */
  val modules: Seq[String] = Seq("Relational", "TextAnalysis", "DedupOps",
    "SimilarityOps", "TemporalJoins", "ScalarQueries", "GraphOps",
    "CrawlQueries", "StreamQueries", "other")

  def zeros(m: Metrics): Unit = {
    Seq("crawl.rounds", "crawl.fetched", "crawl.enqueued")
      .foreach(m.put(_, 0, "count"))
    Seq("crawl.fetch.ok_ratio", "crawl.fetch.attempts_per_url",
      "crawl.seen.new_ratio", "crawl.links.dup_ratio")
      .foreach(m.put(_, 0, "ratio"))
    m.put("crawl.sketch_fill_max_pct", 0, "%")
    Seq("crawl.drain_s", "crawl.fetch_s", "crawl.parse_s",
      "crawl.seen_probe_s", "crawl.unattributed_s").foreach(m.put(_, 0, "s"))
    m.put("crawl.jobs_per_round", 0, "count")
    m.put("crawl.tasks_per_round", 0, "count")
    m.put("glacier.commit_s", 0, "s")
    m.put("glacier.bytes_written_mb", 0, "MB")
    Seq("glacier.files_written", "glacier.seen_files", "glacier.bloom_files")
      .foreach(m.put(_, 0, "count"))
    modules.foreach { mod =>
      m.put(s"query.$mod.build_s", 0, "s")
      m.put(s"query.$mod.action_s", 0, "s")
      m.put(s"query.$mod.jobs", 0, "count")
      m.put(s"query.$mod.shuffle_mb", 0, "MB")
    }
    Seq("query.analysis_s", "query.optimization_s", "query.planning_s")
      .foreach(m.put(_, 0, "s"))
    m.put("stream.batches", 0, "count")
    m.put("stream.batch_s", 0, "s")
    m.put("stream.state_commit_s", 0, "s")
    m.put("stream.state_rows", 0, "count")
    m.put("stream.state_mb", 0, "MB")
  }
}
