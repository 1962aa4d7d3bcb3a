package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import graft.{QueryEntry, SparkEntry}

/** `queries`: a fixed sample of `SparkEntry.queries` on the sf0.01 copy of
  * the seed-42 test data shipped under `perfbench/data/sf0.01` (the seed
  * argument does not apply; the warm-up reads `perfbench/data/sf0.001`). One closed-loop client runs the sample in name-sorted
  * order: `SparkEntry.queries` is a Map, whose iteration order shifts
  * whenever an entry is added.
  *
  * Each entry is timed from the call that builds its DataFrame to the end
  * of `collect()`, which computes every column and hands the rows to the
  * client (a `count()` lets Catalyst prune the columns). The collected rows
  * are the ones checked: after the timed pass they are written as parquet
  * for run.py's DuckDB oracle compare, so the check needs no second run of
  * the query. An entry that throws counts as failed and leaves no latency
  * sample.
  */
object QueryWorkload {
  /** Entries per sample: every 7th oracle-backed entry of each module in
    * name order, so each module has at least one: 28 of the 160, what one
    * run can afford (see perfbench/README.md). */
  val stride = 7

  /** Warm-up entries, run on the sf0.001 tables before timing. */
  private val warmUps = 8

  private val modules: Seq[(String, Seq[QueryEntry])] = Seq(
    "Relational" -> graft.operators.Relational.entries,
    "TextAnalysis" -> graft.operators.TextAnalysis.entries,
    "DedupOps" -> graft.operators.DedupOps.entries,
    "SimilarityOps" -> graft.operators.SimilarityOps.entries,
    "TemporalJoins" -> graft.operators.TemporalJoins.entries,
    "ScalarQueries" -> graft.operators.ScalarQueries.entries,
    "GraphOps" -> graft.operators.GraphOps.entries,
    "CrawlQueries" -> graft.operators.CrawlQueries.entries,
    "StreamQueries" -> graft.streaming.StreamQueries.entries)

  def moduleOf(name: String): String = modules
    .collectFirst { case (mod, es) if es.exists(_.name == name) => mod }
    .getOrElse("other")

  def sample: Seq[String] =
    SparkEntry.oracleSql.keys.toSeq.groupBy(moduleOf).values
      .flatMap(_.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n })
      .toSeq.sorted

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def run(r: Run): Outcome = {
    val spark = r.spark
    val queries = SparkEntry.queries
    val names = sample
    val data = s"${r.data}/sf0.01"
    // Set-up. Warm-up: the first few oracle-backed entries outside the
    // sample, on the sf0.001 tables. The first query in a JVM pays its JIT
    // warm-up (the first timed entry took 3.3 s, about 5x its own cost) and
    // this moves that to set-up; every memo is keyed by the data
    // directory, so it fills none the timed pass would reuse. Then three
    // footer reads of the timed tables.
    val warmS = PerfBench.timed(SparkEntry.oracleSql.keys.toSeq.sorted
      .filterNot(names.contains).take(warmUps).foreach { name =>
        try queries(name)(spark, s"${r.data}/sf0.001").collect()
        catch { case NonFatal(_) => () }
        spark.catalog.clearCache()
      })
    val setups = (1 to 3).map(_ => PerfBench.timed(tables.foreach(t =>
      spark.read.parquet(s"$data/$t.parquet").schema)))
    val tracer = if (r.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val start = tracer.map(_.snap())

    val build, action, jobs, shuffle =
      scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val latencies = Vector.newBuilder[Double]
    val out = s"${r.work}/results"
    val written = Vector.newBuilder[String]
    val notes = Vector.newBuilder[String]
    var attempted, failures = 0
    var passes = 0
    var measured = 0.0
    // whole passes until the measured time reaches the run length
    while (passes == 0 || measured < r.seconds) {
      names.foreach { name =>
        attempted += 1
        val before = tracer.map(_.snap())
        val t0 = System.nanoTime()
        try {
          val df = queries(name)(spark, data)
          val b = PerfBench.secs(t0)
          val t1 = System.nanoTime()
          val rows = df.collect()
          val a = PerfBench.secs(t1)
          latencies += b + a
          if (passes == 0) notes += f"$name%-28s ${b + a}%.3f s"
          measured += b + a
          val mod = moduleOf(name)
          build(mod) += b
          action(mod) += a
          tracer.foreach { t =>
            val d = t.snap() - before.get
            jobs(mod) += d.jobs
            shuffle(mod) += d.shuffleWrite / 1048576.0
          }
          // the timed rows, kept for the oracle compare (outside the time)
          if (passes == 0) {
            def write(): Unit =
              spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                .coalesce(1).write.parquet(s"$out/$name")
            tracer.fold(write())(_.paused(write()))
            written += name
          }
        } catch {
          case NonFatal(e) =>
            failures += 1
            notes += s"$name threw: ${String.valueOf(e).take(300)}"
        }
        // a query may persist intermediates; release them outside its time
        spark.catalog.clearCache()
      }
      passes += 1
    }
    val m = new Metrics
    val lat = latencies.result()
    PerfBench.putE2e(m, r, r.sessionS + warmS + PerfBench.median(setups),
      lat.size / lat.sum, lat)
    tracer.foreach { t =>
      val d = t.snap() - start.get
      t.stop()
      Tracer.zeros(m)
      Tracer.modules.foreach { mod =>
        m.put(s"query.$mod.build_s", build(mod) / passes, "s")
        m.put(s"query.$mod.action_s", action(mod) / passes, "s")
        m.put(s"query.$mod.jobs", jobs(mod) / passes, "count")
        m.put(s"query.$mod.shuffle_mb", shuffle(mod) / passes, "MB")
      }
      t.sparkMetrics(d, m)
      t.catalystMetrics(m)
      t.streamMetrics(m)
    }

    Files.createDirectories(Paths.get(out))
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), written.result()
      .map(n => s"${Json.str(n)}: ${Json.str(oracle(n))}").mkString("{", ", ", "}"))
    notes += s"queries: ${names.mkString(" ")}"
    notes += s"queries: ${names.size} entries x $passes pass(es), " +
      s"${lat.size} latency samples"
    Outcome(attempted, failures, m, notes.result(),
      checks = s"""{"results": ${Json.str(out)}, "data": ${Json.str(data)}}""")
  }
}
