package perfbench

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.crawl._
import graft.crawl.CrawlLoop.{CrawlConfig, ParsedRow, RoundFetch}
import graft.model.Validators
import graft.tables.Glacier

/** `crawl_wide`: `CrawlLoop.run` over the synthetic seven-source web of
  * `graft.CrawlBench` at 1/20 of its volume, with its full politeness
  * budgets, for three rounds: every round takes all the work the web
  * offers, so per-URL work (fetch, parse+validate, the links first-wins
  * shuffle, the seen-probe) has its largest share of any crawl one run can
  * afford. Per-round fixed cost (jobs, drain, commit) is still most of the
  * time at this size; perfbench/README.md gives the measured split.
  *
  * Set-up is a two-round warm-up crawl of a web 1/10 the size, then the
  * bootstrap snapshot, made by running the loop with `maxRounds = 0` into
  * a fresh root; the timed `CrawlLoop.run` resumes from it. Outputs are
  * checked against `ReferenceCrawl.run` for the same seed and config: the
  * crawl-order log and the URL-seen set must be equal.
  */
object CrawlWorkload {
  private val fileTypes =
    Seq("gro", "mdp", "xtc", "top", "trr", "itp", "tpr", "cpt")
  private val benchBudget = Map("zenodo" -> 16000, "figshare" -> 12000,
    "osf" -> 12000, "nomad" -> 200, "gpcrmd" -> 4000, "mddb" -> 3200,
    "atlas" -> 2000)

  /** `graft.CrawlBench`'s web at 1/`div` of its volume. */
  def config(seed: Long, root: String, div: Int = 20): CrawlConfig = CrawlConfig(
    RepoConfig(seed = seed, universe = 30000 / div, fileTypes = fileTypes,
      pageSize = 100, maxHitsPerQuery = 10000, cursorPages = 4,
      gpcrmdCount = 1000 / div, mddbCount = 1600 / div,
      atlasCount = 800 / div),
    benchBudget, maxRounds = 3, root, salts = 8, bloomShards = 64,
    bloomExpectedPerShard = 1L << 16)

  /** Bootstraps per run; set-up time is their median. */
  private val setupsPerRun = 3

  /** Timed crawls per run, at least. Two give each round two latency
    * samples, so p50 and p90 are not single rounds. */
  private val crawlsPerRun = 2

  final case class Crawl(g: Glacier, secs: Double, urls: Long,
                         roundSecs: Seq[Double])

  def run(r: Run): Outcome = {
    val spark = r.spark
    // AQE off for the BSP loop, as graft.Bench and graft.CrawlBench run it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    var sparkD = SparkSnap.zero
    val setups = Vector.newBuilder[Double]
    val crawls = Vector.newBuilder[Crawl]
    val errors = Vector.newBuilder[String]
    def bootstrap(i: Int): CrawlConfig = {
      val cfg = config(r.seed, s"${r.work}/crawl-$i")
      val tb = System.nanoTime()
      CrawlLoop.run(spark, cfg.copy(maxRounds = 0))
      setups += PerfBench.secs(tb)
      cfg
    }
    // Warm-up: two rounds of a web 1/10 the size (other pages, so no
    // result is reused) run every stage of a round once, so the JIT and
    // code-generation cost of a JVM's first crawl falls on set-up. Without
    // it the timed first round took 11-13 s against 3-4 s for later ones.
    val warmS = PerfBench.timed(CrawlLoop.run(spark,
      config(r.seed, s"${r.work}/warm-up", div = 200).copy(maxRounds = 2)))
    val ready = (0 until setupsPerRun).map(bootstrap)
    System.gc()
    val tracer = if (r.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    var measured = 0.0
    var i = 0
    // whole crawls until the measured time reaches the run length; a crawl
    // that throws ends the run (its failure is counted, never timed)
    var stop = false
    while (!stop && (i < crawlsPerRun || measured < r.seconds)) {
      try {
        val cfg = if (i < ready.size) ready(i) else bootstrap(i)
        val before = tracer.map(_.snap())
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val g = CrawlLoop.run(spark, cfg)
        val secs = PerfBench.secs(t0)
        tracer.foreach { t => sparkD += t.snap() - before.get }
        measured += secs
        crawls += Crawl(g, secs, g.rowCount("crawl_log"), roundSeconds(g, startMs))
      } catch {
        case e: Exception =>
          errors += s"crawl $i threw: $e"
          stop = true
      }
      i += 1
    }
    val done = crawls.result()
    val m = new Metrics
    val setupSamples = setups.result()
    val rounds = done.flatMap(_.roundSecs)
    PerfBench.putE2e(m, r,
      r.sessionS + warmS + PerfBench.median(setupSamples),
      PerfBench.median(done.map(c => c.urls / c.secs)), rounds)

    if (r.trace) {
      val t = tracer.get
      t.stop()
      Tracer.zeros(m)
      done.headOption.foreach { c =>
        layerMetrics(spark, c, config(r.seed, c.g.root),
          s"${r.work}/commit-scratch", m)
      }
      t.sparkMetrics(sparkD, m)
      val nRounds = math.max(1, done.map(c => roundManifests(c.g).size).sum)
      m.put("crawl.jobs_per_round", sparkD.jobs.toDouble / nRounds, "count")
      m.put("crawl.tasks_per_round", sparkD.tasks.toDouble / nRounds, "count")
    }

    // ---- outputs against the sequential reference (outside all timing) --
    val ref = reference(r.seed, r.cacheDir)
    val mismatches = done.map(c => parity(spark, c.g, ref))
    val errs = errors.result()
    Outcome(attempted = done.size + errs.size,
      failed = errs.size + mismatches.count(_.nonEmpty),
      m, errs ++ mismatches.zipWithIndex.flatMap { case (ms, k) =>
        ms.map(msg => s"crawl $k: $msg") } :+
        s"crawl_wide: ${done.size} crawl(s), ${done.map(_.urls).sum} URLs, " +
        s"rounds ${done.map(_.roundSecs.mkString("/")).mkString(" ")} s, " +
        s"warm-up $warmS s, setups ${setupSamples.mkString("/")} s, reference ${ref._1.size} log rows")
  }

  private def roundManifests(g: Glacier): Seq[Glacier.Manifest] =
    g.history.filter(_.note.startsWith("round "))

  /** Per-round latency: the time between successive round snapshots
    * becoming current (the manifest file's write time), the first measured
    * from the start of the timed `CrawlLoop.run`. */
  private def roundSeconds(g: Glacier, startMs: Long): Seq[Double] = {
    val flips = roundManifests(g).map { m =>
      Files.getLastModifiedTime(Paths.get(g.root, "meta",
        s"snap-${m.snapshotId}.json")).toMillis
    }
    (startMs +: flips).sliding(2).collect { case Seq(a, b) => (b - a) / 1e3 }
      .toSeq
  }

  // ---- per-layer attribution (traced run only) ------------------------------

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The tables a snapshot wrote (its files differ from its parent's). */
  private def written(hist: Seq[Glacier.Manifest], sm: Glacier.Manifest)
      : Seq[(String, Glacier.TableState, Option[Glacier.TableState])] = {
    val parent = sm.parentId.flatMap(id => hist.find(_.snapshotId == id))
    sm.tables.toSeq.sortBy(_._1).flatMap { case (table, st) =>
      val before = parent.flatMap(_.tables.get(table))
      if (before.map(_.files).contains(st.files)) None
      else Some((table, st, before))
    }
  }

  final case class FetchIn(url: String, host: String, depth: Int,
                           seqInRound: Int)

  /** Re-invoke each crawl layer's public function on the inputs each
    * round saw, read back from the crawl's own snapshots, and time it. */
  private def layerMetrics(spark: SparkSession, c: Crawl, cfg: CrawlConfig,
                           scratch: String, m: Metrics): Unit = {
    import spark.implicits._
    val g = c.g
    val rounds = roundManifests(g)
    val hist = g.history
    val par = spark.sparkContext.defaultParallelism
    val fetchClient = cfg.fetcher
    val scratchG = new Glacier(scratch)
    var drain, fetch, parse, probe, commit = 0.0
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    try rounds.foreach { rm =>
      val round = rm.metrics("round").toInt
      val prev = rm.parentId.get
      val pending = g.rowCount("frontier", Some(prev))
      // the loop sizes each round's shuffles to its pending volume
      spark.conf.set("spark.sql.shuffle.partitions", math.max(2,
        math.min(par, ((pending + 255) / 256).toInt)).toString)

      drain += PerfBench.timed {
        val (withSeq, release) = CrawlLoop.drainSelectManaged(
          g.read(spark, "frontier", Some(prev)).get, cfg.hostBudget, cfg.salts)
        noop(withSeq)
        release()
      }

      val tasks = g.read(spark, "crawl_log", Some(rm.snapshotId)).get
        .filter(col("round") === round)
        .select("url", "host", "depth", "seqInRound").as[FetchIn]
      val fetched = tasks.repartition(par, xxhash64(col("url")))
        .mapPartitions(_.map { t =>
          val p = fetchClient.fetch(t.url)
          RoundFetch(t.url, t.host, t.depth, t.seqInRound, 0, p.status,
            p.attempts, p.doc, p.links)
        }).persist(StorageLevel.MEMORY_AND_DISK)
      fetch += PerfBench.timed(noop(fetched.toDF()))

      val ok = fetched.filter(col("status") === 200)
      parse += PerfBench.timed(noop(ok.flatMap { f =>
        PageParser.parseDatasets(f.host, f.doc).map(Validators.validateDataset)
          .zipWithIndex.map { case (e, i) =>
            ParsedRow(f.seqInRound, i, 0, e.toOption, None, None, e.isLeft) } ++
        PageParser.parseFiles(f.host, f.doc).map(Validators.validateFile)
          .zipWithIndex.map { case (e, i) =>
            ParsedRow(f.seqInRound, i, 1, None, e.toOption, None, e.isLeft) } ++
        PageParser.parseHeadSizes(f.doc).zipWithIndex.map { case (h, i) =>
          ParsedRow(f.seqInRound, i, 2, None, None, Some(h), bad = false) }
      }.toDF()))

      // the probe's candidates: robots/depth-gated links, first-wins per url
      val candidates = ok
        .select(col("seqInRound"), col("depth"), explode(col("links")).as("l"))
        .select(col("seqInRound"), col("depth"), col("l.url").as("url"),
          col("l.ordinal").as("ordinal"), col("l.score").as("score"))
        .filter(!(startswith(col("url"), lit("osf://node/")) && col("depth") >= 3))
        .filter(Robots.allowedCol(col("url")))
        .groupBy(col("url"))
        .agg(min(struct(col("seqInRound"), col("ordinal"), col("depth"),
          col("score"))).as("w"))
        .select(col("w.seqInRound").as("seqInRound"), col("w.depth").as("depth"),
          col("url"), col("w.ordinal").as("ordinal"), col("w.score").as("score"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      noop(candidates)
      probe += PerfBench.timed(noop(SeenSet.filterNewWith(candidates,
        g.read(spark, "bloom", Some(prev)).get,
        g.read(spark, "seen", Some(prev)).get, cfg.bloomShards, cfg.sketch)))
      candidates.unpersist(blocking = true)
      fetched.unpersist(blocking = true)

      // the round's table writes, committed again into a scratch root
      val writes = written(hist, rm).map { case (table, st, before) =>
        val replace = table == "frontier"
        val rows = st.rows - (if (replace) 0L else before.map(_.rows).getOrElse(0L))
        scratchG.TableWrite(table, spark.read.parquet(st.files.last),
          if (replace) scratchG.Replace else scratchG.Append, Some(() => rows))
      }
      commit += PerfBench.timed(scratchG.commit(spark, writes, rm.metrics, rm.note))
    } finally spark.conf.set("spark.sql.shuffle.partitions", partsBefore)

    val metrics = rounds.map(_.metrics)
    def total(k: String): Double = metrics.map(_.getOrElse(k, 0L)).sum.toDouble
    val fetchedN = total("fetched")
    val enq = total("enqueued")
    val hits = total("seen_hits")
    val dup = total("dup_in_round")
    m.put("crawl.rounds", rounds.size, "count")
    m.put("crawl.fetched", fetchedN, "count")
    m.put("crawl.enqueued", enq, "count")
    m.put("crawl.fetch.ok_ratio", total("ok") / math.max(1.0, fetchedN), "ratio")
    m.put("crawl.fetch.attempts_per_url",
      total("attempts") / math.max(1.0, fetchedN), "ratio")
    m.put("crawl.seen.new_ratio", enq / math.max(1.0, enq + hits), "ratio")
    m.put("crawl.links.dup_ratio", dup / math.max(1.0, dup + hits + enq), "ratio")
    m.put("crawl.sketch_fill_max_pct",
      metrics.map(_.getOrElse("sketch_fill_max_pct", 0L)).maxOption
        .getOrElse(0L).toDouble, "%")
    m.put("crawl.drain_s", drain, "s")
    m.put("crawl.fetch_s", fetch, "s")
    m.put("crawl.parse_s", parse, "s")
    m.put("crawl.seen_probe_s", probe, "s")
    m.put("crawl.unattributed_s",
      c.roundSecs.sum - drain - fetch - parse - probe - commit, "s")
    m.put("glacier.commit_s", commit, "s")

    // bytes and part files each snapshot wrote; the part files of the
    // append-only seen/bloom tables a next round would list and open
    val parts = hist.flatMap(written(hist, _)).flatMap(_._2.partitions)
    def partFiles(table: String): Double = g.currentManifest
      .flatMap(_.tables.get(table)).map(_.files.map { dir =>
        scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")))
      }.sum).getOrElse(0).toDouble
    m.put("glacier.bytes_written_mb", parts.map(_.bytes).sum / 1048576.0, "MB")
    m.put("glacier.files_written", parts.size, "count")
    m.put("glacier.seen_files", partFiles("seen"), "count")
    m.put("glacier.bloom_files", partFiles("bloom"), "count")
  }

  // ---- correctness ----------------------------------------------------------

  type Ref = (Vector[LogEntry], Set[String])

  /** The reference crawl for this workload and seed, computed once and kept
    * in the build's cache directory (it costs as much as the crawl). */
  private def reference(seed: Long, cacheDir: String): Ref = {
    val file = Paths.get(cacheDir, s"crawl_wide-$seed.ref")
    if (Files.exists(file))
      scala.util.Using.resource(new ObjectInputStream(Files.newInputStream(file)))(
        _.readObject().asInstanceOf[Ref])
    else {
      val cfg = config(seed, "")
      val res = ReferenceCrawl.run(cfg.repo, cfg.hostBudget, cfg.maxRounds)
      val ref: Ref = (res.log, res.seen)
      Files.createDirectories(file.getParent)
      val tmp = Files.createTempFile(file.getParent, "ref", ".tmp")
      scala.util.Using.resource(new ObjectOutputStream(Files.newOutputStream(tmp)))(
        _.writeObject(ref))
      Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ref
    }
  }

  /** Mismatches of one crawl's log and seen set against the reference. */
  private def parity(spark: SparkSession, g: Glacier, ref: Ref): Seq[String] = {
    val log = g.read(spark, "crawl_log").get.orderBy("round", "seqInRound")
      .collect().map(r => LogEntry(r.getAs[Int]("round"),
        r.getAs[Int]("seqInRound"), r.getAs[String]("url"),
        r.getAs[String]("host"), r.getAs[Int]("depth"),
        r.getAs[Int]("status"), r.getAs[Int]("nLinks"),
        r.getAs[Int]("attempts"), r.getAs[Double]("sched_sec"))).toVector
    val seen = g.read(spark, "seen").get.select("url").collect()
      .map(_.getString(0)).toSet
    val logMsg =
      if (log == ref._1) Nil
      else {
        val at = log.zip(ref._1).indexWhere { case (a, b) => a != b }
        Seq(s"crawl-order log differs (${log.size} vs ${ref._1.size} rows, " +
          s"first difference at ${if (at < 0) math.min(log.size, ref._1.size) else at})")
      }
    val seenMsg =
      if (seen == ref._2) Nil
      else Seq(s"seen set differs (${seen.size} vs ${ref._2.size} urls)")
    logMsg ++ seenMsg
  }
}
