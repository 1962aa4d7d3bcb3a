package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.{BenchDirs, QueryEntry, Tables}
import graft.streaming.StreamingDedup.DocEvent
import graft.streaming.StreamingSessionize.SessionEvent

/** One replayed event for the windowed-aggregation entry. */
final case class WindowEvent(ts: Timestamp, event_type: String, value: Double)

/** One replayed event for the stream-static enrichment entry. */
final case class EnrichEvent(ts: Timestamp, user_id: Long, value: Double)

/** One replayed event for the native-session-window entry. */
final case class SessEvent(ts: Timestamp, user_id: Long, value: Double)

/** One replayed click / view for the stream-stream join entry. */
final case class ClickEv(cts: Timestamp, c_user: Long, click_id: Long)
final case class ViewEv(vts: Timestamp, v_user: Long, view_id: Long)

/** Driver-visible correctness artifact for the streaming surface: replay a
  * deterministic event table through the REAL streaming engine
  * (`MemoryStream` micro-batches + `processAllAvailable`) and hand the
  * verdict table to the DuckDB oracle — streaming output becomes a hashed
  * CORRECTNESS row instead of trust-the-spec.
  *
  * Reference semantics anchor: cumulative first-wins membership
  * (download_files.py:142-187), the same rule `DedupOps.exactDedup`
  * checks in batch.
  *
  * This is a replay HARNESS, not a scale path: the sf table is collected
  * to the driver once to feed MemoryStream (the only way to drive
  * deterministic micro-batch boundaries), so it stays out of Bench's
  * headline set. The operators under test ([[StreamingDedup
  * .exactDedupStream]], [[StreamingSessionize.sessionizeStream]], the
  * built-in window / join / session_window aggregates, [[GlacierSink]])
  * are the scale paths. Every entry runs through [[replay]]; an entry
  * only names its events, its query body, its slices and its sentinel.
  */
object StreamQueries {

  /** Fixed epoch base so event times are bit-deterministic. */
  private val EpochBaseMs = 1700000000000L

  /** Default replay slice: four weeks of event time per micro-batch. */
  private val SliceMs = 28L * 86400000L

  /** Far-future flush-sentinel offset past the max real event time. */
  private val FlushMs = 52L * SliceMs

  /** Streaming checkpoints on tmpfs when available — the replay measures
    * the engine, not one shared local disk (same reasoning as Bench's
    * spark.local.dir). ONE delete-on-exit base per JVM (one shutdown hook,
    * one dir pinned in /dev/shm — a SIGKILL leaks at most this single
    * tree), with a fresh numbered subdir per stream start that [[replay]]
    * deletes once its query stops. */
  private[graft] lazy val checkpointBase: String =
    BenchDirs.scratchDir("stream-replay-ckpt")
  private val checkpointSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** THE start/feed/stop path every entry shares: start `out` through
    * `sink` on a fresh checkpoint, run each feed step followed by
    * `processAllAvailable()`, then stop the query and delete its
    * checkpoint, whatever happened.
    *
    * The streaming shuffle is pinned to 4 partitions around `start()`
    * (the query captures the conf there; the session value is restored
    * right after, so batch queries are unaffected). The replay streams
    * carry hundreds-to-thousands of state keys, and each micro-batch pays
    * a state-store commit PER PARTITION — at the bench's 32 session
    * partitions that's pure fixed overhead. Measured at sf0.1 (best-of-3,
    * 4-week slices): 16 parts → stream-stream 8.9 s, 8 → 5.5, 4 → 3.8,
    * 2 → 3.5 — commit count dominates until the per-partition join/agg
    * work re-balances, so 4 is the knee. A production stream sizes this
    * to its real key volume instead.
    *
    * Slices: event-time-ordered [[SliceMs]] slices, because batch count —
    * not row count — dominates a replay (daily batching measured 31
    * batches ≈ 50 s at sf0.1; weekly ≈ 5). The emitted sets are
    * slice-size-invariant: within-slice disorder never drops, since drops
    * are judged against the PREVIOUS batch's watermark, which trails the
    * next slice's data.
    *
    * Sentinels: an entry whose output waits on the watermark (windows,
    * sessions) ends with one far-future flush event past the max real
    * event time, so every real window / session closes and Append emits
    * it. The sentinel's own window never closes (the watermark never
    * passes it); entries still drop its rows by time or sign, never by a
    * value a real event could carry. An empty table gives no slices and
    * no sentinel.
    */
  private def replay(out: DataFrame, steps: Seq[() => Unit])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val s = out.sparkSession
    val ckpt = s"$checkpointBase/q${checkpointSeq.incrementAndGet()}"
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "4")
    val q =
      try sink(out.writeStream.option("checkpointLocation", ckpt)).start()
      finally s.conf.set(key, prev)
    try steps.foreach { step => step(); q.processAllAvailable() }
    finally {
      q.stop()
      BenchDirs.deleteTree(java.nio.file.Paths.get(ckpt))
    }
  }

  /** [[replay]] into an append-mode memory sink named `<name>_sink`;
    * returns the sink's rows as a local DataFrame with the sink's own
    * schema, detached from the stopped stream. */
  private def toMemory(name: String, out: DataFrame,
      steps: Seq[() => Unit]): DataFrame = {
    val s = out.sparkSession
    val sinkName = s"${name}_sink"
    s.catalog.dropTempView(sinkName)
    try {
      replay(out, steps)(
        _.format("memory").queryName(sinkName).outputMode("append"))
      val sunk = s.table(sinkName)
      s.createDataFrame(sunk.collectAsList(), sunk.schema)
    } finally s.catalog.dropTempView(sinkName)
  }

  /** `rows` in event-time order, one batch per `widthMs` slice. */
  private def slices[T](rows: Seq[T], widthMs: Long = SliceMs)(
      ms: T => Long): Seq[Seq[T]] =
    rows.groupBy(ms(_) / widthMs).toSeq.sortBy(_._1).map(_._2)

  /** One feed step per batch. */
  private def feed[T](mem: MemoryStream[T],
      batches: Seq[Seq[T]]): Seq[() => Unit] =
    batches.map(b => () => { mem.addData(b); () })

  def entries: Seq[QueryEntry] = Seq(
    QueryEntry(
      "q_stream_dedup_replay",
      (s, dir) => {
        import s.implicits._
        // deterministic event stream: ts = base + (doc_id % 100) s, fed in
        // two ts-ordered micro-batches (50 s buckets) so cross-batch
        // arrival order == global (ts, docId) order and the SQL oracle's
        // window rank reproduces first-wins exactly (the dedup kernel
        // sorts each group by (ts, docId), so the verdict set is
        // bucket-size-invariant — two batches still exercise cross-batch
        // state while keeping micro-batch overhead off the bench)
        val events = Tables.t(s, dir, "documents")
          .select(col("doc_id").cast("long"), col("text"))
          .collect().toSeq
          .map { r =>
            val id = r.getLong(0)
            DocEvent(new Timestamp(EpochBaseMs + (id % 100) * 1000L),
              id.toString, r.getString(1))
          }
        val mem = MemoryStream[DocEvent](s)
        // snake_case names so the SQL side needs no quoting (`unique` is
        // a keyword)
        toMemory("q_stream_dedup_replay",
          StreamingDedup.exactDedupStream(mem.toDS())
            .toDF("doc_id", "content_hash", "is_unique", "keep_id"),
          feed(mem, slices(events, 50000L)(_.ts.getTime)))
          .orderBy("doc_id")
      },
      Some("""WITH ev AS (
            SELECT CAST(doc_id AS VARCHAR) AS did, md5(text) AS h,
                   doc_id % 100 AS tsec
            FROM documents),
          ranked AS (
            SELECT did, h,
              row_number() OVER (PARTITION BY h ORDER BY tsec, did) AS rn,
              first_value(did) OVER (PARTITION BY h ORDER BY tsec, did) AS keeper
            FROM ev)
          SELECT did AS doc_id, h AS content_hash, rn = 1 AS is_unique,
                 keeper AS keep_id
          FROM ranked ORDER BY doc_id"""),
    ),

    // ---- watermarked tumbling-window aggregation through the real engine --
    // The second canonical streaming op (after stateful dedup): 6-hour
    // tumbling windows over the events table, counted per (window,
    // event_type) in Append mode behind a 1-hour watermark. The sentinel
    // is dropped by TIME, never by event_type (a real event type named
    // "flush" must survive): every real window starts at or before the max
    // real event ts. The oracle is a plain DuckDB epoch-floor rollup.
    QueryEntry(
      "q_stream_window_counts",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("event_type"),
            col("value").cast("double"))
          .as[WindowEvent].collect().toSeq
        val maxTs = rows.map(_.ts.getTime).maxOption
        val mem = MemoryStream[WindowEvent](s)
        val agg = mem.toDS()
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "6 hours"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,6)")).as("total_dec"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"),
            col("total_dec").cast("double").as("total"))
        toMemory("q_stream_window_counts", agg,
          feed(mem, slices(rows)(_.ts.getTime) ++ maxTs.map(m =>
            Seq(WindowEvent(new Timestamp(m + FlushMs), "flush", 0.0)))))
          .filter(col("window_start") <= new Timestamp(maxTs.getOrElse(0L)))
          .orderBy("window_start", "event_type")
      },
      Some("""WITH b AS (SELECT
            TIMESTAMP '1970-01-01 00:00:00'
              + CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                * INTERVAL 1 SECOND AS window_start,
            event_type, value
          FROM events)
        SELECT window_start, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),

    // ---- stream-static broadcast enrichment through the real engine --------
    // The fourth canonical streaming op: the event stream joined to a
    // STATIC dimension (a crawl enriching fetched URLs with host metadata).
    // The static side is a plain batch DataFrame — Structured Streaming
    // re-plans and broadcasts it under the stream side every micro-batch;
    // the join itself holds NO state, only the downstream windowed count
    // does. The flush sentinel (user -1) advances the watermark from the
    // SOURCE even though the inner join drops its row. Oracle = plain
    // batch join + epoch-floor rollup.
    QueryEntry(
      "q_stream_static_join",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("value").cast("double"))
          .as[EnrichEvent].collect().toSeq
        // pinned while the replay runs: the engine re-plans and
        // re-broadcasts the static side EVERY micro-batch — serve those
        // rebuilds from the block cache instead of re-reading parquet
        val dim = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val mem = MemoryStream[EnrichEvent](s)
          val agg = mem.toDS()
            .withWatermark("ts", "1 hour")
            .join(broadcast(dim), col("user_id") + 1 === col("c_custkey"))
            .groupBy(window(col("ts"), "6 hours"), col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(28,6)")).as("total_dec"))
            .select(col("window.start").as("window_start"),
              col("c_mktsegment").as("segment"), col("n"),
              col("total_dec").cast("double").as("total"))
          toMemory("q_stream_static_join", agg,
            feed(mem, slices(rows)(_.ts.getTime) ++
              rows.map(_.ts.getTime).maxOption.map(m =>
                Seq(EnrichEvent(new Timestamp(m + FlushMs), -1L, 0.0)))))
            .orderBy("window_start", "segment")
        } finally dim.unpersist()
      },
      Some("""WITH b AS (SELECT
            TIMESTAMP '1970-01-01 00:00:00'
              + CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)
                * INTERVAL 1 SECOND AS window_start,
            c_mktsegment AS segment, value
          FROM events JOIN customer ON user_id + 1 = c_custkey)
        SELECT window_start, segment, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
        FROM b GROUP BY 1, 2 ORDER BY 1, 2"""),
    ),

    // ---- stream-stream interval join through the real engine ---------------
    // The fifth canonical streaming op: TWO live streams (clicks, views)
    // inner-joined on user within a 24-hour event-time interval —
    // click-to-view attribution. Both sides carry watermarks and the join
    // condition bounds both event times, so Spark derives the state
    // retention window per side and evicts joined state as the watermarks
    // advance (unbounded state otherwise — the classic stream-join trap).
    // Inner join in Append emits each matched pair in the micro-batch where
    // both rows are present; replaying both streams in lockstep slices
    // makes the emitted SET the full join result, so no flush sentinel is
    // needed (watermarks only bound state here, never output). Oracle =
    // the plain batch interval join.
    QueryEntry(
      "q_stream_stream_join",
      (s, dir) => {
        import s.implicits._
        val (c, v) = Tables.t(s, dir, "events")
          .filter(col("event_type").isin("click", "view"))
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("event_id"), col("event_type"))
          .collect().toSeq
          .partition(_.getString(3) == "click")
        val clicks = c.map(r => ClickEv(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
          .groupBy(_.cts.getTime / SliceMs)
        val views = v.map(r => ViewEv(r.getTimestamp(0), r.getLong(1), r.getLong(2)))
          .groupBy(_.vts.getTime / SliceMs)
        val memC = MemoryStream[ClickEv](s)
        val memV = MemoryStream[ViewEv](s)
        val joined = memC.toDS().withWatermark("cts", "1 hour")
          .join(memV.toDS().withWatermark("vts", "1 hour"),
            expr("""c_user = v_user AND
                    vts >= cts AND vts <= cts + interval 24 hours"""))
          .select(col("click_id"), col("view_id"),
            col("c_user").as("user_id"),
            (unix_micros(col("vts")) - unix_micros(col("cts"))).as("gap_us"))
        toMemory("q_stream_stream_join", joined,
          (clicks.keySet ++ views.keySet).toSeq.sorted.map(w => () => {
            memC.addData(clicks.getOrElse(w, Nil))
            memV.addData(views.getOrElse(w, Nil))
            ()
          }))
          .orderBy("click_id", "view_id")
      },
      Some("""WITH a AS (SELECT event_id AS click_id, ts AS cts, user_id
              FROM events WHERE event_type = 'click'),
            b AS (SELECT event_id AS view_id, ts AS vts, user_id
              FROM events WHERE event_type = 'view')
          SELECT a.click_id, b.view_id, a.user_id,
            epoch_us(vts) - epoch_us(cts) AS gap_us
          FROM a JOIN b ON a.user_id = b.user_id
            AND vts >= cts AND vts <= cts + INTERVAL 24 HOUR
          ORDER BY click_id, view_id"""),
    ),

    // ---- exactly-once Glacier sink through the real engine -----------------
    // Streaming ingestion INTO the snapshot layer ([[GlacierSink]]): the
    // events table replayed through foreachBatch, each micro-batch an
    // atomic Glacier commit carrying its batch id. After the stream
    // stops, batch 0 is re-delivered by hand (the crash-replay shape) —
    // the sink must skip it, and the ORACLE proves it: any duplicate rows
    // would break the hashed row-count/values against the plain table
    // read. This turns the exactly-once write path into a CORRECTNESS row
    // instead of trust-the-spec (`GlacierSinkSpec` covers the mechanics).
    // The Glacier root outlives the replay: the returned frame reads it.
    QueryEntry(
      "q_stream_sink_replay",
      (s, dir) => {
        import s.implicits._
        val events = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("event_id"),
            col("user_id"), col("value").cast("double"))
        val batches = slices(events.as[(Timestamp, Long, Long, Double)]
          .collect().toSeq)(_._1.getTime)
        val g = new graft.tables.Glacier(BenchDirs.scratchDir("stream-sink"))
        val mem = MemoryStream[(Timestamp, Long, Long, Double)](s)
        def named(df: DataFrame) = df.toDF("ts", "event_id", "user_id", "value")
        replay(named(mem.toDF()), feed(mem, batches))(
          _.foreachBatch(GlacierSink.appendBatch(g, "events_sink") _))
        // crash-replay: re-deliver batch 0 with its original id — the
        // sink's high-water mark skips it; duplicates would fail the hash
        batches.headOption.foreach(b => GlacierSink.appendBatch(
          g, "events_sink")(named(s.createDataset(b).toDF()), 0L))
        // an empty table commits nothing: its empty frame has the same
        // columns
        g.read(s, "events_sink").getOrElse(events.limit(0))
          .select(col("event_id"), col("user_id"), col("value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, value FROM events
          ORDER BY event_id"""),
    ),

    // ---- stateful gap sessionization through the real engine ---------------
    // The third canonical streaming op: 30-min-gap sessions per user via
    // flatMapGroupsWithState with event-time timeouts
    // ([[StreamingSessionize]]). The oracle is the BATCH sessionizer's SQL
    // verbatim — the stream must reproduce the batch rollups (ordinals,
    // decimal-exact sums) exactly. The sentinel (user -1) times out every
    // real user's open session; its own output is excluded by TIME (its
    // session starts years past the max real ts).
    QueryEntry(
      "q_stream_sessionize_replay",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id").as("userId"),
            col("event_id").as("eventId"), col("value").cast("double"))
          .as[SessionEvent].collect().toSeq
        val maxMs = rows.map(_.ts.getTime).maxOption
        val mem = MemoryStream[SessionEvent](s)
        toMemory("q_stream_sessionize_replay",
          StreamingSessionize.sessionizeStream(mem.toDS()).toDF(),
          feed(mem, slices(rows)(_.ts.getTime) ++ maxMs.map(m =>
            Seq(SessionEvent(new Timestamp(m + FlushMs), -1L, 0L, 0.0)))))
          .filter(col("start_us") <= maxMs.getOrElse(0L) * 1000L + 999L)
          .orderBy("user_id", "session_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
              FROM events),
            f AS (SELECT *,
              CASE WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_us, event_id)),
            g AS (SELECT *,
              CAST(sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM f)
          SELECT user_id, session_id, count(*) AS n_events,
            min(ts_us) AS start_us, max(ts_us) AS end_us,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
            max(ts_us) - min(ts_us) AS duration_us
          FROM g GROUP BY user_id, session_id
          ORDER BY user_id, session_id"""),
    ),

    // ---- NATIVE session windows through the real engine ---------------------
    // The same 30-min-gap sessions driven by Spark's BUILT-IN
    // session_window aggregate instead of custom flatMapGroupsWithState
    // state (the Spark-first preference order: built-in operator before
    // hand-rolled state). The engine keeps ONE merged session per (user,
    // gap-run) in the state store, extends/merges as events arrive, and
    // finalizes when the watermark passes session end. Merge rule
    // (diff <= gap joins the run) matches the batch lag-rule twin exactly,
    // so the oracle is the same lag + running-sum SQL aggregated to session
    // bounds (end = max ts + gap = session_window.end). The sentinel (user
    // -1, a year out, dropped by sign) closes every real session.
    QueryEntry(
      "q_stream_session_window",
      (s, dir) => {
        import s.implicits._
        val rows = Tables.t(s, dir, "events")
          .select(col("ts").cast("timestamp"), col("user_id"),
            col("value").cast("double"))
          .as[SessEvent].collect().toSeq
        val mem = MemoryStream[SessEvent](s)
        val agg = mem.toDS()
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(28,6)")).as("total_dec"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("start_us"),
            unix_micros(col("session_window.end")).as("end_us"),
            col("n_events"),
            col("total_dec").cast("double").as("total_value"))
        toMemory("q_stream_session_window", agg,
          feed(mem, slices(rows)(_.ts.getTime) ++
            rows.map(_.ts.getTime).maxOption.map(m => Seq(SessEvent(
              new Timestamp(m + 365L * 86400000L), -1L, 0.0)))))
          .filter(col("user_id") >= 0)
          .orderBy("user_id", "start_us")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
              value FROM events),
            f AS (SELECT *,
              CASE WHEN lag(ts_us) OVER w IS NULL
                     OR ts_us - lag(ts_us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_us, event_id)),
            g AS (SELECT *,
              CAST(sum(new_session) OVER (PARTITION BY user_id
                ORDER BY ts_us, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM f)
          SELECT user_id, min(ts_us) AS start_us,
            max(ts_us) + 1800000000 AS end_us, count(*) AS n_events,
            CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
          FROM g GROUP BY user_id, sid ORDER BY user_id, start_us"""),
    ),
  )
}
