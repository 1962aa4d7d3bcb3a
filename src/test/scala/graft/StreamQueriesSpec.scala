package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamQueries

/** The seven streaming replay entries run through one start/feed/stop
  * path; this checks what that path must leave behind after every entry:
  * no running stream, no memory-sink view, no cached blocks, the session's
  * shuffle-partition setting untouched and no checkpoint directory. A
  * second run in the same session must give identical rows, and an empty
  * table must give an empty frame with the same columns.
  */
class StreamQueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001" // the sf0.001 tables, see TESTDATA.md
  private val partsKey = "spark.sql.shuffle.partitions"

  private def sinkViews: Set[String] =
    spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.endsWith("_sink")).map(_.name).toSet

  /** Runs every entry at `dir` and checks the state it left; returns each
    * entry's name, schema and rows. */
  private def runAll(dir: String): Seq[(String, StructType, Seq[Row])] = {
    val prevParts = spark.conf.get(partsKey)
    // not the replays' own 4, so a leaked pin shows
    spark.conf.set(partsKey, "3")
    try StreamQueries.entries.map { e =>
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keys.toSet
      val viewsBefore = sinkViews
      val df = e.fn(spark, dir)
      val rows = df.collect().toSeq
      withClue(s"${e.name}: ") {
        assert(spark.streams.active.isEmpty, "stream still running")
        assert(sinkViews -- viewsBefore === Set.empty)
        assert(spark.sparkContext.getPersistentRDDs.keys.toSet -- cachedBefore
          === Set.empty, "cached blocks left behind")
        assert(spark.conf.get(partsKey) === "3")
        val ckpts = Files.list(Paths.get(StreamQueries.checkpointBase))
        try assert(ckpts.count() === 0L, "checkpoint dir left behind")
        finally ckpts.close()
      }
      (e.name, df.schema, rows)
    } finally spark.conf.set(partsKey, prevParts)
  }

  private lazy val atSf = runAll(sf)

  private def columns(t: StructType) = t.fields.map(f => (f.name, f.dataType)).toSeq

  test("all seven replays leave no state behind and repeat identically") {
    assert(atSf.size === 7)
    atSf.foreach { case (name, _, rows) => assert(rows.nonEmpty, name) }
    runAll(sf).zip(atSf).foreach { case ((name, schema, rows), (_, s0, r0)) =>
      withClue(s"$name: ") {
        assert(schema === s0)
        assert(rows === r0)
      }
    }
  }

  test("zero-row tables replay to empty frames with the same columns") {
    val empty = BenchDirs.scratchDir("stream-empty-tables")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      Tables.t(spark, sf, t).limit(0).write.parquet(s"$empty/$t.parquet")
    }
    runAll(empty).zip(atSf).foreach { case ((name, schema, rows), (_, s0, _)) =>
      withClue(s"$name: ") {
        assert(rows.isEmpty)
        assert(columns(schema) === columns(s0))
      }
    }
  }
}
