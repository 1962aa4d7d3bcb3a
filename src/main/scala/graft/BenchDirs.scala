package graft

import java.nio.file.{Files, Path, Paths}

/** Recursive delete-on-exit for bench scratch directories. The bench mains
  * put Glacier roots and `spark.local.dir` on tmpfs (measure the engine,
  * not a shared disk) — RAM-backed space MUST be reclaimed when the run
  * ends, or repeated runs fill /dev/shm until writes fail mid-bench.
  */
object BenchDirs {
  def deleteOnExit(dir: String): String = {
    val p = Paths.get(dir)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    dir
  }

  /** tmpfs when writable, else the JVM temp dir — THE scratch-base policy
    * (one definition; Bench, CrawlBench and the streaming replays all
    * route here so the measurement environments can't silently diverge).
    */
  def scratchBase: String =
    Option("/dev/shm").filter(p => Files.isWritable(Paths.get(p)))
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** Fresh delete-on-exit scratch dir under [[scratchBase]]. */
  def scratchDir(prefix: String): String =
    deleteOnExit(Files.createTempDirectory(Paths.get(scratchBase), prefix).toString)

  /** Recursive best-effort delete (missing tree → no-op). */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach { f =>
            try Files.deleteIfExists(f)
            catch { case _: java.io.IOException => () }
          }
      }
}
