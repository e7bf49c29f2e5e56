package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession

/** The one local session every graft entry point runs on: Bench, Verify,
  * SchemaGolden, the tools and the shared test session. The thread count
  * is its only parameter, so the tools measure the engine Bench runs. */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    // saveAsTable-based queries (bucketed joins) must not drop a
    // spark-warehouse/ dir into the working directory.
    val warehouse = Files.createTempDirectory("graft_wh")
    deleteAtExit(warehouse)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // NOT set: spark.sql.adaptive.coalescePartitions.parallelismFirst=
      // false (the docs' production lean). A/B'd in r21 on a 13-query mix:
      // bytes-based post-shuffle sizing collapsed the CPU-dense operators
      // to a handful of 1 MB partitions and serialized them on 32 cores —
      // q159 7.6→30 s, q226 4.5→15 s, q139 1.8→11 s. This fixture is
      // small in bytes but heavy in CPU per byte, so parallelism-first
      // (the default) is the correct coalescing mode here; at a 100 TB
      // deployment the advisory-size path dominates either way.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Recursive-CTE closure output is input-proportional by design; the
      // 1M-row default is a unit mismatch at bench/tier scale (hit in the
      // r15 10x sweep). Finite ceiling, not Int.MaxValue — the row guard
      // stays meaningful (Graft.CteRecursionRowCeiling scaladoc).
      .config("spark.sql.cteRecursionRowLimit", Graft.CteRecursionRowCeiling)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Registers, and returns, a JVM shutdown hook that deletes `dir` and
    * everything under it. */
  private[graft] def deleteAtExit(dir: Path): Thread = {
    val hook = new Thread(() => FileUtils.deleteQuietly(dir.toFile))
    Runtime.getRuntime.addShutdownHook(hook)
    hook
  }
}
