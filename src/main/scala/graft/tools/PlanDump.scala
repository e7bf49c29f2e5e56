package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named queries to files — the
  * before/after plan evidence the optimization rounds commit under
  * `plans/r{N}/` (guide §1: capture the plan shape — Exchange count, join
  * strategy, PushedFilters/ReadSchema — before and after each change).
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> q159_setsim_join[,q...]"
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> q... <sfDir> <cpus>"
  *
  * Writes `<outDir>/<query>_<suffix>.txt`. Default fixture sf0.1 (the bench
  * basis, so size-driven join strategies match what the bench runs), 4
  * shuffle partitions for stable fingerprints.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...> [sfDir] [cpus]")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val cpus = args.lift(4).getOrElse("4").toInt
    Files.createDirectories(outDir)
    val spark = graft.LocalSession(cpus)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
