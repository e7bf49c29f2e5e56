package graft

import java.nio.file.{Files, Paths}

/** The settings [[LocalSession]] gives the shared test session, and the
  * exit hook that removes its warehouse dir. Needs no fixtures. */
class LocalSessionSpec extends SparkSpec {

  test("shuffle partitions equal the thread count") {
    assert(spark.sparkContext.master === s"local[${SparkSpec.Cpus}]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === SparkSpec.Cpus.toString)
  }

  test("AQE is on and the session time zone is UTC") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  test("the recursive-CTE row limit is Graft.CteRecursionRowCeiling") {
    assert(spark.conf.get("spark.sql.cteRecursionRowLimit") ===
      Graft.CteRecursionRowCeiling.toString)
  }

  test("the warehouse dir is under java.io.tmpdir, not the working directory") {
    val warehouse = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath).toRealPath()
    val tmp = Paths.get(System.getProperty("java.io.tmpdir")).toRealPath()
    assert(warehouse.getParent === tmp)
    assert(warehouse.getFileName.toString.startsWith("graft_wh"), warehouse)
  }

  test("the exit hook deletes a tree of nested files") {
    val root = Files.createTempDirectory("graft_wh_hook")
    val nested = Files.createDirectories(root.resolve("db.db/t/part=1"))
    Files.writeString(root.resolve("top.txt"), "x")
    Files.writeString(nested.resolve("f.parquet"), "y")
    val hook = LocalSession.deleteAtExit(root)
    try {
      hook.run()
      assert(!Files.exists(root), s"$root survived its hook")
    } finally Runtime.getRuntime.removeShutdownHook(hook)
  }
}
