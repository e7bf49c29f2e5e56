package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.{Graft, SparkEntry}
import graft.operators.{Dedup, UniquePrefix}

/** What one timed call hands back: the durations in seconds of the layer
  * spans it separates, the output the check compares, and the release to
  * run after the check. */
final case class Timed(spans: Map[String, Double], output: () => Any,
    release: () => Unit = () => ())

/** One call into the engine's public API. */
final case class Call(name: String, run: () => Timed)

/** The JVM half of the benchmark. Builds one session with `graft.Bench`'s
  * settings, runs one workload's calls in a closed loop (one client thread;
  * the next call starts when the previous one returns) and writes every raw
  * sample to `--out` as JSON. `run.py` turns the samples into metrics and
  * checks the outputs.
  *
  * Usage: Driver --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --emails FILE --work DIR --out FILE
  */
object Driver {
  private def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dataDir = opt("data")
    val emails = opt("emails")
    val work = Paths.get(opt("work"))
    // Two task threads leave the driver, JIT and GC threads cores of their
    // own on a 4-core host; with four, trial runs spread about twice as far
    // from run to run.
    val cpus = math.min(2, Runtime.getRuntime.availableProcessors())
    require(Workloads.names.contains(workload), s"unknown workload $workload")

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ctx = Ctx(spark, dataDir, emails, cpus)
    val calls = Workloads.calls(workload, ctx)
    val rng = new scala.util.Random(seed)
    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val jobs = new JobListener
    val streams = new ProgressListener

    def callOnce(c: Call, pass: Int, phase: String): Double = {
      val startMs = System.currentTimeMillis()
      val t0 = now()
      val result = scala.util.Try(c.run())
      val dt = now() - t0
      val endMs = System.currentTimeMillis()
      // Everything below is untimed: output check, then the same release
      // graft.Bench runs after every query.
      val (output, error) = result match {
        case scala.util.Success(t) =>
          val out = scala.util.Try(t.output())
          scala.util.Try(t.release())
          (out.toOption.orNull, out.failed.toOption.map(_.toString).orNull)
        case scala.util.Failure(e) => (null, e.toString)
      }
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith("graft_stream")).foreach(v => spark.catalog.dropTempView(v))
      org.apache.spark.sql.GraftStateStoreAccess.unloadAll()
      samples += Map(
        "call" -> c.name, "pass" -> pass, "phase" -> phase,
        "start_ms" -> startMs, "end_ms" -> endMs, "total_s" -> dt,
        "spans" -> result.toOption.map(_.spans).getOrElse(Map.empty),
        "output" -> output, "error" -> error,
        "resident_rdds_after" -> spark.sparkContext.getPersistentRDDs.size)
      System.err.println(f"[perfbench] $phase $pass ${c.name} $dt%.3f s")
      dt
    }

    def runPass(pass: Int, phase: String): Double =
      rng.shuffle(calls).map(callOnce(_, pass, phase)).sum

    def traced[T](body: => T): T = {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
      try body
      finally {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.streams.removeListener(streams)
        spark.sparkContext.removeSparkListener(jobs)
      }
    }

    // Set-up ends with a warm session: JVM and session start, then two
    // untimed passes, since the first passes in a JVM pay class loading,
    // JIT and codegen. The checks between their calls are not counted.
    val setupS = sessionS + runPass(-2, "warm") + runPass(-1, "warm")
    var measured = 0.0
    var pass = 0
    // At least three passes, so that each call's median has a middle sample
    // however slow the host: with a time limit alone, slow runs of
    // driver_loop fitted two passes and fast ones three, and the count
    // itself moved the medians. Trace runs alternate untraced and traced
    // passes, so both see the same JVM state; the pair keeps the two counts
    // equal.
    while (measured < seconds || pass < 3) {
      measured += runPass(pass, "timed")
      pass += 1
      if (trace) { measured += traced(runPass(pass, "traced")); pass += 1 }
    }

    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toLong).getOrElse(0L)
    // What the session still holds once every call has been released: heap
    // in use after full collections. Taken after the last call's
    // resident-RDD count, since a collection can drop persisted RDDs that
    // nothing references any more. Spark's context cleaner frees the
    // broadcasts and shuffles of collected objects on its own thread after
    // a collection; the pause lets it finish before the second one.
    System.gc(); Thread.sleep(1000); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val out = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupS, "rss_peak_mb" -> hwmKb / 1024.0, "heap_retained_mb" -> heapMb,
      "samples" -> samples,
      "jobs" -> jobs.records, "progress" -> streams.records)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(out))
  }

  /** `graft.Bench`'s session settings, with every directory Spark writes to
    * placed under `work`. */
  def session(cpus: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop").toString)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.cteRecursionRowLimit", Graft.CteRecursionRowCeiling)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** What the workload calls need from the run. */
final case class Ctx(spark: SparkSession, dataDir: String, emails: String, cpus: Int) {
  def lines: Dataset[String] = spark.read.textFile(emails)
}

object Workloads {
  /** Fixture queries per workload: names from `SparkEntry.queries`. */
  val fixtureQueries: Map[String, Seq[String]] = Map(
    "batch_heavy" -> Seq("q159_setsim_join"),
    "driver_loop" -> Seq("q54_neardup_components", "q205_stream_rocksdb"))

  /** Calls over the generated e-mail file, per workload. */
  val parityCalls: Map[String, Seq[String]] = Map(
    "batch_heavy" -> Seq("parity.solve", "parity.mapreduce"),
    "driver_loop" -> Seq("parity.iterative"))

  val names: Set[String] = fixtureQueries.keySet

  def calls(workload: String, ctx: Ctx): Seq[Call] =
    fixtureQueries(workload).map(fixture(_, ctx)) ++
      parityCalls.getOrElse(workload, Nil).map(parity(_, ctx))

  /** A named query, timed as `graft.Bench` times it plus the explicit
    * planning step: build, plan, then drain through the noop sink. The
    * check counts the rows afterwards. */
  def fixture(q: String, ctx: Ctx): Call = Call(q, () => {
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(q)(ctx.spark, ctx.dataDir)
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    Timed(Map("entry" -> (t1 - t0) / 1e9, "plan" -> (t2 - t1) / 1e9,
        "write" -> (t3 - t2) / 1e9),
      () => df.count(), () => Dedup.unpersistBlocks(df))
  })

  /** The paper's query and the MapReduce API over the generated file. */
  def parity(name: String, ctx: Ctx): Call = Call(name, () => {
    val spark = ctx.spark
    import spark.implicits._
    val out: Any = name match {
      case "parity.solve" => Graft.minimalUniquePrefix(spark, ctx.lines).getOrElse(-1)
      case "parity.iterative" => UniquePrefix.iterative(spark, ctx.lines).getOrElse(-1)
      case "parity.mapreduce" =>
        Graft.mapReduce[String, Long, (String, Long)](ctx.cpus, ctx.cpus,
          DomainCount.mapper, DomainCount.reducer)
          .run(spark, ctx.lines).collect().toMap
    }
    Timed(Map.empty, () => out)
  })
}

/** The MapReduce job: e-mail domain → number of lines. */
object DomainCount {
  val mapper: String => IterableOnce[(String, Long)] =
    l => Iterator(l.substring(l.indexOf('@') + 1) -> 1L)
  val reducer: (String, Iterator[Long]) => IterableOnce[(String, Long)] =
    (k, vs) => Iterator(k -> vs.sum)
}
