package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.operators.MapReduceJob

/** The MapReduceJob's shape: one shuffle (the hash exchange on the key),
  * a map stage over the input's own partitions capped at `mappers`, and
  * answers equal to a `groupBy` count. Reads only `src/test/resources` and
  * in-memory data, so it runs where the parquet fixtures are absent. */
class MapReduceJobSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  /** emails.txt read in 256-byte splits, so the file source hands the map
    * several byte-range partitions. */
  private def emails[T](f: Dataset[String] => T): T = {
    val prev = spark.conf.get(MaxPartitionBytes)
    spark.conf.set(MaxPartitionBytes, "256")
    try f(spark.read.textFile(getClass.getClassLoader.getResource("emails.txt").getPath))
    finally spark.conf.set(MaxPartitionBytes, prev)
  }

  private def domainCount(mappers: Int) = MapReduceJob[String, Long, (String, Long)](
    mappers, reducers = 3,
    mapper = l => Iterator(l.substring(l.indexOf('@') + 1) -> 1L),
    reducer = (k, vs) => Iterator(k -> vs.sum))

  private def expected(lines: Dataset[String]): Map[String, Long] =
    lines.filter(_.nonEmpty).map(l => l.substring(l.indexOf('@') + 1))
      .groupBy("value").count().as[(String, Long)].collect().toMap

  /** Collects `ds` and returns its rows with the (task count, shuffle
    * bytes written) of every stage that ran. */
  private def collectWithStages[T](ds: Dataset[T]): (Array[T], Seq[(Int, Long)]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentHashMap[Int, (Int, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        seen.put(i.stageId, (i.numTasks, i.taskMetrics.shuffleWriteMetrics.bytesWritten))
      }
    }
    val rows = ListenerBusDrain.observe(sc, listener)(ds.collect())
    (rows, seen.asScala.toSeq.sortBy(_._1).map(_._2))
  }

  test("the executed plan holds one Exchange: HashPartitioning on _1, no round robin") {
    emails { lines =>
      val out = domainCount(mappers = 2).run(spark, lines)
      out.collect()
      val exchanges = collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      assert(exchanges.size === 1, out.queryExecution.executedPlan.treeString)
      exchanges.head match {
        case h: HashPartitioning =>
          assert(h.expressions.map(_.references.map(_.name).mkString) === Seq("_1"))
        case p => fail(s"expected HashPartitioning on _1, got $p")
      }
      assert(!exchanges.exists(_.isInstanceOf[RoundRobinPartitioning]))
    }
  }

  test("map stage runs min(mappers, input partitions) tasks; results == groupBy count") {
    emails { lines =>
      val parts = lines.rdd.getNumPartitions
      assert(parts > 2, s"emails.txt should read as several splits, got $parts")
      val want = expected(lines)
      for (mappers <- Seq(1, parts, parts + 3)) {
        val (rows, stages) = collectWithStages(domainCount(mappers).run(spark, lines))
        val mapTasks = stages.collect { case (tasks, written) if written > 0 => tasks }
        assert(mapTasks === Seq(math.min(mappers, parts)), s"mappers=$mappers")
        assert(rows.toMap === want, s"mappers=$mappers")
      }
    }
  }

  test("empty lines are dropped before the mapper") {
    val lines = spark.createDataset(Seq("a@x.org", "", "b@y.org", "", "c@x.org"))
    val got = domainCount(mappers = 2).run(spark, lines).collect().toMap
    assert(got === Map("x.org" -> 2L, "y.org" -> 1L))
    assert(got === expected(lines))
  }
}
