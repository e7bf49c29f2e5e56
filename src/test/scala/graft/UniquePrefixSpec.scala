package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.operators.UniquePrefix

/** The unique-prefix loop against its single-pass form and the brute-force
  * oracle, and the loop's job shape. Reads only `src/test/resources` and
  * in-memory data, so it runs where the parquet fixtures are absent. */
class UniquePrefixSpec extends SparkSpec {
  import spark.implicits._

  private val Partitions = "spark.sql.shuffle.partitions"

  private def withPartitions[T](n: Int)(f: => T): T = {
    val prev = spark.conf.get(Partitions)
    spark.conf.set(Partitions, n.toString)
    try f finally spark.conf.set(Partitions, prev)
  }

  // Three letters and one character outside the BMP (a surrogate pair in
  // UTF-16), so prefixes are counted in code points, not chars.
  private val Alphabet = Seq("a", "b", "c", "😀")

  /** Seeded distinct line sets of 0 to 28 lines: random words plus prefixes
    * of some of them, so some lines are prefixes of others, and sets
    * smaller than the partition count leave partitions empty. */
  private def lineSets(seed: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    def word(): Seq[String] = Seq.fill(1 + rnd.nextInt(6))(Alphabet(rnd.nextInt(4)))
    Seq.fill(12) {
      val words = Seq.fill(rnd.nextInt(15))(word())
      val prefixes = words.filter(w => w.size > 1 && rnd.nextBoolean())
        .map(w => w.take(1 + rnd.nextInt(w.size - 1)))
      (words ++ prefixes).map(_.mkString).distinct
    }
  }

  for (n <- Seq(1, 3, 8)) {
    test(s"property: iterative == solve == bruteForce at $n shuffle partitions") {
      withPartitions(n) {
        for (lines <- lineSets(n)) {
          val ds = spark.createDataset(lines)
          val want = UniquePrefix.bruteForce(lines)
          assert(UniquePrefix.solve(spark, ds) === want, s"solve on $lines")
          assert(UniquePrefix.iterative(spark, ds) === want, s"iterative on $lines")
        }
      }
    }
  }

  test("duplicates at a partition edge -> None in all three forms") {
    // Range partitioning puts equal lines in one partition; with about one
    // value per partition, the duplicate pair is the first and last line
    // of its partition, next to the boundaries on both sides.
    val lines = Seq("a", "b", "c", "d", "e", "e", "f", "g", "h")
    withPartitions(8) {
      val ds = spark.createDataset(lines)
      assert(UniquePrefix.solve(spark, ds) === None)
      assert(UniquePrefix.iterative(spark, ds) === None)
    }
    assert(UniquePrefix.bruteForce(lines) === None)
  }

  test("lcp counts code points") {
    assert(UniquePrefix.lcp("𐀀a", "𐀁a") === 0)
    assert(UniquePrefix.lcp("𐀀a", "𐀀b") === 1)
    assert(UniquePrefix.lcp("x𐀀", "x𐀀y") === 2)
    assert(UniquePrefix.lcp("abc", "abd") === 2)
  }

  test("iterative on emails.txt: at most L + 3 jobs, no shuffle write after the stats job") {
    val sc = spark.sparkContext
    val lines = spark.read.textFile(
      getClass.getClassLoader.getResource("emails.txt").getPath)
    val jobs = new AtomicInteger
    val bytes = new AtomicLong
    // Shuffle bytes written by tasks of any job after the third (range
    // sample, shuffle map stage, stats); jobs run one after the other here.
    val lateBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          val b = e.taskMetrics.shuffleWriteMetrics.bytesWritten
          bytes.addAndGet(b)
          if (jobs.get > 3) lateBytes.addAndGet(b)
        }
    }
    val got = ListenerBusDrain.observe(sc, listener)(UniquePrefix.iterative(spark, lines))
    assert(got === Some(9))
    assert(jobs.get <= 9 + 3, s"${jobs.get} jobs")
    assert(bytes.get > 0 && lateBytes.get === 0L,
      s"shuffle bytes written: ${bytes.get} in all, ${lateBytes.get} after the stats job")
  }
}
