package graft

import graft.operators.{MapReduceJob, UniquePrefix}

/** Reference-parity goldens (SURVEY §5.2.1-3): the unique-prefix query
  * answers 9 / 3 on the reference's own fixtures, both engine forms agree,
  * and properties hold against a brute-force oracle. */
class ParitySpec extends SparkSpec {
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  test("emails.txt golden: minimal unique prefix length = 9 (both forms)") {
    val lines = spark.read.textFile(fixture("emails.txt"))
    assert(UniquePrefix.solve(spark, lines) === Some(9))
    assert(UniquePrefix.iterative(spark, lines) === Some(9))
  }

  test("emails_short.txt golden: minimal unique prefix length = 3") {
    val lines = spark.read.textFile(fixture("emails_short.txt"))
    assert(UniquePrefix.solve(spark, lines) === Some(3))
    assert(UniquePrefix.iterative(spark, lines) === Some(3))
  }

  test("duplicate lines -> None (reference would loop forever, SURVEY §7.5)") {
    val lines = spark.createDataset(Seq("aaa", "bbb", "aaa"))
    assert(UniquePrefix.solve(spark, lines) === None)
    assert(UniquePrefix.iterative(spark, lines) === None)
  }

  test("non-BMP lines: prefixes count code points in all three forms") {
    // U+10000 "a" and U+10001 "a" differ in their first code point, which
    // in UTF-16 is a surrogate pair sharing its high half.
    val lines = Seq("\uD800\uDC00a", "\uD800\uDC01a")
    val ds = spark.createDataset(lines)
    assert(UniquePrefix.solve(spark, ds) === Some(1))
    assert(UniquePrefix.iterative(spark, ds) === Some(1))
    assert(UniquePrefix.bruteForce(lines) === Some(1))
  }

  test("empty lines are dropped (MapReduce.h:233-234 parity)") {
    val lines = spark.createDataset(Seq("", "ab", "", "ac"))
    assert(UniquePrefix.solve(spark, lines) === Some(2))
  }

  test("property: solve == brute force on random line sets (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 15) {
      val raw = List.fill(30)(
        List.fill(1 + rnd.nextInt(8))("abc".charAt(rnd.nextInt(3))).mkString)
      val distinctLines = raw.distinct // dup case covered separately above
      val ds = spark.createDataset(distinctLines)
      assert(UniquePrefix.solve(spark, ds, partitions = 3) ===
        UniquePrefix.bruteForce(distinctLines),
        s"mismatch for $distinctLines")
    }
  }

  test("MapReduceJob word count == groupBy count") {
    val docs = Tables.documents(spark, sf0001)
      .select("text").as[String]
    val job = MapReduceJob[String, Long, (String, Long)](
      mappers = 4, reducers = 4,
      mapper = l => l.split(' ').iterator.filter(_.nonEmpty).map(t => (t, 1L)),
      reducer = (k, vs) => Iterator.single((k, vs.sum)))
    val got = job.run(spark, docs).collect().toMap
    val exp = docs.flatMap(_.split(' ').filter(_.nonEmpty)).groupByKey(identity)
      .count().collect().toMap
    assert(got == exp)
  }

  test("MapReduceJob supports reducers returning a LAZY iterator over vs") {
    val lines = spark.createDataset(Seq("k1 k2 k1", "k2 k1 k3"))
    val job = MapReduceJob[String, Long, (String, Long)](
      mappers = 2, reducers = 2,
      mapper = l => l.split(' ').iterator.map(t => (t, 1L)),
      // lazy: the output iterator pulls from vs only as it is consumed
      reducer = (k, vs) => vs.map(v => (k, v * 10L)))
    val got = job.run(spark, lines).collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSeq.sorted).toMap
    assert(got == Map(
      "k1" -> Seq(10L, 10L, 10L), "k2" -> Seq(10L, 10L), "k3" -> Seq(10L)))
  }

  test("solve: interior adjacent pair can carry the max LCP (no false None)") {
    // max LCP (9) comes from an interior pair and exceeds both partition-edge
    // line lengths — a first/last-only `full` would falsely return None.
    val lines = Seq("b", "caaaaaaaax", "caaaaaaaay", "d")
    val ds = spark.createDataset(lines)
    assert(UniquePrefix.solve(spark, ds, partitions = 1) === Some(10))
    assert(UniquePrefix.solve(spark, ds, partitions = 3) === Some(10))
    assert(UniquePrefix.bruteForce(lines) === Some(10))
  }

  test("MapReduceJob reducer sees each key's values grouped and complete") {
    val lines = spark.createDataset(Seq("k1 k2 k1", "k2 k1 k3"))
    val job = MapReduceJob[String, Long, (String, Long)](
      mappers = 2, reducers = 2,
      mapper = l => l.split(' ').iterator.map(t => (t, 1L)),
      reducer = (k, vs) => Iterator.single((k, vs.size.toLong)))
    val got = job.run(spark, lines).collect().toMap
    assert(got == Map("k1" -> 3L, "k2" -> 2L, "k3" -> 1L))
  }
}
