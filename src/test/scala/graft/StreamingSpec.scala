package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.functions._

/** Streaming-layer contracts: the real streaming engine agrees with the
  * batch formulation; stateful sessionization agrees with both the
  * declarative session_window and the SQL oracle shape. */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling agg == batch tumbling agg") {
    val batch = StreamingQueries.queries("q80_tumbling_window")(spark, sf0001).collect()
    val stream = StreamingQueries.queries("q82_stream_tumbling")(spark, sf0001).collect()
    assert(batch.map(_.toString).sameElements(stream.map(_.toString)))
  }

  test("mapGroups sessionization == session_window (count and totals)") {
    val declarative = StreamingQueries.queries("q81_session_window")(spark, sf0001)
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toString).sorted
    val stateful = StreamingQueries.sessionize(spark, sf0001)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(_.toString).sorted
    assert(declarative.sameElements(stateful))
  }

  test("flatMapGroupsWithState emits only true closed sessions") {
    val all = StreamingQueries.sessionize(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(2))).toSet
    val emitted = StreamingQueries.sessionizeStreaming(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getInt(2))).toSet
    // Append-mode with a single input batch may withhold sessions still open
    // at the final watermark — but everything emitted must be a real session.
    assert(emitted.subsetOf(all),
      s"streaming emitted sessions not present in batch: ${emitted diff all}")
  }

  test("streaming session windows (q151) == batch session_window (q81) row-for-row") {
    val batch = StreamingQueries.queries("q81_session_window")(spark, sf0001)
      .collect().map(_.toString)
    val stream = StreamingQueries.queries("q151_stream_session")(spark, sf0001)
      .collect().map(_.toString)
    assert(batch.sameElements(stream))
  }

  /** The bounded-state production form q151's scaladoc names: watermark +
    * append mode emits a session exactly once, only after the watermark
    * passes its close (last event + gap); later events for the same user
    * then open a NEW session. */
  test("append-mode watermarked session_window emits only watermark-closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = input.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
    val name = s"sapp_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName(name).start()
    try {
      // One session for user 1 (10:00–10:05, close = 10:15). Watermark after
      // this batch: 10:05 − 10 min = 9:55 < close → nothing may emit yet.
      input.addData((1L, ts(10, 0), 1.0), (1L, ts(10, 5), 1.0))
      q.processAllAvailable()
      val early = spark.table(name).count()
      // Advance the watermark past 10:15 (11:00 − 10 min = 10:50): user 1's
      // session must emit; user 2's (close 11:10) stays open and must not.
      input.addData((2L, ts(11, 0), 1.0))
      q.processAllAvailable()
      assert(early == 0, s"session emitted before its close passed the watermark ($early rows)")
    } finally q.stop()
    val out = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSeq
    assert(out == Seq((1L, "2024-01-01 10:00:00.0", 2L)),
      s"expected exactly user 1's closed session, got $out")
  }

  /** A MemoryStream of ints whose plan throws `msg` on every row. */
  private def failingStream(msg: String) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val boom = udf((i: Int) => if (i > 0) throw new IllegalStateException(msg) else i)
    input.toDF().select(boom(col("value")).as("v"))
  }

  private def causes(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq

  test("awaitUntil rethrows a dead stream's failure at once, not at its deadline") {
    val q = failingStream("first batch fails").writeStream.format("noop").start()
    try {
      val t0 = System.nanoTime()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingQueries.awaitUntil(q)(false)
      }
      val waited = (System.nanoTime() - t0) / 1e9
      assert(causes(e).exists(m => m != null && m.contains("first batch fails")),
        s"unexpected failure: ${causes(e)}")
      assert(waited < 30, s"rethrew only after $waited s")
    } finally q.stop()
  }

  test("drainToMemory inside withConf: a failing drain surfaces, stops its query and restores every conf") {
    val widthKey = "spark.sql.shuffle.partitions"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val width = spark.conf.get(widthKey)
    assert(!spark.conf.getAll.contains(providerKey))
    // A prior width other than the drain's 4, so its restore is visible.
    spark.conf.set(widthKey, "3")
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamingQueries.withConf(spark, providerKey ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          StreamingQueries.drainToMemory(failingStream("drain fails"),
            org.apache.spark.sql.streaming.OutputMode.Append())
        }
      }
      assert(causes(e).exists(m => m != null && m.contains("drain fails")),
        s"unexpected failure: ${causes(e)}")
      assert(spark.streams.active.isEmpty, "the failed drain left a query running")
      assert(spark.conf.get(widthKey) == "3")
      assert(!spark.conf.getAll.contains(providerKey),
        "a conf absent before withConf must be absent after it")
    } finally spark.conf.set(widthKey, width)
  }

  test("session count is stable across sf (structure sanity)") {
    val df = StreamingQueries.queries("q81_session_window")(spark, sf0001)
    val n = df.count()
    assert(n >= Tables.events(spark, sf0001).select("user_id").distinct().count())
    assert(df.filter(col("n_events") <= 0).isEmpty)
  }
}
