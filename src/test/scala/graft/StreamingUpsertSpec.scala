package graft

import graft.operators.Analytics
import graft.streaming.StreamingQueries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.util.concurrent.atomic.AtomicInteger

/** Contracts for the streaming CDC upsert (q87) beyond the oracle hash:
  * the replay genuinely runs MULTIPLE micro-batches (otherwise the
  * "incrementally maintained" claim is vacuous — one batch would just be
  * the batch query), and the per-batch folded state converges to batch
  * latest-wins regardless of how the stream was chunked. */
class StreamingUpsertSpec extends SparkSpec {

  test("chunked replay runs 4 micro-batches; folded state == batch merge") {
    val raw = StreamingQueries.chunkedSource(spark, sf0001, "event_id")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value"))
    val batches = new AtomicInteger(0)
    var state: DataFrame = null
    val q = raw.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) batches.incrementAndGet()
        val base = if (state != null) state
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        state = Analytics.mergeLatest(base, batch,
            Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .drop("_src").localCheckpoint(true)
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    assert(batches.get() == 4,
      s"expected 4 non-empty micro-batches, saw ${batches.get()}")

    val whole = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value"))
    val direct = Analytics.mergeLatest(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], whole.schema),
      whole, Seq("user_id", "event_type"), Seq("ts", "event_id")).drop("_src")
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    assert(rows(state) == rows(direct),
      "incrementally folded state diverged from batch latest-wins")
    // State is bounded by the key space, not the event volume.
    assert(state.count() ==
      whole.select("user_id", "event_type").distinct().count())
  }
}
