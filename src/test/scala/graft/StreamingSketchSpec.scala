package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.streaming.StreamingQueries

/** q130: the streaming count-min sketch must equal the batch sketch
  * cell-for-cell — complete-mode micro-batch folding of a pure-sum
  * aggregate is execution-order-independent. */
class StreamingSketchSpec extends SparkSpec {

  test("streamed count-min state == batch countMin cells (width 16, depth 4)") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val streamed = StreamingQueries.streamedCountMin(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val toks = Tables.documents(spark, sf0001)
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    val batch = Analytics.countMin(toks, "tok", depth = 4, width = 16)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    // width 16 over a 31-token vocabulary: state provably bounded, and
    // collisions are present (some cell holds more than one token's mass).
    assert(streamed.size <= 4 * 16)
  }

  test("q130 heavy hitters: est >= exact, 5 rows, descending estimates") {
    val rows = StreamingQueries.queries("q130_stream_countmin")(spark, sf0001)
      .collect()
    assert(rows.length == 5)
    rows.foreach(r => assert(r.getLong(1) >= r.getLong(2),
      s"${r.getString(0)}: CM must never under-estimate"))
    assert(rows.map(_.getLong(1)).toSeq == rows.map(_.getLong(1)).sortBy(-_).toSeq)
  }

  test("streamed HLL registers == batch hllRegisters register-for-register") {
    val streamed = StreamingQueries.streamedHllRegisters(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val batch = Analytics
      .hllRegisters(Tables.events(spark, sf0001), "event_type", "user_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed == batch)
    // Complete-mode state provably bounded: ≤ |groups| × m register rows.
    val groups = streamed.keys.map(_._1).toSet.size
    assert(streamed.size <= groups * Analytics.HllRegisters)
  }

  test("streamed Bloom bitset == batch bloomFilter bit-for-bit") {
    val streamed = StreamingQueries.streamedBloomBits(spark, sf0001)
      .collect().map(_.getLong(0)).toSet
    val toks = Tables.documents(spark, sf0001)
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    val batch = Analytics.bloomFilter(toks, "tok")
      .collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    // Complete-mode state provably bounded: ≤ m bit rows.
    assert(streamed.size <= Analytics.BloomBits && streamed.nonEmpty)
  }

  test("q138: streamed estimate matches batch hllDistinct exactly") {
    val streamRows = StreamingQueries.queries("q138_stream_hll")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    val batchRows = Analytics
      .hllDistinct(Tables.events(spark, sf0001), "event_type", "user_id")
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(streamRows == batchRows)
  }
}
