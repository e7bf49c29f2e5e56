package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Stream-stream LEFT OUTER interval join (q195's row-level contract,
  * driven on a MemoryStream pair where the watermark can be advanced
  * precisely):
  *
  *  1. a matched (click, purchase) pair emits as soon as both rows have
  *     arrived — inner semantics, watermark-independent;
  *  2. NO null-extended row emits while a click's join interval
  *     [click_ts, click_ts + 1 h] is still open under the watermark —
  *     the engine cannot yet prove the click unconverted;
  *  3. once the watermark passes click_ts + 1 h, the unmatched click
  *     emits null-extended EXACTLY ONCE (with its state evicted);
  *  4. a purchase arriving after that eviction does not resurrect the
  *     click — no retro-pair, no duplicate.
  *
  * These four properties are exactly what q195's oracle encodes with its
  * final-watermark cutoff (matched pairs unconditionally; null rows only
  * for clicks with click_ts + 1 h < min-watermark). Every case joins its
  * MemoryStream sides with the production `StreamingQueries.intervalJoin`,
  * so the spec certifies the join q195/q252/q262/q279 run. */
class StreamOuterJoinSpec extends SparkSpec {
  import spark.implicits._

  test("left-outer interval join: pairs emit on arrival, nulls only after the watermark closes the interval, exactly once, no resurrection") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicksIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buysIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clicks = clicksIn.toDF().toDF("c_uid", "click_ts", "click_id")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("p_uid", "p_ts", "value")
      .withWatermark("p_ts", "10 minutes")
    val joined = StreamingQueries.intervalJoin(clicks, buys, "left_outer")
    val name = s"souter_${System.nanoTime()}"
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_ => r.getLong(3)),
        Option(r.get(5)).map(_ => r.getDouble(5))))
      .toSeq.sortBy(r => (r._1, r._3.getOrElse(-1.0)))
    try {
      // User 1 clicks at 10:00 and converts at 10:30; user 2 clicks at
      // 10:00, never converts. The pair emits immediately; user 2 emits
      // nothing — its interval [10:00, 11:00] is open at watermark
      // 10:30 − 10 min = 10:20.
      clicksIn.addData((1L, ts(10, 0), 101L), (2L, ts(10, 0), 201L))
      buysIn.addData((1L, ts(10, 30), 5.0))
      q.processAllAvailable()
      assert(rows() == Seq((1L, Some(1L), Some(5.0))),
        s"matched pair should emit on arrival, no nulls yet: ${rows()}")
      // Advance both watermarks past 11:00 (ticks at 11:30 → watermark
      // 11:20 > 10:00 + 1 h): user 2's click is provably unconverted and
      // emits null-extended exactly once.
      clicksIn.addData((9L, ts(11, 30), 901L))
      buysIn.addData((9L, ts(11, 30), 0.25))
      q.processAllAvailable()
      q.processAllAvailable()
      val afterClose = rows()
      assert(afterClose.count(r => r._1 == 2L && r._2.isEmpty && r._3.isEmpty) == 1,
        s"unmatched click should null-emit exactly once after its interval closes: $afterClose")
      // A purchase for user 2 inside the (long-evicted) interval arrives
      // far late: behind the 11:20 watermark it is dropped — the click is
      // NOT resurrected into a pair and the null row is not duplicated.
      buysIn.addData((2L, ts(10, 30), 7.0))
      q.processAllAvailable()
      val afterLate = rows()
      assert(afterLate.count(_._1 == 2L) == 1 &&
        afterLate.filter(_._1 == 2L).forall(r => r._2.isEmpty && r._3.isEmpty),
        s"late purchase must not resurrect an evicted click: $afterLate")
    } finally q.stop()
  }

  test("full-outer interval join: BOTH sides null-extend exactly once at their own watermark cutoffs, never prematurely (q252)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicksIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buysIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clicks = clicksIn.toDF().toDF("c_uid", "click_ts", "click_id")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("p_uid", "p_ts", "value")
      .withWatermark("p_ts", "10 minutes")
    val joined = StreamingQueries.intervalJoin(clicks, buys, "full_outer")
    val name = s"sfouter_${System.nanoTime()}"
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    // (user, has_click, has_purchase, value) rows; user from whichever
    // side is present (full outer: either may be null).
    def rows() = spark.table(name).collect()
      .map { r =>
        val cu = Option(r.get(0)).map(_ => r.getLong(0))
        val pu = Option(r.get(3)).map(_ => r.getLong(3))
        (cu.orElse(pu).get, cu.isDefined, pu.isDefined,
          Option(r.get(5)).map(_ => r.getDouble(5)))
      }.toSeq.sortBy(r => (r._1, r._4.getOrElse(-1.0)))
    try {
      // user 1 clicks 10:00 + converts 10:30 (pair); user 2 clicks
      // 10:00, never converts; user 3 purchases 10:15 with no click —
      // the orphan-purchase case q195 cannot express. Watermark after
      // this batch: min(10:00, 10:30) − 10 min = 9:50 — NEITHER null
      // proof is available, so only the pair may emit.
      clicksIn.addData((1L, ts(10, 0), 101L), (2L, ts(10, 0), 201L))
      buysIn.addData((1L, ts(10, 30), 5.0), (3L, ts(10, 15), 9.0))
      q.processAllAvailable()
      assert(rows() == Seq((1L, true, true, Some(5.0))),
        s"only the matched pair before any watermark proof: ${rows()}")
      // Tick both sides to 11:30 → watermark 11:20. user 2's far edge
      // (11:00) and user 3's own ts (10:15) are both behind it: each
      // null-extends EXACTLY once, on its own side. (The user-9 tick
      // rows pair with each other — filtered out below.)
      clicksIn.addData((9L, ts(11, 30), 901L))
      buysIn.addData((9L, ts(11, 30), 0.25))
      q.processAllAvailable()
      q.processAllAvailable()
      val after = rows().filter(_._1 != 9L)
      assert(after.count(r => r._1 == 2L && r._2 && !r._3) == 1,
        s"unmatched click null-extends exactly once: $after")
      assert(after.count(r => r._1 == 3L && !r._2 && r._3) == 1,
        s"orphan purchase null-extends exactly once: $after")
      // Late arrivals behind the watermark on BOTH sides: neither
      // resurrects its evicted counterpart, neither duplicates a null.
      buysIn.addData((2L, ts(10, 30), 7.0))
      clicksIn.addData((3L, ts(10, 0), 301L))
      q.processAllAvailable()
      val afterLate = rows().filter(_._1 != 9L)
      assert(afterLate == after,
        s"late rows must not change the drained result: $afterLate")
    } finally q.stop()
  }

  test("anti/outer boundary: a click whose interval far edge lands EXACTLY on the watermark is withheld; it emits once the watermark strictly passes (q279/q195 oracle '<' lock)") {
    // ADVICE r19: the q279 oracle gates null-extension with a STRICT
    // far-edge cutoff (cts + 1 h < watermark). This pins that choice
    // against Spark's actual eviction semantics at the exact boundary —
    // if Spark emitted at equality, the oracle would withhold a row the
    // engine emits, and a fixture regen with round-hour spacing would
    // fail the gate. Empirically (Spark 4.1): state eviction requires
    // watermark STRICTLY past the far edge, matching '<'.
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int, s: Int = 0) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")
    val clicksIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buysIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clicks = clicksIn.toDF().toDF("c_uid", "click_ts", "click_id")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("p_uid", "p_ts", "value")
      .withWatermark("p_ts", "10 minutes")
    val joined = StreamingQueries.intervalJoin(clicks, buys, "left_outer")
    val name = s"sbound_${System.nanoTime()}"
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def nullRows() = spark.table(name).collect()
      .filter(r => r.isNullAt(3)).map(_.getLong(0)).toSeq.sorted
    try {
      // User 2 clicks at 10:00, never converts: far edge 11:00. Tick
      // BOTH sides at 11:10 → watermark = 11:10 − 10 min = 11:00,
      // landing EXACTLY on the far edge.
      clicksIn.addData((2L, ts(10, 0), 201L))
      buysIn.addData((8L, ts(10, 0), 0.5))
      q.processAllAvailable()
      clicksIn.addData((9L, ts(11, 10), 901L))
      buysIn.addData((9L, ts(11, 10), 0.25))
      q.processAllAvailable()
      q.processAllAvailable()
      assert(nullRows().isEmpty,
        s"far edge == watermark must WITHHOLD (strict cutoff): ${nullRows()}")
      // One second later: watermark 11:00:01 is strictly past 11:00 —
      // the unmatched click emits exactly once.
      clicksIn.addData((9L, ts(11, 10, 1), 902L))
      buysIn.addData((9L, ts(11, 10, 1), 0.25))
      q.processAllAvailable()
      q.processAllAvailable()
      assert(nullRows() == Seq(2L),
        s"strictly-past watermark must emit the null row exactly once: ${nullRows()}")
    } finally q.stop()
  }

  test("left-semi interval join: a click with many in-window purchases emits exactly once (q262)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val clicksIn = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val buysIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val clicks = clicksIn.toDF().toDF("c_uid", "click_ts", "click_id")
      .withWatermark("click_ts", "10 minutes")
    val buys = buysIn.toDF().toDF("p_uid", "p_ts", "value")
      .withWatermark("p_ts", "10 minutes")
    val joined = StreamingQueries.intervalJoin(clicks, buys, "left_semi")
    val name = s"ssemi_${System.nanoTime()}"
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    def rows() = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq.sorted
    try {
      // user 1: one click, THREE purchases inside its window (two in the
      // same batch, one in a later batch) — the click must emit once,
      // not three times, and the later in-window purchase must not
      // re-emit an already-emitted click. User 2 never converts: no row.
      clicksIn.addData((1L, ts(10, 0), 101L), (2L, ts(10, 0), 201L))
      buysIn.addData((1L, ts(10, 10), 1.0), (1L, ts(10, 20), 2.0))
      q.processAllAvailable()
      assert(rows() == Seq((1L, 101L)),
        s"multi-purchase batch must emit the click once: ${rows()}")
      buysIn.addData((1L, ts(10, 40), 3.0))
      q.processAllAvailable()
      assert(rows() == Seq((1L, 101L)),
        s"a later in-window purchase must not re-emit: ${rows()}")
    } finally q.stop()
  }
}
