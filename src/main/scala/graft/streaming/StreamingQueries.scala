package graft.streaming

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery}
import graft.Tables

/** Structured-Streaming layer over the `events` table (SURVEY §2.2 streaming
  * row; north-star M5). The reference is pure batch — its "streams" are
  * threads (MapReduce.h:10-11) — so this layer is additive capability.
  *
  * Three shapes:
  *  - windowed aggregations (tumbling/sliding/session) usable identically in
  *    batch and streaming — q80/q81 run them in batch mode with DuckDB
  *    oracles (time_bucket / lag-based sessionization are SQL-standard);
  *  - q82 runs the *same* tumbling aggregation through a real
  *    `readStream` → memory-sink micro-batch execution, so the streaming
  *    runtime itself is under the correctness gate (its oracle is q80's);
  *  - [[sessionize]] is `mapGroupsWithState` sessionization — custom state
  *    machine, checked against the SQL sessionization in StreamingSpec.
  *
  * Scale: watermark + windowed agg state is bounded per (window × key);
  * sessionization state is one small struct per active user.
  */
object StreamingQueries {
  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------- plumbing

  /** Prefix of every memory sink this layer names. A long-lived session
    * (Bench) drops the temp views with this prefix after each query, or the
    * drained rows would stay in the catalog for the rest of the session. */
  private[graft] final val SinkPrefix = "graft_stream"

  /** Start `w`, run every micro-batch that is available and always stop the
    * query, also when a batch fails (the failure then surfaces here). */
  private def drain(w: DataStreamWriter[_]): Unit = {
    val q = w.start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Drain `df` into a memory sink and return the drained table. The drain
    * discipline every memory-sink query of this layer follows:
    *  - The sink is named `graft_stream_<nanos>` ([[SinkPrefix]]), the prefix
    *    Bench drops after each sample.
    *  - The state width is 4. A stateful query fixes its state partition
    *    count at start from `spark.sql.shuffle.partitions`, and every state
    *    partition pays a store open/commit per micro-batch whatever it
    *    holds, so the width is sized to the keyed state volume, not to the
    *    session's batch-shuffle width. On a cluster the same knob is sized
    *    upward for state throughput.
    *  - Confs, this one and any a caller sets with [[withConf]] around the
    *    drain, are restored only after the drain returns: the query is
    *    planned on the stream thread at its first trigger, not in `start()`.
    */
  private[graft] def drainToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val name = s"${SinkPrefix}_${System.nanoTime()}"
    withConf(s, "spark.sql.shuffle.partitions" -> "4") {
      drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    }
    s.table(name)
  }

  /** Set each conf, run `body`, then restore each conf, or unset it if it
    * was not set before. */
  private[graft] def withConf[T](s: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val set = s.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Poll `q` until `done` holds. If the query terminates first, rethrow its
    * failure; if 120 s pass, throw — never hang the caller. */
  private[graft] def awaitUntil(q: StreamingQuery)(done: => Boolean): Unit = {
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (!done) {
      if (!q.isActive)
        throw q.exception.getOrElse(
          new IllegalStateException(s"stream ${q.name} terminated before its condition held"))
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"stream ${q.name} still waiting after 120 s")
      Thread.sleep(50)
    }
  }

  /** A directory under java.io.tmpdir for staged copies or links of fixture
    * `table` in `d`, named by `prefix`, `d`, `key` and the fixture's
    * (size, md5) fingerprint. Content addressing means a regenerated
    * fixture is never served stale chunks or dangling links, also when it
    * was restored with a preserved mtime; fixtureFingerprint also handles
    * directory-shaped fixtures (the Spark-written 10x scale tier). */
  private def stagingDir(d: String, table: String, prefix: String,
      key: String): Path = {
    val (size, md5hex) = Tables.fixtureFingerprint(Paths.get(d, s"$table.parquet"))
    val safe = d.replaceAll("[^A-Za-z0-9.]", "_")
    Paths.get(sys.props("java.io.tmpdir"),
      s"$prefix$safe${key}_${size}_${md5hex.take(16)}")
  }

  /** A file stream over fixture `table`, with its batch schema, from the
    * [[streamDir]] staging. */
  private def tableStream(s: SparkSession, d: String, table: String): DataFrame =
    s.readStream.schema(Tables.load(s, d, table).schema).parquet(streamDir(d, table))

  /** Schema-adaptive streaming source over the `events` fixture: the
    * [[tableStream]], then the same `ts`-normalization branch as the batch
    * loader ([[Tables.normalizeEventsTs]] — long nanos → µs, NTZ →
    * session-UTC TIMESTAMP, native µs pass-through). Every streaming query
    * over the single-file events source routes through here so a
    * fixture-encoding change is handled in exactly one place. */
  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventsTs(tableStream(s, d, "events"))
  }

  /** Chunk files [[rangeChunks]] stages: the chunked sources replay the
    * events table as this many micro-batches. */
  private val Chunks = 4

  /** Stage the events table as [[Chunks]] parquet files range-partitioned on
    * `column` (`event_id` or `ts`). part-0000k holds the k-th range
    * (repartitionByRange assigns ranges in partition order), and mtimes are
    * pinned strictly increasing in that order, so the file source, which
    * orders by modification time, replays the ranges in order even where a
    * filesystem ties timestamps.
    *  - `ts` chunks replay the stream in event-time order, the monotone
    *    replay a real event stream has, which watermark-gated queries need
    *    (append-mode finalization, update mode, timeout sessions).
    *  - `event_id` chunks interleave time: the fixture for order-INSENSITIVE
    *    state (dedup, upsert, complete-mode windows). Under a watermark that
    *    interleaving would make batch 1 advance the watermark to near-final
    *    and batches 2..n arrive almost entirely late.
    * The staging is a materialized COPY, so its dir is content-addressed
    * ([[stagingDir]]). `mode=overwrite` clears a half-staged dir from an
    * earlier crash (marker absent ⇒ never served); the marker lands only
    * after the write and the mtimes. */
  private[graft] def rangeChunks(s: SparkSession, d: String, column: String): String = {
    import scala.jdk.CollectionConverters._
    val dir = stagingDir(d, "events", "graft_chunks_", s"${column}_$Chunks")
    val marker = dir.resolve("_STAGED")
    if (!Files.exists(marker)) {
      Tables.events(s, d)
        .repartitionByRange(Chunks, col(column))
        .write.mode("overwrite").parquet(dir.toString)
      val stream = Files.list(dir)
      val parts =
        try stream.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
          .sortBy(_.getFileName.toString)
        finally stream.close()
      val base = System.currentTimeMillis()
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      }
      Files.write(marker, Array.emptyByteArray)
    }
    dir.toString
  }

  /** The [[rangeChunks]] staging on `column` as a file stream that reads one
    * chunk per trigger. The chunks hold the already-normalized
    * `Tables.events` output, so `ts` is a TIMESTAMP the stream can
    * watermark directly. */
  private[graft] def chunkedSource(s: SparkSession, d: String, column: String): DataFrame = {
    val stage = rangeChunks(s, d, column)
    s.readStream.schema(s.read.parquet(stage).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
  }

  /** Rows and value total per (`windowCol`, event_type) — the windowed
    * aggregate of the tumbling and sliding queries, batch or streaming. */
  private def windowTotals(df: DataFrame, windowCol: Column): DataFrame =
    df.groupBy(windowCol.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** [[windowTotals]] of a stream over 1-hour tumbling windows, with the
    * watermark 1 hour behind the latest event time. */
  private def tumblingTotals(stream: DataFrame): DataFrame =
    windowTotals(stream.withWatermark("ts", "1 hour"), window(col("ts"), "1 hour"))

  /** "Purchase within one hour after the click", joined per user as `how`
    * — the interval join of q86/q195/q252/q262/q279, which
    * StreamOuterJoinSpec drives on MemoryStream sides. */
  private[graft] def intervalJoin(clicks: DataFrame, purchases: DataFrame,
      how: String): DataFrame =
    clicks.join(purchases, expr(
      "c_uid = p_uid AND p_ts >= click_ts AND p_ts <= click_ts + interval 1 hour"), how)

  /** The events stream's clicks joined to its purchases as `how`: one
    * streaming source with two filter branches (a streaming self-join: the
    * engine still keys two state stores, but source listing and scan
    * bookkeeping are not duplicated per branch), each watermarked 1 hour. */
  private def clickPurchaseJoin(s: SparkSession, d: String, how: String): DataFrame = {
    val src = eventsStream(s, d)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("ts").as("p_ts"), col("value"))
      .withWatermark("p_ts", "1 hour")
    intervalJoin(clicks, purchases, how)
  }

  /** One foreachBatch fold step of in-session state: `combine` the previous
    * state (an empty placeholder of `add`'s schema on the first batch) with
    * `add`, then materialize with an eager `localCheckpoint`. Materializing
    * BEFORE the micro-batch ends matters (its frame is not re-executable
    * later), and it caps the state lineage at O(1) per batch. The superseded
    * state's checkpoint blocks are dead once the new state materializes, so
    * they are released now instead of waiting for GC + ContextCleaner:
    * otherwise every batch of every sample leaves a full state copy in the
    * block store, the creeping memory pressure that surfaced as the r11
    * q141–q145 positional elevation (q143 7.1 s in-session vs 1.2 s solo).
    * Only a real superseded checkpoint is released; the placeholder has no
    * blocks. The placeholder lives in `s`, not in the batch's stream
    * session, so the state and everything derived from it after the drain
    * plan in `s`. */
  private def foldStep(s: SparkSession, prev: DataFrame, add: DataFrame)(
      combine: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val base = if (prev != null) prev
      else s.createDataFrame(s.sparkContext.emptyRDD[Row], add.schema)
    val next = combine(base, add).localCheckpoint(true)
    if (prev != null) graft.operators.Dedup.unpersistBlocks(prev)
    next
  }

  // -------------------------------------------------------------- queries

  /** Tumbling 1-hour windows per event_type (batch execution of the
    * streaming-shaped plan). */
  private val q80: Q = (s, d) =>
    windowTotals(Tables.events(s, d), window(col("ts"), "1 hour"))
      .orderBy(col("window_start"), col("event_type"))

  /** Gap-based sessionization (30-min inactivity) per user via
    * `session_window` — the declarative form of [[sessionize]]. */
  private val q81: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** The q80 aggregation executed by the *streaming* engine: file-source
    * readStream over the same parquet, complete-mode memory sink
    * ([[drainToMemory]]). Oracle = identical SQL to q80. */
  private val q82: Q = (s, d) =>
    drainToMemory(tumblingTotals(eventsStream(s, d)), OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type"))

  /** The q83 sliding-window aggregation executed by the *streaming* engine
    * ([[drainToMemory]]): every event expands into two overlapping 2-hour
    * windows under micro-batch execution; oracle = identical SQL to q83. */
  private val q85: Q = (s, d) =>
    drainToMemory(windowTotals(eventsStream(s, d).withWatermark("ts", "1 hour"),
      window(col("ts"), "2 hours", "1 hour")), OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type"))

  /** APPEND-mode watermarked tumbling aggregation — the production output
    * mode for unbounded dashboards, and the missing half of q82 (complete
    * mode re-emits every window each trigger; append emits each window
    * EXACTLY ONCE, when the watermark passes its end, then drops its
    * state). The events table replays as 4 micro-batches so the watermark
    * genuinely advances mid-run and finalizes windows batch over batch;
    * after the last file the engine's zero-data batch flushes everything
    * the final watermark (global max ts − 1 h) closes. Windows still OPEN
    * at that watermark are withheld — never emitted — which is exactly
    * what the oracle replays: the tumbling aggregate restricted to
    * windows with end ≤ max(ts) − 1 h. AppendModeSpec drives the same
    * plan on a controlled MemoryStream and pins the row-level contract
    * (no window emitted before the watermark passes its end; exactly-once
    * emission; late-beyond-watermark rows dropped).
    *
    * Scale: state is bounded by the windows inside the watermark horizon
    * (window × key), the bound complete mode loses — this is the form
    * that holds on an unbounded 100 TB stream. */
  private val q191: Q = (s, d) =>
    drainToMemory(tumblingTotals(chunkedSource(s, d, "ts")), OutputMode.Append())
      .orderBy(col("window_start"), col("event_type"))

  /** UPDATE-mode watermarked tumbling aggregation (round 19, VERDICT r18
    * item 5) — the third output mode under the oracle discipline
    * (complete: q82/q85/q151; append: q191): each trigger emits only the
    * windows that CHANGED in that trigger, re-emitting a window as often
    * as new rows land in it — the mode for upsert sinks, where the
    * consumer keeps the latest row per key. The drained memory sink
    * therefore holds the full RE-EMISSION HISTORY (one row per (window,
    * key, change)); the gated frame is the consumer's view — the FINAL
    * state per key, picked by max(n): per-key counts grow strictly
    * across that key's re-emissions (update mode emits a key only when
    * its state changed), so max-n IS the last emission, with max_by
    * carrying its total. The events replay time-ordered in 4 chunks
    * (q191's staging), so no row arrives beyond the watermark and every
    * window's final state equals the plain batch aggregate — the oracle
    * is q80's tumbling SQL verbatim, which is exactly the
    * final-state-≡-batch certificate the mode needs. LateDataSpec
    * drives the same plan on a controlled MemoryStream and pins the
    * re-emission semantics row-by-row (initial emit, changed-key-only
    * re-emit, late-beyond-watermark non-emit).
    *
    * Scale: state is watermark-bounded exactly as in append mode; the
    * sink sees O(changes) rows instead of O(windows × triggers)
    * (complete mode's cost) — the only mode fit for a 100 TB upsert
    * dashboard feed. */
  private val q268: Q = (s, d) =>
    drainToMemory(tumblingTotals(chunkedSource(s, d, "ts")), OutputMode.Update())
      .groupBy(col("window_start"), col("event_type"))
      .agg(max(col("n")).as("n"), max_by(col("total"), col("n")).as("total"))
      .orderBy(col("window_start"), col("event_type"))

  /** Stream-stream inner join under the REAL streaming runtime: clicks and
    * purchases (two watermarked readStream branches over the same source)
    * joined per user with the event-time interval condition "purchase within
    * one hour after the click". Inner joins emit as matches arrive; the
    * watermarks + time bound let the engine EVICT join state older than the
    * interval — the property that makes stream-stream joins feasible at all
    * at scale (unbounded state otherwise). The drained pair stream is rolled
    * up per user in batch; oracle = the identical interval join in DuckDB. */
  private val q86: Q = (s, d) =>
    drainToMemory(clickPurchaseJoin(s, d, "inner"), OutputMode.Append())
      .groupBy(col("c_uid").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("user_id"))

  /** The q82 tumbling aggregation executed on the ROCKSDB state store —
    * the production state backend for large state (billions of keys spill
    * to native disk-backed stores instead of executor heap; the default
    * HDFSBackedStateStoreProvider keeps every key's state in JVM memory
    * per partition, the bound that breaks first on a 100 TB stream).
    * Identical plan and oracle to q82 — the gate certifies backend
    * equivalence: swapping the provider config changes WHERE state lives,
    * never what the query computes. */
  private val q205: Q = (s, d) =>
    withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      drainToMemory(tumblingTotals(eventsStream(s, d)), OutputMode.Complete())
    }.orderBy(col("window_start"), col("event_type"))

  /** Stream-stream LEFT OUTER interval join — the production funnel shape
    * q86's inner join cannot express: "every click, with its conversions
    * if any, and PROVABLY-unconverted clicks surfaced as null-extended
    * rows". Matched pairs emit as they arrive (inner semantics); a
    * null-extended row for an unmatched click emits only once the
    * watermark PROVES no matching purchase can still arrive — i.e. when
    * click_ts + 1 h (the far edge of its join interval) falls behind the
    * global watermark, at which point the engine also evicts the click's
    * state. Clicks whose interval is still open when the stream drains
    * are withheld entirely (same trailing-edge rule as q191's open
    * windows), which is exactly what the oracle replays: matched pairs
    * unconditionally, plus null rows only for clicks with no match and
    * click_ts + 1 h < min(max click_ts, max p_ts) − 1 h (the engine's
    * final watermark under the two branch watermarks' min-policy).
    * StreamOuterJoinSpec drives the same plan on a MemoryStream pair and
    * pins the row-level contract (no null row before the watermark
    * closes the interval; exactly-once null emission; a late match never
    * resurrects an evicted click).
    *
    * Scale: the interval bound + watermarks are what make the join's
    * state BOUNDED (evictable) on an unbounded stream — each side holds
    * only rows inside the watermark horizon, the property that lets this
    * run forever on a 100 TB/day event feed. */
  private val q195: Q = (s, d) =>
    drainToMemory(clickPurchaseJoin(s, d, "left_outer"), OutputMode.Append())
      .groupBy(col("c_uid").as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("p_uid")).as("n_matched"),
        (count(lit(1)) - count(col("p_uid"))).as("n_unmatched"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
      .orderBy(col("user_id"))

  /** Stream-stream LEFT ANTI interval join (round 19) — the FIFTH and
    * final mode of the interval-join matrix (inner q86, left outer
    * q195, full outer q252, left semi q262): "clicks that NEVER
    * converted", the retargeting/abandonment feed. Spark's streaming
    * engine supports inner/outer/semi but has NO native stream-stream
    * anti — and none is needed: the certified left-outer's null side IS
    * the anti. A click null-extends exactly once, when the watermark
    * passes the far edge of its interval (q195's rule, proved by
    * StreamOuterJoinSpec's no-premature-null/exactly-once locks), and a
    * matched click never null-extends — so filtering the drained outer
    * rows to purchase-side NULL yields each never-converted click
    * exactly once, with the outer join's bounded-state economics
    * unchanged (this derivation adds no state at all). The oracle is
    * the independent batch NOT EXISTS behind the same watermark cutoff:
    * clicks whose proof window is still open at drain end are withheld
    * by BOTH engines (q191's trailing-edge rule). */
  private val q279: Q = (s, d) => {
    // The null filter rides INSIDE the streaming plan (r21, guide §2.3
    // "project early"): matched pairs — the bulk of the outer join's
    // emissions — are dropped in-flight instead of being materialized
    // into the memory sink and filtered afterwards. Emission timing is
    // untouched (a null-extension still fires exactly when the watermark
    // closes the click's interval), so the drained rows are byte-for-byte
    // the rows the post-drain filter kept before.
    val unmatched = clickPurchaseJoin(s, d, "left_outer")
      .filter(col("p_uid").isNull)
      .select(col("c_uid"), col("click_id"))
    drainToMemory(unmatched, OutputMode.Append())
      .select(col("c_uid").as("user_id"), col("click_id"))
      .orderBy(col("user_id"), col("click_id"))
  }

  /** Stream-stream FULL OUTER interval join — the last production funnel
    * shape after q86 (inner) and q195 (left outer): "clicks without
    * purchases AND purchases without clicks", both sides null-extended
    * exactly once at watermark expiry (round 18, VERDICT r17 item 6).
    * Matched pairs emit on arrival. An unmatched CLICK null-extends when
    * the watermark passes the far edge of its interval (click_ts + 1 h —
    * q195's rule verbatim). An unmatched PURCHASE null-extends when the
    * watermark passes p_ts itself: a purchase matches clicks with
    * click_ts ∈ [p_ts − 1 h, p_ts], and once the watermark exceeds p_ts
    * every not-yet-seen admissible click is late-by-definition, so the
    * engine can prove orphanhood and evict — the ASYMMETRY of the two
    * null cutoffs falls straight out of the interval condition, and the
    * oracle replays both: matched pairs unconditionally, click nulls at
    * click_ts + 1 h < W, purchase nulls at p_ts < W, with W =
    * min(max click_ts, max p_ts) − 1 h (the final min-policy watermark).
    * Rows whose proof window is still open when the stream drains are
    * withheld on BOTH sides (q191's trailing-edge rule).
    * StreamOuterJoinSpec drives the same plan on a MemoryStream pair and
    * pins no-premature-null + exactly-once emission per side.
    *
    * Scale: identical bounded-state posture to q86/q195 — the interval
    * bound + watermarks let both state stores evict, so the join runs
    * forever on an unbounded feed; the drained roll-up is user-keyed and
    * channels-bounded per user. */
  private val q252: Q = (s, d) =>
    drainToMemory(clickPurchaseJoin(s, d, "full_outer"), OutputMode.Append())
      .groupBy(coalesce(col("c_uid"), col("p_uid")).as("user_id"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("click_id").isNotNull && col("p_uid").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("p_uid").isNull, 1L).otherwise(0L)).as("n_click_only"),
        sum(when(col("click_id").isNull, 1L).otherwise(0L))
          .as("n_purchase_only"),
        round(sum(coalesce(col("value"), lit(0.0))), 2).as("total_value"))
      .orderBy(col("user_id"))

  /** Stream-stream LEFT SEMI interval join (round 18) — the fourth and
    * last production mode of the interval-join matrix (q86 inner, q195
    * left outer, q252 full outer): "clicks that CONVERTED", each
    * matched click emitted exactly ONCE regardless of how many
    * purchases land in its window — the dedup the inner join's
    * per-pair fan-out forces consumers to re-do, pushed into the join
    * state itself. No null-extension, so no watermark-expiry emission
    * path: a click emits when its FIRST match arrives and never again.
    * Same bounded-state posture as the rest of the matrix.
    *
    * The oracle is the batch EXISTS formulation over the same interval
    * — agreement certifies exactly-once-per-click emission (any
    * double-emit inflates n_converted_clicks). */
  private val q262: Q = (s, d) =>
    drainToMemory(clickPurchaseJoin(s, d, "left_semi"), OutputMode.Append())
      .groupBy(col("c_uid").as("user_id"))
      .agg(count(lit(1)).as("n_converted_clicks"))
      .orderBy(col("user_id"))

  /** Restart-safe checkpointed streaming parquet sink — the durability
    * contract every production pipeline (and none of the other streaming
    * gates — q87 explicitly runs checkpoint-free) actually ships on:
    * source offsets commit to a checkpointLocation, the file sink commits
    * files through its `_spark_metadata` transaction log, and a restarted
    * query RESUMES from the committed offset prefix instead of re-emitting
    * it. The events table replays as 4 micro-batches; the first query is
    * stopped mid-stream (after ≥1 committed batch), then a SECOND query
    * with the same checkpoint drains the rest. Exactly-once holds at
    * WHATEVER point the stop landed — the committed-prefix + resume
    * argument — so the final sink contents equal the batch filter with no
    * duplicate and no hole, which is what the oracle replays.
    * `spark.read` over the sink dir routes through `_spark_metadata`, so
    * only sink-committed files count (an uncommitted orphan from the kill
    * is invisible — the same read path a downstream batch job uses).
    * CheckpointRecoverySpec drives the stop/restart seam on a controlled
    * 3-file source and pins the no-dup/no-hole row sets.
    *
    * Scale: the checkpoint holds offsets + file-manifest batches (KB per
    * trigger, independent of data volume); the sink transaction log is
    * one compact JSON per batch. This is the unbounded-retention shape —
    * nothing in the recovery path ever rereads history. */
  private val q199: Q = (s, d) => {
    // Keyed like the chunk staging it reads: the checkpoint's offset log
    // names those chunk files.
    val root = stagingDir(d, "events", "graft_ckpt_sink_", s"event_id_$Chunks")
    val outDir = root.resolve("out"); val ckpt = root.resolve("ckpt")
    // Every call starts from an empty root, so every call runs the
    // stop/restart seam. The root outlives the call: the result reads out/.
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    Files.createDirectories(root)
    def sink() = chunkedSource(s, d, "event_id")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
    // Run 1: stop after the first committed micro-batch — mid-stream.
    val q1 = sink().start()
    try awaitUntil(q1)(q1.recentProgress.exists(_.numInputRows > 0))
    finally q1.stop()
    // Run 2: same checkpoint — resumes from the committed offsets and
    // drains the remaining batches.
    drain(sink())
    s.read.parquet(outDir.toString)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .orderBy(col("user_id"))
  }

  /** Spark's streaming file source requires a *directory* of data FILES;
    * the gate fixtures are single parquet files and the scale-tier
    * fixtures are Spark-written DIRECTORIES of part files. Stage a
    * per-table symlink dir that handles BOTH shapes (round 20, VERDICT r19
    * item 1: the previous single-symlink form linked a directory fixture
    * as one entry, which FileStreamSource's listing resolves to ZERO
    * files — every eventsStream-routed tier row measured an empty drain).
    * A file fixture stages as one symlink; a directory fixture stages one
    * symlink PER part file (still no copy). The staging dir is
    * content-addressed ([[stagingDir]]) and a marker file makes the
    * staging idempotent and crash-safe. */
  private[graft] def streamDir(d: String, table: String): String = {
    import scala.jdk.CollectionConverters._
    val src = Paths.get(d, s"$table.parquet")
    val dir = stagingDir(d, table, "graft_stream_", table)
    val marker = dir.resolve("_STAGED")
    if (!Files.exists(marker)) {
      Files.createDirectories(dir)
      if (Files.isDirectory(src)) {
        val stream = Files.list(src)
        val parts =
          try stream.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
            .sortBy(_.getFileName.toString)
          finally stream.close()
        require(parts.nonEmpty,
          s"directory-shaped fixture $src lists no parquet part files")
        parts.foreach { p =>
          val link = dir.resolve(p.getFileName.toString)
          // Links are content-addressed, so a concurrent JVM creating the
          // same link between our exists-check and create is benign
          // (ADVICE r20 TOCTOU): swallow the race, not the staging.
          if (!Files.exists(link))
            try Files.createSymbolicLink(link, p)
            catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
      } else {
        val link = dir.resolve(s"$table.parquet")
        if (!Files.exists(link))
          try Files.createSymbolicLink(link, src)
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
      }
      Files.write(marker, Array.emptyByteArray)
    }
    dir.toString
  }

  /** Sliding 2-hour windows every hour per event_type: each event lands in
    * two windows (Expand in the plan); oracle enumerates both buckets. */
  private val q83: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total"))
      .orderBy(col("window_start"), col("event_type"))

  /** Time-series gap fill: per user (< 5), a complete hourly grid between
    * their first and last event, zero-filled where no events landed —
    * the densification step before any rolling/window model. */
  private val q84: Q = (s, d) => {
    val ev = Tables.events(s, d).filter(col("user_id") < 5)
      .withColumn("h", date_trunc("hour", col("ts")))
    val bounds = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val grid = bounds.select(col("user_id"),
      explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val counts = ev.groupBy(col("user_id"), col("h"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
    grid.join(counts, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h").as("hour"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total"), lit(0.0)).as("total"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** Stream–static enrichment join under the real micro-batch engine: the
    * purchase stream joins the customer dimension (broadcast — the static
    * side ships to tasks, never shuffles the stream) and rolls revenue up
    * per nation. Unlike the stream-stream join (q86) this is STATELESS:
    * each micro-batch joins against the static relation and only the
    * downstream aggregate keeps state (≤ |nations| rows, complete mode) —
    * the dimension-enrichment shape every event pipeline runs before its
    * aggregations. Sum order varies with batch split; the 2-dp round
    * absorbs it (q82's discipline), counts are exact. */
  private val q145: Q = (s, d) => {
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
    val cust = broadcast(Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey")))
    val agg = purchases
      .join(cust, purchases("user_id") === cust("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("revenue"))
    drainToMemory(agg, OutputMode.Complete()).orderBy(col("c_nationkey"))
  }

  /** The q81 session aggregation executed by the STREAMING engine — the
    * missing member of the streaming window matrix (tumbling q82, sliding
    * q85, session q151). Complete output mode ([[drainToMemory]]): the
    * session-window state merges within-gap events per user across
    * micro-batches — including SESSION MERGES, where an event arriving in
    * a later chunk bridges two previously-separate open sessions (the
    * chunks are event_id-ranged, not time-ranged, so this genuinely
    * happens) — and the drained table holds every session,
    * batch-equivalent, so the gate reuses q81's oracle verbatim. Sum
    * order varies with the batch split; the 2-dp round absorbs it (q82's
    * discipline), counts exact. Complete mode retains all sessions —
    * that is what makes the drain deterministic here; the bounded-state
    * production form pairs `withWatermark` with append mode and emits
    * each session once its close time passes the watermark. */
  private val q151: Q = (s, d) => {
    val agg = chunkedSource(s, d, "event_id")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("n_events"), col("total_value"))
    drainToMemory(agg, OutputMode.Complete())
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming exact dedup under the REAL micro-batch engine: the events
    * table replays as 4 chunks and `dropDuplicates` keeps ONE row per
    * (user_id, event_type) across batches — the streaming member of the
    * dedup family, now under the hash gate (StreamingDedupSpec pins the
    * cross-batch state machine on a controlled MemoryStream; this runs it
    * on the fixture). Output is the distinct KEY SET — deterministic
    * whatever the batch arrival order — so the oracle is plain batch
    * DISTINCT. State = one row per distinct key (bounded by key
    * cardinality here; for unbounded keys like event ids the TTL'd
    * `dropDuplicatesWithinWatermark` variant caps state by event time —
    * the StreamingDedupSpec watermark contract). */
  private val q144: Q = (s, d) => {
    val deduped = chunkedSource(s, d, "event_id")
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    drainToMemory(deduped, OutputMode.Append())
      .orderBy(col("user_id"), col("event_type"))
  }

  /** TTL'd streaming dedup — q144's unbounded-key form. Plain
    * `dropDuplicates` state grows with LIFETIME key cardinality (fatal when
    * the key is an event id over a 100 TB stream);
    * `dropDuplicatesWithinWatermark` holds a key only until the watermark
    * passes its event time + delay, so state is bounded by the keys live
    * inside the TTL horizon. Here the delay deliberately exceeds the whole
    * fixture's time span: no row is ever late and nothing evicts mid-run,
    * so the emitted key set is deterministic — exactly batch DISTINCT,
    * q144's oracle — while the plan runs the REAL TTL operator
    * (dedupe-within-watermark state store). Eviction + re-admission + the
    * bounded-state row count are pinned by StreamingDedupSpec's controlled
    * MemoryStream contract, where the watermark can be driven precisely. */
  private val q148: Q = (s, d) => {
    val deduped = chunkedSource(s, d, "event_id")
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    drainToMemory(deduped, OutputMode.Append())
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Streaming CDC upsert — an incrementally-maintained latest-wins view
    * (the foreachBatch MERGE pattern a lakehouse streaming sink compacts
    * to): the events table replays as 4 micro-batches; each batch folds
    * into locally-checkpointed in-session state ([[foldStep]]) via
    * [[graft.operators.Analytics.mergeLatest]] (state ∪ batch →
    * row_number=1 per key). `localCheckpoint` is explicitly NOT
    * fault-tolerant and the stream runs without a checkpointLocation —
    * this query certifies the merge semantics (split-insensitivity), not
    * crash recovery; durability would need a real sink plus a
    * checkpointLocation. State stays bounded by the
    * number of distinct keys — per-batch cost is one merge of
    * (state + batch), never a reread of the stream. The final view must
    * equal batch latest-wins over the whole table (the merge is
    * split-insensitive under a total version order), which the oracle
    * replays. */
  private val q87: Q = (s, d) => {
    val raw = chunkedSource(s, d, "event_id")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        col("value"))
    var state: DataFrame = null
    drain(raw.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = foldStep(s, state, batch) { (base, add) =>
          graft.operators.Analytics.mergeLatest(base, add,
            Seq("user_id", "event_type"), Seq("ts", "event_id")).drop("_src")
        }
        ()
      })
    state
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"),
        round(col("value"), 2).as("last_value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** The q213 routing predicate, null-safe: a NULL value with a non-null
    * user must route to a channel, not vanish (NULL > 200 is NULL; NULL OR
    * false is NULL, which BOTH filter(bad) and filter(!bad) exclude — a
    * silently dropped row would violate the operator's "main + DLQ
    * partition the input" contract). coalesce(.., false) mirrors the
    * oracle's CASE, which routes a NULL-valued row to 'main' because its
    * WHEN condition is falsy-NULL. Exposed for the partition-property
    * regression spec. */
  private[graft] def quarantineBad: Column =
    coalesce(col("value") > 200, lit(false)) || col("user_id").isNull

  /** Streaming quarantine routing (dead-letter queue) — the ingest
    * guard every production stream runs in front of its good-path sink:
    * each micro-batch splits ONCE on the contract predicate, the clean
    * rows land in the main channel, violations land in the DLQ with a
    * reason column — rows are never dropped silently (the property the
    * gate certifies: main + DLQ partition the input exactly). Both
    * channels fold into in-session state per batch ([[foldStep]], as in
    * q87 — a real deployment writes two sinks; the split logic is
    * identical). The contract here: `value` must be ≤ 200 and `user_id`
    * present — the tail-value rule genuinely fires on the fixture, so
    * the DLQ path is exercised, not vacuously green.
    *
    * Scale: the split is a map-side filter pair per batch — no state, no
    * shuffle; DLQ volume is bounded by the violation rate. */
  private val q213: Q = (s, d) => {
    val raw = chunkedSource(s, d, "event_id")
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    val bad = quarantineBad
    var main: DataFrame = null
    var dlq: DataFrame = null
    drain(raw.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        main = foldStep(s, main, batch.filter(!bad))(_ unionByName _)
        dlq = foldStep(s, dlq, batch.filter(bad)
          .withColumn("reason",
            when(col("user_id").isNull, lit("null_user"))
              .otherwise(lit("value_gt_200"))))(_ unionByName _)
        ()
      })
    val mainAgg = main.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), lit("main").as("channel"),
        lit("ok").as("reason"))
    val dlqAgg = dlq.groupBy(col("event_type"), col("reason"))
      .agg(count(lit(1)).as("n"), lit("dlq").as("channel"))
    mainAgg.select(col("channel"), col("event_type"), col("reason"), col("n"))
      .unionByName(dlqAgg.select(col("channel"), col("event_type"),
        col("reason"), col("n")))
      .orderBy(col("channel"), col("event_type"), col("reason"))
  }

  /** The [[sessionize]] typed state machine (`groupByKey.flatMapGroups`
    * per-user ordered fold — the reference's O8 reducer shape with real
    * state) under the hash gate: its sessions must match the SAME lag-based
    * SQL oracle that certifies the declarative `session_window` form (q81).
    * Session membership is invariant to equal-timestamp order, and the
    * per-session double sum is rounded, so the typed fold hashes exactly. */
  private val q88: Q = (s, d) =>
    sessionize(s, d)
      .select(col("user_id"), col("session_start"),
        col("n_events").cast("long").as("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** q130's sketch geometry — width 16 forces collisions on the fixture
    * vocabulary, so the gate exercises the over-estimate path, not just the
    * collision-free identity. Shared with the oracle SQL. */
  private[graft] val SmDepth = 4
  private[graft] val SmWidth = 16

  /** Streaming count-min heavy hitters: the [[graft.operators.Analytics]]
    * count-min cells built BY THE STREAMING ENGINE — tokens explode
    * map-side per micro-batch and the cell aggregate folds them into
    * `depth × width` counters. Complete output mode is normally the
    * unbounded-state trap of streaming aggregation; a sketch aggregate is
    * the case where it is PROVABLY safe — state is ≤ depth×width rows by
    * construction, whatever the stream's cardinality. That bound is the
    * whole point of streaming sketches: heavy-hitter monitoring over
    * unbounded token streams with constant state, merge-by-sum across
    * restarts/partitions.
    *
    * After draining, the final sketch state is probed for the top-5
    * estimated heavy hitters next to their exact counts (batch audit leg)
    * — StreamingSketchSpec asserts the drained state equals the batch
    * [[graft.operators.Analytics.countMin]] cell-for-cell (sum algebra ≡
    * micro-batch folding). */
  /** Delegates to the single count-min hash/cell definitions in Analytics —
    * the batch/stream cell-for-cell equivalence contract depends on there
    * being exactly one. The digest is projected once per value
    * ([[graft.operators.Analytics.cmHash]]) and rows derive from it. */
  private def cmHashFor(c: String) = graft.operators.Analytics.cmHash(c)
  private def cmCellsFor(hexCol: String) =
    graft.operators.Analytics.cmCells(hexCol, SmDepth, SmWidth)

  /** The drained streaming sketch state (the memory table itself) —
    * separate from [[q130]] so StreamingSketchSpec can compare it
    * cell-for-cell with the batch [[graft.operators.Analytics.countMin]]. */
  private[graft] def streamedCountMin(s: SparkSession, d: String): DataFrame = {
    val sketch = tableStream(s, d, "documents")
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      .select(expr(cmHashFor("tok")).as("_h"))
      .select(posexplode(expr(cmCellsFor("_h"))).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
    drainToMemory(sketch, OutputMode.Complete())
  }

  private val q130: Q = (s, d) => {
    val sk = streamedCountMin(s, d)
    // batch probe of the drained state: every distinct token's estimate
    // (min over rows of its cell) vs its exact count.
    val toks = Tables.documents(s, d)
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    val exact = toks.groupBy(col("tok").as("term")).agg(count(lit(1)).as("exact"))
    exact
      .select(col("term"), col("exact"), expr(cmHashFor("term")).as("_h"))
      .select(col("term"), col("exact"),
        posexplode(expr(cmCellsFor("_h"))).as(Seq("j", "bucket")))
      .join(sk, Seq("j", "bucket"))
      .groupBy(col("term"), col("exact")).agg(min(col("cnt")).as("est"))
      .select(col("term"), col("est"), col("exact"))
      .orderBy(col("est").desc, col("term"))
      .limit(5)
  }

  /** Streaming Bloom filter: the q149 bitset built BY THE STREAMING
    * ENGINE — token bit positions explode map-side per micro-batch
    * (the one [[graft.operators.Analytics.cmCells]] derivation) and the
    * per-bit aggregate holds the sketch. Same provably-bounded
    * complete-mode argument as [[streamedCountMin]]: state ≤ m rows by
    * construction whatever the stream's cardinality — the "have we ever
    * seen this key" monitor an ingest pipeline keeps with constant state.
    * The drained KEY SET is the bitset (bit presence is
    * duplicate-insensitive), so it is arrival-order-independent and must
    * equal the batch [[graft.operators.Analytics.bloomFilter]] exactly
    * (StreamingSketchSpec) — and the q150 gate reuses q149's oracle
    * verbatim. */
  private[graft] def streamedBloomBits(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Analytics
    val bits = tableStream(s, d, "documents")
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
      .select(expr(Analytics.cmHash("tok")).as("_h"))
      .select(posexplode(expr(
        Analytics.cmCells("_h", Analytics.BloomK, Analytics.BloomBits)))
        .as(Seq("j", "bit")))
      .groupBy(col("bit")).agg(count(lit(1)).as("n"))
    drainToMemory(bits, OutputMode.Complete()).select(col("bit"))
  }

  private val q150: Q = (s, d) => {
    import graft.operators.Analytics
    val toks = Tables.documents(s, d)
      .select(explode(expr("filter(split(text, ' '), t -> t != '')")).as("tok"))
    Analytics.bloomProbeBits(streamedBloomBits(s, d), toks, "tok",
      Analytics.CmProbes)
      .orderBy(col("term"))
  }

  /** Streaming HyperLogLog: the [[graft.operators.Analytics.hllRegisters]]
    * register file built BY THE STREAMING ENGINE over the events stream.
    * Same provably-bounded complete-mode argument as [[streamedCountMin]]:
    * per-register MAX is idempotent/commutative/associative, so state is
    * ≤ \|groups\|·m rows whatever the stream's cardinality — the
    * distinct-user monitoring loop every event pipeline runs, with
    * constant state and no distinct pass. Drained state is
    * order-independent, so the q138 gate reuses q135's batch oracle
    * verbatim. */
  private[graft] def streamedHllRegisters(s: SparkSession, d: String): DataFrame =
    drainToMemory(graft.operators.Analytics
      .hllRegisters(eventsStream(s, d), "event_type", "user_id"), OutputMode.Complete())

  private val q138: Q = (s, d) => {
    val est = graft.operators.Analytics
      .hllFinalize(streamedHllRegisters(s, d), "event_type")
    val exact = Tables.events(s, d).filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    exact.join(broadcast(est), "event_type")
      .select(col("event_type"), col("n_exact"), col("m_used"),
        col("s_reg"), col("hll_est"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q130_stream_countmin" -> q130,
    "q138_stream_hll" -> q138,
    "q80_tumbling_window" -> q80,
    "q81_session_window" -> q81,
    "q82_stream_tumbling" -> q82,
    "q83_sliding_window" -> q83,
    "q84_gap_fill" -> q84,
    "q85_stream_sliding" -> q85,
    "q86_stream_join" -> q86,
    "q87_stream_upsert" -> q87,
    "q88_typed_sessions" -> q88,
    "q144_stream_dedup" -> q144,
    "q145_stream_enrich" -> q145,
    "q148_stream_dedup_ttl" -> q148,
    "q150_stream_bloom" -> q150,
    "q151_stream_session" -> q151,
    "q191_stream_append" -> q191,
    "q268_stream_update" -> q268,
    "q280_stream_timeout_session" -> q280,
    "q195_stream_outer_join" -> q195,
    "q279_stream_anti_join" -> q279,
    "q252_stream_full_outer" -> q252,
    "q262_stream_semi_join" -> q262,
    "q199_stream_restart" -> q199,
    "q205_stream_rocksdb" -> q205,
    "q206_stream_topk" -> q206,
    "q213_stream_quarantine" -> q213,
  )

  private val slidingOracle = """
      SELECT ws AS window_start, event_type, count(*) AS n,
             round(sum(value), 2) AS total
      FROM (SELECT unnest([time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
                           time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                             - INTERVAL '1 hour']) AS ws,
                   event_type, value
            FROM events)
      GROUP BY ws, event_type
      ORDER BY window_start, event_type"""

  private val tumblingOracle = """
      SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS window_start,
             event_type, count(*) AS n, round(sum(value), 2) AS total
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""

  private val sessionOracle = """
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
                            >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id,
             CAST(min(CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS session_start,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM sessions
      GROUP BY user_id, sid
      ORDER BY user_id, session_start"""

  val oracles: Map[String, String] = Map(
    // The final complete-mode state of a pure-max aggregate is execution-
    // order-independent, so the streamed HLL register file must equal the
    // batch one — q138 reuses q135's oracle VERBATIM (same shared register
    // definition, same estimator).
    "q138_stream_hll" ->
      graft.operators.Analytics.oracles("q135_hll_distinct"),
    // Bit presence is duplicate-insensitive, so the drained streaming
    // bitset is arrival-order-independent and equals the batch one —
    // q150 reuses q149's oracle VERBATIM (same shared K-M bit derivation,
    // same probe harness).
    "q150_stream_bloom" ->
      graft.operators.Analytics.oracles("q149_bloom_filter"),
    // Streaming dedup emits each distinct key exactly once, whatever the
    // micro-batch split — the key set equals batch DISTINCT.
    "q144_stream_dedup" -> """
      SELECT user_id, event_type FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    // With the TTL delay wider than the fixture's time span, nothing is
    // late and nothing evicts — the TTL'd dedup must emit exactly the
    // distinct key set, the same oracle as q144.
    "q148_stream_dedup_ttl" -> """
      SELECT user_id, event_type FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type""",
    // The stream-static join's final complete-mode state is the batch
    // join+aggregate (counts exact; the revenue round absorbs sum order).
    "q145_stream_enrich" -> """
      SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS revenue
      FROM events JOIN customer ON user_id = c_custkey
      WHERE event_type = 'purchase'
      GROUP BY c_nationkey
      ORDER BY c_nationkey""",
    // Rebuilds q130's width-16 sketch in batch (the final complete-mode
    // state of a pure-sum aggregate is execution-order-independent, so the
    // streamed sketch must equal the batch one cell-for-cell), probes every
    // token, takes the same (est desc, term) top-5. Integer algebra — exact.
    "q130_stream_countmin" -> {
      def km(hexCol: String) =
        s"(${graft.operators.CrossHash.hexSliceDuckDb(hexCol, 1)} + j * ${graft.operators.CrossHash.hexSliceDuckDb(hexCol, 16)}) % $SmWidth"
      s"""
      WITH tok AS (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
                   FROM documents),
      th AS (SELECT tok, md5(tok) AS h FROM tok),
      cells AS (SELECT j, ${km("h")} AS bucket
                FROM th CROSS JOIN (SELECT unnest(range(0, $SmDepth)) AS j)),
      sk AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
             FROM cells GROUP BY j, bucket),
      ex AS (SELECT tok AS term, CAST(count(*) AS BIGINT) AS exact FROM tok GROUP BY tok),
      eh AS (SELECT term, exact, md5(term) AS h FROM ex),
      pb AS (SELECT term, j, ${km("h")} AS bucket
             FROM eh CROSS JOIN (SELECT unnest(range(0, $SmDepth)) AS j)),
      est AS (SELECT term, min(sk.cnt) AS est
              FROM pb JOIN sk ON pb.j = sk.j AND pb.bucket = sk.bucket
              GROUP BY term)
      SELECT e.term, e.est, x.exact FROM est e JOIN ex x ON e.term = x.term
      ORDER BY e.est DESC, e.term LIMIT 5""" },
    "q80_tumbling_window" -> tumblingOracle,
    "q82_stream_tumbling" -> tumblingOracle,
    // Backend equivalence: the RocksDB-provider run must equal the same
    // aggregation on the default heap-backed provider (and the batch SQL).
    "q205_stream_rocksdb" -> tumblingOracle,
    // Update-mode final state ≡ the batch aggregate: the events replay
    // time-ordered, so nothing is watermark-dropped, and the consumer's
    // latest-row-per-key view (max-n pick over the re-emission history)
    // must land exactly on q80's tumbling SQL.
    "q268_stream_update" -> tumblingOracle,
    // The timeout-sessionization drain: q151's batch sessionization CTE,
    // restricted to sessions PROVABLY closed behind the final watermark —
    // every non-final session of a user (gap-closed by that user's own
    // next event, watermark-free) plus the final session iff its timer
    // (last event + 30 min, ms-floored) is STRICTLY behind the final
    // watermark (max ts − 1 h, ms-floored): Spark's timeout check is
    // `timeoutTimestamp < watermark` on ms-truncated event times, and
    // TimeoutSessionSpec pins both emission paths.
    "q280_stream_timeout_session" -> """
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR CAST(ts AS TIMESTAMP) - CAST(lag(ts) OVER w AS TIMESTAMP)
                            >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sessions AS (
        SELECT user_id, ts, value,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked),
      agg AS (
        SELECT user_id, sid,
               max(sid) OVER (PARTITION BY user_id) AS max_sid,
               CAST(min(CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS session_start,
               epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000 AS last_ms,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2) AS total_value
        FROM sessions GROUP BY user_id, sid),
      wm AS (SELECT epoch_us(max(CAST(ts AS TIMESTAMP))) // 1000 - 3600000
                      AS wm_ms FROM events)
      SELECT user_id, session_start, n_events, total_value
      FROM agg, wm
      WHERE sid < max_sid OR last_ms + 1800000 < wm_ms
      ORDER BY user_id, session_start""",
    // q82's tumbling aggregate restricted to watermark-FINALIZED windows:
    // append mode emits a window only once the watermark (max event time
    // − 1 h delay) passes its end, so the trailing open windows are
    // absent from both engines.
    "q191_stream_append" -> """
      WITH wm AS (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour'
                    AS cutoff FROM events),
      agg AS (
        SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                 AS TIMESTAMP) AS window_start,
               event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2)
      SELECT window_start, event_type, n, total
      FROM agg, wm
      WHERE window_start + INTERVAL '1 hour' <= cutoff
      ORDER BY window_start, event_type""",
    "q87_stream_upsert" -> """
      WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
                        event_id, value FROM events),
      r AS (SELECT *, row_number()
              OVER (PARTITION BY user_id, event_type
                    ORDER BY ts DESC, event_id DESC) AS rn
            FROM e)
      SELECT user_id, event_type, event_id AS last_event_id,
             round(value, 2) AS last_value
      FROM r WHERE rn = 1
      ORDER BY user_id, event_type""",
    "q84_gap_fill" -> """
      WITH ev AS (SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
                  FROM events WHERE user_id < 5),
      b AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM ev GROUP BY user_id),
      grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
               FROM b),
      c AS (SELECT user_id, h, count(*) AS n, round(sum(value), 2) AS total
            FROM ev GROUP BY user_id, h)
      SELECT g.user_id, CAST(g.h AS TIMESTAMP) AS hour,
             coalesce(c.n, 0) AS n, coalesce(c.total, 0.0) AS total
      FROM grid g LEFT JOIN c ON g.user_id = c.user_id AND g.h = c.h
      ORDER BY g.user_id, hour""",
    "q83_sliding_window" -> slidingOracle,
    "q85_stream_sliding" -> slidingOracle,
    // Left-outer replay: matched pairs unconditionally (they emit as they
    // arrive, watermark-independent); null rows only for clicks whose
    // join interval the FINAL watermark provably closed — cutoff =
    // min(max click_ts, max p_ts) − 1 h (two branch watermarks, min
    // policy), null-extended iff click_ts + 1 h < cutoff. Trailing
    // still-open clicks are withheld by both engines.
    "q195_stream_outer_join" -> """
      WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
                    - INTERVAL '1 hour' AS cutoff),
      m AS (SELECT c.user_id, c.event_id, p.value
            FROM c JOIN p ON c.user_id = p.user_id
             AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL '1 hour'),
      u AS (SELECT c.user_id, c.event_id FROM c, wm
            WHERE c.cts + INTERVAL '1 hour' < wm.cutoff
              AND NOT EXISTS (SELECT 1 FROM p
                    WHERE p.user_id = c.user_id
                      AND p.pts >= c.cts
                      AND p.pts <= c.cts + INTERVAL '1 hour')),
      rows_all AS (SELECT user_id, value FROM m
                   UNION ALL
                   SELECT user_id, CAST(NULL AS DOUBLE) AS value FROM u)
      SELECT user_id, count(*) AS n_rows,
             CAST(count(value) AS BIGINT) AS n_matched,
             CAST(count(*) - count(value) AS BIGINT) AS n_unmatched,
             round(sum(coalesce(value, 0.0)), 2) AS total_value
      FROM rows_all GROUP BY user_id ORDER BY user_id""",
    // The anti mode: q195's unmatched-click CTE alone — per-click NOT
    // EXISTS behind the same far-edge watermark cutoff. The STRICT '<'
    // is pinned against Spark's actual eviction boundary (far edge ==
    // watermark withholds; strictly past emits) by StreamOuterJoinSpec's
    // boundary case (ADVICE r19).
    "q279_stream_anti_join" -> """
      WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
                    - INTERVAL '1 hour' AS cutoff)
      SELECT c.user_id, c.event_id AS click_id
      FROM c, wm
      WHERE c.cts + INTERVAL '1 hour' < wm.cutoff
        AND NOT EXISTS (SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.pts >= c.cts
                AND p.pts <= c.cts + INTERVAL '1 hour')
      ORDER BY c.user_id, c.event_id""",
    // Replays the FULL outer drain: matched pairs unconditionally; click
    // nulls behind the q195 far-edge cutoff; purchase nulls behind the
    // purchase's OWN timestamp (its admissible clicks all precede it, so
    // the watermark passing p_ts is the orphanhood proof) — both against
    // the final min-policy watermark.
    "q252_stream_full_outer" -> """
      WITH c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value
            FROM events WHERE event_type = 'purchase'),
      wm AS (SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
                    - INTERVAL '1 hour' AS cutoff),
      m AS (SELECT c.user_id, c.event_id, p.value
            FROM c JOIN p ON c.user_id = p.user_id
             AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL '1 hour'),
      uc AS (SELECT c.user_id FROM c, wm
             WHERE c.cts + INTERVAL '1 hour' < wm.cutoff
               AND NOT EXISTS (SELECT 1 FROM p
                     WHERE p.user_id = c.user_id
                       AND p.pts >= c.cts
                       AND p.pts <= c.cts + INTERVAL '1 hour')),
      up AS (SELECT p.user_id, p.value FROM p, wm
             WHERE p.pts < wm.cutoff
               AND NOT EXISTS (SELECT 1 FROM c
                     WHERE c.user_id = p.user_id
                       AND p.pts >= c.cts
                       AND p.pts <= c.cts + INTERVAL '1 hour')),
      rows_all AS (
        SELECT user_id, 1 AS mt, 0 AS co, 0 AS po, value FROM m
        UNION ALL
        SELECT user_id, 0, 1, 0, CAST(NULL AS DOUBLE) FROM uc
        UNION ALL
        SELECT user_id, 0, 0, 1, value FROM up)
      SELECT user_id, count(*) AS n_rows,
             CAST(sum(mt) AS BIGINT) AS n_matched,
             CAST(sum(co) AS BIGINT) AS n_click_only,
             CAST(sum(po) AS BIGINT) AS n_purchase_only,
             round(sum(coalesce(value, 0.0)), 2) AS total_value
      FROM rows_all GROUP BY user_id ORDER BY user_id""",
    // The EXISTS formulation: agreement certifies exactly-once-per-click
    // semi emission (a double-emit inflates the count).
    "q262_stream_semi_join" -> """
      SELECT c.user_id, CAST(count(*) AS BIGINT) AS n_converted_clicks
      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts, event_id
            FROM events WHERE event_type = 'click') c
      WHERE EXISTS (SELECT 1 FROM (SELECT user_id,
                                          CAST(ts AS TIMESTAMP) AS pts
                                   FROM events
                                   WHERE event_type = 'purchase') p
                    WHERE p.user_id = c.user_id
                      AND p.pts >= c.cts
                      AND p.pts <= c.cts + INTERVAL '1 hour')
      GROUP BY c.user_id ORDER BY c.user_id""",
    // Main + DLQ must partition the input exactly — no silent drops, no
    // double-routing; reason precedence mirrors the stream's CASE order.
    "q213_stream_quarantine" -> """
      WITH c AS (SELECT event_type,
                        CASE WHEN value > 200 OR user_id IS NULL
                             THEN 'dlq' ELSE 'main' END AS channel,
                        CASE WHEN user_id IS NULL THEN 'null_user'
                             WHEN value > 200 THEN 'value_gt_200'
                             ELSE 'ok' END AS reason
                 FROM events)
      SELECT channel, event_type, reason, count(*) AS n
      FROM c GROUP BY 1, 2, 3
      ORDER BY channel, event_type, reason""",
    // The drained final leaderboard per key must equal the batch window
    // top-k under the identical (value DESC, id ASC) total order.
    "q206_stream_topk" -> """
      WITH r AS (SELECT event_type, event_id, value,
                        row_number() OVER (PARTITION BY event_type
                          ORDER BY value DESC, event_id) AS rk
                 FROM events)
      SELECT event_type, CAST(rk AS INT) AS rank, event_id, value
      FROM r WHERE rk <= 3
      ORDER BY event_type, rank""",
    // The drained checkpointed sink must hold the batch filter exactly
    // once — no duplicated batch-1 rows from the restart, no hole.
    "q199_stream_restart" -> """
      SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id ORDER BY user_id""",
    "q86_stream_join" -> """
      SELECT c.user_id, count(*) AS n_pairs, round(sum(p.value), 2) AS total_value
      FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS cts FROM events
            WHERE event_type = 'click') c
      JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS pts, value FROM events
            WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL '1 hour'
      GROUP BY c.user_id ORDER BY c.user_id""",
    // Sessionization via the SQL-standard lag + cumulative-flag pattern —
    // independent formulation of Spark's session_window semantics.
    "q81_session_window" -> sessionOracle,
    "q88_typed_sessions" -> sessionOracle,
    // The drained complete-mode session state is batch-equivalent
    // (every session retained, merges included) — q151 reuses the same
    // session oracle as the batch declarative (q81) and typed (q88) forms.
    "q151_stream_session" -> sessionOracle,
  )

  /** Streaming ingestion from a *generator* source — the Kafka-shaped path
    * (unbounded readStream, not a file listing) without a broker in the
    * container: `rate-micro-batch` emits exactly `rowsPerBatch` rows per
    * trigger with `value` = 0,1,2,…, so the drained result has a closed-form
    * oracle. The query rolls the value stream up into `buckets` residue
    * classes (complete mode), is polled until at least `minRows` ingested,
    * then stopped; because the memory sink commits whole micro-batches, the
    * snapshot covers value ∈ [0, M) with M an exact multiple of
    * `rowsPerBatch` — RateIngestSpec asserts every per-bucket count and sum
    * against arithmetic. Swapping the source line for `format("kafka")` is
    * the production path; nothing downstream changes. */
  def rateIngest(spark: SparkSession, rowsPerBatch: Int = 1000,
      buckets: Int = 10, minRows: Long = 2000): DataFrame = {
    val raw = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toString)
      .option("numPartitions", "4")
      .load()
    val agg = raw
      .select(pmod(col("value"), lit(buckets.toLong)).as("bucket"), col("value"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val name = s"${SinkPrefix}_${System.nanoTime()}"
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName(name).start()
    // rate-micro-batch can always produce a next batch, so a drain would
    // never return — poll the committed snapshot until enough rows have
    // flowed through instead.
    try awaitUntil(q)(spark.table(name).agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0) >= minRows)
    finally { q.stop(); q.awaitTermination() }
    spark.table(name).orderBy(col("bucket"))
  }

  /** Exactly-once-style `foreachBatch` parquet writer: each micro-batch
    * lands in its own subdirectory gated by a commit marker, so a
    * *redelivered* batch id (micro-batch retry after a sink-side failure —
    * Spark's foreachBatch contract is at-least-once) is skipped instead of
    * appended twice. This is the standard idempotent-sink recipe for
    * end-to-end exactly-once on top of a replayable source + checkpointed
    * offsets; at scale the marker check is one metadata read per batch.
    * Returns the writer closure so tests can also invoke it directly to
    * simulate redelivery. */
  def idempotentBatchWriter(outDir: String): (DataFrame, Long) => Unit = {
    (batch: DataFrame, batchId: Long) => {
      import java.nio.file.{Files, Paths}
      val dir = Paths.get(outDir, s"batch_$batchId")
      val marker = Paths.get(outDir, s"batch_$batchId._COMMITTED")
      if (!Files.exists(marker)) {
        batch.write.mode("overwrite").parquet(dir.toString)
        Files.createDirectories(Paths.get(outDir))
        Files.write(marker, Array.emptyByteArray)
      }
    }
  }

  /** Drain the q80 tumbling aggregation through the idempotent parquet sink
    * (complete mode; with the single-file fixture source there is exactly
    * one batch, holding the full result). */
  def sinkTumblingToParquet(s: SparkSession, d: String, outDir: String): Unit =
    drain(tumblingTotals(eventsStream(s, d)).writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch(idempotentBatchWriter(outDir)))

  // ------------------------------------------------------------- stateful

  /** Event time as epoch *micros* end-to-end — java.sql.Timestamp.getTime is
    * millisecond-precision and would corrupt session starts. */
  final case class TopEntry(value: Double, id: Long)
  final case class TopKState(seen: Long, top: List[TopEntry])
  final case class TopKEmit(event_type: String, seen: Long, top: List[TopEntry])

  /** Streaming per-key top-k via `mapGroupsWithState` — the "current
    * leaderboard" monitor: state per key is the bounded top-k set under
    * the TOTAL order (value DESC, id ASC), so the post-drain state is a
    * pure function of the row SET — arrival order and batch splits cannot
    * change it, which is what makes it batch-gateable. Each batch emits
    * the key's refreshed leaderboard stamped with the rows-seen counter;
    * the drain keeps each key's highest-seen emission (its final state)
    * and explodes it to ranked rows. Oracle = the batch window top-k.
    *
    * Scale: state is k entries per key — constant — and every update
    * folds the batch in one pass; this is the bounded-state form of a
    * rank dashboard over an unbounded stream. */
  def streamingTopK(spark: SparkSession, d: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val src = eventsStream(spark, d)
      .select(col("event_type"), col("event_id").cast("long").as("id"),
        col("value").cast("double").as("value"))
      .as[(String, Long, Double)]
    val updated = src.groupByKey(_._1)
      .mapGroupsWithState[TopKState, TopKEmit](GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[(String, Long, Double)],
         state: GroupState[TopKState]) =>
          val prev = state.getOption.getOrElse(TopKState(0L, Nil))
          var seen = prev.seen
          var top = prev.top
          it.foreach { r =>
            seen += 1
            top = (TopEntry(r._3, r._2) :: top)
              .sortBy(e => (-e.value, e.id)).take(k)
          }
          val st = TopKState(seen, top)
          state.update(st)
          TopKEmit(key, seen, top)
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("seen").desc)
    drainToMemory(updated.toDF(), OutputMode.Update())
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("event_type"), posexplode(col("top")).as(Seq("_pos", "e")))
      .select(col("event_type"), (col("_pos") + 1).cast("int").as("rank"),
        col("e.id").as("event_id"), col("e.value").as("value"))
      .orderBy(col("event_type"), col("rank"))
  }

  // def, not val: this sits BELOW the `queries` map in initialization
  // order — a val here would still be null when the map captures it.
  private def q206: Q = (s, d) => streamingTopK(s, d)

  final case class Event(user_id: Long, ts_us: Long, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, total: Double)
  final case class Session(user_id: Long, start_us: Long, n_events: Int,
      total_value: Double)

  private val GapUs = 30L * 60 * 1000 * 1000 // 30-minute inactivity gap

  /** `mapGroupsWithState`-style sessionization as a custom state machine.
    * Batch `flatMapGroups` shares the same fold so the logic is testable
    * without a streaming runtime; [[sessionizeStreaming]] runs it under the
    * real streaming engine with `GroupStateTimeout`. */
  def sessionize(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid: Long, it: Iterator[Event]) =>
        val evs = it.toArray.sortBy(_.ts_us)
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        var st: SessionState = null
        for (e <- evs) {
          val t = e.ts_us
          if (st == null) st = SessionState(t, t, 1, e.value)
          else if (t - st.last >= GapUs) {
            out += Session(uid, st.start, st.n, st.total)
            st = SessionState(t, t, 1, e.value)
          } else st = st.copy(last = t, n = st.n + 1, total = st.total + e.value)
        }
        if (st != null) out += Session(uid, st.start, st.n, st.total)
        out.iterator
      }
      .select(col("user_id"), timestamp_micros(col("start_us")).as("session_start"),
        col("n_events"), col("total_value"))
  }

  /** The same state machine under the streaming engine via
    * `flatMapGroupsWithState` with event-time timeout — sessions emit when
    * the watermark passes their gap. Demonstrated/asserted in StreamingSpec. */
  final case class EventW(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
      value: Double)

  def sessionizeStreaming(spark: SparkSession, d: String): DataFrame = {
    import spark.implicits._
    val raw = eventsStream(spark, d)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("value")).as[EventW]
    drainToMemory(sessionizeWithTimeout(raw).toDF(), OutputMode.Append())
      .select(col("user_id"), timestamp_micros(col("start_us")).as("session_start"),
        col("n_events"), col("total_value"))
  }

  /** The timeout-sessionization state machine itself, over any watermarked
    * [[EventW]] source — shared by [[sessionizeStreaming]], the gated
    * [[q280]] drain and TimeoutSessionSpec's MemoryStream harness, so the
    * spec certifies the PRODUCTION state function, not a replica.
    *
    * Emission paths (both append-mode, each session exactly once):
    *  - GAP closure: the user's next event arrives ≥ 30 min after the
    *    session's last — the closed session emits in that event's batch,
    *    watermark-independent;
    *  - TIMER expiry: `GroupStateTimeout.EventTimeTimeout` fires when the
    *    watermark passes the session's last event + 30 min (strictly —
    *    Spark's timeout check is `timeoutTimestamp < watermark`, in ms)
    *    and the state function runs with an EMPTY iterator +
    *    `hasTimedOut`, emitting the open session and dropping its state.
    *    A user's final session can only emit this way.
    * Sessions whose timer hasn't expired behind the final watermark are
    * withheld (q191's trailing-edge rule). */
  private[graft] def sessionizeWithTimeout(
      raw: org.apache.spark.sql.Dataset[EventW]):
      org.apache.spark.sql.Dataset[Session] = {
    import raw.sparkSession.implicits._
    raw
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EventW], state: GroupState[List[SessionState]]) =>
          val evs = it.toArray.sortBy(_.ts_us)
          var open = state.getOption.getOrElse(Nil)
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          for (e <- evs) {
            val t = e.ts_us
            open match {
              case st :: rest if t - st.last < GapUs =>
                open = st.copy(last = t, n = st.n + 1, total = st.total + e.value) :: rest
              case st :: rest =>
                closed += Session(uid, st.start, st.n, st.total)
                open = SessionState(t, t, 1, e.value) :: rest
              case Nil =>
                open = SessionState(t, t, 1, e.value) :: Nil
            }
          }
          if (state.hasTimedOut) {
            open.foreach(st => closed += Session(uid, st.start, st.n, st.total))
            state.remove()
          } else {
            state.update(open)
            val wm = state.getCurrentWatermarkMs()
            open.headOption.foreach(st =>
              state.setTimeoutTimestamp(math.max(st.last / 1000 + GapUs / 1000, wm + 1)))
          }
          closed.iterator
      }
  }

  /** Sessionization under `flatMapGroupsWithState` with EVENT-TIME TIMEOUT
    * (round 20, VERDICT r19 item 2) — the production session-emission
    * shape: sessions EMIT on timer expiry in APPEND mode, the missing
    * stateful-streaming surface next to q151 (`session_window`, complete
    * mode — re-emits every session each trigger) and q206
    * (`mapGroupsWithState`, no timeout). Complete mode's sink cost is
    * O(sessions × triggers) and its state never evicts; the timeout form
    * emits each closed session EXACTLY ONCE and drops its state — the
    * only shape that holds on an unbounded 100 TB event stream.
    *
    * The events replay time-ordered in 4 chunks (q191's staging) so the
    * watermark genuinely advances mid-run, no row is ever late, and the
    * `math.max(…, wm+1)` guard in the timer arm never masks the
    * `last + gap` timestamp. The drained frame is therefore exactly the
    * batch sessionization restricted to sessions PROVABLY closed by the
    * final watermark, which the oracle replays: every non-final session
    * of a user (gap-closed by the user's own next event, watermark-free)
    * plus the user's final session iff `last_ms + 30 min < max_ts_ms −
    * 1 h` — the strict ms-floored comparison mirroring Spark's
    * `timeoutTimestamp < watermark` check on ms-truncated event times.
    * TimeoutSessionSpec drives [[sessionizeWithTimeout]] on a controlled
    * MemoryStream and pins both emission paths row-by-row (no premature
    * emission, exactly-once on gap AND on timer, trailing session
    * withheld, late row dropped).
    *
    * Scale: state is one open session per active user and evicts on
    * every timer expiry; per-trigger cost is the batch's events + the
    * expired timers — nothing re-reads or re-emits history. */
  // def, not val: sits BELOW the `queries` map in initialization order
  // (q206's rule) — a val here would still be null when the map captures it.
  private def q280: Q = (s, d) => {
    import s.implicits._
    val raw = chunkedSource(s, d, "ts")
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("value")).as[EventW]
    drainToMemory(sessionizeWithTimeout(raw).toDF(), OutputMode.Append())
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        col("n_events").cast("long").as("n_events"),
        round(col("total_value"), 2).as("total_value"))
      .orderBy(col("user_id"), col("session_start"))
  }
}
