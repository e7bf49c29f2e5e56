package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced end-to-end with a noop-format write (materializes
  * every output column — `count()` would let Catalyst prune the plan).
  *
  * Regression-proofing (round 6): each query is timed SPARK_GRAFT_RUNS
  * times back-to-back (default 3) and reported as `"qNN":[median,min]` —
  * single-shot numbers on this container carry JIT/GC/session-ordering
  * noise that twice produced phantom regressions (r2's 13-query cluster,
  * r5's q66 "4.7×" that a fresh-JVM solo run measured at 1.5 s; PERF.md).
  * The median absorbs one-off stalls, the min shows the steady-state
  * floor; `value` is the sum of medians. Full 3-decimal per-run samples
  * go to bench_out.json (no stdout-tail size cap there).
  *
  * Round 11: each query additionally gets ONE untimed warm-up execution
  * before its timed samples (SPARK_GRAFT_WARMUP=0 disables), so
  * first-touch JIT/codegen cost is excluded from the reported median —
  * the r10 q110 profile [7.49, 6.63, 1.20] showed a median-of-3 can
  * overstate steady state 5× on iterative graph queries.
  *
  * Round 13 (VERDICT r12 item 1): a median-of-3 has no outlier defense —
  * ONE container stall poisons the reported number for a round (r12:
  * q159 sampled [6.30, 89.30, 7.47], q167 [4.23, 12.46, 7.77], q219
  * [0.89, 3.15, 4.36] — floors matched r11, medians didn't, and two
  * operators were flagged perf-weak on unchanged code). Stall defense:
  * when the initial samples spread >2.5× (and by >1 s absolute, so
  * sub-second jitter can't trigger it), the query is re-sampled
  * SPARK_GRAFT_STALL_EXTRA more times (default 2) and the single worst
  * sample is dropped before taking the median. Clean queries keep the
  * plain median-of-`runs` (record continuity with r6–r12); only
  * stall-suspected ones pay the extra samples.
  *
  * Round 17 (VERDICT r16 item 3): the spread check is blind to UNIFORMLY
  * hot windows — r16's committed record held q202 at 3.19 s floor vs a
  * 0.61 s quiet floor on identical locked code, samples [3.19, 4.35,
  * 5.47] spreading only 1.7×. Cross-record drift defense: each query's
  * fresh floor is compared against the previous committed
  * bench_samples.json floor (same sf AND thread basis only — the record
  * now stamps both); >2.5× and >1 s above it fires the same re-sample +
  * drop-max machinery, and a row whose floor STAYS drifted after the
  * extras is persisted in the record's "drift_hot" list, so a poisoned
  * floor can no longer enter a round record silently.
  */
/** The stall-defense arithmetic, extracted for unit testing (the defense
  * only fires on genuinely noisy windows, so a spec is the only place its
  * edge cases run deterministically). */
private[graft] object BenchSampling {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** True when the initial samples look stall-contaminated: spread >2.5×
    * AND >1 s absolute (so sub-second jitter on fast queries can never
    * trigger re-sampling). 2.5×, not 3×: of the three r12 poisoned
    * profiles this defense exists for, q167's [4.23, 12.46, 7.77] spreads
    * 2.95× — a 3× gate replays two of three victims and misses the third
    * (BenchSamplingSpec pins all three). Steady-state profiles sit far
    * below 2× spread, so the looser gate costs extra samples only on
    * genuinely suspicious windows. */
  def stallSuspected(samples: Seq[Double]): Boolean =
    samples.size >= 2 &&
      samples.max > 2.5 * samples.min && samples.max - samples.min > 1.0
  /** Cross-record floor drift (round 17, VERDICT r16 item 3): the stall
    * defense above keys on INTRA-run spread, so a uniformly hot window
    * sails through it — r16's committed q202 floor was 3.19 s against a
    * 0.61 s quiet floor on identical locked code, samples [3.19, 4.35,
    * 5.47] spreading only 1.7×. This check compares the run's own floor
    * against the PREVIOUS committed record's floor for the same query:
    * fires when this run's min is >2.5× the prior floor AND >1 s above it
    * (the same absolute guard, so sub-second jitter can never trigger).
    * Only meaningful when the two records share a measurement basis —
    * the caller must pass floors from a record with the same sf AND
    * thread count (see parsePriorFloors). */
  def driftSuspected(samples: Seq[Double], priorFloor: Double): Boolean =
    samples.nonEmpty && priorFloor > 0 &&
      samples.min > 2.5 * priorFloor && samples.min - priorFloor > 1.0
  /** Parse a committed bench_samples.json into query → floor (min
    * sample), returning empty unless the record's "sf" and "threads"
    * fields BOTH match the current run's basis: a 32-thread driver record
    * or a 10×-tier record must never arbitrate a local[4] sf0.1 run
    * (CPU-bound floors nearly halve at 32 threads, tier floors are ~10×
    * higher — either mismatch would fire the defense spuriously or mask
    * real drift). Legacy records without the fields are skipped, not
    * guessed at. Regex, not a JSON lib (none on the main classpath); the
    * file is this harness's own single-line output, so the row shape is
    * exact. */
  def parsePriorFloors(text: String, sf: String,
      threads: String): Map[String, Double] = {
    val sfRe = """"sf":"([^"]*)"""".r
    val thRe = """"threads":(?:"([^"]*)"|(\d+))""".r
    val basisOk =
      sfRe.findFirstMatchIn(text).exists(_.group(1) == sf) &&
        thRe.findFirstMatchIn(text).exists(m =>
          Option(m.group(1)).getOrElse(m.group(2)) == threads)
    if (!basisOk) Map.empty
    else {
      val row = """"(q[A-Za-z0-9_]+)":\[([^\]]+)\]""".r
      row.findAllMatchIn(text).flatMap { m =>
        val vals = m.group(2).split(',').flatMap(_.trim.toDoubleOption)
        if (vals.isEmpty) None else Some(m.group(1) -> vals.min)
      }.toMap
    }
  }
  /** Record-level heat verdict (round 18, VERDICT r17 item 1). The
    * per-query drift check above keys on a 2.5×/1 s PER-QUERY excursion,
    * so a DIFFUSE hot window — every floor 10–20% warm, none
    * individually suspicious — stamps nothing: r17's committed
    * 251-query record carried ~24 s of heat over the round's own quiet
    * run-1 floors with ZERO per-query firings, and only PERF.md prose
    * marked it. This verdict compares the RECORD: the sum of this run's
    * floors over the queries COMMON to the prior same-basis committed
    * record vs the prior sum — >10% above, with ≥ 20 common queries so
    * a near-disjoint surface can't fire it, marks the whole record hot
    * (`"record_hot": true` in the samples header). Per-query firings
    * are deliberately not consulted: zero firings IS the diffuse
    * signature, and a record with firings and aggregate drift is still
    * hot. */
  def recordHot(floors: Map[String, Double],
      priorFloors: Map[String, Double]): Boolean = {
    val common = floors.keySet & priorFloors.keySet
    common.size >= 20 && {
      val cur = common.iterator.map(floors).sum
      val prior = common.iterator.map(priorFloors).sum
      prior > 0 && cur > 1.10 * prior
    }
  }
  /** Window-quality verdict from the record's OWN numbers (round 19,
    * VERDICT r18 item 1). `recordHot` above compares against a prior
    * committed SAME-BASIS record, so a first-of-basis record is
    * structurally unstampable — exactly how BENCH_r18.json (32-thread,
    * value 254.49 s vs its own 222.33 s floor, 14.5% over) shipped
    * with record_hot=false. This flag needs NO history: BASELINE.md's
    * quiet bound says a quiet window's sum-of-medians converges to
    * within 10% of its sum-of-floors, so value > 1.10 × floor marks
    * the window hot from the record alone. The two flags answer
    * different questions — window_hot: "was THIS window quiet?";
    * record_hot: "did the floors themselves drift vs the last
    * committed quiet record?" — and a record is a committable
    * steady-state reading only when BOTH are false. */
  def windowHot(value: Double, sumOfMins: Double): Boolean =
    sumOfMins > 0 && value > 1.10 * sumOfMins
  /** Plain median for clean queries (record continuity with r6–r12);
    * drop-max median whenever the stall defense FIRED — keyed on the
    * flag, not on sample count, so a re-sample whose extra executions
    * all failed still reports the defended number instead of silently
    * falling back to the poisoned median (r13 review finding). */
  def reported(xs: Seq[Double], fired: Boolean): Double =
    if (fired && xs.size >= 2) median(xs.sorted.dropRight(1)) else median(xs)
  /** Directory for a run's bench_out.json and bench_samples.json: the
    * working directory for a full run (the committed record), and
    * `target/bench-subset` for a `SPARK_GRAFT_ONLY` subset, so that a
    * subset never overwrites the record nor becomes the next run's prior
    * floors. */
  def outputDir(only: Option[Set[String]]): java.nio.file.Path =
    if (only.isDefined) java.nio.file.Paths.get("target", "bench-subset")
    else java.nio.file.Paths.get("")
}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt)
    val warmupPerQuery = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1"
    // Extra samples taken when a query's initial samples spread >2.5× (stall
    // suspicion); 0 disables the defense and restores pure median-of-`runs`.
    val stallExtra =
      math.max(0, sys.env.getOrElse("SPARK_GRAFT_STALL_EXTRA", "2").toInt)
    // Prior committed floors for the cross-record drift defense (round
    // 17): read BEFORE a full run clobbers bench_samples.json (a subset
    // run writes elsewhere, BenchSampling.outputDir). Same-basis
    // only (sf + threads — parsePriorFloors scaladoc); in a session the
    // file may instead hold the previous run's samples, which is exactly
    // the comparison wanted (the freshest same-basis floor available).
    val priorFloors: Map[String, Double] = {
      val p = java.nio.file.Paths.get("bench_samples.json")
      if (java.nio.file.Files.exists(p))
        BenchSampling.parsePriorFloors(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
          sfDir, cpus)
      else Map.empty
    }
    val spark = LocalSession(cpus.toInt)

    def execOnce(name: String): Double = {
      val t0 = System.nanoTime()
      val df = try {
        val d = SparkEntry.queries(name)(spark, sfDir)
        d.write.format("noop").mode("overwrite").save()
        d
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // Iterative operators (BFS settled, CC labels, dedup collapse frames)
      // necessarily RETURN a localCheckpoint frame; timing `runs` samples
      // back-to-back without releasing the previous sample's blocks
      // accumulates them in the block store — the one code-side mechanism
      // consistent with r9's monotonically ASCENDING q139 driver profile
      // [3.45, 5.24, 8.83] while the builder's descended. Release is
      // untimed (after the clock stops) and a no-op for file-scan plans.
      operators.Dedup.unpersistBlocks(df)
      dt
    }

    /** `runs` back-to-back samples; stops at the first failure. */
    // A failed query returns Seq.empty — NOT a -1.0 sentinel sample, so
    // failures are unmistakable (null in bench_samples.json, -1.0 only in
    // the stdout median, the driver's documented failure encoding).
    // Successful rows are length `runs` EXCEPT stall-suspected queries,
    // whose rows carry up to runs+stallExtra samples (ragged on purpose:
    // the extra samples are the re-sample evidence; the top-level "runs"
    // field describes the default, not a per-row invariant).
    // The Boolean is the defense-fired flag: reporting drops the single
    // worst sample whenever the defense FIRED — even if every extra
    // execution failed (without the flag, an extras failure would silently
    // fall back to the exact poisoned median the defense exists to kill).
    def exec(name: String): (Seq[Double], Boolean) = {
      // Per-query warm-up (round 11): ONE untimed execution before the
      // timed samples. Graph-family JIT warm-up twice inflated a
      // median-of-3 into a phantom regression (r10 q110 profile
      // [7.49, 6.63, 1.20] median-reports 5× its steady-state floor);
      // discarding sample 0 makes the reported median measure the plan,
      // not first-touch codegen/classloading. SPARK_GRAFT_WARMUP=0
      // restores cold-start measurement for solo diagnostics.
      if (warmupPerQuery && execOnce(name) < 0) return (Seq.empty, false)
      val first = Iterator.continually(execOnce(name))
        .take(runs).takeWhile(_ >= 0).toSeq
      if (first.size < runs) return (Seq.empty, false)
      // Stall defense (round 13): spread >2.5× AND >1 s absolute → suspect a
      // container stall, take extra samples; reporting drops the single max
      // (see BenchSampling.reported). A genuine plan cost re-measures high
      // and survives the drop; a one-off stall doesn't.
      val stallFired =
        stallExtra > 0 && runs >= 2 && BenchSampling.stallSuspected(first)
      // Cross-record drift (round 17): a uniformly hot window has no
      // intra-run spread for the stall check to see — compare this run's
      // own floor against the previous committed record's floor instead
      // (same-basis records only; BenchSampling.driftSuspected scaladoc).
      // Fires the SAME re-sample + drop-max machinery; if the window is
      // genuinely hot the extras re-measure high and the row additionally
      // lands in the record's "drift_hot" list below.
      val driftFired = stallExtra > 0 &&
        priorFloors.get(name).exists(p =>
          BenchSampling.driftSuspected(first, p))
      val fired = stallFired || driftFired
      val samples =
        if (fired) {
          if (stallFired)
            System.err.println(f"[bench] $name: spread ${first.min}%.2f..${first.max}%.2f s — stall suspected, +$stallExtra samples")
          if (driftFired)
            System.err.println(f"[bench] $name: floor ${first.min}%.2f s vs prior committed floor ${priorFloors(name)}%.2f s — cross-record drift, +$stallExtra samples")
          val extra = Iterator.continually(execOnce(name))
            .take(stallExtra).takeWhile(_ >= 0).toSeq
          // An extra that fails is loud, not silent: the initial samples
          // already proved the query runs, so a re-sample failure is
          // itself suspicious — and the drop-max report below still
          // applies via `fired` regardless of how many extras survived.
          if (extra.size < stallExtra)
            System.err.println(s"[bench] $name: re-sample FAILED after " +
              s"${extra.size}/$stallExtra extras — reporting drop-max over " +
              s"${first.size + extra.size} samples")
          first ++ extra
        } else first
      System.err.println(f"[bench] $name%-28s ${samples.map(s => f"$s%7.2fs").mkString(" ")}")
      // Streaming queries drain into uniquely-named memory-sink temp views
      // (StreamingQueries.SinkPrefix); each sample registers a new one that
      // would otherwise hold its drained rows for the rest of the session —
      // the same blocks-accumulate mechanism as the checkpoint release
      // above, via the catalog instead of the block manager. The timed
      // writes are done (results re-sorted later from `samples`), so
      // dropping here is safe and untimed.
      spark.catalog.listTables().collect().map(_.name)
        .filter(_.startsWith(graft.streaming.StreamingQueries.SinkPrefix)).foreach { v =>
          spark.catalog.dropTempView(v): Unit
        }
      // Stateful streaming queries leave their StateStoreProviders (HDFS
      // loadedMaps copies, RocksDB native handles) in the executor-side
      // provider cache after q.stop(); the maintenance task only evicts
      // them on its 60 s cadence — far slower than the bench walks the
      // q13x streaming block. Unload eagerly (untimed; a no-op when no
      // providers are loaded, and the next streaming query re-loads
      // lazily). Part of the r11 q141–q145 positional-elevation fix.
      org.apache.spark.sql.GraftStateStoreAccess.unloadAll()
      (samples, fired)
    }

    // Warm-up: JVM + codegen + parquet footer caches (not reported).
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // SPARK_GRAFT_ONLY=q52_simhash,q90_unique_prefix — time a subset in an
    // otherwise-identical fresh session (isolates per-query numbers from
    // same-JVM ordering effects; see PERF.md).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    // Fail loudly on a typo'd subset — a silent empty filter would emit a
    // normal-looking 0.00-total line a consumer records as success.
    only.foreach { req =>
      val unknown = req -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val sortedNames = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // SPARK_GRAFT_ORDER=shuffled runs the same set in a seeded-random order
    // (SPARK_GRAFT_SEED, default 42). Diagnostic for session pressure: r9's
    // driver hot spots were name-sort CONTIGUOUS stretches (q107–q10x,
    // q53–q56) on unchanged code — if a stretch-shaped elevation follows the
    // queries under shuffling it's query cost; if it stays positional it's
    // session/JVM pressure. Results are re-sorted before reporting, so the
    // JSON is order-independent either way.
    val names = sys.env.get("SPARK_GRAFT_ORDER") match {
      case Some("shuffled") =>
        val seed = sys.env.getOrElse("SPARK_GRAFT_SEED", "42").toLong
        new scala.util.Random(seed).shuffle(sortedNames)
      case _ => sortedNames
    }
    val results = names.map(n => n -> exec(n)).sortBy(_._1)
    // Precision keeps the whole line under ~1.9 KB: the consumer retains
    // only a 2000-char tail of stdout, and an sbt "[success]" trailer
    // (~80 chars) follows — a fatter line gets its head truncated (the
    // r01/r02 "parsed": null failure mode). Per-query values are the
    // 1-decimal MEDIAN of `runs` samples (the round-6 [median,min] array
    // form hit 1798 chars at 106 queries — the min now lives only in
    // bench_samples.json, which carries every sample at full precision).
    // Locale.ROOT so a comma-decimal default locale can't corrupt the JSON.
    def fmt(d: String, v: Double) =
      String.format(java.util.Locale.ROOT, "%." + d + "f", Double.box(v))
    // Short keys ("q01", not "q01_pricing_summary") keep the line far under
    // the tail cap as the query count grows; full names live in
    // CORRECTNESS_r{N}/README. Uniqueness is enforced, not assumed — a
    // duplicate prefix would silently emit duplicate JSON keys.
    val prefixes = results.map(_._1.takeWhile(_ != '_'))
    require(prefixes.distinct.size == prefixes.size,
      s"duplicate short query keys: ${prefixes.diff(prefixes.distinct).mkString(",")}")
    val qs = results.map { case (k, (v, fired)) =>
        "\"" + k.takeWhile(_ != '_') + "\":" +
          (if (v.isEmpty) "-1.0" else fmt("1", BenchSampling.reported(v, fired)))
      }.mkString("{", ",", "}")
    val total = results.collect {
      case (_, (v, fired)) if v.nonEmpty => BenchSampling.reported(v, fired)
    }.sum
    // Sum of per-query FLOORS (min sample) alongside the sum of medians
    // (r13/r14 brief item: three consecutive rounds read 176–180 s hot
    // medians against a 133–151 s quiet steady band, and arbitrating
    // "hot window vs real regression" required PERF.md archaeology every
    // time). The floor is the steady-state estimate the medians converge
    // to in a quiet window: value ≈ sum_of_mins → the window was quiet;
    // value ≫ sum_of_mins → container contention, not plan drift.
    val sumOfMins = results.collect {
      case (_, (v, _)) if v.nonEmpty => v.min
    }.sum
    // "threads" records the measurement BASIS (local[N]) in the round
    // record itself (VERDICT r15 item 6): driver runs use 32 threads,
    // repo/PERF records the local[4] default, and per-query figures are
    // NOT comparable across the two — without the field, every
    // cross-round comparison had to reconstruct the basis from PERF.md.
    // Numeric when SPARK_GRAFT_CPUS is (the contract); quoted otherwise
    // (e.g. "*") so the line stays parseable JSON no matter what.
    val threadsJson = if (cpus.nonEmpty && cpus.forall(_.isDigit)) cpus
                      else "\"" + cpus + "\""
    // Window-quality stamp from the record's OWN value/floor ratio
    // (round 19, VERDICT r18 item 1) — needs no same-basis history, so
    // a first-of-basis record (the r18 32-thread driver case) can never
    // ship unmarked again. Rides every output line, computed before any
    // of them is built.
    val winHot = BenchSampling.windowHot(total, sumOfMins)
    val json = s"""{"metric":"total","value":${fmt("2", total)},"unit":"sec","sum_of_mins":${fmt("2", sumOfMins)},"window_hot":$winHot,"runs":$runs,"threads":$threadsJson,"queries":$qs,"sf":"$sfDir"}"""
    // The consumer keeps only a ~2000-char stdout TAIL; at 226 queries the
    // combined line is ~2.7 KB, so its head — which carries "value" — was
    // truncated away in rounds 10 and 11 ("parsed": null). Contract fix:
    // the per-query line prints FIRST, then a short, self-contained total
    // line prints LAST, so the total always survives the tail regardless
    // of how many queries the per-query map grows to.
    val nFailed = results.count(_._2._1.isEmpty)
    val shortJson = s"""{"metric":"total","value":${fmt("2", total)},"unit":"sec","sum_of_mins":${fmt("2", sumOfMins)},"window_hot":$winHot,"runs":$runs,"threads":$threadsJson,"n":${results.size},"failed":$nFailed,"sf":"$sfDir"}"""
    // Backstop for log-noise-sensitive parsers: the same single line, ALONE
    // in bench_out.json (one parseable JSON document — the file's contract).
    // Full-precision per-run samples go to a separate bench_samples.json so
    // PERF.md analysis can read exact numbers without breaking that contract.
    val detail = results.map { case (k, (v, _)) =>
        "\"" + k + "\":" +
          (if (v.isEmpty) "null" else v.map(fmt("3", _)).mkString("[", ",", "]"))
      }.mkString("{", ",", "}")
    // Persist WHICH queries the stall defense fired on (r14 ADVICE): the
    // tier_compare mirror used to infer "fired" from row length > runs,
    // which misreads the case where every extra re-sample failed (row
    // stays length == runs, yet the round record used the drop-max
    // median). The explicit list makes the mirror exact.
    val firedList = results.collect {
      case (k, (v, true)) if v.nonEmpty => "\"" + k + "\""
    }.mkString("[", ",", "]")
    // Rows whose floor STAYED >2.5x the prior committed floor even after
    // the drift re-sample: the window (or a real regression) is uniformly
    // hot and the recorded floor is not a steady-state number. Persisted
    // in the record so a poisoned per-query floor can never again enter a
    // round record silently (the r16 q202 case), and loud on stderr for
    // the human committing it.
    val driftHot = results.collect {
      case (k, (v, _)) if v.nonEmpty && priorFloors.get(k).exists(p =>
        BenchSampling.driftSuspected(v, p)) => (k, v.min)
    }
    driftHot.foreach { case (k, floor) =>
      System.err.println(f"[bench] WARNING $k: floor still $floor%.2f s vs " +
        f"prior committed ${priorFloors(k)}%.2f s after re-sampling — row " +
        "marked drift_hot; do not commit as a steady-state record without " +
        "a quiet-window check")
    }
    val driftHotList = driftHot.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // Record-level heat (round 18): diffuse warmth has no per-query
    // signature — compare the common-query floor SUM against the prior
    // committed record and stamp the whole record when it drifted >10%.
    // A hot record still passes every formal bound; the flag tells the
    // next reader (and the next round's judge) that the per-query floors
    // are not a steady-state reading without PERF.md archaeology.
    val curFloors = results.collect {
      case (k, (v, _)) if v.nonEmpty => k -> v.min
    }.toMap
    val recHot = BenchSampling.recordHot(curFloors, priorFloors)
    if (winHot)
      System.err.println(f"[bench] WARNING: window heat — value $total%.2f s " +
        f"is ${(total / sumOfMins - 1) * 100}%.1f%% over this record's own " +
        f"floor $sumOfMins%.2f s (quiet bound 10%%); record stamped " +
        "window_hot. Do not commit as a steady-state record without a " +
        "quiet-window re-run.")
    if (recHot)
      System.err.println("[bench] WARNING: record-level heat — the " +
        "common-query floor sum drifted >10% above the prior committed " +
        "record with no (or few) per-query firings; record stamped " +
        "record_hot. Do not commit as the round's steady-state record " +
        "without a quiet-window re-run.")
    val outDir = BenchSampling.outputDir(only)
    if (only.isDefined) {
      java.nio.file.Files.createDirectories(outDir)
      System.err.println(s"[bench] subset run: bench_out.json and " +
        s"bench_samples.json written under $outDir")
    }
    java.nio.file.Files.write(outDir.resolve("bench_out.json"),
      (json + "\n").getBytes("UTF-8"))
    // "sf" + "threads" stamp the record's measurement basis so the NEXT
    // run's drift defense only ever compares like with like (a tier run
    // or a 32-thread driver run must not arbitrate a local[4] sf0.1 run).
    java.nio.file.Files.write(outDir.resolve("bench_samples.json"),
      (s"""{"metric":"samples","runs":$runs,"threads":$threadsJson,"sf":"$sfDir","value":${fmt("2", total)},"sum_of_mins":${fmt("2", sumOfMins)},"window_hot":$winHot,"record_hot":$recHot,"fired":$firedList,"drift_hot":$driftHotList,"queries":$detail}""" + "\n").getBytes("UTF-8"))
    // The short total line is the one that must survive the tail; it is
    // bounded (~110 chars) by construction. Warn only if it somehow grows.
    if (shortJson.length > 500)
      System.err.println(s"[bench] WARNING: total line ${shortJson.length} chars — should be bounded")
    spark.stop() // stop BEFORE printing so no shutdown log lands after the lines
    println(json)      // full per-query detail (may exceed the 2000-char tail)
    println(shortJson) // self-contained total — prints LAST, always in the tail
    System.out.flush()
  }
}
