package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit lock for the Bench stall defense (round 13, VERDICT r12 item 1).
  *
  * The defense only fires on genuinely noisy windows, so these edge cases
  * never run in a normal bench — the spec is where they are pinned. The
  * r12 poisoned profiles are replayed literally: each must trigger
  * re-sampling and, with two floor-priced extra samples, report its floor
  * instead of the stall-contaminated median.
  */
class BenchSamplingSpec extends AnyFunSuite {
  import BenchSampling._

  test("median: odd, even, singleton") {
    assert(median(Seq(3.0)) == 3.0)
    assert(median(Seq(1.0, 9.0, 2.0)) == 2.0)
    assert(median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
  }

  test("stall suspicion needs BOTH >2.5x spread and >1s absolute") {
    // fast-query jitter: 5x spread but 0.4s absolute — must NOT trigger
    assert(!stallSuspected(Seq(0.1, 0.3, 0.5)))
    // slow drift: 2s absolute but <2.5x spread — must NOT trigger
    assert(!stallSuspected(Seq(2.0, 3.0, 4.0)))
    // genuine stall shape: both conditions
    assert(stallSuspected(Seq(1.0, 1.2, 4.0)))
    assert(!stallSuspected(Seq(2.0)))
  }

  test("clean queries keep the plain median (record continuity)") {
    assert(reported(Seq(1.0, 2.0, 3.0), fired = false) == 2.0)
  }

  test("fired defense drops the single worst sample") {
    // 5 samples (3 + 2 extra): drop 10.0, median of [1.0,1.1,1.2,1.3] = 1.15
    assert(reported(Seq(1.0, 10.0, 1.2, 1.1, 1.3), fired = true) == 1.15)
  }

  test("fired defense applies even when every extra execution failed") {
    // The r13 review finding: extras can fail (takeWhile drops them); the
    // flag — not the sample count — must key the drop-max, or the report
    // silently falls back to the exact poisoned median. [0.89, 3.15, 4.36]
    // with no surviving extras: drop 4.36 -> median(0.89, 3.15) = 2.02,
    // not the poisoned 3.15.
    assert(reported(Seq(0.89, 3.15, 4.36), fired = true) == 2.02)
  }

  test("the r12 poisoned profiles re-sample to their floors") {
    val profiles = Seq(
      ("q159", Seq(6.30, 89.30, 7.47), Seq(7.0, 7.2), 7.1),   // drop 89.3 → med(6.3,7.0,7.2,7.47)
      ("q167", Seq(4.23, 12.46, 7.77), Seq(4.0, 4.3), 4.265), // drop 12.46 → med(4.0,4.23,4.3,7.77)
      ("q219", Seq(0.89, 3.15, 4.36), Seq(0.9, 0.92), 0.91))  // drop 4.36 → med(0.89,0.9,0.92,3.15)
    for ((name, first, extra, want) <- profiles) {
      assert(stallSuspected(first), s"$name must trigger the defense")
      val got = reported(first ++ extra, fired = true)
      assert(math.abs(got - want) < 1e-9,
        s"$name: reported $got, want $want")
      // and in every case the defended number is far below the poisoned
      // median-of-3 that reached the r12 driver record
      assert(got < median(first), s"$name: defense must beat the raw median")
    }
  }

  // ---- cross-record floor drift (round 17, VERDICT r16 item 3) ----

  test("the literal r16 q202 profile fires the drift defense") {
    // Committed r16 final-record samples vs the same round's quiet floor:
    // spread only 1.7x (stall check must stay silent — that is the gap
    // this defense exists for), but the run's own floor is 5.2x the prior
    // committed floor.
    val q202 = Seq(3.19, 4.35, 5.47)
    assert(!stallSuspected(q202), "q202 r16: stall check is blind here by design")
    assert(driftSuspected(q202, priorFloor = 0.61), "q202 r16 must fire drift")
  }

  test("drift needs BOTH >2.5x over prior floor and >1s absolute") {
    // sub-second jitter on a fast query: 3.5x prior but only 0.25s above
    assert(!driftSuspected(Seq(0.35, 0.36, 0.40), priorFloor = 0.10))
    // warm +40%: above 1s absolute but under the ratio gate
    assert(!driftSuspected(Seq(4.2, 4.3, 4.4), priorFloor = 3.0))
    // real improvement (new floor BELOW prior) never fires
    assert(!driftSuspected(Seq(0.5, 0.6), priorFloor = 2.0))
    // degenerate prior floors are ignored
    assert(!driftSuspected(Seq(5.0), priorFloor = 0.0))
    assert(!driftSuspected(Seq.empty, priorFloor = 1.0))
  }

  test("prior floors load only from a same-basis record") {
    val rec = """{"metric":"samples","runs":3,"threads":4,"sf":"/root/testdata/sf0.1",""" +
      """"fired":["q159_setsim_join"],"drift_hot":[],""" +
      """"queries":{"q202_resample_interp":[0.610,0.652,0.700],"q159_setsim_join":[8.45,9.1,25.0],"q00_dead":[]}}"""
    val ok = parsePriorFloors(rec, "/root/testdata/sf0.1", "4")
    assert(ok("q202_resample_interp") == 0.610)
    assert(ok("q159_setsim_join") == 8.45) // floor, not median
    assert(!ok.contains("q00_dead"), "empty sample rows carry no floor")
    assert(!ok.contains("fired"), "the fired/drift_hot lists are not query rows")
    // basis mismatches: tier sf, different threads, quoted threads form
    assert(parsePriorFloors(rec, "/tmp/graft_sf1", "4").isEmpty)
    assert(parsePriorFloors(rec, "/root/testdata/sf0.1", "32").isEmpty)
    val quoted = rec.replace(""""threads":4""", """"threads":"*"""")
    assert(parsePriorFloors(quoted, "/root/testdata/sf0.1", "*")("q202_resample_interp") == 0.610)
    // legacy record (r16 and earlier: no sf/threads fields) is never used
    val legacy = """{"metric":"samples","runs":3,"fired":[],"queries":{"q202_resample_interp":[0.61]}}"""
    assert(parsePriorFloors(legacy, "/root/testdata/sf0.1", "4").isEmpty)
    // POPULATED fired/drift_hot lists (the r17 run-3 hot-window shape)
    // must not parse as query rows: a list element is a bare "qNNN_name"
    // string never followed by ":[", so only the real sample rows load.
    val hot = """{"metric":"samples","runs":3,"threads":4,"sf":"/root/testdata/sf0.1",""" +
      """"fired":["q191_stream_append","q198_rfm_segments"],""" +
      """"drift_hot":["q191_stream_append"],""" +
      """"queries":{"q191_stream_append":[2.5,2.6,2.4],"q01_pricing_summary":[0.55,0.56]}}"""
    val hp = parsePriorFloors(hot, "/root/testdata/sf0.1", "4")
    assert(hp == Map("q191_stream_append" -> 2.4, "q01_pricing_summary" -> 0.55))
  }

  // ---- record-level heat (round 18, VERDICT r17 item 1) ----

  test("the r17 run-1-vs-final diffuse profile stamps record_hot with zero per-query firings") {
    // Shape of the r17 blemish: 250 common queries, every floor
    // uniformly ~16% warm (158.77 s quiet run-1 sum -> ~184 s final
    // record sum), no single floor crossing the 2.5x/1s per-query drift
    // gate — the committed record carried ~24 s of heat and NOTHING in
    // the record said so. Replay: quiet floors average 0.635 s; the hot
    // run reads each at 1.16x (+0.10 s, far under both per-query gates).
    val quiet = (1 to 250).map(i => f"q$i%03d_x" -> 0.635).toMap
    val hot = quiet.map { case (k, v) => k -> v * 1.16 }
    for ((k, v) <- hot)
      assert(!driftSuspected(Seq(v), quiet(k)),
        s"$k: the per-query gate must stay blind to diffuse heat")
    assert(recordHot(hot, quiet), "the record-level verdict must fire")
    // a quiet re-run (+3%) must NOT stamp the record
    assert(!recordHot(quiet.map { case (k, v) => k -> v * 1.03 }, quiet))
    // an improvement never fires
    assert(!recordHot(quiet.map { case (k, v) => k -> v * 0.8 }, quiet))
  }

  test("record_hot needs a real common basis") {
    val prior = (1 to 19).map(i => s"q$i" -> 1.0).toMap
    // 19 common queries: below the floor for a meaningful verdict
    assert(!recordHot(prior.map { case (k, v) => k -> v * 2 }, prior))
    // disjoint surfaces (e.g. prior record from another basis parsed
    // empty): nothing to compare
    assert(!recordHot(Map("qa" -> 5.0), Map("qb" -> 1.0)))
    assert(!recordHot(Map.empty, Map.empty))
    // just under vs just over the 10% gate at the 20-query minimum
    val p20 = (1 to 20).map(i => s"q$i" -> 1.0).toMap
    assert(!recordHot(p20.map { case (k, v) => k -> v * 1.09 }, p20))
    assert(recordHot(p20.map { case (k, v) => k -> v * 1.12 }, p20))
  }

  // ---- window-quality stamp (round 19, VERDICT r18 item 1) ----

  test("the r18 32-thread driver profile stamps window_hot from its own value/floor ratio") {
    // Shape of the r18 blemish: BENCH_r18.json read value 254.49 s over
    // its own 222.33 s sum-of-floors — 14.5% over, far past BASELINE.md's
    // 10% quiet bound — yet record_hot stayed false because the flag
    // compares only prior committed SAME-basis records and the committed
    // record was the local[4] one: a first-of-basis record was
    // structurally unstampable. windowHot needs no history — it must
    // fire on the record's own numbers.
    assert(windowHot(254.49, 222.33),
      "the r18 driver record must stamp itself hot")
    // The committed quiet r18 engine record (175.63 value / 165.02
    // floor, 6.4% over) must stay unstamped — the flag marks heat, not
    // the ordinary median-over-floor gap of a quiet window.
    assert(!windowHot(175.63, 165.02),
      "the committed quiet record must not stamp")
    // Boundary: exactly 10% over is quiet (the bound is strict-over);
    // just past it is hot.
    assert(!windowHot(110.0, 100.0))
    assert(windowHot(110.2, 100.0))
    // Degenerate floors (all queries failed -> 0.0) never stamp: there
    // is no steady-state estimate to compare against.
    assert(!windowHot(5.0, 0.0))
  }

  test("a subset run writes under target/bench-subset, a full run in place") {
    val here = java.nio.file.Paths.get("")
    assert(outputDir(None) == here)
    val sub = outputDir(Some(Set("q91_mapreduce_wordcount")))
    assert(sub == java.nio.file.Paths.get("target", "bench-subset"))
    assert(sub.resolve("bench_samples.json") != here.resolve("bench_samples.json"))
  }
}
