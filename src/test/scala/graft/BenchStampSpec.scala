package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 comparable-stamp rules against the COMMITTED round-18
  * artifacts (no Spark session — pure BenchRules + fixture + JSON
  * arithmetic over files in the repo root, the same replay
  * `tools.StampReplay` prints).
  *
  * The motivating failure (r18 verdict, "What's wrong"): the driver's
  * official BENCH_r18 capture (`bench_detail_20260816T232752Z_*.json`)
  * ran 1.4-1.6x the committed envelope — q_copurchase 8.6x — and
  * stamped `comparable: true` with every rule passing, the second
  * false-clean in three rounds. These tests are the permanent
  * regression exhibit: if a rule change ever lets that artifact
  * replay clean again, the suite fails. */
class BenchStampSpec extends AnyFunSuite {

  private val contaminated = "bench_detail_20260816T232752Z_29155.json"
  // r20: the anchor fixture now carries the r20 trio's medians (the
  // round's optimizations made the registry ~1.1-1.3x faster and the
  // canary floor dropped 0.5 -> 0.15 s — r19 verdict #5), so the
  // clean-replay exhibit is the committed r20 trio; the r18 honest
  // legs are era-valid only against the r18-era fixture and would
  // now (correctly) read as regressions.
  private val honestSf01 = Seq(
    "bench_detail_20260819T123544Z_10579.json",
    "bench_detail_20260819T124321Z_5899.json",
    "bench_detail_20260819T125005Z_1032.json")

  test("BENCH_r18's false-clean artifact cannot replay clean: six queries named") {
    val r = tools.StampReplay.replay(contaminated)
    assert(r.tripped, "the r18 contaminated artifact must trip the stamp")
    val named = r.canaryOver.map(_.split(" ")(0)).toSet
    val judgeSix = Set("q_copurchase", "q_audio_decode", "q_stream_dedup",
      "q_dedup_ensemble", "q_snapshot_diff", "q_dedup_survivors")
    assert(judgeSix.subsetOf(named),
      s"missing from named set: ${(judgeSix -- named).mkString(", ")}")
    // the warmup-poisoned reference no longer blinds the degraded
    // rule: q_copurchase's first_run was itself inflated (45.95 s vs
    // 4.0 s normal) and the committed-median cap exposes it
    assert(r.degraded.contains("q_copurchase"))
    // and the broad residue trips the aggregate envelope on BOTH
    // halves (core 91.11 vs 1.3x62.0; drain 42.20 vs 1.3x31.5)
    assert(r.envelope.exists(_.startsWith("core_sec")))
    assert(r.envelope.exists(_.startsWith("drain_sec")))
  }

  test("the committed honest r18 legs replay without envelope or degraded trips") {
    honestSf01.foreach { f =>
      val r = tools.StampReplay.replay(f)
      assert(r.anchorProblem.isEmpty, s"$f: ${r.anchorProblem}")
      assert(r.envelope.isEmpty, s"$f envelope: ${r.envelope}")
      assert(r.degraded.isEmpty, s"$f degraded: ${r.degraded}")
      assert(r.probeTrips.isEmpty, s"$f probes: ${r.probeTrips}")
      // per-query: honest same-code jitter can put a rare sub-second
      // query just over its 2x line (measured: 1 of 4 legs carries
      // exactly one, q_ann_lsh_multi at 2.04x) — live, remediation
      // re-runs and heals it; what must NEVER appear is a
      // contamination-sized set
      assert(r.canaryOver.size <= 1, s"$f canary over: ${r.canaryOver}")
    }
  }

  test("sf0.01 legs are anchored too: a doubled query value is named (r18 verdict #5)") {
    // the r16/r18 blind spot alive at the other sf: sf0.01 legs used
    // to stamp comparable with NO absolute rule. Simulate the done
    // criterion: take a committed sf0.01 leg's values, double one
    // budgeted query, and the anchor must name it.
    val anchor = BenchRules.loadAnchor("/root/testdata/sf0.01")
      .fold(reason => fail(s"sf0.01 anchor must load: $reason"), identity)
    val (name, med) = anchor.budgets.toSeq.maxBy(_._2)
    val doubled = Map(name -> (BenchRules.canaryLine(med) * 2))
    val over = BenchRules.canaryOver(anchor.budgets, doubled)
    assert(over.size == 1 && over.head.startsWith(name), over.toString)
  }

  test("a warmup-window co-load raises suspicion instead of suppressing it") {
    // the r18 mechanism in miniature: first_run poisoned 10x, graded
    // min-of-2 inflated 4x over the committed median. The old rule
    // (reference = own first_run) stays blind; the median-capped
    // reference flags it.
    val med = Some(2.0)
    val poisonedFirstRun = 20.0 // co-load spanned the warmup pass
    val contaminatedSample = 9.0 // and both graded samples
    assert(!(contaminatedSample > 4.0 * poisonedFirstRun),
      "sanity: the pre-r19 rule misses this case")
    assert(BenchRules.looksDegraded(contaminatedSample, poisonedFirstRun, med))
    // honest jitter under the line stays un-flagged
    assert(!BenchRules.looksDegraded(0.9, poisonedFirstRun, Some(0.5)))
    // and without a budget the rule falls back to first_run alone
    assert(!BenchRules.looksDegraded(contaminatedSample, poisonedFirstRun, None))
    assert(BenchRules.looksDegraded(90.0, poisonedFirstRun, None))
  }

  test("suspect sweep widens only on an envelope trip") {
    // broad 1.3-1.4x inflation sits under the 1.5x suspect line (the
    // r18 dd experiment named zero queries at core_sec 1.37x); the
    // envelope trip widens the sweep to 1.2x-over-median queries
    val fr = 1.0; val med = Some(1.0)
    val broad = 1.3 // typical per-query value under broad co-load
    assert(!BenchRules.isSuspect(broad, fr, med, envelopeTripped = false))
    assert(BenchRules.isSuspect(broad, fr, med, envelopeTripped = true))
    // the 1.5x rule itself is unchanged, envelope or not
    assert(BenchRules.isSuspect(1.6, fr, med, envelopeTripped = false))
  }

  test("the anchor only adjudicates legs at its provenance core count (r20)") {
    // absolute budgets are seconds at a recorded cpu count: a
    // compute-bound query legitimately runs ~4x its 32-cpu median on
    // the driver's 8-cpu scaling leg, so cross-cpu application would
    // stamp an honest leg not-comparable. The committed r19 driver
    // 8-cpu capture is the exhibit: replayed under the r20 32-cpu
    // fixture it must skip the anchor rules (and its probes were
    // clean, so it replays clean overall).
    val anchor = BenchRules.loadAnchor("/root/testdata/sf0.1")
      .fold(reason => fail(s"sf0.1 anchor must load: $reason"), identity)
    assert(anchor.cpus.contains("32"), s"provenance cpus: ${anchor.cpus}")
    assert(BenchRules.anchorAppliesTo(anchor, "32"))
    assert(!BenchRules.anchorAppliesTo(anchor, "8"))
    // a fixture with no recorded cpus (pre-r20) applies everywhere
    assert(BenchRules.anchorAppliesTo(anchor.copy(cpus = None), "8"))
    val c8 = tools.StampReplay.replay("bench_detail_20260819T062247Z_11959.json")
    assert(c8.canaryOver.isEmpty && c8.envelope.isEmpty,
      s"8-cpu leg must not be canary/envelope-adjudicated by a 32-cpu " +
        s"fixture: ${c8.canaryOver ++ c8.envelope}")
    assert(!c8.tripped, s"the clean r19 8-cpu capture must replay clean: $c8")
  }

  test("anchor loading fails loudly, with the bootstrap-recognizable prefix") {
    val missing = BenchRules.loadAnchor("/nonexistent/sf9.9")
    assert(missing.isLeft)
    assert(missing.left.exists(_.startsWith("anchor")),
      "every anchor failure reason must start with 'anchor' — " +
        "CanaryBudgets' bootstrap acceptance keys on it")
    // provenance must cover the requested sf as a whole token
    val wrongSf = BenchRules.loadAnchor("/root/testdata/sf0.1")
      .map(_ => ()).swap.getOrElse(())
    assert(wrongSf == (), "sf0.1 fixture must load for its own sf")
  }

  test("a leg whose anchor fixture failed to load is not stamped anchored") {
    val missing = BenchRules.loadAnchor("/nonexistent/sf9.9")
    assert(missing.isLeft)
    assert(!BenchRules.anchored(missing, "32"),
      "a fixture that failed to load must not read as anchored")
    // a loaded fixture anchors only legs at its provenance core count
    val loaded = Right(BenchRules.Anchor("sf", Map("q" -> 1.0), 1.0, 1.0, Some("32")))
    assert(BenchRules.anchored(loaded, "32"))
    assert(!BenchRules.anchored(loaded, "8"))
  }

  test("the envelope rule separates honest session variance from r18 contamination") {
    val a = BenchRules.Anchor("/root/testdata/sf0.1", Map.empty, 61.988, 31.509)
    // committed legs span 55.6-65.1 s core (1.17x worst vs median)
    assert(BenchRules.envelopeOver(65.075, 33.761, a).isEmpty)
    // BENCH_r18: core 91.108 (1.47x), drain 42.201 (1.34x)
    assert(BenchRules.envelopeOver(91.108, 42.201, a).size == 2)
  }
}
