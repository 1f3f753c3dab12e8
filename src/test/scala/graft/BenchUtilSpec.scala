package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness feeds the driver's gate artifact; these pins cover its
  * pure logic — JSON escaping, prior-artifact parsing (ordering + variance
  * guard + fat-rep inputs), and the adaptive rep policy — without a
  * SparkSession. */
class BenchUtilSpec extends AnyFunSuite {

  test("jstr escapes quotes, backslashes and control chars into valid JSON") {
    assert(BenchUtil.jstr("plain") == "\"plain\"")
    assert(BenchUtil.jstr("""a"b""") == "\"a\\\"b\"")
    assert(BenchUtil.jstr("""C:\tmp""") == "\"C:\\\\tmp\"")
    assert(BenchUtil.jstr("a\nb\tc\rd") == "\"a\\nb\\tc\\rd\"")
    assert(BenchUtil.jstr("x\u0001y") == "\"x\\u0001y\"")
    // round-trip through a real JSON parser: the escaped form must parse
    // back to the original for a path containing every hazard class
    val nasty = "/tmp/we\"ird\\dir\n\u0002"
    val json = s"""{"sf":${BenchUtil.jstr(nasty)}}"""
    // scala.util.parsing is absent; hand-verify by regex-extracting through
    // the same unescape rules the artifact's consumers (python json) apply
    assert(json.contains("\\\"") && json.contains("\\\\") &&
      json.contains("\\n") && json.contains("\\u0002"))
  }

  test("parsePrior extracts sf, host, hostname and per-query mins from artifact JSON") {
    val txt =
      """{"sf":"/root/testdata/sf0.1","host":"driver","hostname":"vm-a","cpus":32,"reps":3,
        |"queries":{"q01_agg":{"passes":[0.5,0.2,0.3],"min":0.200,"warm":true,"gc_ms":[1,2,3],"jit_ms":[4,5,6]},
        |"d22_jaccard_pairs":{"passes":[1.5,null,1.2],"min":1.200,"warm":true,"gc_ms":[0,0,0],"jit_ms":[0,0,0]}}}"""
        .stripMargin.replace("\n", "")
    val (sf, hostName, mins) = BenchUtil.parsePrior(txt)
    assert(sf == "/root/testdata/sf0.1")
    assert(hostName == "vm-a")
    assert(mins == Map("q01_agg" -> 0.2, "d22_jaccard_pairs" -> 1.2))
    // the r15 field layout must not cross-match: "hostname" never reads the
    // "prior_hostname" value
    val r15 = """{"sf":"/s","host":"builder","hostname":"vm-b","order_source":"x","prior_host":"driver","prior_hostname":"vm-a","queries":{}}"""
    val (_, hn2, _) = BenchUtil.parsePrior(r15)
    assert(hn2 == "vm-b")
  }

  test("parsePrior: pre-r15 artifact (no host field) parses to empty host") {
    // UNKNOWN provenance — the caller must treat it as cross-host: the r14
    // watch false-positives were priced against exactly this class of
    // unattributed prior
    val txt =
      """{"sf":"/root/testdata/sf0.1","cpus":32,
        |"queries":{"q01_agg":{"passes":[0.5],"min":0.500,"warm":false,"gc_ms":[0],"jit_ms":[0]}}}"""
        .stripMargin.replace("\n", "")
    val (sf, hostName, mins) = BenchUtil.parsePrior(txt)
    assert(txt.startsWith(s"""{"sf":"$sf",""") && hostName == ""
      && mins == Map("q01_agg" -> 0.5))
  }

  test("parsePrior degrades to empty on malformed or alien input") {
    assert(BenchUtil.parsePrior("") == ("", "", Map.empty))
    assert(BenchUtil.parsePrior("not json at all") == ("", "", Map.empty))
    // a failed query (min null) contributes no prior — the regex requires
    // a numeric min, so the query simply has no ordering/guard reference
    val failedOnly =
      """{"sf":"/x","queries":{"bad_q":{"passes":[null],"min":null,"warm":false,"gc_ms":[0],"jit_ms":[0]}}}"""
    assert(BenchUtil.parsePrior(failedOnly) == ("/x", "", Map.empty))
  }

  test("isCrossHost: raw hostnames decide; anything less = cross") {
    // same machine, role label drift (env set one round, unset the next):
    // NOT cross-host — the r15.1 fix
    assert(!BenchUtil.isCrossHost("vm-a", "vm-a"))
    // different machines: cross-host (role labels play no part anymore —
    // the signature is hostname-only since r16)
    assert(BenchUtil.isCrossHost("vm-a", "vm-b"))
    // hostname missing on either side: provenance UNKNOWN = cross-host
    // (r15 advice: a role label is not a machine identity — "builder" on
    // two different machines matched under the old host-field fallback
    // and got the narrow same-host gap)
    assert(BenchUtil.isCrossHost("", "vm-b"))
    assert(BenchUtil.isCrossHost("vm-a", ""))
    // pre-r15 prior (both empty): unknown provenance = cross-host
    assert(BenchUtil.isCrossHost("", ""))
  }

  test("hostGap feeds BOTH the watch band and the storm guard's riser gap") {
    assert(BenchUtil.hostGap(crossHost = false) == 0.3)
    assert(BenchUtil.hostGap(crossHost = true) == 1.0)
    // the s131 shape at storm scale: 1.25 s vs a faster host's 0.346 s
    // prior is 3.6x with a 0.9 s gap — same-host gap would flag it for a
    // requeue, the cross-host gap keeps the budget for real storms
    val (m, p) = (1.25, 0.346)
    assert(m > p * 3.5 && m - p > BenchUtil.hostGap(false))
    assert(!(m - p > BenchUtil.hostGap(true)))
  }

  test("repsFor: fat queries drop one rep, clamped to [2, reps]") {
    // thin prior or none: configured count untouched
    assert(BenchUtil.repsFor(None, 1.2, 3) == 3)
    assert(BenchUtil.repsFor(Some(0.5), 1.2, 3) == 3)
    // fat at reps=3 → 2 (one fewer, still warm)
    assert(BenchUtil.repsFor(Some(4.0), 1.2, 3) == 2)
    // fat at reps=5 → 4
    assert(BenchUtil.repsFor(Some(4.0), 1.2, 5) == 4)
    // reps=2 already at the warm floor: stays 2
    assert(BenchUtil.repsFor(Some(4.0), 1.2, 2) == 2)
    // reps=1 smoke run: a fat query must NOT get more reps than configured
    assert(BenchUtil.repsFor(Some(4.0), 1.2, 1) == 1)
    // boundary: prior exactly at the cutoff counts as fat
    assert(BenchUtil.repsFor(Some(1.2), 1.2, 3) == 2)
  }

  test("requeueEligible: mid-schedule requeue needs BOTH the time gap and budget") {
    // flagged at t=10 with a 60 s gap: not eligible at t=30 (same host
    // window — re-running would just re-measure the same storm) ...
    assert(!BenchUtil.requeueEligible(10.0, 30.0, 60.0, 5.0, 420.0))
    // ... eligible once the gap has passed and the cost fits
    assert(BenchUtil.requeueEligible(10.0, 70.0, 60.0, 5.0, 420.0))
    // gap boundary: exactly gapS after flagging is eligible
    assert(BenchUtil.requeueEligible(10.0, 70.0, 60.0, 0.0, 420.0))
    assert(!BenchUtil.requeueEligible(10.0, 69.9, 60.0, 0.0, 420.0))
    // budget gate: the storm-inflated estimate must fit before the deadline
    assert(!BenchUtil.requeueEligible(10.0, 400.0, 60.0, 25.0, 420.0))
    assert(BenchUtil.requeueEligible(10.0, 400.0, 60.0, 20.0, 420.0))
    // a huge estimate blocks the mid-schedule path even with lots of gap —
    // such a suspect waits for the end drain (budget-gated only there)
    assert(!BenchUtil.requeueEligible(0.0, 300.0, 60.0, 200.0, 420.0))
    // gap=0 degenerates to pure budget gating
    assert(BenchUtil.requeueEligible(10.0, 10.0, 0.0, 5.0, 420.0))
  }

  test("scheduledReserveS: remaining schedule's prior-estimated cost, fat-thinned") {
    // empty schedule reserves nothing (the end-drain case)
    assert(BenchUtil.scheduledReserveS(Nil, 1.2, 3) == 0.0)
    // thin prior: full reps; fat prior (≥ cutoff): one fewer rep;
    // no prior: the scheduler's 0.5 s mid-cost estimate at full reps
    val reserve = BenchUtil.scheduledReserveS(
      Seq(Some(0.4), Some(2.0), None), fatCutoff = 1.2, reps = 3)
    assert(math.abs(reserve - (0.4 * 3 + 2.0 * 2 + 0.5 * 3)) < 1e-9, reserve.toString)
    // the reserve gates a mid-schedule requeue exactly like a nearer
    // deadline: a requeue that fits the raw budget but not the reserved one
    // must wait (it can still run at the end drain, where reserve = 0)
    val estCost = 30.0 // now=100, reserve=6.7: raw 135 s deadline fits, reserved doesn't
    assert(BenchUtil.requeueEligible(0.0, 100.0, 60.0, estCost, 135.0))
    assert(!BenchUtil.requeueEligible(0.0, 100.0, 60.0, estCost, 135.0 - reserve))
  }

  test("watchBand: sub-trigger risers are flagged; storm triggers and noise are not") {
    // in the band: 2× a 3 s prior (r13's q94 shape)
    assert(BenchUtil.watchBand(6.2, 3.28, 1.75, 3.5))
    // below even the fat-prior 1.5× band: 4.9/3.28 = 1.49
    assert(!BenchUtil.watchBand(4.9, 3.28, 1.75, 3.5))
    // above the storm trigger: the guard owns it (requeue path, not watch)
    assert(!BenchUtil.watchBand(12.0, 3.28, 1.75, 3.5))
    // sub-second noise: ratio in band but absolute gap ≤ 0.3 s
    assert(!BenchUtil.watchBand(0.5, 0.25, 1.75, 3.5))
    // absolute-gap boundary: just over 0.3 s qualifies
    assert(BenchUtil.watchBand(1.01, 0.5, 1.75, 3.5))
  }

  test("watchBand two-band ratio: priors ≥ 2 s watch at 1.5× (r14's d128 miss)") {
    // the exact r14 numbers: d128_pagerank min 4.508 s vs its 2.71 s r13
    // driver prior = 1.66× — under the 1.75× band, unexamined, while being
    // ~6% of the surface's total. The fat-prior band names it.
    assert(BenchUtil.watchBand(4.508, 2.71, 1.75, 3.5))
    // ... including against a cross-host prior: the 1.8 s gap clears the
    // 1.0 s cross-host floor (a real multi-second riser still fires)
    assert(BenchUtil.watchBand(4.508, 2.71, 1.75, 3.5, crossHost = true))
    // sub-2 s priors keep the 1.75× band: 1.6× of a 1.5 s prior stays out
    assert(!BenchUtil.watchBand(2.4, 1.5, 1.75, 3.5))
    // the fat-prior rule TIGHTENS to 1.5×, never loosens: a caller-set
    // 1.4× band stays 1.4× (2.9/2.0 = 1.45 still enters)
    assert(BenchUtil.watchBand(2.9, 2.0, 1.4, 3.5))
  }

  test("watchBand cross-host gap: r14's s131/q127 false positives would not enter") {
    // the exact r14 numbers: driver mins priced against same-HEAD BUILDER
    // priors (a systematically faster host). Same-host they enter the
    // band; cross-host the 1.0 s gap keeps these sub-second floors out.
    assert(BenchUtil.watchBand(0.868, 0.346, 1.75, 3.5)) // s131, same-host
    assert(!BenchUtil.watchBand(0.868, 0.346, 1.75, 3.5, crossHost = true))
    assert(BenchUtil.watchBand(0.770, 0.349, 1.75, 3.5)) // q127, same-host
    assert(!BenchUtil.watchBand(0.770, 0.349, 1.75, 3.5, crossHost = true))
    // a genuine sub-second → multi-second regression still fires cross-host
    // (gap 1.1 s > 1.0, ratio 3.2× under the storm trigger the guard owns)
    assert(BenchUtil.watchBand(1.6, 0.5, 1.75, 3.5, crossHost = true))
  }

  test("parseSkipped: prior skipped list extracted; guard_skipped cannot cross-match") {
    val art = """{"sf":"x","failed":[],"skipped":["q94_stream_neardup","t144_dsir_resample"],""" +
      """"requeued":{},"guard_skipped":{"t112_token_budget":16.8},"queries":{}}"""
    assert(BenchUtil.parseSkipped(art) == Seq("q94_stream_neardup", "t144_dsir_resample"))
    // empty list, missing key, malformed input → empty, never an error
    assert(BenchUtil.parseSkipped("""{"skipped":[]}""").isEmpty)
    assert(BenchUtil.parseSkipped("""{"queries":{}}""").isEmpty)
    assert(BenchUtil.parseSkipped("not json").isEmpty)
    // guard_skipped alone (an object value) must not masquerade as skipped
    assert(BenchUtil.parseSkipped("""{"guard_skipped":{"a":2.0}}""").isEmpty)
  }

  test("planReps: degrade 3→2 only when the projection overruns the budget") {
    val tight = Seq.fill(100)(Some(0.6)) // 100 queries at 0.6 s prior
    // at 3 reps (sub-fat, cutoff 1.2): 100·0.6·3 = 180 s; ×1.15 = 207
    assert(BenchUtil.planReps(tight, 1.2, 3, budgetS = 250.0) == 3)
    assert(BenchUtil.planReps(tight, 1.2, 3, budgetS = 200.0) == 2)
    // even 2 reps overrunning still answers 2 — the warm-min floor
    assert(BenchUtil.planReps(tight, 1.2, 3, budgetS = 50.0) == 2)
    // fat queries already run reps−1; the projection must price that
    val fat = Seq.fill(50)(Some(2.0)) // 50·2.0·2 = 200 s at reps=3
    assert(BenchUtil.planReps(fat, 1.2, 3, budgetS = 240.0) == 3)
    // no priors to project from → the configured count stands
    assert(BenchUtil.planReps(Seq.fill(10)(None), 1.2, 3, budgetS = 1.0) == 3)
    // reps ≤ 2 has nothing to degrade
    assert(BenchUtil.planReps(tight, 1.2, 2, budgetS = 1.0) == 2)
  }

  test("hostScale + shouldDegrade: measured inflation re-prices the remaining schedule") {
    // run is 2× slower than its projection so far
    assert(BenchUtil.hostScale(elapsedS = 60.0, predictedSoFarS = 30.0) == 2.0)
    // faster-than-projected floors at 1 (never deflate the remaining cost)
    assert(BenchUtil.hostScale(20.0, 30.0) == 1.0)
    // nothing measured yet → neutral scale, no div-by-zero
    assert(BenchUtil.hostScale(5.0, 0.0) == 1.0)
    // r16's shape: 150 s elapsed, host at 1.7×, 180 s of projection left,
    // 375 s budget — 150 + 1.7·180 = 456 > 375 → degrade NOW, not at 420
    assert(BenchUtil.shouldDegrade(150.0, 1.7, 180.0, 375.0))
    assert(!BenchUtil.shouldDegrade(150.0, 1.0, 180.0, 375.0))
  }

  test("censorBudgetS: per-rep storm time-box (round 18, r17 verdict #1)") {
    // r17's d81 shape: prior 0.288 s — budget = max(3×0.288, 2.0) + 0.3 =
    // 2.3 s same-host; of its two ~11 s storm reps (22 s of a 420 s
    // budget) rep 2 is cancelled inside 2.3 s (rep 1 runs under the wider
    // rep1CensorBudgetS since round 19 — see its own test below)
    assert(BenchUtil.censorBudgetS(Some(0.288), 3.0, 2.0, crossHost = false)
      .exists(b => math.abs(b - 2.3) < 1e-9))
    // a multi-second prior scales with the ratio, not the floor:
    // p90 at 3.2 s → 3×3.2 + 0.3 = 9.9 s — an honest slow floor fits
    assert(BenchUtil.censorBudgetS(Some(3.2), 3.0, 2.0, crossHost = false)
      .exists(b => math.abs(b - 9.9) < 1e-9))
    // the 2 s floor keeps honest rep-1 JIT (≤ ~1.5 s on sub-second
    // queries) out of the censor: 3×0.1 = 0.3 would box every first rep
    assert(BenchUtil.censorBudgetS(Some(0.1), 3.0, 2.0, crossHost = false)
      .exists(_ >= 2.0))
    // cross-host priors get the wide 1.0 s gap — a faster prior host must
    // not box an honest slower floor
    assert(BenchUtil.censorBudgetS(Some(0.288), 3.0, 2.0, crossHost = true)
      .exists(b => math.abs(b - 3.0) < 1e-9))
    // no comparable prior → nothing to box against → no censor
    assert(BenchUtil.censorBudgetS(None, 3.0, 2.0, crossHost = false).isEmpty)
  }

  test("rep1CensorBudgetS: rep 1 is boxed too, just wider (round 19, r18 verdict #1a)") {
    // d128's r18 driver storm: prior 5.125 s — rep-1 budget =
    // max(3×5.125, 3×2.0) + 10 + 0.3 = 25.675 s; the 91.3 s storm rep
    // dies there instead of running to completion
    assert(BenchUtil.rep1CensorBudgetS(Some(5.125), 3.0, 2.0, 10.0, crossHost = false)
      .exists(b => math.abs(b - 25.675) < 1e-9))
    // q154's shape: 0.05 s serve prior but a ~3.4 s one-time layout build
    // on rep 1 — budget = max(0.15, 6) + 10 + 0.3 = 16.3 s, 4× headroom
    assert(BenchUtil.rep1CensorBudgetS(Some(0.05), 3.0, 2.0, 10.0, crossHost = false)
      .exists(b => math.abs(b - 16.3) < 1e-9))
    // no comparable prior → no box (same contract as censorBudgetS)
    assert(BenchUtil.rep1CensorBudgetS(None, 3.0, 2.0, 10.0, crossHost = false).isEmpty)
    // always at least as wide as the steady-state budget
    for (p <- Seq(0.05, 0.5, 2.0, 5.0, 20.0)) {
      val r1 = BenchUtil.rep1CensorBudgetS(Some(p), 3.0, 2.0, 10.0, crossHost = false).get
      val rn = BenchUtil.censorBudgetS(Some(p), 3.0, 2.0, crossHost = false).get
      assert(r1 > rn, s"prior $p: rep-1 budget $r1 must exceed steady $rn")
    }
  }

  test("isCancellation: only Spark job-cancellation shapes count (round 19, r18 ADVICE)") {
    // the two messages Spark's scheduler emits for a cancelled job group
    assert(BenchUtil.isCancellation(new RuntimeException(
      "Job 42 cancelled because of cancellation of job group bench-x-rep2-1")))
    assert(BenchUtil.isCancellation(new RuntimeException(
      "Job aborted: cancelled as part of cancellation of all jobs in group")))
    // wrapped one level down (a stage failure carrying the cancel cause)
    assert(BenchUtil.isCancellation(new RuntimeException("stage failed",
      new RuntimeException("Job 7 cancelled"))))
    // a genuine failure thrown after the watchdog fired must NOT classify
    assert(!BenchUtil.isCancellation(new RuntimeException(
      "java.lang.ArithmeticException: / by zero")))
    assert(!BenchUtil.isCancellation(new RuntimeException(null: String)))
    // deep unrelated chains terminate (bounded walk) without classifying
    val deep = (1 to 32).foldLeft(new RuntimeException("leaf"): Throwable) {
      (c, i) => new RuntimeException(s"wrap $i", c)
    }
    assert(!BenchUtil.isCancellation(deep))
  }

  test("capRotation: at most cap starved queries rotate, largest priors first (round 19, r18 verdict #1b)") {
    val priors = Map("d128" -> 5.1, "d130" -> 4.0, "p90" -> 3.9, "p91" -> 0.95)
    // the r18 shape: four starved heavyweights, cap 3 → p91 (smallest
    // prior) stays in its cheapest-first slot
    assert(BenchUtil.capRotation(Seq("p91", "d130", "d128", "p90"), priors, 3)
      == Seq("d128", "d130", "p90"))
    // unknown priors sort at the 0.5 s mid-cost estimate
    assert(BenchUtil.capRotation(Seq("new_q", "p91"), priors, 1) == Seq("p91"))
    // cap 0 disables rotation outright; negative treated as 0
    assert(BenchUtil.capRotation(Seq("d128"), priors, 0).isEmpty)
    assert(BenchUtil.capRotation(Seq("d128"), priors, -1).isEmpty)
    // fewer starved than cap: all rotate
    assert(BenchUtil.capRotation(Seq("d128"), priors, 3) == Seq("d128"))
  }

  test("repsFor serve-read tier: sub-cutoff priors run 2 reps, warm-min floor kept (r17 verdict #7)") {
    // q154's shape: a 0.05 s serve floor drops 3 → 2 reps
    assert(BenchUtil.repsFor(Some(0.05), 1.2, 3, serveCutoff = 0.2) == 2)
    // boundary included; just above it keeps the full count
    assert(BenchUtil.repsFor(Some(0.2), 1.2, 3, serveCutoff = 0.2) == 2)
    assert(BenchUtil.repsFor(Some(0.21), 1.2, 3, serveCutoff = 0.2) == 3)
    // never below the configured count (reps = 1 stays 1: the tier must
    // not ADD a rep) and never fights the fat tier (fat wins at >= cutoff)
    assert(BenchUtil.repsFor(Some(0.05), 1.2, 1, serveCutoff = 0.2) == 1)
    assert(BenchUtil.repsFor(Some(2.0), 1.2, 3, serveCutoff = 0.2) == 2)
    // unknown prior: not a serve read — full reps
    assert(BenchUtil.repsFor(None, 1.2, 3, serveCutoff = 0.2) == 3)
    // disabled by default (serveCutoff = 0)
    assert(BenchUtil.repsFor(Some(0.05), 1.2, 3) == 3)
    // the projection helpers price the tier consistently: 10 serve reads
    // at 0.1 s project 10·0.1·2 = 2 s, not 3 s
    val serves = Seq.fill(10)(Some(0.1))
    assert(math.abs(BenchUtil.projectedCostS(serves, 1.2, 3, serveCutoff = 0.2) - 2.0) < 1e-9)
    assert(math.abs(BenchUtil.scheduledReserveS(serves, 1.2, 3, serveCutoff = 0.2) - 2.0) < 1e-9)
  }

  test("queryFilter: unset runs everything; an unknown name fails fast") {
    val known = Set("q01_agg", "d22_jaccard_pairs")
    assert(BenchUtil.queryFilter(None, known).isEmpty)
    assert(BenchUtil.queryFilter(Some(" q01_agg ,,d22_jaccard_pairs"), known)
      .contains(known))
    // a stale filter naming a removed query must not bench nothing and
    // still write an artifact
    val e = intercept[IllegalArgumentException](
      BenchUtil.queryFilter(Some("q01_agg,x22_jaccard_inrow"), known))
    assert(e.getMessage.contains("x22_jaccard_inrow") && !e.getMessage.contains("q01_agg"))
  }

  test("policy constants: the values every artifact since r17 records") {
    import BenchUtil._
    assert((FAT_CUTOFF_S, GUARD_RATIO, GUARD_GAP_S, SERVE_CUTOFF_S, RESERVE_S) ==
      ((1.2, 3.5, 60.0, 0.2, 45.0)))
    assert((CENSOR_RATIO, CENSOR_FLOOR_S, CENSOR_REP1_ALLOW_S, ROTATE_CAP, WATCH_RATIO) ==
      ((3.0, 2.0, 10.0, 3, 1.75)))
  }

  test("suspectS: a censored rep is a suspect even when the rep-set has no min") {
    // every rep censored: no min, the censored rep's elapsed prices the re-run
    assert(BenchUtil.suspectS(Some(0.3), None, Some(2.6), crossHost = false,
      failed = false, rerun = false).contains(2.6))
    // a censored rep beats a clean min from an earlier rep of the set
    assert(BenchUtil.suspectS(Some(0.3), Some(0.35), Some(2.6), crossHost = true,
      failed = false, rerun = false).contains(2.6))
    // no comparable prior: nothing was censored and nothing can be judged
    assert(BenchUtil.suspectS(None, None, None, crossHost = false,
      failed = false, rerun = false).isEmpty)
  }

  test("suspectS: a storm min is a suspect; the trigger needs both ratio and gap") {
    // r10's d22: 18.35 s against a 1.25 s prior
    assert(BenchUtil.suspectS(Some(1.25), Some(18.35), None, crossHost = false,
      failed = false, rerun = false).contains(18.35))
    // ratio 3.6× but a 0.9 s gap: a storm same-host, not cross-host
    assert(BenchUtil.suspectS(Some(0.346), Some(1.25), None, crossHost = false,
      failed = false, rerun = false).contains(1.25))
    assert(BenchUtil.suspectS(Some(0.346), Some(1.25), None, crossHost = true,
      failed = false, rerun = false).isEmpty)
    // ratio boundary: exactly 3.5× is not above the trigger
    assert(BenchUtil.suspectS(Some(1.0), Some(3.5), None, crossHost = false,
      failed = false, rerun = false).isEmpty)
  }

  test("suspectS: a watch-band min is not a suspect, only named") {
    // r13's q94 shape: 6.2 s against 3.28 s is in the watch band ...
    assert(BenchUtil.watchBand(6.2, 3.28, BenchUtil.WATCH_RATIO, BenchUtil.GUARD_RATIO))
    // ... and no re-run is owed for it
    assert(BenchUtil.suspectS(Some(3.28), Some(6.2), None, crossHost = false,
      failed = false, rerun = false).isEmpty)
  }

  test("suspectS: a query is re-run at most once, and a failed query never") {
    for (censoredS <- Seq(None, Some(9.0))) {
      assert(BenchUtil.suspectS(Some(1.25), Some(18.35), censoredS, crossHost = false,
        failed = false, rerun = true).isEmpty)
      assert(BenchUtil.suspectS(Some(1.25), Some(18.35), censoredS, crossHost = false,
        failed = true, rerun = false).isEmpty)
    }
  }

  test("drainVerdict: mid-schedule needs the gap and a cost inside the reserve; after the schedule only the deadline") {
    import BenchUtil.{MidSchedule, Rerun, ScheduleDone, Skip, Wait, drainVerdict}
    // flagged at 10 s: the 60 s gap is unmet at 30 s, whatever the budget
    assert(drainVerdict(MidSchedule, 10.0, 30.0, 5.0, 420.0, 0.0) == Wait)
    // gap met, cost fits deadline − reserve
    assert(drainVerdict(MidSchedule, 10.0, 70.0, 5.0, 420.0, 100.0) == Rerun)
    // gap met, cost fits the deadline but not deadline − reserve: waits
    // (the end drain, which reserves nothing, can still take it)
    assert(drainVerdict(MidSchedule, 10.0, 300.0, 50.0, 420.0, 100.0) == Wait)
    assert(drainVerdict(ScheduleDone, 10.0, 300.0, 50.0, 420.0, 100.0) == Rerun)
    // after a complete schedule neither the gap nor the cost gates
    assert(drainVerdict(ScheduleDone, 10.0, 11.0, 1000.0, 420.0, 0.0) == Rerun)
    assert(drainVerdict(ScheduleDone, 10.0, 420.0, 0.0, 420.0, 0.0) == Rerun)
    // ... only the deadline does
    assert(drainVerdict(ScheduleDone, 10.0, 420.5, 0.0, 420.0, 0.0) == Skip)
  }

  test("drainVerdict: a truncated schedule sends every pending suspect to guard_skipped") {
    import BenchUtil.{Skip, Truncated, drainVerdict}
    for ((flagged, now, cost) <- Seq((0.0, 100.0, 1.0), (10.0, 11.0, 0.0), (0.0, 500.0, 50.0)))
      assert(drainVerdict(Truncated, flagged, now, cost, 420.0, 0.0) == Skip)
  }
}
