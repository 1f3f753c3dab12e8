package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entrypoint. Driver contract: ONE JSON line on stdout; the
  * per-query detail goes to the artifact at `SPARK_GRAFT_BENCH_OUT`.
  *
  * The policy (each rule's history is in BASELINE.md and docs/PLANS.md):
  *  - Query-major: a query runs its reps back to back, so min-of-reps is a
  *    warm minimum. Queries run cheapest-first by the prior artifact's mins
  *    (the newest bench/BENCH_local_r*.json, or `SPARK_GRAFT_BENCH_ORDER`).
  *    Up to [[BenchUtil.ROTATE_CAP]] queries the prior run never measured
  *    rotate to the front, behind the cheapest query as a warmup.
  *  - Reps: `SPARK_GRAFT_PASSES` (default 3). Fat priors run one fewer and
  *    serve reads two ([[BenchUtil.repsFor]]). The schedule degrades to 2
  *    reps upfront ([[BenchUtil.planReps]]) or mid-run
  *    ([[BenchUtil.shouldDegrade]]) when it would overrun the deadline less
  *    the requeue reserve.
  *  - Deadline (`SPARK_GRAFT_BENCH_DEADLINE_S`, default 420): no query and
  *    no further rep starts past it, except a streaming query's warm rep 2.
  *  - Censor: a batch query's rep that overruns its budget
  *    ([[BenchUtil.censorBudgetS]], [[BenchUtil.rep1CensorBudgetS]]) is
  *    cancelled through its Spark job group. It leaves a null pass: never a
  *    min, never a failure.
  *  - One re-run path: after every rep-set [[BenchUtil.suspectS]] decides
  *    whether the query is a suspect (a censored rep or a storm min). A
  *    suspect re-runs once, uncensored, in a later window when
  *    [[BenchUtil.drainVerdict]] allows; otherwise it is published in
  *    `guard_skipped`. A min in [[BenchUtil.watchBand]] is only named in
  *    `watch`.
  *  - A prior from another scale factor orders the schedule but judges
  *    nothing: no censor, suspects, tiers or rep planning.
  *
  * A failed query leaves a null pass, nulls the total and exits 1. The
  * stdout line is compact (total, counts, slowest 10) so it fits the
  * driver's stdout-tail window. */
private[graft] object BenchUtil {
  /** Fat-tier cutoff: a same-scale prior at or above it runs one fewer rep. */
  val FAT_CUTOFF_S = 1.2
  /** Storm trigger: a min above this multiple of its prior is a suspect. */
  val GUARD_RATIO = 3.5
  /** A mid-schedule re-run waits this long after the flag, for a new host window. */
  val GUARD_GAP_S = 60.0
  /** Censor budget: max(ratio × prior, floor) + hostGap per rep. */
  val CENSOR_RATIO = 3.0
  val CENSOR_FLOOR_S = 2.0
  /** Extra rep-1 censor allowance for first-run JIT and one-time builds. */
  val CENSOR_REP1_ALLOW_S = 10.0
  /** Serve tier: a same-scale prior at or below it runs 2 reps. */
  val SERVE_CUTOFF_S = 0.2
  /** At most this many starved queries rotate to the front of a run. */
  val ROTATE_CAP = 3
  /** Schedule budget held back for suspects' re-runs. */
  val RESERVE_S = 45.0
  /** Watch band: a sub-trigger min above this multiple of its prior is named. */
  val WATCH_RATIO = 1.75

  /** JSON string literal: escapes backslash, quote and all control chars. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A bench artifact's "sf", raw "hostname" (empty when unrecorded) and
    * per-query warm mins. Regex-based (no JSON library on the classpath);
    * malformed input degrades to no priors, never an error. The
    * `"hostname":"` anchor cannot match "prior_hostname", which is preceded
    * by '_'. */
  def parsePrior(txt: String): (String, String, Map[String, Double]) = {
    val q = "\"([A-Za-z0-9_]+)\":\\{\"passes\":\\[[^\\]]*\\],\"min\":([0-9.]+)".r
    val sfRe = "\"sf\":\"([^\"]*)\"".r
    val hostNameRe = "\"hostname\":\"([^\"]*)\"".r
    (sfRe.findFirstMatchIn(txt).map(_.group(1)).getOrElse(""),
      hostNameRe.findFirstMatchIn(txt).map(_.group(1)).getOrElse(""),
      q.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap)
  }

  /** Absolute riser gap, one definition for the watch band, the storm
    * trigger and the censor: 0.3 s absorbs same-host sub-second noise; a
    * cross-host prior gets 1.0 s, which a host-speed delta on a sub-second
    * query cannot reach while a real multi-second regression still does. */
  def hostGap(crossHost: Boolean): Double = if (crossHost) 1.0 else 0.3

  /** Raw hostnames decide; when either side lacks one the provenance is
    * unknown, which counts as cross-host. */
  def isCrossHost(priorHostName: String, hostName: String): Boolean =
    if (priorHostName.nonEmpty && hostName.nonEmpty) priorHostName != hostName
    else true

  /** Rep policy: a fat prior (≥ fatCutoff) runs one fewer rep, clamped to
    * [2, reps]; a serve read (prior ≤ serveCutoff) runs 2 — rep 1 primes,
    * rep 2 is the warm read. Never more than `reps`; serveCutoff = 0
    * disables the serve tier. */
  def repsFor(prior: Option[Double], fatCutoff: Double, reps: Int,
              serveCutoff: Double = 0.0): Int =
    if (prior.exists(_ >= fatCutoff)) (reps - 1).max(2).min(reps)
    else if (serveCutoff > 0 && prior.exists(_ <= serveCutoff)) 2.min(reps)
    else reps

  /** The prior artifact's "skipped" list: the queries its deadline never
    * measured. Anchored on the ',' or '{' before the key, so it cannot
    * match "guard_skipped". */
  def parseSkipped(txt: String): Seq[String] =
    "[,{]\"skipped\":\\[([^\\]]*)\\]".r.findFirstMatchIn(txt)
      .map(_.group(1)).getOrElse("")
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq

  /** Prior-projected cost of running `priors` at `reps`: min × reps each,
    * 0.5 s for an unknown prior. It underestimates the wall clock (rep 1
    * pays JIT), hence [[planReps]]'s headroom and the mid-run re-check. */
  def projectedCostS(priors: Seq[Option[Double]], fatCutoff: Double, reps: Int,
                     serveCutoff: Double = 0.0): Double =
    priors.map(p => p.getOrElse(0.5) * repsFor(p, fatCutoff, reps, serveCutoff)).sum

  /** The largest rep count in [2, reps] whose headroom-inflated projection
    * fits `budgetS`. With no priors the configured count stands; when even
    * 2 does not fit the answer is still 2, the warm-min floor. */
  def planReps(priors: Seq[Option[Double]], fatCutoff: Double, reps: Int,
               budgetS: Double, headroom: Double = 1.15,
               serveCutoff: Double = 0.0): Int =
    if (priors.forall(_.isEmpty) || reps <= 2) reps
    else (reps to 2 by -1)
      .find(r => projectedCostS(priors, fatCutoff, r, serveCutoff) * headroom <= budgetS)
      .getOrElse(2)

  /** This run's wall-clock inflation over its projection so far, floored at 1. */
  def hostScale(elapsedS: Double, predictedSoFarS: Double): Double =
    if (predictedSoFarS > 0) math.max(elapsedS / predictedSoFarS, 1.0) else 1.0

  /** Mid-run degrade: the host-scaled remaining projection overruns the budget. */
  def shouldDegrade(elapsedS: Double, scale: Double, remainingProjectedS: Double,
                    budgetS: Double): Boolean =
    elapsedS + scale * remainingProjectedS > budgetS

  /** Mid-schedule re-run gates: ≥ gapS since the flag (a re-run in the same
    * host window would re-measure the same storm) and the estimated cost
    * fits before `deadlineS`. */
  def requeueEligible(flaggedAtS: Double, nowS: Double, gapS: Double,
                      estCostS: Double, deadlineS: Double): Boolean =
    (nowS - flaggedAtS) >= gapS && (nowS + estCostS) <= deadlineS

  /** Prior-estimated cost of the still-unmeasured scheduled queries: the
    * budget a mid-schedule re-run must leave to first measurements. */
  def scheduledReserveS(remainingPriors: Seq[Option[Double]],
                        fatCutoff: Double, reps: Int,
                        serveCutoff: Double = 0.0): Double =
    projectedCostS(remainingPriors, fatCutoff, reps, serveCutoff)

  /** Sub-trigger riser band: a min above watchRatio × prior (1.5× for
    * priors ≥ 2 s, whose warm mins are stabler), more than hostGap above it
    * and not above the storm trigger. Such a min is named in the artifact's
    * "watch" map, never re-run. */
  def watchBand(min: Double, prior: Double, watchRatio: Double,
                guardRatio: Double, crossHost: Boolean = false): Boolean = {
    val ratio = if (prior >= 2.0) math.min(watchRatio, 1.5) else watchRatio
    min > prior * ratio && (min - prior) > hostGap(crossHost) && min <= prior * guardRatio
  }

  /** Censor budget of reps 2+: max(ratio × prior, floor) + hostGap. The
    * floor keeps honest JIT out of the censor; no comparable prior, no
    * censor (None). */
  def censorBudgetS(prior: Option[Double], censorRatio: Double, floorS: Double,
                    crossHost: Boolean): Option[Double] =
    prior.map(p => math.max(censorRatio * p, floorS) + hostGap(crossHost))

  /** Rep 1's wider censor budget: max(ratio × prior, 3 × floor) + allowS +
    * hostGap, so one-time builds and first-run JIT fit while a storm rep
    * still dies. */
  def rep1CensorBudgetS(prior: Option[Double], censorRatio: Double,
                        floorS: Double, allowS: Double,
                        crossHost: Boolean): Option[Double] =
    prior.map(p =>
      math.max(censorRatio * p, floorS * 3) + allowS + hostGap(crossHost))

  /** True when `e`'s cause chain is Spark's job-group cancellation: a
    * CancellationException or InterruptedException (how a cancelled
    * broadcast or checkpoint future surfaces, often with a null message),
    * or a message containing "cancel". Only consulted after the censor
    * fired for the rep, so a genuine failure still lands in `failed`. */
  def isCancellation(e: Throwable): Boolean = {
    var t = e
    var seen = 0
    while (t != null && seen < 16) {
      t match {
        case _: java.util.concurrent.CancellationException => return true
        case _: InterruptedException => return true
        case _ =>
      }
      val m = t.getMessage
      if (m != null && m.toLowerCase(java.util.Locale.ROOT).contains("cancel"))
        return true
      seen += 1
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  /** The starved queries that rotate to the front: at most `cap`, largest
    * priors first (unknown at 0.5 s); the rest keep their cheapest-first
    * slot. */
  def capRotation(starved: Seq[String], priors: Map[String, Double],
                  cap: Int): Seq[String] =
    starved.sortBy(n => -priors.getOrElse(n, 0.5)).take(math.max(cap, 0))

  /** The SPARK_GRAFT_QUERIES comma filter: None when unset, else the named
    * queries. A name outside `known` fails the run — a stale filter would
    * otherwise bench nothing and still write an artifact. */
  def queryFilter(spec: Option[String], known: Set[String]): Option[Set[String]] =
    spec.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names.diff(known)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_QUERIES names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** The one suspect rule, applied after every rep-set. A query is a
    * suspect when a rep was censored (`censoredS`, that rep's elapsed time)
    * or when its min exceeds GUARD_RATIO × prior by more than hostGap.
    * Returns the storm seconds the re-run is priced by; None for a query
    * that failed, was already re-run, or has no same-scale prior. */
  def suspectS(prior: Option[Double], min: Option[Double], censoredS: Option[Double],
               crossHost: Boolean, failed: Boolean, rerun: Boolean): Option[Double] =
    if (failed || rerun) None
    else prior.flatMap { p =>
      censoredS.orElse(min.filter(m => m > p * GUARD_RATIO && m - p > hostGap(crossHost)))
    }

  /** Where the schedule stands when a pending suspect is drained. */
  sealed trait Phase
  case object MidSchedule extends Phase
  case object ScheduleDone extends Phase
  case object Truncated extends Phase

  /** What the drain does with one pending suspect. */
  sealed trait Verdict
  case object Rerun extends Verdict
  case object Wait extends Verdict
  case object Skip extends Verdict

  /** The one drain rule. Mid-schedule a suspect re-runs once GUARD_GAP_S
    * has passed and its cost fits the deadline less the rest of the
    * schedule's `reserveS`. After a complete schedule only the deadline
    * gates (waiting cannot buy a new window). A truncated schedule re-runs
    * nothing: its suspects are published as guard_skipped. */
  def drainVerdict(phase: Phase, flaggedAtS: Double, nowS: Double, estCostS: Double,
                   deadlineS: Double, reserveS: Double): Verdict = phase match {
    case MidSchedule =>
      if (requeueEligible(flaggedAtS, nowS, GUARD_GAP_S, estCostS, deadlineS - reserveS)) Rerun
      else Wait
    case ScheduleDone => if (nowS <= deadlineS) Rerun else Skip
    case Truncated => Skip
  }
}

object Bench {
  import BenchUtil._

  /** The bench's seven settings, read from the environment by [[main]]. */
  final case class Settings(sfDir: String, cpus: Int, artifact: String,
                            order: Option[String], queries: Option[String],
                            passes: Int, deadlineS: Double)

  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** The prior: (order source, its sf, its hostname, its per-query mins,
    * the queries it skipped). The chosen file is `order`, else the newest
    * bench/BENCH_local_r{N}.json. The live artifact's skipped list is
    * always unioned in (never its mins), so a run that starved queries
    * rotates them front next time whatever the order source. */
  private def priorMins(s: Settings): (String, String, String, Map[String, Double], Seq[String]) = {
    import java.nio.file.{Files, Paths}
    val chosen = s.order.map(Paths.get(_)).orElse {
      val dir = Paths.get("bench")
      if (!Files.isDirectory(dir)) None
      else {
        import scala.jdk.CollectionConverters._
        val re = "BENCH_local_r(\\d+)\\.json".r
        scala.util.Using.resource(Files.list(dir)) { stream =>
          stream.iterator().asScala
            .flatMap { p => p.getFileName.toString match {
              case re(n) => Some((n.toInt, p)); case _ => None } }
            .toSeq
        }.sortBy(-_._1).headOption.map(_._2)
      }
    }
    val live = Paths.get(s.artifact)
    val liveSkipped =
      if (Files.isReadable(live) && !chosen.contains(live))
        parseSkipped(new String(Files.readAllBytes(live), "UTF-8"))
      else Seq.empty
    chosen match {
      case Some(p) if Files.isReadable(p) =>
        val txt = new String(Files.readAllBytes(p), "UTF-8")
        val (priorSf, priorHostName, mins) = parsePrior(txt)
        if (txt.trim.nonEmpty && mins.isEmpty)
          System.err.println(s"[bench] prior $p is non-empty but parsed to ZERO mins — format drift? (name order, nothing judged)")
        (p.toString, priorSf, priorHostName, mins, (parseSkipped(txt) ++ liveSkipped).distinct)
      case _ => ("none", "", "", Map.empty, liveSkipped)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val artifact = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench/BENCH_local.json")
    val settings = Settings(sfDir, cpus.toInt, artifact,
      order = sys.env.get("SPARK_GRAFT_BENCH_ORDER"),
      queries = sys.env.get("SPARK_GRAFT_QUERIES"),
      passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt.max(1),
      deadlineS = sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_S", "420").toDouble)
    // the library's own session factory: the bench measures the
    // configuration users run
    val spark = core.Engine.session(s"local[$cpus]", cpus.toInt)
    val line = run(spark, settings)
    println(line)
    spark.stop()
    // the line's own failed list decides the exit code
    if (!line.contains("\"failed\":[]")) sys.exit(1)
  }

  /** Runs the schedule on `spark`, writes the artifact and returns the
    * stdout line. */
  def run(spark: SparkSession, settings: Settings): String = {
    val Settings(sfDir, cpus, artifact, _, _, reps, deadlineS) = settings
    val pool = SparkEntry.queries
    val only = queryFilter(settings.queries, pool.keySet)
    val hostName =
      try java.net.InetAddress.getLocalHost.getHostName catch { case _: Exception => "" }
    val (orderSource, priorSf, priorHostName, prior, priorSkipped) = priorMins(settings)
    val crossHost = isCrossHost(priorHostName, hostName)
    // a prior from another (or an unknown) scale orders the schedule but
    // cannot judge absolute times
    val priorComparable = prior.nonEmpty && priorSf == sfDir
    val judgePrior = if (priorComparable) prior else Map.empty[String, Double]
    if (prior.nonEmpty && !priorComparable)
      System.err.println(s"[bench] prior $orderSource is sf=${if (priorSf.isEmpty) "<unknown>" else priorSf}, run is sf=$sfDir — ordering only (nothing judged)")
    if (prior.nonEmpty && priorComparable && crossHost)
      System.err.println(s"[bench] prior $orderSource hostname=${if (priorHostName.isEmpty) "<unrecorded>" else priorHostName} differs from this run's $hostName — cross-host gap 1.0 s")
    // cheapest-first; a query with no prior slots at a mid-cost 0.5 s
    val cheapFirst = pool.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) => (prior.getOrElse(name, 0.5), name) }
    // the starved list is intersected with THIS run's pool before capping,
    // so a filtered-out or removed query cannot take a rotation slot
    val runnable = cheapFirst.map(_._1).toSet
    val starved = capRotation(priorSkipped.filter(runnable.contains), prior, ROTATE_CAP).toSet
    if (priorSkipped.count(runnable.contains) > starved.size)
      System.err.println(s"[bench] prior run skipped ${priorSkipped.size} queries — rotation capped at $ROTATE_CAP (largest priors); the rest stay cheapest-first")
    val queryList =
      if (starved.isEmpty) cheapFirst
      else {
        val (front, rest) = cheapFirst.partition { case (n, _) => starved.contains(n) }
        System.err.println(s"[bench] auto-rotated to the front: ${front.map(_._1).mkString(", ")}")
        if (rest.isEmpty) front
        else {
          // the cheapest query absorbs session init and JIT before any
          // rotated heavyweight is measured
          val warm = rest.minBy { case (n, _) => (prior.getOrElse(n, 0.5), n) }
          System.err.println(s"[bench] warmup-first: ${warm._1} promoted ahead of the rotated block")
          warm +: (front ++ rest.filterNot(_._1 == warm._1))
        }
      }
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val benchT0 = System.nanoTime()
    val (jit0, gc0) = (Dev.jitMs, gcMs)
    val (compiles0, compileNs0) = (Dev.janinoCompiles, Dev.janinoCompileNs)
    def elapsed: Double = (System.nanoTime() - benchT0) / 1e9
    var deadlineHit = false
    // per rep: seconds (None = failed or censored), gc and jit deltas in
    // ms, Janino compiles (codegen cache misses)
    case class Rep(secs: Option[Double], gc: Long, jit: Long, compiles: Long)
    val results = scala.collection.mutable.LinkedHashMap[String, Vector[Rep]]()
    // name → min/prior ratio that flagged it: re-run, or never re-run
    val requeued = scala.collection.mutable.LinkedHashMap[String, Double]()
    val guardSkipped = scala.collection.mutable.LinkedHashMap[String, Double]()
    // name → final min/prior ratio of a sub-trigger riser
    val watch = scala.collection.mutable.LinkedHashMap[String, Double]()
    // name → the censor budget (s) its cancelled rep overran
    val censored = scala.collection.mutable.LinkedHashMap[String, Double]()
    case class Suspect(ratio: Double, flaggedAtS: Double, stormS: Double)
    val pending = scala.collection.mutable.LinkedHashMap[String, Suspect]()
    // planning targets deadline − reserve, so suspects' re-runs have a
    // protected budget; first measurements still gate on the full deadline
    val scheduleBudgetS = (deadlineS - RESERVE_S).max(0.0)
    val plannedReps =
      if (priorComparable)
        planReps(queryList.map { case (n, _) => judgePrior.get(n) },
          FAT_CUTOFF_S, reps, scheduleBudgetS, serveCutoff = SERVE_CUTOFF_S)
      else reps
    var effReps = plannedReps
    var degradedAtS: Option[Double] = None
    if (plannedReps < reps)
      System.err.println(f"[bench] rep planning: ${queryList.size} queries at $reps reps project past ${scheduleBudgetS}%.0f s (deadline ${deadlineS}%.0f − reserve ${RESERVE_S}%.0f) — degraded to $plannedReps reps upfront")
    // prior-projected cost of the reps run so far; the first rep-set
    // (Spark init, first codegen) is excluded from the host-scale estimate
    var projectedSoFarS = 0.0
    var firstWallS = 0.0
    var firstProjS = 0.0
    def repsFor(name: String): Int =
      BenchUtil.repsFor(judgePrior.get(name), FAT_CUTOFF_S, effReps, SERVE_CUTOFF_S)
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def minOf(ts: Vector[Rep]): Option[Double] = ts.flatMap(_.secs).minOption
    def isWarm(ts: Vector[Rep]): Boolean = ts.flatMap(_.secs).size >= 2
    def names(ns: Iterable[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    def ratios(m: collection.Map[String, Double]) =
      m.map { case (n, r) => s""""$n":${fmt(r)}""" }.mkString("{", ",", "}")
    def mins = results.toSeq.flatMap { case (n, ts) => minOf(ts).map(n -> _) }
    // null whenever a query failed: its cost silently vanishes from the sum
    def totalJson = if (failed.isEmpty) fmt(mins.map(_._2).sum) else "null"
    def writeArtifact(done: Boolean): Unit = {
      val detail = results.toSeq.sortBy(_._1).map { case (n, ts) =>
        val per = ts.map(_.secs.map(fmt).getOrElse("null")).mkString("[", ",", "]")
        val gcs = ts.map(_.gc.toString).mkString("[", ",", "]")
        val jits = ts.map(_.jit.toString).mkString("[", ",", "]")
        val compiles = ts.map(_.compiles.toString).mkString("[", ",", "]")
        val minCompiles = ts.filter(_.secs.isDefined).minByOption(_.secs.get)
          .map(_.compiles.toString).getOrElse("null")
        s""""$n":{"passes":$per,"min":${minOf(ts).map(fmt).getOrElse("null")},"warm":${isWarm(ts)},"gc_ms":$gcs,"jit_ms":$jits,"compiles":$compiles,"min_compiles":$minCompiles}"""
      }.mkString("{", ",", "}")
      val skipped = queryList.map(_._1).filterNot(results.contains)
      val serveTier = queryList.map(_._1).filter(n => judgePrior.get(n).exists(_ <= SERVE_CUTOFF_S))
      val art =
        s"""{"sf":${jstr(sfDir)},"hostname":${jstr(hostName)},"cpus":$cpus,"scheduling":"query-major","order_source":${jstr(orderSource)},"prior_hostname":${jstr(priorHostName)},"reps":$reps,"planned_reps":$plannedReps,"eff_reps":$effReps,"degraded_at_s":${degradedAtS.map(fmt).getOrElse("null")},"reserve_s":${fmt(RESERVE_S)},"fat_cutoff_s":${fmt(FAT_CUTOFF_S)},"serve_cutoff_s":${fmt(SERVE_CUTOFF_S)},"serve_tier":${names(serveTier)},"deadline_s":${fmt(deadlineS)},"deadline_hit":$deadlineHit,"complete":$done,"wall_s":${fmt(elapsed)},"jit_ms":${Dev.jitMs - jit0},"gc_ms":${gcMs - gc0},"janino_compiles":${Dev.janinoCompiles - compiles0},"janino_compile_ms":${(Dev.janinoCompileNs - compileNs0) / 1000000},"total_min":$totalJson,"n_queries":${mins.size},"n_warm":${results.count { case (_, ts) => isWarm(ts) }},"failed":${names(failed)},"skipped":${names(skipped)},"requeued":${ratios(requeued)},"guard_skipped":${ratios(guardSkipped)},"watch":${ratios(watch)},"censored":${ratios(censored)},"queries":$detail}"""
      val out = java.nio.file.Paths.get(artifact)
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(out, (art + "\n").getBytes("UTF-8"))
    }
    // the censor's clock: one daemon thread cancels a rep's job group when
    // its budget expires
    val censorExec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => { val t = new Thread(r, "bench-censor"); t.setDaemon(true); t })
    /** One rep-set of `name` (up to `nReps` reps, deadline-gated between
      * reps), appended to the reps it already has, then judged by the
      * suspect rule. A censored or failed rep ends the rep-set. Streaming
      * queries are never censored (cancelling mid-microbatch can wedge a
      * stream's checkpoint) and run their warm rep 2 even past the
      * deadline: a 1-rep streaming min is a JIT measurement. */
    def runReps(name: String, fn: (SparkSession, String) => DataFrame,
                nReps: Int, censor: Boolean): Unit = {
      val isStreaming = SparkEntry.streamingQueries.contains(name)
      val p = judgePrior.get(name)
      val (rep1BudgetS, budgetS) =
        if (censor && !isStreaming)
          (rep1CensorBudgetS(p, CENSOR_RATIO, CENSOR_FLOOR_S, CENSOR_REP1_ALLOW_S, crossHost),
            censorBudgetS(p, CENSOR_RATIO, CENSOR_FLOOR_S, crossHost))
        else (None, None)
      var ts = results.getOrElse(name, Vector.empty[Rep])
      var censoredS: Option[Double] = None
      var rep = 0
      var stop = false
      while (rep < nReps && !stop) {
        rep += 1
        val mustWarm = rep == 2 && isStreaming && ts.flatMap(_.secs).nonEmpty
        val late = rep > 1 && elapsed > deadlineS
        if (late) deadlineHit = true
        if (late && !mustWarm) stop = true
        else {
          val (g0, j0, c0) = (gcMs, Dev.jitMs, Dev.janinoCompiles)
          // unique per invocation: a reused group id would be pre-cancelled
          // by an earlier rep's AndFutureJobs cancellation
          val group = s"bench-$name-rep$rep-${System.nanoTime()}"
          val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
          // interruptOnCancel = false: an interrupt could wedge a file writer
          spark.sparkContext.setJobGroup(group, s"bench $name rep $rep", false)
          val repBudgetS = if (rep == 1) rep1BudgetS else budgetS
          val watchdog = repBudgetS.map { b =>
            censorExec.schedule(new Runnable {
              def run(): Unit = {
                fired.set(true)
                // AndFutureJobs: a rep is many jobs, and a cancel landing
                // between two of them must still stop the next
                spark.sparkContext.cancelJobGroupAndFutureJobs(group)
              }
            }, (b * 1000).toLong, java.util.concurrent.TimeUnit.MILLISECONDS)
          }
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable if fired.get() && isCancellation(e) => false
            case e: Throwable =>
              failed += name
              System.err.println(s"[bench] FAILED $name: ${e.getMessage}")
              false
          }
          watchdog.foreach(_.cancel(false))
          spark.sparkContext.clearJobGroup()
          val secs = (System.nanoTime() - t0) / 1e9
          ts :+= Rep(if (ok) Some(secs) else None, gcMs - g0, Dev.jitMs - j0,
            Dev.janinoCompiles - c0)
          spark.catalog.clearCache() // drop operator-internal persists between reps
          if (!ok && !failed.contains(name)) {
            val b = repBudgetS.getOrElse(0.0)
            censored(name) = b
            censoredS = Some(secs)
            System.err.println(f"[bench] storm-censor: $name rep $rep cancelled at $secs%.1f s (budget $b%.1f s)")
          }
          stop = !ok
        }
      }
      results(name) = ts
      System.err.println(f"[bench] $name ${ts.map(_.secs.map(fmt).getOrElse("FAIL")).mkString("/")} s min=${minOf(ts).map(fmt).getOrElse("-")}")
      suspectS(p, minOf(ts), censoredS, crossHost, failed.contains(name), requeued.contains(name)) match {
        case Some(stormS) =>
          pending(name) = Suspect(stormS / p.get, elapsed, stormS)
          System.err.println(f"[bench] suspect: $name (${stormS / p.get}%.1fx prior) — one uncensored re-run in a later window")
        case None =>
          for (m <- minOf(ts); pr <- p
               if !failed.contains(name) && !requeued.contains(name) &&
                 watchBand(m, pr, WATCH_RATIO, GUARD_RATIO, crossHost)) {
            watch(name) = m / pr
            System.err.println(f"[bench] watch: $name min ${m / pr}%.2fx prior (sub-trigger riser) — named in artifact")
          }
      }
      writeArtifact(done = false)
    }
    /** Offers every pending suspect to [[BenchUtil.drainVerdict]]: a
      * re-run is uncensored (a genuine 3×+ regression publishes its honest
      * number), and a suspect that cannot re-run lands in guard_skipped. */
    def drain(phase: Phase): Unit = if (pending.nonEmpty) {
      // the rest of the schedule's prior-estimated cost: a mid-schedule
      // re-run must not starve a first measurement
      val reserve =
        if (phase != MidSchedule) 0.0
        else scheduledReserveS(queryList.map(_._1).filterNot(results.contains)
          .map(judgePrior.get), FAT_CUTOFF_S, effReps, SERVE_CUTOFF_S)
      pending.toSeq.foreach { case (n, s) =>
        // a re-run that tripped the deadline truncates the schedule
        val at = if (phase == MidSchedule && deadlineHit) Truncated else phase
        drainVerdict(at, s.flaggedAtS, elapsed, s.stormS * repsFor(n), deadlineS, reserve) match {
          case Rerun =>
            pending.remove(n)
            requeued(n) = s.ratio
            System.err.println(f"[bench] requeue $n ${if (at == MidSchedule) "mid-schedule" else "at end drain"} (${s.ratio}%.1fx prior)")
            runReps(n, pool(n), repsFor(n), censor = false)
          case Skip =>
            pending.remove(n)
            guardSkipped(n) = s.ratio
            System.err.println(f"[bench] NO BUDGET to requeue $n (${s.ratio}%.1fx prior) — flagged guard_skipped")
          case Wait =>
        }
      }
    }
    val it = queryList.iterator
    while (it.hasNext && !deadlineHit) {
      val (name, fn) = it.next()
      if (elapsed > deadlineS) {
        deadlineHit = true
        System.err.println(f"[bench] deadline ${deadlineS}%.0f s hit after $elapsed%.1f s — ${results.size}/${queryList.size} queries measured")
      } else {
        val prevReps = results.get(name).map(_.size).getOrElse(0)
        runReps(name, fn, repsFor(name), censor = true)
        // credit the reps that actually ran: a failed or truncated rep-set
        // costs less than assigned, and crediting the full count would hide
        // a slow host from the degrade check
        val actualReps = results.get(name).map(_.size).getOrElse(0) - prevReps
        projectedSoFarS += judgePrior.get(name).getOrElse(0.5) * actualReps
        if (firstWallS == 0.0) { firstWallS = elapsed; firstProjS = projectedSoFarS }
        // mid-run degrade, once ≥ 30 s of warmup-discounted projection has
        // been measured (below that the ratio is JIT and noise)
        if (effReps > 2 && priorComparable && projectedSoFarS - firstProjS >= 30.0) {
          val remainingProjected = projectedCostS(
            queryList.collect { case (n, _) if !results.contains(n) => judgePrior.get(n) },
            FAT_CUTOFF_S, effReps, SERVE_CUTOFF_S)
          val scale = hostScale(elapsed - firstWallS, projectedSoFarS - firstProjS)
          if (shouldDegrade(elapsed, scale, remainingProjected, scheduleBudgetS)) {
            effReps = 2
            degradedAtS = Some(elapsed)
            System.err.println(f"[bench] mid-run degrade at $elapsed%.1f s: steady-state host scale $scale%.2fx × remaining projection $remainingProjected%.1f s overruns budget ${scheduleBudgetS}%.0f s — remaining queries at 2 reps")
          }
        }
        drain(MidSchedule)
      }
    }
    // completeness is the schedule's: a deadline trip inside the end drain
    // cannot mark a fully measured schedule incomplete
    val scheduleDone = !deadlineHit
    drain(if (scheduleDone) ScheduleDone else Truncated)
    writeArtifact(done = scheduleDone)
    censorExec.shutdown()
    val nWarm = results.count { case (_, ts) => isWarm(ts) }
    val slow = mins.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries FAILED: ${failed.mkString(", ")}")
    // on a deadline truncation value is the partial sum: consumers gate on
    // deadline_hit and n_queries before comparing
    s"""{"metric":"total","value":$totalJson,"unit":"sec","n_queries":${mins.size},"n_warm":$nWarm,"deadline_hit":$deadlineHit,"failed":${names(failed)},"artifact":${jstr(artifact)},"queries":$slow,"sf":${jstr(sfDir)}}"""
  }
}
