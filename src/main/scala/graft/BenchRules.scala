package graft

import java.nio.file.{Files, Path, Paths}

/** The comparable-stamp's adjudication rules, factored pure so that
  * (a) `Bench` applies them live, (b) `tools.StampReplay` re-applies
  * them offline to any recorded artifact, and (c) `BenchStampSpec`
  * pins them against the committed BENCH_r18 false-clean — the r18
  * verdict's headline failure, where the driver's official capture
  * ran 1.4-1.6x the committed envelope (q_copurchase 8.6x) and
  * stamped `comparable: true` because every rule was run-relative or
  * anchored on 5 sentinel queries the co-load happened to miss.
  *
  * r19 closes that hole with three absolute anchors, all sourced from
  * the committed comparable legs (fixture
  * `src/test/resources/canary_budgets_<sf>.tsv`, maintained by
  * `tools.CanaryBudgets`, one file per anchored sf — r18 verdict #5:
  * sf0.01 legs used to stamp comparable with NO absolute rule):
  *
  *  1. FULL-REGISTRY per-query medians (r18 verdict #1): a graded
  *     min-of-2 above max(2x committed median, 0.5 s) cannot be plan
  *     cost at identical code — the query is named, fed to
  *     remediation, and fails the stamp if it never produces a clean
  *     sample. Replaying BENCH_r18 through this rule names its six
  *     contaminated queries (q_copurchase 16.78 > 4.26, ...).
  *  2. DEGRADED reference = min(own first_run, committed median)
  *     (r18 verdict #2): BENCH_r18's co-load hit the warmup pass too,
  *     inflating q_copurchase's first_run to 45.95 s (vs 4.0 s) so
  *     the 4x-own-first_run line sat at 198 s and the contaminated
  *     graded samples walked under it. The committed median caps the
  *     reference, so a warmup-window co-load RAISES suspicion instead
  *     of suppressing it.
  *  3. AGGREGATE envelope (r18 verdict #3): per-query 2x lines miss
  *     broad 1.3-1.4x inflation (BENCH_r18 carried 16.6 s of residue
  *     after its named six). core_sec / drain_sec above 1.3x the
  *     committed same-sf envelope triggers the suspect sweep +
  *     remediation, else fails the stamp.
  */
object BenchRules {
  /** Per-query absolute line: max(2x committed median, floor). The
    * floor keeps sub-second scheduling jitter on tiny queries from
    * tripping the ratio; honest same-code per-query spread measured
    * up to ~2.04x on one sub-second query across the four committed
    * r18 legs — a rare jitter name self-heals through remediation
    * (fresh min-of-2 passes), a real regression or co-load does not.
    *
    * 0.15, down from the r19 0.5 (r19 verdict #2 "what's wrong"): in
    * the driver's r19 32-cpu capture five sub-0.15 s queries ran
    * 2.6-4x their committed medians (q_variant_extract 0.109→0.434,
    * q_unpivot, q_string_fns, q_udaf_money_sum, q_tsv_roundtrip — a
    * uniform ~+0.35 s burst) and the leg still stamped comparable
    * because they all sat under the 0.5 s absolute floor. 0.15 names
    * that class (replayed via tools.StampReplay on the r19 capture)
    * while staying above honest scheduling jitter on the ~0.01-0.05 s
    * tail (a 2x-median trip additionally requires the ratio, and a
    * rare jitter name self-heals through remediation). */
  val CanaryFloor = 0.15
  /** core_sec / drain_sec line over the committed envelope medians:
    * committed r18 legs span 55.6-65.1 s core around a 62.0 s median
    * (1.17x worst), so 1.3x separates honest session variance from
    * BENCH_r18's 1.47x contamination. */
  val EnvelopeFactor = 1.3
  /** A timed min-of-2 over 4x the steady reference (and the floor)
    * is environmental — identical plans don't slow down after
    * warmup. */
  val DegradedFactor = 4.0
  val DegradedFloor = 0.5
  /** Suspect (remediation re-run candidates when an end-state probe
    * or the envelope tripped): min-of-2 over max(1.5x steady
    * reference, 0.25 s) — only a query whose BOTH samples fell
    * inside a co-load window carries contamination, and it sits
    * above its steady reference. */
  val SuspectFactor = 1.5
  val SuspectFloor = 0.25
  /** Envelope-trip wide sweep: broad 1.3-1.4x inflation sits UNDER
    * the 1.5x suspect line on most queries (the r18 dd experiment:
    * core_sec 1.37x, zero queries named), so an envelope trip widens
    * the sweep to every budgeted query over 1.2x its median —
    * suspects confirm-or-improve by construction, so over-sweeping
    * costs bounded re-run time, never correctness. */
  val SweepFactor = 1.2

  final case class Anchor(
      sfDir: String,
      budgets: Map[String, Double],
      coreEnvelope: Double,
      drainEnvelope: Double,
      cpus: Option[String] = None)

  /** Absolute budgets are wall-clock seconds measured at a specific
    * core count (the fixture's provenance header): a compute-bound
    * query legitimately runs ~4x its 32-cpu median on an 8-cpu leg,
    * so applying the anchor cross-cpu would stamp an HONEST low-cpu
    * leg not-comparable (r20 — the driver measures scaling with an
    * 8-cpu leg every round). A fixture without a recorded cpus
    * (pre-r20) applies everywhere, as before. */
  def anchorAppliesTo(anchor: Anchor, cpus: String): Boolean =
    anchor.cpus.forall(_ == cpus)

  /** The leg's `anchored` stamp: a fixture loaded AND applies at this
    * core count. A fixture that failed to load anchors nothing. */
  def anchored(anchorE: Either[String, Anchor], cpus: String): Boolean =
    anchorE.exists(anchorAppliesTo(_, cpus))

  /** One fixture per anchored sf, keyed by the sf dir's basename:
    * /root/testdata/sf0.1 -> canary_budgets_sf0.1.tsv. */
  def fixturePath(sfDir: String): Path =
    Paths.get("src", "test", "resources",
      s"canary_budgets_${Paths.get(sfDir).getFileName}.tsv")

  /** Load and validate the anchor for `sfDir`. Every failure reason
    * starts with "anchor" — `tools.CanaryBudgets` accepts legs whose
    * ONLY not_comparable entries carry that prefix as bootstrap
    * sources for a first fixture at a new sf (without this, the
    * first legs at a new sf could never stamp comparable and the
    * fixture could never be written from comparable legs). */
  def loadAnchor(sfDir: String): Either[String, Anchor] = {
    val path = fixturePath(sfDir)
    val lines: Seq[String] =
      try {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(path).asScala.toSeq.filter(_.nonEmpty)
      } catch {
        case _: Exception =>
          return Left(s"anchor fixture $path missing or unreadable")
      }
    val prov = lines.find(_.startsWith("# provenance:")).getOrElse(
      return Left(s"anchor fixture $path has no provenance header"))
    // whole space-delimited token match (r17 ADVICE: substring
    // contains() false-matched sf0.1 inside an sf0.12 header)
    if (!prov.split("\\s+").contains(s"sf=$sfDir"))
      return Left(s"anchor fixture $path provenance does not cover sf=$sfDir")
    val env = lines.find(_.startsWith("# envelope:")).getOrElse(
      return Left(s"anchor fixture $path has no envelope header " +
        "(core_sec/drain_sec committed medians)"))
    val envKv = env.stripPrefix("# envelope:").trim.split("\\s+")
      .flatMap { t => t.split("=") match {
        case Array(k, v) => try Some(k -> v.toDouble)
                            catch { case _: Exception => None }
        case _ => None
      }}.toMap
    val core = envKv.getOrElse("core_sec",
      return Left(s"anchor fixture $path envelope has no core_sec"))
    val drain = envKv.getOrElse("drain_sec",
      return Left(s"anchor fixture $path envelope has no drain_sec"))
    val rows = lines.filterNot(_.startsWith("#")).flatMap { l =>
      l.split("\t") match {
        case Array(n, b) => try Some(n -> b.toDouble)
                            catch { case _: Exception => None }
        case _ => None
      }
    }.toMap
    if (rows.isEmpty)
      return Left(s"anchor fixture $path has no budget rows")
    val cpus = prov.split("\\s+").collectFirst {
      case t if t.startsWith("cpus=") => t.stripPrefix("cpus=") }
    Right(Anchor(sfDir, rows, core, drain, cpus))
  }

  def canaryLine(med: Double): Double = math.max(2 * med, CanaryFloor)

  /** The steady-state reference for the degraded / suspect rules:
    * the committed median caps the query's own first_run, so a
    * co-load spanning the warmup window cannot poison the reference
    * (r18 verdict #2 — the fix is exactly this min). */
  def steadyRef(firstRun: Double, budget: Option[Double]): Double =
    budget match {
      case Some(m) if firstRun > 0 => math.min(firstRun, m)
      case Some(m) => m
      case None => firstRun
    }

  def looksDegraded(minSample: Double, firstRun: Double,
      budget: Option[Double]): Boolean = {
    val ref = steadyRef(firstRun, budget)
    ref > 0 && minSample > DegradedFactor * ref && minSample > DegradedFloor
  }

  def isSuspect(minSample: Double, firstRun: Double,
      budget: Option[Double], envelopeTripped: Boolean): Boolean = {
    val ref = steadyRef(firstRun, budget)
    val base = ref > 0 &&
      minSample > math.max(SuspectFactor * ref, SuspectFloor)
    val sweep = envelopeTripped &&
      budget.exists(m => minSample > math.max(SweepFactor * m, SuspectFloor))
    base || sweep
  }

  /** Locale-safe 3-decimal formatting (a comma-decimal default locale
    * would emit invalid JSON). */
  def r3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Budgeted queries whose graded value exceeds the absolute line,
    * rendered "name value > line" (name-sorted). */
  def canaryOver(budgets: Map[String, Double],
      results: Map[String, Double]): Seq[String] =
    budgets.toSeq.sortBy(_._1).collect {
      case (n, med) if results.getOrElse(n, -1.0) > canaryLine(med) =>
        s"$n ${r3(results(n))} > ${r3(canaryLine(med))}"
    }

  /** Aggregate-envelope violations, rendered like the canary lines. */
  def envelopeOver(coreSec: Double, drainSec: Double,
      anchor: Anchor): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    if (coreSec > EnvelopeFactor * anchor.coreEnvelope)
      out += s"core_sec ${r3(coreSec)} > ${r3(EnvelopeFactor)}x " +
        s"committed ${r3(anchor.coreEnvelope)}"
    if (drainSec > EnvelopeFactor * anchor.drainEnvelope)
      out += s"drain_sec ${r3(drainSec)} > ${r3(EnvelopeFactor)}x " +
        s"committed ${r3(anchor.drainEnvelope)}"
    out.toSeq
  }
}
