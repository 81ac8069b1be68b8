package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark harness: one fresh JVM per run, one client thread issuing
  * one query at a time on `local[cpus]` (a closed loop).
  *
  * A run is: set-up (session build plus resolving every table), then
  * the same set-up twice more in the same JVM, a cold pass, a check pass
  * that digests every output against the manifest, then warm rounds
  * until `--seconds` have passed. Timed passes write every output column
  * to the `noop` sink; a warm round also times the same queries with
  * `count()`, the action the program's own bench grades. Each pass runs the queries in an order
  * drawn from the seed.
  *
  * With `--trace 1` the run also records spans around its calls into the
  * program (build, plan, exec) and Spark listener counters, and its warm
  * rounds alternate a traced and an untraced materialized pass, so the
  * tracing overhead is measured in the same JVM.
  *
  * `--mode manifest` instead runs every query of every workload twice
  * and prints each output's digest for make_manifest.py.
  *
  * The last stdout line is one JSON object; run.py turns it into the
  * benchmark's result line. */
object Main {
  private[perfbench] val json = new ObjectMapper()

  /** Set-ups per run. Only the first, in the fresh JVM, is `setup_s`;
    * the others rebuild in a warm process and are kept as detail. */
  val SetupReps = 3
  /** Warm rounds a run makes at least, however short `--seconds` is. */
  val MinWarmRounds = 2
  /** The query tail is the highest percentile with this many samples
    * beyond it. */
  val TailMinBeyond = 10

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val spec = json.readTree(new java.io.File(arg("spec")))
    val sf = arg("sf")
    val runDir = arg("run-dir")
    val cpus = arg("cpus").toInt
    val conf = spec.get("session_conf").fields().asScala
      .map(e => e.getKey -> e.getValue.asText.replace("$cpus", cpus.toString)).toMap
    val measured = spec.get("workloads").elements().asScala
      .flatMap(_.get("queries").elements().asScala.map(_.asText)).toSeq
    val deferred = spec.get("deferred").elements().asScala.filter(_.isArray)
      .flatMap(_.elements().asScala.map(_.asText)).toSeq
    resolve(measured ++ deferred)
    arg("mode") match {
      case "manifest" =>
        manifest((measured ++ deferred).distinct.sorted, conf, cpus, sf, runDir)
      case "run" =>
        val name = arg("workload")
        val wl = Option(spec.get("workloads").get(name))
          .getOrElse(sys.error(s"unknown workload '$name'"))
        val queries = wl.get("queries").elements().asScala.map(_.asText).toVector
        val digests = json.readTree(new java.io.File(arg("manifest"))).get("queries")
        val expected = queries.map(q => q -> Option(digests.get(q)).map(_.get("digest").asText)).toMap
        val noDigest = expected.collect { case (q, None) => q }
        if (noDigest.nonEmpty) sys.error(s"manifest has no digest for: ${noDigest.mkString(", ")}")
        new Run(queries, expected.map { case (q, d) => q -> d.get }, conf, cpus, sf, runDir,
          arg("seed").toLong, arg("seconds").toDouble, arg("trace") == "1").execute()
      case m => sys.error(s"unknown mode '$m'")
    }
  }

  /** Resolve names against the registry, failing loudly on any name it
    * no longer has, so a rename can never silently shrink a workload. */
  def resolve(queries: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val registry = graft.SparkEntry.queries
    val missing = queries.filterNot(registry.contains)
    if (missing.nonEmpty)
      sys.error(s"workload names queries the registry does not have: ${missing.mkString(", ")}")
    queries.map(q => q -> registry(q))
  }

  def session(conf: Map[String, String], cpus: Int, runDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/tmp")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Quiet.muteKnownBenign()
    s
  }

  private def manifest(queries: Seq[String], conf: Map[String, String], cpus: Int,
                       sf: String, runDir: String): Unit = {
    val fns = resolve(queries)
    val spark = session(conf, cpus, runDir)
    def digestAll(): Map[String, Either[String, Digest.Result]] = fns.map { case (q, fn) =>
      val t0 = System.nanoTime()
      val r = try Right(Digest.of(fn(spark, sf))) catch { case NonFatal(e) => Left(String.valueOf(e)) }
      System.err.println(f"[perfbench] digest $q%s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      q -> r
    }.toMap
    val first = digestAll()
    val second = digestAll()
    val out = json.createObjectNode()
    for ((q, _) <- fns) {
      val o = out.putObject(q)
      (first(q), second(q)) match {
        case (Right(a), Right(b)) =>
          o.put("rows", a.rows).put("digest", a.digest).put("stable", a == b)
        case (a, b) =>
          o.put("error", a.left.toOption.orElse(b.left.toOption).get)
      }
    }
    println(json.writeValueAsString(out))
    spark.stop()
  }
}

/** One benchmark run of one workload. */
final class Run(queries: Vector[String], expected: Map[String, String],
                conf: Map[String, String], cpus: Int, sf: String, runDir: String,
                seed: Long, seconds: Double, traced: Boolean) {
  import Main.{json, MinWarmRounds, SetupReps, TailMinBeyond}
  private val fns = Main.resolve(queries).toMap
  private var spark: SparkSession = _
  private var attempted, failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val spans = new Spans
  private val exec = new ExecStats
  private val stream = new StreamStats
  private var passIndex = 0
  private val plannedQes = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private val moduleOf: Map[String, String] = Seq(
    "etl.medallion" -> graft.etl.Medallion.defs, "ops.relational" -> graft.ops.Relational.defs,
    "ops.text" -> graft.ops.TextOps.defs, "ops.vector" -> graft.ops.VectorOps.defs,
    "ops.events" -> graft.ops.EventsOps.defs, "streaming" -> graft.streaming.StreamQueries.defs,
    "sources" -> graft.sources.SourceQueries.defs,
  ).flatMap { case (m, defs) => defs.keys.map(_ -> m) }.toMap
  private val drains = queries.filter(moduleOf.get(_).contains("streaming")).toSet

  private def now() = System.nanoTime()
  private def secs(t0: Long) = (now() - t0) / 1e9
  private def gc() = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => (b.getCollectionTime, b.getCollectionCount))
    .foldLeft((0L, 0L)) { case ((t, c), (bt, bc)) => (t + math.max(bt, 0), c + math.max(bc, 0)) }

  /** Per-query record of one traced pass. */
  private case class QTrace(build: Double, plan: Double, wall: Double,
                            phasesMs: Map[String, Long], coverage: Double)

  /** Per-pass result: wall, per-query seconds, traces, memo builds. */
  private case class Pass(wall: Double, perQuery: Map[String, Double],
                          traces: Map[String, QTrace], memoBuilds: Int)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One pass over the workload in this pass's seeded order. */
  private def pass(action: (String, DataFrame) => Unit, trace: Boolean): Pass = {
    val order = Stats.order(queries, seed, passIndex)
    passIndex += 1
    val memoBefore = graft.SessionMemo.buildTimes(spark).size
    val perQuery = mutable.Map.empty[String, Double]
    val traces = mutable.Map.empty[String, QTrace]
    val t0 = now()
    for (q <- order) {
      attempted += 1
      spark.sparkContext.setJobDescription(q)
      val tq = now()
      try {
        if (trace) {
          val n0 = spans.all.length
          var phases = Map.empty[String, Long]
          spans(q, "query") {
            val df = spans(q, "build")(fns(q)(spark, sf))
            val qe = df.queryExecution
            spans(q, "plan")(qe.executedPlan)
            // a memoized frame returns the plan built in an earlier pass; its
            // tracker then spans both passes, and this pass planned nothing
            if (plannedQes.add(qe))
              phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
            spans(q, "exec")(action(q, df))
          }
          val mine = spans.all.drop(n0)
          def d(n: String) = mine.filter(_.name == n).map(_.seconds).sum
          val root = mine.find(_.name == "query").get
          traces(q) = QTrace(d("build"), d("plan"), root.seconds, phases,
            Stats.coverage(root, mine.toSeq))
        } else action(q, fns(q)(spark, sf))
        perQuery(q) = secs(tq)
      } catch {
        case NonFatal(e) =>
          failed += 1
          failures += s"$q: ${String.valueOf(e).take(300)}"
          System.err.println(s"[perfbench] $q failed: $e")
      } finally spark.sparkContext.setJobDescription(null)
    }
    Pass(secs(t0), perQuery.toMap, traces.toMap,
      graft.SessionMemo.buildTimes(spark).size - memoBefore)
  }

  private def check(q: String, df: DataFrame): Unit = {
    val got = Digest.of(df).digest
    if (got != expected(q))
      throw new IllegalStateException(s"output digest $got differs from the manifest's ${expected(q)}")
  }

  def execute(): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    // set-up; the repeats rebuild in a warm JVM, and the last session is kept
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = now()
      spark = Main.session(conf, cpus, runDir)
      val sessionS = secs(t0)
      val t1 = now()
      graft.Tables.schemas.keys.toSeq.sorted.foreach(t => graft.Tables.read(spark, sf, t).count())
      (sessionS + secs(t1), sessionS, secs(t1))
    }
    if (traced) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
    }
    val memoAfterSetup = graft.SessionMemo.buildTimes(spark).keySet
    def codegen() = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getSnapshot.getMean)
    val cg0 = codegen()
    val cold = pass((_, df) => noop(df), traced)
    val cg1 = codegen()
    val memoCold = graft.SessionMemo.buildTimes(spark).filter { case (k, _) => !memoAfterSetup(k) }
    // untimed: the digest check, then one pass of each timed action, so
    // the timed passes run after the JIT has settled on their code (the
    // first warm pass ran up to 1.5x slower); count()'s pruned plans also
    // compile code of their own
    val settle = Seq(pass(check, trace = false), pass((_, df) => noop(df), trace = false)) ++
      (if (traced) None else Some(pass((_, df) => { df.count(); () }, trace = false)))
    if (traced) { exec.sync(spark); stream.sync(); exec.take(); stream.take() }

    // warm rounds
    val warm, count, plain = mutable.ArrayBuffer.empty[Pass]
    case class Layer(wall: Double, exec: ExecStats.Totals, out: Map[String, Long],
                     batches: Seq[StreamStats#Batch], gcMs: Long, gcCount: Long, compiles: Long)
    val layers = mutable.ArrayBuffer.empty[Layer]
    val tw = now()
    while (warm.length < MinWarmRounds || secs(tw) < seconds) {
      if (traced) {
        // the untraced twin runs first in every other round, so neither
        // side always takes the round's first pass
        val untracedFirst = warm.length % 2 == 1
        def untraced(): Unit = {
          // without the task listener; the streaming listener stays and
          // its batches are discarded before the next traced pass
          spark.sparkContext.removeSparkListener(exec)
          plain += pass((_, df) => noop(df), trace = false)
          spark.sparkContext.addSparkListener(exec)
        }
        if (untracedFirst) untraced()
        exec.sync(spark); stream.sync(); exec.take(); stream.take()
        val (g0, c0) = gc()
        val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val p = pass((_, df) => noop(df), trace = true)
        val k1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val (g1, c1) = gc()
        exec.sync(spark); stream.sync()
        val (totals, out) = exec.take()
        layers += Layer(p.wall, totals, out, stream.take(), g1 - g0, c1 - c0, k1 - k0)
        warm += p
        if (!untracedFirst) untraced()
      } else {
        warm += pass((_, df) => noop(df), trace = false)
        count += pass((_, df) => { df.count(); () }, trace = false)
      }
    }
    val warmS = secs(tw)
    if (traced) spark.streams.removeListener(stream)

    // each full GC lets the ContextCleaner drop blocks of frames that
    // died, which the next GC then frees
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val memoEntries = graft.SessionMemo.buildTimes(spark).size

    // end-to-end metrics
    val med = Stats.median _
    val samples = warm.take(MinWarmRounds).flatMap(p => queries.flatMap(p.perQuery.get)).toSeq
    val tailP = Stats.tailPercentile(samples.length, TailMinBeyond)
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    // what a fresh process pays; a warm rebuild would hide JVM-wide caches
    e2e("setup_s") = (setups.head._1, "s", 1)
    e2e("cold_s") = (cold.wall, "s", 1)
    e2e("warm_s") = (med(warm.map(_.wall).toSeq), "s", warm.length)
    if (!traced) e2e("count_s") = (med(count.map(_.wall).toSeq), "s", count.length)
    if (samples.nonEmpty) e2e("query_p50_s") = (med(samples), "s", samples.length)
    e2e("retained_heap_mb") = (heapMb, "MiB", 1)

    // per-layer metrics (traced runs): per warm pass means unless named
    val layer = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    if (traced) {
      val n = layers.length
      def mean(f: Layer => Double) = layers.map(f).sum / n
      def perPass(name: String, unit: String)(f: Layer => Double) = layer(name) = (mean(f), unit, n)
      val tr = warm.flatMap(_.traces).toSeq
      def trMean(f: ((String, QTrace)) => Double) = tr.map(f).sum / n
      val mb = 1048576.0
      layer("tables.resolve_s") = (setups.head._3, "s", 1)
      perPass("tables.input_mb", "MiB")(_.exec.inputBytes / mb)
      perPass("tables.input_rows", "count")(_.exec.inputRows.toDouble)
      val sources = queries.filter(moduleOf.get(_).contains("sources")).toSet
      perPass("sources.output_mb", "MiB")(l => l.out.filter(e => sources(e._1)).values.sum / mb)
      for ((ph, nm) <- Seq("analysis" -> "analysis_ms", "optimization" -> "optimization_ms",
                           "planning" -> "planning_ms"))
        layer(s"catalyst.$nm") = (trMean(_._2.phasesMs.getOrElse(ph, 0L).toDouble), "ms", n)
      layer("catalyst.build_s") = (trMean { case (q, t) => if (drains(q)) 0.0 else t.build }, "s", n)
      layer("catalyst.plan_s") = (trMean(_._2.plan), "s", n)
      val compiles = cg1._1 - cg0._1
      layer("codegen.compiles") = (compiles.toDouble, "count", 1)
      layer("codegen.compile_s") = (compiles * cg1._2 / 1000.0, "s-est", 1)
      layer("codegen.class_kb") = ((cg1._3 - cg0._3) * cg1._4 / 1024.0, "KiB-est", 1)
      perPass("codegen.warm_compiles", "count")(_.compiles.toDouble)
      perPass("exec.jobs", "count")(_.exec.jobs.toDouble)
      perPass("exec.stages", "count")(_.exec.stages.toDouble)
      perPass("exec.tasks", "count")(_.exec.tasks.toDouble)
      perPass("exec.failed_tasks", "count")(_.exec.failedTasks.toDouble)
      perPass("exec.task_run_s", "s")(_.exec.runMs / 1000.0)
      perPass("exec.task_cpu_s", "s")(_.exec.cpuNs / 1e9)
      perPass("exec.gc_s", "s")(_.exec.gcMs / 1000.0)
      perPass("exec.busy_frac", "ratio")(l => l.exec.runMs / 1000.0 / (l.wall * cpus))
      perPass("exec.cpu_frac", "ratio")(l =>
        if (l.exec.runMs == 0) 0.0 else l.exec.cpuNs / 1e6 / l.exec.runMs)
      perPass("exec.shuffle_write_mb", "MiB")(_.exec.shuffleWrite / mb)
      perPass("exec.shuffle_read_mb", "MiB")(_.exec.shuffleRead / mb)
      perPass("exec.spill_mb", "MiB")(_.exec.spill / mb)
      layer("exec.peak_exec_mem_mb") = (layers.map(_.exec.peakExecMem).max / mb, "MiB", n)
      layer("memo.builds") = (memoCold.size.toDouble, "count", 1)
      layer("memo.build_s") = (memoCold.values.sum, "s", 1)
      layer("memo.entries") = (memoEntries.toDouble, "count", 1)
      layer("memo.warm_builds") = ((warm ++ plain).map(_.memoBuilds).max.toDouble, "count", warm.length + plain.length)
      val batches = layers.flatMap(_.batches).toSeq
      def bMed(f: StreamStats#Batch => Long) =
        if (batches.isEmpty) 0.0 else med(batches.map(b => f(b).toDouble))
      perPass("streaming.batches", "count")(_.batches.length.toDouble)
      layer("streaming.state_rows") = (if (batches.isEmpty) 0.0 else batches.map(_.stateRows).max.toDouble, "count", batches.length)
      for ((nm, f) <- Seq[(String, StreamStats#Batch => Long)](
             "trigger_ms" -> (_.trigger), "add_batch_ms" -> (_.addBatch),
             "planning_ms" -> (_.planning), "offsets_ms" -> (_.offsets),
             "wal_commit_ms" -> (_.walCommit), "state_commit_ms" -> (_.stateCommit)))
        layer(s"streaming.$nm") = (bMed(f), "ms", batches.length)
      layer("streaming.state_mem_mb") = (if (batches.isEmpty) 0.0 else batches.map(_.stateMem).max / mb, "MiB", batches.length)
      layer("streaming.harness_s") = (trMean { case (q, t) => if (drains(q)) t.wall else 0.0 } -
        batches.map(_.trigger).sum / 1000.0 / n, "s", n)
      for (m <- Seq("etl.medallion", "ops.relational", "ops.text", "ops.vector", "ops.events",
                    "streaming", "sources"))
        layer(s"$m.s") = (trMean { case (q, t) => if (moduleOf.get(q).contains(m)) t.wall else 0.0 }, "s", n)
      perPass("jvm.gc_s", "s")(_.gcMs / 1000.0)
      perPass("jvm.gc_count", "count")(_.gcCount.toDouble)
      layer("trace.min_coverage") = (if (tr.isEmpty) 0.0 else tr.map(_._2.coverage).min, "ratio", tr.length)
      layer("trace.overhead_frac") =
        (med(warm.map(_.wall).toSeq) / med(plain.map(_.wall).toSeq) - 1, "ratio", plain.length)
      layer("trace.untraced_warm_s") = (med(plain.map(_.wall).toSeq), "s", plain.length)
    }

    def metricsJson(m: mutable.LinkedHashMap[String, (Double, String, Int)]) = {
      val o = json.createObjectNode()
      m.foreach { case (k, (v, u, n)) => o.putObject(k).put("value", v).put("unit", u).put("n", n) }
      o
    }
    val out = json.createObjectNode()
    out.put("attempted", attempted).put("failed", failed)
    out.set[JsonNode]("e2e", metricsJson(e2e))
    out.set[JsonNode]("layer", metricsJson(layer))
    val d = out.putObject("detail")
    d.put("boot_s", bootS)
    d.put("warm_phase_s", warmS)
    // a SessionMemo entry built after the cold pass fails the run
    d.put("warm_memo_builds", (settle ++ warm ++ count ++ plain).map(_.memoBuilds).sum)
    // the tail is reported only where the sample supports it: the highest
    // percentile with at least TailMinBeyond samples beyond it
    val tail = d.putObject("query_tail").put("n", samples.length).put("min_beyond", TailMinBeyond)
    tailP match {
      case Some(p) => tail.put("percentile", s"p$p").put("value", Stats.quantile(samples, p / 100.0))
      case None => tail.put("percentile", "none").putNull("value")
    }
    d.put("spark_version", spark.version)
    val setupArr = d.putArray("setup")
    setups.foreach { case (a, b, c) =>
      setupArr.addObject().put("total_s", a).put("session_s", b).put("tables_s", c) }
    d.putArray("failures").addAll(failures.map(f => json.getNodeFactory.textNode(f)).asJava)
    val memo = d.putObject("memo_cold_builds")
    memoCold.toSeq.sortBy(_._1).foreach { case (k, v) => memo.put(k, v) }
    def passJson(p: Pass) = {
      val o = json.createObjectNode().put("wall_s", p.wall).put("memo_builds", p.memoBuilds)
      val q = o.putObject("queries")
      p.perQuery.toSeq.sortBy(_._1).foreach { case (k, v) => q.put(k, v) }
      if (p.traces.nonEmpty) {
        val ph = o.putObject("catalyst_phases_ms")
        p.traces.toSeq.sortBy(_._1).foreach { case (k, t) =>
          val e = ph.putObject(k)
          t.phasesMs.foreach { case (n, v) => e.put(n, v) }
        }
      }
      o
    }
    d.set[JsonNode]("cold", passJson(cold))
    d.putArray("warm").addAll(warm.map(passJson).asJava)
    d.putArray("count").addAll(count.map(passJson).asJava)
    d.putArray("untraced_warm").addAll(plain.map(passJson).asJava)
    if (traced) {
      val sp = d.putArray("spans")
      spans.all.foreach(s => sp.addObject().put("id", s.id).put("parent", s.parent)
        .put("query", s.query).put("name", s.name).put("start_ns", s.startNs).put("end_ns", s.endNs))
    }
    spark.stop()
    println(json.writeValueAsString(out))
  }
}
