package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Where does a sub-0.5 s query's wall time go? (r20, verdict ask #1:
  * ~170 sub-0.5 s queries sum to ~30 s of core_sec, and the 8-core
  * leg beating the 32-core leg proves the suite is overhead-bound.)
  * For each named query, after a warmup run, this times `reps`
  * executions and splits each into:
  *  - plan_ms: DataFrame construction + analysis + optimization +
  *    physical planning (forcing `executedPlan`), driver-side;
  *  - exec_ms: the `count()` action (all jobs, incl. AQE stage jobs);
  * and reports jobs/stages/tasks counted by a listener plus the sum
  * of in-task execution time — the difference between exec_ms and
  * (task time / parallelism) is scheduling + stage-barrier overhead.
  *
  * Usage: runMain graft.tools.TailProfile q_a,q_b [reps]
  */
object TailProfile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(Seq("q_sql_q4"))
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.muteKnownBenign()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
        ()
      }
    })
    // resolve tables once (session setup, as Bench does)
    graft.Tables.schemas.keys.foreach { t =>
      try graft.Tables.read(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"$name WARMUP FAILED: ${e.getMessage}") }
      (1 to reps).foreach { rep =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan // force full planning
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        Thread.sleep(120) // listener bus drain
        println(f"$name rep$rep: plan ${(t1 - t0) / 1e6}%.0f ms, " +
          f"exec ${(t2 - t1) / 1e6}%.0f ms, jobs=${jobs.get()} " +
          f"stages=${stages.get()} tasks=${tasks.get()} " +
          f"taskSum=${taskMs.get()} ms (plan nodes ${plan.toString.linesIterator.size})")
      }
    }
    spark.stop()
  }
}
