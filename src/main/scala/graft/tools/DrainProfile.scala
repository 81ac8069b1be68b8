package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Per-micro-batch profiler for the `q_stream_*` drains — the
  * diagnostic behind the drain-variance investigation (r14): the
  * graded drain numbers showed 2-4× run-to-run spread at identical
  * code with clean CPU calibration probes, so the question is WHICH
  * phase of WHICH micro-batch absorbs the slow runs. A listener
  * captures every progress and prints, per batch: total
  * triggerExecution, the addBatch/commitOffsets/latestOffset splits,
  * and each state operator's commit time and row counts.
  *
  * `sbt "runMain graft.tools.DrainProfile q_stream_join 3"` — run the
  * named drain 3 times at SPARK_GRAFT_SF_DIR (default sf0.1),
  * printing one line per (run, batch).
  */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val drain = args.headOption.getOrElse("q_stream_join")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkEntry.localSession(cpus)
      // A/B knob for the drain-variance investigation: every fresh
      // checkpoint leaves the PRIOR invocation's store providers
      // loaded until the maintenance tick (default 60s) snapshots and
      // unloads them — a drain overlapping a tick pays for dead
      // providers' snapshot I/O. SPARK_GRAFT_MAINT=1h effectively
      // disables mid-run maintenance for comparison.
      .config("spark.sql.streaming.stateStore.maintenanceInterval",
        sys.env.getOrElse("SPARK_GRAFT_MAINT", "60s"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Quiet.muteKnownBenign()
    val progresses = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progresses.add(e.progress); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    (1 to reps).foreach { rep =>
      progresses.clear()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(drain)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // listener bus drain
      import scala.jdk.CollectionConverters._
      val ps = progresses.asScala.toSeq
      println(f"== run $rep: $drain wall ${wall}%.2f s, ${ps.size} progress events")
      ps.foreach { p =>
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.toString).getOrElse("-")
        val states = p.stateOperators.map(so =>
          s"rows=${so.numRowsTotal} commit=${so.allUpdatesTimeMs}+${so.commitTimeMs}ms")
          .mkString(" | ")
        println(s"  batch ${p.batchId}: rows=${p.numInputRows} " +
          s"trigger=${ms("triggerExecution")}ms addBatch=${ms("addBatch")}ms " +
          s"latestOffset=${ms("latestOffset")}ms commitOffsets=${ms("commitOffsets")}ms " +
          s"state[$states]")
      }
    }
    spark.stop()
  }
}
