package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Counters the traced run collects from Spark's public listener APIs.
  * Listener callbacks arrive on Spark's bus threads, so every update
  * and read holds the object's lock. */
final class ExecStats extends SparkListener {
  import ExecStats.Totals
  val fence = "perfbench-fence"
  private val jobDesc = mutable.Map.empty[Int, String]
  private val stageDesc = mutable.Map.empty[Int, String]
  private var fencesSeen = 0
  private var t = Totals()
  private var outputByDesc = Map.empty[String, Long]

  /** Totals since the last call, which starts a new interval. */
  def take(): (Totals, Map[String, Long]) = synchronized {
    val r = (t, outputByDesc)
    t = Totals(); outputByDesc = Map.empty
    r
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobDesc(e.jobId) = desc
    e.stageIds.foreach(stageDesc(_) = desc)
    if (desc != fence) t = t.copy(jobs = t.jobs + 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobDesc.remove(e.jobId).contains(fence)) { fencesSeen += 1; notifyAll() }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (!stageDesc.get(e.stageInfo.stageId).contains(fence)) t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val desc = stageDesc.getOrElse(e.stageId, "")
    if (desc != fence) {
      val failed = if (e.taskInfo != null && e.taskInfo.failed) 1 else 0
      val m = e.taskMetrics
      t = if (m == null) t.copy(tasks = t.tasks + 1, failedTasks = t.failedTasks + failed)
      else {
        outputByDesc = outputByDesc.updated(desc,
          outputByDesc.getOrElse(desc, 0L) + m.outputMetrics.bytesWritten)
        Totals(t.jobs, t.stages, t.tasks + 1, t.failedTasks + failed,
          t.runMs + m.executorRunTime, t.cpuNs + m.executorCpuTime, t.gcMs + m.jvmGCTime,
          t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          t.spill + m.diskBytesSpilled,
          t.inputBytes + m.inputMetrics.bytesRead, t.inputRows + m.inputMetrics.recordsRead,
          math.max(t.peakExecMem, m.peakExecutionMemory))
      }
    }
  }

  /** Run a one-task job and wait until its end event has been delivered
    * here. The bus delivers events in order, so every event of the work
    * before the fence has then been counted. */
  def sync(spark: org.apache.spark.sql.SparkSession): Unit = {
    val target = synchronized(fencesSeen) + 1
    val sc = spark.sparkContext
    sc.setJobDescription(fence)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    synchronized {
      val deadline = System.nanoTime() + 30000000000L
      while (fencesSeen < target && System.nanoTime() < deadline) wait(100)
      require(fencesSeen >= target, "listener bus did not deliver the fence job within 30 s")
    }
  }
}

object ExecStats {
  case class Totals(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, failedTasks: Long = 0,
                    runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
                    inputBytes: Long = 0, inputRows: Long = 0, peakExecMem: Long = 0)
}

/** Micro-batch progress of every streaming query in the session. */
final class StreamStats extends StreamingQueryListener {
  import StreamingQueryListener._
  case class Batch(trigger: Long, addBatch: Long, planning: Long, offsets: Long,
                   walCommit: Long, stateCommit: Long, stateRows: Long, stateMem: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var started, terminated = 0

  private def ms(p: java.util.Map[String, java.lang.Long], k: String): Long =
    Option(p.get(k)).map(_.longValue).getOrElse(0L)

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized { started += 1 }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    synchronized { terminated += 1; notifyAll() }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    val ops = p.stateOperators.toSeq
    batches += Batch(ms(d, "triggerExecution"), ms(d, "addBatch"), ms(d, "queryPlanning"),
      ms(d, "latestOffset") + ms(d, "getBatch"), ms(d, "walCommit") + ms(d, "commitOffsets"),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
  }

  /** Batches since the last call, which starts a new interval. */
  def take(): Seq[Batch] = synchronized {
    val r = batches.toList
    batches.clear()
    r
  }

  /** Wait until every started query's termination has been delivered;
    * its progress events come before it on the bus. */
  def sync(): Unit = synchronized {
    val deadline = System.nanoTime() + 30000000000L
    while (terminated < started && System.nanoTime() < deadline) wait(100)
    require(terminated >= started, "streaming listener bus did not drain within 30 s")
  }
}

/** Spans recorded by the harness around its own calls into the program. */
final class Spans {
  import Stats.Span
  val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Long)]

  def apply[T](query: String, name: String)(body: => T): T = {
    val id = all.length + open.length
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, query, name, System.nanoTime()) :: open
    try body finally {
      val (_, q, n, t0) = open.head
      open = open.tail
      all += Span(id, parent, q, n, t0, System.nanoTime())
    }
  }
}
