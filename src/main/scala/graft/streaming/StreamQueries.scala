package graft.streaming

import graft.{Q, Tables}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}

/** The graded Structured Streaming drains: each `q_stream_*` query runs
  * one stateful or stateless `StreamingDemo` operator end to end with
  * `Trigger.AvailableNow` over staged parquet files, and its drained
  * output sits under the same DuckDB hash gate as the batch queries.
  * Every drain is the same chain:
  *  1. staging — [[stageFiles]] writes the corpus slices once per
  *     (session, dataset), one file each, with increasing mtimes;
  *  2. the drain — a [[Drain]] wipes its sink and checkpoint, runs the
  *     query through [[runDrain]] into the idempotent `batch_id=<id>`
  *     ledger of [[StreamingDemo.startPartitionedBatchSink]];
  *  3. the claims — [[Drain.claims]] requires >= 2 emitting
  *     micro-batches (a one-batch drain would grade only the case
  *     where per-batch state IS the final answer), plus each drain's
  *     own checks, all failing with the drain's name.
  *
  * Determinism: a fresh checkpoint and an empty ledger per call make
  * every run a full re-drain with batch ids from 0 (a stale `batch_id`
  * partition from a differently split run would otherwise be read
  * back), and every graded value is an integer or a decimal sum, so
  * merging partials across any batch split is exact. */
object StreamQueries {

  /** Run one AvailableNow drain: `start` the query under the drain
    * session settings, wait for it to finish (bounded, so a wedged
    * stream fails this query by name instead of hanging a whole
    * Verify/Bench run), then put the caller's conf back exactly as it
    * was. A key the caller had set gets its value back; a key it had
    * not set is unset again, so restoring never turns a default into
    * an explicit setting. A stream copies its session's conf at
    * `start()`, so every setting reaches the query's offset and commit
    * logs and its state stores. The settings:
    *  - `spark.sql.shuffle.partitions` = 4. A stateful operator keeps
    *    one state store per shuffle partition (a stream-stream join
    *    keeps four), each committed every micro-batch, so the session's
    *    own partition count would be pure per-batch overhead on
    *    corpus-sized drains. Every drained result is partition-count
    *    invariant, so the setting is cost-only, and checkpoints are
    *    fresh per run, so it never meets a resumed state layout. At
    *    100 TB the same knob goes the other way: size state partitions
    *    to the key volume.
    *  - `spark.sql.streaming.checkpointFileManagerClass` =
    *    [[LocalCheckpointFileManager]]. A micro-batch's flat floor was
    *    checkpoint file I/O: on a host without libhadoop, Spark's
    *    default manager forks a `chmod` or `readlink` process for every
    *    file it creates or renames — offsets, commits, state deltas and
    *    their checksum sidecars — which made the state-store commit
    *    most of every trigger whatever the row count. Non-`file:`
    *    checkpoints still go through Spark's default manager.
    *  - `extra`: a drain's own settings (state-store provider, no-data
    *    batches). */
  private def runDrain(s: SparkSession, name: String, extra: (String, String)*)(
      start: => StreamingQuery): Unit = {
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        classOf[LocalCheckpointFileManager].getName) ++ extra
    val before = s.conf.getAll
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val q = start
      if (!q.awaitTermination(300000L)) {
        q.stop()
        throw new IllegalStateException(
          s"$name: AvailableNow drain did not terminate within 300 s — " +
            "the file-stream source is wedged; see the query's progress: " +
            s"${q.lastProgress}")
      }
    } finally {
      scoped.foreach { case (k, _) =>
        before.get(k) match {
          case Some(v) => s.conf.set(k, v)
          case None => s.conf.unset(k)
        }
      }
      // Every checkpoint in this JVM is dead once the drain's
      // AvailableNow run terminates (fresh checkpoint per invocation,
      // drains strictly sequential), yet its state-store providers
      // stay registered, each HDFS-backed provider pinning its loaded
      // version maps, until a maintenance tick unloads them. With the
      // default 60 s tick a later drain randomly pays for snapshotting
      // dead checkpoints; with a long tick dead providers accumulate
      // (6 fresh q_stream_sessions runs in one JVM at sf0.1 climbed
      // 11 → 45 → 58 s). Unloading here makes drain cost independent
      // of both the maintenance schedule and the JVM's history, the
      // production condition of a job that holds live providers only.
      // A live query elsewhere merely reloads from its checkpoint on
      // its next batch, so this is never a correctness knob.
      org.apache.spark.sql.graft.Bridge.unloadAllStateStores()
    }
  }

  /** One graded drain, named once: its sink and checkpoint live under
    * `tmpBase` for that name and are wiped here, and every failure it
    * raises names it. `conf` is the drain's own [[runDrain]] settings. */
  private[graft] final class Drain(s: SparkSession, name: String, d: String,
                                   conf: (String, String)*) {
    private val base = tmpBase(s"graft_${name.stripPrefix("q_")}_", d)
    val sink: String = base.resolve("sink").toString
    val ckpt: String = base.resolve("ckpt").toString
    rmRf(base.resolve("ckpt")); rmRf(base.resolve("sink"))

    def run(start: => StreamingQuery): Unit = runDrain(s, name, conf: _*)(start)

    /** Drain `out` into the `batch_id=<id>` ledger at [[sink]] (every
      * micro-batch leaves its partition, empty batches included) and
      * return the ledger. */
    def ledger(out: DataFrame, outputMode: String = "append"): DataFrame = {
      run(StreamingDemo.startPartitionedBatchSink(
        out, sink, Some(ckpt), outputMode, availableNow = true))
      s.read.parquet(sink)
    }

    /** The shared claim, in one job with the drain's own aggregates
      * `more`: rows of `ledger` were emitted in >= 2 distinct
      * micro-batches. Returns the row (distinct batch count first). */
    def claims(ledger: DataFrame, more: Column*): Row = {
      val r = ledger.agg(countDistinct(col("batch_id")), more: _*).head
      check(r.getLong(0) >= 2, s"emitted in ${r.getLong(0)} micro-batch(es) " +
        "— the graded cross-batch claim needs >= 2; check the staged file " +
        "count vs maxFilesPerTrigger")
      r
    }

    def check(ok: Boolean, failure: => String): Unit =
      if (!ok) throw new IllegalStateException(s"$name: $failure")
  }

  /** Per-JVM tmpdir base for a drain's staging/sink/checkpoint tree,
    * keyed on (prefix, dataset path, process pid). Every invocation
    * wipes its sink and checkpoint, so two JVMs on one dataset (a
    * Verify beside a Bench) must never share a tree; the pid suffix
    * gives each process its own, and within a process the
    * session-memoized staging reuses one tree.
    *
    * Lifecycle: `/tmp` survives for the host's uptime, so every created
    * base is recorded and a JVM shutdown hook rmRf's them on normal
    * exit; trees orphaned by a crashed process are swept at first use
    * by any later graft JVM — a `graft_stream_*_p<pid>` tree whose pid
    * is no longer alive belongs to no running drain, so deleting it can
    * never race an in-flight run. */
  private val createdBases =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val tmpLifecycle: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      createdBases.forEach(p =>
        try rmRf(p) catch { case _: Exception => () })))
    // sweep BOTH the configured root and the JVM default: a crashed
    // run under the RAM-backed override must not orphan trees that a
    // later default-root process would never look at (and vice versa)
    (Set(streamTmpRoot, sys.props("java.io.tmpdir")))
      .foreach(r => sweepStaleTrees(Paths.get(r)))
  }

  /** Sweep `graft_stream_*_p<pid>` trees whose owning pid is no
    * longer alive. A foreign entry with an empty, non-digit or >Long
    * pid suffix is ignored, and the whole sweep is try-wrapped: tmp
    * hygiene must never take down a drain. A crash orphan whose pid
    * the OS has since given to an unrelated live process is kept —
    * liveness is read as ownership, so deleting never races an
    * in-flight drain; it is swept once that pid dies. */
  private[graft] def sweepStaleTrees(tmp: Path): Unit =
    try {
      val stale = Files.list(tmp)
      try stale.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_stream_") && {
          val i = n.lastIndexOf("_p")
          i > 0 && {
            val pid = n.drop(i + 2)
            pid.nonEmpty && pid.forall(_.isDigit) &&
              pid.toLongOption.exists(pl =>
                ProcessHandle.of(pl).map[Boolean](_ => false).orElse(true))
          }
        }
      }.forEach(p => try rmRf(p) catch { case _: Exception => () })
      finally stale.close()
    } catch { case _: Exception => () }

  /** Root for the per-drain trees. `SPARK_GRAFT_STREAM_TMP` (env) or
    * `graft.stream.tmp` (sysprop, set by Bench) overrides
    * `java.io.tmpdir`. Where /tmp is disk-backed, every state-store
    * commit's rename+fsync shares a device with the build, spill and
    * the OS writeback queue, and identical drains measured 2.2 vs
    * 9.2 s across passes; a RAM-backed root (/dev/shm) removes that
    * coupling (at cluster scale: a dedicated checkpoint volume).
    * Correctness is indifferent — every drain wipes and re-creates its
    * tree wherever it lives. */
  private[graft] def streamTmpRoot: String =
    sys.props.get("graft.stream.tmp")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_TMP"))
      .getOrElse(sys.props("java.io.tmpdir"))

  /** `private[graft]`: the format round-trip sinks (SourceQueries,
    * Medallion's gold mart) share this lifecycle — pid suffix,
    * shutdown hook and stale-tree sweep — so their trees are neither
    * orphaned on a RAM-backed root nor shared between two JVMs. */
  private[graft] def tmpBase(prefix: String, d: String): Path = {
    tmpLifecycle
    val base = Paths.get(
      streamTmpRoot,
      prefix + d.replaceAll("[^A-Za-z0-9.]", "_") +
        "_p" + ProcessHandle.current().pid())
    createdBases.add(base)
    base
  }

  private[graft] def rmRf(root: Path): Unit =
    if (Files.exists(root)) {
      val stream = Files.walk(root)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally stream.close()
    }

  /** Stage `slices` as `slice_<i>.parquet` under `staging`, one file
    * each, once per (session, `memoKey`): staging is setup, a pure
    * function of the corpus, so graded samples time the drain, not a
    * parquet copy. The mtimes increase a minute apart in slice order
    * and the file source (latestFirst=false) reads oldest first, so
    * slice i is consumed no later than slice i + 1 however
    * maxFilesPerTrigger groups them — the order discipline a
    * time-ordered source (Kafka partition order, time-partitioned
    * landing dirs) gives a production stream. */
  private def stageFiles(s: SparkSession, memoKey: String, staging: Path,
                         slices: => Seq[DataFrame]): String = {
    graft.SessionMemo.oncePerSession(s, memoKey) {
      rmRf(staging)
      Files.createDirectories(staging)
      val tmp = staging.resolveSibling(s"${staging.getFileName}_tmp")
      val mtime0 = System.currentTimeMillis() - 3600000L
      slices.zipWithIndex.foreach { case (slice, i) =>
        slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val files = Files.list(tmp)
        val part = try files.filter(_.getFileName.toString.endsWith(".parquet"))
          .findFirst().orElseThrow()
        finally files.close()
        val dest = staging.resolve(s"slice_$i.parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest, FileTime.fromMillis(mtime0 + i * 60000L))
        rmRf(tmp)
      }
    }
    staging.toString
  }

  private def stagingDir(name: String, d: String): Path =
    tmpBase("graft_stream_staging_", d).resolve(name)

  /** Columns of every staged events file. One schema keeps `readStream`
    * independent of the corpus' physical ts unit (ns vs µs across
    * testdata generations, see [[graft.Tables.readEvents]]): the
    * staged copy went through the batch reader that handles it. */
  private val stagedEvents = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** A file stream over the staged `files`, projected to `cols`. */
  private def staged(s: SparkSession, staging: String, perTrigger: Int,
                     files: String, cols: String*): DataFrame =
    s.readStream.schema(StructType(cols.map(stagedEvents(_))))
      .option("maxFilesPerTrigger", perTrigger.toLong)
      .option("pathGlobFilter", files)
      .parquet(staging)

  /** The events corpus as slices 0–3, four time-contiguous quarters,
    * plus slice 4, one far-future SENTINEL row. Per-user sequences
    * (transitions) must not interleave across batches, so the quarters
    * are time ranges; the drains whose updates are split-invariant
    * (totals_v2) merely reuse them. The sentinel is what makes
    * append-mode emission deterministic for the watermark drains: once
    * its batch's watermark (sentinel ts − delay) is committed, every
    * real window and session ends below it, so the final no-data
    * micro-batch closes and emits them ALL — otherwise those inside
    * the last `delay` of the corpus would stay open and the result
    * would depend on where the corpus ends. Its own window never
    * closes, and its pseudo-user −1 is filtered defensively anyway. */
  private def eventsStaging(s: SparkSession, d: String): String =
    stageFiles(s, s"stream_events_staging:$d", stagingDir("events", d), {
      val ev = Tables.events(s, d).select(col("ts"), col("user_id"),
        col("event_id"), col("event_type"), col("value"))
      val us = unix_micros(col("ts"))
      val b = ev.agg(min(us), max(us)).head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      (0 until 4).map(i => ev.filter(us >= lo + (hi - lo + 1) * i / 4 &&
        us < lo + (hi - lo + 1) * (i + 1) / 4)) :+
        s.range(1).select(timestamp_micros(lit(hi + 86400000000L)).as("ts"),
          lit(-1L).as("user_id"), lit(-1L).as("event_id"),
          lit("zzz_sentinel").as("event_type"), lit(0.0).as("value"))
    })
  private val quarters = "slice_[0-3].parquet"
  private val allSlices = "slice_*.parquet"

  /** The algebraic-partials drain: the rate-spike pipeline
    * (`StreamingDemo.startRateSpikeSink` — per-micro-batch PARTIAL
    * hourly counts appended to a batch-id-partitioned ledger, spike
    * table recomputed from the merged ledger). The oracle is the batch
    * twin q_events_rate_spike's SQL, so the hash matches iff splitting
    * the events across micro-batches, partial-aggregating per batch
    * and re-merging the ledger loses nothing vs one batch pass. */
  val qStreamDrain = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_drain", d)
      // 4 files, 2 per trigger → 2 micro-batches. repartition, not
      // coalesce: the corpus may be one small file, which coalesce
      // cannot split, and a random spread puts an hour's partials in
      // both batches (counts are algebraic, so the result is
      // split-invariant by construction).
      val staging = stagingDir("drain", d).toString
      graft.SessionMemo.oncePerSession(s, s"stream_drain_staging:$d") {
        Tables.events(s, d).select(col("ts"), col("event_type"))
          .repartition(4)
          .write.mode("overwrite").parquet(staging)
      }
      drain.run(StreamingDemo.startRateSpikeSink(
        staged(s, staging, 2, "*.parquet", "ts", "event_type"),
        drain.sink, Some(drain.ckpt), availableNow = true))
      drain.claims(s.read.parquet(s"${drain.sink}/hourly_parts"))
      // parquet loses order; re-impose the batch twin's sort so the
      // frame is row-for-row the oracle's
      s.read.parquet(s"${drain.sink}/spikes")
        .orderBy(col("event_type"), col("hr"))
    },
    // the batch twin's oracle verbatim — one source of truth, so the
    // two queries can never drift apart silently
    graft.ops.EventsOps.qEventsRateSpike.oracle.get)

  /** The STATEFUL (flatMapGroupsWithState) drain:
    * `StreamingDemo.transitionPairs` carries each user's LAST event as
    * keyed state across micro-batch boundaries, so the pair straddling
    * two batches comes out of the STATE STORE, not out of any single
    * batch's data. Transition pairs depend on each user's global event
    * order, so the quarters arrive oldest first and the processor sorts
    * its bounded per-user-per-batch buffer. The emitted pairs go
    * through the batch twin's own matrix step against
    * q_event_transitions' oracle — the hash matches iff no cross-batch
    * pair was lost or duplicated. */
  val qStreamTransitions = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_transitions", d)
      val pairs = drain.ledger(StreamingDemo.transitionPairs(s, staged(s,
        eventsStaging(s, d), 2, quarters, "ts", "user_id", "event_id", "event_type")))
      drain.claims(pairs)
      graft.ops.EventsOps.transitionsFromPairs(
        pairs.select(col("from_type"), col("to_type")))
    },
    graft.ops.EventsOps.qEventTransitions.oracle.get)

  /** The v2 arbitrary-stateful-processing drain — `transformWithState`
    * with NAMED state variables on the RocksDB provider (the engine
    * requires it for v2 state; the production store once state
    * outgrows executor heap). [[StreamingDemo.DeterministicTotalsProcessor]]
    * keeps a running-totals ValueState (exact integer micro-units) and
    * a recent-3 ListState (set-merge of the newest (ts, id) events)
    * per user; both update rules are order- and split-invariant, so
    * the oracle recomputes them from the events table. The ledger
    * keeps every per-batch snapshot (update mode); the result takes
    * each user's LATEST, which reflects state carried across the
    * micro-batches. */
  val qStreamTotalsV2 = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_totals_v2", d,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val snaps = drain.ledger(StreamingDemo.runningTotalsV2Graded(s, staged(s,
        eventsStaging(s, d), 2, quarters, "ts", "user_id", "event_id", "value")),
        "update")
      drain.claims(snaps)
      // each user's LATEST snapshot: the per-user window is bounded by
      // the micro-batch count, never the corpus
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
      snaps.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("n"), col("total_micros"),
          col("recent_n"), col("recent_max"))
        .orderBy(col("user_id"))
    },
    """SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_micros,
       CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS recent_n,
       MAX(CASE WHEN rn <= 3 THEN value END) AS recent_max
       FROM (SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events) t
       GROUP BY user_id ORDER BY user_id""")

  /** The WATERMARK-APPEND drain: a tumbling-window aggregation under a
    * real watermark in APPEND mode, where the ENGINE decides when a
    * window is final — a window row is emitted exactly once, only after
    * the committed watermark passes its end, out of the state store.
    * Windows straddling a quarter boundary merge rows from two
    * micro-batches before closing, and the sentinel lets eviction emit
    * every real window. The oracle recomputes the same epoch-aligned
    * buckets; the hash matches iff the incremental, watermark-closed
    * windows equal the one-pass batch aggregation.
    *
    * 3 files per trigger over the 5 slices → batches {q0,q1,q2},
    * {q3,sentinel} and the final no-data flush (every micro-batch pays
    * a fixed checkpoint commit, so no more are run): batch 1 closes the
    * windows batch 0's watermark passed, the flush closes the rest, so
    * emissions still spread over >= 2 batches. */
  val qStreamWindowed = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_windowed", d)
      val closed = drain.ledger(StreamingDemo.windowedCountsGraded(staged(s,
        eventsStaging(s, d), 3, allSlices, "ts", "event_type", "value")))
      drain.claims(closed)
      closed.filter(col("event_type") =!= "zzz_sentinel")
        .select(col("bucket_start"), col("event_type"), col("n"),
          col("total_micros"))
        .orderBy(col("bucket_start"), col("event_type"))
    },
    """SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 AS BIGINT) AS bucket_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS total_micros
       FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type""")

  /** The SESSION-WINDOW drain — the merging-state shape: session
    * windows have DATA-DEFINED bounds, so a session straddling a
    * quarter boundary is two state entries until the engine's
    * session-merge pass fuses them, and append mode emits it once,
    * after the watermark passes its merged end. Same slices and 3/2
    * trigger split as [[qStreamWindowed]]. The oracle is the batch twin
    * q_events_session's gaps-and-islands SQL, so the hash matches iff
    * cross-batch session merging loses or double-counts nothing. */
  val qStreamSessions = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_sessions", d)
      val closed = drain.ledger(StreamingDemo.sessionCountsGraded(staged(s,
        eventsStaging(s, d), 3, allSlices, "ts", "user_id", "value")))
      drain.claims(closed)
      closed.filter(col("user_id") >= 0L) // drop the sentinel pseudo-user
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    graft.ops.EventsOps.qEventsSession.oracle.get)

  /** Slice 0 carries exactly the per-key FIRST events (min (ts,
    * event_id) per (user_id, event_type)), slices 1–2 every duplicate.
    * Within a micro-batch, which duplicate `dropDuplicates` keeps
    * depends on arrival order, so a graded hash needs each key's
    * batch-0 occurrence to BE its corpus-wide first; and with every
    * duplicate behind a batch boundary, all of the suppression is the
    * state store's doing. Two duplicate slices, not more: every
    * micro-batch pays a fixed checkpoint commit. */
  private def dedupStaging(s: SparkSession, d: String): String =
    stageFiles(s, s"stream_dedup_staging:$d", stagingDir("dedup", d), {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val ranked = Tables.events(s, d)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
      Seq(col("rn") === 1,
        col("rn") > 1 && pmod(col("rn"), lit(2)) === 0,
        col("rn") > 1 && pmod(col("rn"), lit(2)) === 1)
        .map(p => ranked.filter(p).drop("rn"))
    })

  /** The DEDUP-STATE drain — `dropDuplicatesWithinWatermark`: the state
    * store remembers every key it has passed and suppresses later
    * arrivals across micro-batch boundaries. With [[dedupStaging]] the
    * claim is total: batch 0 emits one survivor per (user_id,
    * event_type), batches 1–2 re-present every duplicate, and the store
    * must emit NOTHING for them (asserted). The watermark delay exceeds
    * the corpus span, so no key's state evicts mid-drain (in production
    * the delay bounds state size against how late a duplicate may
    * arrive). The oracle recomputes first-seen per key. */
  val qStreamDedup = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_dedup", d)
      val kept = drain.ledger(StreamingDemo.dedupFirstPerKey(staged(s,
        dedupStaging(s, d), 1, allSlices, "ts", "user_id", "event_id", "event_type"),
        "400 days", "user_id", "event_type"))
      // the duplicate batches must have RUN (each leaves a ledger
      // dir, empty or not)...
      val dirs = Files.list(Paths.get(drain.sink))
      val nBatchDirs = try dirs.filter(
        _.getFileName.toString.startsWith("batch_id=")).count()
      finally dirs.close()
      drain.check(nBatchDirs >= 3, s"only $nBatchDirs micro-batches ran — " +
        "the 3-slice staging should yield 3; check maxFilesPerTrigger")
      // ...and emitted nothing. One per-batch count job; the collect is
      // bounded by the micro-batch count, never the corpus.
      val perBatch = kept.groupBy(col("batch_id").cast("long").as("b"))
        .agg(count(lit(1)).as("n")).collect()
      drain.check(perBatch.nonEmpty, "the kept sink is empty — batch 0 " +
        "emitted no survivors; the first-events staging slice degenerated")
      val firstBatch = perBatch.map(_.getLong(0)).min
      val leaked = perBatch.collect {
        case r if r.getLong(0) > firstBatch => r.getLong(1) }.sum
      drain.check(leaked == 0,
        s"$leaked duplicate(s) escaped the dedup state in later micro-batches")
      kept.select(col("user_id"), col("event_type"),
          col("ts").cast("long").as("first_seen"))
        .orderBy(col("user_id"), col("event_type"))
    },
    """SELECT user_id, event_type,
       CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS first_seen
       FROM events GROUP BY user_id, event_type
       ORDER BY user_id, event_type""")

  /** Slice 0: every view; slices 1–2: the clicks as two time halves;
    * slice 3: one far-future sentinel per side. Every view is ingested
    * before the first click, so every joined pair must match a view
    * held in BUFFERED STATE from an earlier micro-batch. Holding the
    * clicks back evicts nothing: the global watermark is the MINIMUM
    * across sources, and the click side's stays unset until its files
    * flow. The sentinels serve the outer drain: only when BOTH sides'
    * watermarks pass every real view's window end may the engine emit
    * the unmatched views, which the final no-data batch then does. One
    * file carries both, because each source filters its own
    * event_type; the inner join never matches their negative
    * pseudo-users. */
  private def joinStaging(s: SparkSession, d: String): String =
    stageFiles(s, s"stream_join_staging:$d", stagingDir("join", d), {
      val ev = Tables.events(s, d)
        .select(col("ts"), col("user_id"), col("event_id"), col("event_type"))
        .filter(col("event_type").isin("view", "click"))
      val us = unix_micros(col("ts"))
      val b = ev.agg(min(us), max(us)).head
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val mid = lo + (hi - lo + 1) / 2
      def sentinel(tpe: String, uid: Long) = s.range(1).select(
        timestamp_micros(lit(hi + 2592000000000L)).as("ts"),
        lit(uid).as("user_id"), lit(uid).as("event_id"),
        lit(tpe).as("event_type"))
      val click = col("event_type") === "click"
      Seq(ev.filter(col("event_type") === "view"),
        ev.filter(click && us < mid), ev.filter(click && us >= mid),
        sentinel("view", -2L).unionAll(sentinel("click", -1L)))
    })

  /** One side of a join drain: every staged file in order, one per
    * trigger, filtered to `eventType`. */
  private def joinSide(s: SparkSession, staging: String, files: String,
                       eventType: String): DataFrame =
    staged(s, staging, 1, files, "ts", "user_id", "event_id", "event_type")
      .filter(col("event_type") === eventType)

  /** The STREAM-STREAM JOIN drain — the state store buffers BOTH sides:
    * an inner interval join (click within one day after the same
    * user's view). With [[joinStaging]] the claim is total: every
    * joined pair matches a view out of state buffered in an earlier
    * micro-batch, so batch 0 emits nothing (asserted). At steady state
    * the watermark plus the interval bound lets the engine evict view
    * state once no matching click can still arrive — a window's worth
    * per side, never the corpus. The oracle is a plain interval
    * self-join.
    *
    * The inner join needs neither the sentinel slice nor the trailing
    * no-data eviction batch (eviction emits nothing for an inner join,
    * and a terminating drain discards its checkpoint; a LIVE
    * deployment keeps no-data batches on, where eviction bounds state
    * size), so it reads slices 0–2 with no-data batches off: 3
    * micro-batches, views alone in batch 0, clicks across two later
    * batches. */
  val qStreamJoin = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_join", d,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      val staging = joinStaging(s, d)
      val pairs = drain.ledger(StreamingDemo.viewClickAttribution(
        joinSide(s, staging, "slice_[012].parquet", "view"),
        joinSide(s, staging, "slice_[012].parquet", "click")))
      val early = drain.claims(pairs,
        coalesce(sum(when(col("batch_id") < 1, 1L)), lit(0L))).getLong(1)
      drain.check(early == 0, s"$early pair(s) emitted before any click " +
        "file was staged — the staging's view/click ordering degenerated")
      pairs.select(col("user_id"), col("ad_id"), col("click_id"),
          col("imp_us"), col("click_us"))
        .orderBy(col("user_id"), col("ad_id"), col("click_id"))
    },
    """SELECT v.user_id, v.event_id AS ad_id, c.event_id AS click_id,
       EPOCH_US(v.ts) AS imp_us, EPOCH_US(c.ts) AS click_us
       FROM events v JOIN events c ON v.user_id = c.user_id
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 DAY
       WHERE v.event_type = 'view' AND c.event_type = 'click'
       ORDER BY v.user_id, ad_id, click_id""")

  /** The LEFT-OUTER stream-stream join drain — watermark-gated NULL
    * EMISSION: a view with no in-window click may only emit (null click
    * columns) once the global watermark, the minimum across both
    * sources, passes the view's window end. [[joinStaging]]'s sentinels
    * advance both watermarks past every real view's window, so the
    * final no-data batch flushes every unmatched view; matched pairs
    * emit earlier, in their click's batch, so rows land in >= 2
    * batches, and >= 1 null emission is asserted. Null click columns
    * are coalesced to −1 on both engines. The oracle is the batch LEFT
    * JOIN: the hash matches iff every unmatched view emitted exactly
    * once, none early, and no matched view leaked a null row. */
  val qStreamJoinOuter = Q(
    (s, d) => {
      val drain = new Drain(s, "q_stream_join_outer", d)
      val staging = joinStaging(s, d)
      val pairs = drain.ledger(StreamingDemo.viewClickAttributionOuter(
        joinSide(s, staging, allSlices, "view"),
        joinSide(s, staging, allSlices, "click")))
        .filter(col("user_id") >= 0L) // drop the sentinel pseudo-users
      val nUnmatched = drain.claims(pairs,
        coalesce(sum(when(col("click_id").isNull, 1L)), lit(0L))).getLong(1)
      drain.check(nUnmatched > 0, "no unmatched view emitted — the " +
        "watermark-gated null-emission claim is untested")
      pairs.select(col("user_id"), col("ad_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          col("imp_us"),
          coalesce(col("click_us"), lit(-1L)).as("click_us"))
        .orderBy(col("user_id"), col("ad_id"), col("click_id"))
    },
    """SELECT v.user_id, v.event_id AS ad_id,
       COALESCE(c.event_id, -1) AS click_id,
       EPOCH_US(v.ts) AS imp_us,
       COALESCE(EPOCH_US(c.ts), -1) AS click_us
       FROM events v LEFT JOIN events c ON v.user_id = c.user_id
        AND c.event_type = 'click'
        AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 DAY
       WHERE v.event_type = 'view'
       ORDER BY v.user_id, ad_id, click_id""")

  val defs: Map[String, Q] = Map(
    "q_stream_drain" -> qStreamDrain,
    "q_stream_transitions" -> qStreamTransitions,
    "q_stream_totals_v2" -> qStreamTotalsV2,
    "q_stream_windowed" -> qStreamWindowed,
    "q_stream_sessions" -> qStreamSessions,
    "q_stream_dedup" -> qStreamDedup,
    "q_stream_join" -> qStreamJoin,
    "q_stream_join_outer" -> qStreamJoinOuter)
}
