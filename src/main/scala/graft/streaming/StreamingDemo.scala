package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The true Structured Streaming surface (SURVEY.md §2B Streaming
  * row). The graded verify/bench contract is batch, so these live
  * outside `SparkEntry.queries`; StreamingSpec drives them with a
  * MemoryStream source and a memory sink. The batch twins in
  * [[graft.ops.EventsOps]] share the exact window semantics
  * (epoch-aligned buckets, 10-minute session gap), which is what makes
  * the oracle-checked batch results transfer to the streaming path.
  *
  * At scale these run unchanged against a real source
  * (`spark.readStream.format("kafka" | "parquet")...`): the plans
  * below never reference the source type. */
object StreamingDemo {

  /** Tumbling 5-minute counts with a 10-minute watermark: late events
    * beyond the watermark are dropped by the engine, and windows
    * finalize once the watermark passes their end. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("bucket_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Graded variant of [[tumblingCounts]] for the append-mode drain
    * ([[StreamQueries.qStreamWindowed]]): same watermark + tumbling
    * window, but the value sum is exact integer micro-units (integer
    * partials commute across micro-batch splits — the
    * [[DeterministicTotalsProcessor]] convention) and the window start
    * is emitted as epoch seconds, the batch twins' engine-portable
    * bucket form. */
  def windowedCountsGraded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("long"))
          .as("total_micros"))
      .select(
        col("window.start").cast("long").as("bucket_start"),
        col("event_type"), col("n"), col("total_micros"))

  /** Graded variant of [[sessionCounts]] for the session drain
    * ([[StreamQueries.qStreamSessions]]): the batch twin
    * [[graft.ops.EventsOps.qEventsSession]]'s exact output shape —
    * session bounds as epoch seconds plus the decimal-cast value sum
    * (decimal partials commute, so cross-batch session merges are
    * value-exact). */
  def sessionCountsGraded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"),
        graft.Num.dsum(col("value")).as("session_value"))
      .select(
        col("user_id"),
        col("session_window").getField("start").cast("long").as("session_start"),
        col("session_window").getField("end").cast("long").as("session_end"),
        col("n_events"), col("session_value"))

  /** Streaming session windows with watermark — merges in-flight
    * sessions in the state store. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Streaming dedup keyed on event_id within the watermark. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming first-event-per-key dedup — the streaming form of the
    * graded batch twin q_events_dedup_state (first event per
    * (user, type), the rest suppressed by the state store). The
    * watermark `delay` bounds how long a key's state lives: duplicates
    * arriving within `delay` of each other are suppressed, older state
    * is evicted — the knob that keeps state finite on an unbounded
    * stream. With a delay covering the data's time span the result is
    * row-identical to the batch twin (StreamingSpec pins it). */
  def dedupFirstPerKey(events: DataFrame, delay: String,
                       keys: String*): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  final case class UserRunning(userId: Long, n: Long, total: Double)

  /** Custom state: running per-user totals via mapGroupsWithState —
    * the arbitrary-stateful-processing hook for logic windows can't
    * express. */
  def runningTotals(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, total) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, t), (_, v)) => (c + 1, t + v)
          }
          val next = UserRunning(userId, n, total)
          state.update(next)
          next
      }
      .toDF()
  }

  /** flatMapGroupsWithState: emit an alert row only when a user's
    * running total crosses a threshold — the 0-or-N-outputs-per-group
    * shape mapGroups can't express. */
  final case class Alert(userId: Long, total: Double)

  def thresholdAlerts(spark: SparkSession, events: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserRunning, Alert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Double)], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val (n, total) = rows.foldLeft((prev.n, prev.total)) {
            case ((c, t), (_, v)) => (c + 1, t + v)
          }
          val crossed = prev.total < threshold && total >= threshold
          state.update(UserRunning(userId, n, total))
          if (crossed) Iterator.single(Alert(userId, total)) else Iterator.empty
      }
      .toDF()
  }

  final case class LastEvent(es: Long, id: Long, tpe: String)
  final case class TransitionPair(from_type: String, to_type: String)

  /** Streaming twin of [[graft.ops.EventsOps.eventTransitions]]: emit
    * one (from_type, to_type) row per consecutive event pair in each
    * user's sequence, with the LAST event carried as keyed state so
    * pairs straddling micro-batch boundaries are not lost — the part a
    * stateless per-batch lag window would get wrong. Rows inside one
    * micro-batch arrive unordered, so each group call sorts its
    * (bounded, per-user-per-batch) buffer by (ts, event_id) before
    * folding; the same tie rule as the batch twin. Aggregating the
    * emitted pairs reproduces the batch matrix exactly
    * (StreamingSpec pins it across a mid-sequence batch split). */
  def transitionPairs(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      // unix_micros, NOT CAST(ts AS LONG): the cast truncates to
      // seconds, and two events of one user inside the same second
      // would sort by event_id alone here while the batch twin sorts
      // by the full microsecond timestamp first — a silent order
      // divergence on sub-second data (r12; events.parquet is µs)
      .selectExpr("user_id", "unix_micros(ts) AS es", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LastEvent, TransitionPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Long, String)],
         state: GroupState[LastEvent]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var last = state.getOption
          val out = Seq.newBuilder[TransitionPair]
          sorted.foreach { r =>
            last.foreach(l => out += TransitionPair(l.tpe, r._4))
            last = Some(LastEvent(r._2, r._3, r._4))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }

  /** Stream-stream interval join: click attributed to the impression
    * it follows within 10 minutes, both sides watermarked so the state
    * store can evict rows once the interval can no longer match — the
    * condition every unbounded stream-stream join needs to avoid
    * unbounded state. Columns are disambiguated BEFORE the join
    * (stream-stream self-shaped joins can't alias after). */
  def clickAttribution(impressions: DataFrame, clicks: DataFrame): DataFrame =
    attribution(impressions, clicks, "inner")

  // one body for both variants — the docstrings claim the outer
  // semantics are pure configuration, so the window/watermark/
  // condition must live in exactly one place
  private def attribution(impressions: DataFrame, clicks: DataFrame,
                          joinType: String): DataFrame = {
    val imp = impressions
      .selectExpr("event_id AS ad_id", "ts AS imp_ts", "user_id")
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks
      .selectExpr("event_id AS click_ad_id", "ts AS click_ts", "value AS click_value")
      .withWatermark("click_ts", "10 minutes")
    imp.join(clk,
      expr("""ad_id = click_ad_id AND
              click_ts >= imp_ts AND
              click_ts <= imp_ts + INTERVAL 10 MINUTES"""),
      joinType)
      .select(col("ad_id"), col("user_id"), col("imp_ts"), col("click_ts"),
        col("click_value"))
  }

  /** Graded variant of the stream-stream interval join
    * ([[StreamQueries.qStreamJoin]]): views and clicks keyed on the
    * USER (the corpus' real shared key — ad ids are unique, so the
    * demo's ad-id equality would be vacuously empty here), click
    * within one DAY after the view (the corpus averages ~3 events per
    * user-day, so a minutes-scale window would leave the graded pair
    * set near-empty at the small SFs). Inner matches emit as soon as
    * both sides are present; each side's watermark plus the interval
    * bound is what lets the engine evict view state once no matching
    * click can still arrive — state is one window's worth of each
    * side, never the corpus. Timestamps are emitted as exact epoch
    * micros so the joined pairs are engine-portable. */
  def viewClickAttribution(views: DataFrame, clicks: DataFrame): DataFrame =
    viewClickJoin(views, clicks, "inner")

  /** LEFT OUTER twin of [[viewClickAttribution]]
    * ([[StreamQueries.qStreamJoinOuter]]): a view with no in-window
    * click emits with null click columns, but only once the global
    * watermark proves no matching click can still arrive — the
    * watermark-gated null emission semantic, which is the subtlest
    * timing contract in the streaming surface. One body for both
    * variants, so the outer semantics stay pure configuration. */
  def viewClickAttributionOuter(views: DataFrame, clicks: DataFrame): DataFrame =
    viewClickJoin(views, clicks, "leftOuter")

  private def viewClickJoin(views: DataFrame, clicks: DataFrame,
                            joinType: String): DataFrame = {
    val imp = views
      .selectExpr("user_id", "event_id AS ad_id", "ts AS imp_ts")
      .withWatermark("imp_ts", "10 minutes")
    val clk = clicks
      .selectExpr("user_id AS click_user", "event_id AS click_id",
        "ts AS click_ts")
      .withWatermark("click_ts", "10 minutes")
    imp.join(clk,
      expr("""user_id = click_user AND
              click_ts >= imp_ts AND
              click_ts <= imp_ts + INTERVAL 1 DAY"""),
      joinType)
      .select(col("user_id"), col("ad_id"), col("click_id"),
        unix_micros(col("imp_ts")).as("imp_us"),
        unix_micros(col("click_ts")).as("click_us"))
  }

  /** LEFT OUTER stream-stream interval join — the attribution variant
    * that also reports UNMATCHED impressions: an impression with no
    * click inside its window emits with null click columns, but only
    * once the click-side watermark has passed the window's end (the
    * state store must be sure no matching click can still arrive).
    * Same join condition as [[clickAttribution]]; the outer semantics
    * are pure configuration, which is the point of the exhibit. */
  def clickAttributionOuter(impressions: DataFrame, clicks: DataFrame): DataFrame =
    attribution(impressions, clicks, "leftOuter")

  /** Stream-static join: enrich a stream against a batch dimension.
    * No state store involved — the static side is (re)planned per
    * micro-batch, so a broadcastable dim behaves exactly like the
    * batch BHJ, which is why this is the default enrichment shape
    * before reaching for a stream-stream join. */
  def enrichAgainstStatic(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")

  /** foreachBatch: the escape hatch that lets a stream reuse any BATCH
    * sink (JDBC upsert, partition overwrite, multi-sink fan-out).
    * Exactly-once comes from idempotence PLUS a durable checkpoint:
    * batch ids only resume (instead of restarting at 0 against stale
    * output) when offsets survive in `checkpointDir` — so a replayed
    * batch (restart between sink write and offset commit) re-lands in
    * its own `batch_id=<id>` partition with overwrite mode instead of
    * duplicating rows. Pass a durable checkpointDir in production; the
    * None default is only for single-run demos/tests. `outputMode` is
    * the stream's (`update` for a per-batch snapshot of changed state
    * rows); `availableNow` as in [[startRateSpikeSink]]. */
  def startPartitionedBatchSink(events: DataFrame, outDir: String,
                                checkpointDir: Option[String] = None,
                                outputMode: String = "append",
                                availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream
      .outputMode(outputMode)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
      }
    checkpointDir.foreach(c => writer.option("checkpointLocation", c))
    if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    writer.start()
  }

  /** Streaming rate-spike monitoring through foreachBatch — the
    * streaming form of the graded batch twin q_events_rate_spike.
    * Each micro-batch is reduced to its (event_type, hour) PARTIAL
    * counts (hourly counts are algebraic, so per-batch partials
    * re-sum to the global counts no matter how events split across
    * batches) and appended to a compact parquet ledger under its own
    * `batch_id=<id>` partition (overwrite → idempotent on replay,
    * same exactly-once recipe as [[startPartitionedBatchSink]]); the
    * spike table is then recomputed from the MERGED ledger — a frame
    * of hours-per-type size, not event size — and atomically
    * overwritten. After the stream drains, `<outDir>/spikes` is
    * row-identical to `EventsOps.rateSpikes` over all events
    * (StreamingSpec pins it). */
  def startRateSpikeSink(events: DataFrame, outDir: String,
                         checkpointDir: Option[String] = None,
                         availableNow: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.ops.EventsOps.hourlyCounts(batch.toDF())
          .write.mode("overwrite")
          .parquet(s"$outDir/hourly_parts/batch_id=$batchId")
        val ledger = batch.sparkSession.read
          .parquet(s"$outDir/hourly_parts")
          .groupBy(col("event_type"), col("hr"))
          .agg(sum(col("n")).as("n"))
        graft.ops.EventsOps.spikesFromHourly(ledger)
          .write.mode("overwrite").parquet(s"$outDir/spikes")
      }
    checkpointDir.foreach(c => writer.option("checkpointLocation", c))
    // availableNow: drain everything currently in the source (across
    // as many rate-limited micro-batches as it takes), then stop —
    // the graded q_stream_drain runs the sink this way so the whole
    // pipeline terminates deterministically inside one query call
    if (availableNow)
      writer.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    writer.start()
  }

  /** Trigger.AvailableNow: incremental batch ingest — process
    * everything currently available (respecting source rate limits,
    * checkpointed like any stream), then stop. The modern replacement
    * for a scheduled batch job over a growing directory: each run
    * picks up exactly the files that arrived since the last one. */
  def runAvailableNow(events: DataFrame, queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    tumblingCounts(events)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Start tumblingCounts into an in-memory sink (update mode). */
  def startToMemory(events: DataFrame, queryName: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    tumblingCounts(events)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .start()

  final case class UserAgg(n: Long, total: Double)
  final case class UserSnapshot(userId: Long, n: Long, total: Double,
                                recentN: Int, recentMax: Double)

  /** Spark-4 arbitrary stateful processing v2 (`transformWithState`):
    * the successor to mapGroupsWithState, with NAMED state variables
    * (value/list/map) instead of one opaque blob, per-variable TTL,
    * and timers decoupled from output. This processor keeps two
    * variables per user — a running [[UserAgg]] ValueState and a
    * last-3-values ListState — something v1 could only fake by
    * packing both into a single case class rewritten wholesale on
    * every event. Requires the RocksDB state store provider (the
    * engine rejects the HDFS heap store for v2), which is the right
    * production default anyway once state outgrows executor heap. TTL
    * here is NONE for deterministic tests; a real pipeline would pass
    * `TTLConfig(Duration.ofDays(30))` per variable to bound state
    * without the coarse query-wide watermark eviction. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, (Long, Double), UserSnapshot] {
    @transient private var totals: ValueState[UserAgg] = _
    @transient private var recent: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState(
        "totals", Encoders.product[UserAgg], TTLConfig.NONE)
      recent = getHandle.getListState(
        "recent", Encoders.scalaDouble, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: TimerValues): Iterator[UserSnapshot] = {
      val vals = rows.map(_._2).toArray
      val prev = if (totals.exists()) totals.get() else UserAgg(0L, 0.0)
      val next = UserAgg(prev.n + vals.length, prev.total + vals.sum)
      totals.update(next)
      // bounded list state: keep only the 3 newest values — the state
      // store never accumulates per-key history the logic doesn't need
      val kept = (recent.get().toArray ++ vals).takeRight(3)
      recent.put(kept)
      Iterator.single(UserSnapshot(key, next.n, next.total, kept.length, kept.max))
    }
  }

  /** Per-user running totals + recent-window summary on the v2 state
    * API; emits one snapshot row per user per micro-batch (update
    * mode), exactly like [[runningTotals]] does on v1 — StreamingSpec
    * pins the two APIs to the same totals. */
  def runningTotalsV2(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }

  final case class TotalsAgg(n: Long, micros: Long)
  final case class RecentEv(es: Long, id: Long, v: Double)
  final case class UserTotalsSnapshot(user_id: Long, n: Long,
                                      total_micros: Long, recent_n: Long,
                                      recent_max: Double)

  /** Graded twin of [[RunningTotalsProcessor]] (q_stream_totals_v2):
    * the same two NAMED state variables — a running-totals ValueState
    * and a recent-3 ListState — but every update is ORDER- and
    * SPLIT-invariant, so the drained result is deterministic under
    * ANY micro-batch partition of the input and can sit under the
    * DuckDB hash gate:
    *  - totals accumulate exact integer micro-units
    *    (`CAST(value AS DECIMAL(18,6)) * 1e6` — the repo's decimal
    *    convention, so both engines derive the identical integers and
    *    integer sums commute across batch splits, where a double fold
    *    would re-associate);
    *  - "recent 3" keeps the 3 NEWEST events by (event time µs,
    *    event id) via a SET-MERGE — top-3 of a union is associative
    *    and commutative, so it equals the batch twin's
    *    `rn <= 3 OVER (ORDER BY ts DESC, event_id DESC)` regardless
    *    of arrival order within or across batches. (The v1 demo
    *    processor's takeRight(3) is arrival-ordered by design — fine
    *    for a demo, not for a hash gate.) */
  class DeterministicTotalsProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long, Double),
        UserTotalsSnapshot] {
    @transient private var totals: ValueState[TotalsAgg] = _
    @transient private var recent: ListState[RecentEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState(
        "totals", Encoders.product[TotalsAgg], TTLConfig.NONE)
      recent = getHandle.getListState(
        "recent", Encoders.product[RecentEv], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Long, Long, Double)],
                                 timers: TimerValues): Iterator[UserTotalsSnapshot] = {
      val evs = rows.toArray
      val prev = if (totals.exists()) totals.get() else TotalsAgg(0L, 0L)
      val next = TotalsAgg(prev.n + evs.length, prev.micros + evs.map(_._4).sum)
      totals.update(next)
      val kept = (recent.get().toArray ++ evs.map(e => RecentEv(e._2, e._3, e._5)))
        .sortBy(r => (-r.es, -r.id)).take(3)
      recent.put(kept)
      Iterator.single(UserTotalsSnapshot(key, next.n, next.micros,
        kept.length.toLong, kept.map(_.v).max))
    }
  }

  /** [[DeterministicTotalsProcessor]] over a (ts, user_id, event_id,
    * value) frame — micro-unit conversion happens in the PLAN (both
    * engines replay it), the processor only ever sees exact longs
    * plus the raw double for the max (max is order-invariant). */
  def runningTotalsV2Graded(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .selectExpr("user_id", "unix_micros(ts) AS es", "event_id",
        "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS vmicros",
        "value")
      .as[(Long, Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new DeterministicTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF()
  }
}
