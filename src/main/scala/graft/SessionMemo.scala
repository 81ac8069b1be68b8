package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** Per-session memo for built DataFrames and driver objects. Two jobs:
  *  - avoid re-doing expensive plan construction side effects
  *    (driver collects, broadcasts, persists) when the same query is
  *    invoked repeatedly in one session (test suites, repeated bench
  *    runs) — one broadcast/cache per session instead of one per call;
  *  - hold sessions weakly, so a stopped SparkSession and everything
  *    memoized under it become garbage-collectable instead of being
  *    pinned by a static map for the life of the JVM.
  *
  * Every build is timed and the per-key seconds are queryable via
  * [[buildTimes]] — Bench reports them as the `memo_builds` block so
  * one-time shared-stage construction is attributed to itself, not to
  * whichever consumer query happens to run first, whatever order the
  * queries run in.
  *
  * One fill policy: a memo that holds a cache holds a FILLED one.
  *  - [[shared]] is the only memo form that persists: it persists,
  *    fills and releases its frame inside the timed build ([[fill]]),
  *    so no reader is planned over an empty cache. Spark sizes an
  *    unfilled cache by its plan estimate and a filled one by its
  *    bytes, and only a filled one exposes its output partitioning,
  *    so a frame planned before the fill could pick another join side
  *    or shuffle count than the same frame planned after it.
  *  - Pin rule: an index is pinned ([[pinned]]) rather than shared
  *    when further construction is built on top of it — its source is
  *    a cascade (training iterations, a fact-join chain) or its own
  *    build derives more from it (a driver collect, a second index).
  *    A pin is a one-node leaf, so every plan above it starts there
  *    instead of re-analysing and cache-matching the cascade, and it
  *    is filled in its constructor.
  *  - [[getOrElseUpdate]] memoizes what holds no cache of its own: a
  *    plan (a table read), a driver object (a bloom filter), a pin, or
  *    a whole query result whose build does eager work.
  *
  * Keys share one namespace per session across frames, objects, pins
  * and [[oncePerSession]] flags. */
object SessionMemo {
  private val entries = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, Any]]()
  private val times = new java.util.WeakHashMap[SparkSession,
    scala.collection.concurrent.TrieMap[String, Double]]()

  private def forSession[V](store: java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, V]], s: SparkSession) =
    store.synchronized {
      var m = store.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, V]
        store.put(s, m)
      }
      m
    }

  /** The build product of `key` for this session, built (and timed
    * into [[buildTimes]]) on first use. For products that hold no
    * unfilled cache; a persisted frame goes through [[shared]]. */
  def getOrElseUpdate[T](s: SparkSession, key: String)(build: => T): T =
    forSession(entries, s).getOrElseUpdate(key, {
      val t0 = System.nanoTime()
      val v = build
      forSession(times, s).put(key, (System.nanoTime() - t0) / 1e9)
      v
    }).asInstanceOf[T]

  /** A session-shared cached frame: `build`'s frame, [[fill]]ed inside
    * the timed build, so its fill cost lands on `key` in
    * [[buildTimes]] and every reader plans over a filled cache. The
    * build body returns the plain frame and does not persist it; a
    * body that must drop build-scoped scratch caches before it
    * returns fills its frame first, and `shared` keeps that fill. A
    * `shared` built inside another build is timed under its own key
    * and again inside its parent's time, as every nested build is. */
  def shared(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    getOrElseUpdate(s, key)(fill(build))

  /** Persists `df`, fills it with a count, then releases its build's
    * broadcast values, and returns the persisted frame; a frame whose
    * cache is already filled is returned as is. What a filled frame
    * retains: its cached rows, plus the serialized pieces of the
    * broadcasts its build planned. The deserialized broadcast values
    * (hash relations, often far larger than the rows) are freed; a
    * lost cached block recomputes through lineage by re-reading the
    * pieces. The caller owns the cache entry: a memo ([[shared]])
    * keeps it for the session, a build-scoped caller unpersists it. */
  def fill(df: DataFrame): DataFrame =
    if (Bridge.cachedRddId(df).isDefined) df
    else {
      val cached = df.persist()
      cached.count()
      Bridge.cachedPlan(cached).foreach(Bridge.releaseBroadcastValues)
      cached
    }

  /** Run `action` at most once per (session, key). For idempotent
    * session wiring — UDF/UDAF/expression registration — that is
    * correct to repeat but noisy: every re-register logs a
    * `SimpleFunctionRegistry … replaced a previously registered
    * function` warning, which at 175 graded queries pads every bench
    * log. Not timed: wiring is not a shared stage. */
  def oncePerSession(s: SparkSession, key: String)(action: => Unit): Unit =
    forSession(entries, s).getOrElseUpdate(key, action)

  /** Seconds spent building each memo entry of this session so far
    * (closure time; for [[shared]] entries, the fill included). */
  def buildTimes(s: SparkSession): Map[String, Double] =
    forSession(times, s).toMap

  /** Pin-and-forget form of [[PinnedFrame]] for one-shot shared
    * stages that live for the session (see the pin rule above):
    * snapshot `source` and return the frame, leaving the blocks
    * pinned until the frame itself becomes unreachable (the
    * ContextCleaner then releases them, exactly as it would a
    * dropped `localCheckpoint`). */
  def pinned(source: DataFrame): DataFrame = new PinnedFrame(source).df

  /** One-slot per-(session, site) pin for per-invocation pins (an
    * interval base, a CDC delta, item counts — built fresh inside
    * every run by design): each call `free()`s the previous call's
    * snapshot at `site` before building the new one, so a site holds
    * at most ONE live snapshot however many times it runs, instead of
    * one dead cached RDD per call until a driver GC surfaces it to
    * the ContextCleaner. Freeing early is safe even if a stale
    * consumer still holds the old frame: [[PinnedFrame]] retains
    * lineage, so a freed block recomputes instead of corrupting. */
  def pinnedSlot(site: String)(source: DataFrame): DataFrame = {
    val m = forSession(entries, source.sparkSession)
    m.remove(site).foreach(_.asInstanceOf[PinnedFrame].free())
    val pf = new PinnedFrame(source)
    m.put(site, pf)
    pf.df
  }

  /** Collision-safe memo key for a caller-supplied frame: the 32-bit
    * `semanticHash` alone can collide across two distinct inputs in
    * one session and would then silently return the wrong persisted
    * frame, so the key also carries 64 bits of MD5 over the
    * canonicalized plan string — the same normal form `sameResult`
    * compares, so semantically-equal plans still share one entry. */
  def planKey(df: DataFrame): String = {
    val p = df.queryExecution.analyzed
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(p.canonicalized.toString.getBytes("UTF-8"))
    p.semanticHash().toString + ":" +
      digest.take(8).map("%02x".format(_)).mkString
  }
}

/** A lineage-TRUNCATED, eagerly persisted snapshot of `df` with an
  * explicit release handle — the repo-wide materialization primitive
  * for iterative loops and session-lifetime pinned indexes, used in
  * place of `localCheckpoint`: a session-lifetime memoized frame
  * resting on non-recomputable checkpoint blocks would poison every
  * later consumer in the session if one executor died. The snapshot
  * is a plain PERSISTED RDD whose lineage is retained, so a block
  * lost (or released early by a buggy caller) recomputes instead of
  * corrupting the result.
  *
  * The pinned representation is the engine's own: the executed
  * plan's `InternalRow`s — compact `UnsafeRow` buffers in the block
  * store, no per-row `Row` boxing on write and no `Row→InternalRow`
  * conversion per consume — wrapped back through a fresh
  * `LogicalRDD` leaf, so an iterative consumer's logical plan stays
  * one node deep per round exactly as with `localCheckpoint` (no
  * replanning the whole history each iteration).
  *
  * What a pin retains once built: the snapshot rows, plus the
  * serialized pieces of the broadcasts `source`'s executed plan
  * completed. The constructor frees those broadcasts' deserialized
  * values right after the fill, as [[SessionMemo.fill]] does, so a
  * recompute re-reads the pieces.
  *
  * `free()` is idempotent and silent; call it once every consumer of
  * the PREVIOUS round has run, so dead frames don't sit in the block
  * manager until a driver GC happens to surface them to the
  * ContextCleaner. */
private[graft] final class PinnedFrame(source: DataFrame) {
  private val rdd = org.apache.spark.sql.graftshim.InternalFrames
    .internalRdd(source)
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  rdd.count() // eager, like localCheckpoint(): consumers must never
              // cascade a recompute through freed earlier rounds
  Bridge.releaseBroadcastValues(source.queryExecution.executedPlan)
  val df: DataFrame = org.apache.spark.sql.graftshim.InternalFrames
    .ofInternalRdd(source.sparkSession, rdd, source.schema)
  def free(): Unit = { rdd.unpersist(blocking = false); () }
}
