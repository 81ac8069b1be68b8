package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Column ⇄ Expression and DataFrame ⇄ LogicalPlan bridge. Spark 4
  * made the Column(Expression) constructor and Dataset.ofRows
  * `private[sql]`; extensions that define native Catalyst expressions
  * or custom logical operators conventionally expose them through a
  * shim in the org.apache.spark.sql namespace (same pattern
  * third-party connectors use). [[graft.functions]] and
  * [[graft.plans]] use the conversions; the drain harness and the
  * release step of persisted memos and pins use the execution and
  * block-manager calls below. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def plan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until queued listener events are delivered — needed by any
    * metrics assertion built on a SparkListener (the bus is async and
    * `waitUntilEmpty` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Unload every loaded state-store provider on this JVM
    * (`StateStore.unloadAll` is access-restricted like the rest of the
    * execution package). Used by the drain harness at each
    * AvailableNow completion, when every checkpoint this JVM has
    * touched is dead by construction — see the caller's rationale in
    * [[graft.streaming.StreamQueries]]. Safe against live queries:
    * an unloaded provider reloads from its checkpoint on next use. */
  def unloadAllStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** The executed plan behind `df`'s cache entry (for AQE, the
    * `InMemoryRelation`'s adaptive plan, final once the cache is
    * filled); None when `df` is not persisted. */
  def cachedPlan(df: DataFrame): Option[SparkPlan] =
    cacheEntry(df).map(_.cachedPlan)

  /** Id of the RDD that holds `df`'s cached buffers, once `df` is
    * persisted and filled (an unfilled entry is not built here). */
  def cachedRddId(df: DataFrame): Option[Int] =
    cacheEntry(df).filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers.id)

  private def cacheEntry(df: DataFrame) =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.lookupCachedData(df.asInstanceOf[Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** The broadcasts of `plan` that have already completed: its
    * materialized broadcast query stages, found through adaptive
    * plans, stages and subqueries, and those of every filled cache it
    * reads (a lazily persisted memo filled during this plan's run
    * holds its own build's broadcasts). A stage still pending is
    * skipped, never forced. (Every session here runs adaptive
    * execution; a plan planned without it has no stages and yields
    * nothing.) */
  def completedBroadcasts(plan: SparkPlan): Seq[Broadcast[Any]] =
    PlanWalk.collectWithSubqueries(plan) {
      // a materialized stage's future was started and has completed
      case s: BroadcastQueryStageExec if s.isMaterialized => Seq(s.broadcast.relationFuture.get())
      case c: InMemoryTableScanExec if c.relation.cacheBuilder.isCachedColumnBuffersLoaded =>
        completedBroadcasts(c.relation.cachedPlan)
    }.flatten.distinctBy(_.id)

  /** Frees the deserialized copies of `plan`'s completed broadcasts
    * and keeps their serialized pieces on the driver, so a task that
    * later needs one (a lost cached block recomputing through
    * lineage) re-reads the pieces. `unpersist` drops the executors'
    * copies; the driver's own value block, the only copy in local
    * mode, is removed from this JVM's block manager directly. */
  def releaseBroadcastValues(plan: SparkPlan): Unit = {
    val bm = SparkEnv.get.blockManager
    completedBroadcasts(plan).foreach { b =>
      b.unpersist(blocking = false)
      val value = BroadcastBlockId(b.id)
      if (bm.getStatus(value).isDefined) bm.removeBlock(value, tellMaster = false)
    }
  }

  /** Names of the blocks of broadcast `id` in this JVM's block
    * manager: `broadcast_<id>` for the value, `broadcast_<id>_pieceN`
    * for the serialized pieces. */
  def broadcastBlocks(id: Long): Seq[String] =
    SparkEnv.get.blockManager.getMatchingBlockIds {
      case BroadcastBlockId(`id`, _) => true
      case _ => false
    }.map(_.name).sorted

  /** Removes every block of RDD `rddId` from this JVM's block manager
    * and tells the master, as losing the executor that held them
    * would; the next read recomputes them through lineage. Returns the
    * number of blocks removed. */
  def dropRddBlocks(rddId: Int): Int = {
    val bm = SparkEnv.get.blockManager
    val ids = bm.getMatchingBlockIds {
      case RDDBlockId(`rddId`, _) => true
      case _ => false
    }
    ids.foreach(bm.removeBlock(_))
    ids.size
  }
}
