package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** The release step of the persist-and-count sites: a filled memo or
  * pin keeps its rows and its build's serialized broadcast pieces, not
  * the deserialized broadcast values, and a lost block still
  * recomputes to the same rows through lineage. */
class BroadcastReleaseSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** Every released broadcast of `plan` has no value block left in
    * this JVM and still has its pieces; returns their ids. */
  private def assertReleased(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Long] = {
    val ids = Bridge.completedBroadcasts(plan).map(_.id)
    assert(ids.nonEmpty, "the build planned no broadcast; the check would be vacuous")
    ids.foreach { id =>
      val blocks = Bridge.broadcastBlocks(id)
      assert(!blocks.contains(s"broadcast_$id"), s"value block of broadcast $id kept: $blocks")
      assert(blocks.exists(_.startsWith(s"broadcast_${id}_piece")),
        s"pieces of broadcast $id dropped: $blocks")
    }
    ids
  }

  test("q_dedup_minhash memo: broadcast values released, pieces kept, lost blocks recompute") {
    val memo = SparkEntry.queries("q_dedup_minhash")(spark, sfDir)
    val plan = Bridge.cachedPlan(memo)
    assert(plan.isDefined, "the q_dedup_minhash memo frame is not persisted")
    assertReleased(plan.get)
    val before = rows(memo)
    assert(before.nonEmpty)
    val rddId = Bridge.cachedRddId(memo)
    assert(rddId.isDefined, "the memo's cache is not filled")
    assert(Bridge.dropRddBlocks(rddId.get) > 0, "no cached block to drop")
    assert(rows(memo) === before, "recompute through the released broadcasts changed the rows")
    // the same frame again: the memo holds one entry, not a rebuild
    assert(SparkEntry.queries("q_dedup_minhash")(spark, sfDir) eq memo)
  }

  test("pinnedSlot: same rows before and after its build's broadcasts are released") {
    val dim = spark.range(0L, 50L).select(col("id").as("k"), (col("id") * 3).as("w"))
    val source = spark.range(0L, 5000L)
      .select(col("id"), pmod(col("id"), lit(50L)).as("k"))
      .join(broadcast(dim), "k")
    val expected = rows(source)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val pinned = SessionMemo.pinnedSlot("broadcast_release_spec")(source)
    val pinRdds = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assertReleased(source.queryExecution.executedPlan)
    assert(rows(pinned) === expected)
    assert(pinRdds.toSeq.map(Bridge.dropRddBlocks).sum > 0, "no pinned block to drop")
    assert(rows(pinned) === expected, "recompute through the released broadcast changed the rows")
  }
}
