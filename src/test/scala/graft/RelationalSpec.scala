package graft

import org.apache.spark.sql.Row

/** Golden-row + structural checks for the relational inventory
  * (SURVEY.md §2B) on sf0.001. The cross-engine value check is the
  * driver's DuckDB oracle; these specs pin Spark-side semantics and
  * catch regressions without the oracle in the loop. */
class RelationalSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs and is non-empty at sf0.001") {
    val empty = SparkEntry.queries.keys.filter(k => run(k).isEmpty)
    assert(empty.isEmpty, s"empty results: ${empty.mkString(", ")}")
  }

  test("a built SQL-entry frame keeps its tables when the views re-register") {
    // Q.sql registers the star-schema views under their bare names on
    // every call; building the same query at another sf re-registers
    // them, and must not rebind a frame analyzed before
    val first = SparkEntry.queries("q_sql_q6")(spark, sfDir)
    val firstRows = first.collect().toSeq
    val firstCount = first.count()
    val other = SparkEntry.queries("q_sql_q6")(spark, sfDir.stripSuffix("sf0.001") + "sf0.01")
      .collect().toSeq
    assert(other != firstRows, "sanity: the two sfs must differ in revenue")
    assert(first.count() === firstCount)
    assert(first.collect().toSeq === firstRows)
  }

  test("no oracle names a per-query view of a star-schema table") {
    val view = """\b(sql|sq|sqin|gs|ns)_(region|nation|customer|supplier|part|orders|lineitem)\b""".r
    val named = SparkEntry.oracleSql.collect {
      case (k, sql) if view.findFirstIn(sql).isDefined => k }
    assert(named.isEmpty, s"oracles naming a view prefix: ${named.mkString(", ")}")
  }

  test("every oracle key has a matching query key") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("q1 pricing summary: 6 flag×status groups, counts sum to filtered lineitem") {
    import org.apache.spark.sql.functions._
    val rows = run("q1_pricing_summary").collect()
    assert(rows.length === 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02"))).count()
    assert(total === expected)
  }

  test("q_join_full preserves nations present on either side only") {
    val rows = run("q_join_full").collect()
    // sf0.001: 10 suppliers over 25 nations — some nations have
    // customers but no supplier; full outer keeps them with n_supp=0.
    assert(rows.exists(r => r.getAs[Long]("n_supp") == 0L))
    assert(rows.forall(r => r.getAs[Long]("n_cust") > 0L || r.getAs[Long]("n_supp") > 0L))
  }

  test("semi ∪ anti partitions customers exactly") {
    val semi = run("q_join_semi").count()
    val anti = run("q_join_anti").count()
    assert(semi + anti === Tables.customer(spark, sfDir).count())
  }

  test("q_window_topk emits at most 3 rows per supplier, rank-ordered") {
    val rows = run("q_window_topk").collect()
    val bySupp = rows.groupBy(_.getAs[Long]("l_suppkey"))
    assert(bySupp.values.forall(_.length <= 3))
    bySupp.values.foreach { g =>
      val prices = g.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("l_extendedprice"))
      assert(prices.sameElements(prices.sortBy(-(_: Double))))
    }
  }

  test("q_topk_global is descending by totalprice with unique keys") {
    val rows = run("q_topk_global").collect()
    assert(rows.length === 100)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.sameElements(prices.sortBy(-(_: Double))))
  }

  test("rollup row count = detail + per-segment subtotals + grand total") {
    val customer = Tables.customer(spark, sfDir)
    val detail = customer.select("c_mktsegment", "c_nationkey").distinct().count()
    val segments = customer.select("c_mktsegment").distinct().count()
    assert(run("q_rollup").count() === detail + segments + 1)
  }

  test("cube row count = detail + both margins + grand total") {
    val orders = Tables.orders(spark, sfDir)
    val detail = orders.select("o_orderstatus", "o_orderpriority").distinct().count()
    val statuses = orders.select("o_orderstatus").distinct().count()
    val prios = orders.select("o_orderpriority").distinct().count()
    assert(run("q_cube").count() === detail + statuses + prios + 1)
  }

  test("as-of join: last_click_ts <= purchase ts (or epoch sentinel)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    val asof = run("q_join_asof")
    val joined = asof.join(ev, "p_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val lc = r.getAs[java.sql.Timestamp]("last_click_ts")
      val pt = r.getAs[java.sql.Timestamp]("p_ts")
      assert(!lc.after(pt) || lc.getTime == 0L)
    }
  }

  test("set ops: union == intersect ∪ except on each side") {
    val union = run("q_set_union").collect().map(_.getInt(0)).toSet
    val inter = run("q_set_intersect").collect().map(_.getInt(0)).toSet
    val exceptL = run("q_set_except").collect().map(_.getInt(0)).toSet
    assert(inter.subsetOf(union))
    assert(exceptL.subsetOf(union))
    assert((inter & exceptL).isEmpty)
  }

  test("CDC round-trip: merge(old, diff(old, new)) reproduces new exactly") {
    // the property that makes the diff feed trustworthy as an
    // incremental-refresh input: applying the delta onto the old
    // snapshot yields the new snapshot, key for key, price for price
    import org.apache.spark.sql.functions.{col, when}
    val merged = run("q_merge_upsert").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val vNew = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0,
          col("o_totalprice") * 1.1).otherwise(col("o_totalprice")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(merged === vNew)
    // and the diff is minimal: every delta row really differs
    val deltaTypes = run("q_snapshot_diff").collect()
      .map(_.getAs[String]("change_type")).toSet
    assert(deltaTypes === Set("added", "removed", "changed"))
  }
}
