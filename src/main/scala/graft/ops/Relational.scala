package graft.ops

import graft.{Num, Q, SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator inventory (SURVEY.md §2B, rows Scans→Set ops).
  *
  * Design rules applied throughout (100 TB posture):
  *  - declarative DataFrame plans only — Catalyst pushes filters and
  *    prunes columns into the parquet scan, picks join strategies, and
  *    whole-stage-codegens every operator here;
  *  - dimension tables (`part`, `nation`, `region`, inline dims) are
  *    explicitly `broadcast()` — no shuffle of the fact side;
  *  - fact-fact joins shuffle on the join key once (sort-merge), never
  *    nested-loop;
  *  - aggregates use [[graft.Num]] decimal sums: exact, order-independent
  *    (oracle-stable) and still map-side combinable;
  *  - every query ends in an explicit ORDER BY over a unique key so the
  *    driver's hash compare is deterministic.
  */
object Relational {

  /** Flagship: TPC-H Q1-shaped pricing summary. Scan → pushed filter →
    * 2-key hash agg (partial+final) → tiny sort. The only shuffle is
    * the 6-group exchange after partial aggregation. */
  val q1PricingSummary = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          Num.dsum(col("l_quantity")).as("sum_qty"),
          Num.dsum(col("l_extendedprice")).as("sum_base_price"),
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Num.davg(col("l_quantity")).as("avg_qty"),
          Num.davg(col("l_extendedprice")).as("avg_price"),
          Num.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    s"""SELECT l_returnflag, l_linestatus,
       ${Num.sqlSum("l_quantity")} AS sum_qty,
       ${Num.sqlSum("l_extendedprice")} AS sum_base_price,
       ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       ${Num.sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       ${Num.sqlAvg("l_quantity")} AS avg_qty,
       ${Num.sqlAvg("l_extendedprice")} AS avg_price,
       ${Num.sqlAvg("l_discount")} AS avg_disc,
       COUNT(*) AS count_order
       FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""")

  /** Projection + conjunctive/range predicates; both reach the parquet
    * scan as PushedFilters, and ReadSchema is 5 of 11 columns. */
  val qFilterProject = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-04-01")) &&
          col("l_discount") >= lit(0.03) && col("l_discount") <= lit(0.07) &&
          col("l_quantity") < lit(24.0))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
         AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24.0
       ORDER BY l_orderkey, l_linenumber""")

  /** Broadcast-hash join: fact × small dim. `broadcast(part)` ships the
    * dim to every executor once — zero shuffle of lineitem. */
  val qJoinBroadcast = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          Num.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand")),
    s"""SELECT p_brand, ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       COUNT(*) AS n_items
       FROM lineitem JOIN part ON l_partkey = p_partkey
       GROUP BY p_brand ORDER BY p_brand""")

  /** Fact-fact sort-merge join (hinted): both sides shuffle once on the
    * join key; at 100 TB this is the shape that scales, not broadcast. */
  val qJoinSortMerge = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d).hint("merge"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          Num.dsum(col("l_extendedprice")).as("gross"))
        .orderBy(col("o_orderpriority")),
    s"""SELECT o_orderpriority, COUNT(*) AS n_items,
       ${Num.sqlSum("l_extendedprice")} AS gross
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  /** 4-way star join: one fact shuffle (orders⋈customer), then two
    * broadcast dims (nation, region) — the canonical snowflake plan. */
  val qJoinMultiway = Q(
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(Num.dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name")),
    s"""SELECT r_name, n_name, ${Num.sqlSum("o_totalprice")} AS revenue, COUNT(*) AS n_orders
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name ORDER BY r_name, n_name""")

  /** Left outer join preserving customers with zero orders. */
  val qJoinLeft = Q(
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(Num.dsum(col("o_totalprice")), lit(0.0)).as("spent"))
        .orderBy(col("c_custkey")),
    s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
       COALESCE(${Num.sqlSum("o_totalprice")}, 0.0) AS spent
       FROM customer LEFT JOIN orders ON c_custkey = o_custkey
       GROUP BY c_custkey ORDER BY c_custkey""")

  /** Left-semi join = EXISTS: customers having at least one big order.
    * Semi joins short-circuit — no row multiplication, no payload. */
  val qJoinSemi = Q(
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > lit(400000.0))
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
       ORDER BY c_custkey""")

  /** Left-anti join = NOT EXISTS: customers with no big order (at this
    * data scale every customer has *some* order, so the anti-join on a
    * filtered right side keeps the result non-trivial). */
  val qJoinAnti = Q(
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > lit(400000.0))
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    """SELECT c_custkey, c_mktsegment FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
       ORDER BY c_custkey""")

  /** Right outer join (kept distinct from the left-join query so both
    * directions of outer-row preservation are exercised): all
    * customers appear even with no big order on the left side. */
  val qJoinRight = Q(
    (s, d) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > lit(450000.0))
      bigOrders
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big_orders"),
          coalesce(max(col("o_totalprice")), lit(0.0)).as("biggest"))
        .orderBy(col("c_custkey"))
    },
    """SELECT c_custkey, COUNT(o_orderkey) AS n_big_orders,
       COALESCE(MAX(o_totalprice), 0.0) AS biggest
       FROM (SELECT * FROM orders WHERE o_totalprice > 450000.0) o
       RIGHT JOIN customer ON o_custkey = c_custkey
       GROUP BY c_custkey ORDER BY c_custkey""")

  /** Full outer join over two pre-aggregated sides (customers and
    * suppliers per nation) — aggregating BEFORE the join keeps the
    * outer join tiny no matter the fact size. */
  val qJoinFull = Q(
    (s, d) => {
      val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
        .agg(count(lit(1)).as("n_cust"))
      val p = Tables.supplier(s, d).groupBy(col("s_nationkey").as("sk"))
        .agg(count(lit(1)).as("n_supp"))
      c.join(p, col("ck") === col("sk"), "full_outer")
        .select(
          coalesce(col("ck"), col("sk")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy(col("nationkey"))
    },
    """SELECT COALESCE(c.ck, p.sk) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
       FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
       FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) p
       ON c.ck = p.sk
       ORDER BY nationkey""")

  /** Theta (non-equi band) join against a tiny inline dim — broadcast
    * nested-loop on a 3-row side, which is the right plan: BNLJ cost is
    * |fact| × |bands|, and |bands| is constant. */
  val qJoinRange = Q(
    (s, d) => {
      val bands = s.createDataFrame(Seq(
        (0.0, 100000.0, "low"), (100000.0, 300000.0, "mid"),
        (300000.0, 1000000.0, "high")))
        .toDF("lo", "hi", "band")
      Tables.orders(s, d)
        .join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), Num.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("band"))
    },
    s"""SELECT band, COUNT(*) AS n_orders, ${Num.sqlSum("o_totalprice")} AS total
       FROM orders JOIN (VALUES (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'),
                                (300000.0, 1000000.0, 'high')) AS b(lo, hi, band)
       ON o_totalprice >= lo AND o_totalprice < hi
       GROUP BY band ORDER BY band""")

  /** The binned (bucketized) range join — the scale form of
    * [[qJoinRange]]. A point-in-interval theta join has no equi key,
    * so Spark plans a nested-loop join: fine for 3 broadcast bands,
    * quadratic death for millions of intervals. Binning restores an
    * equi key: each interval explodes to the fixed-width bins it
    * overlaps, each point maps to exactly ONE bin, and the join becomes
    * bin-equality plus a residual range predicate. Every matching pair
    * meets in exactly one bin (the point's), so no dedup is needed.
    * Interval replication = interval width / bin width — pick the bin
    * width near the median interval width. Same oracle as the
    * nested-loop twin: results must be identical. */
  val qJoinRangeBinned = Q(
    (s, d) => {
      val w = 100000.0
      val bands = s.createDataFrame(Seq(
        (0.0, 100000.0, "low"), (100000.0, 300000.0, "mid"),
        (300000.0, 1000000.0, "high")))
        .toDF("lo", "hi", "band")
        .withColumn("bin", explode(expr(
          s"sequence(CAST(floor(lo / $w) AS INT), CAST(floor((hi - 0.01) / $w) AS INT))")))
      Tables.orders(s, d)
        .withColumn("bin", expr(s"CAST(floor(o_totalprice / $w) AS INT)"))
        .join(bands, Seq("bin"))
        .filter(col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), Num.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("band"))
    },
    s"""SELECT band, COUNT(*) AS n_orders, ${Num.sqlSum("o_totalprice")} AS total
       FROM orders JOIN (VALUES (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'),
                                (300000.0, 1000000.0, 'high')) AS b(lo, hi, band)
       ON o_totalprice >= lo AND o_totalprice < hi
       GROUP BY band ORDER BY band""")

  /** The SAME natural theta join as [[qJoinRange]], but binned
    * AUTOMATICALLY by the [[graft.graft.plans.BinRangeJoin]] optimizer rule:
    * the query AND-s a [[graft.graft.plans.BinWidthHint]] into its join
    * condition and writes no binning code — the rule projects
    * `floor(x/w)` on the probe side, explodes each interval to its
    * overlapped bins, and equi-joins on the bin id with the exact
    * predicate as residual. Identical results by construction (same
    * oracle as both twins); PlanSpec asserts the nested-loop join is
    * actually gone. The rule is registered per-session here the
    * runtime way (`spark.experimental.extraOptimizations`); cluster
    * deployments use `spark.sql.extensions=graft.plans.GraftExtensions`. */
  val qJoinRangeAuto = Q(
    (s, d) => {
      if (!s.experimental.extraOptimizations.contains(graft.plans.BinRangeJoin))
        s.experimental.extraOptimizations =
          s.experimental.extraOptimizations :+ graft.plans.BinRangeJoin
      val bands = s.createDataFrame(Seq(
        (0.0, 100000.0, "low"), (100000.0, 300000.0, "mid"),
        (300000.0, 1000000.0, "high")))
        .toDF("lo", "hi", "band")
      Tables.orders(s, d)
        .join(bands,
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi") &&
            graft.plans.BinWidthHint.binWidth(100000.0, col("o_totalprice"), col("lo")))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_orders"), Num.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("band"))
    },
    s"""SELECT band, COUNT(*) AS n_orders, ${Num.sqlSum("o_totalprice")} AS total
       FROM orders JOIN (VALUES (0.0, 100000.0, 'low'), (100000.0, 300000.0, 'mid'),
                                (300000.0, 1000000.0, 'high')) AS b(lo, hi, band)
       ON o_totalprice >= lo AND o_totalprice < hi
       GROUP BY band ORDER BY band""")

  /** Top-3 customers per market segment through the CUSTOM PHYSICAL
    * OPERATOR [[graft.plans.TopKPerKey]] (LogicalPlan + SparkStrategy
    * + SparkPlan, the third extension mechanism after native
    * expressions and the BinRangeJoin optimizer rule): a bounded
    * per-key heap replaces the window idiom's full per-partition sort
    * — one shuffle, O(rows·log k), k·keys memory. Shares the
    * row_number() formulation's oracle, so the custom operator is
    * hash-checked against an independent engine. */
  val qTopkGroupedNative = Q(
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      graft.plans.TopKPerKey.topKPerKey(base,
          keys = Seq("c_mktsegment"),
          order = Seq(("c_acctbal", true), ("c_custkey", false)), k = 3)
        .orderBy(col("c_mktsegment"), col("rank"))
    },
    """SELECT c_mktsegment, c_custkey, c_acctbal, rank FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
         FROM customer) t
       WHERE rank <= 3
       ORDER BY c_mktsegment, rank""")

  /** PUBLIC composable as-of join (exported via [[graft.Graft]]): for
    * each `left` row, the latest `right` row of the same `key` with
    * `time` at-or-before the left row's — the price-at-trade-time /
    * last-observation shape. Tagged union + one running window per
    * key: linear in rows, one shuffle on `key`, never the per-key
    * nested loop a theta join plans. Right rows with a null `time`
    * are excluded up front — the theta definition (`r.time <=
    * l.time`) never matches them, but the window's nulls-first sort
    * order WOULD have surfaced them as earlier-than-everything.
    * Appends `asof_ts` (matched right time, null if none) and
    * `asof_<valueCol>`. Duplicate right `(key, time)` rows resolve
    * deterministically to the GREATEST `valueCol` (the window order's
    * final tiebreaker) — without it `last()` would pick an arbitrary
    * duplicate and the output would vary across partitionings. Inputs
    * must not contain `__graft_`-prefixed columns (the internal union
    * tags); the guard fails fast instead of silently misjoining. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
               time: String, valueCol: String): DataFrame = {
    val clash = (left.columns ++ right.columns).filter(_.startsWith("__graft_"))
    require(clash.isEmpty,
      s"asofJoin inputs must not contain reserved __graft_* columns; " +
        s"found: ${clash.mkString(", ")}")
    val vType = right.schema(valueCol).dataType
    val l = left.withColumn("__graft_side", lit(1))
      .withColumn("__graft_rv", lit(null).cast(vType))
    val r = right.filter(col(time).isNotNull)
      .select(col(key), col(time), col(valueCol).as("__graft_rv"))
      .withColumn("__graft_side", lit(0))
    // right rows sort before left rows at equal time, so "at-or-before"
    // is inclusive; __graft_rv breaks duplicate right (key, time) ties
    // deterministically (left rows carry null there and are already
    // separated by __graft_side, so the extra key only orders dupes)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time).asc, col("__graft_side").asc, col("__graft_rv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__graft_asof",
        last(when(col("__graft_side") === 0,
            struct(col(time).as("t"), col("__graft_rv").as("v"))),
          ignoreNulls = true).over(w))
      .filter(col("__graft_side") === 1)
      .select(left.columns.map(col) :+
        col("__graft_asof.t").as("asof_ts") :+
        col("__graft_asof.v").as(s"asof_$valueCol"): _*)
  }

  /** As-of join, scalable formulation: instead of a per-key range join
    * (O(clicks × purchases) per user), union both event kinds and take
    * `max(click ts)` over an ordered running window — one shuffle on
    * user_id, linear in events. For each purchase: the latest click of
    * the same user at-or-before it, plus how many preceded it. */
  val qJoinAsof = Q(
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(1L).as("is_click"),
          lit(null).cast("long").as("p_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(0L).as("is_click"),
          col("event_id").as("p_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("is_click").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click_ts",
          max(when(col("is_click") === 1L, col("ts"))).over(w))
        .withColumn("n_prior_clicks", sum(col("is_click")).over(w))
        .filter(col("p_id").isNotNull)
        .select(col("p_id"), col("user_id"),
          coalesce(col("last_click_ts"), to_timestamp(lit("1970-01-01")))
            .as("last_click_ts"),
          col("n_prior_clicks"))
        .orderBy(col("p_id"))
    },
    """SELECT p.event_id AS p_id, p.user_id,
       COALESCE(MAX(c.ts), TIMESTAMP '1970-01-01') AS last_click_ts,
       COUNT(c.ts) AS n_prior_clicks
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
       ON c.user_id = p.user_id AND c.ts <= p.ts
       GROUP BY p.event_id, p.user_id
       ORDER BY p_id""")

  /** Multi-key hash aggregation with the full stat family. */
  val qAggStats = Q(
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          Num.dsum(col("o_totalprice")).as("sum_price"),
          Num.davg(col("o_totalprice")).as("avg_price"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority")),
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       ${Num.sqlSum("o_totalprice")} AS sum_price,
       ${Num.sqlAvg("o_totalprice")} AS avg_price
       FROM orders GROUP BY o_orderstatus, o_orderpriority
       ORDER BY o_orderstatus, o_orderpriority""")

  /** Exact COUNT(DISTINCT) — expands to a two-phase distinct+count. */
  val qCountDistinct = Q(
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority")),
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
       COUNT(*) AS n_orders
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  /** Explicit cross join (tiny × tiny only — the planner is allowed to
    * reject accidental cartesians; this one is intentional). */
  val qCrossJoin = Q(
    (s, d) => {
      val a = Tables.region(s, d).select(col("r_regionkey").as("ra"), col("r_name").as("name_a"))
      val b = Tables.region(s, d).select(col("r_regionkey").as("rb"), col("r_name").as("name_b"))
      a.crossJoin(b)
        .filter(col("ra") < col("rb"))
        .select(col("name_a"), col("name_b"))
        .orderBy(col("name_a"), col("name_b"))
    },
    """SELECT a.r_name AS name_a, b.r_name AS name_b
       FROM region a CROSS JOIN region b
       WHERE a.r_regionkey < b.r_regionkey
       ORDER BY name_a, name_b""")

  /** Approximate quantile sketch (KLL/GK-style `approx_percentile`) —
    * the streaming/scale answer to exact percentiles: fixed-size
    * mergeable sketch per group. Estimates are engine-specific →
    * rows-only check (the exact twin is q_median). The three quartiles
    * are projected to scalar columns (never an array output column:
    * the driver's pandas sorter cannot hash ndarray cells). */
  val qApproxQuantiles = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 1000)")
          .as("pq"))
        .select(col("l_returnflag"),
          element_at(col("pq"), 1).as("q25"),
          element_at(col("pq"), 2).as("q50"),
          element_at(col("pq"), 3).as("q75"))
        .orderBy(col("l_returnflag")),
    None)

  /** HLL sketch distinct — the 100 TB answer to COUNT(DISTINCT): one
    * fixed-size sketch per group instead of a distinct shuffle.
    * Estimates differ between engines by design → rows-only check. */
  val qApproxDistinct = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
        .orderBy(col("l_returnflag")),
    None)

  /** Post-aggregation HAVING filter — predicate on an aggregate whose
    * selectivity is scale-independent (avg over a uniform balance:
    * splits the 25 nations roughly in half at any SF). */
  val qAggHaving = Q(
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n"), Num.davg(col("c_acctbal")).as("avg_bal"))
        .filter(col("avg_bal") > lit(4600.0))
        .orderBy(col("c_nationkey")),
    s"""SELECT c_nationkey, COUNT(*) AS n, ${Num.sqlAvg("c_acctbal")} AS avg_bal
       FROM customer GROUP BY c_nationkey
       HAVING ${Num.sqlAvg("c_acctbal")} > 4600.0
       ORDER BY c_nationkey""")

  /** Global top-k: Spark plans TakeOrderedAndProject — per-partition
    * top-k then a k-row merge on the driver; never a full global sort. */
  val qTopkGlobal = Q(
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""")

  /** Per-group top-k via ranking window — the scalable idiom (single
    * shuffle on the group key; no per-group sort spill beyond the key's
    * partition). */
  val qWindowTopk = Q(
    (s, d) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      Tables.lineitem(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    },
    """SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice FROM (
         SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
                ROW_NUMBER() OVER (PARTITION BY l_suppkey
                  ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
         FROM lineitem) t
       WHERE rn <= 3 ORDER BY l_suppkey, rn""")

  /** Ranking family: row_number / rank / dense_rank / ntile /
    * percent_rank on one window. */
  val qWindowRank = Q(
    (s, d) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
      Tables.customer(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("rnk", rank().over(w))
        .withColumn("drnk", dense_rank().over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", percent_rank().over(w))
        .filter(col("rn") <= 10)
        .select(col("c_mktsegment"), col("rn"), col("rnk"), col("drnk"),
          col("quartile"), col("pct_rank"), col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_mktsegment"), col("rn"))
    },
    """SELECT c_mktsegment, rn, rnk, drnk, quartile, pct_rank, c_custkey, c_acctbal FROM (
         SELECT c_mktsegment, c_custkey, c_acctbal,
                ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
                NTILE(4) OVER w AS quartile, PERCENT_RANK() OVER w AS pct_rank
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)) t
       WHERE rn <= 10 ORDER BY c_mktsegment, rn""")

  /** Running (cumulative) sum — decimal inside the window frame so the
    * accumulation order can't produce FP drift. */
  val qWindowRunning = Q(
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
            .cast("double").as("running_spend"))
        .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
       FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""")

  /** lag / lead + day-gap between consecutive orders of a customer. */
  val qWindowLagLead = Q(
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)).as("gap_days"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey, o_totalprice,
       LAG(o_totalprice, 1) OVER w AS prev_price,
       LEAD(o_totalprice, 1) OVER w AS next_price,
       CAST(DATE_DIFF('day', LAG(o_orderdate, 1) OVER w, o_orderdate) AS INT) AS gap_days
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
       ORDER BY o_custkey, o_orderkey""")

  /** RANGE frame: trailing 30-day spend per customer. Spark orders by
    * epoch seconds with a numeric range; DuckDB uses an INTERVAL range
    * over the timestamp — identical row sets. */
  val qWindowRange30d = Q(
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").cast("long"))
        .rangeBetween(-30L * 86400L, 0L)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
            .cast("double").as("spend_30d"),
          count(lit(1)).over(w).as("n_orders_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS spend_30d,
       COUNT(*) OVER w AS n_orders_30d
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
       ORDER BY o_custkey, o_orderkey""")

  /** ROLLUP: hierarchical subtotals (segment → segment×nation → grand). */
  val qRollup = Q(
    (s, d) =>
      Tables.customer(s, d)
        .rollup(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("c_acctbal")).as("balance"))
        .orderBy(col("c_mktsegment").asc_nulls_first, col("c_nationkey").asc_nulls_first),
    s"""SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
       ${Num.sqlSum("c_acctbal")} AS balance
       FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
       ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""")

  /** CUBE: all 2^2 grouping combinations. */
  val qCube = Q(
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       ${Num.sqlSum("o_totalprice")} AS total
       FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""")

  /** GROUPING SETS through the SQL entry path ([[Q.sql]]). */
  // GROUPING() flags disambiguate "null because the column was
  // aggregated away" from "null in the data" — the classic subtotal
  // pitfall; both engines emit 1 for the aggregated-away case. The
  // flags also close the ORDER BY: on a fixture with data nulls, a
  // subtotal row would otherwise TIE the grand total on the key
  // columns and row order would be engine-dependent
  val qGroupingSets = Q.sql(
    """SELECT l_returnflag, l_linestatus,
         CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
         CAST(GROUPING(l_linestatus) AS INT) AS g_status,
         COUNT(*) AS n
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       ORDER BY l_returnflag ASC NULLS FIRST,
         l_linestatus ASC NULLS FIRST, g_flag, g_status""")

  /** DISTINCT over a projection. */
  val qDistinct = Q(
    (s, d) =>
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"))
        .distinct()
        .orderBy(col("c_mktsegment"), col("c_nationkey")),
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
       ORDER BY c_mktsegment, c_nationkey""")

  private def richCustNations(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_acctbal") > lit(9000.0))
      .select(col("c_nationkey").as("nationkey"))
  private def richSuppNations(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).filter(col("s_acctbal") > lit(5000.0))
      .select(col("s_nationkey").as("nationkey"))
  private val richCustSql = "SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0"
  private val richSuppSql = "SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000.0"

  /** UNION (distinct): nations with a rich customer or supplier. */
  val qSetUnion = Q(
    (s, d) =>
      richCustNations(s, d).union(richSuppNations(s, d))
        .distinct().orderBy(col("nationkey")),
    s"($richCustSql) UNION ($richSuppSql) ORDER BY nationkey")

  /** TPC-H Q3 (shipping priority) as SQL text ([[Q.sql]]): a SQL-first
    * user gets the same Catalyst plan space as the DataFrame API
    * (broadcast dim via hint, SMJ fact-fact, partial agg, top-10 as
    * TakeOrderedAndProject) and the same oracle guarantee. The order
    * date prints through `CAST(… AS DATE)` then `STRING`, the ISO
    * `yyyy-MM-dd` form in both engines (the Spark session runs in
    * UTC, and DuckDB reads the column as a naive TIMESTAMP). */
  val qSqlQ3 = Q.sql(
    s"""SELECT /*+ BROADCAST(c) */ l_orderkey,
         ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         CAST(CAST(o_orderdate AS DATE) AS STRING) AS orderdate, o_orderpriority
       FROM customer c
       JOIN orders o ON c_custkey = o_custkey
       JOIN lineitem l ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < TIMESTAMP '1995-03-15'
         AND l_shipdate > TIMESTAMP '1995-03-15'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, l_orderkey
       LIMIT 10""")

  /** TPC-H Q21-shaped blame query (suppliers who were
    * the SOLE late shipper on a multi-supplier order) — the
    * EXISTS + correlated NOT EXISTS pair, which planners turn into a
    * left-semi and a left-anti join against the same fact; the NOT
    * EXISTS additionally carries an outer reference to o_orderdate
    * (two-table correlation). Timestamp + INTERVAL arithmetic is
    * exact in both engines. */
  val qSqlQ21 = Q.sql(
    """SELECT s_name, COUNT(*) AS numwait
       FROM supplier, lineitem l1, orders
       WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
         AND o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey
                       AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey
                           AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 20""")

  /** Recursive CTE (landed in Spark 4 — SQL:1999 `WITH RECURSIVE`):
    * each part key walks its halving chain key → ⌊key / 2⌋ → … → 1,
    * an acyclic synthetic hierarchy over real keys, and the query
    * returns the chain depth (= ⌊log₂ key⌋) plus the chain's key sum.
    * UNION ALL recursion with a monotonically shrinking frontier, so
    * both engines iterate the same ≤ ⌈log₂ max_key⌉ rounds —
    * deterministic, integer-only, oracle-exact. The engine-surface
    * point: iterative reachability can be expressed IN SQL and planned
    * by Catalyst, not just via the DataFrame fixed-point loops
    * (PageRank, componentLabels). The halving step is spelled
    * `CAST(FLOOR(node / 2) AS BIGINT)`, which both engines accept:
    * `/` is a double division in both, exact for keys below 2^53, and
    * the cast keeps the recursive column BIGINT, as the anchor's is.
    * The outer sum is cast to BIGINT so DuckDB's HUGEINT SUM cannot
    * drift the schema (a no-op cast in Spark). */
  val qSqlRecursive = Q.sql(
    """WITH RECURSIVE chain (p_partkey, node, depth) AS (
         SELECT p_partkey, p_partkey AS node, 0 AS depth FROM part
         UNION ALL
         SELECT p_partkey, CAST(FLOOR(node / 2) AS BIGINT), depth + 1
         FROM chain WHERE node > 1)
       SELECT p_partkey, MAX(depth) AS depth_to_root,
              CAST(SUM(node) AS BIGINT) AS chain_key_sum
       FROM chain GROUP BY p_partkey
       ORDER BY p_partkey""")

  /** TPC-H Q5 (local-supplier volume) — a 6-way
    * star join with a region filter that Catalyst pushes through
    * nation to prune both dimension legs; nation/region broadcast by
    * hint, the fact-side joins left to AQE. Exercises join reorder +
    * multi-dim pruning in pure SQL text. */
  val qSqlQ5 = Q.sql(
    s"""SELECT /*+ BROADCAST(n), BROADCAST(r) */ n_name,
         ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       FROM customer, orders, lineitem, supplier, nation n, region r
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name
       ORDER BY revenue DESC, n_name""")

  /** TPC-H Q17 (small-quantity-order revenue) — a CORRELATED scalar
    * subquery per part, which Catalyst decorrelates into an aggregate
    * + join; the per-part average uses the decimal recipe so the
    * correlated threshold is bit-identical in both engines (l_quantity
    * is DOUBLE; a float AVG would be order-dependent). The count is
    * cast to BIGINT so both engines emit the same type; Spark's
    * SimplifyCasts drops the cast, so its plan is unchanged. */
  val qSqlQ17 = Q.sql(
    s"""SELECT ${Num.sqlSum("l_extendedprice")} / 7.0 AS avg_yearly,
         CAST(COUNT(*) AS BIGINT) AS n_small
       FROM lineitem l JOIN part p ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#23'
         AND l_quantity < (
           SELECT 0.2 * (${Num.sqlAvg("l2.l_quantity")})
           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")

  /** TPC-H Q18 (large-volume customers) — an IN
    * aggregate subquery that planners turn into a semi-join against a
    * grouped-HAVING derived table. The HAVING threshold compares a
    * decimal-exact sum (double SUM near the cut could flip the
    * membership set between engines). */
  val qSqlQ18 = Q.sql(
    s"""SELECT c_name, o_orderkey, o_totalprice,
         ${Num.sqlSum("l_quantity")} AS sum_qty
       FROM customer c
       JOIN orders o ON c_custkey = o_custkey
       JOIN lineitem l ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (
         SELECT l_orderkey FROM lineitem
         GROUP BY l_orderkey
         HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 250)
       GROUP BY c_name, o_orderkey, o_totalprice
       ORDER BY o_totalprice DESC, o_orderkey
       LIMIT 20""")

  /** TPC-H Q7 (volume shipping between nation pairs) —
    * the self-join of a dimension (nation joined twice, as supplier
    * nation n1 and customer nation n2) under a cross-leg pair
    * predicate, plus a YEAR() rollup of a derived revenue column.
    * True Q7 names two specific nations; the synthetic fixture has no
    * support for any single pair at sf0.001, so this keeps the shape
    * (distinct ordered pairs via `n1.n_name < n2.n_name`) with support
    * at every SF. Catalyst broadcasts both nation legs and pushes the
    * shipdate range to the scan; the pair predicate references both
    * legs so it cannot be pushed below the join and stays a post-join
    * filter — the planner-correct placement. */
  val qSqlQ7 = Q.sql(
    s"""SELECT supp_nation, cust_nation, l_year,
         ${Num.sqlSum("volume")} AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               YEAR(l_shipdate) AS l_year,
               l_extendedprice * (1.0 - l_discount) AS volume
             FROM supplier, lineitem, orders,
                  customer, nation n1, nation n2
             WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
               AND c_custkey = o_custkey
               AND s_nationkey = n1.n_nationkey
               AND c_nationkey = n2.n_nationkey
               AND n1.n_name < n2.n_name
               AND l_shipdate >= TIMESTAMP '1995-01-01'
               AND l_shipdate < TIMESTAMP '1997-01-01') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year""")

  /** TPC-H Q10 (returned-item reporting) — identify the
    * customers who returned the most revenue in one quarter: a
    * selective fact filter (returnflag = 'R' + one quarter of orders)
    * followed by a wide GROUP BY over customer attributes and a
    * top-20. The revenue sort key is decimal-exact so the LIMIT
    * cutoff cannot flip between engines. */
  val qSqlQ10 = Q.sql(
    s"""SELECT c_custkey, c_name,
         ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         c_acctbal, n_name
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1995-10-01'
         AND o_orderdate < TIMESTAMP '1996-01-01'
         AND l_returnflag = 'R'
         AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, c_acctbal, n_name
       ORDER BY revenue DESC, c_custkey
       LIMIT 20""")

  /** TPC-H Q22-shaped dormancy query — above-average-
    * balance customers with NO recent orders, counted per nation.
    * (Literal Q22 buckets by phone country code; the synthetic
    * customer table carries no phone column, and every customer has
    * SOME order, so the anti-join is windowed to 'since 2000'.)
    * Exercises an UNcorrelated scalar subquery (planned as a
    * broadcast-able single-row threshold) plus a correlated NOT
    * EXISTS with its own pushed date filter → left-anti join against
    * a pre-filtered orders side. The threshold average is
    * decimal-exact: customers balanced near the cut must land on the
    * same side in both engines. The count is cast to BIGINT so both
    * engines emit the same type (a cast SimplifyCasts drops). */
  val qSqlQ22 = Q.sql(
    s"""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
         ${Num.sqlSum("c_acctbal")} AS totacctbal
       FROM customer c JOIN nation ON c_nationkey = n_nationkey
       WHERE c_acctbal > (
           SELECT 0.5 * (${Num.sqlAvg("c2.c_acctbal")})
           FROM customer c2 WHERE c2.c_acctbal > 0.0)
         AND NOT EXISTS (
           SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey
             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
       GROUP BY n_name
       ORDER BY n_name""")

  /** TPC-H Q4 (order priority checking) — a correlated
    * EXISTS whose inner predicate compares two columns ACROSS the
    * correlation (l_shipdate vs o_orderdate + 60 days), so it cannot
    * be pre-filtered on the inner side alone; Catalyst plans it as a
    * left-semi join with the date arithmetic in the join condition.
    * (Literal Q4 uses l_commitdate < l_receiptdate; the fixture's
    * lineitem carries neither, so "late" is shipped >60 days after
    * the order date — same shape, same plan.) */
  val qSqlQ4 = Q.sql(
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
         AND EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority
       ORDER BY o_orderpriority""")

  /** TPC-H Q6 (forecasting revenue change) — the
    * pure scan-filter-aggregate: no join at all, three range
    * predicates all pushed to the parquet scan, one decimal-exact
    * SUM of a per-row product. The baseline "how fast can the engine
    * eat the fact table" query; at 100 TB it is bounded by scan
    * bandwidth × the pushed-filter selectivity, nothing else. */
  val qSqlQ6 = Q.sql(
    s"""SELECT ${Num.sqlSum("l_extendedprice * l_discount")} AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
         AND l_discount BETWEEN 0.05 AND 0.07
         AND l_quantity < 24.0""")

  /** TPC-H Q14 (promotion effect) — the conditional-
    * aggregate ratio: one join, two decimal-exact sums over the same
    * rows (a CASE-guarded numerator and the full denominator), one
    * IEEE double division at the end. Both sums go through the
    * decimal cast so the ratio's inputs are bit-identical in either
    * engine; the division itself is a single exact-rounded op. */
  val qSqlQ14 = Q.sql(
    s"""SELECT 100.0 *
         ${Num.sqlSum("CASE WHEN p_type = 'PROMO' " +
           "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} /
         ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS promo_revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1996-04-01'""")

  /** TPC-H Q16 (parts/supplier relationship) — the
    * NOT IN anti join: unlike Q21/Q22's NOT EXISTS, NOT IN has
    * null-aware semantics (one NULL in the subquery empties the
    * result), so Spark plans a LeftAnti with the null-aware flag —
    * a genuinely different operator from the EXISTS family. Plus
    * COUNT(DISTINCT) over a three-column grouping. (Literal Q16
    * reads partsupp and screens '%Complaints%' comments; the fixture
    * has neither, so lineitem is the part↔supplier association and
    * low-balance suppliers are the excluded set — same plan shape.) */
  val qSqlQ16 = Q.sql(
    """SELECT p_brand, p_type, p_size,
         COUNT(DISTINCT l_suppkey) AS supplier_cnt
       FROM part JOIN lineitem ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
         AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         AND l_suppkey NOT IN (
           SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000.0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  /** TPC-H Q19 (discounted revenue) — the disjunctive
    * join predicate: an equi key AND an OR-of-ANDs mixing columns
    * from both sides. Catalyst keeps the equi key for the hash join,
    * evaluates the disjunction as a post-join filter, and (via CNF
    * conversion) pushes the part-only disjunction `brand∈{...} AND
    * size≤35`-ish residue down to the part scan — the query pattern
    * that punishes engines without predicate normalization. */
  val qSqlQ19 = Q.sql(
    s"""SELECT ${Num.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1.0 AND 11.0)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                AND l_quantity BETWEEN 10.0 AND 20.0)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                AND l_quantity BETWEEN 20.0 AND 30.0)""")

  /** TPC-H Q8 (national market share) — the
    * CASE-inside-aggregate ratio: one nation's share of a region's
    * order volume per year, over a 7-table star join with two nation
    * legs (customer region via n1→region, supplier nation via n2).
    * Both sums accumulate in decimal; the share is ONE double
    * division at the end, so the ratio is bit-identical across
    * engines. Catalyst broadcasts all four dim legs and prunes the
    * two-year order window at the scan. */
  val qSqlQ8 = Q.sql(
    """SELECT o_year,
         CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume
                            ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
       FROM (SELECT YEAR(o_orderdate) AS o_year,
               l_extendedprice * (1.0 - l_discount) AS volume,
               n2.n_name AS supp_nation
             FROM part, lineitem, supplier, orders,
                  customer, nation n1, nation n2, region
             WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
               AND l_orderkey = o_orderkey AND o_custkey = c_custkey
               AND c_nationkey = n1.n_nationkey
               AND n1.n_regionkey = r_regionkey
               AND s_nationkey = n2.n_nationkey
               AND r_name = 'AMERICA' AND p_type = 'ECONOMY'
               AND o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                                   AND TIMESTAMP '1996-12-31') all_nations
       GROUP BY o_year
       ORDER BY o_year""")

  /** TPC-H Q9-shaped product profit — per supplier
    * nation per year, revenue minus a cost leg. True Q9 costs with
    * `ps_supplycost` from the partsupp table this star schema does
    * not have, so the cost proxy is `p_retailprice * 0.1 *
    * l_quantity` — same shape (a part-side price joined into the
    * fact and netted against revenue inside the aggregate), same
    * plan (5-way join, LIKE filter on the part leg, wide rollup).
    * The LIKE is evaluated at the part scan, shrinking the fact join
    * 27/500 before any shuffle. Net amount accumulates in decimal. */
  val qSqlQ9 = Q.sql(
    s"""SELECT nation, o_year,
         ${Num.sqlSum("amount")} AS sum_profit
       FROM (SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
               l_extendedprice * (1.0 - l_discount)
                 - p_retailprice * 0.1 * l_quantity AS amount
             FROM part, supplier, lineitem, orders, nation
             WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
               AND o_orderkey = l_orderkey
               AND s_nationkey = n_nationkey
               AND p_name LIKE '%widget%') profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC""")

  /** TPC-H Q13 (customer order-count distribution) —
    * the filter-in-ON-clause left join: the predicate on
    * o_orderpriority lives in the JOIN condition, NOT the WHERE, so
    * customers with zero qualifying orders still appear (count 0)
    * instead of being dropped — the semantic distinction Q13 exists
    * to test, and one a WHERE-clause rewrite silently corrupts.
    * Two-level aggregation: count per customer, then the histogram
    * of those counts. All-integer output — no float concerns. */
  val qSqlQ13 = Q.sql(
    """SELECT c_count, COUNT(*) AS custdist
       FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
             FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey
              AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC""")

  /** TPC-H Q15 (top supplier) — the reused named
    * subquery: a per-supplier quarterly revenue CTE referenced twice,
    * once as the join input and once under MAX in a scalar subquery.
    * Revenue stays DECIMAL through the max-equality comparison (an
    * exact tie test a double would make engine-dependent) and is cast
    * to double only in the final projection. Spark plans the scalar
    * MAX as a broadcast-able single-row subquery; at 100 TB the CTE
    * is one shuffle on l_suppkey reused for both references. */
  val qSqlQ15 = Q.sql(
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
           SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(18,6))) AS total_rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
       ORDER BY s_suppkey""")

  /** TPC-H Q2-shaped supplier selection — the
    * correlated-MIN-over-a-join shape: for each qualifying part, keep
    * the supplier(s) whose account balance equals the minimum among
    * EVERY supplier that shipped that part within the region. True Q2
    * minimizes ps_supplycost from the partsupp table this schema does
    * not have; s_acctbal preserves the structure (a four-table
    * correlated scalar subquery re-touching the fact). The outer/inner
    * comparison is equality on a STORED double — no arithmetic, so no
    * cross-engine float concern. DISTINCT collapses the lineitem
    * multiplicity; (s_name, p_partkey) makes the LIMIT order total. */
  val qSqlQ2 = Q.sql(
    """SELECT DISTINCT s_acctbal, s_name, n_name, p_partkey, p_type
       FROM part, supplier, lineitem, nation, region
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'EUROPE' AND p_size = 10
         AND s_acctbal = (SELECT MIN(s2.s_acctbal)
           FROM supplier s2, lineitem l2, nation n2, region r2
           WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
             AND s2.s_nationkey = n2.n_nationkey
             AND n2.n_regionkey = r2.r_regionkey
             AND r2.r_name = 'EUROPE')
       ORDER BY s_acctbal, s_name, p_partkey
       LIMIT 20""")

  /** TPC-H Q12-shaped shipping-priority audit — the
    * two-CASE-counts-per-group shape over a fact-fact join with a
    * late-shipment predicate (true Q12 groups by l_shipmode and
    * compares commit/receipt dates; this schema has neither, so the
    * group key is l_returnflag and "late" is shipdate > orderdate +
    * 60 days — same plan: date-window scan prune, one join, CASE
    * aggregation). All-integer output, CAST to BIGINT so DuckDB's
    * HUGEINT SUM can't drift the schema. */
  val qSqlQ12 = Q.sql(
    """SELECT l_returnflag,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND l_shipdate >= TIMESTAMP '1996-01-01'
         AND l_shipdate < TIMESTAMP '1997-01-01'
       GROUP BY l_returnflag
       ORDER BY l_returnflag""")

  /** Per-process unique suffix for the bucketed-table exhibit's
    * catalog names and /tmp layout, so concurrent verify/bench
    * processes on the same dataset never race on DROP/overwrite, plus
    * a JVM shutdown hook that removes the layout directories — no
    * files survive the run (catalog entries live in the in-memory
    * metastore and die with the JVM). */
  private lazy val bucketSuffix: String = {
    val sfx = s"p${ProcessHandle.current().pid()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      Option(new java.io.File("/tmp").listFiles()).foreach(
        _.filter(f => f.getName.startsWith("graft_bucketed_")
                   && f.getName.contains(sfx)).foreach(rm))
    }))
    sfx
  }

  /** One-time-per-session prepare for the bucketed-join exhibit: write
    * both sides `bucketBy(8, key)` + `sortBy` to external parquet
    * tables and read them back through the catalog. Memoized via
    * [[SessionMemo]] so the layout cost is paid ONCE per session per
    * dataset — exactly how a 100 TB platform amortizes bucketing over
    * every subsequent join — and the timed query measures the join,
    * not the write. */
  private def bucketedSide(s: SparkSession, d: String, which: String,
                           build: DataFrame, key: String): DataFrame =
    SessionMemo.getOrElseUpdate(s, s"bucketed_$which:$d") {
      val ds = new java.io.File(d).getName.replaceAll("[^A-Za-z0-9_]", "_")
      val tbl = s"graft_b_${which}_${ds}_$bucketSuffix"
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      build.write.mode("overwrite")
        .option("path", s"/tmp/graft_bucketed_${ds}_$bucketSuffix/$which")
        .bucketBy(8, key).sortBy(key)
        .saveAsTable(tbl)
      s.table(tbl)
    }

  /** Bucketed co-located join as a GRADED query, not just a PlanSpec
    * exhibit: both join sides come from [[bucketedSide]]'s catalog
    * tables and are merge-joined with NO Exchange on either side —
    * the plan a 100 TB platform gets by bucketing its fact tables
    * once. The `merge` hint forces the SMJ so the zero-shuffle
    * property never depends on a session broadcast threshold. The
    * oracle is the plain join — bucketing must be invisible to
    * semantics. */
  val qJoinBucketed = Q(
    (s, d) => {
      bucketedSide(s, d, "orders", Tables.orders(s, d), "o_custkey")
        .hint("merge")
        .join(bucketedSide(s, d, "customer", Tables.customer(s, d), "c_custkey"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Num.dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
         ${Num.sqlSum("o_totalprice")} AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment ORDER BY c_mktsegment""")

  /** LATERAL correlated subquery — the modern top-N-per-
    * group spelling (each customer's two largest orders via a
    * correlated ordered LIMIT in the FROM clause). Catalyst decorrelates
    * the lateral into a ranked window join; the same result as the
    * row_number() formulation (q_window_topk) but written the way a
    * SQL-2016 user writes it. The (o_totalprice, o_orderkey) sort key
    * is total, so the LIMIT cutoff cannot flip between engines. */
  val qSqlLateral = Q.sql(
    """SELECT c_custkey, c_mktsegment, o.o_orderkey, o.o_totalprice
       FROM customer c,
       LATERAL (SELECT o_orderkey, o_totalprice
                FROM orders
                WHERE o_custkey = c_custkey
                ORDER BY o_totalprice DESC, o_orderkey
                LIMIT 2) o
       WHERE c_custkey < 100
       ORDER BY c_custkey, o_totalprice DESC, o_orderkey""")

  /** TPC-H Q11-shaped important-stock query — the
    * group-vs-global-share HAVING: parts whose revenue exceeds 1.5×
    * the AVERAGE part's share of total revenue (true Q11 uses a fixed
    * fraction of partsupp stock value; a fixed fraction has no
    * support once the part count outgrows it, and the synthetic
    * revenue-per-part spread tops out at ~1.75× average, so the
    * threshold scales with part count and sits inside the measured
    * spread — same shape, every SF has rows). The share test is
    * CROSS-MULTIPLIED (`part_sum × n_parts × 2 > total × 3`):
    * decimal × integer is exact in both engines, whereas a fractional
    * multiplier would round at engine-specific decimal scales and
    * could flip rows at the threshold. Catalyst evaluates the scalar
    * subquery once and broadcasts it into the HAVING filter. */
  val qSqlQ11 = Q.sql(
    """SELECT p_partkey, CAST(grp AS DOUBLE) AS value
       FROM (SELECT p_partkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(18,6))) AS grp
             FROM lineitem JOIN part ON p_partkey = l_partkey
             GROUP BY p_partkey)
       WHERE grp * (SELECT COUNT(*) FROM part) * 2 >
         (SELECT SUM(CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(18,6))) * 3
          FROM lineitem)
       ORDER BY value DESC, p_partkey
       LIMIT 30""")

  /** TPC-H Q20-shaped excess-availability query — the nested IN +
    * CORRELATED scalar subquery pair (true Q20's `partsupp.ps_availqty` has no
    * table here, so availability is DERIVED from the fact itself:
    * a supplier's all-time shipped quantity of a part, the same proxy
    * family as qSqlQ2/qSqlQ9's). A supplier qualifies when it holds
    * some name-filtered part in excess: all-time holding > 4× the
    * part's total 1996 demand. The ×4 multiplier is MEASURED, not
    * guessed (uniform synthetic data makes untuned thresholds
    * all-or-nothing):
    * qualifying-supplier counts by multiplier are 7/10 @ sf0.001,
    * 12/100 @ sf0.01, 441/1000 @ sf0.1 — selective at every SF yet
    * never empty. Catalyst decorrelates the scalar into a per-part
    * aggregate + join and turns the INs into semi-joins; both
    * quantity sums use the decimal recipe (l_quantity is DOUBLE;
    * a float sum near the ×4 cut could flip membership between
    * engines). Output columns are keys/strings only, so the hash
    * never touches a float. */
  val qSqlQ20 = Q.sql(
    """SELECT s_suppkey, s_name, n_name
       FROM supplier JOIN nation ON s_nationkey = n_nationkey
       WHERE s_suppkey IN (
         SELECT a_suppkey FROM (
           SELECT l_partkey AS a_partkey, l_suppkey AS a_suppkey,
                  SUM(CAST(l_quantity AS DECIMAL(18,6))) AS a_qty
           FROM lineitem GROUP BY l_partkey, l_suppkey) avail
         WHERE a_partkey IN (SELECT p_partkey FROM part
                             WHERE p_name LIKE 'small%')
           AND a_qty > 4 * (
             SELECT SUM(CAST(l_quantity AS DECIMAL(18,6)))
             FROM lineitem
             WHERE l_partkey = a_partkey
               AND l_shipdate >= TIMESTAMP '1996-01-01'
               AND l_shipdate < TIMESTAMP '1997-01-01'))
       ORDER BY s_suppkey""")

  /** Schema-evolution union: two frames with different column sets
    * merged BY NAME, absent columns null-filled — the shape every
    * multi-vintage ingest hits (an old parquet partition lacks a
    * column the new one has). Positional `union` silently mismatches
    * columns; `unionByName(allowMissingColumns = true)` is the correct
    * tool and this query pins its null-filling semantics against the
    * oracle's UNION ALL BY NAME. */
  val qUnionByName = Q(
    (s, d) => {
      val v1 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
      val v2 = Tables.orders(s, d).filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority")) // the column v1's vintage lacks
      v1.unionByName(v2, allowMissingColumns = true)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority").asc_nulls_first)
    },
    s"""SELECT o_orderpriority, COUNT(*) AS n, ${Num.sqlSum("o_totalprice")} AS total
       FROM (
         SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
         UNION ALL BY NAME
         SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_orderkey % 2 = 1)
       GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""")

  val qSetUnionAll = Q(
    (s, d) =>
      richCustNations(s, d).union(richSuppNations(s, d))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey")),
    s"""SELECT nationkey, COUNT(*) AS n
       FROM (($richCustSql) UNION ALL ($richSuppSql)) u
       GROUP BY nationkey ORDER BY nationkey""")

  /** INTERSECT: nations with both. */
  val qSetIntersect = Q(
    (s, d) =>
      richCustNations(s, d).intersect(richSuppNations(s, d))
        .orderBy(col("nationkey")),
    s"($richCustSql) INTERSECT ($richSuppSql) ORDER BY nationkey")

  /** EXCEPT: nations with a rich customer but no rich supplier. */
  val qSetExcept = Q(
    (s, d) =>
      richCustNations(s, d).except(richSuppNations(s, d))
        .orderBy(col("nationkey")),
    s"($richCustSql) EXCEPT ($richSuppSql) ORDER BY nationkey")

  /** Snapshot diff (CDC shape) — classify every key across two table
    * versions as added / removed / changed with ONE co-partitioned
    * full-outer join, the primitive behind incremental medallion
    * refresh ("what changed since yesterday's gold?"). The two
    * versions are derived deterministically from orders: yesterday's
    * snapshot lacks the `% 13` keys (added since), today's dropped the
    * `% 10` keys (removed), and a `% 7`-of-open-orders slice had a 10%
    * price correction (changed). Unchanged rows — the overwhelming
    * majority at scale — are filtered out AFTER the join but BEFORE
    * the sort, so the expensive ordering only sees the delta. At
    * 100 TB both snapshots live bucketed by the key and the
    * full-outer SMJ runs with zero exchanges; the diff output is the
    * exact input a MERGE/upsert step applies downstream. Per-row
    * `* 1.1` doubles are bit-identical cross-engine; the null sides
    * of added/removed rows are emitted as -1.0 sentinels (never NULL
    * doubles) for hash portability. */
  /** The two deterministic snapshot versions the CDC pair below diffs
    * and merges (yesterday's table lacks the `% 13` keys; today's
    * dropped the `% 10` keys and corrected a `% 7`-of-open price
    * slice). */
  private def snapOld(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice").as("price_old"))

  private def snapNew(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).filter(col("o_orderkey") % 10 =!= 0)
      .withColumn("price_new",
        when(col("o_orderstatus") === "O" && col("o_orderkey") % 7 === 0,
          col("o_totalprice") * 1.1)
          .otherwise(col("o_totalprice")))
      .select(col("o_orderkey"), col("price_new"))

  /** Shared oracle prelude for the CDC pair. */
  private val duckSnapCtes =
    """WITH v_old AS (
         SELECT o_orderkey, o_totalprice AS price_old FROM orders
         WHERE o_orderkey % 13 <> 0),
       v_new AS (
         SELECT o_orderkey,
           CASE WHEN o_orderstatus = 'O' AND o_orderkey % 7 = 0
                THEN o_totalprice * 1.1 ELSE o_totalprice END AS price_new
         FROM orders WHERE o_orderkey % 10 <> 0),
       diff AS (
         SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.price_old <> n.price_new THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COALESCE(o.price_old, -1.0) AS price_old,
           COALESCE(n.price_new, -1.0) AS price_new
         FROM v_old o FULL OUTER JOIN v_new n ON o.o_orderkey = n.o_orderkey),
       delta AS (
         SELECT * FROM diff WHERE change_type <> 'unchanged')"""

  val qSnapshotDiff = Q(
    (s, d) => {
      snapOld(s, d).join(snapNew(s, d), Seq("o_orderkey"), "full")
        .withColumn("change_type",
          when(col("price_old").isNull, "added")
            .when(col("price_new").isNull, "removed")
            .when(col("price_old") =!= col("price_new"), "changed")
            .otherwise("unchanged"))
        .filter(col("change_type") =!= "unchanged")
        .select(col("o_orderkey"), col("change_type"),
          coalesce(col("price_old"), lit(-1.0)).as("price_old"),
          coalesce(col("price_new"), lit(-1.0)).as("price_new"))
        .orderBy(col("o_orderkey"))
    },
    s"""$duckSnapCtes
       SELECT o_orderkey, change_type, price_old, price_new FROM delta
       ORDER BY o_orderkey""")

  /** Merge/upsert (the MERGE INTO shape, vanilla-Spark formulation) —
    * apply a CDC delta feed onto the base snapshot: tombstone the
    * 'removed' keys (left-anti), upsert 'added'/'changed' rows with
    * latest-wins priority (union + one row_number window on the key).
    * This is how Spark expresses MERGE without a transactional table
    * format; with one, the SAME delta feed drives `MERGE INTO`
    * directly. The round-trip invariant — merge(old, diff(old, new))
    * equals new, row for row — is pinned by RelationalSpec, which is
    * what makes the diff feed trustworthy as an incremental-refresh
    * input. One shuffle on the merge key (the window); the anti join
    * broadcasts the tombstones while the delta is small and degrades
    * to a co-partitioned SMJ at scale. */
  val qMergeUpsert = Q(
    (s, d) => {
      // pinned (r19): the delta feeds TWO consumers (upserts +
      // tombstones) and its full-outer join would otherwise re-run
      // per reference — the pin materializes the changed-rows set
      // once per invocation, inside the timed run. r20 gates it
      // (r19 verdict #5: the pin's eager materialization barrier
      // measured +5-29% over the doubled join in every r19 leg at
      // toy scale): below the threshold the duplicated join is
      // cheaper than a barrier; above it (the 100 TB posture, where
      // re-running a snapshot-sized full-outer join per consumer is
      // the real cost) the delta materializes once. The gate reads
      // the SNAPSHOT scan's optimizer size estimate — parquet-footer
      // bytes, plan-stable — not the join output's (join estimates
      // are child-size products, useless as a gate). One-slot pin
      // (r19 verdict #4), keyed by dataset: repeated invocations hold
      // one live snapshot per dataset, never a pile of dead ones.
      val deltaRaw = qSnapshotDiff.fn(s, d)
      val snapBytes =
        try snapOld(s, d).queryExecution.optimizedPlan.stats.sizeInBytes
        catch { case _: Exception => BigInt(Long.MaxValue) }
      val delta =
        if (snapBytes < BigInt(64L * 1024 * 1024)) deltaRaw
        else graft.SessionMemo.pinnedSlot(s"mergeUpsert_delta:$d")(deltaRaw)
      val upserts = delta.filter(col("change_type") =!= "removed")
        .select(col("o_orderkey"), col("price_new").as("price"), lit(1).as("pri"))
      val tombstones = delta.filter(col("change_type") === "removed")
        .select(col("o_orderkey"))
      val baseRows = snapOld(s, d)
        .select(col("o_orderkey"), col("price_old").as("price"), lit(0).as("pri"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderkey")).orderBy(col("pri").desc)
      baseRows.union(upserts)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(tombstones, Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("price"))
        .orderBy(col("o_orderkey"))
    },
    s"""$duckSnapCtes,
       ups AS (SELECT o_orderkey, price_new AS price, 1 AS pri
               FROM delta WHERE change_type <> 'removed'),
       tomb AS (SELECT o_orderkey FROM delta WHERE change_type = 'removed'),
       allr AS (SELECT o_orderkey, price_old AS price, 0 AS pri FROM v_old
                UNION ALL SELECT * FROM ups),
       ranked AS (SELECT o_orderkey, price,
                    ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY pri DESC) AS rn
                  FROM allr)
       SELECT o_orderkey, price FROM ranked
       WHERE rn = 1 AND o_orderkey NOT IN (SELECT o_orderkey FROM tomb)
       ORDER BY o_orderkey""")

  /** PUBLIC composable CDC diff (exported via [[graft.Graft]]): the
    * generic form of [[qSnapshotDiff]] — classify every `key` across
    * two snapshot frames (each carrying `key` and `valueCol`) as
    * added / removed / changed with ONE co-partitioned full-outer
    * join, unchanged rows dropped before anything expensive. Output:
    * (key, change_type, <valueCol>_old, <valueCol>_new) with nulls on
    * the absent side (the graded query's -1 sentinels exist only for
    * oracle hash portability). The output is exactly the delta feed
    * [[mergeUpsert]] applies; RelationalSpec and GraftApiSpec pin the
    * merge(old, diff(old, new)) == new round-trip. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame,
                   key: String, valueCol: String): DataFrame = {
    val o = oldSnap.select(col(key), col(valueCol).as("__graft_old"))
    val n = newSnap.select(col(key), col(valueCol).as("__graft_new"))
    o.join(n, Seq(key), "full")
      .withColumn("change_type",
        when(col("__graft_old").isNull, "added")
          .when(col("__graft_new").isNull, "removed")
          .when(col("__graft_old") =!= col("__graft_new"), "changed")
          .otherwise("unchanged"))
      .filter(col("change_type") =!= "unchanged")
      .select(col(key), col("change_type"),
        col("__graft_old").as(s"${valueCol}_old"),
        col("__graft_new").as(s"${valueCol}_new"))
  }

  /** PUBLIC composable merge/upsert (exported via [[graft.Graft]]):
    * apply a [[snapshotDiff]] delta onto a base snapshot — tombstone
    * the removed keys (left-anti), upsert added/changed rows with
    * latest-wins priority (union + one row_number window on the
    * key). One shuffle on the key; the anti join broadcasts while the
    * delta is small and degrades to a co-partitioned SMJ at scale.
    *
    * Duplicate keys WITHIN base or delta (anything other than exact
    * [[snapshotDiff]] output) are resolved deterministically: the
    * survivor window tiebreaks equal priorities by `valueCol`
    * descending, so the result never depends on partitioning order
    * (ADVICE r7 — previously the winner among same-priority
    * duplicates was whichever row the shuffle happened to order
    * first). */
  def mergeUpsert(base: DataFrame, delta: DataFrame,
                  key: String, valueCol: String): DataFrame = {
    val upserts = delta.filter(col("change_type") =!= "removed")
      .select(col(key), col(s"${valueCol}_new").as(valueCol), lit(1).as("__graft_pri"))
    val tombstones = delta.filter(col("change_type") === "removed")
      .select(col(key))
    val baseRows = base.select(col(key), col(valueCol), lit(0).as("__graft_pri"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__graft_pri").desc, col(valueCol).desc)
    baseRows.union(upserts)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .join(tombstones, Seq(key), "left_anti")
      .select(col(key), col(valueCol))
  }

  val defs: Map[String, Q] = Map(
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_merge_upsert" -> qMergeUpsert,
    "q1_pricing_summary" -> q1PricingSummary,
    "q_filter_project" -> qFilterProject,
    "q_join_broadcast" -> qJoinBroadcast,
    "q_join_sortmerge" -> qJoinSortMerge,
    "q_join_multiway" -> qJoinMultiway,
    "q_join_left" -> qJoinLeft,
    "q_join_right" -> qJoinRight,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_full" -> qJoinFull,
    "q_join_range" -> qJoinRange,
    "q_join_range_binned" -> qJoinRangeBinned,
    "q_join_range_auto" -> qJoinRangeAuto,
    "q_join_asof" -> qJoinAsof,
    "q_agg_stats" -> qAggStats,
    "q_count_distinct" -> qCountDistinct,
    "q_approx_distinct" -> qApproxDistinct,
    "q_cross_join" -> qCrossJoin,
    "q_approx_quantiles" -> qApproxQuantiles,
    "q_agg_having" -> qAggHaving,
    "q_topk_global" -> qTopkGlobal,
    "q_topk_grouped_native" -> qTopkGroupedNative,
    "q_window_topk" -> qWindowTopk,
    "q_window_rank" -> qWindowRank,
    "q_window_running" -> qWindowRunning,
    "q_window_lag_lead" -> qWindowLagLead,
    "q_window_range_30d" -> qWindowRange30d,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_distinct" -> qDistinct,
    "q_set_union" -> qSetUnion,
    "q_set_union_all" -> qSetUnionAll,
    "q_union_by_name" -> qUnionByName,
    "q_sql_q3" -> qSqlQ3,
    "q_sql_q4" -> qSqlQ4,
    "q_sql_q5" -> qSqlQ5,
    "q_sql_q6" -> qSqlQ6,
    "q_sql_q7" -> qSqlQ7,
    "q_sql_q14" -> qSqlQ14,
    "q_sql_q16" -> qSqlQ16,
    "q_sql_q19" -> qSqlQ19,
    "q_sql_q10" -> qSqlQ10,
    "q_sql_q17" -> qSqlQ17,
    "q_sql_q18" -> qSqlQ18,
    "q_sql_q21" -> qSqlQ21,
    "q_sql_q22" -> qSqlQ22,
    "q_sql_q8" -> qSqlQ8,
    "q_sql_q9" -> qSqlQ9,
    "q_sql_q13" -> qSqlQ13,
    "q_sql_q15" -> qSqlQ15,
    "q_sql_q2" -> qSqlQ2,
    "q_sql_q12" -> qSqlQ12,
    "q_join_bucketed" -> qJoinBucketed,
    "q_sql_lateral" -> qSqlLateral,
    "q_sql_recursive" -> qSqlRecursive,
    "q_sql_q11" -> qSqlQ11,
    "q_sql_q20" -> qSqlQ20,
    "q_set_intersect" -> qSetIntersect,
    "q_set_except" -> qSetExcept)
}
