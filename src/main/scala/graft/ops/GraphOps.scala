package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Iterative graph computation, Spark-style: derive an edge list from
  * the fact tables (the 100 TB-heavy part — one join cascade plus one
  * groupBy, after which the graph is dimension-sized), then iterate
  * join→aggregate rounds over it.
  *
  * Determinism is the interesting design constraint: classic PageRank
  * accumulates doubles across a shuffle, whose order neither engine
  * controls — three iterations of order-dependent rounding and the two
  * engines drift apart. So the rank vector is kept in FIXED-POINT
  * (int64, scaled by 1e9) and every step is integer arithmetic: sums
  * are exact and order-independent, division is `DIV` (truncating —
  * identical to DuckDB's `//` on non-negative values), and damping is
  * `× 85 DIV 100`. Both engines then compute bit-identical ranks, so
  * an iterative approximate algorithm becomes hash-exact. Overflow
  * headroom: ranks ≤ 25e9, edge weights ≤ 1e6, so r·w ≤ 2.5e16 ≪
  * 2^63. */
object GraphOps {

  /** Directed nation-level trade graph: supplier-nation → customer-
    * nation, weighted by shipped line items. The join cascade over the
    * fact table is the only corpus-sized stage either graph query has,
    * and BOTH consume the identical ≤ |nations|² result — so it is
    * derived once per (session, dir), pinned via [[graft.SessionMemo.pinned]]
    * (eager, so the build cost lands on the memo entry — same
    * attribution pattern as the dedup pair families — and recomputable
    * on block loss, unlike a localCheckpoint), and
    * every PageRank iteration / wedge
    * join reads the materialized dimension-sized frame instead of
    * replaying four fact joins (bench: 1.5 s + 0.5 s of per-query
    * cascade collapsed into one shared build). */
  private def edges(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, s"trade_edges:$d") {
      graft.SessionMemo.pinned(Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d))
          .select(col("n_nationkey").as("snk"), col("n_name").as("src")),
          col("s_nationkey") === col("snk"))
        .join(broadcast(Tables.nation(s, d))
          .select(col("n_nationkey").as("cnk"), col("n_name").as("dst")),
          col("c_nationkey") === col("cnk"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w")))
    }

  /** PUBLIC composable form (exported via [[graft.Graft]]):
    * fixed-point PageRank over any (src, dst, w) edge frame and
    * (node) node frame — damping 0.85, teleport floor(0.15e9), ranks
    * int64-scaled by 1e9, dangling mass dropped (the simplified
    * textbook form). Each iteration is one join + one integer-sum
    * aggregate; `localCheckpoint` the edge frame first if it was
    * derived by an expensive cascade. */
  def pagerankFixedPoint(edgeList: DataFrame, nodes: DataFrame,
                         iterations: Int): DataFrame = {
    require(iterations >= 1)
    val outw = edgeList.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val ew = edgeList.join(outw, "src")
    var ranks = nodes.withColumn("r", lit(1000000000L))
    for (_ <- 1 to iterations) {
      val contrib = ew.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("(r * w) DIV wout").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cin"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(150000000L) + expr("(coalesce(cin, 0L) * 85) DIV 100")).as("r"))
    }
    ranks
  }

  /** Three fixed-point PageRank iterations over the trade graph; the
    * edge derivation is the only fact-scale stage, and the DuckDB
    * twin unrolls the identical three CTE rounds. */
  val qGraphPagerank = Q(
    (s, d) => {
      val e = edges(s, d) // memoized + checkpointed; iterate on the result
      val nodes = Tables.nation(s, d).select(col("n_name").as("node"))
      pagerankFixedPoint(e, nodes, iterations = 3)
        .orderBy(col("r").desc, col("node"))
    },
    """WITH e AS (
         SELECT src, dst, COUNT(*) AS w
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN (SELECT n_nationkey AS snk, n_name AS src FROM nation) sn
           ON s_nationkey = snk
         JOIN (SELECT n_nationkey AS cnk, n_name AS dst FROM nation) cn
           ON c_nationkey = cnk
         GROUP BY src, dst),
       ew AS (
         SELECT e.src, e.dst, e.w, o.wout
         FROM e JOIN (SELECT src, SUM(w) AS wout FROM e GROUP BY src) o
           ON e.src = o.src),
       nodes AS (SELECT n_name AS node FROM nation),
       r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes),
       c1 AS (SELECT dst, CAST(SUM((r * w) // wout) AS BIGINT) AS cin
              FROM ew JOIN r0 ON src = node GROUP BY dst),
       r1 AS (SELECT node,
                CAST(150000000 + (COALESCE(cin, 0) * 85) // 100 AS BIGINT) AS r
              FROM nodes LEFT JOIN c1 ON node = dst),
       c2 AS (SELECT dst, CAST(SUM((r * w) // wout) AS BIGINT) AS cin
              FROM ew JOIN r1 ON src = node GROUP BY dst),
       r2 AS (SELECT node,
                CAST(150000000 + (COALESCE(cin, 0) * 85) // 100 AS BIGINT) AS r
              FROM nodes LEFT JOIN c2 ON node = dst),
       c3 AS (SELECT dst, CAST(SUM((r * w) // wout) AS BIGINT) AS cin
              FROM ew JOIN r2 ON src = node GROUP BY dst),
       r3 AS (SELECT node,
                CAST(150000000 + (COALESCE(cin, 0) * 85) // 100 AS BIGINT) AS r
              FROM nodes LEFT JOIN c3 ON node = dst)
       SELECT node, r FROM r3 ORDER BY r DESC, node""")

  /** Per-node triangle counts over an undirected graph — the second
    * graph kernel (clustering/cohesion), built from two equi-joins:
    * canonicalize each edge to (a < b), join wedges (a,b)×(b,c), close
    * them against (a,c), explode the three corners, count per node.
    *
    * Scale: both joins are keyed on single node columns; the classic
    * hub-skew fix is to orient edges from the lower- to the
    * higher-DEGREE endpoint (bounds wedges at O(m^1.5)); the
    * lexicographic orientation here keeps the engine-portable oracle
    * simple and is the only difference. Never materializes wedges for
    * pairs that can't close: the closing join prunes them. */
  def triangleCounts(edgeList: DataFrame, nodes: DataFrame): DataFrame = {
    val und = edgeList.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val tri = und.as("e1")
      .join(und.as("e2"), col("e2.a") === col("e1.b"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("node")
  }

  /** Degree-ordered triangle counting — the hub-skew-proof form and
    * the facade default. Each canonical edge is oriented from its
    * lower-degree endpoint to its higher-degree endpoint (node order
    * breaks degree ties), wedges pair the out-neighbors of each apex,
    * and the closing join runs against the canonical undirected edge
    * set. Every out-degree in the oriented graph is O(√m), so wedge
    * volume is bounded by O(m^1.5) REGARDLESS of hubs — the
    * lexicographic [[triangleCounts]] can generate deg(hub)² wedges
    * from one celebrity node, which at 100 TB is the difference
    * between a bounded shuffle and an exploding one. Each triangle is
    * counted exactly once: it has a unique degree-minimal apex whose
    * two edges both point outward. Identical output to
    * [[triangleCounts]] (pinned in NorthStarSpec and ScaleSmokeSpec);
    * kept out of the graded query only because replaying the degree
    * orientation in the oracle buys no extra correctness signal. */
  def triangleCountsDegreeOrdered(edgeList: DataFrame, nodes: DataFrame): DataFrame = {
    val und = edgeList.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b iff (deg(a), a) < (deg(b), b); a < b already, so a
    // degree tie keeps the canonical direction
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("v"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e2.u") === col("e1.u") && col("e1.v") < col("e2.v"))
      // the wedge tips are in node order by construction, so the
      // closing probe hits the canonical (a, b) form directly
      .join(und.as("e3"),
        col("e3.a") === col("e1.v") && col("e3.b") === col("e2.v"))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
    val corners = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .orderBy("node")
  }

  /** Graded exhibit: triangles of the above-average-weight trade
    * graph. The threshold is cross-multiplied (w · n_edges > Σw) so
    * "above average" never leaves integers — adaptive per SF, exact
    * in both engines. */
  val qGraphTriangles = Q(
    (s, d) => {
      val e = edges(s, d)
      val tot = e.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw"))
      val strong = e.crossJoin(broadcast(tot))
        .filter(col("w") * col("ne") > col("tw"))
        .select(col("src"), col("dst"))
      triangleCounts(strong,
        Tables.nation(s, d).select(col("n_name").as("node")))
    },
    """WITH e AS (
         SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS w
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         GROUP BY 1, 2),
       tot AS (SELECT count(*) AS ne, sum(w) AS tw FROM e),
       und AS (
         SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         FROM e, tot WHERE src <> dst AND w * ne > tw),
       tri AS (
         SELECT e1.a AS x, e1.b AS y, e2.b AS z
         FROM und e1
         JOIN und e2 ON e2.a = e1.b
         JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       cnt AS (
         SELECT node, count(*) AS n_triangles
         FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         GROUP BY 1)
       SELECT n.n_name AS node, COALESCE(c.n_triangles, 0) AS n_triangles
       FROM nation n LEFT JOIN cnt c ON n.n_name = c.node
       ORDER BY node""")

  /** Recursive CTE #2 — recursion over a REAL edge set with
    * data-dependent frontiers (the q_sql_recursive exhibit
    * synthesizes a halving chain whose frontier shrinks by
    * construction; here the frontier is whatever the data makes it).
    * Bounded-depth all-pairs reachability over the STRONG trade
    * graph — the above-average-weight edges, the same integer
    * cross-multiplied filter as q_graph_triangles, kept DIRECTED here
    * — anchored at every nation at once: every ≤3-hop path
    * contributes a row, so the grade checks both hop distances (MIN)
    * and exact bounded-path counts (COUNT — sensitive to every
    * surviving edge). The `hops < 3` cap bounds both engines at 4
    * rounds regardless of corpus; recursion runs on the
    * ≤ |nations|² strong-edge frame, so total path volume is
    * ≤ |nations| · degree³ — dimension-sized at any SF. Anchor
    * columns are aliased (an unaliased anchor
    * materializes per-round LogicalRDDs with duplicate attribute
    * names). */
  val qTradeReach = Q(
    (s, d) => {
      val e = edges(s, d)
      val tot = e.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw"))
      e.crossJoin(broadcast(tot))
        .filter(col("w") * col("ne") > col("tw"))
        .select(col("src"), col("dst"))
        .createOrReplaceTempView("strong_e")
      Tables.nation(s, d).select(col("n_name").as("node"))
        .createOrReplaceTempView("trade_nodes")
      s.sql(
        """WITH RECURSIVE reach (root, node, hops) AS (
             SELECT node AS root, node, 0 AS hops FROM trade_nodes
             UNION ALL
             SELECT r.root, e.dst AS node, r.hops + 1 AS hops
             FROM reach r JOIN strong_e e ON r.node = e.src
             WHERE r.hops < 3)
           SELECT root, node, MIN(hops) AS min_hops, COUNT(*) AS n_paths
           FROM reach GROUP BY root, node ORDER BY root, node""")
    },
    """WITH RECURSIVE e AS (
         SELECT sn.n_name AS src, cn.n_name AS dst, count(*) AS w
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         GROUP BY 1, 2),
       tot AS (SELECT count(*) AS ne, sum(w) AS tw FROM e),
       strong_e AS (
         SELECT src, dst FROM e, tot WHERE w * ne > tw),
       reach(root, node, hops) AS (
         SELECT n_name AS root, n_name AS node, 0 AS hops FROM nation
         UNION ALL
         SELECT r.root, e.dst, r.hops + 1
         FROM reach r JOIN strong_e e ON r.node = e.src
         WHERE r.hops < 3)
       SELECT root, node, MIN(hops) AS min_hops,
              CAST(COUNT(*) AS BIGINT) AS n_paths
       FROM reach GROUP BY root, node ORDER BY root, node""")

  val defs: Map[String, Q] = Map(
    "q_graph_pagerank" -> qGraphPagerank,
    "q_graph_triangles" -> qGraphTriangles,
    "q_trade_reach" -> qTradeReach)
}
