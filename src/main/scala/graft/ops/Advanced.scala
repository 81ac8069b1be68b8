package graft.ops

import graft.{Num, Q, Tables}
import org.apache.spark.sql.functions._

/** Advanced relational surface: subqueries, pivot/unpivot,
  * deterministic collect / arg-max, numerically robust correlation,
  * and the salted two-phase aggregation pattern for skewed keys. */
object Advanced {

  /** Uncorrelated scalar subquery (decimal-exact avg on both sides so
    * the threshold is bit-identical across engines). */
  val qSubqueryScalar = Q.sql(
    s"""SELECT o_orderkey, o_totalprice FROM orders
       WHERE o_totalprice > 1.8 * (
         SELECT ${Num.sqlAvg("o_totalprice")} FROM orders)
       ORDER BY o_orderkey""")

  /** IN / NOT IN subqueries (planned as semi/anti joins). */
  val qSubqueryIn = Q.sql(
    """SELECT o_orderkey, o_custkey FROM orders
       WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
       ORDER BY o_orderkey""")

  /** Pivot: order counts per year × status. Missing cells coalesced to
    * 0 to match the oracle's FILTER formulation. */
  val qPivot = Q(
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("yr"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"))
        .orderBy(col("yr")),
    """SELECT YEAR(o_orderdate) AS yr,
       COUNT(*) FILTER (o_orderstatus = 'F') AS F,
       COUNT(*) FILTER (o_orderstatus = 'O') AS O,
       COUNT(*) FILTER (o_orderstatus = 'P') AS P
       FROM orders GROUP BY yr ORDER BY yr""")

  /** Unpivot via the stack generator: wide measures → (metric, value)
    * rows. */
  val qUnpivot = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .selectExpr("l_orderkey", "l_linenumber",
          """stack(3, 'quantity', l_quantity, 'price', l_extendedprice,
                      'discount', l_discount) AS (metric, value)""")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
         SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value
         FROM lineitem WHERE l_orderkey < 100
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'price', l_extendedprice
         FROM lineitem WHERE l_orderkey < 100
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'discount', l_discount
         FROM lineitem WHERE l_orderkey < 100)
       ORDER BY l_orderkey, l_linenumber, metric""")

  /** collect_list made deterministic: sort the collected multiset,
    * then join to a scalar string (the driver's checker sorts result
    * frames with pandas, which cannot hash array cells — so the
    * deterministic list is emitted as a CSV string both sides). */
  val qCollect = Q(
    (s, d) =>
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy(col("n_regionkey")),
    """SELECT n_regionkey,
       ARRAY_TO_STRING(LIST_SORT(LIST(n_name)), ',') AS nations, COUNT(*) AS n
       FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")

  /** Deterministic arg-max via struct ordering (max_by has undefined
    * tie behavior; max over a (price, key) struct does not). */
  val qArgMax = Q(
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_orderstatus"),
          col("m.o_totalprice").as("top_price"),
          col("m.o_orderkey").as("top_orderkey"))
        .orderBy(col("o_orderstatus")),
    """SELECT o_orderstatus, o_totalprice AS top_price, o_orderkey AS top_orderkey
       FROM (SELECT o_orderstatus, o_totalprice, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
             FROM orders) t
       WHERE rn = 1 ORDER BY o_orderstatus""")

  /** Pearson correlation from decimal-exact moment sums: built-in
    * `corr` accumulates doubles in partition order (nondeterministic
    * across engines AND runs); exact decimal sums of x, y, x², y², xy
    * feed the closed form in one final double computation — fully
    * deterministic, still one distributed pass with map-side combine. */
  val qCorrManual = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          Num.dsum(col("l_quantity")).as("sx"),
          Num.dsum(col("l_extendedprice")).as("sy"),
          sum((col("l_quantity") * col("l_quantity")).cast("decimal(18,6)")).cast("double").as("sxx"),
          sum((col("l_extendedprice") * col("l_extendedprice")).cast("decimal(24,4)")).cast("double").as("syy"),
          sum((col("l_quantity") * col("l_extendedprice")).cast("decimal(24,4)")).cast("double").as("sxy"))
        // the moment sums are exact, but their decimal→double casts
        // can land one ulp apart across engines once a sum of squares
        // outgrows 2^53 (same class qStddevManual documents; observed
        // here at sf0.001) — so the derived correlation is rounded to
        // 1e-12, dimensionless grain orders of magnitude coarser than
        // the drift and far finer than any analytical use of r
        .withColumn("corr_qty_price",
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                 (col("n") * col("syy") - col("sy") * col("sy"))), 12))
        .select(col("l_returnflag"), col("n"), col("corr_qty_price"))
        .orderBy(col("l_returnflag")),
    """SELECT l_returnflag, n,
       ROUND((n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)), 12) AS corr_qty_price
       FROM (SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(24,4))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,4))) AS DOUBLE) AS sxy
             FROM lineitem GROUP BY l_returnflag) t
       ORDER BY l_returnflag""")

  /** Sample stddev/variance from decimal-exact moments — same
    * rationale as [[qCorrManual]]: the built-ins accumulate doubles in
    * partition order (nondeterministic); exact sums + one closed-form
    * double computation are reproducible anywhere. */
  val qStddevManual = Q(
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          count(lit(1)).as("n"),
          Num.dsum(col("o_totalprice")).as("sx"),
          sum((col("o_totalprice") * col("o_totalprice")).cast("decimal(24,4)"))
            .cast("double").as("sxx"))
        // The decimal sums are exact, but once sxx exceeds 2^53 its
        // decimal→double cast is rounded DIFFERENTLY by the two engines
        // (found at sf0.1: last-ulp drift in variance). A sum of
        // squares always outgrows double exactness at scale, so the
        // derived outputs are rounded to a grain (1 dollar² / 1e-6)
        // orders of magnitude coarser than the one-ulp drift.
        .withColumn("variance",
          round((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1), 0))
        .withColumn("stddev",
          round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)), 6))
        .select(col("o_orderstatus"), col("n"), col("variance"), col("stddev"))
        .orderBy(col("o_orderstatus")),
    s"""SELECT o_orderstatus, n,
       ROUND((sxx - sx * sx / n) / (n - 1), 0) AS variance,
       ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS stddev
       FROM (SELECT o_orderstatus, COUNT(*) AS n,
               ${Num.sqlSum("o_totalprice")} AS sx,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(24,4))) AS DOUBLE) AS sxx
             FROM orders GROUP BY o_orderstatus) t
       ORDER BY o_orderstatus""")

  /** exists / forall / filter higher-order predicates over arrays. */
  val qHofExistsForall = Q(
    (s, d) =>
      Tables.embeddings(s, d)
        .select(
          col("vec_id"),
          exists(col("embedding"), x => x.cast("double") > 0.3).as("has_large"),
          forall(col("embedding"), x => x.cast("double") > -0.5).as("all_above_neg"),
          size(filter(col("embedding"), x => x.cast("double") > 0.0)).as("n_positive"))
        .orderBy(col("vec_id")),
    """SELECT vec_id,
       LEN(LIST_FILTER(embedding, x -> CAST(x AS DOUBLE) > 0.3)) > 0 AS has_large,
       LEN(LIST_FILTER(embedding, x -> NOT (CAST(x AS DOUBLE) > -0.5))) = 0 AS all_above_neg,
       LEN(LIST_FILTER(embedding, x -> CAST(x AS DOUBLE) > 0.0)) AS n_positive
       FROM embeddings ORDER BY vec_id""")

  /** Salted two-phase aggregation — the skew-mitigation idiom: spread
    * a hot group key over `salt` subkeys, partially aggregate, then
    * merge. Result is provably identical to the direct aggregation
    * (decimal sums are associative), which the oracle checks by
    * computing the direct form. */
  val qAggSalted = Q(
    (s, d) => {
      val salted = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey"), lit(8)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("partial_sum"),
          count(lit(1)).as("partial_n"))
      salted
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("partial_sum")).cast("double").as("revenue"),
          sum(col("partial_n")).as("n"))
        .orderBy(col("l_returnflag"))
    },
    s"""SELECT l_returnflag, ${Num.sqlSum("l_extendedprice")} AS revenue,
       COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  /** Exact median (percentile-0.5). Safe against interpolation-order
    * ulp drift: the midpoint of two 2-dp values has ≤3 decimals, so a
    * 3-dp round is far from any boundary; general percentiles (p≠0.5)
    * are deliberately not oracled. */
  val qMedian = Q(
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("median(l_extendedprice)"), 3).as("median_price"),
          round(expr("median(l_quantity)"), 3).as("median_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag")),
    """SELECT l_returnflag, ROUND(MEDIAN(l_extendedprice), 3) AS median_price,
       ROUND(MEDIAN(l_quantity), 3) AS median_qty, COUNT(*) AS n
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")

  /** first_value / last_value over an unbounded frame. */
  val qWindowFirstLast = Q(
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice) OVER w AS last_price
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
       ORDER BY o_custkey, o_orderkey""")

  /** Salted join — the companion skew idiom to [[qAggSalted]]: the
    * skewed fact side derives a deterministic salt from its row key,
    * the dimension side is replicated once per salt value, and the
    * join key becomes (key, salt) — a hot key now spreads over 8
    * reducers. Result is provably identical to the unsalted join,
    * which is exactly what the oracle computes. */
  val qJoinSalted = Q(
    (s, d) => {
      val salts = 8
      val fact = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_linenumber"), lit(salts)))
      val dim = Tables.orders(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      fact.join(dim,
          fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Num.dsum(col("l_extendedprice")).as("gross"))
        .orderBy(col("o_orderpriority"))
    },
    s"""SELECT o_orderpriority, COUNT(*) AS n, ${Num.sqlSum("l_extendedprice")} AS gross
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  /** Bloom-filter join pruning — the manual twin of Spark's runtime
    * row-level filtering (`spark.sql.optimizer.runtime.bloomFilter.*`,
    * Spark's InjectRuntimeFilter): build a fixed-size bloom filter
    * over the selective dim side's join keys (`DataFrameStatFunctions
    * .bloomFilter`, a treeAggregate producing ~1 Mbit regardless of
    * input rows), ship it to executors inside the predicate, and drop
    * non-matching fact rows BEFORE the join shuffle. False positives
    * survive the probe, so the exact join behind it confirms — the
    * result is bit-identical to the plain join, which is exactly what
    * the oracle asserts (the bloom is invisible to semantics, only to
    * the shuffle byte count). Scale story: at 100 TB the fact side
    * sheds ~(1 - selectivity) of its shuffle volume for one broadcast
    * of a fixed-size bitset; sizing is `expectedNumItems`-driven, not
    * data-driven, so a skewed dim cannot blow it up. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): join
    * `fact` to `dim` on long keys with a bloom pre-filter on the fact
    * side — result provably identical to the plain inner join, only
    * the shuffle volume differs. */
  def bloomPruneJoin(fact: org.apache.spark.sql.DataFrame, factKey: String,
                     dim: org.apache.spark.sql.DataFrame, dimKey: String,
                     expectedItems: Long = 100000L,
                     fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    // the bloom build is a driver-blocking treeAggregate over the dim
    // side: built once per session per (dim plan, key, sizing), like
    // every other shared stage, so repeated invocations neither rescan
    // the dim nor broadcast a second filter
    val bloom = graft.SessionMemo.getOrElseUpdate(dim.sparkSession,
      s"bloom:${graft.SessionMemo.planKey(dim)}:$dimKey:$expectedItems:$fpp") {
      dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    }
    val mightContain = udf((k: Long) => bloom.mightContain(k))
    fact
      .filter(mightContain(col(factKey))) // pre-shuffle prune
      .join(dim, col(factKey) === col(dimKey)) // exact confirm
  }

  val qBloomPrune = Q(
    (s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      // ~1.05 Mbit at fpp 1% — sized for the largest test SF; at
      // production scale derive expectedItems from a cheap count()
      bloomPruneJoin(Tables.orders(s, d), "o_custkey", cust, "c_custkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Num.dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("o_orderpriority"))
    },
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
         ${Num.sqlSum("o_totalprice")} AS total_price
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY o_orderpriority ORDER BY o_orderpriority""")

  /** Association mining (market-basket co-occurrence): part pairs
    * appearing in the same order, with support counts and an
    * integer-exact lift score. Pairs are generated WITHIN the basket
    * key (per-basket sorted item array, a.p < b.p) — pair volume is
    * Σ k·(k−1)/2 over basket sizes, bounded by small baskets, never
    * parts². Lift =
    * nab·N / (na·nb) is emitted as `lift_permille` via integer DIV;
    * the nab·N·1000 product stays inside int64 while nab·N < 9.2e15,
    * and that headroom is now ENFORCED in-plan by [[liftPermille]]:
    * a row whose product would overflow raises a targeted error
    * (naming the counts and the DECIMAL(38,0) escape route) instead
    * of tripping ANSI mode's opaque ARITHMETIC_OVERFLOW or, worse,
    * silently wrapping with ANSI off.
    * minSupport prunes the long tail before the dimension joins. */
  def copurchasePairs(baskets: org.apache.spark.sql.DataFrame,
                      basketCol: String, itemCol: String,
                      minSupport: Long = 2L): org.apache.spark.sql.DataFrame = {
    // the distinct basket-item table feeds THREE consumers (total,
    // item counts, the basket grouping) — shared once per input per
    // session, read by q_copurchase and the Graft facade
    val op = graft.SessionMemo.shared(baskets.sparkSession,
      s"copurchase_op:${graft.SessionMemo.planKey(baskets)}:$basketCol:$itemCol") {
      baskets.select(col(basketCol).as("o"), col(itemCol).as("p")).distinct()
    }
    val total = op.agg(countDistinct(col("o")).as("total_orders"))
    // pinned: both enrich joins below broadcast this frame — without
    // the pin each BroadcastExchange re-runs the groupBy from the
    // cached op table. One slot: each invocation frees the previous
    // one's snapshot, so repeated runs hold one live pin, not a pile.
    val itemCounts = graft.SessionMemo.pinnedSlot(
      s"copurchase_itemCounts:${graft.SessionMemo.planKey(op)}")(
      op.groupBy(col("p")).agg(count(lit(1)).as("np")))
    // within-basket pairs via per-basket sorted-array expansion
    // instead of the op⋈op self-join. Same pair set by construction
    // (op is DISTINCT (o,p), so each basket's sorted item array
    // yields exactly the a.p < b.p pairs), but ONE hash-partitioned
    // exchange on the basket key replaces the join (which at sf0.1
    // re-broadcast a ~9 MB build of op every run, and past the
    // broadcast threshold would flip to a sort-merge join — the
    // 100 TB shape is the same single shuffle here, pair volume still
    // Σ k·(k−1)/2 over basket sizes, never parts²).
    // pair expansion as TWO codegen'd explodes, not a nested
    // transform-inside-transform that builds each basket's FULL pair
    // array: nested array lambdas are interpreted per element (the
    // withBucketT lesson), and the flattened k·(k-1)/2-struct array is
    // materialized per basket before its explode. posexplode +
    // slice-explode emits the same (a.p < b.p by sortedness) pair
    // multiset through GenerateExec with no interpreted lambda and no
    // per-basket pair buffer — measured ~2x less task CPU at sf0.1
    // (the query's dominant stage). Both shapes are narrow between the
    // basket agg and the pair agg, so the exchanges are the same.
    val pairs = op.groupBy(col("o"))
      .agg(sort_array(collect_list(col("p"))).as("items"))
      .select(col("items"), posexplode(col("items")).as(Seq("i", "pa")))
      .select(col("pa"),
        explode(expr("slice(items, i + 2, size(items))")).as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= minSupport)
    pairs
      .join(itemCounts.select(col("p").as("pa"), col("np").as("na")), "pa")
      .join(itemCounts.select(col("p").as("pb"), col("np").as("nb")), "pb")
      .crossJoin(broadcast(total))
      .select(col("pa"), col("pb"), col("nab"), col("na"), col("nb"),
        liftPermille.as("lift_permille"))
      .orderBy(col("pa"), col("pb"))
  }

  /** Integer-exact lift over columns `nab, na, nb, total_orders`,
    * with the int64 headroom check done BEFORE any multiplication
    * (the bound comparisons use only DIV, so the guard itself cannot
    * overflow: nab·N·1000 ≤ 2^63−1 ⟺ nab ≤ MaxLong DIV 1000 DIV N,
    * and likewise na·nb ≤ MaxLong ⟺ na ≤ MaxLong DIV nb). CaseWhen
    * branches are evaluated lazily, so in-bounds rows never touch the
    * error path. Package-visible so the bound test can forge counts
    * near the limit without building a petabyte of baskets. */
  private[graft] def liftPermille: org.apache.spark.sql.Column = expr(
    s"""CASE WHEN nab > ${Long.MaxValue}L DIV 1000 DIV total_orders
               OR na > ${Long.MaxValue}L DIV nb
         THEN CAST(raise_error(concat(
           'copurchasePairs: lift product exceeds int64 (nab=', nab,
           ', na=', na, ', nb=', nb, ', total_orders=', total_orders,
           ') — route lift through DECIMAL(38,0) with explicit FLOOR'))
           AS BIGINT)
         ELSE nab * total_orders * 1000 DIV (na * nb) END""")

  val qCopurchase = Q(
    (s, d) => copurchasePairs(
      Tables.lineitem(s, d), "l_orderkey", "l_partkey"),
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       tot AS (SELECT count(DISTINCT o) AS total_orders FROM op),
       pc AS (SELECT p, count(*) AS np FROM op GROUP BY 1),
       pairs AS (
         SELECT a.p AS pa, b.p AS pb, count(*) AS nab
         FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
         GROUP BY 1, 2 HAVING count(*) >= 2)
       SELECT pa, pb, nab, x.np AS na, y.np AS nb,
              nab * total_orders * 1000 // (x.np * y.np) AS lift_permille
       FROM pairs JOIN pc x ON pairs.pa = x.p JOIN pc y ON pairs.pb = y.p, tot
       ORDER BY pa, pb""")

  /** RFM customer segmentation: per-customer Recency (days since last
    * order, against the corpus max date so the query is reproducible),
    * Frequency (order count) and Monetary (decimal-exact spend), each
    * quartiled by NTILE(4) with the customer key as final tiebreaker
    * so bucket assignment is deterministic in both engines; output is
    * the 4×4×4 segment grid with member counts and total spend. The
    * NTILE windows are global-sort windows — fine to ~1e7 customers
    * (the per-customer agg has already reduced orders to one row
    * each); at 1e9+ customers swap the exact quartiles for
    * percentile_approx thresholds + a broadcast range compare, the
    * same documented trade as q_outliers_iqr. */
  def rfmSegments(orders: org.apache.spark.sql.DataFrame,
                  custCol: String = "o_custkey",
                  dateCol: String = "o_orderdate",
                  priceCol: String = "o_totalprice"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = orders.agg(max(col(dateCol)).as("mxd"))
    val cust = orders.groupBy(col(custCol).as("cust"))
      .agg(max(col(dateCol)).as("last_order"),
        count(lit(1)).as("freq"),
        Num.dsum(col(priceCol)).as("monetary"))
      .crossJoin(broadcast(mx))
      .select(col("cust"), datediff(col("mxd"), col("last_order")).as("rec_days"),
        col("freq"), col("monetary"))
    val scored = cust.select(col("cust"), col("monetary"),
      ntile(4).over(Window.orderBy(col("rec_days").asc, col("cust"))).as("r_score"),
      ntile(4).over(Window.orderBy(col("freq").desc, col("cust"))).as("f_score"),
      ntile(4).over(Window.orderBy(col("monetary").desc, col("cust"))).as("m_score"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        Num.dsum(col("monetary")).as("total_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Threshold-based scale twin of [[rfmSegments]] — the documented
    * 1e9-customer swap, landed: the three global-sort NTILE windows
    * are replaced by one `percentile_approx` pass that extracts the
    * 25/50/75 quartile thresholds per metric (a single reduce to one
    * row) broadcast back for a range compare, so nothing ever
    * single-partition-sorts the customer table. Scores follow the
    * percentile_approx boundary convention (smallest value whose
    * ≤-rank reaches p·n): a value equal to a threshold lands on the
    * small-value side in either orientation. On all-distinct metrics with customer count
    * divisible by 4 this reproduces NTILE(4) assignment exactly
    * (spec-pinned); under heavy ties the bucket POPULATIONS differ
    * from NTILE's forced-equal split — that is inherent to
    * value-thresholding, not an implementation defect. */
  def rfmSegmentsApprox(orders: org.apache.spark.sql.DataFrame,
                        custCol: String = "o_custkey",
                        dateCol: String = "o_orderdate",
                        priceCol: String = "o_totalprice",
                        accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    val mx = orders.agg(max(col(dateCol)).as("mxd"))
    val cust = orders.groupBy(col(custCol).as("cust"))
      .agg(max(col(dateCol)).as("last_order"),
        count(lit(1)).as("freq"),
        Num.dsum(col(priceCol)).as("monetary"))
      .crossJoin(broadcast(mx))
      .select(col("cust"), datediff(col("mxd"), col("last_order")).as("rec_days"),
        col("freq"), col("monetary"))
    val qs = cust.agg(
      percentile_approx(col("rec_days"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(accuracy)).as("rq"),
      percentile_approx(col("freq"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(accuracy)).as("fq"),
      percentile_approx(col("monetary"), array(lit(0.25), lit(0.5), lit(0.75)),
        lit(accuracy)).as("mq"))
    // percentile_approx returns the smallest value whose ≤-rank
    // reaches p·n, i.e. the LAST element of the lower bucket — so a
    // value equal to a threshold sits on the small-value side in both
    // orientations: strict > for the ascending metric (recency:
    // small = good = score 1), ≤ for the descending ones
    // (freq/monetary: large = good = score 1).
    def asc(v: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(1) + (v > t(0)).cast("int") + (v > t(1)).cast("int") +
        (v > t(2)).cast("int")
    def desc(v: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(1) + (v <= t(2)).cast("int") + (v <= t(1)).cast("int") +
        (v <= t(0)).cast("int")
    cust.crossJoin(broadcast(qs))
      .select(col("cust"), col("monetary"),
        asc(col("rec_days"), col("rq")).as("r_score"),
        desc(col("freq"), col("fq")).as("f_score"),
        desc(col("monetary"), col("mq")).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        Num.dsum(col("monetary")).as("total_monetary"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** The threshold-based RFM twin on the graded corpus, hash-checked
    * against the oracle: the GK sketch behind percentile_approx is
    * rank-exact only while n ≤ accuracy,
    * so at the default accuracy 10 000 a DuckDB replay of the
    * exact-rank convention hash-matched at sf0.001/sf0.01 (n ≤ 1.5k)
    * and drifted at sf0.1 (n = 15k, rank error ±eps·n ≈ 1.5 — the
    * measured scale-sensitivity trap). The graded instance therefore
    * pins accuracy = 1 000 000 — rank-exact through n = 1M customers,
    * a few MB of per-partial buffer, a normal production setting —
    * and the oracle replays the exact-rank threshold convention
    * (value at the ceil(p·n)-th smallest position) plus the same
    * strict->/≤ scoring orientation. Beyond n = accuracy the sketch
    * degrades gracefully per its contract — that regime is exactly
    * what q_approx_quantiles exhibits rows-only, and the exact NTILE
    * segmentation rides q_rfm_segments. ScaleSmokeSpec additionally
    * pins NTILE-grid equality on a tie-free fixture. */
  val qRfmApprox = Q(
    (s, d) => rfmSegmentsApprox(Tables.orders(s, d), accuracy = 1000000),
    s"""WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
       cust AS (
         SELECT o_custkey AS cust,
                DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                          (SELECT CAST(mxd AS DATE) FROM mx)) AS rec_days,
                COUNT(*) AS freq,
                ${Num.sqlSum("o_totalprice")} AS monetary
         FROM orders GROUP BY 1),
       rq AS (SELECT v, rn, n FROM (SELECT rec_days AS v,
                ROW_NUMBER() OVER (ORDER BY rec_days) AS rn,
                COUNT(*) OVER () AS n FROM cust)),
       fq AS (SELECT v, rn, n FROM (SELECT freq AS v,
                ROW_NUMBER() OVER (ORDER BY freq) AS rn,
                COUNT(*) OVER () AS n FROM cust)),
       mq AS (SELECT v, rn, n FROM (SELECT monetary AS v,
                ROW_NUMBER() OVER (ORDER BY monetary) AS rn,
                COUNT(*) OVER () AS n FROM cust)),
       thr AS (SELECT
         (SELECT v FROM rq WHERE rn = CEIL(0.25 * n)) AS r1,
         (SELECT v FROM rq WHERE rn = CEIL(0.50 * n)) AS r2,
         (SELECT v FROM rq WHERE rn = CEIL(0.75 * n)) AS r3,
         (SELECT v FROM fq WHERE rn = CEIL(0.25 * n)) AS f1,
         (SELECT v FROM fq WHERE rn = CEIL(0.50 * n)) AS f2,
         (SELECT v FROM fq WHERE rn = CEIL(0.75 * n)) AS f3,
         (SELECT v FROM mq WHERE rn = CEIL(0.25 * n)) AS m1,
         (SELECT v FROM mq WHERE rn = CEIL(0.50 * n)) AS m2,
         (SELECT v FROM mq WHERE rn = CEIL(0.75 * n)) AS m3),
       scored AS (
         SELECT cust, monetary,
           1 + CAST(rec_days > thr.r1 AS INT) + CAST(rec_days > thr.r2 AS INT)
             + CAST(rec_days > thr.r3 AS INT) AS r_score,
           1 + CAST(freq <= thr.f3 AS INT) + CAST(freq <= thr.f2 AS INT)
             + CAST(freq <= thr.f1 AS INT) AS f_score,
           1 + CAST(monetary <= thr.m3 AS INT) + CAST(monetary <= thr.m2 AS INT)
             + CAST(monetary <= thr.m1 AS INT) AS m_score
         FROM cust, thr)
       SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
              ${Num.sqlSum("monetary")} AS total_monetary
       FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")

  val qRfmSegments = Q(
    (s, d) => rfmSegments(Tables.orders(s, d)),
    s"""WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
       cust AS (
         SELECT o_custkey AS cust,
                DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                          (SELECT CAST(mxd AS DATE) FROM mx)) AS rec_days,
                COUNT(*) AS freq,
                ${Num.sqlSum("o_totalprice")} AS monetary
         FROM orders GROUP BY 1),
       scored AS (
         SELECT cust, monetary,
           NTILE(4) OVER (ORDER BY rec_days ASC, cust) AS r_score,
           NTILE(4) OVER (ORDER BY freq DESC, cust) AS f_score,
           NTILE(4) OVER (ORDER BY monetary DESC, cust) AS m_score
         FROM cust)
       SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
              ${Num.sqlSum("monetary")} AS total_monetary
       FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")

  val defs: Map[String, Q] = Map(
    "q_rfm_segments" -> qRfmSegments,
    "q_rfm_approx" -> qRfmApprox,
    "q_copurchase" -> qCopurchase,
    "q_bloom_prune" -> qBloomPrune,
    "q_join_salted" -> qJoinSalted,
    "q_stddev_manual" -> qStddevManual,
    "q_hof_exists_forall" -> qHofExistsForall,
    "q_median" -> qMedian,
    "q_window_first_last" -> qWindowFirstLast,
    "q_subquery_scalar" -> qSubqueryScalar,
    "q_subquery_in" -> qSubqueryIn,
    "q_pivot" -> qPivot,
    "q_unpivot" -> qUnpivot,
    "q_collect" -> qCollect,
    "q_argmax" -> qArgMax,
    "q_corr_manual" -> qCorrManual,
    "q_agg_salted" -> qAggSalted)
}
