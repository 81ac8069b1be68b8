package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Data-quality operators — the validate/profile/outlier family a
  * production pipeline runs before (and after) every transformation,
  * in the style of Deequ/Great Expectations. The reference has no
  * analog (its DAGs trust their inputs); at 100 TB unvalidated inputs
  * are how silent corruption propagates, so these are first-class.
  *
  * Design rules shared by the family:
  *   - every metric reduces to counts / exact decimal comparisons, so
  *     results are bit-identical across engines and partitionings;
  *   - each check is one scan + one algebraic aggregate (map-side
  *     combine applies); nothing materializes per-row state;
  *   - the public API takes caller frames (not `Tables`), so the ops
  *     compose with any source.
  */
object QualityOps {

  private val D2 = DecimalType(18, 2)

  // ---------------------------------------------------------------- profile

  /** Per-column profile: row count, non-null count, exact distinct
    * count, and portable string renderings of min/max. `render` maps a
    * raw min/max value to an engine-portable string (identity casts
    * for integers/strings; decimal fixing for doubles; explicit
    * date_format for timestamps — plain double→string and
    * timestamp→string formatting drift between engines).
    *
    * Plan shape: one independent single-column aggregate per profiled
    * column, unioned. Putting all exact distincts in ONE agg forces
    * Spark's n-way Expand (n+1× the scanned rows through one hash
    * aggregate — measured 2.6 s vs 0.3 s on 150 k orders × 6 cols);
    * the union form instead column-prunes each parquet scan to a
    * single column and runs n small 2-phase aggregates in parallel.
    *
    * The per-column passes RE-EVALUATE the input plan once each —
    * free for a parquet scan (pruning makes each pass one column),
    * n× the cost for an expensive DERIVED frame. Pass
    * `persistInput = true` for derived frames: the input is cached
    * so each pass is a cache read; the cache entry is registered
    * against the caller's own plan, so `df.unpersist()` on their
    * handle releases it when they are done — the same opt-in
    * lifecycle pattern as nearDupScreen's `persistBatch` (the callee
    * never bare-persists a caller plan behind their back). At 100 TB
    * swap
    * `countDistinct` for `approx_count_distinct` (HLL, single-pass,
    * mergeable) — kept exact here because the gate hash-compares. */
  def profile(df: DataFrame, cols: Seq[(String, Column => Column)],
              persistInput: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile: need at least one column")
    val in = if (persistInput) df.persist() else df
    cols.map { case (c, render) =>
        in.select(col(c)).agg(
            count(lit(1)).as("n_rows"),
            count(col(c)).as("n_nonnull"),
            countDistinct(col(c)).as("n_distinct"),
            render(min(col(c))).cast("string").as("min_str"),
            render(max(col(c))).cast("string").as("max_str"))
          .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_str"), col("max_str"))
      }
      .reduce(_.unionAll(_))
      .orderBy(col("col_name"))
  }

  private def ident: Column => Column = identity
  private def dec2: Column => Column = _.cast(D2)
  private def day: Column => Column = date_format(_, "yyyy-MM-dd")

  val qProfileTable = Q(
    (s, d) =>
      profile(Tables.orders(s, d), Seq(
        "o_orderkey" -> ident, "o_custkey" -> ident,
        "o_orderstatus" -> ident, "o_orderpriority" -> ident,
        "o_totalprice" -> dec2, "o_orderdate" -> day)),
    """SELECT col_name, n_rows, n_nonnull, n_distinct, min_str, max_str FROM (
         SELECT 'o_orderkey' AS col_name, count(*) AS n_rows, count(o_orderkey) AS n_nonnull,
                count(DISTINCT o_orderkey) AS n_distinct,
                CAST(min(o_orderkey) AS VARCHAR) AS min_str, CAST(max(o_orderkey) AS VARCHAR) AS max_str FROM orders
         UNION ALL
         SELECT 'o_custkey', count(*), count(o_custkey), count(DISTINCT o_custkey),
                CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderstatus', count(*), count(o_orderstatus), count(DISTINCT o_orderstatus),
                min(o_orderstatus), max(o_orderstatus) FROM orders
         UNION ALL
         SELECT 'o_orderpriority', count(*), count(o_orderpriority), count(DISTINCT o_orderpriority),
                min(o_orderpriority), max(o_orderpriority) FROM orders
         UNION ALL
         SELECT 'o_totalprice', count(*), count(o_totalprice), count(DISTINCT o_totalprice),
                CAST(CAST(min(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR),
                CAST(CAST(max(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) FROM orders
         UNION ALL
         SELECT 'o_orderdate', count(*), count(o_orderdate), count(DISTINCT o_orderdate),
                strftime(min(o_orderdate), '%Y-%m-%d'), strftime(max(o_orderdate), '%Y-%m-%d') FROM orders
       ) ORDER BY col_name""")

  // ------------------------------------------------------------ constraints

  /** One named constraint: a frame whose single LONG column counts the
    * rows violating the expectation. */
  case class Check(name: String, violations: DataFrame)

  /** Runs a suite of constraints and emits one (constraint_name,
    * violations, passed) row each. Each check is an independent
    * bounded aggregate (count of a filter, or an anti-join count), so
    * the union is a handful of one-row plans — there is no cross-check
    * shuffle. Fail-open vs fail-closed is the caller's policy; this
    * op only measures. */
  def checkConstraints(checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "checkConstraints: need at least one check")
    checks.map { c =>
        c.violations.select(
          lit(c.name).as("constraint_name"),
          col(c.violations.columns.head).cast("long").as("violations"))
      }
      .reduce(_.unionAll(_))
      .withColumn("passed", col("violations") === lit(0L))
      .orderBy(col("constraint_name"))
  }

  /** The standard relational expectations on this dataset: PK
    * uniqueness, FK closure, value ranges, domain membership. All
    * genuinely pass on the synthetic data (measured) — the spec
    * proves detection by injecting violations into each check's
    * frame. */
  def standardChecks(s: SparkSession, d: String): Seq[Check] = {
    val orders = Tables.orders(s, d)
    val cust = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    Seq(
      Check("orders_pk_unique",
        orders.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("v"))),
      Check("orders_fk_customer",
        orders.join(cust, orders("o_custkey") === cust("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("v"))),
      Check("lineitem_quantity_range",
        li.filter(!col("l_quantity").between(1, 50)).agg(count(lit(1)).as("v"))),
      Check("orders_totalprice_positive",
        orders.filter(col("o_totalprice") <= 0).agg(count(lit(1)).as("v"))),
      Check("orders_status_domain",
        orders.filter(!col("o_orderstatus").isin("F", "O", "P"))
          .agg(count(lit(1)).as("v"))))
  }

  val qConstraintsCheck = Q(
    (s, d) => checkConstraints(standardChecks(s, d)),
    """SELECT constraint_name, violations, violations = 0 AS passed FROM (
         SELECT 'orders_pk_unique' AS constraint_name,
                count(*) - count(DISTINCT o_orderkey) AS violations FROM orders
         UNION ALL
         SELECT 'orders_fk_customer', count(*) FROM orders
          WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
         UNION ALL
         SELECT 'lineitem_quantity_range', count(*) FROM lineitem
          WHERE l_quantity NOT BETWEEN 1 AND 50
         UNION ALL
         SELECT 'orders_totalprice_positive', count(*) FROM orders
          WHERE o_totalprice <= 0
         UNION ALL
         SELECT 'orders_status_domain', count(*) FROM orders
          WHERE o_orderstatus NOT IN ('F', 'O', 'P')
       ) ORDER BY constraint_name""")

  // --------------------------------------------------------------- outliers

  /** Robust (IQR-fence) outlier counts per group. Exact discrete
    * quartiles: the value at rank ceil(q·n) in the per-group sort —
    * integer rank arithmetic and decimal value comparisons keep both
    * engines bit-identical (percentile_cont-style interpolation would
    * reintroduce float drift). The Tukey fences are evaluated
    * cross-multiplied (2·price vs 5·q3 − 3·q1) so 1.5·IQR never
    * leaves decimal.
    *
    * Scale note: row_number partitions by GROUP — with few huge
    * groups that is one reducer per group, the documented exactness
    * path for the oracle. The 100 TB alternative is
    * `percentile_approx` (mergeable t-digest sketch, single pass) or
    * a two-pass fixed-width histogram; the fence logic is unchanged. */
  def outliersIqr(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("grp"), col(valueCol).cast(D2).as("v"))
    val w = Window.partitionBy("grp").orderBy("v")
    val ranked = base
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
    val quartiles = ranked
      .filter(col("rn") === expr("(n + 3) DIV 4") || col("rn") === expr("(3 * n + 3) DIV 4"))
      .groupBy(col("grp"), col("n"))
      .agg(
        min(when(col("rn") === expr("(n + 3) DIV 4"), col("v"))).as("q1"),
        min(when(col("rn") === expr("(3 * n + 3) DIV 4"), col("v"))).as("q3"))
    base.join(quartiles, "grp")
      .groupBy(col("grp"), col("n"), col("q1"), col("q3"))
      .agg(
        sum(when(col("v") * lit(2) > col("q3") * lit(5) - col("q1") * lit(3), 1L)
          .otherwise(0L)).as("n_hi"),
        sum(when(col("v") * lit(2) < col("q1") * lit(5) - col("q3") * lit(3), 1L)
          .otherwise(0L)).as("n_lo"))
      // exact internally in decimal; the final scalars go back to
      // double (one identical nearest-double cast in both engines)
      .select(col("grp").as(groupCol), col("n"),
        col("q1").cast("double").as("q1"), col("q3").cast("double").as("q3"),
        col("n_hi"), col("n_lo"))
      .orderBy(col(groupCol))
  }

  val qOutliersIqr = Q(
    (s, d) =>
      outliersIqr(
        Tables.orders(s, d).join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "o_totalprice"),
    """WITH j AS (
         SELECT c_mktsegment AS grp, CAST(o_totalprice AS DECIMAL(18,2)) AS v
         FROM orders JOIN customer ON o_custkey = c_custkey),
       r AS (
         SELECT grp, v,
                row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY grp) AS n
         FROM j),
       q AS (
         SELECT grp, n,
                min(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1,
                min(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS q3
         FROM r WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
         GROUP BY grp, n)
       SELECT j.grp AS c_mktsegment, q.n,
              CAST(q.q1 AS DOUBLE) AS q1, CAST(q.q3 AS DOUBLE) AS q3,
              CAST(SUM(CASE WHEN j.v * 2 > q.q3 * 5 - q.q1 * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
              CAST(SUM(CASE WHEN j.v * 2 < q.q1 * 5 - q.q3 * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo
       FROM j JOIN q USING (grp)
       GROUP BY 1, 2, 3, 4
       ORDER BY c_mktsegment""")

  // ------------------------------------------------------------- key skew

  /** Key-distribution skew profile — the diagnostic you run BEFORE
    * choosing a shuffle strategy at scale: the top-`topK` heaviest
    * keys of a prospective join/groupBy key, each with its row count,
    * corpus share (permille), and skew factor versus the mean key
    * (×1000). A skew factor ≫ 1000 on the head key is the signal to
    * reach for salting (q_join_salted) or AQE skew-split; a flat head
    * means plain hash partitioning is fine.
    *
    * Plan shape: one partial-aggregated groupBy on the key (the only
    * corpus-sized stage), then windows and ranking over the
    * key-cardinality frame. The global `sum/count OVER ()` and the
    * top-K window are single-partition — bounded by key cardinality,
    * not corpus size, and the contract is the same as the profiler's:
    * this diagnoses keys you are about to shuffle on, which must have
    * manageable cardinality to begin with. For billion-key frames cut
    * the tail with a `HAVING count > threshold` before the window.
    * All arithmetic is integer (`DIV`), bit-identical cross-engine;
    * the n·n_keys·1000 headroom is ENFORCED in-plan (same DIV-only
    * bound-check pattern as copurchasePairs' liftPermille): a row
    * whose product would leave int64 raises a targeted error naming
    * the counts and the DECIMAL(38,0) escape route instead of
    * silently wrapping. Ranking tiebreaks equal counts by key so the
    * top-K set is total-ordered and portable. */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"keySkew: topK must be >= 1, got $topK")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("n_keys", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("key").asc)))
      .filter(col("rk") <= topK)
      .select(col("rk"), col("key"), col("n"),
        expr("n * 1000 DIV total").as("share_permille"),
        skewX1000.as("skew_x1000"))
      .orderBy(col("rk"))
  }

  /** The skew factor with its int64 bound enforced — reads columns
    * `n`, `n_keys`, `total`. DIV-only bound check (never multiplies
    * before checking), raise_error inside the lazy CaseWhen branch so
    * the optimizer cannot hoist it. */
  private[graft] def skewX1000: Column = expr(
    s"""CASE WHEN n > ${Long.MaxValue}L DIV 1000 DIV n_keys
          THEN CAST(raise_error(concat(
            'keySkew: skew product exceeds int64 (n=', n,
            ', n_keys=', n_keys,
            ') — route the factor through DECIMAL(38,0)'))
            AS BIGINT)
          ELSE n * n_keys * 1000 DIV total END""")

  val qKeySkew = Q(
    (s, d) => keySkew(Tables.events(s, d), "user_id"),
    """WITH k AS (SELECT user_id AS key, COUNT(*) AS n FROM events GROUP BY 1),
       t AS (SELECT key, n,
               CAST(SUM(n) OVER () AS BIGINT) AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_keys,
               ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS rk
             FROM k)
       SELECT rk, key, n, n * 1000 // total AS share_permille,
              n * n_keys * 1000 // total AS skew_x1000
       FROM t WHERE rk <= 10 ORDER BY rk""")

  /** Per-source token-distribution drift vs the whole corpus — the
    * domain-shift / collection-bug detector: a source whose unigram
    * distribution walks away from the corpus norm is either a new
    * domain (re-weight it) or a scraper regression (quarantine it).
    * Metric: total-variation-style L1 distance in integer PPM —
    * Σ_terms |c_st·1e6 DIV n_s − c_t·1e6 DIV N| over the full
    * source×vocab grid (absent terms count at their corpus rate).
    * All-integer DIV, so the per-term contributions sum exactly in
    * any order and both engines agree bitwise — the same reason every
    * score here avoids float accumulation. Headroom: c_t·1e6 needs
    * c_t < 9.2e12; past that (a single term appearing ~10¹³ times)
    * route the products through DECIMAL(38,0).
    *
    * Scale shape: one token explode → (source, term) partial-agg'd
    * counts; everything after is vocab×strata-sized (the grid cross
    * join is |sources|·|vocab| — dimension-scale, never corpus-scale);
    * the corpus totals are a 1-row broadcast. The count frame feeds
    * FOUR consumers (srcTot, glob, the grid join, the totals), and
    * Spark's ReuseExchange cannot unify them (the join branch's
    * pushed isnotnull makes its scan subtree differ), so it is
    * memoized + persisted once per (input, cols) per session — same
    * lifecycle pattern as copurchasePairs' basket-item table; without
    * it the plan explodes the corpus once PER CONSUMER (PlanSpec pins
    * the single-scan shape). Size honesty (ADVICE r10): post-agg the
    * cache is strata×VOCAB rows, and unigram vocabulary grows with the
    * corpus (Heaps' law — the repo's own q_vocab_growth documents the
    * curve), so "dimension-sized" holds only in the
    * orders-of-magnitude-below-the-corpus sense, not as a constant.
    * persist() defaults to MEMORY_AND_DISK, so an outsized vocab
    * spills rather than OOMs; eviction rides the SessionMemo
    * lifecycle (entries are freed with the session — WeakHashMap —
    * and `spark.catalog.clearCache()` drops the blocks early; a
    * production pipeline with an unbounded vocab should pre-prune to
    * a top-K term whitelist like oovRate does). A [[graft.SessionMemo.shared]]
    * stage, read by q_source_drift and the Graft facade. */
  /** PUBLIC composable form (exported via [[graft.Graft]]): drift of
    * `groupCol` strata vs the whole frame over `textCol` unigrams. */
  def sourceDrift(docs: DataFrame, groupCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    val st = graft.SessionMemo.shared(docs.sparkSession,
      s"source_drift_st:${graft.SessionMemo.planKey(docs)}:$groupCol:$textCol") {
      docs
        .select(col(groupCol).as("source"),
          explode(split(col(textCol), " ")).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c_st"))
    }
    val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val glob = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val tot = glob.agg(sum(col("c_t")).as("n_tot"))
    srcTot.crossJoin(glob) // strata × vocab grid, dimension-sized
      .join(st, Seq("source", "term"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("diff", expr(
        "abs(coalesce(c_st, 0L) * 1000000 DIV n_s - c_t * 1000000 DIV n_tot)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_tokens"), sum(col("diff")).as("drift_ppm"))
      .orderBy(col("source"))
  }

  val qSourceDrift = Q(
    (s, d) => sourceDrift(Tables.documents(s, d)),
    """WITH st AS (
         SELECT source, term, COUNT(*) AS c_st
         FROM (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
               FROM documents)
         GROUP BY source, term),
       src AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s
               FROM st GROUP BY source),
       gt AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t
              FROM st GROUP BY term),
       tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_tot FROM gt)
       SELECT source, MAX(n_s) AS n_tokens,
         CAST(SUM(ABS(COALESCE(c_st, 0) * 1000000 // n_s
                      - c_t * 1000000 // n_tot)) AS BIGINT) AS drift_ppm
       FROM src CROSS JOIN gt
       LEFT JOIN st USING (source, term) CROSS JOIN tot
       GROUP BY source ORDER BY source""")

  val defs: Map[String, Q] = Map(
    "q_source_drift" -> qSourceDrift,
    "q_profile_table" -> qProfileTable,
    "q_constraints_check" -> qConstraintsCheck,
    "q_outliers_iqr" -> qOutliersIqr,
    "q_key_skew" -> qKeySkew)
}
