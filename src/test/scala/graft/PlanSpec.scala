package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: these assertions are the "would this survive
  * a 100× scale-up" checks — filters/projections must reach the
  * parquet scan, small dims must broadcast, fact-fact joins must
  * sort-merge, aggregates must be partial+final, global top-k must
  * never global-sort. A regression here usually costs nothing at
  * sf0.01 and everything at 100 TB. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q_filter_project: predicates and projection pushed to the scan") {
    val plan = planOf("q_filter_project")
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") ||
      plan.contains("IsNotNull(l_shipdate)"), "shipdate filter not pushed")
    // pruned read: none of the untouched columns may appear in ReadSchema
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      s"column pruning failed: $readSchema")
  }

  test("q_join_broadcast: dim side is a BroadcastHashJoin") {
    assert(planOf("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge: merge hint produces SortMergeJoin") {
    assert(planOf("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_join_semi/anti plan as semi/anti joins, not row-multiplying joins") {
    assert(planOf("q_join_semi").contains("LeftSemi"))
    assert(planOf("q_join_anti").contains("LeftAnti"))
  }

  test("q_sql_q20: both INs decorrelate to joins, the scalar to an aggregate — no loops") {
    // the Q20 shape is only 100 TB-viable if Catalyst rewrites the
    // nested IN + correlated scalar into semi/equi joins over a
    // per-part aggregate; a CartesianProduct or BNLJ here means the
    // decorrelation failed and the plan is quadratic in the fact
    val plan = planOf("q_sql_q20")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("SemiJoin") || plan.contains("LeftSemi"), plan.take(2000))
  }

  test("q_join_bucketed: the graded query's join subtree is Exchange-free") {
    // the bucketed layout is amortized in a memoized prepare; the
    // graded plan's SortMergeJoin must then read both catalog tables
    // with NO Exchange beneath it (the groupBy above it still
    // shuffles — that aggregation is the query, not the join)
    val plan = planOf("q_join_bucketed")
    val at = plan.indexOf("SortMergeJoin")
    assert(at >= 0, plan.take(1500))
    // the SMJ's subtree is everything from its line to the end of the
    // plan text (it is the deepest operator chain); the aggregation's
    // Exchanges sit above it and are excluded by the slice
    val subtree = plan.substring(at)
    assert(!subtree.contains("Exchange"),
      s"bucketed join still shuffles:\n${subtree.take(1500)}")
    assert(subtree.contains("Bucketed: true"), subtree.take(1500))
  }

  test("AQE coalesces over-provisioned shuffle partitions at runtime") {
    // 32 shuffle partitions against kilobytes of data: the static plan
    // over-provisions, and AQE's coalesce rule must shrink the read
    // side at runtime — the mechanism that makes one partition count
    // serve every data scale
    val df = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    df.collect() // AQE finalizes only after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("coalesced"),
      s"expected an AQEShuffleRead coalesced marker:\n${plan.take(1500)}")
  }

  test("q_bloom_prune: bloom probe filters the fact BELOW the join") {
    val plan = planOf("q_bloom_prune")
    // the UDF probe must sit in a Filter under the join, not above it —
    // pruning after the shuffle would defeat the point
    val joinAt = plan.indexOf("Join")
    // the probe column may print wrapped, e.g. UDF(knownnotnull(o_custkey#1L))
    val probeAt = plan.indexOf("UDF(")
    assert(joinAt >= 0 && probeAt >= 0, plan.take(2000))
    // executedPlan prints top-down: a deeper (earlier-executed) node
    // appears LATER in the string than the join that consumes it
    assert(probeAt > joinAt, "bloom probe not below the join:\n" + plan.take(2000))
  }

  test("q_dedup_sorted: neighborhood join is equi, never BNLJ/cartesian") {
    val plan = planOf("q_dedup_sorted")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_graph_pagerank: nation legs broadcast; no nested loop anywhere") {
    val plan = planOf("q_graph_pagerank")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_sql_q16: NOT IN plans the null-aware anti join; q_sql_q4 EXISTS a semi join") {
    // NOT IN has null-aware semantics (one NULL in the subquery empties
    // the result) — Spark must plan a LeftAnti with the
    // isNullAwareAntiJoin flag set (the trailing `true` in the BHJ
    // argument list), not rewrite to the plain EXISTS anti join
    val q16 = planOf("q_sql_q16")
    assert(q16.contains("LeftAnti"), q16.take(1500))
    assert(q16.contains("LeftAnti, BuildRight, true"),
      s"anti join lost its null-aware flag:\n${q16.take(1500)}")
    val q4 = planOf("q_sql_q4")
    assert(q4.contains("LeftSemi"), q4.take(1500))
  }

  test("q1: aggregation is partial (map-side) + final") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_"),
      "no map-side partial aggregation in q1 plan")
  }

  test("q_topk_global: TakeOrderedAndProject, never a global sort") {
    val plan = planOf("q_topk_global")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("q_bm25: top-k via TakeOrdered, corpus stats broadcast, no cartesian") {
    val plan = planOf("q_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_event_transitions and q_inverted_index: never a cartesian") {
    Seq("q_event_transitions", "q_inverted_index").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1500)}")
    }
  }

  test("q_key_skew: scan pruned to the key, count aggregated partially") {
    val plan = planOf("q_key_skew")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("event_type") && !readSchema.contains("props"),
      s"key-skew must scan only the key column: $readSchema")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "the per-key count must partial-aggregate before its exchange")
  }

  test("q_quality_prune: one exchange on the group key, scan pruned") {
    val plan = planOf("q_quality_prune")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"),
      s"prune must not read unused columns: $readSchema")
    // both windows (rank, group count) share the lang partitioning —
    // exactly one hash-partitioned exchange in the whole plan
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected one group-key exchange, got $exchanges:\n${plan.take(2000)}")
  }

  test("q1 runs inside whole-stage codegen") {
    // AQE wraps the plan until execution; disable it for a static look
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = SparkEntry.queries("q1_pricing_summary")(spark, sfDir).queryExecution
      val codegen = qe.explainString(org.apache.spark.sql.execution.CodegenMode)
      val found = "Found (\\d+) WholeStageCodegen".r.findFirstMatchIn(codegen)
      assert(found.exists(_.group(1).toInt > 0), codegen.take(500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("as-of join plans with no join operator at all (union + window)") {
    val plan = planOf("q_join_asof")
    assert(!plan.contains("Join"), s"as-of should be join-free:\n${plan.take(1200)}")
    assert(plan.contains("Window"), "expected the running-window formulation")
  }

  test("minhash near-dup never plans a cartesian product") {
    val plan = planOf("q_dedup_minhash")
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("knn broadcast the query side, never the corpus") {
    val plan = planOf("q_knn_bruteforce")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(1200))
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    // Bucketing is the 100 TB answer to repeated fact-fact joins on the
    // same key: both sides pre-hashed into the same bucket layout means
    // the sort-merge join needs no Exchange at query time.
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    Tables.orders(spark, sfDir).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    Tables.customer(spark, sfDir).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1200))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n${plan.take(1500)}")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE b_orders")
      spark.sql("DROP TABLE b_customer")
    }
  }

  test("binned range join plans an equi join, never a nested loop") {
    val plan = planOf("q_join_range_binned")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"binned range join degenerated to BNLJ:\n${plan.take(1500)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("BinRangeJoin rule rewrites the natural theta join to an equi join") {
    // the auto-binned twin registers the optimizer rule itself; its
    // physical plan must contain an equi join on the synthesized bin
    // ids and no nested loop — while producing qJoinRange's results
    val df = SparkEntry.queries("q_join_range_auto")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"hint present but join still a nested loop:\n${plan.take(1500)}")
    assert(plan.contains("graft_bin"), s"no synthesized bin key:\n${plan.take(1500)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan.take(1500))
    // result parity with the un-rewritten nested-loop twin
    assert(df.collect().toSeq ===
      SparkEntry.queries("q_join_range")(spark, sfDir).collect().toSeq)
    // the hint alone (rule NOT registered) must not change results —
    // BinWidthHint evaluates to true per row and the plan stays a
    // nested loop, so an extension-less deployment degrades gracefully
    val clean = spark.newSession()
    val bands = clean.createDataFrame(Seq(
      (0.0, 100000.0, "low"), (100000.0, 300000.0, "mid"),
      (300000.0, 1000000.0, "high"))).toDF("lo", "hi", "band")
    val unruled = Tables.orders(clean, sfDir)
      .join(bands,
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi") &&
          graft.plans.BinWidthHint.binWidth(100000.0, col("o_totalprice"), col("lo")))
      .groupBy(col("band")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("band"))
    assert(unruled.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
    assert(unruled.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  /** Rows of `df`'s analyzed plan, optimized without SortBeforeProject. */
  private def rowsWithoutSortBeforeProject(df: org.apache.spark.sql.DataFrame) = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == plans.SortBeforeProject)
    try {
      val plain = org.apache.spark.sql.graft.Bridge.ofRows(spark, df.queryExecution.analyzed)
      assert(!projectsAfterGlobalSort(plain), plain.queryExecution.optimizedPlan.treeString)
      plain.collect().toSeq
    } finally spark.experimental.extraOptimizations = saved
  }

  /** True when the optimized plan holds `Project(computed, Sort(global))`. */
  private def projectsAfterGlobalSort(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    df.queryExecution.optimizedPlan.exists {
      case Project(list, Sort(_, true, _, _)) =>
        list.exists { case _: Attribute | Alias(_: Attribute, _) => false; case _ => true }
      case _ => false
    }
  }

  test("SortBeforeProject: the money parse runs after the only range exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("q_parse_money_native")(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val ranges = helper.collect(plan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(ranges.size === 1, plan.toString)
    val parses = (p: org.apache.spark.sql.execution.SparkPlan) => helper.collect(p) {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[functions.ParseMoneyExpr])) => n
    }
    assert(parses(plan).nonEmpty, plan.toString)
    assert(parses(ranges.head).isEmpty, s"parse_money_native below the range exchange:\n$plan")
    assert(!ranges.head.child.output.exists(_.dataType == StringType),
      s"the range exchange shuffles a string column:\n$plan")
  }

  test("SortBeforeProject: silver and money-parse rows equal the unrewritten plan's") {
    for (name <- Seq("q_parse_money_native", "q_financial_silver", "q_udf_parse_money")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      assert(projectsAfterGlobalSort(df), s"$name not rewritten:\n${df.queryExecution.optimizedPlan}")
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, name)
      assert(rows === rowsWithoutSortBeforeProject(df), name)
    }
  }

  test("SortBeforeProject leaves nondeterministic, sort-on-computed and narrowing projections") {
    val items = Tables.lineitem(spark, sfDir)
    val randomized = items
      .select(col("l_orderkey"), (col("l_quantity") + rand(7)).as("q"))
      .orderBy(col("l_orderkey"))
    val byComputed = items
      .select(col("l_orderkey"), col("l_extendedprice"),
        (col("l_extendedprice") * 2).as("doubled"))
      .orderBy(col("doubled"))
    val narrowing = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(col("text")).as("len"))
      .orderBy(col("doc_id"))
    for ((what, df) <- Seq("rand()" -> randomized, "computed key" -> byComputed,
        "narrowing" -> narrowing))
      assert(!projectsAfterGlobalSort(df),
        s"$what rewritten:\n${df.queryExecution.optimizedPlan}")
  }

  test("SortBeforeProject keeps orderBy.limit on TakeOrderedAndProject") {
    val df = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * 2).as("doubled"))
      .orderBy(col("l_orderkey").desc, col("l_linenumber"))
      .limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(df.collect().toSeq === rowsWithoutSortBeforeProject(df))
  }

  test("BinRangeJoin guards empty intervals and caps oversized ones") {
    if (!spark.experimental.extraOptimizations.contains(graft.plans.BinRangeJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.BinRangeJoin
    val facts = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS x")
    def joined(dim: Seq[(Double, Double, String)], w: Double) = {
      val bands = spark.createDataFrame(dim).toDF("lo", "hi", "band")
      facts.join(bands,
        col("x") >= col("lo") && col("x") < col("hi") &&
          graft.plans.BinWidthHint.binWidth(w, col("x"), col("lo")))
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
        .orderBy(col("band"))
    }
    // a lo > hi row is an always-false predicate in the nested-loop
    // original; the rewrite must yield no match, not a Sequence
    // 'Illegal sequence boundaries' crash — both across bins (500>100)
    // and inside one bin (250.7>250.2, where the residual filter does
    // the work)
    val res = joined(Seq((0.0, 100.0, "ok"), (500.0, 100.0, "empty"),
      (250.7, 250.2, "tiny_empty")), 50.0).collect()
    assert(res.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("ok", 100L)))
    // an interval spanning more bins than the cap must fail fast with
    // the remedy in the message, not materialize a giant per-row array
    val e = intercept[Exception] {
      joined(Seq((0.0, 1e12, "huge")), 0.001).collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
    assert(messages(e).contains("BinWidthHint"), messages(e).take(800))
    // ±Infinity bounds bin to Long.Min/MaxValue; a wrapping Subtract
    // span (MaxValue - MinValue = -1) would slip past the cap into
    // Sequence's opaque 'too long sequence' error — the overflow-safe
    // check must route it to the cap error with the remedy instead
    val e2 = intercept[Exception] {
      joined(Seq((Double.NegativeInfinity, Double.PositiveInfinity, "inf")), 50.0)
        .collect()
    }
    assert(messages(e2).contains("BinWidthHint"), messages(e2).take(800))
    // null bounds must emit zero bins (the original nested-loop
    // predicate is null → no match), not route into the cap-error
    // branch; constraint propagation normally masks this by inferring
    // IsNotNull from the residual, so disable it to hit the guard
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    try {
      val nb = spark.createDataFrame(Seq(
        (Some(0.0), Some(100.0), "ok"), (None, Some(100.0), "null_lo"),
        (Some(0.0), None, "null_hi"))).toDF("lo", "hi", "band")
      val r2 = facts.join(nb,
        col("x") >= col("lo") && col("x") < col("hi") &&
          graft.plans.BinWidthHint.binWidth(50.0, col("x"), col("lo")))
        .groupBy(col("band")).agg(count(lit(1)).as("n"))
        .orderBy(col("band")).collect()
      assert(r2.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("ok", 100L)))
    } finally spark.conf.set("spark.sql.constraintPropagation.enabled", "true")
  }

  test("TopKPerKeyExec fails predictably past the distinct-key cap") {
    spark.conf.set(graft.plans.TopKPerKey.MaxKeysPerPartitionKey, "10")
    try {
      val df = spark.range(0, 1000)
        .selectExpr("id AS k", "id % 7 AS v").repartition(1)
      val e = intercept[Exception] {
        graft.plans.TopKPerKey.topKPerKey(
          df.toDF(), Seq("k"), Seq(("v", true)), 2).collect()
      }
      def messages(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse("")).mkString("\n")
      assert(messages(e).contains("distinct keys"), messages(e).take(800))
      assert(messages(e).contains("row_number"), "error must name the fallback idiom")
    } finally spark.conf.unset(graft.plans.TopKPerKey.MaxKeysPerPartitionKey)
  }

  test("TopKPerKeyExec replaces the window sort and matches row_number semantics") {
    val df = SparkEntry.queries("q_topk_grouped_native")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(1500))
    assert(!plan.contains("Window"), s"window operator crept back in:\n${plan.take(1500)}")
    // the child side must NOT be fully sorted — only the final
    // presentation orderBy may sort, above the operator
    val opIdx = plan.indexOf("TopKPerKey")
    assert(!plan.substring(opIdx).contains("Sort"),
      s"per-partition sort below the bounded heap:\n${plan.take(1500)}")
    // parity with the declarative window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    val twin = Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy(col("c_mktsegment"), col("rank"))
    assert(df.collect().toSeq === twin.collect().toSeq)
  }

  test("dynamic partition pruning: dim filter prunes fact partitions at runtime") {
    // DPP is the 100 TB join pattern: the fact side is partitioned on
    // the join key, the dim side carries the selective filter, and the
    // scan of the fact is pruned by a runtime subquery on the dim —
    // without the filter ever being written against the fact.
    withTempDir("dpp_fact") { tmp =>
      val out = tmp.toString
      Tables.orders(spark, sfDir)
        .withColumn("year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("year").parquet(out)
      val fact = spark.read.parquet(out)
      // static pruning first: a LITERAL dim filter on the join key is
      // propagated through the join constraint onto the fact's partition
      // filters at plan time — no runtime pruning even needed
      val litDim = Tables.orders(spark, sfDir)
        .select(year(col("o_orderdate")).as("dim_year")).distinct()
        .filter(col("dim_year") === 1996)
      val litPlan = fact.join(litDim, col("year") === col("dim_year"))
        .queryExecution.executedPlan.toString
      assert(litPlan.contains("PartitionFilters: [(year#") ||
        litPlan.contains("(year"), s"literal dim filter not propagated:\n${litPlan.take(1500)}")
      // true DPP: the dim filter is on a NON-key column, so the partition
      // filter can only be a runtime subquery over the dim
      val dim = Tables.orders(spark, sfDir)
        .select(year(col("o_orderdate")).as("dim_year"),
          col("o_orderpriority")).distinct()
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("year") === col("dim_year"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no dynamic partition pruning in plan:\n${plan.take(1500)}")
      assert(joined.collect().nonEmpty)
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    // Salting (q_join_salted) is the manual skew answer; AQE's skew-join
    // split is the automatic one. Thresholds are lowered so sf0.001
    // exhibits the same runtime re-plan a skewed 100 TB join triggers.
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // skew: ~90% of fact rows hash to ONE hot key (a literal key
      // would constant-fold the join into a cartesian — the key must
      // stay a real column). The fact side must span MULTIPLE map
      // tasks: AQE splits a skewed reduce partition at map-output
      // granularity, so a single-mapper partition is unsplittable
      // (which is also why a one-row-group parquet file can't exhibit
      // this) — hence a multi-partition range, not a tiny file scan.
      val left = spark.range(0, 60000, 1, 8)
        .select(when(pmod(col("id"), lit(10)) < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(100))).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 100).toDF("k")
      val joined = left.join(right, Seq("k"))
      // collect, not count: AQE finalizes on the executed plan, and
      // count() would execute a DERIVED query's plan instead
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan.take(300))
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark the skew join:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_profile_table: every union branch scans exactly one column") {
    // the profiler's whole point vs the multi-distinct Expand plan:
    // each branch must column-prune its parquet scan to the single
    // profiled column (6 branches → 6 single-column ReadSchemas)
    val plan = planOf("q_profile_table")
    assert(!plan.contains("Expand"), "multi-distinct Expand crept back in")
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size === 6, s"expected 6 pruned scans, got ${schemas.size}")
    schemas.foreach { rs =>
      // a one-column struct has no comma in its ReadSchema
      assert(!rs.substring(rs.indexOf("ReadSchema")).contains(","),
        s"branch reads more than one column: $rs")
    }
  }

  test("q_copurchase and q_graph_triangles: pair joins are equi, never cartesian") {
    for (q <- Seq("q_copurchase", "q_graph_triangles")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1200)}")
      // the only nested-loop shape allowed is the 1-row scalar-total
      // broadcast (crossJoin(broadcast(agg))); it may appear several
      // times in the TEXT because self-join branches re-print the
      // shared subtree, so pin the shape, not the count
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("BuildRight") && l.contains("Cross"),
          s"$q has a non-scalar nested loop: $l")
      }
    }
  }

  test("q_fuzzy_match / q_entity_resolution: candidate join is equi on (gram, length-bucket)") {
    for (q <- Seq("q_fuzzy_match", "q_entity_resolution")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q: ${plan.take(1200)}")
      // the levenshtein confirm must run on the deduped candidate
      // pairs, NEVER inside the self-join condition (which would
      // force a nested loop over the gram groups)
      plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
        assert(l.contains("BuildRight") && l.contains("Cross"),
          s"$q has a non-scalar nested loop: $l")
      }
      // entity_resolution consumes the pairs eagerly inside the
      // union-find branch, so only the pair query's own plan carries
      // the confirm expression
      if (q == "q_fuzzy_match")
        assert(plan.contains("levenshtein"), s"$q: banded confirm missing")
    }
  }

  test("q_events_rolling_uniques_hll: window fan-out explodes HOURLY sketches, not events") {
    val plan = planOf("q_events_rolling_uniques_hll")
    // the explode (Generate) must sit ABOVE the per-hour sketch
    // aggregate: scanning downward from the top, the first Generate
    // appears before (i.e. higher than) any aggregate that reads the
    // raw user column — if the explode ran on raw events the fan-out
    // would be events×24 again and the twin loses its scale point
    val lines = plan.linesIterator.toVector
    val genIdx = lines.indexWhere(_.contains("Generate"))
    val sketchIdx = lines.indexWhere(_.contains("hll_sketch_agg"))
    assert(genIdx >= 0, "explode missing from the plan")
    assert(sketchIdx > genIdx,
      s"per-hour hll_sketch_agg (line $sketchIdx) must be BELOW the explode (line $genIdx) — fan-out must be hours×window")
    assert(plan.contains("hll_union_agg"), "trailing-window merge must be a sketch union")
  }

  test("q_substring_hotness: scan pruned to doc_id + text; shingle agg is partial") {
    val plan = planOf("q_substring_hotness")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"column pruning failed: $readSchema")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "frequency aggregation must be hash-based")
  }

  test("q_oov_rate: K-row vocab broadcasts into the probe, limit is TakeOrdered") {
    // the vocab is K rows by construction — at 100 TB the membership
    // probe must be a broadcast join (the corpus token stream never
    // shuffles for it), and the top-K must be TakeOrdered, never a
    // global sort of the vocabulary
    val plan = planOf("q_oov_rate")
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("q_ngram_novelty: attribution joins equi on the trigram, min agg is partial") {
    val plan = planOf("q_ngram_novelty")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(plan.contains("partial_min"),
      "first-doc attribution must partial-aggregate before its exchange")
  }

  test("q_dedup_cross_source: enrichment is equi on doc_id, never a cartesian") {
    // the rollup must ride the dup-graph-sized pair frame through two
    // doc_id equi-joins — a cartesian or nested-loop here would be
    // pairs × corpus
    val plan = planOf("q_dedup_cross_source")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("q_filter_funnel: the whole four-stage funnel costs exactly one corpus scan") {
    // the funnel's entire point is per-stage attrition WITHOUT
    // per-stage scans — all four cumulative flags are conditional
    // sums in one aggregate over one pass
    val plan = planOf("q_filter_funnel")
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan"))
    assert(scans == 1, s"expected 1 corpus scan, found $scans:\n${plan.take(1500)}")
  }

  test("q_source_drift: the corpus explodes once, consumers read the memoized counts") {
    // srcTot / glob / the grid join / the totals all consume the same
    // (source, term) count frame; ReuseExchange cannot unify the four
    // subtrees (the join branch's pushed isnotnull differs), so the
    // operator persists the dimension-sized counts — every consumer
    // must read the cache, and the corpus explode must not appear in
    // the consuming plan at all (one pass total, not one per consumer)
    // tree check, not string: InMemoryRelation is a leaf logical node
    // (its cached plan is not a child), so any Generate surviving in
    // the optimized plan is a LIVE corpus explode, not the cache's
    // printed definition
    val opt = SparkEntry.queries("q_source_drift")(spark, sfDir)
      .queryExecution.optimizedPlan
    val caches = opt.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r }
    val gens = opt.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    // nonEmpty, not ==4: the exact consumer count is an optimizer
    // artifact (a future Catalyst change that dedups the two
    // glob-derived subtrees would drop it to 3 with no regression,
    // ADVICE r10) — the load-bearing guarantees are "the cache is
    // consumed" plus gens.isEmpty below
    assert(caches.nonEmpty, s"expected consumers on the cache:\n$opt")
    assert(gens.isEmpty,
      s"live corpus explode past the memoized counts (${gens.size}):\n$opt")
  }

  test("q_dataset_card: one corpus scan; distincts run on the rollup, not the corpus") {
    // the card pre-aggregates at (source, lang) grain exactly so the
    // multi-countDistinct Expand multiplies DIMENSION rows, not the
    // corpus — the plan must show a single corpus scan, and any
    // Expand must sit above the first aggregate's exchange
    val plan = planOf("q_dataset_card")
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan"))
    assert(scans == 1, s"expected 1 corpus scan, found $scans:\n${plan.take(1500)}")
    val lines = plan.linesIterator.toVector
    val expandAt = lines.lastIndexWhere(_.contains("Expand"))
    val scanAt = lines.indexWhere(l =>
      l.contains("FileScan parquet") || l.contains("BatchScan"))
    val rollupExchangeAt =
      lines.lastIndexWhere(_.contains("Exchange hashpartitioning"))
    if (expandAt >= 0) {
      // plan prints root-first (deeper = later): the DEEPEST hash
      // exchange is the (source, lang) rollup collapse, and it must
      // sit between the Expand and the scan — i.e. the corpus shrinks
      // to dimension rows before any distinct Expand multiplies it
      assert(expandAt < rollupExchangeAt && rollupExchangeAt < scanAt,
        s"Expand at $expandAt vs rollup exchange $rollupExchangeAt vs " +
          s"scan $scanAt:\n${plan.take(1500)}")
    }
  }

  test("q_dedup_rate_by_source: enrichment join is equi, never a cartesian") {
    val plan = planOf("q_dedup_rate_by_source")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("unpartitioned WindowExec appears only at enumerated bounded-frame sites") {
    // A Window with an empty partition spec funnels its whole input
    // through ONE task — the classic 100 TB scale-killer. Every
    // registered query's physical plan is walked (through the AQE
    // wrapper and into cached-relation subtrees) and any query showing
    // a global window must be on the enumerated allowlist of sites
    // whose input is provably bounded BEFORE the window. New global
    // windows fail here by name instead of hiding in the WindowExec
    // log spam (round-10 verdict #6).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec

    def globalWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w)
        case _ => Nil
      }
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case o => o.children
      }
      here ++ kids.flatMap(globalWindows)
    }

    // the allowlist — every entry's bound, in one line each:
    val allowed = Map(
      // rank stamp on the k=20 survivors of orderBy().limit(k)
      "q_bm25" -> "rows ≤ k after TakeOrdered",
      // NTILE diagnostic grain over per-customer rollup (scale twin
      // q_rfm_approx carries the production path)
      "q_rfm_segments" -> "customer-grain rollup, documented diagnostic",
      // prefix-sums over the bounded interval bin spine (≤ MaxSpineBins)
      "q_interval_overlap" -> "bin spine, hard-capped",
      // key-cardinality top-10 over the HAVING-prefiltered key table
      "q_key_skew" -> "top-10 keys after prefilter",
      // vocab-growth curve: 8 checkpoints, frame is checkpoint-sized
      "q_vocab_growth" -> "decade-of-checkpoints frame")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = globalWindows(fn(spark, sfDir).queryExecution.executedPlan).size
        if (n > 0) Seq(name -> n) else Nil
    }.toMap
    val unexpected = offenders.keySet.diff(allowed.keySet)
    assert(unexpected.isEmpty,
      s"NEW global windows (add only with a documented bound): $unexpected")
    // the reverse direction keeps the allowlist from rotting: an entry
    // whose query no longer has a global window must be removed
    val stale = allowed.keySet.diff(offenders.keySet)
    assert(stale.isEmpty, s"allowlist entries with no global window: $stale")
  }

  test("q_orc_roundtrip: the quantity filter pushes into the ORC scan") {
    val plan = planOf("q_orc_roundtrip")
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan orc")).getOrElse(fail(s"no ORC scan:\n$plan"))
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(l_quantity"),
      s"quantity filter not pushed into ORC:\n${plan.take(1500)}")
    // pruned read: the written file has 4 columns, the aggregate needs 3
    assert(!scanLine.contains("l_orderkey"), s"column pruning failed: $scanLine")
  }

  test("q_csv_roundtrip: the balance filter pushes into the CSV scan") {
    val plan = planOf("q_csv_roundtrip")
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan csv")).getOrElse(fail(s"no CSV scan:\n$plan"))
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(s_acctbal"),
      s"balance filter not pushed into CSV:\n${plan.take(1500)}")
    // multiLine parallelism is per-file: the staging repartition(4)
    // must actually have produced multiple csv part files
    val dest = graft.sources.SourceQueries.sinkDir("csv", sfDir)
    val parts = new java.io.File(dest.toString).listFiles()
      .count(f => f.getName.endsWith(".csv"))
    assert(parts >= 2, s"expected multiple staged csv files, got $parts")
    assert(scanLine != null)
  }

  test("q_json_roundtrip: the balance filter pushes into the JSON scan") {
    val plan = planOf("q_json_roundtrip")
    val scanLine = plan.linesIterator
      .find(l => l.contains("FileScan json")).getOrElse(fail(s"no JSON scan:\n$plan"))
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(s_acctbal"),
      s"balance filter not pushed into JSON:\n${plan.take(1500)}")
    // escaped newlines keep JSONL line-splittable — no multiLine, so
    // the staged files must still be multiple (per-file AND intra-file
    // parallelism both available at scale)
    val dest = graft.sources.SourceQueries.sinkDir("json", sfDir)
    val parts = new java.io.File(dest.toString).listFiles()
      .count(f => f.getName.endsWith(".json"))
    assert(parts >= 2, s"expected multiple staged json files, got $parts")
    assert(scanLine != null)
  }

  test("gold mart partitioned write lays out partition directories") {
    withTempDir("gold_mart") { tmp =>
      val out = tmp.toString
      etl.Medallion.qGoldMart.fn(spark, sfDir)
        .write.mode("overwrite").partitionBy("year").parquet(out)
      val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("year=")), dirs.mkString(","))
      // partition pruning on read: only one year's files are scanned
      val pruned = spark.read.parquet(out).filter(col("year") === 1996)
      val scan = pruned.queryExecution.executedPlan.toString
      assert(pruned.count() > 0)
      assert(scan.contains("PartitionFilters: [isnotnull(year"), scan.take(1500))
    }
  }

  test("shuffle-exchange counts match the committed per-query fixture") {
    // The exchange-count plan pin: every registered batch query's
    // planned ShuffleExchange count is frozen in
    // src/test/resources/exchange_counts.tsv. An accidental extra
    // shuffle — the q_source_drift 4x-explode class — fails HERE by
    // query name instead of surfacing as cross-round bench
    // archaeology. Counting rules (counting through cache boundaries,
    // reused exchanges as leaves, and counting from the immutable
    // AdaptiveSparkPlanExec.initialPlan so a session that ran the
    // query and a fresh session count identically) live in
    // tools.ExchangeCensus; q_stream_* drains are intentionally
    // unpinned (their returned frame is only a sink read — see
    // censusAll's doc). Deliberate plan changes regenerate the
    // fixture via `sbt "runMain graft.tools.ExchangeCensus"` and
    // commit the reviewed TSV diff; `--selfcheck` re-proves the
    // invariance claim standalone.
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/exchange_counts.tsv"))
    // fixture format (census v2): name<TAB>shuffles<TAB>broadcasts —
    // a broadcast silently becoming a shuffle (or a new driver-side
    // broadcast of a large frame) is the symmetric scale risk the
    // shuffle pin alone can't see
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, sh, bc) = l.split("\t"); n -> (sh.toInt, bc.toInt)
    }.toMap finally src.close()
    val actual = tools.ExchangeCensus.censusAll(spark, sfDir).toMap

    val unpinned = actual.keySet.diff(pinned.keySet)
    assert(unpinned.isEmpty,
      s"queries missing from exchange_counts.tsv (regenerate via ExchangeCensus): $unpinned")
    val stale = pinned.keySet.diff(actual.keySet)
    assert(stale.isEmpty, s"fixture entries with no query: $stale")

    def fmt(n: String) = s"$n: ${pinned(n)} -> ${actual(n)}"
    val grew = actual.keys.filter(n =>
      actual(n)._1 > pinned(n)._1 || actual(n)._2 > pinned(n)._2).map(fmt)
    assert(grew.isEmpty,
      s"exchange-count GROWTH as (shuffles, broadcasts) — a new exchange reached the " +
        s"plan; justify and regenerate the fixture only if deliberate: ${grew.mkString(", ")}")
    // a decrease is an improvement, but a silently stale pin would let
    // the count grow back unnoticed — update the fixture explicitly
    val shrank = actual.keys.filter(n =>
      (actual(n)._1 < pinned(n)._1 || actual(n)._2 < pinned(n)._2) &&
        !grew.exists(_.startsWith(s"$n:"))).map(fmt)
    assert(shrank.isEmpty,
      s"exchange-count decrease (good!) as (shuffles, broadcasts) — regenerate the " +
        s"fixture to re-pin at the lower count: ${shrank.mkString(", ")}")
  }

  test("DumpPlans masks run-varying tokens: two dumps of one plan are equal") {
    // plan ids, expression ids and the MapPartitions function's JVM
    // identity all change on every build of the same plan
    def dump() = tools.DumpPlans.formatted(spark, "q_image_decode", sfDir)
    val (a, b) = (dump(), dump())
    assert(a.contains("MapPartitions") && a.contains("[plan_id=N]") &&
      a.contains("doc_id#0L"), a)
    assert(!a.contains("$$Lambda$"), a)
    assert(a === b)
  }
}
