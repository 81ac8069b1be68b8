package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The plan dumper, in two forms.
  *
  * `sbt "runMain graft.tools.DumpPlans"` regenerates docs/PLANS.md:
  * formatted physical plans of the headline queries at sf0.001, so
  * plan-shape review (pushdown, broadcast, partial agg) is part of the
  * repo rather than a REPL session. Each query's operator tree is
  * written whole; only its per-node detail section is cut to keep the
  * file reviewable, behind a visible marker.
  *
  * `sbt "runMain graft.tools.DumpPlans <outdir> <suffix> q_a,q_b,..."`
  * writes each named query's full, uncut plan to
  * `<outdir>/<query>_<suffix>.txt`, at the bench sf and session confs
  * (`SPARK_GRAFT_SF_DIR`, default sf0.1; `SPARK_GRAFT_CPUS`, default
  * 32) so the plans match what the bench times — the before/after
  * evidence of a plan change, e.g.
  * `runMain graft.tools.DumpPlans plans/bm25 before q_bm25,q_copurchase`. */
object DumpPlans {
  /** Characters of per-node detail kept per query in docs/PLANS.md. */
  private val DetailBudget = 6000

  private def session(cpus: String): SparkSession = {
    val spark = graft.SparkEntry.localSession(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def formatted(spark: SparkSession, name: String, sfDir: String): String =
    graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  /** The operator tree whole, then at most `budget` characters of the
    * node details (the `(1) ...` sections after the tree), cut at a
    * line end and marked. */
  private def cutDetails(plan: String, budget: Int): String = {
    val treeEnd = plan.indexOf("\n\n(")
    if (treeEnd < 0 || plan.length - treeEnd <= budget) plan
    else {
      val keep = plan.lastIndexOf('\n', treeEnd + budget) max treeEnd
      plan.substring(0, keep) +
        s"\n\n... [node details cut: ${plan.length - keep} more chars; " +
        "the argument form of graft.tools.DumpPlans writes the full plan]"
    }
  }

  def main(args: Array[String]): Unit =
    if (args.isEmpty) dumpHeadline()
    else {
      require(args.length >= 3, "usage: DumpPlans [<outdir> <suffix> q_a,q_b,...]")
      val outDir = Paths.get(args(0))
      val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      graft.Quiet.muteKnownBenign()
      Files.createDirectories(outDir)
      names.foreach { name =>
        val txt = formatted(spark, name, sfDir)
        Files.writeString(outDir.resolve(s"${name}_${args(1)}.txt"), txt)
        println(s"wrote $outDir/${name}_${args(1)}.txt (${txt.length} chars)")
      }
      spark.stop()
    }

  private def dumpHeadline(): Unit = {
    val spark = session("4")
    val d = "/root/testdata/sf0.001"
    val headline = Seq(
      "q1_pricing_summary", "q_filter_project", "q_join_broadcast",
      "q_join_sortmerge", "q_join_asof", "q_topk_global",
      "q_dedup_minhash", "q_ann_lsh", "q_events_session",
      "q_curation_pipeline", "q_sample_stratified", "q_tfidf",
      "q_sql_q5", "q_sql_q17", "q_sql_q7", "q_sql_q10", "q_sql_q16",
      "q_ann_ivf", "q_dedup_simhash", "q_dedup_incremental",
      "q_join_range_auto", "q_topk_grouped_native",
      "q_decontaminate", "q_mix_sources", "q_events_running_totals",
      "q_snapshot_diff", "q_merge_upsert", "q_bloom_prune",
      "q_dedup_sorted", "q_graph_pagerank", "q_embed_quantize",
      "q_sql_q8", "q_sql_q13", "q_join_bucketed", "q_chunk_documents",
      "q_ann_lsh_multi", "q_ann_recall", "q_ann_lsh_probe",
      "q_ann_ivf_probe", "q_ann_cost",
      "q_null_semantics", "q_sql_q2", "q_sql_q12", "q_dataset_build",
      "q_variant_extract", "q_sql_lateral", "q_sql_q20",
      "q_dedup_survivors", "q_profile_table", "q_outliers_iqr",
      "q_substring_hotness", "q_dedup_containment",
      "q_interval_overlap", "q_graph_triangles", "q_copurchase",
      "q_events_rolling_uniques", "q_audience_overlap",
      "q_events_rate_spike", "q_bm25", "q_inverted_index",
      "q_event_transitions", "q_rfm_segments", "q_scd2_asof",
      "q_vocab_growth", "q_key_skew", "q_quality_prune",
      "q_fuzzy_match", "q_entity_resolution", "q_fluency_score",
      "q_events_rolling_uniques_hll", "q_rfm_approx",
      "q_sql_recursive", "q_trade_reach", "q_gold_roundtrip",
      "q_span_scrub", "q_epoch_order", "q_oov_rate", "q_ngram_novelty",
      "q_filter_funnel", "q_source_drift", "q_dedup_cross_source",
      "q_dedup_cluster_sizes", "q_dataset_card", "q_dedup_rate_by_source",
      "q_tsv_roundtrip", "q_stream_drain", "q_orc_roundtrip",
      "q_csv_roundtrip", "q_image_decode", "q_stream_transitions",
      "q_json_roundtrip", "q_stream_totals_v2", "q_audio_decode",
      "q_stream_windowed", "q_stream_sessions", "q_stream_dedup",
      "q_stream_join", "q_stream_join_outer", "q_video_decode",
      "q_media_meta_permissive", "q_parse_money_native", "q_financial_silver")
    val sb = new StringBuilder
    sb.append("# Headline physical plans\n\n")
    sb.append("Generated by `graft.tools.DumpPlans` (sf0.001, local[4], AQE\n")
    sb.append("initial plans). What to look for per query is annotated in\n")
    sb.append("PlanSpec; this file exists so plan shapes are reviewable in the\n")
    sb.append("repo and diffs show up when a change alters them. Each operator\n")
    sb.append("tree is whole; long node-detail sections are cut where marked.\n")
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(cutDetails(formatted(spark, name, d), DetailBudget))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
