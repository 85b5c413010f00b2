package graft

import org.apache.spark.sql.SparkSession

/** Plan-inspection utility: prints the formatted physical plan of the named
  * queries (or a default representative set) so scan pushdown, pruning, join
  * strategy, and WholeStageCodegen coverage can be eyeballed per round.
  * Usage: Explain <sfDir> [queryName ...]
  */
object Explain {
  /** Queries whose construction EXECUTES work (streams, eager checkpoints,
    * sink round-trips, iterative fixpoints) — explaining them runs the job,
    * so the ALL sweep skips them; their plans are audited via their specs. */
  private[graft] val eager = Set("q_changes_mor", "q_rewrite_dvs",
    "q_gdpr_delete", "q_governed_changes", "q_sql_rename_read",
    "q_changes_rename",
    "q_decontaminate", "q_dedup_clusters",
    "q_dedup_clusters_star", "q_doc_knn",
    "q_orc_roundtrip", "q_csv_roundtrip", "q_jsonl_roundtrip",
    "q_partitioned_scan", "q_bucketed_join", "q_json_roundtrip",
    "q_schema_evolution", "q_dedup_keep_best", "q_pmi_bigrams",
    "q_pagerank", "q_sparse_cosine", "q_bloom_decontaminate",
    "q_knn_pq", "q_knn_ivfpq", "q_dsv2_sink", "q_latest_partition",
    "q_contam_fraction", "q_quarantine", "q_compact_files",
    "q_backfill_partition", "q_variant_shredded", "q_bpe_train_encode",
    "q_acid_merge", "q_manifest_compact", "q_manifest_changes",
    "q_manifest_tail", "q_observe_metrics", "q_runtime_filter",
    // §8.14: manifest-building queries execute staging commits (and the
    // cluster cap runs the label-propagation fixpoint) at construction
    "q_manifest_skipping", "q_manifest_point_lookup", "q_manifest_delete",
    "q_manifest_update", "q_optimize_zorder", "q_metadata_agg",
    "q_zorder_skipping", "q_manifest_expectations", "q_result_cache",
    "q_cluster_cap", "q_scan_estimate", "q_schema_compat",
    "q_write_audit_publish", "q_catalog_txn", "q_manifest_clone",
    "q_manifest_history", "q_manifest_restore", "q_manifest_segments",
    "q_merge_on_read", "q_mor_upsert", "q_schema_rename", "q_sql_catalog",
    "q_mv_rewrite", "q_mv_incremental", "q_bm25_index", "q_vector_index",
    "q_advised_join", "q_governed_read",
    // round 9: catalog DML/pushdown/governed queries build + mutate
    // manifest tables at construction
    "q_sql_pushdown", "q_sql_delete", "q_sql_governed",
    "q_segment_point_lookup", "q_mv_join_rewrite", "q_sql_timetravel",
    "q_sql_update", "q_sql_merge", "q_sql_history",
    // round 11: decimal/array catalog DML build + mutate manifest tables
    // at construction
    "q_sql_decimal_update", "q_catalog_embeddings", "q_sql_partitioned",
    "q_sql_add_column", "q_sql_overwrite", "q_sql_overwrite_dynamic",
    "q_catalog_stats_join", "q_sql_ctas", "q_sql_changes", "q_spj_join",
    "q_runtime_prune", "q_sql_maintenance", "q_sorted_join",
    "q_sql_namespaces", "q_metadata_group_agg", "q_sql_partitions",
    "q_sql_tag", "q_sql_generated", "q_sql_cluster",
    "q_metadata_filtered_agg", "q_metadata_sum", "q_time_partition",
    "q_sql_branch", "q_sql_mor_read",
    // round 13: the LSH-fed clustering runs its fixpoint at construction
    "q_dedup_clusters_lsh",
    // round 18: single-pass shingle/cache reuse made the pair producers
    // eager at construction (persist + count + checkpointed pair output);
    // q_minhash_pairs/q_split_leakage were already eager via minhashLsh's
    // pre-existing checkpoint
    "q_ngram_jaccard", "q_containment", "q_doc_embed", "q_minhash_pairs",
    "q_split_leakage",
    // round 14: the positional-DV and rename-pushdown queries build +
    // mutate manifest tables at construction; the DSIR select and the
    // clean corpus execute their eager localCheckpoints
    "q_positional_dv", "q_changes_positional", "q_rename_pushdown",
    "q_dsir_select", "q_clean_corpus",
    // round 15: the DSIR sampler and substring-dedup execute their
    // eager localCheckpoints; the view and MOR-count queries build +
    // mutate manifest tables at construction
    "q_dsir_sample", "q_sql_view", "q_metadata_mor_count",
    "q_substring_dedup", "q_wap_dml", "q_branch_merge", "q_sql_view_ddl",
    // round 17: DML + merge + transaction + index-DML lifecycles run at
    // construction
    "q_branch_merge_rows", "q_sql_txn", "q_sql_txn_history",
    "q_vector_index_dml")

  /** `Explain <sfDir> FINAL q...` — EXECUTE each query (noop sink) and
    * print one line per query summarizing the join operators of the FINAL
    * adaptive plan (what AQE actually ran, not the static guess). This is
    * the per-scale evidence for the documented broadcast→sort-merge
    * transitions: run at two fixture scales and diff the lines. */
  private def finalJoins(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          try df.write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            println(s"$n FAILED ${e.getClass.getSimpleName}") }
          val secs = (System.nanoTime() - t0) / 1e9
          val plan = df.queryExecution.executedPlan.toString
          val joins = Seq("BroadcastHashJoin" -> "BHJ", "SortMergeJoin" -> "SMJ",
            "ShuffledHashJoin" -> "SHJ", "BroadcastNestedLoopJoin" -> "BNLJ",
            "CartesianProduct" -> "CARTESIAN")
            .map { case (k, tag) =>
              val c = k.r.findAllIn(plan).size
              if (c > 0) s"$tag=$c" else ""
            }.filter(_.nonEmpty).mkString(",")
          println(f"JOINS\t$n\t$secs%.2f\t${if (joins.isEmpty) "none" else joins}")
        case None => println(s"JOINS\t$n\tunknown")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val finalMode = args.length > 1 && args(1) == "FINAL"
    val names = if (finalMode) args.drop(2).toSeq
    else if (args.length > 1 && args(1) == "ALL")
      SparkEntry.queries.keys.toSeq.sorted
        .filterNot(n => n.startsWith("q_stream") || eager(n))
    else if (args.length > 1) args.drop(1).toSeq
      else Seq("q_clean_trips", "q1_pricing", "q_revenue_by_nation",
        "q_dedup_append", "q_asof_last_error", "q_knn_topk",
        "q_ngram_jaccard", "q_ngram_counts", "q_chunk_docs", "q_session_window")
    // FINAL mode executes real work → use the bench-shaped session; the
    // static explain sweep stays tiny (plans only)
    val spark = LocalSession(if (finalMode) LocalSession.envCpus else "4")
    spark.sparkContext.setLogLevel("ERROR")
    if (finalMode) { finalJoins(spark, sfDir, names); spark.stop(); return }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries.get(n) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
