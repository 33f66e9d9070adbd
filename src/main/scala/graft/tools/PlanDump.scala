package graft.tools

/** Dump `.explain("formatted")` for the headline queries into PLANS.md —
  * the auditable record of the plan-quality claims (broadcasts where
  * broadcasts belong, partial aggregation instead of windows, pushed
  * filters/pruned schemas, no cartesian products). PlanSpec asserts the
  * load-bearing properties in CI; this artifact makes them reviewable.
  *
  * Usage: sbt "runMain graft.tools.PlanDump [sfDir] [outFile]"
  */
object PlanDump {

  val Queries: Seq[String] = Seq(
    "kg_mentions",
    "kg_triples",
    "kg_components_general",
    "dedup_exact_drop",
    "dedup_minhash_pairs",
    "dedup_minhash_clusters",
    "q_ann_brute_topk",
    "ann_ivf_topk",
    "q_docs_perplexity",
    "q_events_sessionize",
    "q_events_session_window",
    "q_docs_stratified_sample",
    "q_docs_curation",
    "q_docs_curation_full",
    "kg_khop",
    "q_docs_rollup",
    "q_events_pivot",
    "q_events_asof",
    "q_events_range_join",
    "q_events_topk",
    "ann_lsh_topk",
    "dedup_ngram_jaccard_pairs",
    "kg_attributions",
    "kg_mean_attention",
    "q_docs_pack",
    "q_docs_decontaminate",
    "q_docs_repetition",
    "q_docs_mixture",
    "q_docs_tfidf_keywords",
    "q_docs_decontaminate_bloom",
    "q_docs_cms_counts",
    "q_docs_length_sketch",
    "kg_pagerank",
    "kg_triangles",
    "kg_negatives",
    "kg_communities",
    "kg_node_similarity",
    "kg_embedding_export",
    "kg_motifs",
    "kg_rule_confidence",
    "kg_shortest_paths",
    "q_events_band_join_auto",
    "q_events_asof_exec",
    "kg_kcore",
    "q_docs_chunk",
    "kg_random_walks",
    "q_docs_chunk_sql",
    "kg_skipgram_pairs",
    "kg_skipgram_export",
    "kg_cooc_pmi",
    "kg_adamic_adar",
    "bio_source_roundtrip",
    "kg_mentions_ngram",
    "q_docs_table_prune")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = PlanFiles.session()

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` over `$sfDir` (plans are\n")
    sb.append("scale-independent; AQE may re-plan exchanges at runtime). What to\n")
    sb.append("look for, per the 100 TB design rules (PlanSpec asserts these):\n\n")
    sb.append("- scans show `PushedFilters` / pruned `ReadSchema`;\n")
    sb.append("- small sides are `BroadcastHashJoin` (lexicon, centroids, count\n")
    sb.append("  tables, resolution maps) — no `SortMergeJoin` on the hot paths;\n")
    sb.append("- rankings/dedup run as (Object)HashAggregate with a partial\n")
    sb.append("  phase — no `Window` on data-sized inputs;\n")
    sb.append("- no `CartesianProduct` / `BroadcastNestedLoopJoin` anywhere,\n")
    sb.append("  with ONE deliberate exception: q_docs_cms_counts crosses the\n")
    sb.append("  per-source sketch aggregate (one 80 KiB row per source) with the\n")
    sb.append("  broadcast 5-row probe list — both sides aggregate-bounded, never\n")
    sb.append("  data-sized.\n")
    Queries.foreach { name =>
      PlanFiles.formatted(spark, sfDir, name).foreach { plan =>
        sb.append(s"\n## $name\n\n```\n")
        sb.append(plan)
        sb.append("\n```\n")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plandump] wrote ${Queries.size} plans to $out")
    spark.stop()
  }
}
