package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.FormattedMode
/** Plan capture, two ways.
  *
  * With no arguments or only `[outFile]` it regenerates PLANS.md: formatted
  * physical plans for headline queries at sf0.001 — the inspectable record
  * of pushdown/pruning/broadcast/top-k behavior.
  *
  * With `<outDir> <tag> <sfDir> <query> [query…]` it writes
  * `.explain("formatted")` for each named query to
  * `<outDir>/<query>_<tag>.txt` — the before/after evidence files an
  * OPTIMIZATION_r*.md cites. These run at the bench session shape
  * (`local[$SPARK_GRAFT_CPUS]`, shuffle partitions = cpus) so the captured
  * plans are the ones the bench executes, not the sf0.001 PLANS.md shapes.
  *
  * Both modes write [[normalize]]d text, so two runs of one commit differ
  * only where the plans do.
  *
  * Usage: runMain graft.PlanDump [outFile]
  *        runMain graft.PlanDump <outDir> <tag> <sfDir> <query> [query…]
  */
object PlanDump {
  def main(args: Array[String]): Unit =
    if (args.length > 1) explainTo(args.toSeq) else plansMd(args.headOption.getOrElse("PLANS.md"))

  private def explainTo(args: Seq[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <outDir> <tag> <sfDir> <query> [query…]")
    val Seq(outDir, tag, sfDir, queries @ _*) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus, "graft-plan-dump")
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), normalize(txt))
      println(s"[explain] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }

  private def plansMd(out: String): Unit = {
    val spark = GraftSession.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    val headline = Seq(
      "q01_scan_project", "q04_filter_pred", "q06_join_multiway",
      "q11_join_range", "q13_agg_hash", "q19_sort_limit",
      "q38_sim_cosine_topk", "q41_dedup_minhash_lsh",
      "q43b_sim_ann_lsh_md5", "q51_sim_ann_ivf",
      "q37_dedup_jaccard", "q66_dedup_components",
      "q72_dedup_spans", "q74_dedup_containment",
      "q82_dedup_incremental", "q84_text_doc_frequency",
      "q85_fn_unpivot", "q86_sql_lateral", "q87_agg_approx_percentile",
      "q88_sql_recursive", "q89_agg_bitwise", "q90_agg_moments",
      "q91_pack_shards", "q92_chunk_windows", "q93_boilerplate_ngrams",
      "q94_vocab_coverage", "q95_token_familiarity", "q96_hard_negatives",
      "q97_span_corruption", "q98_media_ingest_metadata",
      "q99_bpe_pair_counts",
      "q110_dsir_importance", "q112_lake_zorder",
      "q113_decontaminate_fuzzy", "q114_agg_heavy_hitters",
      "q118_pack_sequences", "q119_resample_gap_fill",
      "q130_cdc_merge", "q132_distinct_set_ops", "q133_graph_triangles",
      "q134_graph_communities", "q135_text_phrase_search",
      "q140_distinct_sliding", "q143_agg_sampled",
      "q144_freq_cm_rollup", "q145_feature_pit_join",
      "q147_shuffle_epochs", "q148_wordpiece_encode",
      "q149_unigram_encode", "q150_strip_markup",
      "q151_dedup_span_incremental", "q152_privacy_t_closeness",
      "q153_pretokenize_regex", "q154_dedup_keep_best",
      "q155_join_interval_overlap", "q156_corpus_snapshot_diff",
      "q157_sim_knn_graph", "q158_agg_winsorized",
      "q159_join_point_in_window", "q160_curriculum_order",
      "q161_text_tfidf_keywords",
      "q162_text_pmi_collocations", "q163_pack_length_buckets",
      "q166_sim_hybrid_rrf", "q167_join_null_aware_anti",
      "q168_join_asof_forward",
      "q169_seq_pattern_support", "q170_gdpr_erase_rollup",
      "q171_attribution_models",
      "q173_quantile_value_histogram", "q175_entity_record_linkage",
      "q181_sample_pps_systematic", "q186_triplet_mining",
      "q172_text_blocklist", "q187_minhash_calibration",
      "q189_sft_format_audit", "q190_chat_turn_audit",
      "q191_dataset_card", "q192_chat_loss_mask",
      "q193_sft_contamination", "q194_lake_read_asof",
      "q195_preference_pair_audit", "q196_annotator_agreement",
      "q197_corpus_drift_tvd", "q198_tokenizer_fertility",
      "q199_embedding_outliers", "q200_embedding_integrity",
      "q201_card_incremental", "q202_source_mirror",
      "q203_fleiss_kappa", "q204_crossmodal_dedup",
      "q205_source_merge_plan", "q206_mirror_incremental",
      "q207_krippendorff_alpha", "q208_classifier_auc",
      "q209_operating_point", "q210_lake_schema_evolution",
      "q211_epoch_allocation", "q212_lake_erasure",
      "q213_graph_kcore", "q214_conformal_threshold",
      "q215_bloom_prefilter", "q216_vec_jl_projection",
      "q217_blocking_eval", "q218_blocking_code_band",
      "q219_media_video_frames", "q220_graph_landmark_dist",
      "q221_neyman_allocation", "q222_graph_assortativity",
      "q223_vocab_richness", "q224_event_outlier_audit",
      "q225_classifier_gain_lift", "q226_benford_audit",
      "q227_source_concentration", "q228_isotonic_calibration",
      "q229_mcnemar_filters", "q231_graph_landmark_closeness",
      "q232_packing_efficiency", "q233_embedding_separability",
      "q234_quantization_fidelity", "q235_privacy_generalization",
      "q236_ivf_nprobe_sweep", "q237_exact_percentiles",
      "q238_lsh_band_chooser", "q239_lake_release_manifest",
      "q240_ml_decile_bin_dist", "q241_join_size_estimate",
      "q242_lake_hilbert", "q243_layout_pruning",
      "q244_mix_water_fill", "q245_bt_strength",
      "q246_seq_match_recognize", "q247_ivm_join_delta",
      "q248_distinct_hll_md5", "q249_retrieval_eval",
      "q250_selectivity_est", "q251_sliding_percentiles",
      "q252_knn_incremental", "q253_graph_ppr",
      "q254_graph_hyperball", "q255_profile_table",
      "q256_transition_dwell", "q257_approx_percentile_kmv",
      "q258_ivm_agg_retract", "q259_scan_csv_typed",
      "q260_seq_match_quantified", "q261_seq_match_vshape",
      "q262_lake_snapshot_diff", "q263_profile_inclusion_deps",
      "q264_ivm_join_retract", "q265_lake_diff_removals",
      "q266_profile_candidate_keys", "q267_graph_weighted_paths",
      "q268_ivm_minmax_retract", "q269_profile_functional_deps",
      "q270_lake_bloom_lookup", "q271_scan_orc_typed",
      "q272_lake_table_changes", "q273_ivm_percentile_retract",
      "q274_lake_restore", "q275_scan_avro_typed",
      "q276_ivm_bucket_percentile", "q277_lake_restore_erasure",
      "q278_stream_stream_join", "q279_stream_join_outer",
      "q280_stream_join_full_outer", "q281_ivm_wide_percentile")
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by graft.PlanDump)\n\n")
    sb.append("Formatted executed plans at sf0.001, AQE final. What to look for:\n")
    sb.append("pruned ReadSchema + PushedFilters at every scan, BroadcastHashJoin\n")
    sb.append("for dims, TakeOrderedAndProject for top-k, the BandJoinRewrite\n")
    sb.append("bucket equi-join for the range join, and `*(n)` whole-stage\n")
    sb.append("codegen spans covering the hot operators.\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, d)
      df.collect()
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), normalize(sb.toString))
    println(s"PLANS written to $out")
    spark.stop()
  }

  private val tmpRoot = java.util.regex.Pattern.quote(
    Paths.get(System.getProperty("java.io.tmpdir")).toString)

  /** A plan dump with the tokens that change between two runs of one
    * commit replaced by fixed text: exchange `plan_id`s, whole-stage
    * codegen ids, the random suffix `Files.createTempDirectory` gives a
    * directory name, and `Object.toString` identity hashes
    * (`FreqSketch@1db47316`). The dump is documentation, so every control
    * char except \n is escaped to its \uNNNN text as well: one NUL
    * (SimilarityJoin.staged's U+0000 set-fingerprint joiner surfacing in
    * a plan literal) makes grep treat the whole file as binary. */
  private def normalize(plan: String): String = plan
    .replaceAll("""\[plan_id=\d+\]""", "[plan_id=_]")
    .replaceAll("""\*\(\d+\)""", "*(_)")
    .replaceAll("""\[codegen id : \d+\]""", "[codegen id : _]")
    .replaceAll("""WholeStageCodegen \(\d+\)""", "WholeStageCodegen (_)")
    .replaceAll(tmpRoot + """/([A-Za-z][\w.-]*?)\d{6,}""", "<tmp>/$1_")
    .replaceAll("""([A-Za-z_$][\w$.]*)@[0-9a-f]{1,8}\b""", "$1@_")
    .flatMap {
      case '\n' => "\n"
      case c if c.isControl => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
