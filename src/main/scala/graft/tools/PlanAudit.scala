package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes formatted physical plans for headline queries to PLANS.md —
  * the pushdown/pruning/broadcast audit. Writing the file directly
  * (instead of redirecting sbt stdout) keeps log/stderr noise out of the
  * committed doc.
  *
  *   sbt "runMain graft.tools.PlanAudit [out] [name,…]"
  *
  * Given names, only those sections are re-rendered and spliced into
  * the existing `out` ([[splice]]); every other byte stays. Per-run
  * tokens are masked ([[mask]]), so a rerun over unchanged code churns
  * only the plan and expression ids Spark numbers per session. */
object PlanAudit {

  private def header(name: String) = s"================ $name ================\n"

  /** `doc` with each named section's body — the text after its header
    * line up to the next header, or the end — replaced by
    * `bodies(name)`; every other byte unchanged. A name with no section
    * in `doc` throws. */
  private[graft] def splice(doc: String, bodies: Seq[(String, String)])
      : String =
    bodies.foldLeft(doc) { case (d, (name, body)) =>
      val h = "\n" + header(name)
      val at = d.indexOf(h)
      require(at >= 0, s"no section $name to splice")
      val from = at + h.length
      val next = d.indexOf("\n================ ", from)
      val to = if (next < 0) d.length else next
      d.substring(0, from) + body + d.substring(to)
    }

  /** Plan text with its per-run tokens replaced by stable placeholders:
    * JVM identity hashes of array literals (`[D@2eb6e166` → `[D@<hash>`)
    * and the IndexMemo temp root (`graft-ix<digits>` → `graft-ix<root>`). */
  private[graft] def mask(plan: String): String =
    plan.replaceAll("""(\[+(?:[ZBCSIJFD]|L[\w.$]+;))@[0-9a-f]+""", "$1@<hash>")
      .replaceAll("""graft-ix\d+""", "graft-ix<root>")

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local("plan-audit", 8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val out = args.headOption.getOrElse("PLANS.md")
    val interesting = Seq("q2_filter_project", "q3_join_agg", "q1_agg",
      "j2_simjoin_fuzzy", "q4_window_topk", "d2_jaccard_pairs",
      "d3_minhash_lsh", "a2_ann_lsh", "a3_ann_ivf", "t1_token_counts",
      "g1_gold_matches", "q12_rollup", "q15_percentiles",
      "c1_corpus_pipeline", "c2_token_packing", "t7_pii_scrub",
      "t8_url_domains", "c7_data_card", "a6_incr_ivf", "d7_incr_minhash",
      "a8_ann_quantized", "a9_ann_pq", "a10_ann_ivfpq", "a11_ann_contracts",
      "h1_hybrid_rrf",
      "t10_bm25_batch", "t11_bm25_index", "a12_knn_join",
      "c10_ngram_decontam", "t12_quality_model", "t13_surprisal",
      "d10_substring_spans", "c11_curation_ccnet", "c12_bpe_packing",
      "d11_span_removal",
      "d12_unit_dedup", "c14_bpe_mix", "c15_shard_manifest",
      "h3_text_knn_scale",
      "c16_bpe_export", "h4_text_knn_pq", "h5_hard_negatives",
      "c17_quality_mix", "t16_bigram_lm", "x3_covisit_pmi",
      "a15_filtered_ann", "m4_frame_dedup", "c18_bpe_train",
      "c19_dsir_resample", "k1_kmv_distinct", "k2_cms_freq",
      "k3_quantile_sample", "x4_pagerank", "x5_funnel", "x6_retention",
      "x7_markov", "a16_kmeans", "a17_mmr_rerank", "c20_epoch_shuffle",
      "t17_phrase_search", "d13_quality_dedup", "c21_epoch_read",
      "h6_rag_context", "d14_containment", "m5_caption_align",
      "t18_lang_eval", "a18_recall_eval",
      "d15_containment_dedup", "c22_bpe_decontam", "c23_temperature_mix",
      "c24_leakfree_split", "c25_containment_decontam", "t19_domain_cap",
      "x8_sessionize", "x9_burst_detect", "d16_domain_dup_rate",
      "k4_bloom_filter", "m6_pair_packing",
      "k5_hll_distinct", "a19_mrr_eval", "a20_ndcg_eval",
      "t20_tfidf_keywords", "x10_decay_engagement", "x11_label_prop",
      "p1_k_anonymity", "p3_dp_counts", "q19_cube", "p4_generalize",
      "c26_decontam_action", "m7_mm_pipeline",
      "x12_funnel_latency", "k6_minhash_fidelity", "c27_bpe_fertility",
      "p5_erasure_audit",
      "k7_heavy_hitters", "m8_frame_neardup", "p6_erasure_propagation",
      "p7_t_closeness", "x13_weekly_drift",
      "c28_semantic_decontam", "s15_stream_drift",
      "p8_erasure_certificate", "m9_frame_index",
      "g3_incremental_gold", "g4_scd2_history", "q20_dq_checks",
      "x14_triangles", "s16_stream_semantic", "g5_cdc_apply",
      "c29_dataset_diff", "k8_kmv_setops", "x15_level_shift",
      "d17_edit_pairs", "x16_decayed_freq",
      "c30_semantic_lsh_recall", "d18_edit_index", "g6_incr_scd2",
      "c31_semantic_index_recall", "c32_semantic_auto",
      "s19_stream_semantic_lsh", "g7_scd2_asof", "d19_incr_components",
      "d20_containment_index", "s20_stream_bursts", "d21_containment_served",
      "d22_jaccard_index", "d23_quality_served", "d24_char_jaccard_index",
      "d25_simhash_index")
    def body(name: String): String =
      mask(graft.SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)) + "\n"
    val path = java.nio.file.Paths.get(out)
    val text = args.lift(1).map(_.split(',').toSeq) match {
      case Some(names) => splice(java.nio.file.Files.readString(path),
        names.map(n => n -> body(n)))
      case None =>
        "# PLANS — formatted physical plans for headline queries\n" +
          s"\nGenerated by `sbt \"runMain graft.tools.PlanAudit\"` at $dir.\n" +
          interesting.map(n => "\n" + header(n) + body(n)).mkString
    }
    java.nio.file.Files.writeString(path, text)
    println(s"wrote $out")
    spark.stop()
  }
}
