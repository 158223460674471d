package graft

/** Plan-inspection main: prints `explain("formatted")` for the headline
  * queries so pushdown / broadcast / shuffle structure can be reviewed
  * (scan lines must show PushedFilters + pruned ReadSchema; small dims
  * must broadcast; no stray exchanges). Each frame's own QueryExecution
  * runs first, so the output holds the AQE Final Plan (runtime exchange
  * and stage reuse, invisible before execution) beside the Initial Plan.
  *
  * Usage: `runMain graft.Explain [name...]`; data from
  * `SPARK_GRAFT_SF_DIR` (default sf0.01). */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q02_asof_join", "q12_nearest_expiration", "q19_agg",
        "q20_join_agg", "q03_export_dat", "x03_minhash_lsh",
        "x21_ivf_ann", "x25_ivf_refined", "x20_boilerplate",
        "x22_approx_distinct", "x02_ngram_jaccard", "x26_hash_split",
        "x27_pack_chunks", "x28_length_quantiles", "x29_heavy_hitters",
        "x31_pipeline_stats", "x32_oov_rate", "x33_decontaminate",
        "q28_asof_planned", "x37_count_min", "x38_pq_encode",
        "x40_adc_topk", "x42_bloom_decontaminate",
        "x48_stratified_sample", "x49_token_budget", "x51_length_batches",
        "x52_canonical", "x53_contamination_pairs", "x54_salted_join",
        // round 6: rotated encode must stay exchange-free after the
        // matVecT map; q36's date list must broadcast (nested loop, no
        // shuffle of the roster); x56's payload build stays in codegen
        // up to the single mapPartitions parse
        "x55_opq_encode", "q36_weeklies_asof", "x56_media_meta",
        // round 7: encode scans read the checkpointed (id, codes) frame
        // (single pq_encode); x02's prefix-filter candidates (listed
        // above) stay ids-only; x07 reads checkpointed band keys;
        // x61/x62's two-level assignment must stay exchange-free
        "x07_lsh_ann", "x57_semantic_dedup",
        "x59_semantic_trained", "x61_two_level_assign",
        "x62_two_level_dedup",
        // x64's count joins must stay linear equi-joins of the bigram
        // stream (no broadcast of the corpus-sized model)
        "x64_bigram_score",
        // round 8: salted score joins replicate only the count tables
        // (explode of salt literals on the model side, hash scatter on
        // the occurrence side); x69's reassignment join is bounded by
        // the seeds side; x72 stays a linear postings⋈df equi-join
        "x68_bigram_jm", "x69_split_hot_cells", "x70_importance_ratio",
        "x71_trigram_jm", "x72_dup_spans",
        // late round-8 retrieval family: x76/x81 are scans + one 1-row
        // broadcast; x77's cuts must be TakeOrderedAndProject, never a
        // corpus Sort; x79 must show NO exchange; x78/x80 join only
        // AGGREGATED vocab/pair tables; x82's winner is a combiner agg,
        // not a window; x84 rides the x76 plan over chunks
        "x76_bm25", "x77_hybrid_rrf", "x78_tfidf_keywords",
        "x79_chunk_tokens", "x80_pmi_collocations", "x81_bm25_multi",
        "x82_passage_dedup", "x83_temperature_mix", "x84_bm25_maxp",
        // round 13: x231's pooled-rank lookup must be the bin-bucket
        // EQUI-join (no BroadcastNestedLoopJoin / CartesianProduct
        // with a data-derived side — the r12 weak item); x240's AUC
        // is one grid window + a 1-row agg, no pair join anywhere
        "x231_quantile_normalize", "x240_roc_auc")
    val spark = Session.local()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = Queries.all(n)(spark, dir)
      // executes df's OWN QueryExecution (count() would plan a new one)
      df.queryExecution.toRdd.foreach(_ => ())
      df.explain("formatted")
    }
    spark.stop()
  }
}
