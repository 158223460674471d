package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the headline operators — the first check
  * of the "linear in rows, bounded shuffles" design claims above the
  * driver's sf0.1 gate.
  *
  * The driver ships no sf1 testdata, so this builds a BENCH-ONLY
  * ~10×-sf0.1 dataset (≈ sf1: 6M lineitem rows, 50k documents, 20k
  * embeddings) under `tmp-scale/` by unioning 10 ISOMORPHIC copies of
  * sf0.1 — never used for correctness oracles:
  *
  *  - documents: ids offset per copy; every token suffixed with the
  *    copy index, so each copy's shingle space is DISJOINT — within-copy
  *    near-dup structure is preserved exactly (pairs/clusters scale ×10
  *    linearly) and cross-copy Jaccard is 0. Naive duplication would
  *    instead weld every row into one 10-clone cluster and measure a
  *    workload no real corpus has.
  *  - embeddings: ids offset; each copy multiplied elementwise by a
  *    deterministic ±1 sign pattern — an orthogonal diagonal map, so
  *    within-copy cosines (and the near-dup pair set) are EXACTLY
  *    preserved while cross-copy cosines scramble.
  *  - lineitem: ids offset on the PK prefix; values untouched.
  *
  * Prints one JSON line per (query, scale) with min-of-2 seconds; the
  * table in ARCHITECTURE.md is derived from this output.
  *
  * Usage: `runMain graft.ScaleProbe [copies] [q1,q2,...]` (default 10,
  * all arms). The optional filter restricts which arms run — every
  * requested arm still runs at ALL scales in this one process, so
  * per-query scale factors stay same-JVM comparable. Parallelism comes
  * from `SPARK_GRAFT_CPUS` (default 4); the ARCHITECTURE.md table was
  * measured at 32.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.drop(1).headOption.map(_.split(",").toSet)
    val spark = Session.local()
    val base = "/root/testdata/sf0.1"
    val out = s"tmp-scale/sfx$copies"
    buildIfAbsent(spark, base, out, copies)

    val queries = Seq("x01_dedup_exact", "x02_ngram_jaccard",
      "x03_minhash_lsh", "x07_lsh_ann", "x16_dedup_corpus",
      "x52_canonical", "q05_trunc_export", "q13_keep_first",
      // round-7/8 additions: trained-quantizer dedup, two-level
      // (plan-constant and fine-as-data) assignment, bigram LM
      // scoring (salted joins), skew-adaptive LSH
      "x59_semantic_trained", "x62_two_level_dedup",
      "x64_bigram_score", "x65_bigram_smoothed",
      "x66_adaptive_lsh", "x67_fine_data_assign",
      "x68_bigram_jm", "x69_split_hot_cells",
      "x70_importance_ratio", "x71_trigram_jm",
      "x72_dup_spans", "x73_dsir_select",
      // late round-8: the retrieval family — scan-shaped (x76/x79/x81),
      // TakeOrdered cuts (x77/x80), vocabulary-keyed joins (x78),
      // passage-keyed min-struct agg (x82)
      "x76_bm25", "x77_hybrid_rrf", "x78_tfidf_keywords",
      "x79_chunk_tokens", "x80_pmi_collocations",
      "x81_bm25_multi", "x82_passage_dedup",
      // round-9: the last unmeasured round-8 operators (x74/x75
      // compose adaptive LSH + propagation + per-cluster window —
      // exactly the composition class the x07 lesson says to measure)
      // plus the round-9 additions
      "x74_lsh_corpus_dedup", "x75_semantic_canonical",
      "x83_temperature_mix", "x84_bm25_maxp",
      "x85_chunk_near_dedup", "x86_bm25_topk", "x87_ann_recall",
      // round-10: MMR pool cut, span-set contamination, integer PPS
      // line, per-lang tiers, winnowing pairs, per-row quality rules,
      // per-lang exact-median windows, quantizer-rank pruning, and the
      // five-stage sequential manifest
      "x88_mmr_topk", "x89_contamination", "x90_systematic_sample",
      "x91_ccnet_buckets", "x92_winnow_pairs", "x93_gopher_quality",
      "x94_robust_z", "x95_prototypicality", "x96_corpus_prep",
      "x97_feature_hash", "x98_unimax_mix", "x99_weighted_simhash",
      "x100_bpe_merges", "x102_char_entropy", "x103_dedup_histogram",
      "x104_unimax_sample", "x105_bpe_encode",
      // round-10 (restart): distinct sketches (rank-k window + bounded
      // register folds), span removal (linear postings + ×k coverage
      // explode + per-doc rebuild), phrase postings, the KN and
      // novelty salted-join families
      "x106_kmv_distinct", "x107_hll_distinct", "x108_span_removal",
      "x109_phrase_search", "x110_kneser_ney", "x111_bigram_novelty",
      "x112_range_join", "x113_vocab_growth", "x114_interval_overlap",
      "x115_textrank", "x116_langid_trained", "x117_containment_pairs",
      "x118_source_drift", "x119_rate_anomaly", "x120_shard_plan",
      "x121_source_overlap", "x122_funnel", "x123_json_props",
      "x124_cohort_retention", "x125_daily_hll", "x126_bm25_index",
      "x127_last_touch", "x128_trunc_recall", "x129_regression",
      "x130_session_quantiles", "x131_sim_histogram", "x132_winsorized",
      "x133_benford", "x134_gini", "x135_k_anonymity", "x136_log_odds",
      "x137_log_likelihood", "x138_corpus_merge", "x139_more_like_this",
      "x140_inter_arrival", "x141_transitions",
      // round-10 (second restart): the manifest-driven export (x96's
      // sequential fixed cost + one prefix-sum window + the sharded
      // JSONL write/read-back), embedding drift (posexplode + bounded
      // agg), scan-speed readability, audit/apportionment summaries,
      // sketch-pair matrix, vocabulary-window Zipf slope
      "x142_manifest_export", "x143_centroid_drift", "x144_readability",
      "x145_l_diversity", "x146_quota", "x147_kmv_pair_jaccard",
      "x148_zipf_slope", "x149_embedding_hygiene",
      "x150_behavior_entropy", "x151_sq8_error", "x152_dataset_card",
      "x153_freshness_sample", "x154_ema_smooth",
      "x155_retrieval_eval", "x156_column_profile",
      "x157_label_carveout", "x158_gate_sweep", "x159_split_leakage",
      "x160_code_switch", "x161_vocab_coverage",
      "x162_index_roundtrip", "x163_two_level_roundtrip",
      "x164_ks_drift", "x165_ks_matrix", "x166_ndcg_eval",
      "x167_hll_pair_union", "x168_lpt_assign",
      // round-11: the table-driven nDCG grid (qrels derivation + the
      // micro-unit BM25 tail), components over the x99 pair graph
      // (banding + escalating propagation), and the two new views
      // over the SHARED winnow graph — x92 (first in arm order) pays
      // the graph per scale dir, so x103/x171/x172 measure their
      // INCREMENTAL cost on the memoized graph, exactly the
      // several-views-one-session production shape
      "x169_ndcg_grid", "x170_simhash_clusters",
      "x171_dedup_provenance", "x172_source_contribution",
      "x173_rfm", "x174_centroid_matrix", "x175_chi_square",
      "x176_stationary_mix", "x177_cooccurrence",
      "x178_quality_dup_chi", "x179_lsh_index_roundtrip",
      "x180_quintile_mobility", "x181_pii_audit",
      "x182_ab_conversion",
      // round-11 continuation: the classical-stats family (combiner
      // moments / grid windows — expected scale-flat to scan-speed),
      // the drift additions (PSI grid, CUSUM day windows, the
      // |sources|²·vocab JSD pair join), the session family length-3
      // and rules forms, KM day grid, HHI bounded folds, and the
      // d²-moment PCA pair fan-out (the one genuinely superlinear
      // candidate — O(n·d²) by construction)
      "x183_mann_whitney", "x184_welch_t", "x185_anova_f",
      "x186_psi", "x187_spearman", "x188_jsd_matrix",
      "x189_kaplan_meier", "x190_session_trigrams",
      "x191_assoc_rules", "x192_hhi", "x193_cramers_v",
      "x194_cusum", "x195_top_component", "x196_anisotropy",
      // the split/bootstrap/balance trio: scan-shaped except x198's
      // deliberate ×B explode over UNITS (not rows)
      "x197_fold_audit", "x198_bootstrap_ci", "x199_covariate_balance",
      // the PCA lifecycle/composition and the graph family (x202/x203
      // measure INCREMENTAL cost on the winnow graph x92 pays first)
      "x200_component_roundtrip", "x201_corrected_matrix",
      "x202_graph_triangles", "x203_degree_profile",
      // round-12: movers' two-half conditional aggs, the bounded-
      // broadcast RM3 two-pass (post-fix), the diff fold, and the
      // calendar-dense anomaly grid (|keys|×|hours| by construction)
      "x204_behavior_movers", "x205_prf_expand", "x206_diff_summary",
      "x207_calendar_anomaly",
      // round-12: manifest persistence, symmetric-delete linkage,
      // seasonal grid, MI grid, RBO, Simpson, Zipf budget
      "x208_manifest_roundtrip", "x209_spelling_variants",
      "x210_seasonal_anomaly", "x211_token_label_mi",
      "x212_rbo_agreement", "x213_simpson_audit", "x214_vocab_budget",
      "x215_frame_plan", "x216_sif_embed", "x217_sif_neighbors",
      "x218_level_shift", "x219_otsu_threshold",
      "x220_eval_contamination", "x221_good_turing",
      "x222_dispersion", "x223_cluster_density", "x224_mann_kendall",
      "x225_curriculum_interleave", "x226_mcnemar_gates",
      "x227_availability", "x228_reuse_alignment",
      "x229_weighted_sample", "x230_lambda_sweep",
      "x231_quantile_normalize", "x232_theil_sen", "x233_cohort_ltv",
      "x234_weighted_stratified", "x235_activity_segments",
      // round-13: the SIF/linkage persistence round-trips (write+read
      // included), and the classifier-eval family (score-grid windows
      // + bounded bins/contingency — expected scan-speed)
      "x236_sif_persist", "x237_sif_frozen", "x238_linkage_roundtrip",
      "x239_threshold_sweep", "x240_roc_auc", "x241_calibration",
      "x242_cohen_kappa", "x243_graph_persist", "x244_group_auc",
      "x245_brier", "x246_kendall_tau",
      // round-14: AP + decision curve (same suffix-sum grid as x239),
      // and the per-source calibration/Brier pair (bounded
      // (source, bin) / (source) grids off the memoized gateUnits)
      "x247_avg_precision", "x248_group_calibration",
      "x249_decision_curve", "x250_group_brier",
      // round-14 second block: per-source AP (partitioned suffix
      // windows), MCC off the same sweep grid, and the multi-rater /
      // ordinal agreement pair (category-bounded grids)
      "x251_group_ap", "x252_mcc_sweep", "x253_fleiss_kappa",
      "x254_weighted_kappa",
      // round-14 third block: gains table (one sweep projection),
      // Krippendorff (per-unit fold + marginals), and the ×B
      // bootstrap AUC (the documented B·|grid| trade — the one
      // deliberately superlinear arm, like x198)
      "x255_gains_curve", "x256_krippendorff", "x257_auc_bootstrap",
      // round-14 fourth block: DeLong (two grid builds + two
      // equi-joins back + one combiner agg — row-linear) and the AP
      // twin of the ×B bootstrap arm
      "x258_delong_auc", "x259_ap_bootstrap",
      // the per-source argmax cut (partitioned sweep + rank-1 window)
      // and the per-source ECE fold (|sources|·bins grid)
      "x260_group_cut", "x261_group_ece")
      .filter(q => only.forall(_.contains(q)))
    // the AUTO-sized embedding-space paths (the production defaults) —
    // the corpus entries keep pinned literals, so their scale factors
    // are probed here as direct operator calls
    def docShingles(dir: String) =
      graft.sources.Tables.documents(spark, dir).select(col("doc_id"),
        graft.ext.TextAnalysis.shingles(col("text"), 3).as("sh"))
    val opsAll: Seq[(String, String => org.apache.spark.sql.DataFrame)] = Seq(
      // same-JVM A/B of the PPJoin positional filter vs the plain
      // prefix filter (environment drift between separate probe runs
      // was 2x on untouched queries — only a back-to-back pair is fair)
      // positional's default flipped to true in round 8 — the plain
      // arm must opt OUT explicitly or both arms measure the same path
      "x02_prefix_plain" -> (dir =>
        graft.ext.Dedup.jaccardPairsPrefix(docShingles(dir), "doc_id",
          "sh", 0.6, positional = false)),
      "x02_prefix_positional" -> (dir =>
        graft.ext.Dedup.jaccardPairsPrefix(docShingles(dir), "doc_id",
          "sh", 0.6, positional = true)),
      "x07_lsh_ann_auto" -> (dir =>
        graft.ext.Similarity.lshNearDupPairs(
          graft.sources.Tables.embeddings(spark, dir), "vec_id",
          "embedding", 0.45, bands = 4, maxDim = 128)),
      "x57_semantic_auto" -> (dir =>
        graft.ext.Similarity.semanticDedup(
          graft.sources.Tables.embeddings(spark, dir), "vec_id",
          "embedding", threshold = 0.45)),
      // the x99 scale path: auto band width vs the query's pinned
      // 32-bit signature (fixed width measured 35x wall at 10x rows)
      "x99_simhash_auto" -> (dir =>
        graft.ext.Dedup.weightedSimhashPairsAuto(
          graft.sources.Tables.documents(spark, dir), "doc_id", "text")),
      // the x170 scale path: components under the auto band width —
      // the query keeps x99's pinned 32-bit signature for oracle
      // parity and hits its measured crowding wall at sfx10 (150 s);
      // this arm is the production default
      "x170_clusters_auto" -> (dir =>
        graft.ext.Dedup.weightedSimhashClustersAuto(
          graft.sources.Tables.documents(spark, dir), "doc_id", "text")),
      // the x101 scale path: the exact pairwise form is the x05-class
      // quadratic baseline by DESIGN (not probed past sf0.1); at scale
      // the same hashed-tf vectors feed the LSH pair family
      "x101_hashed_lsh_auto" -> (dir =>
        graft.ext.Similarity.lshNearDupPairs(
          graft.ext.TextAnalysis.featureHashVector(
            graft.sources.Tables.documents(spark, dir), "doc_id", "text",
            dim = 64),
          "id", "vec", 0.95, bands = 4, maxDim = 64)),
      // winnowing boilerplate-guard A/B: the x92 query's FIXED maxDf=50
      // vs a width that scales with the corpus (1% of docs) — same-JVM
      // back-to-back, the paired-run discipline
      "x92_winnow_df_fixed" -> (dir =>
        graft.ext.Dedup.winnowPairs(
          graft.sources.Tables.documents(spark, dir), "doc_id", "text",
          k = 3, w = 4, minShared = 2L, maxDf = 50L)),
      "x92_winnow_df_scaled" -> (dir => {
        val d = graft.sources.Tables.documents(spark, dir)
        graft.ext.Dedup.winnowPairs(d, "doc_id", "text", k = 3, w = 4,
          minShared = 2L, maxDf = math.max(50L, d.count() / 100L))
      }))
    val ops = opsAll.filter { case (name, _) => only.forall(_.contains(name)) }
    // JIT/scan warm-up
    spark.range(1000000).selectExpr("sum(id)").collect()
    for (dir <- Seq("/root/testdata/sf0.01", base, out)) {
      def time(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      // first/second printed separately: for Memo-backed families the
      // FIRST run is the cold (graph/manifest-building) cost and the
      // second the memoized serve — the cold-vs-cached table in
      // ARCHITECTURE.md reads straight off this output
      for (q <- queries) {
        val t1 = time(Queries.all(q)(spark, dir).count())
        val t2 = time(Queries.all(q)(spark, dir).count())
        println(s"""{"query":"$q","dir":"$dir","sec":${math.min(t1, t2)}""" +
          s""","first":$t1,"second":$t2}""")
      }
      for ((name, op) <- ops) {
        val t1 = time(op(dir).count())
        val t2 = time(op(dir).count())
        println(
          s"""{"query":"$name","dir":"$dir","sec":${math.min(t1, t2)}""" +
            s""","first":$t1,"second":$t2}""")
      }
    }
    spark.stop()
  }

  private def buildIfAbsent(spark: SparkSession, base: String, out: String,
      copies: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$out/_OKv2"))) {
      buildOrdersIfAbsent(spark, base, out, copies)
      buildEventsIfAbsent(spark, base, out, copies)
      buildDimsIfAbsent(spark, base, out)
      return
    }

    val docs = graft.sources.Tables.documents(spark, base)
    val docMax = docs.agg(max("doc_id")).first().getLong(0) + 1
    (0 until copies).map { k =>
      docs.select(
        (col("doc_id") + lit(k * docMax)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"~$k"))), " ").as("text"),
        col("lang"), col("source"))
        // the suffixed tokens changed the length — recompute, don't
        // carry the source n_chars through (length-sensitive operators
        // would otherwise measure inconsistent rows)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = graft.sources.Tables.embeddings(spark, base)
    val embMax = emb.agg(max("vec_id")).first().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    (0 until copies).map { k =>
      // deterministic ±1 diagonal per copy: orthogonal, so within-copy
      // cosine structure is exactly preserved
      val signs = array((0 until dim).map { j =>
        lit(if (((k * 1000003 + j * 7919) & 1) == 0) 1.0f else -1.0f)
      }: _*)
      emb.select(
        (col("vec_id") + lit(k * embMax)).as("vec_id"),
        zip_with(col("embedding"), signs, (x, s) => x * s)
          .cast("array<float>").as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = graft.sources.Tables.lineitem(spark, base)
    val liMax = li.agg(max("l_orderkey")).first().getLong(0) + 1
    (0 until copies).map { k =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(k * liMax))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    buildOrdersIfAbsent(spark, base, out, copies)
    buildEventsIfAbsent(spark, base, out, copies)
    buildDimsIfAbsent(spark, base, out)
    fs.create(new org.apache.hadoop.fs.Path(s"$out/_OKv2")).close()
  }

  /** events joined the synthetic build with the analytics arms
    * (funnel/cohort/anomaly): user ids offset per copy so each copy's
    * per-user event structure is preserved exactly — the corpus gains
    * ×copies USERS, not ×copies events per user. */
  private def buildEventsIfAbsent(spark: SparkSession, base: String,
      out: String, copies: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$out/events.parquet")))
      return
    val ev = graft.sources.Tables.events(spark, base)
    val evMax = ev.agg(max("event_id")).first().getLong(0) + 1
    val uMax = ev.agg(max("user_id")).first().getLong(0) + 1
    (0 until copies).map { k =>
      ev.withColumn("event_id", col("event_id") + lit(k * evMax))
        .withColumn("user_id", col("user_id") + lit(k * uMax))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** orders was added to the synthetic build later (the range-join
    * arms read it) — materialize it independently so existing _OKv2
    * dirs upgrade in place. Same id-offset recipe as lineitem. */
  private def buildOrdersIfAbsent(spark: SparkSession, base: String,
      out: String, copies: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$out/orders.parquet")))
      return
    val o = graft.sources.Tables.orders(spark, base)
    val oMax = o.agg(max("o_orderkey")).first().getLong(0) + 1
    (0 until copies).map { k =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(k * oMax))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
  }

  /** customer/nation/region joined the build with the x187/x192 arms:
    * copied VERBATIM (orders replicas keep their o_custkey, so the
    * scaled corpus has ×copies orders per customer — the fan-out a
    * growing book actually has), dims unchanged like any dimension
    * table. Independent so existing _OKv2 dirs upgrade in place. */
  private def buildDimsIfAbsent(spark: SparkSession, base: String,
      out: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (t <- Seq("customer", "nation", "region"))
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$out/$t.parquet")))
        graft.sources.Tables.read(spark, base, t)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
  }
}
