package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.FormattedMode
import graft.queries.Catalog

/** Plan-shape regression guard: the scale story lives in the PHYSICAL
  * plans, so this spec pins the plan properties that keep the engine
  * 100 TB-safe — any operator edit that re-introduces a scale-killer
  * fails here, at sf0.001, before it ever reaches a bench.
  *
  * Guarded properties:
  *  1. No `CartesianProduct` in any catalog query (currently zero; a
  *     cartesian over two distributed tables is the canonical
  *     scale-killer).
  *  2. `BroadcastNestedLoopJoin` only where a bounded build side is by
  *     design (1-row globals, the query vector, the centroid table,
  *     top-50 self-pairs) — a fixed allowlist, so a NEW nested-loop
  *     join anywhere else fails.
  *  3. Top-k queries physical-plan as `TakeOrderedAndProject` (never a
  *     global sort followed by limit).
  *  4. Codegen integrity: every catalog query RUNS with codegen
  *     fallback disabled (`spark.sql.codegen.fallback=false`,
  *     `spark.sql.codegen.factoryMode=CODEGEN_ONLY`), so a Janino
  *     compile error in a custom Expression fails the build instead of
  *     silently degrading to the interpreter — the bug class found in
  *     round 4 (fixed-name locals colliding across Expression
  *     instances).
  */
class PlanShapeSpec extends SparkSpec {
  import PlanShapeSpec.Planned

  // Plan grading runs in an ISOLATED child session: the test session is
  // JVM-shared across suites, so sibling suites' conf changes, temp
  // views, and (keyed-by-session) KGraph cache state could otherwise
  // leak into the graded plans. newSession() shares the SparkContext
  // but gets default confs and a fresh KGraph cache key.
  private lazy val planSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s
  }

  // Each catalog query is planned once, on first use, and every
  // structural test below reads that one plan (planning runs the
  // iterative queries' eager checkpoints, the bulk of this spec's time).
  // Only the facts are kept: a held QueryExecution would pin its
  // checkpoint blocks for the rest of the spec.
  private lazy val plans: Map[String, Planned] = Catalog.all.map { q =>
    val qe = q.run(planSession, sf).queryExecution
    q.name -> Planned(qe.explainString(FormattedMode),
      qe.optimizedPlan.collectWithSubqueries {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.nonEmpty)
  }.toMap

  private def planOf(name: String): String = plans(name).formatted

  /** Queries whose plans contain a BroadcastNestedLoopJoin on purpose:
    * every build side is bounded by construction (see the operator's
    * scaladoc), so the nested loop is a broadcast of a tiny frame, not
    * a distributed cross product. */
  private val boundedNestedLoop = Set(
    "q17_topk_cosine",        // 1-row query vector
    "q137_source_centroid_sim", // centroid frame bounded by #sources
    "q18_topk_filtered",      // 1-row query vector
    "q20_knn_join",           // bounded probe set (25 queries)
    "q22_ann_ivf",            // broadcast centroid table (nlist rows)
    "q31_embedding_neardup",  // broadcast centroid table
    "q45_relationship_metrics", // 1-row global aggregate
    "q67_qa_evidence",        // 1-row question frame
    "q73_topic_subgraph",     // top-k topic seed broadcast
    "q77_behavioral_anomaly", // 1-row global averages
    "q80_diversity_feature",  // top-50 self-pairs
    "q84_synthesis_summary",  // 1-row corpus stats
    "q85_synthesis_comparison", // bounded group-pair matrix
    "q91_ann_ivf_pq",         // 1-row broadcast ADC lookup table
    "q92_ann_ivf_sq8",        // 1-row broadcast quantization params + query
    "q103_quality_report",    // 1-row distribution x 1-row conflict count
    "q118_access_grants",     // broadcast principal frame (5 users)
    "q119_privacy_stats",     // same bounded principal broadcast
    "q120_security_summary",  // 1-row max-ts anchor
    "q123_governed_corpus",   // same bounded principal broadcast as q118
    "q124_compliance_report", // 1-row max-ts anchor
    "q127_mixture_plan",      // 1-row normalization aggregates (n_total, w_sum)
    "q129_lm_perplexity",     // 1-row vocabulary-size broadcast
    "q251_cms_heavy_hitters", // 1-row token-total stats cross
    "q258_hop_plot",          // 4-row histogram x 1-row diameter cross
    "q260_loo_influence",     // 1-row vocab + bounded sources + 1-row full-model crosses
    "q262_lateness_audit",    // 1-row event-total stats cross
    "q263_join_cardinality",  // three 1-row stats crosses per audited join
    "q264_hll_overlap",       // #event_types^2 bounded pair frame
    "q266_benford_audit",     // 9-row digit counts x 1-row total cross
    "q267_ab_test",           // 2-row arms x 1-row pooled stats cross
    "q269_hits",              // 1-row max-normalizer cross per half-step
    "q133_curriculum_buckets", // same 1-row vocab broadcast via NgramLm.score
    "q139_filter_funnel",     // same 1-row vocab broadcast via NgramLm.score
    "q142_incremental_dedup", // 1-row cutoff broadcast (max doc_id split)
    "q145_dsir_importance",   // 1-row target/candidate token totals
    "q146_bm25_topk",         // 1-row corpus stats (n_docs, avgdl)
    "q148_hard_negatives",    // bounded probe frame (16 rows by design)
    "q149_kmeans_corpus_map", // k-row centroid broadcast per iteration
    "q151_rrf_fusion",        // 1-row probe vector + 1-row bm25 stats
    "q153_ivf_cell_balance",  // nlist-row centroid broadcast (q22 shape)
    "q157_ann_recall_eval",   // 16-probe broadcast on both eval legs
    "q158_source_divergence", // bucket(256) x source(#sources) grid
    "q159_dominant_direction", // 1-row mu/v/share frames per power step
    "q160_abtt_retrieval",    // same 1-row mu/v frames + 1-row probes
    "q161_heldout_perplexity", // 1-row train-vocabulary broadcast
    "q162_dedup_threshold_sweep", // 1-row pair-stats x 1-row doc-stats
    "q163_heaps_law",         // 1-row regression-fit broadcast
    "q164_zipf_fit",          // 1-row regression-fit broadcast
    "q167_semdedup",          // k-row centroid broadcast (q149 fit reuse)
    "q168_unimax_alloc",      // 1-row corpus-total broadcast
    "q169_prototype_prune",   // k-row centroid broadcast (q149 fit reuse)
    "q172_incremental_semdedup", // 1-row cutoff + k-row centroid broadcasts
    "q173_quality_classifier", // 1-row bias/n-docs + 64-row weight broadcasts
    "q174_curation_build_v2", // composes q167/q173's bounded broadcasts
    "q175_classifier_eval",   // 1-row bias + 64-row weights (q173 scoring reuse)
    "q177_semantic_decontamination", // k-row centroid broadcast on both sides
    "q178_doremi_mixture",    // 1-row train-vocabulary broadcast (q161 shape)
    "q179_silhouette",        // k-row centroid broadcast (q149 fit reuse)
    "q181_retrieval_quality", // bounded probe frame (16 rows, q148 shape)
    "q182_drift_psi",         // 1-row cutoff broadcast (q142 shape)
    "q184_classifier_calibration", // 1-row bias + 64-row weights (q173 reuse)
    "q187_incremental_substring", // 1-row cutoff broadcast (q142 shape)
    "q196_ccnet_buckets",     // 1-row vocab broadcast via NgramLm.score
    "q198_matryoshka_fidelity", // 16-probe broadcast on both eval legs (q157 shape)
    "q200_tfidf_keywords",    // 1-row source-count broadcast
    "q202_incremental_cdc",   // 1-row cutoff broadcast (q142 shape)
    "q205_pmi_collocations",  // 1-row bigram-total broadcast
    "q206_copurchase_affinity", // 1-row order-count broadcast
    "q211_coverage_gaps",     // 1-row hour-bounds broadcast x bounded type list
    "q213_event_funnel",      // 1-row funnel-base broadcast
    "q217_sq8_error",         // 1-row quantization-params broadcast (q92 shape)
    "q219_kneser_ney",        // 1-row bigram-type-count broadcast (q129 shape)
    "q222_neyman_allocation", // 1-row fold-total broadcast (#sources frame)
    "q225_ks_length_drift",   // 64-row bucket-grid + 1-row corpus-total broadcasts
    "q229_label_separability", // #labels-row centroid + 1-row global-centroid broadcasts
    "q218_activity_deciles",  // 1-row user/event-total broadcast
    "q224_attribution",       // 1-row purchase-total broadcast
    "q227_rfm_segments",      // 1-row anchor + 1-row user-total broadcasts
    "q231_graph_mixing",      // 1-row stat frames (nodes/edges/mutual) crossed
    "q238_field_mi",          // 1-row n/mi/h folds crossed into the output row
    "q239_partition_modularity", // 1-row edge-count frame crossed per brand
    "q243_zorder_layout",     // 1-row global-range frame crossed per event
    "q244_bloom_filter_audit", // three 1-row stat frames crossed into one row
    "q270_welch_ttest",       // #sources-row aggregate x 1-row corpus totals
    "q273_graph_census",      // four 1-row stat frames crossed per graph
    "q271_cuped",             // 1-row midpoint + 2-row arms x 1-row moments
    "q277_dedup_recall_estimate", // three 1-row catch-count stats crossed
    "q279_roc_points",        // 1-row wide threshold-cell frame exploded
    "q280_average_precision", // 1-row AP aggregate (rank fold)
    "q283_shard_mixing",      // #sources-row corpus dist x 1-row total cross
    "q285_mannwhitney_u",     // 1-row (N, tie-term) totals cross
    "q287_brier_decomposition", // 1-row bias + totals crosses (q173 scoring reuse)
    "q288_ndcg_eval",         // 1-row bias + 64-row weights (q173 scoring reuse)
    "q289_wasserstein_drift", // #sources x value-census grid broadcast
    "q292_rich_club",         // two 1-row wide grid frames crossed
    "q295_chi2_independence", // #sources x #langs marginal grid + 1-row totals
    "q297_kendall_tau_grid",  // <=200-cell census self-cross + 1-row tie frames
    "q299_bridge_audit",      // two 1-row support-stat crosses per graph
    "q301_anova_f",           // #sources-row moments x 1-row totals cross
    "q302_kruskal_wallis",    // 1-row (N, tie, Σd²) totals cross (q285 census)
    "q303_bh_fdr",            // 1-row totals cross (q285 census reuse)
    "q304_hellinger_shards",  // #langs marginal + 1-row total broadcasts
    "q305_mcc_f1_grid",       // 1-row wide threshold-cell frame exploded (q279)
    "q306_brown_forsythe",    // #sources-row moments x 1-row totals cross
    "q309_dunn_posthoc",      // #sources² pair grid + 1-row totals cross
    "q310_source_conductance", // 1-row volume-total cross
    "q311_quantile_drift",    // 1-row corpus-quantile frame crossed
    "q312_embedding_dim_audit", // 1-row variance-total cross (d-row grid)
    "q314_icc_design_effect", // #sources-row moments x 1-row totals cross
    "q319_butterfly_census",  // four 1-row census-stat frames crossed
    "q323_friedman_test",     // 1-row rank-total frame crossed (35-cell grid)
    "q324_jonckheere_trend",  // 1-row J x 1-row moments cross
    "q326_uplift_curve",      // 1-row user-total cross onto the census
    "q330_ips_policy_value",  // 1-row (N, R) totals cross per policy leg
    "q331_hilbert_layout",    // 1-row global-range frame crossed (q243 shape)
    "q332_markov_entropy_rate", // 1-row (N, Σ) totals cross onto 25-cell grid
    "q335_shapley_attribution", // 32-mask grid x 5-channel bitmask joins
    "q336_t_closeness",       // 1-row population-total cross (q194 classes)
    "q337_ecod_outliers",     // 1-row doc-count cross per feature census
    "q338_local_max_matching", // 1-row initial-edge-count cross
    "q339_diff_in_diff",      // 1-row range + 1-row 4-cell-wide crosses
    "q340_kneedle_threshold", // 1-row extrema + 1-row knee crosses
    "q341_label_model",       // 1-row LF-accuracy weights cross
    "q342_obf_group_sequential", // 5-look grid joined <= onto 60-cell census
    "q345_set_cover_sources",  // 1-row max-gain/universe/cum crosses per round
    "q346_pilot_convergence")  // 4-row rate grid joined < onto buckets + 1-row full cross

  /** Catalog queries that window WITHOUT a partition spec — every row
    * audited (round-9 verdict): the windowed frame is metadata-/eval-
    * bounded (bucket grids, per-source rollups, threshold cells,
    * doc-bounded classifier eval), never data-sized, and the operator's
    * scaladoc documents the 100 TB alternative where one exists (e.g.
    * q209's grid rank, q280's histogram-AUC). A NEW unpartitioned
    * window is the canonical move-everything-to-one-partition sort
    * bottleneck and fails here until audited + listed. */
  private val unpartitionedWindowAllowed: Set[String] = Set(
    // reference pagination/ranking contract: globally ordered result
    // with a result cap (top-k heap or k<=50 driver re-rank bounds the
    // sorted frame; keyset pagination is the 100 TB alternative)
    "q06_sort_pagination", "q50_ranking_scores", "q51_diversity_rerank",
    "q105_quality_ranking",
    // two-phase exact cumsum: the partitionless window runs over
    // per-partition boundary totals (#partitions rows), never the data
    "q134_token_budget_select", "q141_shard_manifest",
    "q203_packing_manifest", "q218_activity_deciles",
    // k-bounded centroid/cluster frames (k-means family)
    "q149_kmeans_corpus_map", "q167_semdedup", "q169_prototype_prune",
    "q172_incremental_semdedup", "q174_curation_build_v2",
    "q177_semantic_decontamination", "q179_silhouette",
    // bounded rank-fusion / probe frames (top-k lists, 16-probe evals)
    "q151_rrf_fusion", "q160_abtt_retrieval",
    // eval-frame-bounded classifier readouts (documented alternative:
    // histogram AUC — see q280's scaladoc)
    "q175_classifier_eval", "q184_classifier_calibration",
    "q280_average_precision",
    // metadata-sized grids: buckets, vocab ranks, metric/value
    // censuses, hop/depth/lateness histograms, per-source rollups
    "q164_zipf_fit", "q168_unimax_alloc", "q178_doremi_mixture",
    "q182_drift_psi", "q186_cluster_histogram", "q209_metric_spearman",
    "q242_clustering_depth", "q258_hop_plot", "q262_lateness_audit",
    "q283_shard_mixing", "q285_mannwhitney_u", "q289_wasserstein_drift",
    // shared rank-census consumers (same domain-bounded value grid as
    // q285); q303/q309 additionally window their #sources test tables
    "q302_kruskal_wallis", "q303_bh_fdr", "q309_dunn_posthoc",
    // event-time grids (distinct event times bound the survival /
    // retention frames)
    "q240_km_retention", "q281_nelson_aalen", "q282_logrank_test",
    // activity-domain-bounded uplift census (q326: the descending
    // cumulative window runs over distinct activity values only)
    "q326_uplift_curve",
    // 256-cell layout grids (q331: the consecutive-cell lag window
    // runs over at most 2^(2*ZBits) occupied cells)
    "q331_hilbert_layout",
    // per-feature value-domain censuses (q337: the three ecdf cumsum
    // windows run over integer feature grids, never |docs|)
    "q337_ecod_outliers",
    // MinHash estimate lattice (q340: the descending cumulative runs
    // over at most K/2+1 grid points)
    "q340_kneedle_threshold")

  test("unpartitioned windows only over audited metadata-bounded frames") {
    val withWin = Catalog.all.map(_.name)
      .filter(plans(_).unpartitionedWindow).toSet
    val unexpected = withWin -- unpartitionedWindowAllowed
    val stale = unpartitionedWindowAllowed -- withWin
    assert(unexpected.isEmpty,
      "NEW unpartitioned window (audit the frame bound, then allowlist) " +
        s"in: ${unexpected.toSeq.sorted.mkString(", ")}")
    assert(stale.isEmpty,
      "allowlist rows no longer window unpartitioned — tighten the list: " +
        stale.toSeq.sorted.mkString(", "))
  }

  // On failure, include a plan excerpt around the first occurrence so a
  // transient/state-dependent failure self-diagnoses from the log alone.
  private def excerpt(plan: String, marker: String): String = {
    val i = plan.indexOf(marker)
    if (i < 0) "" else plan.slice((i - 300).max(0), i + 500)
  }

  test("no catalog query plans a CartesianProduct") {
    val offenders = Catalog.all.map(_.name)
      .map(n => n -> planOf(n))
      .filter(_._2.contains("CartesianProduct"))
    assert(offenders.isEmpty,
      s"cartesian product crept into: ${offenders.map(_._1).mkString(", ")}\n" +
        offenders.map { case (n, p) =>
          s"--- $n ---\n${excerpt(p, "CartesianProduct")}" }.mkString("\n"))
  }

  test("BroadcastNestedLoopJoin only where the build side is bounded by design") {
    val offenders = Catalog.all.map(_.name)
      .filterNot(boundedNestedLoop)
      .map(n => n -> planOf(n))
      .filter(_._2.contains("BroadcastNestedLoopJoin"))
    assert(offenders.isEmpty,
      s"new nested-loop join (unbounded cross?) in: " +
        s"${offenders.map(_._1).mkString(", ")}\n" +
        offenders.map { case (n, p) =>
          s"--- $n ---\n${excerpt(p, "BroadcastNestedLoopJoin")}" }.mkString("\n"))
  }

  test("top-k queries plan as TakeOrderedAndProject, not sort+limit") {
    val topK = Seq("q06_sort_pagination", "q17_topk_cosine",
      "q18_topk_filtered", "q22_ann_ivf", "q50_ranking_scores",
      "q70_rank_features", "q91_ann_ivf_pq", "q92_ann_ivf_sq8",
      // curation family: selection must stay a per-partition heap —
      // a global sort of the candidate stream is the 100 TB failure
      "q145_dsir_importance", "q146_bm25_topk", "q147_pagerank",
      "q152_weighted_sample")
    val missing = topK.filterNot(n => planOf(n).contains("TakeOrderedAndProject"))
    assert(missing.isEmpty,
      s"top-k degraded to global sort in: ${missing.mkString(", ")}")
  }

  test("expected broadcasts are present (small sides stay broadcast)") {
    // q73: top-k topic seeds broadcast into the edge semi-joins; q22:
    // centroids broadcast into the assignment join. If these degrade to
    // shuffle joins the small side suddenly pays a full shuffle at scale.
    // q115: the benchmark side of the decontamination join must stay
    // broadcast — a shuffle there re-partitions the full train corpus's
    // shingle explosion at scale; q114: the rule table is an explicit
    // broadcast by construction.
    for (n <- Seq("q73_topic_subgraph", "q22_ann_ivf",
        "q114_alert_rules", "q115_decontamination",
        // curation family: the feature/idf/centroid frames are the
        // bounded sides by construction
        "q145_dsir_importance", "q146_bm25_topk", "q149_kmeans_corpus_map",
        "q153_ivf_cell_balance", "q157_ann_recall_eval"))
      assert(planOf(n).contains("Broadcast"), s"$n lost its broadcast")
  }

  test("every catalog query survives codegen with fallback disabled") {
    val conf = planSession.conf
    val prevFallback = conf.get("spark.sql.codegen.fallback", "true")
    val prevFactory = conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val failures = Catalog.all.flatMap { q =>
        try { q.run(planSession, sf).count(); None }
        catch { case e: Throwable =>
          Some(s"${q.name}: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(200)}")
        }
      }
      assert(failures.isEmpty,
        s"codegen fallback (or failure) in:\n${failures.mkString("\n")}")
    } finally {
      conf.set("spark.sql.codegen.fallback", prevFallback)
      conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }
}

object PlanShapeSpec {
  /** What the structural tests read of one catalog query's plan: the
    * formatted physical plan, and whether the optimized plan windows
    * without a partition spec. */
  private final case class Planned(formatted: String,
      unpartitionedWindow: Boolean)
}
