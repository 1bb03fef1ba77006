package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Plan-quality regression guard: the shapes that make these queries
  * scale must stay in the physical plan — filters reaching the parquet
  * scan, dimension joins broadcast, LIMIT planned as TakeOrdered (no full
  * sort), the custom as-of operator actually planned, and no cartesian
  * products anywhere in the audited set.
  */
class PlanShapeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Registry.byName(name).run(spark, dir)
      .queryExecution.explainString(FormattedMode)

  /** The result's plan, then the plan of every SQL execution that building
    * the result ran: a query that lands an operator's output before
    * reading it back shows that operator only there.
    */
  private def builtPlans(name: String): Seq[String] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the closing marker job of jobDescriptionsOf is delivered after every
    // execution start posted before it
    val (result, _) =
      try jobDescriptionsOf(plan(name))
      finally spark.sparkContext.removeSparkListener(listener)
    result +: started.asScala.toSeq
  }

  test("q02 filter reaches the parquet scan as PushedFilters") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull"), p.take(800))
  }

  test("q01 LIMIT plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q01_scan_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("TPC-H shapes broadcast their dimension chains") {
    assert(plan("q41_ship_priority").contains("BroadcastHashJoin"))
    assert(plan("q42_local_supplier_volume").contains("BroadcastHashJoin"))
  }

  test("q61 plans through the custom AsOfJoin operator") {
    assert(plan("q61_asof_custom_exec").contains("AsOfJoin"))
  }

  test("q84 permutation rank has no single-partition stage (no global window)") {
    val p = plan("q84_shuffle_shard_split")
    assert(p.contains("Window"), "expected the per-partition rank window")
    assert(!p.contains("SinglePartition"),
      "global-sort rank would collapse the corpus onto one task:\n" + p.take(1200))
  }

  test("q90 exact-N sample plans as a bounded aggregate, not a global sort-limit") {
    val p = plan("q90_sample_exact_n")
    // TopKAgg partial/final (ObjectHashAggregate) selects the ids; the
    // corpus is never globally sorted (no TakeOrdered/global Sort over it)
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert(!p.contains("TakeOrderedAndProject"), p.take(1200))
  }

  test("q98 exact-count verification is gated by the candidate semi-join") {
    // the vocabulary-wide aggregate this sketch exists to avoid must not
    // come back: the exact counts aggregate only candidate-joined rows
    assert(plan("q98_heavy_hitters").contains("BroadcastHashJoin LeftSemi"))
  }

  test("q104 PMI bounds the pair join with a broadcast df filter") {
    val p = plan("q104_pmi_cooccurrence")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("q105 CUBE plans through Expand with ONE shuffle") {
    val p = plan("q105_cube_agg")
    assert(p.contains("Expand"), p.take(1200))
    // one hash exchange (the grouping-sets aggregate); the only other
    // exchange is the final presentation sort's range partitioning
    assert("hashpartitioning".r.findAllIn(p).size == 1, p.take(1600))
  }

  test("q106 transition window is per-user (no single-partition stage)") {
    // pin the count builder's lazy plan: eventTransitions cuts the tiny
    // count frame, which executes (and hides) the window before explain
    val p = graft.queries.EventQueries
      .transitionCounts(Tables.events(spark, dir))
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("SinglePartition"),
      "a global window would collapse the event log onto one task:\n" + p.take(1200))
  }

  test("q107 winsorize broadcasts the percentile frame") {
    assert(plan("q107_winsorize").contains("BroadcastHashJoin"))
  }

  test("no cartesian product in any audited plan") {
    Seq("q01_scan_sort_limit", "q02_filter_project", "q19_ngram_jaccard_pairs",
      // the other exact-clone pair operators (q24, q35 and q233 land
      // their pairs while being built)
      "q20_minhash_lsh_pairs", "q24_embedding_ann_lsh",
      "q35_winnow_overlap_pairs", "q118_setsim_prefix_join",
      "q143_tfidf_cosine_pairs", "q233_minhash_error_census",
      "q273_containment_pairs",
      "q34_salted_join_agg", "q41_ship_priority", "q42_local_supplier_volume",
      "q54_bm25_rank", "q57_label_centroids", "q61_asof_custom_exec",
      "q62_range_join_windows", "q63_cdc_merge", "q90_sample_exact_n",
      "q93_rrf_fusion", "q94_quality_deciles", "q96_quantile_normalize",
      "q98_heavy_hitters", "q102_token_kl_divergence", "q103_unigram_surprisal",
      "q104_pmi_cooccurrence", "q105_cube_agg", "q106_event_transitions",
      "q107_winsorize",
      // round-7 declarative additions (loop-driven queries — k-core,
      // harmonic, PPR — execute jobs at plan-build time and are audited
      // by their own operator specs instead). q160's day-spine range
      // join IS a BroadcastNestedLoopJoin by design (≤ |days| broadcast
      // rows, ≤ 7 fan-out per activity row) — the assert is on
      // CartesianProduct, which stays banned.
      "q145_repetition_rules", "q146_decontamination", "q147_seasonal_anomaly",
      "q148_adamic_adar", "q149_basket_rules", "q150_rfm_segments",
      "q151_bm25_retrieval", "q152_mean_shift_changepoint", "q154_psi_drift",
      "q155_theil_sen_trend", "q159_nearest_centroid_eval",
      "q160_dau_wau_stickiness", "q171_small_qty_revenue",
      "q172_pricing_summary", "q174_priority_exists",
      "q175_excess_qty_suppliers", "q176_waiting_suppliers",
      // round-9 declarative additions (q186/q187/q188 run component/
      // kmeans loops at plan-build time — audited by their operator
      // specs)
      "q184_ewma_daily", "q185_acf_daily", "q189_linear_attribution",
      "q190_disjunctive_revenue", "q191_large_volume_customers",
      "q192_nation_market_share", "q193_important_parts",
      "q194_promo_revenue_share", "q195_part_supplier_diversity",
      // round-9 closers (q202 writes at build time and q204 runs the
      // Brandes loop at build time — audited by LayoutSpec/
      // GraphExtrasSpec; these three are pure declarative plans)
      "q201_crossdoc_substring_dedup", "q203_naive_bayes_langid",
      "q205_incremental_jaccard_pairs",
      // round-10 declarative additions (q224/q227 run component/LPA loops
      // and q225/q233 drive bounded selection loops or landings at
      // plan-build time — audited by their operator specs; q226's
      // cross-join of three 1-row aggregate scalars is intentional)
      "q229_readability_fk", "q230_fd_violations", "q231_benford_digits",
      "q232_vocab_coverage", "q234_session_ngram_patterns",
      "q235_calibration_bins", "q236_hampel_repair",
      // round-10 second wave (q239's single-row crossJoin(broadcast(d0))
      // is the q226 scalar-fold contract — BNLJ, never CartesianProduct;
      // q242's WL rounds are declarative joins, built lazily)
      "q238_forecast_revenue", "q239_holt_trend", "q240_cusum_changepoint",
      "q241_spearman_corr", "q242_wl_refinement", "q243_fellegi_sunter",
      "q244_copurchase_pairs", "q245_seeded_label_prop",
      "q246_neyman_allocation", "q247_ushape_attribution",
      "q248_boruvka_forest", "q249_perplexity_filter",
      "q250_itemcf_neighbors", "q251_ndcg_retrieval", "q252_phrase_search",
      "q253_beam_ann_search", "q254_skyline_parts",
      // q255's bounded bin-interval joins broadcast (the q226 scalar-fold
      // contract); q257's chain solve is a bounded driver-local artifact
      "q255_isotonic_calibration", "q256_wilson_ranking",
      "q257_markov_attribution", "q258_kmv_distinct",
      "q259_poisson_bootstrap_ci", "q260_holt_backtest",
      // q261's ring lookups are broadcast bounded-fan BNLJs (ring-sized)
      "q261_consistent_hash_reshard", "q262_kendall_tau",
      "q263_two_proportion_z", "q264_jaro_winkler_linkage",
      "q265_chao1_vocab", "q266_heaps_law_fit", "q267_lsh_tuning_curve")
      .foreach { n =>
        assert(!builtPlans(n).exists(_.contains("CartesianProduct")), s"cartesian in $n")
      }
  }

  test("q190 disjunction decomposes: equi hash join + per-side partial filters") {
    val p = plan("q190_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "OR-of-ANDs must not defeat the equi join:\n" + p.take(1500))
    // the quantity bound common to the disjunction's lineitem conjuncts
    // must be pushed below the join into the fact-side scan
    assert(p.contains("PushedFilters:"), p.take(1500))
  }

  test("q191 IN-over-HAVING becomes aggregate + semi join, not per-row") {
    val p = plan("q191_large_volume_customers")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("Subquery"), "per-row subquery survived:\n" + p.take(1500))
  }

  test("q192 snowflake joins broadcast every dimension") {
    val p = plan("q192_nation_market_share")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "dimension join fell back to a fact-side shuffle:\n" + p.take(1500))
  }

  test("q195 NOT IN plans as a broadcast null-aware anti join") {
    val p = plan("q195_part_supplier_diversity")
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("q184 EWMA smoothing self-join stays an equi join") {
    val p = plan("q184_ewma_daily")
    // the day-lag pairing must ride an equi join on the type key, never a
    // nested-loop over the daily frame; the two BroadcastNestedLoopJoins
    // in this plan are the intentional single-row crossJoin(broadcast(d0))
    // scalar folds (the q226 contract), so the assert pins the equi join's
    // presence and bans only the unbounded cartesian
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "day-lag pairing lost its equi join:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q238 Q6 pushes the whole predicate to the parquet scan") {
    val p = plan("q238_forecast_revenue")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,1996-01-01")
      && p.contains("GreaterThanOrEqual(l_discount,0.05")
      && p.contains("LessThan(l_quantity,24.0)"),
      "Q6 conjuncts must reach PushedFilters:\n" + p.take(1500))
  }

  test("q244 co-purchase top-20 plans as TakeOrdered, not a global sort") {
    assert(plan("q244_copurchase_pairs").contains("TakeOrderedAndProject"))
  }

  test("q189 attribution joins purchases to touches on the user key") {
    val p = plan("q189_linear_attribution")
    // the 7-day range must ride the user_id equi join as a residual
    // condition, never a nested-loop over the corpus
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("q174 EXISTS decorrelates to one left semi join") {
    val p = plan("q174_priority_exists")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("Subquery"), "per-row subquery survived:\n" + p.take(1500))
  }

  test("q175 nested correlated IN decorrelates to semi join + aggregate join") {
    val p = plan("q175_excess_qty_suppliers")
    assert(p.contains("LeftSemi"), p.take(1500))
    assert(!p.contains("Subquery"), "per-row subquery survived:\n" + p.take(1500))
  }

  test("q176 EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan("q176_waiting_suppliers")
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoop"),
      "fact-table nested loop:\n" + p.take(2000))
  }
}
