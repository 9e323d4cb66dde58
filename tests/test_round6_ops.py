"""Invariant tests for the round-6 batch-9 operators. The oracle diff
proves value equality; these guard the math invariants (kappa in
[-1, 1], conformal coverage ≥ its nominal level up to finite-sample
slack, RRF list discipline, near-dup symmetry/cap)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_media_neardup_pairs_canonical_and_capped(spark):
    from airflow_baseball_spark.queries_multimodal import q_media_neardup

    rows = q_media_neardup(spark, SF).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert r.n_shared >= 2
        assert 0 < r.overlap_micro <= 1000000


def test_rrf_fusion_topk_and_score_bounds(spark):
    from airflow_baseball_spark.queries_stats import _RRF_K, q_rrf_fusion

    rows = q_rrf_fusion(spark, SF).collect()
    assert 0 < len(rows) <= 20
    max_single = 1000000 // (_RRF_K + 1)
    scores = [r.rrf_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        # at least one list contains the doc; score bounded by 3 lists
        assert r.rank_bm25 + r.rank_tf + r.rank_rec > 0
        assert 0 < r.rrf_micro <= 3 * max_single


def test_cohens_kappa_bounds(spark):
    from airflow_baseball_spark.queries_eval import q_cohens_kappa

    r = q_cohens_kappa(spark, SF).collect()[0]
    assert r.n_agree <= r.n_items
    assert -1000000 <= r.kappa_micro <= 1000000
    # kappa never exceeds raw agreement
    assert r.kappa_micro <= r.po_micro


def test_conformal_coverage_near_nominal(spark):
    from airflow_baseball_spark.queries_eval import q_conformal_interval

    rows = q_conformal_interval(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_calib > 0 and r.n_test > 0
        assert r.qhat_cents >= 0
        assert 0 <= r.n_covered <= r.n_test
        # split-conformal guarantee is on the calibration draw; allow
        # finite-sample slack below the 0.9 nominal on tiny groups
        assert r.coverage_micro >= 700000


def test_graph_modularity_partition_consistency(spark):
    from airflow_baseball_spark.queries_mining import (
        _above_avg_edges,
        q_graph_modularity,
    )

    rows = q_graph_modularity(spark, SF).collect()
    assert rows
    edges = _above_avg_edges(spark, SF).collect()
    verts = {r.brand_a for r in edges} | {r.brand_b for r in edges}
    m = len(edges)
    assert sum(r.n_members for r in rows) == len(verts)
    assert sum(r.e_within for r in rows) <= m
    assert sum(r.d_c for r in rows) == 2 * m
    # each contribution bounded: e_c/m <= 1, (d_c/2m)^2 <= 1
    for r in rows:
        assert -1000000 <= r.q_contrib_micro <= 1000000


def test_media_dedup_savings_accounting(spark):
    from airflow_baseball_spark.queries_multimodal import (
        q_media_dedup_savings,
    )

    rows = q_media_dedup_savings(spark, SF).collect()
    assert {r.media_type for r in rows} == {"image", "audio", "video"}
    for r in rows:
        assert r.n_unique <= r.n_assets
        assert r.n_dup_copies == r.n_assets - r.n_unique
        assert 0 <= r.reclaimable_bytes < r.total_bytes
        assert 0 <= r.savings_micro < 1000000


def test_kneser_ney_probabilities_sum_below_one(spark):
    # per-history KN mass must not exceed 1 (discounting is proper)
    from airflow_baseball_spark.queries_text import q_kneser_ney_bigram

    rows = q_kneser_ney_bigram(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_bigrams > 0
        assert r.mean_nll > 0  # probabilities < 1 => positive NLL
        assert r.perplexity > 1


def test_holt_linear_recurrence_replay(spark):
    from airflow_baseball_spark.queries_timeseries import q_holt_linear

    rows = q_holt_linear(spark, SF).collect()
    assert rows
    by_nation = {}
    for r in sorted(rows, key=lambda r: (r.nationkey, r.d)):
        by_nation.setdefault(r.nationkey, []).append(r)
    for series in by_nation.values():
        lev = trend = None
        for r in series:
            if lev is None:
                assert r.forecast_cents == r.y_cents
                lev, trend = r.y_cents, 0
            else:
                assert r.forecast_cents == lev + trend
                new_lev = (r.y_cents + lev + trend) // 2
                trend = (new_lev - lev + trend) // 2
                lev = new_lev
            assert r.level_cents == lev
            assert r.trend_cents == trend


def test_cluster_nmi_bounds(spark):
    from airflow_baseball_spark.queries_text import q_cluster_nmi

    r = q_cluster_nmi(spark, SF).collect()[0]
    assert r.n_clusters <= 8
    assert r.n_labels >= 2
    assert r.mi_nats >= 0
    assert 0.0 <= r.nmi <= 1.0 + 1e-9


def test_seasonal_decompose_identity(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_seasonal_decompose,
    )

    rows = q_seasonal_decompose(spark, SF).collect()
    assert rows
    n_interior = 0
    for r in rows:
        if r.trend_cents is None:
            # edge days have no detrended value (no remainder), but
            # still inherit their weekday's seasonal mean
            assert r.remainder_cents is None
            continue
        n_interior += 1
        # additive identity holds exactly in integer cents
        assert (
            r.trend_cents + r.seasonal_cents + r.remainder_cents
            == r.y_cents
        )
    assert n_interior >= len(rows) - 6  # only window edges lack trend


def test_ktruss_is_subgraph_with_min_support(spark):
    from airflow_baseball_spark.queries_mining import (
        _above_avg_edges,
        q_ktruss,
    )

    edges = {
        (r.brand_a, r.brand_b) for r in _above_avg_edges(spark, SF).collect()
    }
    rows = q_ktruss(spark, SF).collect()
    survivors = {(r.brand_a, r.brand_b) for r in rows}
    assert survivors <= edges
    # verify final support against a python triangle count on survivors
    import collections

    adj = collections.defaultdict(set)
    for a, b in survivors:
        adj[a].add(b)
        adj[b].add(a)
    for r in rows:
        assert r.support == len(adj[r.brand_a] & adj[r.brand_b])


def test_ivf_nprobe_recall_monotone(spark):
    from airflow_baseball_spark.queries_text import q_ivf_nprobe_sweep

    rows = sorted(
        q_ivf_nprobe_sweep(spark, SF).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    recalls = [r.recall_micro for r in rows]
    # probing more cells can only add candidates -> recall monotone
    assert recalls == sorted(recalls)
    for r in rows:
        assert 0 <= r.n_hits <= 3 * r.n_queries
        assert 0 <= r.recall_micro <= 1000000


def test_ann_hubness_accounting(spark):
    from airflow_baseball_spark.queries_text import q_ann_hubness

    r = q_ann_hubness(spark, SF).collect()[0]
    assert r.n_queries > 0
    assert 1 <= r.n_referenced <= 3 * r.n_queries
    assert r.n_antihubs >= 0
    assert 1 <= r.max_occ <= r.n_queries
    assert 0 < r.top10_share_micro <= 1000000


def test_pinball_p90_penalizes_under_more(spark):
    from airflow_baseball_spark.queries_timeseries import q_pinball_loss

    rows = {r.q_milli: r for r in q_pinball_loss(spark, SF).collect()}
    assert set(rows) == {500, 900}
    assert rows[500].n_days == rows[900].n_days > 0
    for r in rows.values():
        assert r.mean_pinball_milli >= 0


def test_periodogram_weekly_dominates(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_periodogram_probe,
    )

    rows = {r.period_days: r for r in q_periodogram_probe(spark, SF).collect()}
    assert set(rows) == {7, 30, 91}
    for r in rows.values():
        assert r.amplitude_dollars >= 0
        assert r.n_days > 28


def test_markov_attribution_shares_sum_to_one(spark):
    from airflow_baseball_spark.queries_llm import (
        _MARKOV_CHANNELS,
        q_markov_attribution,
    )

    rows = q_markov_attribution(spark, SF).collect()
    assert {r.channel for r in rows} == set(_MARKOV_CHANNELS)
    base = {r.p_base_micro for r in rows}
    assert len(base) == 1 and 0 < base.pop() <= 1000000
    for r in rows:
        # removing a channel cannot raise conversion mass
        assert r.removal_micro >= 0
        assert r.p_removed_micro <= r.p_base_micro
    total_share = sum(r.attribution_micro for r in rows)
    # integer floor division: sums to 1e6 minus rounding slack
    assert 1000000 - len(rows) <= total_share <= 1000000


def test_rake_phrases_contain_no_stopwords(spark):
    from airflow_baseball_spark.queries_text import (
        _RAKE_MAX_LEN,
        _RAKE_STOP,
        q_rake_keyphrases,
    )

    rows = q_rake_keyphrases(spark, SF).collect()
    assert 0 < len(rows) <= 20
    scores = [r.score_micro for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        toks = r.phrase.split(" ")
        assert 1 <= len(toks) <= _RAKE_MAX_LEN
        assert not (set(toks) & set(_RAKE_STOP))
        assert r.n_occurrences >= 1


def test_late_arrival_audit_bounds(spark):
    from airflow_baseball_spark.queries_streaming import (
        q_late_arrival_audit,
    )

    rows = q_late_arrival_audit(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dropped_1h <= r.n_out_of_order <= r.n_events
        assert r.max_late_seconds >= 0
        if r.n_dropped_1h:
            assert r.max_late_seconds > 3600


def test_triplet_margins_and_separability(spark):
    from airflow_baseball_spark.queries_text import q_triplet_mining

    rows = q_triplet_mining(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_anchors > 0
        assert 0 <= r.n_separable <= r.n_anchors
        assert r.worst_margin_micro <= r.mean_margin_micro
        assert -2000000 <= r.worst_margin_micro <= 2000000


def test_consistent_fk_sample_closure(spark):
    from airflow_baseball_spark.queries_sampling import (
        q_consistent_fk_sample,
    )

    rows = q_consistent_fk_sample(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_customers > 0
        # FK closure: ratio columns consistent with raw counts
        assert (
            r.orders_per_cust_micro
            == r.n_orders * 1000000 // r.n_customers
        )
        if r.n_orders:
            assert (
                r.items_per_order_micro
                == r.n_lineitems * 1000000 // r.n_orders
            )


def test_uplift_qini_monotone_counts(spark):
    from airflow_baseball_spark.queries_eval import q_uplift_qini

    rows = sorted(q_uplift_qini(spark, SF).collect(), key=lambda r: r.decile)
    assert len(rows) == 10
    prev_t = prev_c = 0
    for r in rows:
        assert r.n_treated_cum >= prev_t
        assert r.n_control_cum >= prev_c
        assert 0 <= r.resp_treated_cum <= r.n_treated_cum
        assert 0 <= r.resp_control_cum <= r.n_control_cum
        prev_t, prev_c = r.n_treated_cum, r.n_control_cum


def test_pass_at_k_monotone_in_k(spark):
    from airflow_baseball_spark.queries_eval import q_pass_at_k

    rows = sorted(q_pass_at_k(spark, SF).collect(), key=lambda r: r.k)
    assert [r.k for r in rows] == [1, 3, 5]
    vals = [r.mean_pass_micro for r in rows]
    # more attempts can only help
    assert vals == sorted(vals)
    for r in rows:
        assert 0 <= r.mean_pass_micro <= 1000000
        assert r.n_problems > 0


def test_emd_vs_ks_sanity(spark):
    from airflow_baseball_spark.queries_stats import q_emd_1d

    r = q_emd_1d(spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert r.emd_bins_milli >= 0
    assert r.emd_dollars >= 0
    # dollars = bins * $5
    assert abs(r.emd_dollars - r.emd_bins_milli / 1000 * 5) < 0.05


def test_vocab_oov_bounds(spark):
    from airflow_baseball_spark.queries_text import q_vocab_coverage_oov

    rows = q_vocab_coverage_oov(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_oov_tokens <= r.n_tokens
        assert r.n_oov_types <= r.n_oov_tokens
        assert 0 <= r.oov_rate_micro <= 1000000


def test_ppr_mass_conservation_and_locality(spark):
    from airflow_baseball_spark.queries_mining import (
        q_personalized_pagerank,
    )

    rows = q_personalized_pagerank(spark, SF).collect()
    assert rows
    total = sum(r.ppr_nano for r in rows)
    # integer floors only LEAK mass: total <= 1e9, but most survives
    assert 0 < total <= 1_000_000_000
    assert total > 500_000_000
    # the source (min node) holds the restart mass -> strictly positive
    src = min(r.node for r in rows)
    src_mass = next(r.ppr_nano for r in rows if r.node == src)
    assert src_mass >= 150_000_000


def test_sprt_decision_consistency(spark):
    from airflow_baseball_spark.queries_eval import (
        _SPRT_C0_NANO,
        _SPRT_C1_NANO,
        q_sprt_abtest,
    )

    r = q_sprt_abtest(spark, SF).collect()[0]
    assert r.n_users > 0
    assert 0 <= r.n_conversions <= r.n_users
    expect = (
        r.n_conversions * _SPRT_C1_NANO
        + (r.n_users - r.n_conversions) * _SPRT_C0_NANO
    )
    assert r.llr_final_nano == expect
    assert r.decision in ("accept_h0", "accept_h1", "continue")
    if r.decision == "continue":
        assert r.first_cross_user == -1


def test_mutual_knn_pairs_symmetric_ranks(spark):
    from airflow_baseball_spark.queries_text import q_mutual_knn_pairs

    rows = q_mutual_knn_pairs(spark, SF).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert 1 <= r.rank_ab <= 3
        assert 1 <= r.rank_ba <= 3
        assert -1.0 <= r.cos_ab <= 1.0


def test_eb_shrinkage_pulls_toward_global_mean(spark):
    from airflow_baseball_spark.queries_stats import q_eb_shrinkage

    rows = q_eb_shrinkage(spark, SF).collect()
    assert rows
    nn = sum(r.n for r in rows)
    xx = sum(r.x for r in rows)
    gm = xx * 1000000 // nn
    for r in rows:
        lo, hi = sorted((r.raw_micro, gm))
        # shrunk rate sits between the raw rate and the global mean
        assert lo - 2 <= r.shrunk_micro <= hi + 2
        assert 0 < r.shrink_weight_micro < 1000000


def test_qte_rows_and_ordering(spark):
    from airflow_baseball_spark.queries_stats import (
        q_quantile_treatment_effect,
    )

    rows = {r.q_milli: r for r in q_quantile_treatment_effect(spark, SF).collect()}
    assert set(rows) == {500, 900}
    for r in rows.values():
        assert r.n_treated > 0 and r.n_control > 0
        assert r.qte_cents == r.q_treated_cents - r.q_control_cents
    # P90 quantiles dominate P50 within each arm
    assert rows[900].q_treated_cents >= rows[500].q_treated_cents
    assert rows[900].q_control_cents >= rows[500].q_control_cents


def test_rare_term_pairs_bounded_and_similar(spark):
    from airflow_baseball_spark.queries_text import (
        q_rare_term_cosine_pairs,
    )

    rows = q_rare_term_cosine_pairs(spark, SF).collect()
    for r in rows:
        assert r.id_a < r.id_b
        assert r.n_shared >= 1
        assert 0.5 < r.cos <= 1.0 + 1e-9


def test_forecast_reconciliation_coherence(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_forecast_reconciliation,
    )

    rows = q_forecast_reconciliation(spark, SF).collect()
    assert rows
    from collections import defaultdict

    bu = defaultdict(int)
    td = defaultdict(int)
    for r in rows:
        bu[r.regionkey] += r.bottom_up_cents
        td[r.regionkey] += r.top_down_cents
    # coherence: allocated nation forecasts sum EXACTLY to the region
    for k in bu:
        assert td[k] == bu[k]


def test_decision_stump_is_argmin(spark):
    from airflow_baseball_spark.queries_eval import q_decision_stump

    r = q_decision_stump(spark, SF).collect()[0]
    assert r.n_left > 0 and r.n_right > 0
    assert 0 <= r.pos_left <= r.n_left
    assert 0 <= r.pos_right <= r.n_right
    # weighted Gini of a binary split lies in [0, 0.5e6]
    assert 0 <= r.gini_micro <= 500001


def test_cuped_r2_bounds(spark):
    from airflow_baseball_spark.queries_stats import q_cuped_adjustment

    r = q_cuped_adjustment(spark, SF).collect()[0]
    assert r.n_users > 0
    assert 0.0 <= r.var_reduction_r2 <= 1.0 + 1e-9


def test_mann_whitney_u_range(spark):
    from airflow_baseball_spark.queries_stats import q_mann_whitney_u

    r = q_mann_whitney_u(spark, SF).collect()[0]
    assert r.n_treated > 0 and r.n_control > 0
    # 0 <= U <= n1*n2 (doubled scale)
    assert 0 <= r.u_doubled <= 2 * r.n_treated * r.n_control
    assert r.tie_term >= 0
    assert abs(r.z) < 50


def test_bradley_terry_strengths_normalized(spark):
    from airflow_baseball_spark.queries_mining import q_bradley_terry

    rows = q_bradley_terry(spark, SF).collect()
    assert rows
    n = len(rows)
    total = sum(r.bt_micro for r in rows)
    # renormalized each round: mean strength ~ 1e6 (integer floors
    # only shave)
    assert n * 1000000 - n * 2 <= total <= n * 1000000 + n
    for r in rows:
        assert 0 <= r.wins <= r.games
        assert r.bt_micro > 0
    # perfect correlation sanity: most wins -> not the weakest
    best = max(rows, key=lambda r: (r.wins * 1000000) // r.games)
    worst = min(rows, key=lambda r: (r.wins * 1000000) // r.games)
    assert best.bt_micro >= worst.bt_micro


def test_seasonality_strength_bounds(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_seasonality_strength,
    )

    r = q_seasonality_strength(spark, SF).collect()[0]
    assert r.n_days > 0
    assert 0.0 <= r.f_seasonal <= 1.0
    assert 0.0 <= r.f_trend <= 1.0


def test_sse_changepoint_split_valid(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_sse_changepoint,
    )

    r = q_sse_changepoint(spark, SF).collect()[0]
    assert r.n_before >= 1 and r.n_after >= 1
    # two segments can only fit at least as well as one
    assert 0.0 <= r.variance_explained <= 1.0


def test_diff_in_diff_identity_and_cells(spark):
    from airflow_baseball_spark.queries_stats import q_diff_in_diff

    r = q_diff_in_diff(spark, SF).collect()[0]
    assert min(r.n_c_pre, r.n_c_post, r.n_t_pre, r.n_t_post) > 0
    recomputed = (r.mean_t_post - r.mean_t_pre) - (
        r.mean_c_post - r.mean_c_pre
    )
    # did is _r6 of the unrounded means; the recomputation from the
    # rounded means can differ by at most 4 rounding quanta
    assert abs(recomputed - r.did_cents) < 5e-6


def test_bitmap_day_index_audits_clean(spark):
    from airflow_baseball_spark.queries_sketch import q_bitmap_day_index

    rows = q_bitmap_day_index(spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.audit_ok == 1
        assert r.days_bitmap == r.days_exact
        assert r.days_shared_with_f <= r.days_exact
        if r.status == "F":
            # self-overlap is the full day set
            assert r.days_shared_with_f == r.days_exact


def test_shapley_efficiency_axiom(spark):
    from airflow_baseball_spark.queries_llm import q_shapley_attribution

    rows = q_shapley_attribution(spark, SF).collect()
    assert {r.channel for r in rows} == {"view", "click", "signup"}
    total = sum(r.phi_sixths for r in rows)
    n_conv = rows[0].n_conv
    # efficiency: sum phi = v(all) - v(empty), in sixths
    assert total % 6 == 0
    assert 0 <= total <= 6 * n_conv
    for r in rows:
        assert r.phi_sixths >= 0  # v is monotone


def test_negative_sampling_slots_sum_exactly(spark):
    from airflow_baseball_spark.queries_llm import q_negative_sampling_table

    rows = q_negative_sampling_table(spark, SF).collect()
    assert 1 <= len(rows) <= 64  # sf0.001 vocab is smaller than 64
    assert sum(r.slots for r in rows) == 1_000_000
    # smoothing: slot share ordering follows frequency ordering
    by_f = sorted(rows, key=lambda r: (-r.f, r.term))
    slots = [r.slots for r in by_f]
    assert all(a >= b - 1 for a, b in zip(slots, slots[1:]))


def test_brier_decomposition_bounds(spark):
    from airflow_baseball_spark.queries_eval import q_brier_decomposition

    r = q_brier_decomposition(spark, SF).collect()[0]
    assert r.n_test > 0 and 0 <= r.n_pos_test <= r.n_test
    assert 0.0 <= r.reliability
    assert 0.0 <= r.resolution
    obar = r.n_pos_test / r.n_test
    assert abs(r.uncertainty - obar * (1 - obar)) < 2e-6
    # resolution cannot exceed the outcome variance it explains
    assert r.resolution <= r.uncertainty + 1e-6


def test_knn_label_accuracy_shape(spark):
    from airflow_baseball_spark.queries_text import q_knn_label_accuracy

    rows = q_knn_label_accuracy(spark, SF).collect()
    assert len(rows) >= 1
    total_q = sum(r.n_queries for r in rows)
    for r in rows:
        assert 0 <= r.n_correct <= r.n_queries
        assert r.acc_micro == r.n_correct * 1_000_000 // r.n_queries
    # every sampled query predicted exactly once
    from airflow_baseball_spark.schemas import load_table

    emb = load_table(spark, SF, "embeddings")
    n_anchors = emb.filter("vec_id % 10 = 0").count()
    assert total_q == n_anchors


# --- round-6 batch-10 operators (this session) -------------------------------


def test_mde_power_monotone_in_audience_size(spark):
    from airflow_baseball_spark.queries_stats import q_mde_power

    rows = q_mde_power(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r.conv_rate <= 1
        # MDE degenerates to 0 exactly when p(1-p)=0 (tiny-SF audiences
        # where everyone converted); positive otherwise
        if 0 < r.conv_rate < 1:
            assert r.mde_abs > 0
        assert r.n_conv <= r.n_users


def test_holt_winters_seasonal_ring_and_forecast(spark):
    from airflow_baseball_spark.queries_timeseries import q_holt_winters

    rows = q_holt_winters(spark, SF).collect()
    assert rows
    by_key = {}
    for r in rows:
        by_key.setdefault(r.nationkey, []).append(r)
    for _, series in by_key.items():
        series.sort(key=lambda r: r.d)
        # first observation: level seeds to y, trend 0, forecast y
        assert series[0].level_cents == series[0].y_cents
        assert series[0].trend_cents == 0
        assert series[0].forecast_cents == series[0].y_cents


def test_levene_bf_stat_nonnegative_and_medians_integer(spark):
    from airflow_baseball_spark.queries_stats import q_levene_bf

    rows = q_levene_bf(spark, SF).collect()
    assert rows and rows[0].n_groups == len(rows)
    for r in rows:
        assert r.bf_f_stat >= 0
        assert r.mean_abs_dev >= 0
        assert r.median_cents > 0


def test_jackknife_se_positive_and_loo_brackets_total(spark):
    from airflow_baseball_spark.queries_stats import q_jackknife_ratio_se

    rows = q_jackknife_ratio_se(spark, SF).collect()
    assert rows
    theta = rows[0].rev_per_order_cents
    loos = [r.theta_loo_cents for r in rows]
    # leave-one-out replicates straddle the full-sample ratio
    assert min(loos) <= theta <= max(loos)
    assert rows[0].jackknife_se_cents > 0


def test_mcnemar_cells_partition_n(spark):
    from airflow_baseball_spark.queries_eval import q_mcnemar_paired

    r = q_mcnemar_paired(spark, SF).collect()[0]
    assert (
        r.both_right + r.both_wrong + r.b_cell + r.c_cell == r.n
    )
    assert r.mcnemar_chi2 >= 0
    # continuity correction can only shrink the statistic
    assert r.mcnemar_chi2_cc <= r.mcnemar_chi2 + 1e-9


def test_path3_motifs_closed_form_consistency(spark):
    from airflow_baseball_spark.queries_mining import q_path3_motifs

    r = q_path3_motifs(spark, SF).collect()[0]
    assert r.n_paths3 >= 0 and r.n_wedges >= 0
    # a graph cannot close more triangles than wedges / 3
    assert 3 * r.n_triangles <= r.n_wedges


def test_seq_gap_patterns_superset_of_adjacent(spark):
    from airflow_baseball_spark.queries_mining import q_seq_gap_patterns

    rows = q_seq_gap_patterns(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_adjacent <= r.n_occurrences
        assert r.n_users <= r.n_occurrences


def test_page_hinkley_drift_nonnegative(spark):
    from airflow_baseball_spark.queries_timeseries import q_page_hinkley

    rows = q_page_hinkley(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.drift_micro >= 0  # PH minus its running min


def test_croston_states_bounded_by_inputs(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_croston_intermittent,
    )

    rows = q_croston_intermittent(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.rn <= 10
        assert r.z_size >= 0 and r.p_interval >= 1
        assert r.demand_rate >= r.sba_rate >= 0


def test_jl_distortion_concentrates(spark):
    from airflow_baseball_spark.queries_text import q_jl_distortion

    rows = q_jl_distortion(spark, SF).collect()
    assert rows
    # JL with k=16 is loose, but sign projections should keep every
    # sampled pair within a wide constant band (no zero/blowup bugs)
    for r in rows:
        assert r.d_orig_q2 > 0 and r.d_proj_q2 >= 0
        assert 0.05 <= r.distortion <= 20.0


def test_nelson_aalen_monotone_cumulative(spark):
    from airflow_baseball_spark.queries_eval import q_nelson_aalen

    rows = sorted(q_nelson_aalen(spark, SF).collect(), key=lambda r: r.d)
    assert rows
    prev_h = 0.0
    for r in rows:
        assert r.cum_hazard >= prev_h - 1e-9
        prev_h = r.cum_hazard
        assert r.n_ev <= r.n_risk


def test_survival_counts_zero_events_on_all_censored_day(spark, tmp_path):
    """A duration day on which every user is censored (no purchase)
    has n_ev = 0, not NULL, matching the oracle's CASE … ELSE 0: the
    cumulative hazard stays defined there and the survival curve
    agrees with DuckDB row for row."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_baseball_spark import registry
    from airflow_baseball_spark.queries_eval import (
        q_kaplan_meier,
        q_nelson_aalen,
    )
    from tests.oracle_harness import assert_match, duckdb_connect

    day0 = datetime(2024, 1, 1, 9)
    # (user, day, type): u1 purchases on day 2; u2 and u3 never do and
    # are censored at their last event, on days 1 and 5
    ev = [
        (1, 0, "signup"), (1, 2, "purchase"),
        (2, 0, "signup"), (2, 1, "view"),
        (3, 0, "signup"), (3, 5, "view"),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(ev)), pa.int64()),
                "ts": pa.array(
                    [day0 + timedelta(days=d) for _, d, _ in ev],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _, _ in ev], pa.int64()),
                "event_type": [t for _, _, t in ev],
                "value": pa.array([0.0] * len(ev), pa.float64()),
                "props": ["{}"] * len(ev),
            }
        ),
        tmp_path / "events.parquet",
    )
    sf = str(tmp_path)

    rows = [
        tuple(r)
        for r in q_nelson_aalen(spark, sf).orderBy("d").collect()
    ]
    assert rows == [
        (1, 0, 3, 0.0, 0.0),
        (2, 1, 2, 0.5, 0.25),
        (5, 0, 1, 0.5, 0.25),
    ]
    con = duckdb_connect(sf)
    sqls = registry.oracle_sql(raw=True)
    assert_match(q_nelson_aalen(spark, sf), con, sqls["nelson_aalen"])
    assert_match(q_kaplan_meier(spark, sf), con, sqls["kaplan_meier"])


def test_isotonic_fit_is_monotone_and_mean_preserving(spark):
    from airflow_baseball_spark.queries_eval import q_isotonic_calibration

    rows = sorted(
        q_isotonic_calibration(spark, SF).collect(), key=lambda r: r.b
    )
    assert rows
    prev = -1.0
    for r in rows:
        assert r.iso_rate >= prev - 1e-9  # non-decreasing fit
        prev = r.iso_rate
        assert 0 <= r.iso_rate <= 1
    # PAVA preserves the weighted mean
    n_tot = sum(r.n for r in rows)
    raw_mean = sum(r.k for r in rows) / n_tot
    iso_mean = sum(r.iso_rate * r.n for r in rows) / n_tot
    assert abs(raw_mean - iso_mean) < 1e-4


def test_ransac_unique_best_and_inlier_sanity(spark):
    from airflow_baseball_spark.queries_timeseries import q_ransac_trend

    rows = q_ransac_trend(spark, SF).collect()
    assert len(rows) == 33
    best = [r for r in rows if r.is_best]
    assert len(best) == 1
    assert best[0].n_inliers == max(r.n_inliers for r in rows)
    for r in rows:
        assert r.n_inliers >= 2  # the 2 sample points always fit


def test_butterflies_match_choose2(spark):
    from airflow_baseball_spark.queries_mining import (
        q_bipartite_butterflies,
    )

    rows = q_bipartite_butterflies(spark, SF).collect()
    assert rows
    tot = rows[0].total_butterflies
    assert tot == sum(r.n_butterflies for r in rows)
    for r in rows:
        assert r.n_butterflies == r.n_common * (r.n_common - 1) // 2


def test_group_sequential_boundaries_decrease(spark):
    from airflow_baseball_spark.queries_stats import (
        _OBF_BOUNDS,
        q_group_sequential_obf,
    )

    rows = sorted(
        q_group_sequential_obf(spark, SF).collect(), key=lambda r: r.k
    )
    assert len(rows) == 5
    assert _OBF_BOUNDS == sorted(_OBF_BOUNDS, reverse=True)
    prev_n = 0
    for r in rows:
        # enrollment is cumulative across looks
        assert r.n_a + r.n_b >= prev_n
        prev_n = r.n_a + r.n_b
        assert r.c_a <= r.n_a and r.c_b <= r.n_b


def test_energy_distance_nonnegative_and_symmetric_terms(spark):
    from airflow_baseball_spark.queries_stats import q_energy_distance

    r = q_energy_distance(spark, SF).collect()[0]
    assert r.e_xy >= 0 and r.e_xx >= 0 and r.e_yy >= 0
    # energy distance is a metric: D^2 >= 0
    assert r.energy_dist_sq >= -1e-9


def test_energy_distance_matches_bruteforce(spark):
    import numpy as np

    from airflow_baseball_spark.queries_stats import q_energy_distance
    from airflow_baseball_spark.schemas import load_table

    r = q_energy_distance(spark, SF).collect()[0]
    ev = (
        load_table(spark, SF, "events")
        .filter("event_type IN ('purchase','click')")
        .select("event_type", "value")
        .collect()
    )
    x = np.array(
        [int(round(float(e.value) * 100)) for e in ev if e.event_type == "purchase"],
        dtype=np.int64,
    )
    y = np.array(
        [int(round(float(e.value) * 100)) for e in ev if e.event_type == "click"],
        dtype=np.int64,
    )
    e_xy = np.abs(x[:, None] - y[None, :]).mean()
    e_xx = np.abs(x[:, None] - x[None, :]).mean()
    e_yy = np.abs(y[:, None] - y[None, :]).mean()
    assert abs(r.e_xy - e_xy) < 1e-4
    assert abs(r.energy_dist_sq - (2 * e_xy - e_xx - e_yy)) < 1e-3


def test_hilbert_locality_beats_morton(spark):
    from airflow_baseball_spark.queries_relational import (
        q_hilbert_locality,
    )

    r = q_hilbert_locality(spark, SF).collect()[0]
    # the whole point of the curve: strictly better locality
    assert r.hilbert_mean_l1 < r.morton_mean_l1
    assert r.locality_gain > 1.0


def test_hilbert_spark_transform_is_bijective_on_grid(spark):
    import pandas as pd

    from airflow_baseball_spark.operators.zorder import with_hilbert
    from pyspark.sql import functions as F

    n = 32
    grid = spark.createDataFrame(
        pd.DataFrame(
            [(x, y) for x in range(n) for y in range(n)],
            columns=["gx", "gy"],
        )
    )
    out = with_hilbert(grid, F.col("gx"), F.col("gy"), bits=5).collect()
    vals = sorted(r.hval for r in out)
    assert vals == list(range(n * n))


def test_pr_sweep_monotone_recall_and_cell_identities(spark):
    from airflow_baseball_spark.queries_eval import q_pr_curve_sweep

    rows = sorted(
        q_pr_curve_sweep(spark, SF).collect(), key=lambda r: -r.v
    )
    assert rows
    prev_recall = 0.0
    for r in rows:
        assert r.recall >= prev_recall - 1e-9  # recall grows as t drops
        prev_recall = r.recall
        assert 0 <= r.precision <= 1 and 0 <= r.f1 <= 1
    # at the lowest threshold everything is predicted positive
    assert rows[-1].recall == 1.0


def test_ols_two_factor_matches_numpy_lstsq(spark):
    import numpy as np

    from airflow_baseball_spark.queries_stats import q_ols_two_factor
    from airflow_baseball_spark.schemas import load_table
    from pyspark.sql import functions as F

    r = q_ols_two_factor(spark, SF).collect()[0]
    orders = load_table(spark, SF, "orders")
    daily = (
        orders.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            ).alias("d")
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y")
        )
        .collect()
    )
    dmin = min(row.d for row in daily)
    x = np.array(
        [
            [1.0, row.d - dmin, 1.0 if row.d % 7 in (2, 3) else 0.0]
            for row in daily
        ]
    )
    yv = np.array([float(row.y) for row in daily])
    beta, *_ = np.linalg.lstsq(x, yv, rcond=None)
    assert abs(r.intercept_cents - beta[0]) < max(1e-3 * abs(beta[0]), 1.0)
    assert abs(r.trend_cents_per_day - beta[1]) < max(
        1e-3 * abs(beta[1]), 1.0
    )
    assert abs(r.weekend_effect_cents - beta[2]) < max(
        1e-3 * abs(beta[2]), 1.0
    )
    assert 0 <= r.r_squared <= 1


def test_neyman_quotas_sum_to_budget(spark):
    from airflow_baseball_spark.queries_sampling import (
        q_neyman_allocation,
    )

    rows = q_neyman_allocation(spark, SF).collect()
    assert rows
    assert sum(r.n_alloc for r in rows) == 10000  # exact apportionment
    assert rows[0].neyman_efficiency >= 1.0 - 1e-6  # Neyman optimality
    for r in rows:
        assert r.s_h_cents >= 0 and r.n_alloc >= 0


def test_lsh_tuner_scurve_sanity(spark):
    from airflow_baseball_spark.queries_text import (
        _LSH_CONFIGS,
        q_lsh_param_tuner,
    )

    rows = q_lsh_param_tuner(spark, SF).collect()
    assert len(rows) == len(_LSH_CONFIGS)
    assert sum(1 for r in rows if r.is_recommended) == 1
    for r in rows:
        assert 0 <= r.fp_area <= 0.7 + 1e-9
        assert 0 <= r.fn_area <= 0.3 + 1e-9
        assert abs(r.total_err - (r.fp_area + r.fn_area)) < 2e-6
    best = next(r for r in rows if r.is_recommended)
    assert best.total_err == min(r.total_err for r in rows)


def test_slo_burn_windows_consistent(spark):
    from airflow_baseball_spark.queries_timeseries import q_slo_burn_alert

    rows = q_slo_burn_alert(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.err_1h <= r.tot_1h
        assert r.err_6h <= r.tot_6h
        assert r.tot_6h >= r.tot_1h  # 6h window includes the hour
        if r.page_alert:
            assert r.burn_1h > 14.4 and r.burn_6h > 6.0


def test_rich_club_monotone_membership(spark):
    from airflow_baseball_spark.queries_mining import q_rich_club

    rows = sorted(q_rich_club(spark, SF).collect(), key=lambda r: r.k)
    assert rows
    prev_members = None
    for r in rows:
        if prev_members is not None:
            assert r.n_members <= prev_members  # higher cut, fewer members
        prev_members = r.n_members
        assert 0 <= r.phi <= 1
        max_e = r.n_members * (r.n_members - 1) // 2
        assert r.e_within <= max_e


def test_readability_ari_finite_per_lang(spark):
    from airflow_baseball_spark.queries_text import q_readability_ari

    rows = q_readability_ari(spark, SF).collect()
    assert rows and {r.lang for r in rows} >= {"en"}
    for r in rows:
        assert r.n_words >= r.n_docs
        assert -30 < r.mean_ari < 100


def test_post_stratification_weights_sum(spark):
    from airflow_baseball_spark.queries_stats import q_post_stratification

    r = q_post_stratification(spark, SF).collect()[0]
    assert r.c_a <= r.n_a and r.c_b <= r.n_b
    # both estimates are conversion-rate differences: bounded by 1
    assert abs(r.raw_delta) <= 1 and abs(r.post_strat_delta) <= 1


def test_sample_size_continuous_positive_and_scales(spark):
    from airflow_baseball_spark.queries_stats import (
        q_sample_size_continuous,
    )

    rows = q_sample_size_continuous(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_per_arm > 0
        assert r.sd_cents > 0
        # n = 2 (z sigma / 0.02 mu)^2, up to ceil slack
        expect = 2 * (2.8015852181129683 * r.sd_cents / (0.02 * r.mean_cents)) ** 2
        assert expect <= r.n_per_arm <= expect + 1


def test_chao1_lower_bound_is_observed(spark):
    from airflow_baseball_spark.queries_text import q_chao1_richness

    r = q_chao1_richness(spark, SF).collect()[0]
    assert r.chao1_est >= r.d_obs  # estimator only adds unseen mass
    assert 0 <= r.coverage <= 1
    assert r.f1 + 2 * r.f2 <= r.n_tokens


def test_good_turing_discount_positive_for_singletons(spark):
    from airflow_baseball_spark.queries_text import q_good_turing_counts

    rows = sorted(q_good_turing_counts(spark, SF).collect(), key=lambda r: r.r)
    assert 0 < len(rows) <= 10  # the 10 smallest observed counts
    for r in rows:
        assert r.n_r > 0
        if r.n_r_plus_1 is not None:
            assert r.r_star >= 0


def test_croston_unrolled_is_jvm_only(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_croston_intermittent,
    )
    from tests.oracle_harness import plan_str

    plan = plan_str(q_croston_intermittent(spark, SF))
    assert "FlatMapGroupsInPandas" not in plan  # the 42s anti-pattern
    assert "EvalPython" not in plan


def test_viterbi_regime_path_properties(spark):
    from airflow_baseball_spark.queries_timeseries import q_viterbi_regime

    rows = q_viterbi_regime(spark, SF).collect()
    assert rows
    by_nation = {}
    for r in rows:
        assert r.regime in (0, 1) and r.obs in (0, 1)
        by_nation.setdefault(r.nationkey, []).append(r)
    # the decoded path smooths: switches are rarer than obs flips
    for series in by_nation.values():
        series.sort(key=lambda r: r.d)
        obs_flips = sum(
            1
            for a, b in zip(series, series[1:])
            if a.obs != b.obs
        )
        regime_flips = sum(
            1
            for a, b in zip(series, series[1:])
            if a.regime != b.regime
        )
        assert regime_flips <= obs_flips


def test_quantile_normalize_monotone_mapping(spark):
    from airflow_baseball_spark.queries_stats import q_quantile_normalize

    rows = sorted(
        q_quantile_normalize(spark, SF).collect(), key=lambda r: r.ventile
    )
    assert len(rows) == 20
    prev_c = prev_p = 0
    for r in rows:
        assert r.click_cents >= prev_c  # rank mapping is monotone
        assert r.purchase_cents >= prev_p
        prev_c, prev_p = r.click_cents, r.purchase_cents


def test_voptimal_beats_equiwidth(spark):
    import math

    from airflow_baseball_spark.queries_relational2 import (
        q_voptimal_histogram,
    )
    from airflow_baseball_spark.schemas import load_table
    from pyspark.sql import functions as F

    rows = sorted(
        q_voptimal_histogram(spark, SF).collect(), key=lambda r: r.bucket
    )
    assert len(rows) == 8
    # buckets partition the cells in order
    cells = [r.cell_hi for r in rows]
    assert cells == sorted(cells)
    # v-optimal total within-variance must not exceed the naive
    # single-bucket variance (k=8 refines k=1)
    orders = load_table(spark, SF, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "long"
    )
    stats = orders.agg(
        F.count("*").alias("n"),
        F.avg(cents).alias("mu"),
        F.var_pop(cents).alias("v"),
    ).collect()[0]
    sd_all = math.sqrt(stats.v)
    assert rows[0].total_within_sd_cents <= sd_all + 1.0
    total_n = sum(r.n_rows for r in rows)
    assert total_n == stats.n


def test_dtw_band_bounds(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_dtw_band_distance,
    )
    from airflow_baseball_spark.schemas import load_table
    from pyspark.sql import functions as F

    rows = q_dtw_band_distance(spark, SF).collect()
    assert rows
    # DTW with a band is bounded above by the diagonal (lockstep) cost
    orders = load_table(spark, SF, "orders")
    cust = load_table(spark, SF, "customer").select(
        "c_custkey", "c_nationkey"
    )
    weekly = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-05')"
                " DIV 7"
            ).alias("wk"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100"
                " AS BIGINT)"
            ).alias("y")
        )
        .collect()
    )
    series = {}
    weeks = sorted({r.wk for r in weekly})
    for r in weekly:
        series.setdefault(r.nationkey, {})[r.wk] = r.y
    for row in rows:
        a = [series.get(2 * row.pair_id, {}).get(w, 0) for w in weeks]
        b = [series.get(2 * row.pair_id + 1, {}).get(w, 0) for w in weeks]
        lockstep = sum(abs(x - y) for x, y in zip(a, b))
        assert 0 <= row.dtw_cents <= lockstep


def test_walk_forward_out_of_sample_only(spark):
    from airflow_baseball_spark.queries_timeseries import (
        q_walk_forward_backtest,
    )

    rows = sorted(
        q_walk_forward_backtest(spark, SF).collect(), key=lambda r: r.m
    )
    assert rows
    for r in rows:
        assert r.fc_mean > 0 and r.fc_snaive > 0
        assert r.ape_mean >= 0 and r.ape_snaive >= 0
        assert r.snaive_wins == (r.ape_snaive < r.ape_mean)


def test_motif_profile_exclusion_zone(spark):
    from airflow_baseball_spark.queries_timeseries import q_motif_discovery

    rows = q_motif_discovery(spark, SF).collect()
    assert rows
    assert sum(1 for r in rows if r.is_motif) == 3
    for r in rows:
        assert abs(r.i - r.nn_i) >= 4  # exclusion zone respected
        assert r.mp_dist >= 0


def test_tukey_pairs_and_threshold(spark):
    from airflow_baseball_spark.queries_stats import q_tukey_hsd

    rows = q_tukey_hsd(spark, SF).collect()
    assert len(rows) == 21  # C(7,2)
    thresholds = {r.hsd_threshold for r in rows}
    assert len(thresholds) == 1  # one simultaneous threshold
    for r in rows:
        assert r.dow_a < r.dow_b
        assert r.significant == (r.abs_diff > r.hsd_threshold)


def test_friedman_chi2_bounds(spark):
    from airflow_baseball_spark.queries_stats import q_friedman_test

    r = q_friedman_test(spark, SF).collect()[0]
    assert r.k_treatments == 7 and r.n_blocks > 0
    # chi2_F is bounded by n(k-1) (all blocks perfectly concordant)
    assert -1e-6 <= r.friedman_chi2 <= r.n_blocks * 6 + 1e-6


def test_cohens_d_sign_matches_mean_order(spark):
    from airflow_baseball_spark.queries_stats import q_cohens_d_segments

    rows = q_cohens_d_segments(spark, SF).collect()
    assert rows
    for r in rows:
        if r.cohens_d is not None:
            assert (r.cohens_d > 0) == (r.mean_a_cents > r.mean_b_cents) or (
                r.cohens_d == 0
            )


def test_poisson_dispersion_positive(spark):
    from airflow_baseball_spark.queries_stats import q_poisson_dispersion

    rows = q_poisson_dispersion(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.mean_daily > 0 and r.var_daily >= 0
        assert r.dispersion_index >= 0


def test_newsvendor_service_at_least_fractile(spark):
    from airflow_baseball_spark.queries_relational2 import (
        q_newsvendor_quantile,
    )

    rows = q_newsvendor_quantile(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_covered <= r.n_weeks
        # stocking at the 75th-percentile rank covers >= 75% of weeks
        assert r.service_level >= 0.75 - 1e-9
