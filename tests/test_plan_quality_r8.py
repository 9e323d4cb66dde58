"""Registry-WIDE physical-plan sweep (r8, r7 verdict item #7):
every registered query's plan is scanned for UNPARTITIONED window
specs — the shape that funnels its input through one partition and
dies at 100 TB when the input is fact-sized. The per-query r6/r7
assertions (test_plan_quality_r7.py) generalize here to the whole
surface: a query may carry a global window ONLY if it appears in the
frozen allowlist below, which records every global-window order
column adjudicated bounded in r6-r8 (per-day / per-bin / per-group /
vocab-sized frames — each query's docstring documents its bound; the
two-pass rank family locates ranks via operators/rank_select.py and
appears here only with bucket-table columns). Any NEW query — or a
plan regression in an existing one — that sorts a fact-sized column
through a single partition fails this test before it can ship.

Bucket/block columns (the rank_select/two-level machinery's bounded
tables) are allowed everywhere: {"b", "_b", "blk", "decile"}.
"""

from __future__ import annotations

from tests.oracle_harness import plan_str as _plan, unpartitioned_window_orders

SF = "/root/testdata/sf0.001"

_BUCKET_COLS = {"b", "_b", "blk", "decile"}

# query -> global-window order columns adjudicated bounded (frozen r8)
_ALLOWED = {
    "abc_classification": ('rev',),
    "abc_xyz_matrix": ('rev',),
    "adstock_correlation": ('h',),
    "ann_hubness": ('occ',),
    "auc_roc": ('v',),
    "autocorr": ('d',),
    "bollinger_bands": ('d',),
    "bootstrap_ci": ('m',),
    "bpe_merge_steps": ('n',),
    "brand_percent_rank": ('rev_c',),
    "collocation_pmi": ('pmi',),
    "copula_grid": ('q', 'u'),
    "cramers_v": ('c_mktsegment',),
    "cumulative_distinct_users": ('first_day',),
    "curriculum_phases": ('phase',),
    "cusum_changepoint": ('_w0', 'd'),
    "cvar_daily": ('v',),
    "cvm_statistic": ('v',),
    "decile_lift": ('score',),
    "decision_stump": ('bucket', 'score_micro'),
    "emd_1d": ('bin',),
    "energy_distance": ('v',),
    "fixed_effect_pooling": ('event_type',),
    "forecast_combination": ('d',),
    "gap_hazard_table": ('g',),
    "good_turing_counts": ('r',),
    "heaps_law_curve": ('doc_id',),
    "hilbert_locality": ('hval', 'zval'),
    "hill_tail_index": ('v',),
    "hurst_exponent": ('d',),
    "kaplan_meier": ('d',),
    "kruskal_wallis": ('v',),
    "ks_statistic": ('d_scaled', 'v'),
    "levene_bf": ('grp',),
    "littles_law_check": ('t',),
    "local_peaks": ('d',),
    "lsh_param_tuner": ('_w0',),
    "mann_whitney_u": ('v',),
    "mcc_score": ('v',),
    "mixture_weights": ('frac',),
    "motif_discovery": ('mp_dist',),
    "negative_sampling_table": ('rem',),
    "nelson_aalen": ('d',),
    "neyman_allocation": ('frac',),
    "nucleus_set_size": ('tot',),
    "pad_waste_eval": ('_w0', 'n_tok'),
    "pinball_loss": ('d',),
    "popularity_hitrate": ('reach',),
    "pr_curve_sweep": ('v',),
    "price_elasticity": ('n',),
    # r8b additions — every global window below sorts a calendar- or
    # catalog-bounded frame (docstrings document the bound): the daily
    # revenue series ('d'), the 25-row brand frame ('rev_h1'/'rev_h2'),
    # the types x days frame ('cnt'), the <=10-row p-value family
    # ('p_exact')
    "permutation_entropy": ('d',),
    "sample_entropy": ('d',),
    "pacf_yule_walker": ('d',),
    "rank_biased_overlap": ('rev_h1', 'rev_h2'),
    "sign_test_bh": ('cnt', 'p_exact'),
    # r8c: 'v' = distinct-cents frames (price-granularity bounded),
    # rev_h1/rev_h2 = the 25-row brand frame
    "auc_ci_hanley": ('v',),
    "cliff_delta": ('v',),
    "mood_median_test": ('v',),
    "spearman_footrule": ('rev_h1', 'rev_h2'),
    # r8d: the final Siegel pick sorts the days-sized per-day medians
    "siegel_slope": ('med_i',),
    # r8f: GESD's three argmax picks sort the days-sized frame; the
    # cross-elasticity top-5 ranks the 25-row brand frame
    "gesd_outliers": ('sc',),
    "cross_price_elasticity": ('rev',),
    # r8h: days-sized series sorts ('d'/'x'), the theil-style slope
    # sort ('slope_micro'), and the 7-row weekday frame ('m')
    "turning_point_test": ('d',),
    "bartels_rank_test": ('d', 'x'),
    "sen_slope_ci": ('slope_micro',),
    "dixon_q_test": ('m',),
    "range_frame_agg": ('di',),
    "ransac_trend": ('n_inliers',),
    "regression_diagnostics": ('d',),
    "rmst_survival": ('d',),
    "rolling_correlation": ('d',),
    "rolling_slope": ('d',),
    "rrf_fusion": ('bm25', 'doc_id', 'tf_total'),
    "rsi_indicator": ('d',),
    "runs_test": ('d',),
    "seasonal_decompose": ('d',),
    "seasonal_naive_eval": ('d',),
    "seasonality_strength": ('d',),
    "simpson_paradox": ('n',),
    "slo_burn_alert": ('h',),
    "spearman_rank_corr": ('r97', 'r98'),
    "sse_changepoint": ('d', 'sse2'),
    # r11: deciles come from the cents MARGINAL of the weighted
    # (segment, cents) table — cents is generator-bounded (fixed
    # c_acctbal band → ≤1.1M distinct values at any fact volume)
    "t_closeness": ('cents',),
    "term_burstiness": ('cf',),
    "theil_index": ('v',),
    "theil_sen_slope": ('slope_micro',),
    "trend_test": ('slope',),
    "tukey_hsd": ('dow',),
    "two_pass_median": ('v',),
    "uplift_qini": ('score',),
    "vocab_topk": ('n',),
    # voptimal_histogram's k0 lag window removed r11 — the DP is now a
    # packed-array single-row projection with no window at all
    "walk_forward_backtest": ('m',),
    "xmr_control": ('d',),
    "zipf_slope": ('n', 'rank'),
}


def test_registry_wide_no_unapproved_global_windows(spark):
    from airflow_baseball_spark import registry

    offenders = {}
    for name, fn in registry.queries().items():
        try:
            plan = _plan(fn(spark, SF))
        except Exception as exc:  # build failures are other tests' job
            offenders[name] = [f"BUILD-ERR {type(exc).__name__}"]
            continue
        cols = sorted(
            {
                c
                for c in unpartitioned_window_orders(plan)
                if c not in _BUCKET_COLS
            }
        )
        if cols and set(cols) - set(_ALLOWED.get(name, ())):
            offenders[name] = cols
    assert not offenders, (
        "unapproved single-partition global window(s) — either fix the "
        "plan (rank_select / two-level prefix) or, if the frame is "
        f"provably bounded, extend _ALLOWED with a documented entry: "
        f"{offenders}"
    )
