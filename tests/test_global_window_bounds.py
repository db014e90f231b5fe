"""Measured global-window row-bound gate (verdict r8 #3).

The shape gate (tests/test_plan_budget.py + introspect.
unreduced_global_windows) asserts every global window sits above a
cardinality reduce — but "a reduce exists below" is not "the input
is small": an Aggregate on a joined branch, or a data-sized
localCheckpoint, passes the shape check while the window still
single-partition-sorts O(data) rows (both happened — see SCALING.md
round 9). This gate closes the loop EMPIRICALLY: it enumerates every
registry query whose analyzed plan carries an unpartitioned Window
and asserts the MEASURED input row count of each such window at
sf0.01 stays within a frozen per-query bound.

Bounds are grouped by what bounds them:
- O(buckets): the operators/ranks offset frames (<= 64 rows at any
  scale — the bucket count is a constant);
- O(groups)/O(days)/O(catalog): frames reduced by a prior groupBy
  whose key count does not grow with fact rows (priority classes,
  calendar days, parts catalog, nations...). Bound = measured + slack;
- rank<=k top-k (WindowGroupLimit physically): input is logically
  data-sized but the executed plan never globally sorts — these two
  live in RAW_GLOBAL_WINDOW_OK and are bounded loosely here to keep
  the enumeration exhaustive.

A query not in the table growing a global window FAILS (enumeration
check); a listed query whose measured input exceeds its bound FAILS
with the name. Both read the ``global_window`` probe's records (input
rows per global window) from the session-scoped ``scale_capture``
fixture: enumeration at sf0.001, bounds at sf0.01.
"""

from __future__ import annotations

import pytest
from conftest import SCALE_BIG as SF_DIR, SCALE_SMALL
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

# query -> max allowed input rows for EVERY global window in its
# plan, measured at sf0.01 (see SCALING.md round 9 for the audit).
GLOBAL_WINDOW_BOUNDS: dict[str, int] = {
    # operators/ranks two-level offsets: O(buckets) <= 64 at ANY scale
    "dq_timestamp_sanity": 64,
    "events_mtbf_mttr": 64,
    "events_peak_concurrency": 64,
    "feature_ntile_binning": 64,
    "layout_zorder_clustering": 64,
    "ml_calibration_bins": 64,
    "ml_lift_gains_table": 64,
    "ml_precision_recall_curve": 64,
    "ml_roc_auc": 64,
    "multimodal_shard_manifest": 64,
    "stats_exponential_gaps_fit": 64,
    "stats_spearman_corr": 64,
    "stream_late_data_accounting": 64,
    # rank<=k: physically TakeOrderedAndProject / WindowGroupLimit
    # (verified — no WindowExec survives to the physical plan), so
    # the logical frame is data-sized but never globally sorted;
    # bound = logical frame + slack, the shape gate's allowlist and
    # the physical plan carry the real guarantee
    "embedding_outlier_mahalanobis": 700,
    "embedding_pq_adc_search": 700,
    "sample_importance_weighted": 19600,
    "similarity_prf_requery": 700,
    "similarity_semantic_search_e2e": 700,
    # calendar-day / catalog-keyed reduces (trading days, parts,
    # customers, distinct survival times) — bounded by the key
    # domain, not fact rows; bound = 2x measured at sf0.01.
    # stats_kaplan_meier is the loosest of the class (distinct event
    # seconds grow with data until the calendar saturates); its
    # scale path is exp(global_running_sum(ln(1-d/n))) on
    # operators/ranks if it ever outgrows the bound.
    "agg_abc_classification": 4000,
    "agg_gini_coefficient": 3000,
    "agg_kmv_set_operations": 4000,
    "finance_max_drawdown": 4798,
    "finance_realized_volatility": 4798,
    "finance_var_cvar": 4798,
    "inventory_abc_xyz": 4000,
    "inventory_reorder_point": 4000,
    "ml_weibull_survival_fit": 4748,
    "orders_backlog_running": 4998,
    "pricing_dispersion_audit": 4000,
    "segment_rfm": 3000,
    "stats_kaplan_meier": 7220,
    "supply_eoq_quantity": 4000,
    "timeseries_bollinger_breakouts": 4798,
    "timeseries_classical_decompose": 4798,
    "timeseries_pacf": 4798,
    "window_rolling_beta": 4798,
    # O(groups)/O(months)/O(sketch-buckets) reduces; bound = 2x
    # measured at sf0.01 (minimum 64 for headroom)
    "agg_contribution_analysis": 64,
    "agg_ddsketch_quantile_pinned": 584,
    "agg_share_of_parent": 250,
    "corpus_quality_funnel": 64,
    "dq_anomaly_volume_spike": 64,
    "dq_benford_first_digit": 64,
    "dq_bot_regularity_screen": 300,
    "dq_categorical_rare_combo": 64,
    "etl_key_ranges": 856,
    "etl_surrogate_keys": 64,
    "event_churn_hazard": 64,
    "events_lorenz_deciles": 300,
    "feature_lag_matrix": 64,
    "feature_string_indexer": 64,
    "finance_hill_tail_index": 202,
    "graph_hits_authority": 400,
    "graph_rich_club": 90,
    "incremental_backfill_planner": 64,
    "ml_gbdt_stumps_boost": 64,
    "pack_sequences": 64,
    "privacy_dp_quantile": 64,
    "privacy_dp_topk": 64,
    "sample_mixture_epochs": 64,
    "stats_benjamini_hochberg": 64,
    "stats_cramers_v": 64,
    "stats_holm_correction": 64,
    "stats_ljung_box": 64,
    "stats_runs_test": 64,
    "text_langid_confusion": 64,
    "text_zipf_fit": 64,
    "timeseries_backtest_tournament": 64,
    "timeseries_periodogram": 64,
    "timeseries_seasonal_strength": 64,
    "timeseries_stl_anomaly_mad": 64,
    "tokenizer_vocab_coverage": 64,
    "window_peak_cycle_length": 64,
    "window_ratio_to_report": 64,
}


def _failure(cap, name):
    return cap["failed"].get(name) or cap["failed"].get(f"global_window:{name}")


def test_global_window_enumeration_current(scale_capture):
    """Every registry query with ANY unpartitioned Window must be
    listed in the bounds table (plan shapes are scale-independent, so
    enumeration runs at the cheap conftest fixture scale)."""
    import __spark_entry__ as m

    qmap = m.queries()
    stale = sorted(set(GLOBAL_WINDOW_BOUNDS) - set(qmap))
    assert not stale, f"bounds table lists unregistered queries: {stale}"
    cap = scale_capture[SCALE_SMALL]
    violations = []
    for name in sorted(qmap):
        err = _failure(cap, name)
        if err:
            violations.append(f"{name}: plan derivation failed: {err}")
            continue
        if name in cap["global_window"] and name not in GLOBAL_WINDOW_BOUNDS:
            violations.append(
                f"{name}: NEW global (unpartitioned) window — "
                "single-partition sort risk; reduce first (see "
                "operators/ranks.py) or add a measured bound here "
                "with the class comment"
            )
    assert not violations, (
        "unenumerated global windows:\n" + "\n".join(violations)
    )


def test_global_window_input_row_bounds(scale_capture):
    """MEASURED input rows of every listed query's global windows at
    sf0.01 must stay within the frozen bound — the empirical check
    the shape gate cannot provide (see module docstring)."""
    cap = scale_capture[SF_DIR]
    violations = []
    for name in sorted(GLOBAL_WINDOW_BOUNDS):
        bound = GLOBAL_WINDOW_BOUNDS[name]
        err = _failure(cap, name)
        if err:
            violations.append(f"{name}: measurement failed: {err}")
            continue
        counts = cap["global_window"].get(name)
        if not counts:
            # window vanished (plan improved) — harmless; the
            # enumeration test will force the table entry out when
            # someone regenerates it
            continue
        worst = max(counts)
        if worst > bound:
            violations.append(
                f"{name}: global-window input {worst} rows > frozen "
                f"bound {bound} (all windows: {counts}) — a reduce "
                "was lost or a window moved onto a data-sized frame"
            )
    assert not violations, (
        "global-window row-bound regressions:\n" + "\n".join(violations)
    )
