"""Semantic invariants for batch 32 — properties the oracle hash
cannot see."""

from __future__ import annotations

from hivetomysql_spark.tables import load_table


def test_bfs_histogram_accounts_for_all_nodes(spark, sf_dir, Q):
    out = {r["distance"]: r["n_nodes"] for r in
           Q["graph_bfs_distances"](spark, sf_dir).collect()}
    assert out.get(0) == 1  # the root alone at distance 0
    # distances are contiguous from 0 up to the max reached
    reached = sorted(d for d in out if d >= 0)
    assert reached == list(range(len(reached)))
    assert all(n > 0 for n in out.values())


def test_ewma_alarm_count_consistent(spark, sf_dir, Q):
    r = Q["dq_control_chart_ewma"](spark, sf_dir).collect()[0]
    assert r["n_periods"] > 0
    assert 0 <= r["n_alarms"] <= r["n_periods"]
    # alarms iff the worst excursion crossed 3 sigma-units
    assert (r["n_alarms"] > 0) == (r["max_abs_z"] > 3.0)


def test_debounce_alerts_bounded_by_errors(spark, sf_dir, Q):
    out = Q["window_alert_debounce"](spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_err_users = (
        ev.where("event_type = 'error'").select("user_id").distinct().count()
    )
    assert len(out) == n_err_users
    for r in out:
        assert 1 <= r["n_alerts"] <= r["n_errors"]
