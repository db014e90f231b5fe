"""Partitioned-window shape gate over the whole registry (r11).

A partitioned window is scale-safe only if its partition key's
cardinality grows with the data: PARTITION BY a bounded key (brand,
returnflag, event_type) over a data-sized frame funnels N/k rows
into ONE sort task per group — the same single-task-sort class the
global-window gates closed for k=1, one notch up. The r11 measured
audit (``python tools/scale_audit.py window``, table in SCALING.md)
counted every partitioned Window node's actual group sizes at two
scales and the
18 hazard sites were rewritten onto the grouped two-level
primitives; this STRUCTURAL gate keeps a future edit from
reintroducing the shape. It reads the ``window`` probe's structural
walk (``shape``) and WindowGroupLimit keys (``wgl``) from the
session-scoped ``scale_capture`` fixture at sf0.001.

A site passes if any of:
1. its keys include the two-level primitives' own ``__rk_bucket``
   (N/buckets per group BY DESIGN; occupancy balance is separately
   measured by tests/test_skew_gate.py);
2. a PARTIAL WindowGroupLimit covers its keys (a literal rank<=k
   filter pre-trims every map task to k rows per group, so the
   final per-group sort sees k x n_map_tasks rows at any scale).
   KNOWN BLIND SPOT (r11 review; measured r12): WGL nodes are
   matched PER QUERY, not per Window node. A counted one-WGL-one-
   site rule was tried in r12 and is WRONG without plan-positional
   pairing: the registry's real multi-window shape is a rank<=k
   window (gets the WGL) followed by a second window over the
   FILTERED stream (ml_knn_classifier's vote window, the
   binary-quantization re-rank) — the second site is safe because
   its input is k rows per group, but it owns no WGL, so counting
   flags it falsely. A query with a rank<=k window and a second
   FULL-ranking window on the same bounded keys would still be
   wrongly exempted here; the measured audit (``python
   tools/scale_audit.py window``, run per round) counts actual group
   sizes per site and is the backstop that would catch it;
3. any partition key is on the GROWING_KEYS list (cardinality
   scales with the data, so group sizes stay bounded);
4. a cardinality-reducing node sits below the window (the window
   runs over an O(groups) frame, not raw data) — the same
   approximation the global-window shape gate uses, with the same
   documented blind spots; ``python tools/scale_audit.py window``
   is the per-round MEASURED backstop that actually counts rows at
   two scales;
5. an explicit ALLOWED entry documents why the site is safe.
"""

from __future__ import annotations

import pytest
from conftest import SCALE_SMALL as SMALL
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

# Keys whose distinct-value count grows with the data (verified by
# the r11 measured audit: groups grew ~10x across the sf0.01->sf0.1
# step for each). A window partitioned by ANY of these keeps group
# sizes bounded as N grows. Caveat measured by the r12 sf1-extended
# audit: on the DERIVED fixtures the entity-key domains (user_id,
# o_custkey) are held fixed while facts multiply, so per-entity
# groups there deepen 10x/step — classified in tools/scale_audit.py
# as entity-history fan-in (group = one entity's ordered history;
# 100 TB bound = per-entity retention), not as a plan defect.
GROWING_KEYS = {
    "user_id", "buy_ts",
    "o_custkey", "c_custkey", "s_suppkey", "l_suppkey",
    "l_orderkey", "o_orderkey", "p_partkey", "doc_id", "vec_id",
    "event_id", "prev_err", "__tus",
}
# Generic names ("bucket", "band", "qid", "cid") are NOT exempted by
# name (r11 review: global_ntile's default out="bucket" is 16 tiles
# — a bounded key): sites keyed on them must pass via a reduce below
# the window, a WindowGroupLimit, or an explicit ALLOWED entry.

# (query, partition-key-tuple) -> reason, for sites none of the
# structural rules cover. Keep reasons measurable.
ALLOWED: dict[tuple[str, tuple[str, ...]], str] = {
    # the LSH (band, bucket) composite grows via the HASH-valued
    # bucket even though band alone is a fixed count — measured r11
    # window audit: groups 3,821 -> 38,259 (10.0x) across the
    # sf0.01 -> sf0.1 step, max group 3 -> 4
    ("dedup_minhash_lsh", ("band", "bucket")):
        "hash-bucket composite; groups 10.0x/step, max group 3-4",
    ("dedup_lsh_quality_audit", ("band", "bucket")):
        "hash-bucket composite; groups 10.0x/step, max group 3-4",
    ("dedup_lsh_quality_audit_sampled", ("band", "bucket")):
        "hash-bucket composite over the md5 doc sample; same shape "
        "as the unsampled audit at 1/16th the pair mass",
    # r12 adaptive dispatch (operators/ranks._resolve_dispatch): the
    # query MEASURES the largest p_brand group at runtime and only
    # takes this plain-window plan while it fits one sort task
    # (<= PLAIN_WINDOW_BOUND rows; part is a catalog table, ~800
    # rows/brand at sf0.1-sf10); above the bound the same call sites
    # emit the two-level __rk_bucket shape rule 1 exempts. The plan
    # the gate sees at fixture scale IS the bounded branch.
    ("window_rank_ntile", ("p_brand",)):
        "adaptive dispatch: measured max_group <= PLAIN_WINDOW_BOUND "
        "picks plain window; two-level above (ranks.py r12)",
    # r13: same catalog-bounded p_brand-over-part domain, flipped to
    # auto after the dispatch census (SCALING.md r13: 861 rows/brand
    # flat at derived sf1/sf10; 4.3x faster at sf0.1, 4.4x at sf10)
    ("window_distribution", ("p_brand",)):
        "adaptive dispatch: measured max_group <= PLAIN_WINDOW_BOUND "
        "picks plain window; two-level above (ranks.py r13 census)",
}

@pytest.fixture(scope="module")
def site_map(scale_capture):
    cap = scale_capture[SMALL]
    failed = {
        k: v for k, v in cap["failed"].items()
        if ":" not in k or k.startswith("window:")
    }
    assert not failed, f"plan builds / window walks failed: {failed}"
    return {
        name: ([(tuple(keys), reduced) for keys, reduced in rec["shape"]],
               rec["wgl"])
        for name, rec in cap["window"].items()
    }


def test_no_bounded_key_window_over_raw_data(site_map):
    violations = []
    for name, (sites, wgl) in site_map.items():
        for keys, reduced in sites:
            bare = {k.strip("`") for k in keys}
            if "__rk_bucket" in bare:
                continue
            if any(bare <= set(wk) for wk, _k in wgl):
                continue
            if bare & GROWING_KEYS:
                continue
            if reduced:
                continue
            if (name, keys) in ALLOWED:
                continue
            violations.append(
                f"{name}: PARTITION BY {','.join(keys)} over an "
                "unreduced frame with no growing key — either the key "
                "is bounded (rewrite onto operators/ranks grouped "
                "primitives or add a literal rank<=k filter for "
                "WindowGroupLimit), or add it to GROWING_KEYS/ALLOWED "
                "with evidence (run `python tools/scale_audit.py window`)"
            )
    assert not violations, "\n".join(violations)


def test_gate_still_sees_windows(site_map):
    # a refactor that breaks the plan walk would pass the gate
    # vacuously — pin that a healthy share of the registry still
    # presents partitioned windows to it
    assert len(site_map) >= 60, (
        f"only {len(site_map)} queries with partitioned windows "
        "captured — the walker or the registry changed shape"
    )
