"""Equi-join site inventory gate (r11).

The measured join-key audit (the ``join_key`` probe of
tools/scale_audit.py, SCALING.md round 11) counted per-key
multiplicities for every equi Join in the registry at two scales:
zero hazards — every data x data join keys on a growing identifier,
and every bounded-key join has a bounded small side that AQE
broadcasts at runtime (no stream-side shuffle, nothing concentrates).
This gate freezes that audited inventory STRUCTURALLY: a join site is
either keyed on a growing identifier / a ``__rk_bucket`` two-level
frame, or it must appear in the frozen snapshot the audit measured. A NEW or re-keyed
join site outside both fails the gate — the fix is to re-run the
measured audit and refreeze, not to edit the snapshot by hand:

    python tools/scale_audit.py join_key SMALL BIG   # must print 0 flagged
    python tests/test_join_gate.py          # refreezes the snapshot

(SMALL and BIG: the sf0.001 and sf0.01 fixtures). Site identities
(query, left keys) come from the ``join_key`` records of the
session-scoped ``scale_capture`` fixture at SMALL.
"""

from __future__ import annotations

import json
import os

import pytest
from conftest import SCALE_BIG as BIG, SCALE_SMALL as SMALL
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow


# join keys whose cardinality grows with the data (verified by the
# r11 measured audit) — a site keyed on ANY of these is scale-safe
# without a snapshot entry
GROWING_KEYS = {
    "__rk_bucket",
    "o_custkey", "c_custkey", "l_orderkey", "o_orderkey",
    "l_partkey", "p_partkey", "l_suppkey", "s_suppkey",
    "user_id", "doc_id", "vec_id", "event_id",
}
# NOT exempted by name (r11 review): generic names like "bucket",
# "band", "tok", "qid" are bound to BOUNDED keys elsewhere in the
# codebase (global_ntile's out="bucket" is 16 tiles; LSH band counts
# are fixed), so sites keyed on them must live in the measured
# snapshot — a new one forces a re-run of the audit.

SNAPSHOT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "join_sites_snapshot.json",
)


def _sites(cap) -> set:
    """{(query, lkeys-tuple)} for every equi Join node in one scale's
    capture (an unattributable equi condition surfaces as
    ``<unparsed-equi-cond>``, not vanishes)."""
    return {
        (name, tuple(rec["lkeys"]))
        for name, recs in cap["join_key"].items()
        for rec in recs
    }


@pytest.fixture(scope="module")
def current_sites(scale_capture):
    cap = scale_capture[SMALL]
    failed = {
        k: v for k, v in cap["failed"].items()
        if ":" not in k or k.startswith("join_key:")
    }
    assert not failed, f"plan builds / join walks failed: {failed}"
    return _sites(cap)


def test_every_join_site_audited_or_growing(current_sites):
    with open(SNAPSHOT) as fh:
        frozen = {
            (q, tuple(ks)) for q, ks in json.load(fh)["sites"]
        }
    unknown = []
    for name, keys in current_sites:
        if set(keys) & GROWING_KEYS:
            continue
        if (name, keys) in frozen:
            continue
        unknown.append(f"{name}: JOIN ON {','.join(keys)}")
    assert not unknown, (
        "equi-join sites outside the audited inventory (bounded or "
        f"unknown keys) — run `python tools/scale_audit.py join_key "
        f"{SMALL} {BIG}` (must print 0 flagged), then "
        "`python tests/test_join_gate.py` to refreeze:\n"
        + "\n".join(sorted(unknown))
    )


def test_gate_still_sees_joins(current_sites):
    assert len(current_sites) >= 150, (
        f"only {len(current_sites)} join sites captured — the walker "
        "or the registry changed shape"
    )


if __name__ == "__main__":
    # refreeze: record every current site (the measured audit must be
    # clean first — this script only snapshots identity, not safety)
    import scale_audit as S
    import __spark_entry__ as entrymod
    from hivetomysql_spark.session import get_spark

    spark = get_spark(app_name="join_gate_freeze")
    spark.sparkContext.setLogLevel("ERROR")
    cap = S.capture(
        spark, SMALL, sorted(entrymod.queries()), [S.JoinKey()], verbose=False
    )
    sites = sorted((q, list(ks)) for q, ks in _sites(cap))
    with open(SNAPSHOT, "w") as fh:
        json.dump({"sites": sites}, fh, indent=1)
    print(f"froze {len(sites)} join sites -> {SNAPSHOT}")
