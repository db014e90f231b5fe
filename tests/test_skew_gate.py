"""Bucket-occupancy skew gate over the real ranks call sites
(verdict r9 #3, second half — the measured form of the
``operators/ranks`` docstring's skew caveat).

``with_value_buckets``' range mode inherits the key's distribution:
a heavy-tailed key would concentrate rows in a few buckets and
partially recreate the single-partition sort the two-level primitives
eliminate. The manual audit (``tools/skew_audit.py``, table in
SCALING.md round 10) measured every call site near-uniform at sf0.1;
this gate repeats the measurement at sf0.01 on every pytest run so a
FUTURE call site with a skewed key — or a fixture regeneration that
skews an existing key — fails loudly instead of silently
re-centralizing.

Threshold 3.0x max/mean for range-mode sites: measured headroom is
wide (worst real site 1.25x at sf0.1; sub-2x at sf0.01 where bucket
means are smaller and relative fluctuation higher), while a genuinely
heavy-tailed key (the exponential-gaps case this family already hit)
lands at ~ln(N)/n_buckets concentration — an order of magnitude over
the gate. Quantile-mode sites are exempt (near-uniform by
construction; tests/test_ranks.py pins the property directly).
"""

from __future__ import annotations

import skew_audit

SF_DIR = "/root/testdata/sf0.01"
THRESHOLD = 3.0


def test_range_bucket_occupancy_near_uniform(spark):
    rows = skew_audit.audit_rows(spark, SF_DIR)
    # every ranks-based query must fire at least one call site —
    # a silent zero-capture means the spy (or a refactor away from
    # with_value_buckets) broke the audit itself
    audited = {r[0] for r in rows}
    missing = sorted(set(skew_audit.RANKS_QUERIES) - audited)
    assert not missing, f"no bucket call captured for: {missing}"

    violations = []
    for name, key, mode, n, used, mx, mean in rows:
        if mode != "range" or not mean:
            continue
        ratio = mx / mean
        if ratio > THRESHOLD:
            violations.append(
                f"{name} key={key}: max/mean occupancy {ratio:.2f}x > "
                f"{THRESHOLD}x (rows={n}, used={used}, max={mx}) — "
                "switch the call site to bucket_mode='quantile' "
                "(see operators/ranks.py skew note)"
            )
    assert not violations, (
        "skewed range-mode bucket keys:\n" + "\n".join(violations)
    )
