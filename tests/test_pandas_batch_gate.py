"""Pandas-batch growth gate over every query that moves rows into a
Python worker (the r11 audit, frozen as a regression test — the last
asserted-bounded class after broadcast/collect/checkpoint/explode).

The UDF policy keeps Python off the row-at-a-time path, but an Arrow
batch is only as safe as its SIZE, and the four entry points bound it
differently:

* ``mapInPandas`` / ``mapInArrow``: Spark slices partitions at
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` (10k default) —
  config-bounded rows at any scale. Gate: rows <= that setting,
  bytes <= a sanity cap (blob WIDTH can still grow a batch).
* grouped-map / cogrouped ``applyInPandas`` and grouped-agg
  ``pandas_udf``: the WHOLE group arrives as one frame/Series — the
  only bound is the grouping key itself. The r11 audit measured what
  a low-cardinality key means: ``udaf_regression_slope`` fed a
  200,125-row Series per l_returnflag at sf0.1, 10x per data decade
  (one Python worker holding O(data/3) at 100 TB). Those sites now
  salt their keys adaptively (~``_TARGET_BATCH`` rows per batch, salt
  count from one cheap count()) or bucket by a count-derived key
  (asof cogroup). Gate: absolute rows cap at the BIG scale (2x the
  salt target — the old udaf form fails it by 53%), plus a growth-
  ratio check that catches a NEW unsalted low-cardinality site while
  it is still small; sites in ``ADAPTIVE_BATCH_OK`` are exempt from
  the ratio only, because adaptive salting has an expected pre-cap
  regime (batches grow linearly UNTIL they reach the target, then
  the salt count takes over — growth at fixture scale, capped at
  scale).

Scales: sf0.01 -> sf0.1, NOT the cheaper pair — the doc-tier
fixtures are floored at 500 docs below sf0.01 (multimodal growth is
invisible earlier), and the old udaf form only crosses the rows cap
at sf0.1. Expensive (~minutes: executes the 13 pandas-surface
queries at two scales under instrumented UDFs), so it runs as one
looping test like the checkpoint and broadcast gates.

A static sweep pins the SURFACE itself: the set of engine modules
calling any pandas batch API is frozen, so a brand-new call site
must register here (and get measured) before it ships.
"""

from __future__ import annotations

import os
import re

import scale_audit as S
from conftest import ROOT

SMALL = "/root/testdata/sf0.01"
BIG = "/root/testdata/sf0.1"

ROWS_CAP_GROUPED = 131_072  # 2x relational_extras._TARGET_BATCH
BYTES_CAP = 64 << 20  # one batch should never be a memory event
RATIO_BOUNDED = 3.0
ABS_FLOOR = 200  # max batch rows at BIG below which growth is moot

# Queries whose grouped/cogrouped batches are allowed to GROW at
# fixture scale because a count()-derived salt/bucket count caps them
# at the Arrow-sized target before they matter (the pre-cap regime):
# the ratio check is waived, the absolute caps above still apply.
ADAPTIVE_BATCH_OK = {
    "groupedmap_zscore": "salt = ceil(rows/65536) (relational_extras._salt_count); batches grow to ~65k then split",
    "udaf_regression_slope": "same salt formula; already at cap by sf0.01 (measured flat 1.02x across sf0.01->sf0.1)",
    "cogroup_asof_attribution": "buckets = max(64, events/131072); batches grow to ~Arrow size then bucket count takes over",
}

# Frozen pandas-API surface: (file, api) pairs in engine source.
# Streaming stateful APIs are excluded — micro-batch bounded, and
# MEASURED as such (tools/stream_state_audit.py: 31-row max per
# (key, micro-batch) flat across a 10x fixture step, state <= 2.6 KB
# per key — SCALING.md round 11), gated by the streaming tests. A new
# entry here must also appear in the executed gate below via its
# query (run `python tools/scale_audit.py pandas_batch`).
PANDAS_SURFACE = {
    # grouped-map and cogrouped share the method name; the executed
    # gate below distinguishes them via the spy's own labels
    ("hivetomysql_spark/operators/asof.py", "apply_in_pandas"),
    ("hivetomysql_spark/operators/multimodal.py", "map_in_pandas"),
    ("hivetomysql_spark/queries/multimodal_suite.py", "map_in_pandas"),
    ("hivetomysql_spark/queries/relational_extras.py", "apply_in_pandas"),
    ("hivetomysql_spark/queries/relational_extras.py", "pandas_udf"),
}

_API_PATTERNS = {
    "apply_in_pandas": re.compile(r"\.applyInPandas\("),
    "map_in_pandas": re.compile(r"\.mapInPandas\(|\.mapInArrow\("),
    "pandas_udf": re.compile(r"\bpandas_udf\("),
}

# The 13 registry queries whose plans reach a pandas batch API
# (`python tools/scale_audit.py pandas_batch --detect-only`, r11;
# quantile_normalize left the surface when its rank moved onto
# ranks.grouped_min_rank).
PANDAS_QUERIES = [
    "cogroup_asof_attribution",
    "groupedmap_zscore",
    "multimodal_audio_pitch_estimate",
    "multimodal_audio_windows",
    "multimodal_features",
    "multimodal_frame_sample",
    "multimodal_image_edge_energy",
    "multimodal_image_entropy",
    "multimodal_phash",
    "multimodal_phash_dedup_pairs",
    "multimodal_resize",
    "multimodal_video_ssim",
    "udaf_regression_slope",
]


def test_pandas_api_surface_is_frozen():
    """Every engine-source call site of a pandas batch API must be in
    the frozen surface (then measured by the executed gate); a stale
    entry must be removed. applyInPandasWithState/transformWithState
    (streaming) and tools/tests are out of scope."""
    found = set()
    for sub in ("hivetomysql_spark/operators", "hivetomysql_spark/queries"):
        d = os.path.join(ROOT, sub)
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".py"):
                continue
            rel = f"{sub}/{fn}"
            src = open(os.path.join(d, fn)).read()
            # strings/comments can mention the APIs; only count code
            code = "\n".join(
                line
                for line in src.splitlines()
                if not line.lstrip().startswith("#")
            )
            for api, pat in _API_PATTERNS.items():
                for m in pat.finditer(code):
                    # docstring mentions: require a call shape — the
                    # regexes already demand the open paren; skip
                    # WithState variants
                    start = m.start()
                    if code[max(0, start - 20) : start].endswith("WithState"):
                        continue
                    found.add((rel, api))
    # docstrings that *name* an API with parens would be caught; the
    # repo convention is prose without call parens, and a false hit
    # here is a one-line fix — strictness beats a silent new site
    assert found == PANDAS_SURFACE, (
        f"pandas batch API surface changed:\n"
        f"  new sites (measure with `python tools/scale_audit.py "
        f"pandas_batch`, then register): {sorted(found - PANDAS_SURFACE)}\n"
        f"  stale entries: {sorted(PANDAS_SURFACE - found)}"
    )


def _fired(spark, sf_dir) -> dict:
    """{query: {(api, site): (invocations, max_rows, max_bytes)}} for
    every call site that received at least one batch."""
    cap = S.capture(spark, sf_dir, PANDAS_QUERIES, [S.PandasBatch()], verbose=False)
    fired = {
        name: {(api, i): (n, rows, nbytes)
               for i, (api, n, rows, nbytes) in enumerate(sites) if n}
        for name, sites in cap["pandas_batch"].items()
    }
    return {name: sites for name, sites in fired.items() if sites}


def test_pandas_batches_bounded(spark):
    a = _fired(spark, SMALL)
    b = _fired(spark, BIG)

    max_records = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    )
    violations = []
    for name in PANDAS_QUERIES:
        if name not in b:
            violations.append(f"{name}: no pandas batch fired at {BIG}")
            continue
        for (api, site), (_n, rows, nbytes) in sorted(b[name].items()):
            cap = (
                max_records
                if api in ("map_in_pandas", "map_in_arrow")
                else ROWS_CAP_GROUPED
            )
            if rows > cap:
                violations.append(
                    f"{name} ({api}, site {site}): batch of {rows} rows at "
                    f"{BIG} exceeds the {cap}-row cap — a Python worker "
                    "holds this whole batch; salt the key "
                    "(relational_extras._salt_count) or re-express on "
                    "JVM primitives (the groupedmap_quantile_normalize "
                    "fix, ranks.grouped_min_rank)"
                )
            if nbytes > BYTES_CAP:
                violations.append(
                    f"{name} ({api}, site {site}): batch of {nbytes} bytes "
                    f"at {BIG} exceeds {BYTES_CAP} — blob width is growing "
                    "the batch; shrink maxRecordsPerBatch for this path or "
                    "project the blobs later"
                )
            if api in ("map_in_pandas", "map_in_arrow"):
                continue  # config-bounded; growth is the partition's
            if name in ADAPTIVE_BATCH_OK:
                continue
            xr = a.get(name, {}).get((api, site), (0, 0, 0))[1]
            if xr and S.grows(xr, rows, RATIO_BOUNDED, ABS_FLOOR):
                violations.append(
                    f"{name} ({api}, site {site}): batch grew {xr} -> "
                    f"{rows} rows ({rows / xr:.1f}x) across a 10x data "
                    "step without an ADAPTIVE_BATCH_OK entry — an "
                    "unsalted low-cardinality group key is O(data) into "
                    "one Python worker at 100 TB"
                )
    assert not violations, (
        "unbounded pandas batches:\n" + "\n".join(violations)
    )


def test_adaptive_registry_names_are_real():
    """A renamed query must not leave a stale ratio exemption."""
    import __spark_entry__ as m

    names = set(m.queries())
    ghosts = sorted(set(ADAPTIVE_BATCH_OK) - names)
    assert not ghosts, f"ADAPTIVE_BATCH_OK lists unknown queries: {ghosts}"
    missing = sorted(set(PANDAS_QUERIES) - names)
    assert not missing, f"PANDAS_QUERIES lists unknown queries: {missing}"
