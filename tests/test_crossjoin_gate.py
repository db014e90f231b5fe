"""crossJoin smaller-side growth gate over the full registry (the
r11 audit frozen as a regression test — the last plan class that was
judge-read by hand instead of measured).

A crossJoin is safe at 100 TB iff its SMALLER side is bounded: the
product is then a broadcast-nested-loop over the big side (bounds
frames, thresholds, query-vector sets, scenario grids — the r11
audit measured 189 of the registry's 190 crossJoin calls with a
smaller side of <= 32 rows, FLAT across a 10x data step). A
crossJoin whose smaller side scales with data is O(N^2) work, which
this repo permits only for the documented exact similarity verify
tier (it prices the LSH tier and is capped by contract).

Records come from the session-scoped ``scale_capture`` fixture (the
``crossjoin`` probe of ``tools/scale_audit.py``: a spy on the
concrete classic ``DataFrame.crossJoin``; counts run at plan-build
time, so the gate sweeps the full registry without executing query
outputs). Scales: the cheap sf0.001 -> sf0.01 pair — the doc-tier
fixtures are floored at 500 docs below sf0.01, which conveniently
flattens the REGISTERED exact tier here while still catching a new
unregistered data-sized side on every warehouse-tier table.
Its cost is two counts per crossJoin call per scale inside the shared
two-scale capture.
"""

from __future__ import annotations

import pytest
import scale_audit as S
from conftest import SCALE_BIG as BIG, SCALE_SMALL as SMALL
# r14 (verdict r13 #2): registry-wide measured audit — deselected from
# the default (driver-verify) tier; run with -m "slow or not slow".
pytestmark = pytest.mark.slow

RATIO_BOUNDED = 3.0
RATIO_LINEAR = 12.0  # registered data-sized sides must stay ~linear
ABS_FLOOR = 500  # smaller-side rows at BIG below which growth is moot

# query -> why its crossJoin may keep a data-sized smaller side.
DATA_SIZED_OK = {
    "dedup_embedding_cosine": (
        "the documented exact cosine verify tier: O(docs) x O(docs) "
        "by contract, it prices/validates the LSH candidate tier "
        "(SCALING.md; smaller side 500 -> 2,000 across sf0.01 -> "
        "sf0.1 in the r11 audit, the registry's only such site)"
    ),
}


def test_crossjoin_smaller_sides_bounded(scale_capture):
    a = scale_capture[SMALL]["crossjoin"]
    b = scale_capture[BIG]["crossjoin"]

    violations = []
    for name in sorted(set(a) & set(b)):
        # adaptive structures can change call counts across scales;
        # compare the common prefix like the checkpoint gate does
        for (xl, xr), (yl, yr) in zip(a[name], b[name]):
            if min(xl, xr) < 0 or min(yl, yr) < 0:
                continue
            xm, ym = min(xl, xr), min(yl, yr)
            ratio = S.growth(xm, ym)
            if name in DATA_SIZED_OK:
                if S.grows(xm, ym, RATIO_LINEAR, ABS_FLOOR):
                    violations.append(
                        f"{name}: registered exact-tier crossJoin side "
                        f"grew {xm} -> {ym} ({ratio:.1f}x) across a 10x "
                        "step — superlinear, no longer the documented "
                        "O(docs) tier"
                    )
            elif S.grows(xm, ym, RATIO_BOUNDED, ABS_FLOOR):
                violations.append(
                    f"{name}: crossJoin smaller side grew {xm} -> {ym} "
                    f"rows ({ratio:.1f}x) across a 10x data step — an "
                    "O(N^2) product at scale; broadcast a bounded frame "
                    "instead, or register it in DATA_SIZED_OK with the "
                    "exact-tier rationale"
                )
    assert not violations, (
        "data-sized crossJoin sides:\n" + "\n".join(violations)
    )


def test_data_sized_registry_names_are_real():
    import __spark_entry__ as m

    ghosts = sorted(set(DATA_SIZED_OK) - set(m.queries()))
    assert not ghosts, f"DATA_SIZED_OK lists unknown queries: {ghosts}"
