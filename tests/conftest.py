from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

# the repo root and tools/ (the scale-audit harness the gates import),
# also when a gate file runs as a script
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from hivetomysql_spark.queries import queries  # noqa: E402
from hivetomysql_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
# the cheap scale step every registry-wide slow gate reads
SCALE_SMALL = "/root/testdata/sf0.001"
SCALE_BIG = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Deselect the ``slow`` gates unless ``-m`` is given or the gate's
    own file is named on the command line (``pytest tests/test_join_gate.py``
    runs it; ``pytest tests/`` does not)."""
    if config.option.markexpr:
        return
    named = {
        Path(config.invocation_params.dir, arg.split("::")[0]).resolve()
        for arg in config.args
    }
    keep, slow = [], []
    for item in items:
        fast = item.get_closest_marker("slow") is None
        (keep if fast or item.path.resolve() in named else slow).append(item)
    if slow:
        config.hook.pytest_deselected(items=slow)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="hivetomysql_spark-tests",
        master="local[8]",
        shuffle_partitions=8,
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="module")
def Q():
    return queries()


@pytest.fixture(scope="session")
def scale_capture(spark):
    """Per-site records of every build-time probe in
    tools/scale_audit.py (the spies and the plan walkers) at
    SCALE_SMALL and SCALE_BIG: one registry build per scale, read by
    all seven slow gates. ``{scale: {probe: {query: records},
    "failed": {...}}}``."""
    import scale_audit as S

    names = sorted(queries())
    return {
        sf: S.capture(
            spark, sf, names, [S.PROBES[p]() for p in S.BUILD_PROBES],
            verbose=False,
        )
        for sf in (SCALE_SMALL, SCALE_BIG)
    }
