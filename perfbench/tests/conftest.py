from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A session set up the way ``run.py`` sets one up, on two cores."""
    import run

    work = str(tmp_path_factory.mktemp("perfbench-work"))
    run.prepare_env(work, 2)
    spark = run.start_session(work)
    yield spark
    run.stop_session(spark)
