"""Selection of the ``slow`` gates (tests/conftest.py): a gate runs
when its own file is named, in any spelling of the path, and is
deselected, and reported as such, from a wider run."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def collect(*args: str) -> str:
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        capture_output=True, text=True, cwd=ROOT, timeout=300,
    )
    return proc.stdout


@pytest.mark.parametrize(
    "arg",
    ["tests/test_join_gate.py", "./tests/test_join_gate.py", "tests//test_join_gate.py"],
    ids=["plain", "dot_prefixed", "double_slash"],
)
def test_named_gate_file_runs(arg):
    out = collect(arg)
    assert "2 tests collected" in out and "deselected" not in out, out[-500:]


def test_gate_deselected_from_directory_run():
    out = collect("tests/", "-k", "test_join_gate")
    assert "test_gate_still_sees_joins" not in out
    assert "deselected" in out, out[-500:]
