"""The scale-audit harness's growth rule and re-entrancy guard, both
sides of every edge (pure Python: nothing here starts Spark).

Every registry-wide scale gate and every probe of
tools/scale_audit.py classifies a site with the same rule: growth
across the scale step above a threshold AND an absolute floor at the
big scale, with a small side of 0 read as 99x (a site that appears
from nothing)."""

from __future__ import annotations

import scale_audit as S

THRESHOLD, FLOOR = 3.0, 1000


def test_small_side_zero():
    assert S.growth(0, 0) == 0.0
    assert S.growth(0, 1) == 99.0
    assert not S.grows(0, 0, THRESHOLD, FLOOR)
    assert not S.grows(0, FLOOR, THRESHOLD, FLOOR)
    assert S.grows(0, FLOOR + 1, THRESHOLD, FLOOR)


def test_big_side_at_the_floor_and_one_above():
    # a 10x step in both cases: only the floor decides
    assert not S.grows(FLOOR // 10, FLOOR, THRESHOLD, FLOOR)
    assert S.grows(FLOOR // 10, FLOOR + 1, THRESHOLD, FLOOR)


def test_ratio_at_the_threshold_and_just_above():
    x = 2000
    assert S.growth(x, 3 * x) == THRESHOLD
    assert not S.grows(x, 3 * x, THRESHOLD, FLOOR)
    assert S.grows(x, 3 * x + 1, THRESHOLD, FLOOR)


def test_floor_can_apply_to_another_big_scale_magnitude():
    # explode compares fan-out factors but floors rows out
    assert not S.grows(1.0, 10.0, THRESHOLD, FLOOR, big=FLOOR)
    assert S.grows(1.0, 10.0, THRESHOLD, FLOOR, big=FLOOR + 1)


def test_default_probe_check_flags_and_skips():
    p = S.Probe()
    p.floor = FLOOR
    row, verdict = p.check("q", 100, FLOOR + 1, THRESHOLD)
    assert verdict == 1 and row.endswith(f"<-- {p.mark}")
    assert p.check("q", 100, FLOOR, THRESHOLD)[1] == 0
    # -1 marks a failed count: unmeasurable, skipped
    assert p.check("q", -1, FLOOR + 1, THRESHOLD) == (None, 0)


def test_spies_pass_through_while_a_probe_measures():
    class Box:
        def read(self):
            return "real"

    p = S.Probe()
    p.spy(Box, "read", lambda real, box: "spied:" + real(box))
    try:
        assert Box().read() == "spied:real"
        with S.passthrough():
            assert Box().read() == "real"
        assert Box().read() == "spied:real"
    finally:
        p.restore()
    assert Box().read() == "real"
