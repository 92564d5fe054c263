"""The A/B script's statistics and verdict, on fixed numbers (no Spark)."""

from __future__ import annotations

import pytest

from scripts.ab import compare, flags, quartiles, table

PARENT = [5.0, 5.2, 5.1, 5.4, 5.3, 5.0, 5.6, 5.2, 5.1, 5.5]


def test_quartiles_are_inclusive():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_a_clear_gain_needs_nine_wins_and_a_gap_beyond_the_parent_iqr():
    change = [p - 0.8 for p in PARENT]
    c = compare(PARENT, change, bound=0.25)
    assert c["wins"] == 10 and c["pairs"] == 10
    assert c["parent"] == pytest.approx((5.2, 5.1, 5.375))
    assert c["gain"] and c["within_bound"]


def test_nine_wins_with_a_gap_inside_the_iqr_is_no_gain():
    change = [p - 0.05 for p in PARENT]
    change[0] = PARENT[0] + 1.0  # one lost pair
    c = compare(PARENT, change)
    assert c["wins"] == 9
    assert not c["gain"]  # 0.05 s median gap < 0.275 s parent IQR


def test_a_large_gap_with_eight_wins_is_no_gain():
    change = [p - 1.0 for p in PARENT]
    change[0] = change[1] = 9.0
    c = compare(PARENT, change)
    assert c["wins"] == 8 and not c["gain"]


def test_the_bound_is_a_median_ratio():
    c = compare(PARENT, [p * 1.3 for p in PARENT], bound=0.25)
    assert c["ratio"] == pytest.approx(1.3)
    assert not c["within_bound"] and not c["gain"]
    with pytest.raises(ValueError):
        compare(PARENT, PARENT[:3])


def test_table_and_flags():
    runs = {
        side: [
            {"correct": True, "attempted": 7, "failed": 0,
             "metrics": {"op_cpu_s": {"value": v, "unit": "s"}}}
            for v in values
        ]
        for side, values in (("parent", PARENT), ("change", [p - 0.8 for p in PARENT]))
    }
    seeds = list(range(100, 110))
    out = table("curate", seeds, runs, {"op_cpu_s": 0.25})
    assert "| curate | `op_cpu_s` | 100-109 | 5.200 [5.100, 5.375] |" in out
    assert out.endswith("| 10/10 | 0.846 | gain |")
    assert flags(runs, seeds) == []
    runs["change"][3]["failed"] = 1
    assert flags(runs, seeds) == ["change seed 103: correct=True failed=1/7"]
