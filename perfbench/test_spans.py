"""Pure helpers of the traced run (no Spark needed).

    python -m pytest perfbench/test_spans.py -q
"""

import pytest

from spans import _union, parse_metric, repeat_report


def test_parse_metric_reads_spark_strings():
    total = "total (min, med, max (stageId: taskId))\n11.0 MiB (2.3 MiB, 3.8 MiB, 5.0 MiB (stage 1.0: task 3))"
    assert parse_metric("size", total) == 11.0 * 2**20
    assert parse_metric("size", "561.9 KiB") == 561.9 * 2**10
    assert parse_metric("size", "0.0 B") == 0.0
    assert parse_metric("timing", "471 ms") == pytest.approx(0.471)
    assert parse_metric("timing", "1.6 s") == 1.6
    assert parse_metric("timing", "2.5 m") == 150.0
    assert parse_metric("nsTiming", "total (min, med, max)\n5 ms (1 ms, 1 ms, 2 ms)") == pytest.approx(0.005)
    assert parse_metric("sum", "4,000,000") == 4_000_000
    assert parse_metric("sum", None) == 0.0


def test_union_counts_overlaps_once():
    assert _union([]) == 0.0
    assert _union([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert _union([(2, 3), (0, 10)]) == 10.0


def test_repeat_report_compares_counters_of_scopes_both_reps_ran():
    a = {"python.rows": 5, "scan.rows": 7, "plan.exchanges": 1, "plan.python_nodes": 1, "shuffle.bytes": 9}
    b = dict(a, **{"shuffle.bytes": 10})
    rep = repeat_report({("tiles", 1): a, ("tiles", 2): b, ("geocode", 1): a}, 1, 2)
    assert list(rep) == ["tiles"]
    assert rep["tiles"]["python.rows"] == [5, 5, True]
    assert rep["tiles"]["shuffle.bytes"] == [9, 10, False]
