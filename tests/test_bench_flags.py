"""Bench-harness self-flagging: the r14 burst detector.

A short hypervisor-steal burst mid-board can inflate a few rows'
medians 10x while both calibration anchors, the board-MEDIAN spread,
and every published min-sample stay clean (observed in round 14:
280 stolen CPU-s, txt_decontaminate median 30.2 s vs min 2.4 s,
contended=False). ``_burst_rows`` is the detector that catches that
shape; these tests pin its contract so a refactor cannot silently
widen or narrow what triggers a bench retry.
"""

import importlib.util
import os

import pytest

_BENCH = os.path.join(os.path.dirname(__file__), os.pardir, "bench.py")


@pytest.fixture(scope="module")
def bench_module():
    # bench.py is a script, not a package module; load it directly but
    # only for the pure helpers (no SparkSession is created at import).
    spec = importlib.util.spec_from_file_location("bench_module", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def burst_rows(bench_module):
    return bench_module._burst_rows


def test_quiet_board_flags_nothing(burst_rows):
    timings = {"a": 1.0, "b": 0.4, "c": 2.5}
    medians = {"a": 1.2, "b": 0.5, "c": 2.6}
    assert burst_rows(timings, medians) == []


def test_burst_row_flags(burst_rows):
    # the observed r14 shape: one row's median 12x its min
    timings = {"txt": 2.447, "other": 1.0}
    medians = {"txt": 30.179, "other": 1.05}
    assert burst_rows(timings, medians) == ["txt"]


def test_tiny_rows_exempt(burst_rows):
    # sub-0.3s mins spread widely from scheduler jitter alone; they must
    # not trigger a full-board retry
    timings = {"tiny": 0.05}
    medians = {"tiny": 0.4}
    assert burst_rows(timings, medians) == []


def test_none_and_missing_medians_safe(burst_rows):
    timings = {"a": 1.0, "b": None, "c": 0.9}
    medians = {"a": None, "c": 0.95}
    assert burst_rows(timings, medians) == []


def test_compact_record_fits_tail_window(bench_module):
    """VERDICT r14 item 2: the LAST stdout line must be a complete
    parseable record inside the driver's 2000-char tail window even at
    the full board — r13's 3.3 KB line was start-truncated and
    PERF_r14 compared zero rows. Uses the REAL headline names, so a
    new query whose name pushes the line past the window fails here
    before it truncates an artifact."""
    import json

    names = list(bench_module.HEADLINE) + [
        "parse_candump_2m_lines", "parse_real_catalog_6m_lines",
    ]
    queries = {n: round(0.123 + i * 0.517, 3) for i, n in enumerate(names)}
    out = {
        "metric": "headline_queries_total_time",
        "value": 74.724,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "queries_median": dict(queries),  # must NOT ride the compact line
        "calibration_before_after": [0.416, 0.558],
        "normalization": 0.9375,
        "value_normalized": 70.054,
        "contended": False,
        "anchors_diverged": True,
        "burst_rows": [],
        "steal_sec_window": 360.68,
        "retry_reason": "contended",
        "complete": True,
        "full_record": "bench_last_full.json",
    }
    compact = bench_module._compact_record(out)
    line = json.dumps(compact)
    assert len(line) < 1900, len(line)
    # the driver contract keys, queries byte-identical to the full line
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert compact[k] == out[k]
    assert "queries_median" not in compact
    # first key on the line is the contract anchor
    assert line.startswith('{"metric"')


def test_compact_record_worst_case_fits_tail_window(bench_module):
    """Every board row flagged as a burst row, 7-character values
    everywhere and a 200-char sidecar error: the compact line must still
    fit the tail window, carrying the flag count and the error's head."""
    import json

    names = list(bench_module.HEADLINE) + [
        "parse_candump_2m_lines", "parse_real_catalog_6m_lines",
    ]
    queries = {n: 100.001 + i for i, n in enumerate(names)}
    out = {
        "metric": "headline_queries_total_time",
        "value": 4321.09,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "queries_median": dict(queries),
        "normalization": 0.93751,
        "value_normalized": 4051.02,
        "contended": True,
        "anchors_diverged": True,
        "burst_rows": list(names),
        "steal_sec_window": 1360.68,
        "retry_reason": "burst_rows",
        "complete": True,
        "full_record_error": "x" * 200,
    }
    compact = bench_module._compact_record(out)
    line = json.dumps(compact)
    assert len(line) < 1900, len(line)
    assert compact["burst_rows"] == names[:3]
    assert compact["burst_rows_n"] == len(names)
    assert compact["full_record_error"] == out["full_record_error"][:40]
    assert compact["queries"] == queries
