"""The bench's driver-facing final line must ALWAYS fit the driver's
2000-byte tail capture — r03's 5 KB line landed BENCH_r03 "parsed":
null and cost the round its machine-checkable perf record."""

from __future__ import annotations

import json

from bench import HEADLINE, TAIL_BYTES, compact_metric_line


def _line(n_queries: int, name_len: int = 24) -> str:
    timings = {f"q_{'x' * name_len}_{i:03d}": 12.345 for i in range(n_queries)}
    out = {"metric": "headline_queries_total_sec", "value": 1234.567, "sf": 0.1}
    vs = {"vs_r01_total": 0.987, "vs_r02_total": 0.876, "vs_r03_total": 1.012}
    return compact_metric_line(out, timings, vs)


def test_line_fits_tail_at_any_scale():
    for n in (10, 88, 150, 400):
        line = _line(n)
        assert len(line) <= TAIL_BYTES, (n, len(line))
        d = json.loads(line)
        assert d["metric"] and d["value"] and d["queries"]
        # the latest vs total survives every truncation level
        assert d["vs_r03_total"] == 1.012


def test_line_fits_for_current_headline():
    timings = {name: 3.141 for name in HEADLINE}
    timings["flagship_dense_matrix"] = 1.234
    out = {"metric": "headline_queries_total_sec", "value": 99.999, "sf": 0.1}
    line = compact_metric_line(out, timings, {"vs_r03_total": 1.05})
    assert len(line) <= TAIL_BYTES
    d = json.loads(line)
    # truncation, if any, drops only the fastest entries; the full set
    # always survives in BENCH_DETAIL.json — the line must keep at least
    # the 80 slowest (the signal-bearing tail; a fixed -10 slack and an
    # 80% ratio both broke as HEADLINE grew — the ratio demands ever more
    # entries in the same fixed byte budget)
    assert len(d["queries"]) >= min(len(HEADLINE), 80)


def test_no_vs_totals_is_fine():
    d = json.loads(_line(5)[:10**6])
    assert "queries" in d
    line = compact_metric_line(
        {"metric": "m", "value": 1.0, "sf": 0.1}, {"q_a": 1.0}, {}
    )
    assert json.loads(line)["queries"] == {"q_a": 1.0}


def test_headline_names_all_registered():
    """Every HEADLINE entry must exist in the harness REGISTRY — a
    renamed or dropped query would otherwise fail only at bench time
    (the driver's per-round record, not a test run)."""
    from mimic2ts_spark import harness

    missing = [n for n in HEADLINE if n not in harness.REGISTRY]
    assert not missing, missing


def test_memo_build_seconds_reach_the_bench(spark):
    """bench.py reads the artifact build telemetry inside `except
    Exception`; a renamed source would silently blank memo_build_sec."""
    from test_extensions import SF

    from bench import _memo_build_seconds
    from mimic2ts_spark.harness_ext import _canon_docs

    _canon_docs(spark, SF)
    assert "canon_docs:sf0.001" in _memo_build_seconds()
