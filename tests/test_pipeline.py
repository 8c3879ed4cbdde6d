"""End-to-end pipeline tests on the synthetic MIMIC fixtures, with exact
hand-computed values plus the reference's conservation laws
(/root/reference/tests/test_EventsAggregator.py:109-202, re-expressed)."""

from __future__ import annotations

import math
import os
import shutil
import threading
import time

import pandas as pd
import pytest

from mimic2ts_spark import pipeline, sources
from mimic2ts_spark.pipeline import (
    ChartEventAggregator,
    EventsAggregator,
    InputEventAggregator,
    OutputEventAggregator,
    ProcedureEventAggregator,
)

H = 3600


def _long(df):
    return {
        (r.stay_id, r.feature_id, r.tidx): r.value
        for r in df.collect()
    }


def test_chartevents_mean_clamp_drop(spark, mimic_dir, tmp_path):
    agg = ChartEventAggregator(spark, mimic_dir, str(tmp_path))
    got = _long(agg.aggregate())
    # stay 1, itemid 100: bucket0 = mean(10,20,50 [clamped early]) = 80/3;
    # bucket2 = 30; late event dropped; gaps zero-filled.
    assert math.isclose(got[(1, 100, 0)], 80 / 3)
    assert got[(1, 100, 1)] == 0.0
    assert got[(1, 100, 2)] == 30.0
    assert got[(1, 100, 3)] == 0.0
    assert got[(1, 100, 4)] == 0.0
    assert got[(1, 100, 5)] == 0.0
    # null-valuenum text event: all-null mean → zero-filled
    assert got[(1, 101, 1)] == 0.0
    # stay 2 exact-multiple: bucket 4 exists (floor+1 width)
    assert got[(2, 100, 3)] == 7.0
    assert got[(2, 100, 4)] == 8.0
    # width checks: stay 1 → tidx 0..5, stay 2 → 0..4
    assert max(t for (s, f, t) in got if s == 1) == 5
    assert max(t for (s, f, t) in got if s == 2) == 4


def test_chartevents_ffill(spark, mimic_dir, tmp_path):
    agg = ChartEventAggregator(spark, mimic_dir, str(tmp_path), ffill=True)
    got = _long(agg.aggregate())
    assert math.isclose(got[(1, 100, 1)], 80 / 3)   # carried forward
    assert got[(1, 100, 3)] == 30.0                  # carried from bucket 2
    assert got[(1, 101, 0)] == 0.0                   # leading gap → 0.0


def test_inputevents_spread_sum_conservation(spark, mimic_dir, tmp_path):
    agg = InputEventAggregator(spark, mimic_dir, str(tmp_path))
    got = _long(agg.aggregate())
    # order1: 6.0 over buckets {0,1,2}; order2 (zero-length): 1.0 into
    # bucket 1; order3 (exact multiple): 9.0 over buckets {0,1,2}.
    assert math.isclose(got[(1, 200, 0)], 2.0 + 3.0)
    assert math.isclose(got[(1, 200, 1)], 2.0 + 1.0 + 3.0)
    assert math.isclose(got[(1, 200, 2)], 2.0 + 3.0)
    # sum-conservation law: matrix total == sum(amount/weight)
    total = sum(v for (s, f, t), v in got.items() if f == 200)
    assert math.isclose(total, 60 / 10 + 5 / 5 + 9 / 1)


def test_outputevents_sum(spark, mimic_dir, tmp_path):
    agg = OutputEventAggregator(spark, mimic_dir, str(tmp_path))
    got = _long(agg.aggregate())
    assert got[(1, 300, 0)] == 150.0
    assert got[(1, 300, 3)] == 25.0
    assert sum(v for k, v in got.items()) == 175.0


def test_procedureevents_interval(spark, mimic_dir, tmp_path):
    agg = ProcedureEventAggregator(spark, mimic_dir, str(tmp_path))
    got = _long(agg.aggregate())
    for t in (1, 2, 3):
        assert math.isclose(got[(2, 400, t)], 10 / 3)
    assert math.isclose(sum(got.values()), 10.0)


def test_stay_id_filter(spark, mimic_dir, tmp_path):
    agg = ChartEventAggregator(spark, mimic_dir, str(tmp_path), stay_ids=[2])
    got = _long(agg.aggregate())
    assert {s for (s, f, t) in got} == {2}


def test_feature_id_filter_real_divergence(spark, mimic_dir, tmp_path):
    """P2 made real (reference ships it disabled — documented divergence)."""
    agg = ChartEventAggregator(spark, mimic_dir, str(tmp_path), feature_ids=[101])
    got = _long(agg.aggregate())
    assert {f for (s, f, t) in got} == {101}


def test_full_run_sink_layout(spark, mimic_dir, tmp_path):
    """S3/S4: one CSV per (stay, source); header-only for event-less stay 3;
    shape law columns == total_windows + 2 (feature_id + buckets 0..n)
    (/root/reference/tests/test_EventsAggregator.py:74-107)."""
    dst = str(tmp_path / "out")
    EventsAggregator(spark, mimic_dir, dst).do_agg()

    widths = {1: 5, 2: 4, 3: 2}  # total_windows per stay
    for sid in (1, 2, 3):
        for src in ("chartevents", "inputevents", "outputevents", "procedureevents"):
            path = f"{dst}/{sid}/{src}_features.csv"
            assert os.path.exists(path), path
            wide = pd.read_csv(path)
            assert wide.columns[0] == "feature_id"
            assert list(wide.columns[1:]) == [str(i) for i in range(widths[sid] + 1)]

    chart1 = pd.read_csv(f"{dst}/1/chartevents_features.csv").set_index("feature_id")
    assert math.isclose(chart1.loc[100, "0"], 80 / 3)
    assert chart1.loc[100, "2"] == 30.0
    # event-less stay 3: header-only everywhere
    assert len(pd.read_csv(f"{dst}/3/chartevents_features.csv")) == 0
    # stay 2 has no outputevents → header-only dummy there too
    assert len(pd.read_csv(f"{dst}/2/outputevents_features.csv")) == 0
    # every file was renamed into place: no temp file is left behind
    for sid in (1, 2, 3):
        assert sorted(os.listdir(f"{dst}/{sid}")) == sorted(
            f"{src}_features.csv"
            for src in ("chartevents", "inputevents", "outputevents", "procedureevents")
        )


@pytest.fixture(scope="module")
def gap_mimic_dir(mimic_dir, tmp_path_factory) -> str:
    """The shared fixture plus stay 1, itemid 102: 5.0 in bucket 0, a
    bucket 1 whose valuenums are all NULL, a gap at buckets 2-3, 9.0 in
    bucket 4 and a trailing gap at bucket 5."""
    root = tmp_path_factory.mktemp("gap_mimic")
    shutil.copytree(f"{mimic_dir}/icu", root / "icu")
    chart = pd.read_csv(root / "icu" / "chartevents.csv")
    extra = pd.DataFrame(
        {
            "charttime": ["2024-01-01 00:10:00", "2024-01-01 01:10:00",
                          "2024-01-01 01:50:00", "2024-01-01 04:10:00"],
            "valuenum": [5.0, None, None, 9.0],
        }
    ).assign(subject_id=11, hadm_id=21, stay_id=1, storetime="2024-01-01 00:30:00",
             itemid=102, value="", valueuom="bpm", warning="")
    pd.concat([chart, extra[chart.columns]]).to_csv(root / "icu" / "chartevents.csv",
                                                   index=False)
    return str(root)


@pytest.mark.parametrize("ffill", [False, True])
def test_csv_sink_equals_dense_aggregate_pivoted(spark, gap_mimic_dir, tmp_path, ffill):
    """The CSV sink builds each stay's grid from the sparse bucket
    aggregate; every (stay, source) file must be byte-equal to that
    source's dense `aggregate()` pivoted (the reference for the sink),
    header-only where the source has no rows for the stay."""
    dst = str(tmp_path / "out")
    events = EventsAggregator(spark, gap_mimic_dir, dst, ffill=ffill)
    events.do_agg()
    widths = {r.stay_id: r.total_windows for r in events.aggregators[0].stays().collect()}
    for agg in events.aggregators:
        dense = agg.aggregate().toPandas()
        for sid, total_windows in widths.items():
            rows = dense[dense["stay_id"] == sid]
            if len(rows):
                wide = rows.pivot(index="feature_id", columns="tidx", values="value")
                assert list(wide.columns) == list(range(total_windows + 1))
                expected = wide.sort_index().to_csv()
            else:
                cols = ["feature_id", *range(total_windows + 1)]
                expected = pd.DataFrame(columns=cols).to_csv(index=False)
            with open(f"{dst}/{sid}/{agg.name}_features.csv") as f:
                assert f.read() == expected, (sid, agg.name)

    chart1 = pd.read_csv(f"{dst}/1/chartevents_features.csv").set_index("feature_id")
    # the all-NULL bucket 1 and the gap at 2-3 take the carried 5.0 with
    # ffill, else 0.0; ffill carries 9.0 into the trailing gap
    filled = [5.0, 5.0, 5.0, 5.0, 9.0, 9.0] if ffill else [5.0, 0.0, 0.0, 0.0, 9.0, 0.0]
    assert chart1.loc[102].tolist() == filled


def test_csv_columns_resolved_by_name(spark, tmp_path):
    """Real MIMIC exports carry extra columns in varying order; the scan
    must bind by NAME (like the reference's dtype dict) — and fail loudly
    when a required column is absent, never misalign silently."""
    import pandas as pd

    from mimic2ts_spark import sources

    icu = tmp_path / "byname" / "icu"
    icu.mkdir(parents=True)
    pd.DataFrame(
        {
            "first_careunit": ["MICU"],
            "stay_id": [1],
            "subject_id": [11],
            "hadm_id": [21],
            "intime": ["2024-01-01 00:00:00"],
            "outtime": ["2024-01-01 05:30:00"],
            "los": [0.23],
        }
    ).to_csv(icu / "icustays.csv", index=False)
    row = sources.read_mimic_csv(spark, str(tmp_path / "byname"), "icustays").collect()[0]
    assert (row.stay_id, row.subject_id, row.outtime) == (1, 11, "2024-01-01 05:30:00")

    icu2 = tmp_path / "missing" / "icu"
    icu2.mkdir(parents=True)
    pd.DataFrame({"stay_id": [1], "intime": ["2024-01-01 00:00:00"]}).to_csv(
        icu2 / "icustays.csv", index=False
    )
    with pytest.raises(ValueError, match="missing required columns"):
        sources.read_mimic_csv(spark, str(tmp_path / "missing"), "icustays")


def test_cli_planning_starts_no_spark_job(spark, mimic_dir, tmp_path):
    """Building the CLI's sink plan (the aggregators, the tagged sparse
    aggregate, the grouped writer) runs no Spark job: the CSV headers are
    read on the driver."""
    from mimic2ts_spark import pipeline

    sc = spark.sparkContext
    sc.setJobGroup("cli_planning", "cli_planning")
    try:
        aggs = EventsAggregator(spark, mimic_dir, str(tmp_path)).aggregators
        long_df = pipeline.tagged_long_form(aggs)
        pipeline.write_stay_matrices(long_df, str(tmp_path), tuple(a.name for a in aggs))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("cli_planning")) == []


def test_worker_warm_up_error_propagates_from_csv_sink(spark, mimic_dir, tmp_path, monkeypatch):
    """An error in the thread that brings up the Python workers is raised
    by `write_csv_sink`, before the sink action writes anything."""
    from mimic2ts_spark import pipeline

    def fail(_spark):
        raise RuntimeError("warm-up failed")

    monkeypatch.setattr(pipeline, "start_python_workers", fail)
    dst = tmp_path / "out"
    aggs = EventsAggregator(spark, mimic_dir, str(dst)).aggregators
    with pytest.raises(RuntimeError, match="warm-up failed"):
        pipeline.write_csv_sink(aggs)
    assert not dst.exists()


def _record_reads(monkeypatch, calls: list) -> None:
    """Append ("read", table) to `calls` on every `sources.read_mimic_csv`."""
    read = sources.read_mimic_csv

    def recorded(spark, mimic_path, table):
        calls.append(("read", table))
        return read(spark, mimic_path, table)

    monkeypatch.setattr(sources, "read_mimic_csv", recorded)


def test_events_aggregator_builds_no_dataframe(spark, mimic_dir, tmp_path, monkeypatch):
    """Constructing the orchestrator reads no CSV; its aggregators share
    one stay dimension, built on first use."""
    calls: list = []
    _record_reads(monkeypatch, calls)
    aggs = EventsAggregator(spark, mimic_dir, str(tmp_path)).aggregators
    assert calls == []
    assert all(agg.stays() is aggs[0].stays() for agg in aggs)
    assert calls == [("read", "icustays")]


def test_csv_sink_starts_the_warm_up_before_its_first_read(
    spark, mimic_dir, tmp_path, monkeypatch
):
    calls: list = []
    _record_reads(monkeypatch, calls)
    monkeypatch.setattr(pipeline, "start_python_workers", lambda _spark: calls.append("warm-up"))
    pipeline.write_csv_sink(EventsAggregator(spark, mimic_dir, str(tmp_path)).aggregators)
    assert calls[0] == "warm-up"
    assert ("read", "icustays") in calls


def test_csv_sink_action_does_not_wait_for_the_warm_up(spark, mimic_dir, tmp_path, monkeypatch):
    """The sink action starts while the warm-up job still runs."""
    action_started = threading.Event()
    warm_up_saw_action: list[bool] = []
    monkeypatch.setattr(
        pipeline, "start_python_workers",
        lambda _spark: warm_up_saw_action.append(action_started.wait(10)),
    )
    monkeypatch.setattr(pipeline, "write_empty_stay_files", lambda *args: action_started.set())
    pipeline.write_csv_sink(EventsAggregator(spark, mimic_dir, str(tmp_path)).aggregators)
    assert warm_up_saw_action == [True]


def test_failed_csv_sink_joins_the_warm_up_and_raises_its_own_error(
    spark, mimic_dir, tmp_path, monkeypatch
):
    """A sink action that raises while the warm-up still runs: the
    thread is joined, and the sink's error, not the warm-up's, is raised."""
    action_started = threading.Event()
    threads: list[threading.Thread] = []

    def warm_up(_spark):
        threads.append(threading.current_thread())
        action_started.wait(10)
        time.sleep(0.2)
        raise RuntimeError("warm-up failed")

    def failing_action(*args):
        action_started.set()
        raise RuntimeError("sink failed")

    monkeypatch.setattr(pipeline, "start_python_workers", warm_up)
    monkeypatch.setattr(pipeline, "write_empty_stay_files", failing_action)
    aggs = EventsAggregator(spark, mimic_dir, str(tmp_path)).aggregators
    with pytest.raises(RuntimeError, match="sink failed"):
        pipeline.write_csv_sink(aggs)
    assert len(threads) == 1 and not threads[0].is_alive()
