"""Sink robustness and parity: per-stay CSVs and the run manifest are
replaced atomically, the numpy grid kernel writes pandas' `to_csv` text,
importing the sink loads no pandas, and the long-form parquet sink
writes one file per stay bucket."""

from __future__ import annotations

import math
import os
import subprocess
import sys
from unittest import mock

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mimic2ts_spark import sinks
from mimic2ts_spark.dataset import load_long


def _dies_mid_file():
    yield "feature_id,0,1\n"
    yield "100,"
    raise OSError("disk full")


@pytest.mark.parametrize("previous", [None, "feature_id,0\n100,1.0\n"])
def test_failed_csv_write_leaves_no_truncated_file(tmp_path, previous):
    """A write that dies mid-file leaves the earlier complete file (or no
    file) under the final name, and no temp file behind."""
    path = tmp_path / "chartevents_features.csv"
    if previous is not None:
        path.write_text(previous)
    with pytest.raises(OSError, match="disk full"):
        sinks._replace_file(str(path), _dies_mid_file())
    if previous is None:
        assert os.listdir(tmp_path) == []
    else:
        assert os.listdir(tmp_path) == [path.name]
        assert path.read_text() == previous


_EDGE_VALUES = [-0.0, math.inf, -math.inf, 5e-324, 1.7976931348623157e308, 1e-5, 1e16,
                12345678.0, 0.1 + 0.2, math.nan]


def _pandas_csv(cells: dict, total_windows: int, ffill: bool) -> str:
    """The stay grid's CSV as pandas builds it: pivot, reindex the columns
    to 0..total_windows, sort, [ffill along the row], zero-fill, to_csv."""
    rows = pd.DataFrame(
        [(fid, t, v) for (fid, t), v in cells.items()], columns=["feature_id", "tidx", "value"]
    )
    wide = rows.pivot(index="feature_id", columns="tidx", values="value")
    wide = wide.reindex(columns=range(total_windows + 1)).sort_index()
    if ffill:
        wide = wide.ffill(axis=1)
    return wide.fillna(0.0).to_csv()


@st.composite
def _stay_cells(draw):
    total_windows = draw(st.integers(0, 7))
    key = st.tuples(st.sampled_from([3, 100, 220045, 2**40]), st.integers(0, total_windows))
    value = st.sampled_from(_EDGE_VALUES) | st.floats()
    return total_windows, draw(st.dictionaries(key, value, min_size=1, max_size=20))


@settings(max_examples=300, deadline=None)
@given(case=_stay_cells(), ffill=st.booleans(), chunk_cells=st.integers(1, 12))
@example(case=(0, {(100, 0): 1.5}), ffill=True, chunk_cells=1)
@example(case=(4, {(100, 0): math.nan, (100, 2): 2.0, (3, 1): -0.0}), ffill=True, chunk_cells=5)
@example(case=(4, {(100, 0): math.nan, (100, 2): 2.0, (3, 1): -0.0}), ffill=False, chunk_cells=5)
def test_grid_kernel_text_equals_pandas_to_csv(case, ffill, chunk_cells):
    """The numpy grid kernel and its chunked formatter write the text
    pandas writes for the same sparse rows, for any chunk size, with or
    without ffill; an empty source is the bare header line."""
    total_windows, cells = case
    fid, tidx = (np.array(c, dtype=np.int64) for c in zip(*cells))
    value = np.array(list(cells.values()), dtype=np.float64)
    with mock.patch.object(sinks, "_CHUNK_CELLS", chunk_cells):
        text = "".join(sinks._csv_chunks(*sinks._stay_grid(fid, tidx, value, total_windows, ffill)))
        empty = sinks._stay_grid(fid[:0], tidx[:0], value[:0], total_windows, ffill)
        header = "".join(sinks._csv_chunks(*empty))
    assert text == _pandas_csv(cells, total_windows, ffill)
    columns = ["feature_id", *range(total_windows + 1)]
    assert header == pd.DataFrame(columns=columns).to_csv(index=False)


def test_worker_loads_only_the_sink(tmp_path):
    """A Python worker unpickles the CSV writer (importing
    `mimic2ts_spark.sinks`) and runs it on Arrow tables read from a
    stream: neither may load pandas, the pipeline or the operators. The
    package's exports still resolve on first access."""
    table = pa.table({
        "stay_id": pa.array([7, 7], pa.int64()),
        "source": ["chartevents", "chartevents"],
        "feature_id": pa.array([100, 100], pa.int64()),
        "total_windows": pa.array([2, 2], pa.int64()),
        "tidx": pa.array([0, 2], pa.int64()),
        "value": pa.array([1.5, None], pa.float64()),
        "ffill": [True, True],
    })
    stream = tmp_path / "stay.arrow"
    with pa.ipc.new_file(str(stream), table.schema) as writer:
        writer.write_table(table)
    code = (
        "import sys\n"
        "import pyarrow as pa\n"
        "from mimic2ts_spark import sinks\n"
        f"table = pa.ipc.open_file({str(stream)!r}).read_all()\n"
        f"out = sinks._write_stay(table, {str(tmp_path)!r}, ('chartevents', 'inputevents'))\n"
        "print([m for m in ('pandas', 'mimic2ts_spark.pipeline', 'mimic2ts_spark.operators')"
        " if m in sys.modules])\n"
        "print(out.to_pylist())\n"
        "from mimic2ts_spark import EventsAggregator, get_spark, __version__\n"
        "print(EventsAggregator.__module__, get_spark.__module__, __version__)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=root, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    from mimic2ts_spark import __version__

    assert out.stdout.splitlines() == [
        "[]",
        "[{'stay_id': 7, 'n_features': 1}]",
        f"mimic2ts_spark.pipeline mimic2ts_spark.session {__version__}",
    ], out.stdout + out.stderr
    assert (tmp_path / "7" / "chartevents_features.csv").read_text() == (
        "feature_id,0,1,2\n100,1.5,1.5,1.5\n"
    )
    assert (tmp_path / "7" / "inputevents_features.csv").read_text() == "feature_id,0,1,2\n"


class _Unprintable:
    def __str__(self):
        raise OSError("disk full")


@pytest.mark.parametrize("previous", [None, "mimic2ts_spark version: 0.1\n"])
def test_failed_manifest_write_leaves_no_truncated_readme(tmp_path, previous):
    """`readme.txt` marks a completed run: a write that dies after its
    first lines leaves the earlier manifest (or none) and no temp file."""
    path = tmp_path / "readme.txt"
    if previous is not None:
        path.write_text(previous)
    with pytest.raises(OSError, match="disk full"):
        sinks.write_manifest(str(tmp_path), "0.3.0", 1.5, {"src": "x", "dst": _Unprintable()})
    if previous is None:
        assert os.listdir(tmp_path) == []
    else:
        assert os.listdir(tmp_path) == [path.name]
        assert path.read_text() == previous
    sinks.write_manifest(str(tmp_path), "0.3.0", 1.5, {"src": "x"})
    assert path.read_text() == "mimic2ts_spark version: 0.3.0\nruntime seconds: 1.5\nsrc: x\n"


def test_long_parquet_one_file_per_stay_bucket(spark, tmp_path):
    """At a shuffle-partition count above 1 (and no AQE coalescing), each
    stay bucket is still written by one task: one file per bucket
    directory, at most PARQUET_STAY_BUCKETS files per source."""
    long_df = spark.range(2000).selectExpr(
        "id AS stay_id",
        "CAST(id % 3 AS BIGINT) AS feature_id",
        "explode(sequence(CAST(0 AS BIGINT), CAST(2 AS BIGINT))) AS tidx",
        "CAST(id AS DOUBLE) AS value",
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
        sinks.write_long_parquet(long_df, str(tmp_path), "chartevents")
    finally:
        spark.conf.set(key, before)
    root = tmp_path / "chartevents"
    buckets = [d for d in os.listdir(root) if d.startswith("stay_bucket=")]
    files = {d: [n for n in os.listdir(root / d) if n.endswith(".parquet")] for d in buckets}
    assert len(buckets) == sinks.PARQUET_STAY_BUCKETS
    assert all(len(names) == 1 for names in files.values()), files
    assert load_long(spark, str(tmp_path), "chartevents").count() == 6000
