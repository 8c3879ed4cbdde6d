"""Sink robustness: per-stay CSVs and the run manifest are replaced
atomically, and the long-form parquet sink writes one file per stay
bucket."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from mimic2ts_spark import sinks
from mimic2ts_spark.dataset import load_long


def _fail_mid_file(self, target, **kwargs):
    with open(target, "w") as f:
        f.write("feature_id,0,1\n100,")
    raise OSError("disk full")


@pytest.mark.parametrize("previous", [None, "feature_id,0\n100,1.0\n"])
def test_failed_csv_write_leaves_no_truncated_file(tmp_path, monkeypatch, previous):
    """A write that dies mid-file leaves the earlier complete file (or no
    file) under the final name, and no temp file behind."""
    path = tmp_path / "chartevents_features.csv"
    if previous is not None:
        path.write_text(previous)
    monkeypatch.setattr(pd.DataFrame, "to_csv", _fail_mid_file)
    with pytest.raises(OSError, match="disk full"):
        sinks._replace_csv(pd.DataFrame({"feature_id": [100]}), str(path))
    if previous is None:
        assert os.listdir(tmp_path) == []
    else:
        assert os.listdir(tmp_path) == [path.name]
        assert path.read_text() == previous


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
