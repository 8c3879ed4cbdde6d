"""Sinks (SURVEY.md §2.1 S3/S4/S5).

The reference writes one wide CSV per (stay, source) as a side effect
inside each stay-group task (/root/reference/src/mimic2ts/__init__.py:174)
and a header-only dummy for event-less stays (:217-225). Exact-layout
parity needs per-stay pivoted files with data-dependent width, which no
declarative Spark sink produces — so this is the engine's ONE grouped
pandas escape hatch (`groupBy(stay_id).applyInPandas`), as planned in
SURVEY.md §4 "Sink layout". Everything upstream stays native.

The CSV sink is one pass per run for every enabled source: the sources'
sparse bucket aggregates arrive as one DataFrame tagged with a `source`
column, one pandas group per stay builds and writes all of that stay's
grids (pivot, reindex to 0..total_windows, ffill, zero-fill), and one
Arrow (`mapInPandas`) pass writes the header-only files of event-less
stays. Each file, and the run manifest, is written under a temp name and
renamed into place, so a killed or retried task never leaves a truncated
file.

For engine-native output (the recommended path at scale), use
`write_long_parquet`: partitioned parquet with Spark's commit protocol —
retry-safe, unlike the reference's in-task writes.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PARQUET_STAY_BUCKETS = 256


def _replace_file(path: str, write) -> None:
    """Call `write(tmp)` on a hidden temp name beside `path`, then
    rename it over `path` (atomic on POSIX).

    A process killed mid-write, or a speculative duplicate task, leaves
    at most the temp file (the pid keeps concurrent writers apart), never
    a truncated file under the final name; a write that raises removes
    its temp file."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.{os.getpid()}.tmp")
    try:
        write(tmp)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _replace_csv(frame: pd.DataFrame, path: str, **to_csv) -> None:
    """Write `frame` as CSV to `path` through `_replace_file`."""
    _replace_file(path, lambda tmp: frame.to_csv(tmp, **to_csv))


def _write_header_only(path: str, total_windows: int) -> None:
    cols = ["feature_id", *range(total_windows + 1)]
    _replace_csv(pd.DataFrame(columns=cols), path, index=False)


def _stay_grid(rows: pd.DataFrame, total_windows: int) -> pd.DataFrame:
    """One source's wide matrix for one stay from its sparse bucket rows:
    features (ascending) × buckets 0..total_windows. Gaps and NULL
    buckets are forward-filled along the row when the rows' `ffill` is
    set, then zero-filled, as the reference does per stay
    (src/mimic2ts/__init__.py:124-136)."""
    wide = rows.pivot(index="feature_id", columns="tidx", values="value")
    wide = wide.reindex(columns=range(total_windows + 1)).sort_index()
    if rows["ffill"].iat[0]:
        wide = wide.ffill(axis=1)
    return wide.fillna(0.0)


def write_stay_matrices(
    long_df: DataFrame, dst_path: str, names: Sequence[str]
) -> DataFrame:
    """Pivot per stay and write `{dst}/{stay_id}/{name}_features.csv`
    for every source in `names`.

    Input is the SPARSE bucket aggregate of all those sources
    `(stay_id, source, feature_id, total_windows, tidx, value, ffill)`
    (`pipeline.tagged_long_form`): only observed buckets, each row
    carrying its stay's `total_windows` and its source's constant
    `ffill`. The writer builds each stay's grid: it pivots the rows,
    reindexes the columns to 0..total_windows, forward-fills along the
    row if `ffill`, then zero-fills. Output layout parity with the
    reference README: rows indexed by feature_id (ascending), columns
    `feature_id, 0..total_windows`. A source with no rows for a stay
    gets a header-only file.

    The rows are hash-partitioned on stay_id to the session's default
    parallelism before the grouping (which reuses that partitioning, so
    the writer adds one Exchange): AQE may coalesce a shuffle it sized
    itself, and the small aggregate would otherwise run this CPU-bound
    writer as a single task.

    Returns the LAZY produced-stays DataFrame `(stay_id, n_features)` —
    the files are written executor-side when a downstream action runs it
    (write_empty_stay_files consumes it through an anti-join, so one
    action drives both passes). No driver-side stay list is ever
    materialized: at millions of stays the produced set stays
    distributed.
    """
    parts = long_df.sparkSession.sparkContext.defaultParallelism

    def _write(pdf: pd.DataFrame) -> pd.DataFrame:
        stay_id = int(pdf["stay_id"].iloc[0])
        total_windows = int(pdf["total_windows"].iat[0])
        by_source = dict(iter(pdf.groupby("source", sort=False)))
        os.makedirs(f"{dst_path}/{stay_id}", exist_ok=True)
        n_features = 0
        for name in names:
            path = f"{dst_path}/{stay_id}/{name}_features.csv"
            rows = by_source.get(name)
            if rows is None:
                _write_header_only(path, total_windows)
                continue
            wide = _stay_grid(rows, total_windows)
            _replace_csv(wide, path)
            n_features += wide.shape[0]
        return pd.DataFrame({"stay_id": [stay_id], "n_features": [n_features]})

    return (
        long_df.repartition(parts, "stay_id")
        .groupBy("stay_id")
        .applyInPandas(_write, schema="stay_id long, n_features long")
    )


def missing_stays(requested_stays: DataFrame, produced: DataFrame) -> DataFrame:
    """S4 set difference as a real anti-join (requested − produced,
    /root/reference/src/mimic2ts/__init__.py:217-225). No collected
    IN-list: the plan stays a LeftAnti join however many stays exist."""
    return requested_stays.select("stay_id", "total_windows").join(
        produced.select("stay_id"), "stay_id", "left_anti"
    )


def write_empty_stay_files(
    requested_stays: DataFrame,
    produced: DataFrame,
    dst_path: str,
    names: Sequence[str],
) -> None:
    """Header-only CSV of every source in `names` for every requested
    stay with no events (S4), written executor-side by one Arrow
    `mapInPandas` pass into a `noop` sink.

    Triggering this action also executes the `produced` applyInPandas
    subtree (the per-stay matrix writes) exactly once — one job drives
    the whole sink. Empty-file writes are idempotent (fixed content per
    stay), so task retries are safe.
    """

    def _write(batches):
        for batch in batches:
            for sid, total_windows in zip(batch["stay_id"], batch["total_windows"]):
                os.makedirs(f"{dst_path}/{sid}", exist_ok=True)
                for name in names:
                    _write_header_only(f"{dst_path}/{sid}/{name}_features.csv",
                                       int(total_windows))
            yield batch[["stay_id"]]

    (
        missing_stays(requested_stays, produced)
        .mapInPandas(_write, schema="stay_id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def write_long_parquet(long_df: DataFrame, dst_path: str, name: str) -> None:
    """Scale-native sink: long-form parquet partitioned by stay bucket.

    Partitioning by raw stay_id would create one directory per stay
    (millions of tiny files at 100 TB). Rows are hash-bucketed on stay_id
    and repartitioned on the bucket first, so each bucket is written by
    one task: at most PARQUET_STAY_BUCKETS files, one per directory,
    whatever the shuffle-partition count, with stay locality kept for
    downstream readers. The price is a write at most that many tasks
    wide, each task holding one bucket's rows.
    """
    (
        long_df.withColumn(
            "stay_bucket", F.pmod(F.hash("stay_id"), F.lit(PARQUET_STAY_BUCKETS))
        )
        .repartition("stay_bucket")
        .write.mode("overwrite")
        .partitionBy("stay_bucket")
        .parquet(f"{dst_path}/{name}")
    )


def write_manifest(dst_path: str, version: str, runtime_seconds: float, args: dict) -> None:
    """Run manifest (S5 — the reference's src/mimic2ts/__main__.py:83-91).

    `readme.txt` marks a completed run, so it is written to a temp name
    and renamed into place: it is either whole or absent."""
    os.makedirs(dst_path, exist_ok=True)

    def _write(tmp: str) -> None:
        with open(tmp, "w") as f:
            f.write(f"mimic2ts_spark version: {version}\n")
            f.write(f"runtime seconds: {runtime_seconds}\n")
            for k, v in args.items():
                f.write(f"{k}: {v}\n")

    _replace_file(f"{dst_path}/readme.txt", _write)
