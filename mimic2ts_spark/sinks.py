"""Sinks (SURVEY.md §2.1 S3/S4/S5).

The reference writes one wide CSV per (stay, source) as a side effect
inside each stay-group task (/root/reference/src/mimic2ts/__init__.py:174)
and a header-only dummy for event-less stays (:217-225). Exact-layout
parity needs per-stay pivoted files with data-dependent width, which no
declarative Spark sink produces — so this is the engine's ONE grouped
Python writer (`groupBy(stay_id).applyInArrow`), as planned in SURVEY.md
§4 "Sink layout". Everything upstream stays native.

The CSV sink is one pass per run for every enabled source: the sources'
sparse bucket aggregates arrive as one DataFrame tagged with a `source`
column, and an Arrow grouped writer with a numpy grid kernel builds and
writes each stay's grids (scatter into features × 0..total_windows,
ffill, zero-fill), formatting them as pandas' `to_csv` does. One
`mapInArrow` pass writes the header-only files of event-less stays.
`start_python_workers` brings up the Python workers that the writer's
tasks reuse; `pipeline.write_csv_sink` runs it while the driver plans.
Each file, and the run manifest, is written under a temp name and
renamed into place, so a killed or retried task never leaves a truncated
file. The module imports no pandas, so a Python worker that unpickles
the writer loads neither pandas nor the pipeline.

For engine-native output (the recommended path at scale), use
`write_long_parquet`: partitioned parquet with Spark's commit protocol —
retry-safe, unlike the reference's in-task writes.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PARQUET_STAY_BUCKETS = 256
# cells per formatted chunk of a CSV, as in pandas' to_csv
_CHUNK_CELLS = 100_000


def _replace_file(path: str, chunks: Iterable[str]) -> None:
    """Write the text `chunks`, in order, to a hidden temp name beside
    `path`, then rename it over `path` (atomic on POSIX).

    A process killed mid-write, or a speculative duplicate task, leaves
    at most the temp file (the pid keeps concurrent writers apart), never
    a truncated file under the final name; a write that raises (the
    chunks may be produced lazily, mid-file) removes its temp file."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.{os.getpid()}.tmp")
    try:
        with open(tmp, "w") as f:
            f.writelines(chunks)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def _header(total_windows: int) -> str:
    return ",".join(["feature_id", *map(str, range(total_windows + 1))]) + "\n"


def _stay_grid(
    feature_id: np.ndarray,
    tidx: np.ndarray,
    value: np.ndarray,
    total_windows: int,
    ffill: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """One source's wide matrix for one stay from its sparse bucket rows:
    `(features, grid)`, the distinct feature ids ascending and a
    `features × (total_windows + 1)` float grid. Each row's gaps and
    NULL (NaN) buckets are forward-filled along the row when `ffill`,
    then zero-filled, as the reference does per stay
    (src/mimic2ts/__init__.py:124-136)."""
    features, row = np.unique(feature_id, return_inverse=True)
    grid = np.full((len(features), total_windows + 1), np.nan)
    grid[row, tidx] = value
    if ffill:
        # per cell, the column of the last valid cell at or before it
        last = np.where(np.isnan(grid), 0, np.arange(total_windows + 1))
        grid = np.take_along_axis(grid, np.maximum.accumulate(last, axis=1), axis=1)
    grid[np.isnan(grid)] = 0.0
    return features, grid


def _csv_chunks(features: np.ndarray, grid: np.ndarray) -> Iterator[str]:
    """The CSV text of a stay grid: the header `feature_id,0..total_windows`,
    then one line per feature, formatted in chunks of at most
    `_CHUNK_CELLS` cells.

    Values are formatted by `ndarray.astype(str)`, the conversion pandas'
    `to_csv` applies to float blocks (shortest round-trip repr: `0.0`,
    `-0.0`, `1e-05`, `inf`), so the text equals pandas' `to_csv` of the
    same grid indexed by `feature_id`."""
    yield _header(grid.shape[1] - 1)
    step = max(1, _CHUNK_CELLS // grid.shape[1])
    for start in range(0, len(features), step):
        ids = features[start:start + step].tolist()
        cells = grid[start:start + step].astype(str).tolist()
        yield "".join(f"{fid},{','.join(row)}\n" for fid, row in zip(ids, cells))


def _numpy(column: pa.ChunkedArray, dtype: type) -> np.ndarray:
    """A fixed-width numeric Arrow column as a numpy array, NULL as NaN.

    Read from the Arrow buffers: pyarrow's `to_numpy` (and any Python to
    Arrow conversion) imports pandas, which cost each writer task 0.3-0.5 s
    before its first stay on a 4-core x86 host."""
    arr = column.combine_chunks()
    validity, data = arr.buffers()
    end = arr.offset + len(arr)
    values = np.frombuffer(data, dtype, count=end)[arr.offset:]
    if arr.null_count:
        bits = np.frombuffer(validity, np.uint8, count=(end + 7) // 8)
        valid = np.unpackbits(bits, count=end, bitorder="little")[arr.offset:]
        values = np.where(valid == 1, values, np.nan)
    return values


def _write_stay(table: pa.Table, dst_path: str, names: Sequence[str]) -> pa.Table:
    """Write every source's CSV of one stay from its sparse rows (the
    grouped writer's body, see `write_stay_matrices`); returns the
    one-row `(stay_id, n_features)` table."""
    stay_id = table.column("stay_id")[0].as_py()
    total_windows = table.column("total_windows")[0].as_py()
    source = np.array(table.column("source").to_pylist())
    ffill = np.array(table.column("ffill").to_pylist())
    feature_id = _numpy(table.column("feature_id"), np.int64)
    tidx = _numpy(table.column("tidx"), np.int64)
    value = _numpy(table.column("value"), np.float64)
    os.makedirs(f"{dst_path}/{stay_id}", exist_ok=True)
    n_features = 0
    for name in names:
        rows = source == name
        features, grid = _stay_grid(
            feature_id[rows], tidx[rows], value[rows], total_windows, ffill[rows].any()
        )
        _replace_file(f"{dst_path}/{stay_id}/{name}_features.csv", _csv_chunks(features, grid))
        n_features += len(features)
    counts = pa.py_buffer(np.array([n_features], np.int64))
    return pa.Table.from_arrays(
        [table.column("stay_id").slice(0, 1), pa.Array.from_buffers(pa.int64(), 1, [None, counts])],
        names=["stay_id", "n_features"],
    )


def write_stay_matrices(
    long_df: DataFrame, dst_path: str, names: Sequence[str]
) -> DataFrame:
    """Pivot per stay and write `{dst}/{stay_id}/{name}_features.csv`
    for every source in `names`.

    Input is the SPARSE bucket aggregate of all those sources
    `(stay_id, source, feature_id, total_windows, tidx, value, ffill)`
    (`pipeline.tagged_long_form`): only observed buckets, each row
    carrying its stay's `total_windows` and its source's constant
    `ffill`. An Arrow grouped writer (`applyInArrow`) gets each stay's
    rows as one Arrow table and builds every source's grid in numpy
    (`_stay_grid`): it scatters the rows into a features × 0..total_windows
    grid, forward-fills along the row if `ffill`, then zero-fills.
    Output layout parity with the reference README: rows indexed by
    feature_id (ascending), columns `feature_id, 0..total_windows`. A
    source with no rows for a stay gets a header-only file.

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

    def _write(table):
        return _write_stay(table, dst_path, names)

    return (
        long_df.repartition(parts, "stay_id")
        .groupBy("stay_id")
        .applyInArrow(_write, schema="stay_id long, n_features long")
    )


def _pass_through(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    return batches


def start_python_workers(spark: SparkSession) -> None:
    """Bring up the session's Python daemon and one Arrow worker per task
    slot: an identity `mapInArrow` over `defaultParallelism` one-row
    partitions into a `noop` sink. The workers stay idle after it, with
    this module imported (for `_pass_through`), and the writer's Arrow
    tasks reuse them instead of starting their own."""
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n, numPartitions=n)
        .mapInArrow(_pass_through, schema="id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
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
    stay with no events (S4), written executor-side by one `mapInArrow`
    pass into a `noop` sink.

    Triggering this action also executes the `produced` Arrow grouped
    writer subtree (the per-stay matrix writes) exactly once — one job
    drives the whole sink. Empty-file writes are idempotent (fixed
    content per stay), so task retries are safe.
    """

    def _write(batches):
        for batch in batches:
            stays = zip(batch.column("stay_id").to_pylist(),
                        batch.column("total_windows").to_pylist())
            for sid, total_windows in stays:
                os.makedirs(f"{dst_path}/{sid}", exist_ok=True)
                header = _header(total_windows)
                for name in names:
                    _replace_file(f"{dst_path}/{sid}/{name}_features.csv", [header])
            yield batch.select(["stay_id"])

    (
        missing_stays(requested_stays, produced)
        .mapInArrow(_write, schema="stay_id long")
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
    fields = [("mimic2ts_spark version", version), ("runtime seconds", runtime_seconds),
              *args.items()]
    _replace_file(f"{dst_path}/readme.txt", (f"{k}: {v}\n" for k, v in fields))
