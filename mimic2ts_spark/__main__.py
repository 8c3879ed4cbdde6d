"""CLI parity with `python -m mimic2ts SRC DST ...`
(/root/reference/src/mimic2ts/__main__.py:8-91).

Usage:
    python -m mimic2ts_spark SRC DST [--exclude a,b] [--timestep N] [--ffill]
           [--stay-ids CSV] [--feature-ids CSV] [--max-partition-bytes N]

`--blocksize` from the reference maps to `--max-partition-bytes`
(spark.sql.files.maxPartitionBytes — the input-split knob).
"""

from __future__ import annotations

import argparse
import contextlib
import os
import time

import pandas as pd
from pyspark.sql import SparkSession

from mimic2ts_spark import EventsAggregator, __version__, get_spark, session
from mimic2ts_spark.sinks import write_manifest


def _read_id_list(
    p: argparse.ArgumentParser, flag: str, path: str | None, col: str
) -> list[int] | None:
    """The integer `col` of the CSV at `path`; an unreadable file, a
    missing column or a non-integer id is an argparse error naming `flag`
    and `path`, raised before the JVM starts."""
    if not path:
        return None
    try:
        table = pd.read_csv(path)
        if col not in table.columns:
            raise ValueError(f"no {col} column")
        return table[col].astype(int).to_list()
    except (OSError, ValueError) as e:
        p.error(f"argument {flag}: cannot read {col} ids from {path}: {e}")


def _timestep(text: str) -> int:
    """`--timestep`: a positive whole number of seconds."""
    try:
        if int(text) > 0:
            return int(text)
    except ValueError:
        pass
    raise argparse.ArgumentTypeError(f"must be a positive number of seconds, got {text!r}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="mimic2ts_spark")
    p.add_argument("src", help="MIMIC root (contains icu/*.csv)")
    p.add_argument("dst", help="output directory")
    p.add_argument("--exclude", default="", help="comma list of sources to skip")
    p.add_argument("--timestep", type=_timestep, default=3600)
    p.add_argument("--ffill", action="store_true")
    p.add_argument("--stay-ids", default=None, help="CSV with a stay_id column")
    p.add_argument("--feature-ids", default=None, help="CSV with a feature_id column")
    p.add_argument("--max-partition-bytes", type=int, default=None)
    args = p.parse_args(argv)

    excluded = {s.strip() for s in args.exclude.split(",") if s.strip()}
    unknown = sorted(excluded - set(EventsAggregator.SOURCES))
    if unknown:
        p.error(
            f"argument --exclude: unknown source(s) {', '.join(unknown)}; "
            f"valid sources: {', '.join(EventsAggregator.SOURCES)}"
        )
    stay_ids = _read_id_list(p, "--stay-ids", args.stay_ids, "stay_id")
    feature_ids = _read_id_list(p, "--feature-ids", args.feature_ids, "feature_id")
    extra = (
        {"spark.sql.files.maxPartitionBytes": str(args.max_partition_bytes)}
        if args.max_partition_bytes
        else None
    )
    spark = get_spark("mimic2ts_spark_cli", extra_conf=extra)
    # `readme.txt` marks a complete run: a re-run into the same DST drops
    # the old one before its first job and writes its own last.
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(args.dst, "readme.txt"))

    t0 = time.time()
    EventsAggregator(
        spark,
        args.src,
        args.dst,
        stay_ids=stay_ids,
        feature_ids=feature_ids,
        timestep_seconds=args.timestep,
        ffill=args.ffill,
        **{name: name not in excluded for name in EventsAggregator.SOURCES},
    ).do_agg()

    write_manifest(args.dst, __version__, time.time() - t0, vars(args))


if __name__ == "__main__":
    try:
        main()
    finally:
        # A dumping JVM writes its class-data archive as it exits: wait for
        # it, so that no JVM outlives the CLI.
        spark = SparkSession.getActiveSession()
        if session.CDS_STATE == "dumping" and spark is not None:
            session.stop_and_wait(spark)
