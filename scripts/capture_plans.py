"""Capture .explain('formatted') for registry queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <tag> <suffix> <query> [query...]
       python scripts/capture_plans.py <tag> <suffix> --cli-sink MIMIC_DIR [--ffill]

Writes plans/<tag>/<query>_<suffix>.txt with the formatted physical plan
(plan claims in OPTIMIZATION_r*.md are checked against these files).
With --cli-sink it writes plans/<tag>/cli_csv_sink_<suffix>.txt instead:
the plan of the CLI's grouped CSV writer over all four sources of the
MIMIC root MIMIC_DIR (e.g. scripts/make_mimic_fixture.py output), with
or without --ffill.
Runs in its own Spark session; do NOT run concurrently with a bench.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimic2ts_spark import harness  # noqa: E402
from mimic2ts_spark.pipeline import EventsAggregator, tagged_long_form  # noqa: E402
from mimic2ts_spark.session import get_spark, release_storage  # noqa: E402
from mimic2ts_spark.sinks import write_stay_matrices  # noqa: E402


def _write(out_dir: str, name: str, txt: str) -> None:
    path = os.path.join(out_dir, f"{name}.txt")
    with open(path, "w") as f:
        f.write(txt)
    print(f"wrote {path} ({len(txt)} bytes)")


def cli_sink_df(spark, mimic_dir: str, ffill: bool):
    """The lazy grouped CSV writer of a CLI run over all four sources
    (nothing is written until an action runs it)."""
    aggs = EventsAggregator(spark, mimic_dir, "unused-dst", ffill=ffill).aggregators
    names = tuple(a.name for a in aggs)
    return write_stay_matrices(tagged_long_form(aggs), "unused-dst", names)


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    if names[:1] == ["--cli-sink"]:
        df = cli_sink_df(spark, names[1], "--ffill" in names[2:])
        _write(out_dir, f"cli_csv_sink_{suffix}", df._jdf.queryExecution().explainString(mode))
        return
    for name in names:
        fn = harness.REGISTRY[name][0] if name in harness.REGISTRY else getattr(
            harness, name
        )
        df = fn(spark, sf_dir)
        _write(out_dir, f"{name}_{suffix}", df._jdf.queryExecution().explainString(mode))
        release_storage(spark)


if __name__ == "__main__":
    main()
