"""Recurring 10x scale bench (r15, VERDICT r14 #3/#5): the sf0.1 bench
cannot exercise parallelism (8 cores beat 32 — every headline query is
fixed-cost bound), so scale claims lived only in ad-hoc sweep prose.
This script is the committed artifact form: the 15 heaviest headline
queries (fixed list, taken from BENCH_DETAIL_r14 so the set stays
comparable round over round), bench.py's exact methodology (sf0.001
warm-up, one storage flush, noop sink, interleaved rounds, best-of-2)
against a 10x id-offset scale-up of sf0.1, one JSON file out.

Usage:
    python scripts/bench_10x.py [out_json]
Builds /tmp/mimic2ts_10x via make_scale_dataset.py if absent (the build
is deterministic, DuckDB driver-side). Copy the output to
BENCH_10X_r{N}.json and commit it at round end.

Run EXCLUSIVE (the CLAUDE.md r07 rule) and prefer a settled host — the
artifact records drift probes like bench.py so a polluted run is
visible.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mimic2ts_spark import harness  # noqa: E402
from mimic2ts_spark.session import get_spark, release_storage  # noqa: E402

# The 15 heaviest headline queries by BENCH_DETAIL_r14 (fixed so every
# round measures the same set; revise only with a rationale in the
# round's OPTIMIZATION doc).
HEAVY15 = [
    "q_ann_recall",
    "q_dedup_recall",
    "q_dedup_containment",
    "q_ann_knn_beam",
    "q_dedup_ngram",
    "q_dedup_containment_canonical",
    "q_ann_filtered",
    "q_assoc_rules",
    "q_constraint_audit",
    "q_graph_pagerank",
    "q_dedup_embedding_lsh_canonical",
    "flagship_dense_matrix",
    "q_ingest_admission",
    "q_graph_communities",
    "q_graph_trustrank",
]

TENX_DIR = "/tmp/mimic2ts_10x"


def _ensure_dataset() -> None:
    if os.path.isdir(TENX_DIR) and os.path.exists(
        os.path.join(TENX_DIR, "lineitem.parquet")
    ):
        return
    here = os.path.dirname(os.path.abspath(__file__))
    subprocess.run(
        [
            sys.executable,
            os.path.join(here, "make_scale_dataset.py"),
            "/root/testdata/sf0.1",
            TENX_DIR,
            "10",
        ],
        check=True,
    )


def main() -> None:
    out_json = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_10X.json",
    )
    _ensure_dataset()
    spark = get_spark("mimic2ts_spark_bench_10x")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    def fn_of(name):
        if name == "flagship_dense_matrix":
            return harness.flagship
        return harness.REGISTRY[name][0]

    for name in HEAVY15:
        fn_of(name)(spark, "/root/testdata/sf0.001").write.format(
            "noop"
        ).mode("overwrite").save()
    release_storage(spark)

    # drift probe (bench.py's cpu loop — the steadier instrument)
    import hashlib

    def cpu_once() -> float:
        t0 = time.time()
        h = b"probe"
        for _ in range(200_000):
            h = hashlib.md5(h).digest()
        return time.time() - t0

    probe_pre = round(min(cpu_once() for _ in range(3)), 4)

    best = {n: float("inf") for n in HEAVY15}
    for _ in range(2):
        for name in HEAVY15:
            t0 = time.time()
            fn_of(name)(spark, TENX_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            best[name] = min(best[name], time.time() - t0)
    timings = {n: round(t, 3) for n, t in best.items()}
    out = {
        "metric": "heavy15_10x_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "scale": "10x(sf0.1)",
        "probe_cpu_sec": round(min(probe_pre, min(cpu_once() for _ in range(3))), 4),
    }
    try:
        from mimic2ts_spark.memo import BUILD_SECONDS

        out["memo_build_sec"] = dict(BUILD_SECONDS)
    except Exception:
        pass
    with open(out_json, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
