"""Benchmark of the featurization CLI, its reader, and (traced) every layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The seed makes the input (see gen.py);
the program only sees the generated `icu/` CSVs. Each repetition runs in
a fresh process (worker.py) on `local[nproc]`, so `setup_s` is the JVM
and session start a CLI user pays on every run. Repetitions run one
after another while the next one should still end within `--seconds`
(at least one runs); then set-up-only processes run, under the same
limit, until `setup_s` has two samples. Every repetition's output is checked (check.py); a mismatch
counts it as failed.

`--trace 0` prints the end-to-end metrics (medians over repetitions);
its repetitions run the CLI only. `--trace 1` runs one traced
repetition that also runs the consumer step (the `d_items` catalog and
one `SampleDataset` pass over every stay), and prints the per-layer
metrics; the tracing overhead is its `trace.write_s` minus the `write_s`
of a `--trace 0` run with the same seed. The last stdout line is the result JSON; the line before it
holds the detail: host record, input and output digests, every sample.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from importlib import metadata

import pyarrow.parquet as pq_meta

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

SOURCES = gen.SOURCES
TABLES = ("icustays", "d_items") + SOURCES
LAYER_GROUPS = ("sources", "pipeline", "sinks.csv", "sinks.parquet", "dataset")
RUN_DEADLINE = 170  # seconds; a run must end within 180
SETUP_SAMPLES = 2

WORKLOADS = {
    # many short, sparse stays: per-stay sink overhead and the empty-stay pass
    "cli_many_stays": {
        "shape": gen.Shape(stays=480, chart_per_stay=12, other_per_stay=2, skew=0.8,
                           stay_hours=(6, 30), interval_hours=(2, 8), empty_share=0.10),
        "cli_args": [], "sample": 12,
    },
    # few long, dense stays: CSV scan, aggregate, dense reindex, explode, ffill
    "cli_dense_events": {
        "shape": gen.Shape(stays=60, chart_per_stay=4_000, other_per_stay=300, skew=0.3,
                           stay_hours=(24, 72), interval_hours=(12, 36), empty_share=0.0),
        "cli_args": ["--ffill"], "sample": 4,
    },
}
TOY = gen.Shape(stays=24, chart_per_stay=20, other_per_stay=3, skew=0.5,
                stay_hours=(6, 30), interval_hours=(2, 8), empty_share=0.2)

END_TO_END = {
    "setup_s": "s", "write_s": "s", "cpu_s": "s",
    "output_files": "count", "output_bytes": "bytes",
}


def cpu_probe() -> float:
    """The bench.py drift probe: 200k chained md5 digests, one thread."""
    import hashlib

    t0 = time.perf_counter()
    h = b"probe"
    for _ in range(200_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def java_version(env: dict) -> str:
    java = os.path.join(env.get("JAVA_HOME", ""), "bin", "java")
    out = subprocess.run([java if os.path.exists(java) else "java", "-version"],
                         capture_output=True, text=True, env=env, timeout=60)
    lines = [ln for ln in out.stderr.splitlines() if "version" in ln]
    return lines[0].strip() if lines else "unknown"


def worker_env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["JAVA_TOOL_OPTIONS"] = " ".join(p for p in (env.get("JAVA_TOOL_OPTIONS"), opts) if p)
    return env


def run_worker(cfg: dict, work: str, env: dict, deadline: float) -> dict:
    """One fresh worker process; returns its result plus the rusage of its
    whole process tree (the worker waits for the JVM, which waits for the
    Python workers), or {"error": ...}."""
    cfg_path = os.path.join(work, "worker.json")
    cfg["result"] = os.path.join(work, "worker-result.json")
    if os.path.exists(cfg["result"]):
        os.remove(cfg["result"])
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        t_launch = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        while True:
            pid, status, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, ru = os.wait4(proc.pid, 0)
                break
            time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
    stop_group(proc.pid)
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(log_path) as f:
            tail = f.read()[-2000:]
        return {"error": f"worker exit {proc.returncode}: {tail}"}
    with open(cfg["result"]) as f:
        res = json.load(f)
    res["setup_s"] = res["t_ready"] - t_launch
    res["cpu_s"] = ru.ru_utime + ru.ru_stime
    res["peak_rss_mb"] = ru.ru_maxrss / 1024.0
    return res


def group_running(pgid: int) -> bool:
    """Whether any process of the group is still alive (not a zombie)."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def stop_group(pgid: int) -> None:
    """Kill what is left of a worker's process group (Python workers the
    JVM did not reap) and wait until none of it runs any more."""
    t_end = time.monotonic() + 30
    while group_running(pgid) and time.monotonic() < t_end:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def tree_stats(dst: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, filenames in os.walk(dst):
        for name in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


def corrupt(dst: str, how: str, stay_id: int) -> None:
    """Self-test hook: damage one output so the checker must fail the run."""
    path = f"{dst}/{stay_id}/chartevents_features.csv"
    if how == "delete":
        os.remove(path)
        return
    with open(path) as f:
        lines = f.read().splitlines()
    fields = lines[1].split(",")
    fields[-1] = repr(float(fields[-1]) + 1.0)
    lines[1] = ",".join(fields)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def pct(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(round(q * (len(s) - 1))))]


def per_layer(res: dict, dst: str, pq_dst: str, log_dir: str) -> dict:
    """Per-layer metrics from one traced repetition (spans are seconds)."""
    m: dict = {}
    spans = res["spans"]

    def total(layer, key=None, phases=("product", "read")):
        return sum(s["s"] for s in spans
                   if s["layer"] == layer and (key is None or s["key"] == key)
                   and s["phase"] in phases)

    m["session.get_spark_s"] = (res["get_spark_s"], "s")
    for t in TABLES:
        m[f"sources.header_s.{t}"] = (total("sources.header", t), "s")
    probes = res["probes"]
    spark_metrics, sink_stage_s, records_read = eventlog.summarize(log_dir, LAYER_GROUPS)
    sink_self = 0.0
    for s in SOURCES:
        m[f"sources.scan_s.{s}"] = (total("sources.scan", s, ("probe",)), "s")
        m[f"sources.scan_rows.{s}"] = (records_read.get(f"sources.scan.{s}", 0), "count")
        m[f"pipeline.plan_build_s.{s}"] = (total("pipeline.plan_build", s, ("product",)), "s")
        m[f"pipeline.compute_s.{s}"] = (total("pipeline.compute", s, ("probe",)), "s")
        pq = [os.path.join(dp, n) for dp, _, fs in os.walk(f"{pq_dst}/{s}")
              for n in fs if n.endswith(".parquet")]
        for k in ("events_rows", "jobs", "tasks"):
            m[f"pipeline.{k}.{s}"] = (probes[f"pipeline.{k}.{s}"], "count")
        m[f"pipeline.dense_rows.{s}"] = (
            sum(pq_meta.ParquetFile(p).metadata.num_rows for p in pq), "count")
        m[f"sinks.csv_s.{s}"] = (total("sinks.csv", s, ("product",)), "s")
        self_s = sink_stage_s.get(f"sinks.csv.{s}", 0.0)
        sink_self += self_s
        m[f"sinks.csv_self_s.{s}"] = (self_s, "s")
        files = [f"{dst}/{d}/{s}_features.csv" for d in os.listdir(dst) if d.isdigit()]
        files = [p for p in files if os.path.exists(p)]
        empty = 0
        for p in files:
            with open(p) as f:
                empty += len(f.read().splitlines()) == 1
        m[f"sinks.csv_files.{s}"] = (len(files), "count")
        m[f"sinks.empty_stays.{s}"] = (empty, "count")
        m[f"sinks.jobs.{s}"] = (res["sink_jobs"][s], "count")
        m[f"sinks.parquet_s.{s}"] = (total("sinks.parquet", s, ("probe",)), "s")
        m[f"sinks.parquet_files.{s}"] = (len(pq), "count")
        m[f"sinks.parquet_bytes.{s}"] = (sum(os.path.getsize(p) for p in pq), "bytes")
    m["sinks.csv_share_of_write"] = (sink_self / res["write_s"], "fraction")
    stay_s = [s["s"] for s in spans if s["layer"] == "dataset.load_stay_matrix"]
    m["dataset.load_stay_matrix_s.p50"] = (pct(stay_s, 0.5), "s")
    m["dataset.load_stay_matrix_s.p99"] = (pct(stay_s, 0.99), "s")
    m["dataset.read_s"] = (res["read_s"], "s")
    m["dataset.feature_catalog_s"] = (total("dataset.feature_catalog"), "s")
    m["dataset.load_long_scan_s"] = (total("dataset.load_long_scan", phases=("probe",)), "s")
    look = [s["s"] for s in spans if s["layer"] == "dataset.load_long_lookup"]
    m["dataset.load_long_lookup_s.p50"] = (pct(look, 0.5), "s")
    m["dataset.load_long_lookup_s.p99"] = (pct(look, 0.99), "s")
    for k, v in spark_metrics.items():
        m[k] = v
    m["trace.write_s"] = (res["write_s"], "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny input (self-test)")
    ap.add_argument("--corrupt", choices=("value", "delete"), help="self-test hook")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mimic2ts_spark", "__main__.py")):
        print("run from the root of a checkout: mimic2ts_spark/ is missing", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    env = worker_env(root, work)
    spec = WORKLOADS[args.workload]
    shape = TOY if args.toy else spec["shape"]
    name = args.workload + ("-toy" if args.toy else "")

    t_setup = time.monotonic()
    deadline = t_setup + RUN_DEADLINE
    host = {"cpu_probe_before_s": cpu_probe(), "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "pyspark": metadata.version("pyspark"), "java": java_version(env)}
    src = gen.cached_input(os.path.join(work, "inputs"), name, shape, args.seed)
    host["input_digest"] = gen.input_digest(src)
    ffill = "--ffill" in spec["cli_args"]
    model = check.Model(src, ffill=ffill)
    rng = random.Random(args.seed)
    stay_ids = [int(s) for s in model.stays.index]
    active = sorted(set().union(*(model.features[s] for s in SOURCES)))
    empty = sorted(set(stay_ids) - set(active))
    sample = rng.sample(active, min(spec["sample"], len(active))) + empty[:1]
    with_chart = [s for s in sample if s in model.features["chartevents"]]
    lookups = [[s, rng.choice([n for n in SOURCES if s in model.features[n]])]
               for s in rng.sample(active, min(2, len(active)))]

    dst = os.path.join(work, "dst")
    pq_dst = os.path.join(work, "dst_parquet")
    cfg = {"src": src, "dst": dst, "parquet_dst": pq_dst, "cli_args": spec["cli_args"],
           "stay_ids": stay_ids, "lookups": lookups, "trace": False,
           "eventlog_dir": os.path.join(work, "eventlog")}

    reps, problems = [], []
    attempted = failed = 0

    def repetition(trace: bool) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        for d in (dst, pq_dst, cfg["eventlog_dir"]):
            shutil.rmtree(d, ignore_errors=True)
        res = run_worker(dict(cfg, trace=trace, read=trace), work, env, deadline)
        if "error" in res:
            failed += 1
            problems.append(res["error"])
            return None
        if args.corrupt:
            corrupt(dst, args.corrupt, with_chart[0])
        found = check.check_tree(model, dst, sample)
        if trace:
            found += check.check_reader(model, res["reader"], sample)
            found += check.check_lookups(dst, res["probes"]["lookups"])
        res["output_files"], res["output_bytes"] = tree_stats(dst)
        res["digest"] = check.tree_digest(dst)
        if found:
            failed += 1
            problems.extend(found[:20])
        reps.append(res)
        return res

    t_start = time.monotonic()
    host["prepare_s"] = t_start - t_setup
    if args.trace:
        traced = repetition(True)
        if traced is None:
            print(json.dumps({"problems": problems}), file=sys.stderr)
            return 1
        metrics = per_layer(traced, dst, pq_dst, cfg["eventlog_dir"])
    else:
        # start another repetition only if it should end within --seconds
        while True:
            t_rep = time.monotonic()
            if repetition(False) is None:
                break
            now = time.monotonic()
            if now + (now - t_rep) - t_start > args.seconds:
                break
        if not reps:
            print(json.dumps({"problems": problems}), file=sys.stderr)
            return 1
        setups = [r["setup_s"] for r in reps]
        # set-up-only processes too, while the next should end within --seconds
        while (len(setups) < SETUP_SAMPLES and time.monotonic() + 1.2 * statistics.median(setups)
               - t_start <= args.seconds):
            res = run_worker(dict(cfg, setup_only=True), work, env, deadline)
            if "error" in res:
                problems.append(res["error"])
                break
            setups.append(res["setup_s"])
        metrics = {k: (statistics.median(r[k] for r in reps), u)
                   for k, u in END_TO_END.items() if k != "setup_s"}
        metrics["setup_s"] = (statistics.median(setups), "s")
    host["cpu_probe_after_s"] = cpu_probe()
    host["run_s"] = time.monotonic() - t_setup

    detail = {
        "workload": args.workload, "seed": args.seed, "shape": shape.__dict__, "host": host,
        "repetitions": [{k: r.get(k) for k in ("setup_s", "write_s", "read_s",
                                               "cpu_s", "peak_rss_mb", "output_files",
                                               "output_bytes", "digest")} for r in reps],
        "problems": problems[:50],
    }
    if not args.trace:
        detail["setup_samples"] = setups
    print(json.dumps({"detail": detail}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
