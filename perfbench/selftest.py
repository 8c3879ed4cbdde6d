"""Self-test of the benchmark itself, at toy size.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it runs one
untraced and one traced toy run and asserts that every metric named in
BENCHMARK.json is printed with its unit and that no run failed. It then
corrupts one output value and, separately, deletes one per-stay file,
and asserts the checker counts those runs as failed. Last, it asserts
that the benchmark refuses to run (non-zero exit, no result) in a
directory that holds only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.getcwd()


def run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> tuple[int, dict | None]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    cmd = [sys.executable, *command[1:], "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is not None and set(result) != {"correct", "attempted", "failed", "metrics"}:
        result = None
    return out.returncode, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            code, res = run(wl, trace, "--toy")
            assert code == 0 and res is not None, (wl, trace, code)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == expected[trace], (wl, trace, set(got) ^ set(expected[trace]))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            print(f"ok {wl} trace={trace}: {len(got)} metrics", flush=True)
    wl = bench["workloads"][0]["name"]
    for how in ("value", "delete"):
        code, res = run(wl, 0, "--toy", "--corrupt", how)
        assert code == 0 and res is not None, (how, code)
        assert not res["correct"] and res["failed"] == res["attempted"] >= 1, (how, res)
        print(f"ok corrupt={how}: {res['failed']}/{res['attempted']} runs failed", flush=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, res = run(wl, 0, cwd=bare)
        assert code != 0 and res is None, (code, res)
        print(f"ok bare checkout: exit {code}, no result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
