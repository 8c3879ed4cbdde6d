"""Scratch-dir hygiene (VERDICT r09 #7): every repo-internal mkdtemp
(artifact memos, sink fixtures, stream staging) routes through
session.session_tmpdir — one per-process root, removed at interpreter
exit — so a fresh process leaves no stray directories behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys


def test_session_tmpdir_cleans_on_exit():
    code = (
        "import json, os\n"
        "from mimic2ts_spark.session import session_tmpdir\n"
        "a = session_tmpdir('knn_graph_')\n"
        "b = session_tmpdir('search_idx_')\n"
        "open(os.path.join(a, 'artifact.parquet'), 'w').write('x')\n"
        "print(json.dumps([a, b]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd="/root/repo",
    )
    dirs = json.loads(out.stdout.strip().splitlines()[-1])
    roots = {os.path.dirname(d) for d in dirs}
    assert len(roots) == 1  # one shared per-process root
    for d in dirs:
        assert not os.path.exists(d)
    assert not os.path.exists(roots.pop())  # root itself removed at exit


def test_no_direct_mkdtemp_left_in_engine():
    """Every engine-side scratch dir must route through session_tmpdir
    (dupguard for the quadratic APIs, this pin for the leak)."""
    import glob

    offenders = []
    for path in glob.glob("/root/repo/mimic2ts_spark/**/*.py", recursive=True):
        src = open(path).read()
        if "tempfile.mkdtemp(" in src and "def session_tmpdir" not in src:
            offenders.append(path)
    assert offenders == []


def test_one_fingerprint_and_no_read_wrappers_in_engine():
    """The file-content fingerprint lives in memo.py alone, and no
    module wraps the memoized parquet read in a `_memo_read` of its own
    (a fourth fingerprint copy or a revived wrapper fails here)."""
    import glob

    pkg = os.path.join(os.path.dirname(__file__), "..", "mimic2ts_spark")
    mtime_users, wrappers = [], []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        if "st_mtime_ns" in src:
            mtime_users.append(os.path.basename(path))
        if "def _memo_read" in src:
            wrappers.append(os.path.basename(path))
    assert mtime_users == ["memo.py"]
    assert wrappers == []
