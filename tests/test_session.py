"""The `get_spark` session's conf, its fresh start, and what its errors
still report."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException
from pyspark.find_spark_home import _find_spark_home

from mimic2ts_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A fresh process: `get_spark` twice, then one query. Two warm-ups are
# patched in: one of a class that does not exist, and one that ends a
# second after the session is built. Prints what the tests below check as one JSON line.
FRESH_START = r"""
import json, threading, time
from pyspark.sql import SparkSession
from mimic2ts_spark import session

def late(jvm):
    while SparkSession._instantiatedSession is None:
        time.sleep(0.01)
    time.sleep(1.0)
    out["late_done"] = time.perf_counter()

out = {"warm_ups": []}
session._WARM_UPS["bogus"] = lambda jvm: jvm.java.lang.Class.forName("no.such.Bogus$")
session._WARM_UPS["late"] = late
warm_up = session._warm_up
session._warm_up = lambda name, *a: (out["warm_ups"].append(name), warm_up(name, *a))

spark = session.get_spark("fresh_start", extra_conf={"spark.mimic2ts.probe": "on"})
out["returned"] = time.perf_counter()
out["alive"] = [t.name for t in threading.enumerate() if t.name.startswith("warm_up.")]
out["start_seconds"] = dict(session.START_SECONDS)
sc = spark.sparkContext
out["sql"] = {k: spark.conf.get(k) for k in (
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone", "spark.sql.execution.arrow.pyspark.enabled",
    "spark.python.sql.dataFrameDebugging.enabled", "spark.sql.files.maxPartitionBytes",
    "spark.mimic2ts.probe")}
out["static"] = {k: sc.getConf().get(k) for k in (
    "spark.master", "spark.app.name", "spark.driver.memory",
    "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions",
    "spark.python.daemon.module", "spark.ui.enabled", "spark.mimic2ts.probe")}
out["jvm_args"] = list(
    sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())

out["same_session"] = session.get_spark("fresh_start") is spark
out["start_seconds_after_reuse"] = dict(session.START_SECONDS)
out["count"] = spark.range(3).count()
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def fresh_start() -> dict:
    env = dict(
        os.environ,
        PYTHONPATH=REPO,
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEM="2g",
        SPARK_CODE_CACHE="256m",
    )
    done = subprocess.run(
        [sys.executable, "-c", FRESH_START],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_fresh_start_sets_every_conf(fresh_start):
    static = dict(fresh_start["static"])
    # The context puts Spark's own JVM module options ahead of ours.
    for side in ("driver", "executor"):
        key = f"spark.{side}.extraJavaOptions"
        static[key] = static[key].split()[-1]
    assert fresh_start["sql"] == {
        "spark.sql.shuffle.partitions": "2",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.mimic2ts.probe": "on",
    }
    assert static == {
        "spark.master": "local[2]",
        "spark.app.name": "fresh_start",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=256m",
        "spark.executor.extraJavaOptions": "-XX:ReservedCodeCacheSize=256m",
        "spark.python.daemon.module": "mimic2ts_spark.daemon",
        "spark.ui.enabled": "false",
        "spark.mimic2ts.probe": "on",
    }
    # The driver JVM was launched with them, not only told of them.
    assert {"-Xmx2g", "-XX:ReservedCodeCacheSize=256m"} <= set(fresh_start["jvm_args"])


def test_fresh_start_joins_its_warm_ups(fresh_start):
    assert fresh_start["alive"] == []
    assert fresh_start["late_done"] < fresh_start["returned"]
    assert sorted(fresh_start["start_seconds"]) == [
        "cds_check",
        "context",
        "gateway",
        "join",
        "session",
        "warm_up.extensions",
        "warm_up.function_registry",
        "warm_up.late",
        "warm_up.sql_parser",
    ]


def test_reused_session_starts_no_warm_up(fresh_start):
    assert fresh_start["same_session"]
    assert sorted(fresh_start["warm_ups"]) == [
        "bogus", "extensions", "function_registry", "late", "sql_parser"
    ]
    assert fresh_start["start_seconds_after_reuse"] == fresh_start["start_seconds"]


def test_failed_warm_up_leaves_a_working_session(fresh_start):
    assert "warm_up.bogus" not in fresh_start["start_seconds"]
    assert fresh_start["count"] == 3


def test_python_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_missing_column_error_still_names_the_column(spark):
    with pytest.raises(AnalysisException, match="no_such_column") as exc_info:
        spark.range(1).select("no_such_column").collect()
    assert exc_info.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"


# --- class-data sharing ------------------------------------------------------
#
# Each test below starts its JVMs in subprocesses with its own
# XDG_CACHE_HOME, so it sees only the archives it makes.

# A fresh process: `get_spark` and one query, then what the CDS tests check
# as one JSON line. With "wait" the JVM is stopped and waited for (it
# writes its archive as it exits); otherwise it is killed unwritten.
CDS_START = r"""
import json, os, sys
from mimic2ts_spark import session

env = dict(os.environ)
spark = session.get_spark("cds", shuffle_partitions=1)
sc = spark.sparkContext
print(json.dumps({
    "state": session.CDS_STATE,
    "start_seconds": session.START_SECONDS,
    "env_unchanged": dict(os.environ) == env,
    "jvm_args": list(
        sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "defaults_probe": sc.getConf().get("spark.mimic2ts.defaults_probe", None),
    "count": spark.range(3).count(),
}))
sys.stdout.flush()
if sys.argv[1:] == ["wait"]:
    session.stop_and_wait(spark)
else:
    sc._gateway.proc.kill()
    sc._gateway.proc.wait()
"""

CDS_FLAGS = ("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xshare")


def _cds_env(cache, **extra) -> dict:
    return {
        **os.environ, "PYTHONPATH": REPO, "XDG_CACHE_HOME": str(cache),
        "SPARK_GRAFT_CPUS": "1", "SPARK_DRIVER_MEM": "1g", **extra,
    }


def _cds_start(cache, *args: str, **extra) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CDS_START, *args], cwd=REPO, env=_cds_env(cache, **extra),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _result(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-4000:]
    return json.loads(out.strip().splitlines()[-1])


def _cds_files(cache) -> list[str]:
    cds = os.path.join(str(cache), "mimic2ts_spark", "cds")
    return sorted(n for n in os.listdir(cds) if n != "conf")


def _tree(dst: str) -> dict[str, bytes]:
    """Every output file, with `readme.txt`'s runtime line dropped."""
    out = {}
    for d, _, names in os.walk(dst):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                data = f.read()
            if n == "readme.txt":
                data = b"".join(
                    line for line in data.splitlines(True) if not line.startswith(b"runtime seconds:")
                )
            out[os.path.relpath(os.path.join(d, n), dst)] = data
    return out


@pytest.fixture(scope="module")
def cli_runs(mimic_dir, tmp_path_factory):
    """Two `python -m mimic2ts_spark` runs into one DST with an empty
    cache: the first dumps an archive, the second maps it. A copy of the
    first run's dump is kept for the tests that damage it."""
    root = tmp_path_factory.mktemp("cds_cli")
    cache, dst, kept = root / "cache", str(root / "out"), root / "kept"
    cds = cache / "mimic2ts_spark" / "cds"
    runs = []
    for _ in range(2):
        done = subprocess.run(
            [sys.executable, "-m", "mimic2ts_spark", mimic_dir, dst],
            cwd=REPO, env=_cds_env(cache), capture_output=True, text=True, timeout=300,
        )
        assert done.returncode == 0, done.stderr[-4000:]
        files = _cds_files(cache)
        sidecars = [n for n in files if n.endswith(".json")]
        pids = [json.loads((cds / n).read_text())["pid"] for n in sidecars]
        runs.append({"files": files, "tree": _tree(dst), "stdout": done.stdout,
                     "writers_alive": [session._alive(p) for p in pids]})
        if not kept.exists():
            shutil.copytree(cds, kept)
    yield {"runs": runs, "kept": kept, "final": runs[1]["files"][0]}
    shutil.rmtree(root, ignore_errors=True)


def test_cli_dump_then_map_write_the_same_tree(cli_runs):
    first, second = cli_runs["runs"]
    assert first["tree"] == second["tree"]
    assert "readme.txt" in first["tree"] and len(first["tree"]) > 1
    # The JVM's CDS warnings stay off the CLI's stdout.
    assert first["stdout"] == second["stdout"] == ""


def test_dumping_cli_leaves_no_jvm_and_the_next_start_promotes_its_archive(cli_runs):
    first, second = cli_runs["runs"]
    assert [n.rsplit(".", 1)[1] for n in first["files"]] == ["json", "tmp"]
    assert first["writers_alive"] == [False]
    # The second run checked the first run's dump, renamed it into place
    # and mapped it, so it dumped nothing itself.
    assert second["files"] == [cli_runs["final"]]
    assert cli_runs["final"] == first["files"][0].split(".")[0] + ".jsa"


def _kept_dump(cli_runs) -> tuple[str, str]:
    """The first CLI run's dump: its tmp file name and its JSON's."""
    tmp = next(n for n in os.listdir(cli_runs["kept"]) if n.endswith(".tmp"))
    return tmp, tmp[: -len(".tmp")] + ".json"


def _empty_cache(cache):
    cds = cache / "mimic2ts_spark" / "cds"
    (cds / "conf").mkdir(parents=True)
    return cds


@pytest.fixture
def cache(tmp_path):
    """An XDG_CACHE_HOME of the test's own, its archives (~150 MB each)
    removed after the test."""
    yield tmp_path
    shutil.rmtree(tmp_path / "mimic2ts_spark", ignore_errors=True)


def test_truncated_dump_is_never_promoted(cli_runs, cache):
    cds, kept = _empty_cache(cache), cli_runs["kept"]
    tmp, sidecar = _kept_dump(cli_runs)
    shutil.copyfile(kept / sidecar, cds / sidecar)
    with open(kept / tmp, "rb") as src, open(cds / tmp, "wb") as dst:
        dst.write(src.read(os.path.getsize(kept / tmp) // 2))
    result = _result(_cds_start(cache))
    assert result["count"] == 3
    # Checked and removed before the launch, so this start dumps anew.
    assert result["state"] == "dumping"
    assert result["start_seconds"]["cds_check"] > 0
    assert result["env_unchanged"]
    files = _cds_files(cache)
    assert cli_runs["final"] not in files and tmp not in files and sidecar not in files


@pytest.mark.parametrize("heap", ["1g", "32g"])
def test_archive_for_another_class_path_or_heap_leaves_a_working_session(
    cli_runs, cache, heap
):
    # The archive was dumped at 1g with the first cache's conf dir on the
    # class path; at 32g the heap also has no compressed oops.
    cds = _empty_cache(cache)
    final = cds / (session._cds_key(session._java(), _find_spark_home(), heap) + ".jsa")
    shutil.copyfile(cli_runs["kept"] / _kept_dump(cli_runs)[0], final)
    result = _result(_cds_start(cache, SPARK_DRIVER_MEM=heap))
    assert result["state"] == "mapped"
    assert f"-XX:SharedArchiveFile={final}" in result["jvm_args"]
    assert result["env_unchanged"]
    assert result["count"] == 3


def test_spark_conf_dir_turns_cds_off(tmp_path):
    result = _result(_cds_start(tmp_path, SPARK_CONF_DIR=str(tmp_path)))
    assert result["state"] == "off:spark_conf_dir"
    assert result["env_unchanged"]
    assert not [a for a in result["jvm_args"] if a.startswith(CDS_FLAGS)]
    assert not (tmp_path / "mimic2ts_spark").exists()
    assert result["count"] == 3


def test_real_spark_defaults_turn_cds_off_and_are_read(tmp_path):
    spark_home = tmp_path / "spark"
    spark_home.mkdir()
    real_home = _find_spark_home()
    for name in os.listdir(real_home):
        if name != "conf":
            os.symlink(os.path.join(real_home, name), spark_home / name)
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.mimic2ts.defaults_probe on\n")
    result = _result(_cds_start(tmp_path, SPARK_HOME=str(spark_home)))
    assert result["state"] == "off:spark_conf"
    assert result["env_unchanged"]
    assert not [a for a in result["jvm_args"] if a.startswith(CDS_FLAGS)]
    assert result["defaults_probe"] == "on"
    assert result["count"] == 3


def test_two_dumping_starts_leave_one_archive(cache):
    procs = [_cds_start(cache, "wait") for _ in range(2)]
    results = [_result(p) for p in procs]
    assert [r["state"] for r in results] == ["dumping", "dumping"]
    assert sorted(n.rsplit(".", 1)[1] for n in _cds_files(cache)) == ["json", "json", "tmp", "tmp"]
    result = _result(_cds_start(cache))
    assert result["state"] == "mapped"
    assert result["count"] == 3
    assert [n.rsplit(".", 1)[1] for n in _cds_files(cache)] == ["jsa"]
