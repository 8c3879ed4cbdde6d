"""The `get_spark` session's conf, its fresh start, and what its errors
still report."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.errors import AnalysisException

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
