"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the same configs (AQE, shuffle partitions,
maxPartitionBytes) are the ones that matter on a 1000-executor cluster —
they are set here once so every entry point (tests, bench, CLI, driver
harness) gets an identical, scale-aware session.
"""

from __future__ import annotations

import os
import threading
import time

from py4j.protocol import Py4JError
from pyspark import SparkConf, SparkContext
from pyspark.java_gateway import launch_gateway
from pyspark.sql import SparkSession

# Wall seconds of the latest fresh session start in this process, by
# phase: "gateway" (JVM launch), "context" (the JavaSparkContext),
# "session" (the JVM SparkSession), "join" (waiting for the warm-ups
# after the session is built) and "warm_up.<name>" for each warm-up that
# finished without error. A call that reuses a session records nothing.
START_SECONDS: dict[str, float] = {}


def _apply_extension_providers(jvm) -> None:
    # What `SparkSession.loadExtensions` does, on a throwaway
    # SparkSessionExtensions: spark-mllib's provider initializes Scala's
    # runtime reflection universe.
    provider = jvm.java.lang.Class.forName("org.apache.spark.sql.SparkSessionExtensionsProvider")
    extensions = jvm.org.apache.spark.sql.SparkSessionExtensions()
    found = jvm.java.util.ServiceLoader.load(provider).iterator()
    while found.hasNext():
        found.next().apply(extensions)


# name -> fn(jvm): JVM class initialization that the session start would
# otherwise do later, on its one thread.
_WARM_UPS = {
    "extensions": _apply_extension_providers,
    "function_registry": lambda jvm: jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.analysis.FunctionRegistry$"
    ),
    # The SQL parser (antlr), first used by the first DataFrame's schema.
    "sql_parser": lambda jvm: jvm.org.apache.spark.sql.types.DataType.fromDDL("id long"),
}


def _warm_up(name: str, warm, jvm) -> None:
    t0 = time.perf_counter()
    try:
        warm(jvm)
    except Py4JError:
        return  # the session does the same work itself, later
    START_SECONDS[f"warm_up.{name}"] = round(time.perf_counter() - t0, 3)


def _start(builder: SparkSession.Builder, conf: SparkConf) -> SparkSession:
    """A fresh session: the gateway, then the context while the warm-ups
    run on helper threads, then the session; the helpers are joined
    before return."""
    START_SECONDS.clear()
    t0 = time.perf_counter()
    gateway = launch_gateway(conf)
    t1 = time.perf_counter()
    helpers = [
        threading.Thread(
            target=_warm_up, args=(name, warm, gateway.jvm), name=f"warm_up.{name}", daemon=True
        )
        for name, warm in _WARM_UPS.items()
    ]
    for helper in helpers:
        helper.start()
    try:
        SparkContext(conf=conf, gateway=gateway)
        t2 = time.perf_counter()
        spark = builder.getOrCreate()
        t3 = time.perf_counter()
    finally:
        for helper in helpers:
            helper.join()
    START_SECONDS.update(
        gateway=round(t1 - t0, 3),
        context=round(t2 - t1, 3),
        session=round(t3 - t2, 3),
        join=round(time.perf_counter() - t3, 3),
    )
    return spark


def get_spark(
    app_name: str = "mimic2ts_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on (runtime coalesce + skew-join split — the `stay_id` shuffle is
      the reference's skew hazard, SURVEY.md §7 "What's hard" #4).
    - UTC session timezone (oracle comparisons and epoch math are
      timezone-free, mirroring the reference's naive-UTC epoch seconds,
      /root/reference/src/mimic2ts/__init__.py:84-87).
    - Arrow enabled for DataFrame <-> pandas conversion (`toPandas`,
      `createDataFrame`). The Python UDF boundaries (the CSV sink's Arrow
      grouped writer + numpy grid, multimodal decode) exchange Arrow
      batches regardless.
    - Python workers forked by `mimic2ts_spark.daemon`: the stock
      `pyspark.daemon`, imported from the installed, compiled pyspark when
      its version equals that of Spark's `pyspark.zip` (a daemon started
      from the zip compiles every module it imports). Like every Python
      UDF of the package, the worker must be able to import
      `mimic2ts_spark`.
    - No Python call-site capture
      (`spark.python.sql.dataFrameDebugging.enabled=false`). With it on,
      pyspark wraps every Column function call (`F.col`, `cast`,
      `F.lit`, ...) to record the calling file:line in the JVM: several
      py4j round trips per call (a third of a CLI run's, 2,599 → 1,606
      on 480 stays) and an `import IPython` when IPython is installed.
      What an error loses: an `AnalysisException` or a runtime error in
      a DataFrame expression no longer names the Python file:line that
      built the expression; its error class and message (the column or
      function at fault) stay. pyspark reads the setting once per
      process, from the first session that needs it.

    A fresh start (no JVM in this process yet) runs in parallel: the
    gateway is launched with the full conf, then helper threads do JVM
    class initialization that the session start would otherwise do later
    on its one thread, while the JavaSparkContext is built: every
    `SparkSessionExtensionsProvider` applied to a throwaway
    `SparkSessionExtensions` (spark-mllib's initializes Scala's runtime
    reflection universe), `FunctionRegistry$`, and the SQL parser that
    the first DataFrame's schema uses. None of it depends on the context.
    The helpers are joined before return; one that fails is ignored (the
    session does that work itself), so the session and its conf are
    those of a serial start. Phase seconds land in `START_SECONDS`. A
    call that finds a JVM reuses its session through the builder and
    starts no helper.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    code_cache = "-XX:ReservedCodeCacheSize=" + os.environ.get("SPARK_CODE_CACHE", "512m")
    options = {
        "spark.master": master,
        "spark.app.name": app_name,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "32g"),
        "spark.ui.enabled": "false",
        "spark.python.daemon.module": "mimic2ts_spark.daemon",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # 128 MiB input splits: good default for parquet at any scale.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # Whole-stage codegen emits a class per plan; a many-query session
        # (82-query bench x 3 rounds) fills the JVM's default 240 MB
        # reserved code cache, JIT compilation stalls, and late-running
        # queries degrade ~15-40% (flagship in-session: 1.15 s default vs
        # 0.99 s with 512 MB — measured r04). Same flag matters on real
        # executors serving many queries.
        # SPARK_CODE_CACHE overrides for A/B diagnosis (r08: the 207-plan
        # session was suspected of saturating 512m — see CLAUDE.md).
        "spark.driver.extraJavaOptions": code_cache,
        "spark.executor.extraJavaOptions": code_cache,
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.config(map=options)
    if SparkContext._gateway is None:
        spark = _start(builder, SparkConf().setAll(options.items()))
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Memoized-DataFrame caches that become INVALID when storage is
# released: a plan whose lineage is truncated at a localCheckpoint
# cannot recompute once the checkpoint blocks are dropped, so any dict
# holding such plans registers here and is cleared by release_storage
# (the memo then rebuilds lazily on next use — per-query hygiene in the
# gate, shared-artifact reuse within a bench session). Driver-side ROW
# caches (PQ codebooks, coarse centroids) hold no Spark state and must
# NOT register.
_PLAN_CACHES: list[dict] = []


def register_plan_cache(cache: dict) -> dict:
    _PLAN_CACHES.append(cache)
    return cache


def release_storage(spark: SparkSession) -> None:
    """Drop every cached relation and persisted/localCheckpointed RDD.

    Several operators persist() mid-plan (pagerank edges, k-means base,
    BPE word counts, corpus stages) and the returned LAZY plan still
    references the cache, so they cannot unpersist before returning.
    Harness drivers that run many queries in one session (bench, the
    correctness gate, corpus main after its final write) call this
    between queries so cached blocks are bounded per-query instead of
    accumulating for the whole 135-query session and leaning on LRU
    eviction. Only call AFTER the query's result is materialized."""
    for cache in _PLAN_CACHES:
        cache.clear()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    rdds = jsc.getPersistentRDDs()
    it = rdds.iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)


# --- per-process temp root (VERDICT r09 #7) ----------------------------------
#
# The artifact memos (kNN graph, search indexes, postings ingest,
# classifier weights) and the sink/table fixtures each mkdtemp'd
# directly under /tmp and leaked one directory per corpus per process.
# Every repo-internal scratch dir now nests under ONE per-process root
# that an atexit hook removes — memo reuse within the process is
# unchanged (the memos key on content fingerprints / corpus paths, not
# on the dir), and a fresh process leaves nothing behind
# (tests/test_tmp_hygiene.py).

_TMP_ROOT: str | None = None


def session_tmpdir(prefix: str) -> str:
    """mkdtemp under the per-process scratch root (created lazily,
    removed at interpreter exit)."""
    import atexit
    import shutil
    import tempfile

    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="mimic2ts_spark_tmp_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_TMP_ROOT)
