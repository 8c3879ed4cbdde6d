"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the same configs (AQE, shuffle partitions,
maxPartitionBytes) are the ones that matter on a 1000-executor cluster —
they are set here once so every entry point (tests, bench, CLI, driver
harness) gets an identical, scale-aware session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "mimic2ts_spark.daemon")
        # 128 MiB input splits: good default for parquet at any scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Whole-stage codegen emits a class per plan; a many-query session
        # (82-query bench x 3 rounds) fills the JVM's default 240 MB
        # reserved code cache, JIT compilation stalls, and late-running
        # queries degrade ~15-40% (flagship in-session: 1.15 s default vs
        # 0.99 s with 512 MB — measured r04). Same flag matters on real
        # executors serving many queries.
        # SPARK_CODE_CACHE overrides for A/B diagnosis (r08: the 207-plan
        # session was suspected of saturating 512m — see CLAUDE.md).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_CODE_CACHE", "512m"),
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_CODE_CACHE", "512m"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
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
