"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM; the same configs (AQE, shuffle partitions,
maxPartitionBytes) are the ones that matter on a 1000-executor cluster —
they are set here once so every entry point (tests, bench, CLI, driver
harness) gets an identical, scale-aware session.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import threading
import time
import uuid

from py4j.protocol import Py4JError
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.java_gateway import launch_gateway
from pyspark.sql import SparkSession

# Wall seconds of the latest fresh session start in this process, by
# phase: "cds_check" (settling the class-data-sharing cache before the
# launch), "gateway" (JVM launch), "context" (the JavaSparkContext),
# "session" (the JVM SparkSession), "join" (waiting for the warm-ups
# after the session is built) and "warm_up.<name>" for each warm-up that
# finished without error. A call that reuses a session records nothing.
START_SECONDS: dict[str, float] = {}

# What the latest fresh session start in this process did about
# class-data sharing: "mapped" (the driver JVM was launched with this
# machine's archive for its key), "dumping" (it writes one as it exits)
# or "off:<reason>" (launched as without CDS).
CDS_STATE = "off:no_fresh_start"

# Environment variables whose entries Spark's launcher adds to the
# driver class path. A non-empty directory on it makes the dump fail.
_CLASS_PATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "mimic2ts_spark", "cds")


def _java() -> str | None:
    """The `java` that Spark's launcher runs."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


def _cds_key(java: str, spark_home: str, heap: str) -> str:
    """The JDK, Spark's jars (names, sizes, mtimes) and the `-Xmx` value:
    `32g` turns compressed oops off, which changes the archive."""
    from mimic2ts_spark.memo import fingerprint  # memo imports this module

    java = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    parts = (heap, java, *map(fingerprint, (java, libjvm, os.path.join(spark_home, "jars"))))
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _archive_ok(java: str, archive: str, dumped: dict) -> bool:
    """Whether a JVM with the dumping JVM's class path and heap flags maps
    `archive` whole. A truncated archive kills the JVM that maps it
    (SIGBUS), so this runs in its own JVM, with no crash file left."""
    crash_log = archive + ".hs_err"
    try:
        return subprocess.run(
            [java, *dumped["jvm_options"], "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             "-XX:-CreateCoredumpOnCrash", f"-XX:ErrorFile={crash_log}",
             "-cp", dumped["class_path"], "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=120,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        with contextlib.suppress(OSError):
            os.remove(crash_log)


def _settle_archives(cache: str, key: str, java: str) -> None:
    """Promote or remove every tmp archive of `key` whose writer is gone.

    A dump is `<key>.<pid>-<id>.tmp`, next to `<key>.<pid>-<id>.json`
    (the dumping JVM's pid, class path and heap flags; `<pid>` is the
    Python process's, the writer until the JSON exists). A dead writer's
    tmp file becomes `<key>.jsa` by rename when there is none yet and it
    passes `_archive_ok`; otherwise it is removed, as is its JSON."""
    tokens = {
        name.rsplit(".", 1)[0]
        for name in os.listdir(cache)
        if name.startswith(key + ".") and name.endswith((".tmp", ".json"))
    }
    final = os.path.join(cache, key + ".jsa")
    for token in sorted(tokens):
        tmp = os.path.join(cache, token + ".tmp")
        sidecar = os.path.join(cache, token + ".json")
        try:
            with open(sidecar) as f:
                dumped = json.load(f)
            writer = int(dumped["pid"])
        except (OSError, ValueError, KeyError, TypeError):
            dumped, writer = None, token[len(key) + 1 :].split("-")[0]
            writer = int(writer) if writer.isdigit() else None
        if writer and _alive(writer):
            continue
        if (dumped and os.path.exists(tmp) and not os.path.exists(final)
                and _archive_ok(java, tmp, dumped)):
            os.replace(tmp, final)
        for path in (tmp, sidecar):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)


def _cds_off_reason(spark_home: str, options: dict[str, str]) -> str | None:
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return "gateway_port"
    if os.environ.get("SPARK_CONF_DIR"):
        return "spark_conf_dir"
    conf_dir = os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return "spark_conf"
    if options.get("spark.driver.extraClassPath") or any(map(os.environ.get, _CLASS_PATH_ENV)):
        return "class_path"
    return None if _java() else "no_java"


def _cds_launch(options: dict[str, str]) -> tuple[dict[str, str], str | None]:
    """The environment overrides for launching the gateway, and the tmp
    archive the JVM dumps to (None unless dumping); sets `CDS_STATE`."""
    global CDS_STATE
    spark_home = _find_spark_home()
    java = _java()
    cache = _cds_dir()
    # Spark's conf dir is on the driver class path; a non-empty directory
    # there (Spark's own conf/, even with only *.template files) makes the
    # dump fail. An empty one in the cache keeps the class path the same
    # for every checkout.
    empty_conf = os.path.join(cache, "conf")
    try:
        reason = _cds_off_reason(spark_home, options)
        if not reason:
            os.makedirs(empty_conf, exist_ok=True)
            key = _cds_key(java, spark_home, options["spark.driver.memory"])
            _settle_archives(cache, key, java)
    except OSError:
        reason = "cache_error"
    if reason:
        CDS_STATE = f"off:{reason}"
        return {}, None
    final = os.path.join(cache, key + ".jsa")
    if os.path.exists(final):
        CDS_STATE, dump_to = "mapped", None
        flags = [f"-XX:SharedArchiveFile={final}", "-Xshare:auto"]
    else:
        CDS_STATE = "dumping"
        dump_to = os.path.join(cache, f"{key}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp")
        flags = [f"-XX:ArchiveClassesAtExit={dump_to}"]
    # The JVM logs CDS warnings (one per class it cannot archive) to stdout.
    flags.append("-Xlog:cds*=off")
    submit_opts = [os.environ.get("SPARK_SUBMIT_OPTS", ""), *map(_quote_option, flags)]
    return {"SPARK_CONF_DIR": empty_conf, "SPARK_SUBMIT_OPTS": " ".join(submit_opts).strip()}, dump_to


def _quote_option(option: str) -> str:
    """One option in the quoting that Spark's launcher parses."""
    return '"' + option.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _record_dump(dump_to: str, jvm, options: dict[str, str]) -> None:
    """Write the JSON `_settle_archives` reads next to a dump's tmp file."""
    dumped = {
        "pid": jvm.java.lang.ProcessHandle.current().pid(),
        "class_path": jvm.java.lang.System.getProperty("java.class.path"),
        "jvm_options": [
            "-Xmx" + options["spark.driver.memory"],
            *shlex.split(options.get("spark.driver.extraJavaOptions", "")),
        ],
    }
    with open(dump_to[: -len(".tmp")] + ".json", "w") as f:
        json.dump(dumped, f)


@contextlib.contextmanager
def _environ(overrides: dict[str, str]):
    saved = {k: os.environ.get(k) for k in overrides}
    os.environ.update(overrides)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


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


def _start(builder: SparkSession.Builder, options: dict[str, str]) -> SparkSession:
    """A fresh session: the gateway (with class-data sharing when it
    applies), then the context while the warm-ups run on helper threads,
    then the session; the helpers are joined before return."""
    START_SECONDS.clear()
    conf = SparkConf().setAll(options.items())
    t_check = time.perf_counter()
    env, dump_to = _cds_launch(options)
    t0 = time.perf_counter()
    with _environ(env):
        gateway = launch_gateway(conf)
    if dump_to:
        with contextlib.suppress(OSError, Py4JError):
            _record_dump(dump_to, gateway.jvm, options)
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
        cds_check=round(t0 - t_check, 3),
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

    A fresh start also gives the driver JVM a dynamic AppCDS archive
    (the JDK's application class-data sharing): the ~13k Spark classes
    a start loads are then mapped from one file instead of being read
    from jars, parsed and verified (`get_spark` 4.9-6.1 s -> 3.0-3.9 s
    over 6 interleaved fresh starts on 4 cores). The archives live
    outside the checkout, in `$XDG_CACHE_HOME/mimic2ts_spark/cds/`
    (`~/.cache/...` when unset), one of ~150 MB per key: the JDK,
    Spark's jars and the driver's `-Xmx`. The first start for a key
    runs with `-XX:ArchiveClassesAtExit`, so its JVM spends ~10 s more
    at exit writing a tmp file (`python -m mimic2ts_spark` waits for
    it). The next start checks that file in a separate
    `java -Xshare:on ... -version` and renames it into place, or
    removes it (`cds_check` in `START_SECONDS`). Later starts map it
    with `-Xshare:auto`, which starts without it if the JVM rejects it.
    The flags and an empty `SPARK_CONF_DIR` (a directory in the cache:
    Spark's conf dir is on the class path, and a non-empty one there
    stops the dump) reach the launch through the environment, which is
    restored afterwards. CDS is skipped, with the environment left as
    it is, when `SPARK_CONF_DIR` or `PYSPARK_GATEWAY_PORT` is set, when
    `$SPARK_HOME/conf` holds anything but `*.template` files (a real
    `spark-defaults.conf` is never dropped), or when the class path has
    extra entries. `CDS_STATE` says which case the latest fresh start
    was. `rm -rf ~/.cache/mimic2ts_spark` clears the cache.
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
        spark = _start(builder, options)
    else:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_and_wait(spark: SparkSession) -> None:
    """Stop `spark` and wait up to two minutes for its JVM to exit. A JVM
    that dumps a class-data archive writes it as it exits (~10 s)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        with contextlib.suppress(subprocess.TimeoutExpired):
            proc.wait(120)


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
