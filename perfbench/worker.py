"""One benchmark repetition in a fresh process.

    python3 perfbench/worker.py CONFIG.json

Starts the Spark session the way the CLI does, runs the workload's
product step (the CLI, `python -m mimic2ts_spark SRC DST`, called
in-process through `mimic2ts_spark.__main__.main`) and then its consumer
step (the `d_items` catalog plus one `SampleDataset` pass over every
stay; skipped with `"read": false`). Every time is taken here, around
the program's public functions; the program itself is not changed. With
`"setup_only": true` it only starts the session.

With `"trace": true` the worker also wraps the layer functions, tags
every Spark job with its layer (`sc.setJobGroup`), counts jobs and tasks
through `sc.statusTracker()`, turns on the Spark event log, and after
the product and consumer steps runs one probe per layer that the CLI
does not time on its own: typed scan, noop compute, the long-form
parquet sink and its `load_long` reader. The dense row count is read
from the parquet footers afterwards, not counted by another job.

The result is written as JSON to the path in the config. Before exiting
the worker stops Spark and waits for the JVM, so the parent's `wait4`
sees the CPU time and peak memory of the whole process tree.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

from mimic2ts_spark import dataset, pipeline, session, sinks, sources, torch_dataset
from mimic2ts_spark import __main__ as cli

SOURCES = tuple(dataset.DEFAULT_SOURCES)


class Tracer:
    """Layer spans and job-group tags, kept in memory until the end."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.groups: list[str] = []
        self.phase = "product"

    def span(self, layer: str, key: str, fn, *args, **kwargs):
        group = f"{layer}.{key}"
        self.groups.append(group)
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            self.groups.pop()
            outer = self.groups[-1] if self.groups else "bench"
            self.sc.setJobGroup(outer, outer)
            self.spans.append({"layer": layer, "key": key, "s": dt, "phase": self.phase})

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def install(self) -> None:
        """Wrap the layer functions the CLI and the reader call."""
        tracer = self

        def wrap(mod, name, layer, key_of):
            orig = getattr(mod, name)

            @functools.wraps(orig)
            def wrapped(*args, **kwargs):
                return tracer.span(layer, key_of(*args, **kwargs), orig, *args, **kwargs)

            setattr(mod, name, wrapped)

        wrap(sources, "read_mimic_csv", "sources.header", lambda spark, path, table: table)
        wrap(pipeline, "write_stay_matrices", "sinks.csv", lambda df, dst, name: name)
        wrap(pipeline, "write_empty_stay_files", "sinks.csv", lambda r, p, dst, name: name)
        wrap(torch_dataset, "load_stay_matrix", "dataset.load_stay_matrix",
             lambda *a, **k: "stay")
        orig_aggregate = pipeline.BaseAggregator.aggregate

        def aggregate(agg):
            return tracer.span("pipeline.plan_build", agg.name, orig_aggregate, agg)

        pipeline.BaseAggregator.aggregate = aggregate


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _probes(spark, tracer: Tracer, cfg: dict) -> dict:
    """One call per layer that the product step does not isolate."""
    from pyspark.sql import functions as F

    tracer.phase = "probe"
    out: dict = {}
    src, pq_dst = cfg["src"], cfg["parquet_dst"]
    aggs = pipeline.EventsAggregator(
        spark, src, pq_dst, ffill="--ffill" in cfg["cli_args"]
    ).aggregators
    for agg in aggs:
        name = agg.name
        df = sources.read_mimic_csv(spark, src, name)
        tracer.span("sources.scan", name, _noop, df)
        out[f"pipeline.events_rows.{name}"] = agg.events_long().count()
        long_df = agg.aggregate()
        tracer.span("pipeline.compute", name, _noop, long_df)
        jobs, tasks = tracer.jobs_and_tasks(f"pipeline.compute.{name}")
        out[f"pipeline.jobs.{name}"] = jobs
        out[f"pipeline.tasks.{name}"] = tasks
        tracer.span("sinks.parquet", name, sinks.write_long_parquet, long_df, pq_dst, name)
    tracer.span("dataset.load_long_scan", "all",
                lambda: [_noop(dataset.load_long(spark, pq_dst, s)) for s in SOURCES])
    lookups = []
    for stay_id, source in cfg["lookups"]:
        pdf = tracer.span(
            "dataset.load_long_lookup", "stay",
            lambda s=stay_id, n=source: dataset.load_long(spark, pq_dst, n)
            .where(F.col("stay_id") == s).toPandas(),
        )
        lookups.append({"stay_id": stay_id, "source": source,
                        "rows": pdf.sort_values(["feature_id", "tidx"]).values.tolist()})
    out["lookups"] = lookups
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    trace = cfg["trace"]
    extra = None
    if trace:
        os.makedirs(cfg["eventlog_dir"], exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(cfg["eventlog_dir"]),
            "spark.eventLog.compress": "false",
        }
    t0 = time.perf_counter()
    spark = session.get_spark("mimic2ts_spark_cli", extra_conf=extra)
    t_ready = time.time()
    result = {"t_ready": t_ready, "get_spark_s": time.perf_counter() - t0}
    if cfg.get("setup_only"):
        with open(cfg["result"], "w") as f:
            json.dump(result, f)
        # nothing of this process is measured after set-up: skip the stop
        proc = spark.sparkContext._gateway.proc
        proc.kill()
        proc.wait()
        os._exit(0)
    sc = spark.sparkContext
    tracer = Tracer(sc)
    if trace:
        tracer.install()
        sc.setJobGroup("bench", "bench")

    t0 = time.perf_counter()
    cli.main([cfg["src"], cfg["dst"], *cfg["cli_args"]])
    result["write_s"] = time.perf_counter() - t0

    if cfg["read"]:
        tracer.phase = "read"
        labels = dataset_labels(cfg["stay_ids"])
        t0 = time.perf_counter()
        catalog = tracer.span("dataset.feature_catalog", "d_items",
                              dataset.load_feature_catalog, spark, cfg["src"])
        ds = torch_dataset.SampleDataset(labels, cfg["dst"], feature_ids=catalog)
        summary = {}
        for i in range(len(ds)):
            x, _ = ds[i]
            summary[ds.stay_ids[i]] = [x.shape[0], x.shape[1], float(x.sum())]
        result["read_s"] = time.perf_counter() - t0
        result["reader"] = {"catalog": len(catalog), "stays": summary}

    if trace:
        result["probes"] = _probes(spark, tracer, cfg)
        result["spans"] = tracer.spans
        result["sink_jobs"] = {
            s: tracer.jobs_and_tasks(f"sinks.csv.{s}")[0] for s in SOURCES
        }
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    shutdown(spark)


def dataset_labels(stay_ids: list[int]):
    import pandas as pd

    return pd.DataFrame({"label": [0.0] * len(stay_ids)}, index=stay_ids)


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    main()
