"""The four source pipelines and the orchestrating EventsAggregator.

Each pipeline is the reference's dataflow re-expressed as ONE declarative
long-form DataFrame plan (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    scan → native scalar exprs → broadcast stay join → bucketize/clamp →
    late-drop → flat composite-key agg → dense reindex → (ffill) → zero-fill

The reference instead hash-shuffles on stay_id and runs nested Python
group-applies per stay (/root/reference/src/mimic2ts/__init__.py:213-215);
the flat agg removes the per-group memory cliff and lets AQE handle stay
skew. `BaseAggregator.aggregate()` is that plan for one source: two
shuffles (the composite-key agg and the dense reindex's per-series
collect), three with `--ffill` (its window). The stay dim is broadcast.

The CLI's CSV sink does not use the dense plan. `tagged_long_form`
unions the enabled sources' events ahead of one bucketize and one
composite-key agg, so a run shuffles its events once; the per-stay
writer fills each stay's grid while it pivots (`write_csv_sink`).
A run's first Spark job brings up the writer's Python workers. It is
started before the driver builds any DataFrame (the aggregators load the
stay dimension lazily). While it runs, the driver builds the sink plan,
which starts no Spark job (the CSV headers are read on the driver), and
starts the sink action.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic2ts_spark import sources
from mimic2ts_spark.operators.dense import dense_reindex, forward_fill, zero_fill
from mimic2ts_spark.operators.intervals import interval_instants, spread_evenly
from mimic2ts_spark.operators.time_ops import (
    bucket_index,
    clamp_floor,
    parse_epoch_seconds,
)
from mimic2ts_spark.sinks import (
    start_python_workers,
    write_empty_stay_files,
    write_stay_matrices,
)

DEFAULT_TIMESTEP = 3600  # reference CLI default (/root/reference/src/mimic2ts/__main__.py:28-33)


def _bucketize(
    events: DataFrame, stays: DataFrame, timestep_seconds: int
) -> DataFrame:
    """Broadcast stay join (J1) + bucket/clamp (E6/E7) + late-drop (P4).

    Clamp-before-drop ordering is semantic: an early event (tidx<0) is
    clamped to bucket 0, a late event (tidx>total_windows) is dropped
    (/root/reference/src/mimic2ts/__init__.py:154-165).
    """
    joined = events.join(F.broadcast(stays), "stay_id", "inner")
    bucketed = joined.withColumn(
        "tidx",
        clamp_floor(bucket_index(F.col("event_epoch"), F.col("intime"), timestep_seconds)),
    )
    return bucketed.where(F.col("tidx") <= F.col("total_windows"))


def _combine(combiner: str):  # Column
    """The bucket value of one source: the mean of its `value`s, or
    their sum with an all-NULL bucket counted as 0.0."""
    if combiner == "avg":
        return F.avg("value")
    return F.coalesce(F.sum("value"), F.lit(0.0))


def _aggregate_dense(
    bucketed: DataFrame, combiner: str, ffill: bool
) -> DataFrame:
    """Flat composite-key agg (A3) + dense reindex (J2) + fill (W1/W2).

    combiner: "avg" (chartevents, :261-262) or "sum" (the other three,
    :297-298,:376-377,:412-413). For "sum" an all-NULL group yields 0.0
    (pandas `sum` skipna semantics); for "avg" it stays NULL through the
    agg and is zero-filled at the end (pandas `mean` of all-NaN is NaN,
    then fillna(0.0) — same terminal value).
    """
    agg = bucketed.groupBy("stay_id", "feature_id", "total_windows", "tidx").agg(
        _combine(combiner).alias("value")
    )
    dense = dense_reindex(agg)
    if ffill:
        dense = forward_fill(dense)
    return zero_fill(dense).select("stay_id", "feature_id", "tidx", "value")


def _apply_id_filters(
    df: DataFrame,
    stay_ids: Sequence[int] | None,
    feature_ids: Sequence[int] | None,
) -> DataFrame:
    """IN-list filters on stay/feature (P2).

    The reference declares this filter but ships it disabled
    (/root/reference/src/mimic2ts/__init__.py:204-206 — dead code); we
    implement it for real. DIVERGENCE (documented, SURVEY.md §7 #5): with a
    feature_ids list given, features outside the list are excluded here but
    emitted by the reference. Pass None to reproduce reference behavior.
    For huge lists, swap isin for a broadcast semi-join at the call site.
    """
    if stay_ids is not None:
        df = df.where(F.col("stay_id").isin([int(s) for s in set(stay_ids)]))
    if feature_ids is not None:
        df = df.where(F.col("feature_id").isin([int(x) for x in set(feature_ids)]))
    return df


def _stay_loader(
    spark: SparkSession, mimic_path: str, timestep_seconds: int
) -> Callable[[], DataFrame]:
    """A function that builds the stay dimension (`sources.load_stays`)
    on its first call and returns that same DataFrame on every call."""
    return functools.cache(
        functools.partial(sources.load_stays, spark, mimic_path, timestep_seconds)
    )


@dataclass
class BaseAggregator:
    """One event source → long-form (stay_id, feature_id, tidx, value).

    API parity with the reference's BaseAggregator
    (/root/reference/src/mimic2ts/__init__.py:49-98) minus Dask knobs;
    `blocksize` is subsumed by spark.sql.files.maxPartitionBytes.
    """

    spark: SparkSession
    mimic_path: str
    dst_path: str
    stay_ids: Sequence[int] | None = None
    feature_ids: Sequence[int] | None = None
    timestep_seconds: int = DEFAULT_TIMESTEP
    ffill: bool = False
    name: str = "base"
    combiner: str = "avg"
    _stays: Callable[[], DataFrame] | None = field(default=None, repr=False)

    def stays(self) -> DataFrame:
        """The stay dimension, built on the first call (constructing an
        aggregator builds no DataFrame) and the same DataFrame after."""
        if self._stays is None:
            self._stays = _stay_loader(self.spark, self.mimic_path, self.timestep_seconds)
        return self._stays()

    def requested_stays(self) -> DataFrame:
        """The stay universe: explicit list, else all of icustays
        (/root/reference/src/mimic2ts/__init__.py:77-78)."""
        stays = self.stays()
        if self.stay_ids is not None:
            stays = stays.where(F.col("stay_id").isin([int(s) for s in set(self.stay_ids)]))
        return stays

    # -- subclass surface ---------------------------------------------------
    def events_long(self) -> DataFrame:
        """(stay_id, feature_id, event_epoch, value) — pre-bucket rows."""
        raise NotImplementedError

    # -- pipeline -----------------------------------------------------------
    def filtered_events(self) -> DataFrame:
        """`events_long()` with the stay and feature filters applied."""
        return _apply_id_filters(self.events_long(), self.stay_ids, self.feature_ids)

    def aggregate(self) -> DataFrame:
        """The dense long-form plan `(stay_id, feature_id, tidx, value)`,
        every tidx 0..total_windows present per (stay, feature) (lazy;
        no action triggered)."""
        bucketed = _bucketize(
            self.filtered_events(), self.requested_stays(), self.timestep_seconds
        )
        return _aggregate_dense(bucketed, self.combiner, self.ffill)

    def do_agg(self) -> None:
        """Run the plan and write the per-stay wide CSV matrices (S3/S4)."""
        write_csv_sink([self])


class ChartEventAggregator(BaseAggregator):
    """Point events, bucket-mean, value = valuenum
    (/root/reference/src/mimic2ts/__init__.py:228-262)."""

    def __init__(self, spark, mimic_path, dst_path, stay_ids=None, feature_ids=None,
                 timestep_seconds=DEFAULT_TIMESTEP, ffill=False):
        super().__init__(spark, mimic_path, dst_path, stay_ids, feature_ids,
                         timestep_seconds, ffill, name="chartevents", combiner="avg")

    def events_long(self) -> DataFrame:
        df = sources.read_mimic_csv(self.spark, self.mimic_path, "chartevents")
        return df.select(
            F.col("stay_id").cast("long").alias("stay_id"),
            F.col("itemid").cast("long").alias("feature_id"),
            parse_epoch_seconds("charttime").alias("event_epoch"),
            F.col("valuenum").cast("double").alias("value"),
        )


class OutputEventAggregator(BaseAggregator):
    """Point events, bucket-sum, value = value
    (/root/reference/src/mimic2ts/__init__.py:344-377)."""

    def __init__(self, spark, mimic_path, dst_path, stay_ids=None, feature_ids=None,
                 timestep_seconds=DEFAULT_TIMESTEP, ffill=False):
        super().__init__(spark, mimic_path, dst_path, stay_ids, feature_ids,
                         timestep_seconds, ffill, name="outputevents", combiner="sum")

    def events_long(self) -> DataFrame:
        df = sources.read_mimic_csv(self.spark, self.mimic_path, "outputevents")
        return df.select(
            F.col("stay_id").cast("long").alias("stay_id"),
            F.col("itemid").cast("long").alias("feature_id"),
            parse_epoch_seconds("charttime").alias("event_epoch"),
            F.col("value").cast("double").alias("value"),
        )


class _IntervalAggregator(BaseAggregator):
    """Shared interval pipeline: sequence + even spread + explode, then the
    point pipeline. The reference acknowledges its input/procedure
    duplication (/root/reference/src/mimic2ts/__init__.py:423 TODO); this
    class is that missing abstraction, built Spark-side.
    """

    table: str = ""

    def raw_value(self, df: DataFrame):  # Column
        raise NotImplementedError

    def events_long(self) -> DataFrame:
        df = sources.read_mimic_csv(self.spark, self.mimic_path, self.table)
        df = df.select(
            F.col("stay_id").cast("long").alias("stay_id"),
            F.col("itemid").cast("long").alias("feature_id"),
            parse_epoch_seconds("starttime").alias("start_epoch"),
            parse_epoch_seconds("endtime").alias("end_epoch"),
            self.raw_value(df).alias("raw_value"),
        )
        df = df.withColumn(
            "instants",
            interval_instants(F.col("start_epoch"), F.col("end_epoch"), self.timestep_seconds),
        )
        df = df.withColumn("value", spread_evenly(F.col("raw_value"), F.col("instants")))
        return df.select(
            "stay_id",
            "feature_id",
            F.explode("instants").alias("event_epoch"),
            "value",
        )


class InputEventAggregator(_IntervalAggregator):
    """Dosing intervals, weight-normalized, bucket-sum
    (/root/reference/src/mimic2ts/__init__.py:265-341)."""

    table = "inputevents"

    def __init__(self, spark, mimic_path, dst_path, stay_ids=None, feature_ids=None,
                 timestep_seconds=DEFAULT_TIMESTEP, ffill=False):
        super().__init__(spark, mimic_path, dst_path, stay_ids, feature_ids,
                         timestep_seconds, ffill, name="inputevents", combiner="sum")

    def raw_value(self, df: DataFrame):
        # value = amount / patientweight (:294-295)
        return F.col("amount") / F.col("patientweight")


class ProcedureEventAggregator(_IntervalAggregator):
    """Procedure intervals, bucket-sum
    (/root/reference/src/mimic2ts/__init__.py:380-457)."""

    table = "procedureevents"

    def __init__(self, spark, mimic_path, dst_path, stay_ids=None, feature_ids=None,
                 timestep_seconds=DEFAULT_TIMESTEP, ffill=False):
        super().__init__(spark, mimic_path, dst_path, stay_ids, feature_ids,
                         timestep_seconds, ffill, name="procedureevents", combiner="sum")

    def raw_value(self, df: DataFrame):
        return F.col("value").cast("double")  # :409-410


def tagged_long_form(aggregators: Sequence[BaseAggregator]) -> DataFrame:
    """The sources' SPARSE bucket aggregates as one lazy DataFrame
    `(stay_id, source, feature_id, total_windows, tidx, value, ffill)`.

    `source` is each aggregator's name. Only the observed buckets are
    present: the gaps, and an all-NULL chartevents bucket (`value` NULL),
    are filled by the writer (`sinks.write_stay_matrices`). Each row
    carries its stay's `total_windows`, the writer's grid width, and its
    source's fill policy as the constant `ffill`.

    The sources' filtered events are unioned ahead of one bucketize and
    one composite-key agg (avg for "avg" sources, else sum), so the
    events are shuffled once, map-side combined. The aggregators must
    share the requested stays and the timestep.
    """
    events = functools.reduce(
        DataFrame.unionByName,
        [agg.filtered_events().withColumn("source", F.lit(agg.name)) for agg in aggregators],
    )
    avg_sources = [agg.name for agg in aggregators if agg.combiner == "avg"]
    ffill_sources = [agg.name for agg in aggregators if agg.ffill]
    value = F.when(F.col("source").isin(avg_sources), _combine("avg")).otherwise(
        _combine("sum")
    )
    first = aggregators[0]
    return (
        _bucketize(events, first.requested_stays(), first.timestep_seconds)
        .groupBy("stay_id", "source", "feature_id", "total_windows", "tidx")
        .agg(value.alias("value"))
        .withColumn("ffill", F.col("source").isin(ffill_sources))
    )


class _Background:
    """`fn(*args)` run in a thread that inherits this thread's Spark job
    properties. The constructor returns once `fn` has been entered (or
    the thread ended before it could be, copying those properties);
    `error` is the exception `fn` raised, or None while it runs or when
    it returned."""

    def __init__(self, fn, *args):
        self.error: Exception | None = None
        entered = threading.Event()

        def run():
            entered.set()
            try:
                fn(*args)
            except Exception as e:
                self.error = e

        self._thread = InheritableThread(run)
        self._thread.start()
        while not entered.wait(0.01) and self._thread.is_alive():
            pass

    def join(self) -> None:
        self._thread.join()


def write_csv_sink(aggregators: Sequence[BaseAggregator]) -> None:
    """Write every (stay, source) CSV of the given aggregators (S3/S4):
    one grouped writer over their tagged sparse aggregate and one
    empty-stay pass. The aggregators share dst_path, the requested stays
    and the timestep.

    A thread first brings up the Python workers that the writer's tasks
    then reuse (`sinks.start_python_workers`): its job is submitted while
    the driver builds the sink plan, stay dimension included, so FIFO
    scheduling runs its `defaultParallelism` tasks ahead of the sink's,
    whose Arrow writer comes after the scan and aggregate stages. The
    sink action does not wait for it; the thread is joined after the
    action, and joined too when the sink fails, whose error then wins.
    A warm-up error is re-raised; if it came before the sink action was
    due, the action is not started, so nothing is written."""
    first = aggregators[0]
    names = tuple(agg.name for agg in aggregators)
    warm_up = _Background(start_python_workers, first.spark)
    try:
        produced = write_stay_matrices(tagged_long_form(aggregators), first.dst_path, names)
        if warm_up.error is None:
            write_empty_stay_files(first.requested_stays(), produced, first.dst_path, names)
    finally:
        warm_up.join()
    if warm_up.error is not None:
        raise warm_up.error


class EventsAggregator:
    """Top-level orchestrator mirroring the reference's EventsAggregator
    (/root/reference/src/mimic2ts/__init__.py:461-539): one aggregator per
    enabled source, all sharing one SparkSession and one stay dimension.
    `do_agg` writes every source in one sink pass (`write_csv_sink`), not
    one job chain per source. Constructing it builds no DataFrame: the
    aggregators share one stay dimension, built when a plan first needs
    it, which in `do_agg` is after the writer's Python workers have
    started coming up."""

    _CLASSES = {
        "chartevents": ChartEventAggregator,
        "inputevents": InputEventAggregator,
        "outputevents": OutputEventAggregator,
        "procedureevents": ProcedureEventAggregator,
    }
    SOURCES = tuple(_CLASSES)

    def __init__(
        self,
        spark: SparkSession,
        mimic_path: str,
        dst_path: str,
        stay_ids: Sequence[int] | None = None,
        feature_ids: Sequence[int] | None = None,
        timestep_seconds: int = DEFAULT_TIMESTEP,
        ffill: bool = False,
        chartevents: bool = True,
        inputevents: bool = True,
        outputevents: bool = True,
        procedureevents: bool = True,
    ):
        enabled = {
            "chartevents": chartevents,
            "inputevents": inputevents,
            "outputevents": outputevents,
            "procedureevents": procedureevents,
        }
        self.aggregators = [
            cls(spark, mimic_path, dst_path, stay_ids, feature_ids,
                timestep_seconds=timestep_seconds, ffill=ffill)
            for name, cls in self._CLASSES.items()
            if enabled[name]
        ]
        stays = _stay_loader(spark, mimic_path, timestep_seconds)
        for agg in self.aggregators:
            agg._stays = stays

    def do_agg(self) -> None:
        if self.aggregators:
            write_csv_sink(self.aggregators)
