"""Structured Streaming variants of the engine's bucketing semantics
(SURVEY.md §2.12 — the reference is batch-only; these are the Spark-native
streaming analogues the `events` table invites).

- Tumbling-window aggregation == the reference's E6 bucketing with
  `floor((t - epoch_hour_origin)/step)`.
- Watermark discard == the reference's P4 late-drop.
- Early-event clamp has no streaming analogue (no per-key origin in a
  stream without state); the stateful variant would use
  applyInPandasWithState keyed by stay.

`run_tumbling_available_now` drives a parquet-file stream to completion
synchronously (availableNow trigger + memory sink) so batch oracles can
check it: in complete output mode every window is emitted, making the
result equal to the equivalent batch GROUP BY.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic2ts_spark import memo
from mimic2ts_spark.session import session_tmpdir
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # physical TIMESTAMP(NANOS) → long ns
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _assert_uniform_ts_type(landing_dir: str) -> None:
    """Footer-only check (no data read) that every parquet file in the
    landing directory stores `ts` with ONE physical type. The stream's
    one-time schema inference would otherwise lock in whichever variant
    it sampled and misinterpret the rest (ADVICE r03)."""
    import glob
    import os

    import pyarrow.parquet as pq

    seen: dict[str, str] = {}
    for f in sorted(glob.glob(os.path.join(landing_dir, "*.parquet"))):
        schema = pq.read_schema(f)
        idx = schema.get_field_index("ts")
        if idx >= 0:
            seen[str(schema.field(idx).type)] = os.path.basename(f)
    if len(seen) > 1:
        raise ValueError(
            f"mixed `ts` parquet types in {landing_dir}: {seen} — "
            "rewrite the odd files to one timestamp type before streaming"
        )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet.

    The file stream source requires a *directory* to monitor; the testdata
    ships a single file, so it is exposed through a symlinked staging dir
    (a real deployment points this at the landing directory).

    `ts` physical type is NOT assumed: the batch reader infers the actual
    schema over the staged directory (TIMESTAMP(MICROS) reads as a
    timestamp directly; legacy TIMESTAMP(NANOS) reads as long under
    `nanosAsLong` and is rebuilt to a microsecond timestamp with integer
    `div` — the same branch the batch loader `harness._t` takes, so
    stream and oracle always agree). Either way the column is finally
    cast to TIMESTAMP (with local time zone): Spark 4 infers
    no-timezone parquet timestamps as TIMESTAMP_NTZ, and event-time
    watermarks (`withWatermark`) reject NTZ with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE. The session time zone is
    pinned to UTC (session.py:45), so NTZ → LTZ is value-preserving.

    Because the schema is inferred ONCE over the directory, a landing
    dir that mixes TIMESTAMP(MICROS) and legacy TIMESTAMP(NANOS) files
    would silently misread whichever variant lost the inference — so
    `_assert_uniform_ts_type` footer-checks every parquet file up front
    and raises instead."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    stage = session_tmpdir(prefix="events_stream_")
    os.symlink(path, f"{stage}/events.parquet")
    _assert_uniform_ts_type(stage)
    schema = spark.read.parquet(stage).schema
    raw = spark.readStream.schema(schema).parquet(stage)
    if isinstance(schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_agg(stream: DataFrame, scale: int = 100) -> DataFrame:
    """1-hour tumbling windows per event_type: exact integer-cents sum +
    count (same cross-engine-exact arithmetic as the batch harness)."""
    return (
        stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * scale, 0).cast("long")).alias("cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            (F.col("cents").cast("double") / scale).alias("sum_value"),
            "n_events",
        )
    )


def run_tumbling_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stream to completion; return the final (static) result."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        tumbling_agg(events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SLIDE_WINDOW = "2 hours"
SLIDE_STEP = "1 hour"
SLIDE_DELAY_SECONDS = 600


def sliding_agg(stream: DataFrame, scale: int = 100) -> DataFrame:
    """Sliding 2h windows every 1h with a 10-minute watermark, per
    event_type — each event lands in exactly two hour-aligned windows.
    Append mode + watermark is the REAL late-data contract (unlike the
    tumbling query's complete mode): a window only emits once the
    watermark (max event time - delay) passes its end, so the final
    trailing windows never emit — exactly reproducible in batch as
    `window_end <= max(ts) - delay` (the q_stream_sliding oracle)."""
    return (
        stream.withWatermark("ts", f"{SLIDE_DELAY_SECONDS} seconds")
        .groupBy(F.window("ts", SLIDE_WINDOW, SLIDE_STEP).alias("w"), "event_type")
        .agg(
            F.sum(F.round(F.col("value") * scale, 0).cast("long")).alias("cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            (F.col("cents").cast("double") / scale).alias("sum_value"),
            "n_events",
        )
    )


def run_sliding_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the sliding-window stream to completion in APPEND mode: the
    availableNow trigger drains the file source, then the engine's
    no-data batch advances the watermark to max(ts) - delay and flushes
    every closed window; windows still open at that point are correctly
    withheld (late-data semantics, mirrored by the batch oracle)."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        sliding_agg(events_stream(spark, sf_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


DEDUP_DELAY_SECONDS = 600


def dedup_stream(stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: at most one row per (user, event_type,
    hour) via dropDuplicatesWithinWatermark — state for a key is held
    only until the watermark passes it (bounded state, unlike plain
    dropDuplicates whose key set grows forever). Only the KEY columns
    are emitted: which duplicate arrives first is race-dependent, the
    key set is not — that keeps the drained result deterministic and
    equal to the batch SELECT DISTINCT."""
    return (
        stream.withWatermark("ts", f"{DEDUP_DELAY_SECONDS} seconds")
        .select(
            "user_id",
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_start"),
            "ts",
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "hour_start"])
        .select("user_id", "event_type", "hour_start")
    )


def run_dedup_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_stream(events_stream(spark, sf_dir))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SESSION_GAP_SECONDS = 1800

_SESSION_OUT = (
    "user_id long, session_start long, session_end long, "
    "n_events long, sum_value double"
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("start", T.LongType()),
        T.StructField("last", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def sessionize_stream(
    stream: DataFrame, gap_seconds: int = SESSION_GAP_SECONDS, scale: int = 100
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessionization per user — the operator Spark's built-in
    session_window can't express once you need arbitrary per-session
    accumulators or emission policy.

    State per user = the one OPEN session (start, last-event, count,
    integer-cents sum). Each batch merges its rows (sorted by event time)
    into the open session; sessions emit exactly once — when a gap closes
    them, or when a processing-time timeout fires after the stream drains
    (no duplicate emission in append mode, unlike emit-per-batch
    snapshots). Batch equivalent: the classic gaps-and-islands window
    query, which is the DuckDB oracle for q_stream_sessionize.

    Scale: state size is O(active users), one row each; the shuffle is
    the single groupBy(user_id); Arrow batches the per-key rows.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            if state.exists:
                s, last, n, cents = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [uid],
                        "session_start": [s],
                        "session_end": [last],
                        "n_events": [n],
                        "sum_value": [cents / float(scale)],
                    }
                )
            return
        rows = pd.concat(list(pdfs)).sort_values("sec")
        cur = list(state.get) if state.exists else None
        closed = []
        for sec, c in zip(rows["sec"], rows["cents"]):
            sec, c = int(sec), int(c)
            if cur is None:
                cur = [sec, sec, 1, c]
            elif sec - cur[1] <= gap_seconds:
                cur[1] = sec
                cur[2] += 1
                cur[3] += c
            else:
                closed.append((uid, cur[0], cur[1], cur[2], cur[3] / float(scale)))
                cur = [sec, sec, 1, c]
        state.update(tuple(cur))
        state.setTimeoutDuration(1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=[
                    "user_id", "session_start", "session_end", "n_events", "sum_value",
                ],
            )

    prepped = stream.select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        F.round(F.col("value") * scale, 0).cast("long").alias("cents"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        fn, _SESSION_OUT, _SESSION_STATE, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def _drain_stateful(
    spark: SparkSession,
    streaming_df: DataFrame,
    name: str,
    timeout_seconds: float = 300.0,
) -> DataFrame:
    """Start an append-mode memory sink and run until the source is
    exhausted AND the state store is empty (every open session flushed by
    its timeout) — the well-defined completion point for a stateful
    stream; availableNow alone stops at 'no more input', which would drop
    still-open state.

    Completion protocol (race-free, scanned over `recentProgress` so a
    fast batch cadence cannot hide ticks from a slower poller). Done
    requires ALL of, on a completed batch's progress:
    1. some earlier batch actually consumed input (`numInputRows > 0`)
       — an idle tick before the source listing can never look "done";
    2. no source reports a backlog (`latestOffset == endOffset`);
    3. the state operator reports ZERO live rows — every open session
       was flushed by its processing-time timeout and committed to the
       sink before that batch's progress was published. A tick with no
       state-operator entry counts as not-done, never as done.
    On deadline expiry this RAISES instead of returning a silently
    incomplete table. (`processAllAvailable()` is NOT usable here: with
    processing-time timeouts pending, the engine keeps constructing
    no-data batches and the call never observes quiescence — measured
    minutes of churn on a one-file source.)"""
    import time

    q = (
        streaming_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )

    def _backlog(p: dict) -> bool:
        # offsets arrive stringified; sources that don't report a latest
        # offset (the file source renders it as "None") can't be backlog-
        # checked — rely on the zero-state condition alone for those
        for s in p.get("sources", []):
            lo, eo = s.get("latestOffset"), s.get("endOffset")
            if lo in (None, "None") or eo in (None, "None"):
                continue
            if lo != eo:
                return True
        return False

    try:
        deadline = time.time() + timeout_seconds
        seen_input = False
        while True:
            progresses = q.recentProgress
            seen_input = seen_input or any(
                p.get("numInputRows", 0) > 0 for p in progresses
            )
            latest = progresses[-1] if progresses else None
            ops = (latest or {}).get("stateOperators") or []
            if (
                seen_input
                and ops
                and ops[0].get("numRowsTotal", -1) == 0
                and not _backlog(latest)
            ):
                break
            if time.time() > deadline:
                raise TimeoutError(
                    f"stateful stream {name!r} did not drain within "
                    f"{timeout_seconds}s; seen_input={seen_input} "
                    f"lastProgress={latest}"
                )
            time.sleep(0.2)
    finally:
        q.stop()
    q.awaitTermination()
    return spark.table(name)


def run_sessionize_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize the events stream and drain it to a static result."""
    name = f"sessions_{uuid.uuid4().hex[:8]}"
    return _drain_stateful(spark, sessionize_stream(events_stream(spark, sf_dir)), name)


# --- streaming early-clamp bucket aggregation (SURVEY §2.12 completion) ----

_CLAMP_OUT = (
    "user_id long, event_type string, tidx long, mean_value double, n_events long"
)
_CLAMP_STATE = T.StructType(
    [
        T.StructField("etypes", T.ArrayType(T.StringType())),
        T.StructField("tidxs", T.ArrayType(T.LongType())),
        T.StructField("cents", T.ArrayType(T.LongType())),
        T.StructField("ns", T.ArrayType(T.LongType())),
    ]
)


def clamped_bucket_stream(
    stream: DataFrame, stays: DataFrame, timestep: int = 3600, scale: int = 100
) -> DataFrame:
    """Streaming form of the reference's per-stay clamp semantics
    (/root/reference/src/mimic2ts/__init__.py:154-165: E6 bucket, E7
    early-clamp to bucket 0, P4 late-drop) + the A3 bucket MEAN, keyed by
    stay:

    - the stay dimension is a STATIC DataFrame broadcast into the stream
      (stream-static join — the J1 analogue; per-key origins can't come
      from the stream itself causally);
    - clamp/bucket/late-drop are native Column expressions on the joined
      stream (no state needed for row-local semantics);
    - the per-(stay, feature, bucket) mean accumulates in
      applyInPandasWithState as integer cents + counts (order-independent,
      so the incremental result is bit-equal to the batch GROUP BY),
      emitted exactly once per stay when the drain timeout closes it.

    Scale: state is O(active stays × features × buckets-per-stay) — the
    same cardinality the batch aggregation's hash table holds; one
    shuffle on user_id; Arrow batches per key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mimic2ts_spark.operators.time_ops import (
        bucket_index,
        clamp_floor,
        epoch_seconds,
    )

    joined = stream.join(F.broadcast(stays), "user_id")
    b = joined.withColumn(
        "tidx", clamp_floor(bucket_index(epoch_seconds("ts"), F.col("intime"), timestep))
    ).where(F.col("tidx") <= F.col("total_windows"))
    prepped = b.select(
        "user_id",
        "event_type",
        "tidx",
        F.round(F.col("value") * scale, 0).cast("long").alias("c"),
    )

    def fn(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            if state.exists:
                et, ti, ce, ns = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": uid,
                        "event_type": list(et),
                        "tidx": list(ti),
                        "mean_value": [
                            c / float(n * scale) for c, n in zip(ce, ns)
                        ],
                        "n_events": list(ns),
                    }
                )
            return
        cells: dict[tuple[str, int], list[int]] = {}
        if state.exists:
            et, ti, ce, ns = state.get
            for e, t, c, n in zip(et, ti, ce, ns):
                cells[(e, int(t))] = [int(c), int(n)]
        rows = pd.concat(list(pdfs))
        for e, t, c in zip(rows["event_type"], rows["tidx"], rows["c"]):
            cur = cells.setdefault((e, int(t)), [0, 0])
            cur[0] += int(c)
            cur[1] += 1
        keys = sorted(cells)
        state.update(
            (
                [k[0] for k in keys],
                [k[1] for k in keys],
                [cells[k][0] for k in keys],
                [cells[k][1] for k in keys],
            )
        )
        state.setTimeoutDuration(1000)

    return prepped.groupBy("user_id").applyInPandasWithState(
        fn, _CLAMP_OUT, _CLAMP_STATE, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def run_clamped_bucket_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-clamp the events table and drain to a static result equal to
    the batch q_agg_mean_bucket."""
    from mimic2ts_spark import harness  # lazy: harness imports harness_ext

    name = f"clamp_{uuid.uuid4().hex[:8]}"
    stays = harness.derived_stays(spark, sf_dir)
    return _drain_stateful(
        spark, clamped_bucket_stream(events_stream(spark, sf_dir), stays), name
    )


# --- streaming ingest-time dedup gate --------------------------------------


def docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (staged directory,
    like events_stream)."""
    import os

    stage = session_tmpdir(prefix="docs_stream_")
    os.symlink(f"{sf_dir}/documents.parquet", f"{stage}/documents.parquet")
    schema = spark.read.parquet(stage).schema
    return spark.readStream.schema(schema).parquet(stage)


def incremental_dedup_stream(
    new_docs: DataFrame, corpus: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Ingest-time near-dup gate: a STREAM of incoming documents checked
    against the STATIC accepted corpus — the streaming form of
    `dedup.incremental_ngram_pairs`, emitting the same (doc_new,
    doc_old, jaccard) pairs. All per-row work (tokenize, shingle-hash,
    sorted prefix) is narrow Column math on the microbatch; candidates
    come from a stream-static equi-join of prefix postings against the
    corpus's persisted posting index (built once, reused by every
    batch); `dropDuplicates` collapses multi-code candidate hits
    (keyed state — bounded by the emitted pair set, and drained
    one-shot under availableNow).

    Scale: the static posting index is the corpus-side state a real
    ingest gate maintains; each microbatch shuffles only the DELTA's
    prefix postings. Exactness: same AllPairs prefix + length-filter
    superset + exact verify as the batch operator, so the drained
    result equals the batch query (the DuckDB oracle)."""
    from mimic2ts_spark.operators.dedup import (
        SHINGLE_N,
        _jaccard_from_distinct,
        tokens,
        with_shingle_codes,
    )
    from mimic2ts_spark.operators.spread import ensure_parallelism

    def codes_of(df: DataFrame) -> DataFrame:
        return with_shingle_codes(
            df.select("doc_id", "text").where(
                F.size(tokens(F.col("text"))) >= SHINGLE_N
            ),
            out="_sc",
        ).select(
            "doc_id", F.array_sort(F.array_distinct(F.col("_sc"))).alias("codes")
        )

    def postings(df: DataFrame) -> DataFrame:
        prefix_len = (
            F.size("codes") - F.ceil(F.lit(threshold) * F.size("codes")) + 1
        )
        return df.select(
            "doc_id",
            F.size("codes").alias("n"),
            "codes",
            F.explode(F.slice(F.col("codes"), 1, prefix_len)).alias("code"),
        )

    corpus_idx = postings(codes_of(ensure_parallelism(corpus))).select(
        F.col("doc_id").alias("doc_old"), F.col("n").alias("n_b"),
        F.col("codes").alias("codes_b"), "code",
    ).persist()
    new_idx = postings(codes_of(new_docs)).select(
        F.col("doc_id").alias("doc_new"), F.col("n").alias("n_a"),
        F.col("codes").alias("codes_a"), "code",
    )
    length_ok = F.least("n_a", "n_b") >= F.ceil(
        F.lit(threshold) * F.greatest("n_a", "n_b")
    )
    cand = (
        new_idx.join(corpus_idx, "code")
        .where(length_ok)
        .dropDuplicates(["doc_new", "doc_old"])
    )
    return (
        cand.withColumn(
            "jaccard", _jaccard_from_distinct(F.col("codes_a"), F.col("codes_b"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_new", "doc_old", "jaccard")
    )


def run_incremental_dedup_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the doc_id%10==0 shard against the static remainder-corpus
    and drain the pair stream to its static result."""
    name = f"incdedup_{uuid.uuid4().hex[:8]}"
    corpus = memo.read_parquet(spark, f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") % 10 != 0
    )
    stream_new = docs_stream(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    q = (
        incremental_dedup_stream(stream_new, corpus)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


JOIN_LOOKBACK = "1 hour"
JOIN_DELAY = "10 minutes"


def attribution_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Stream-stream interval join: every (click, purchase) pair of the
    same user where the click happened within JOIN_LOOKBACK before (or
    at) the purchase — the classic attribution join. Both sides carry a
    watermark so the join state is BOUNDED: a buffered click can be
    evicted once the purchase-side watermark passes click.ts +
    lookback; without the time-range predicate the state would be
    all-clicks-ever. Inner join ⇒ drained output equals the batch join
    (watermarks only bound state/lateness, they never add rows)."""
    c = (
        clicks.withWatermark("ts", JOIN_DELAY)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", JOIN_DELAY)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {JOIN_LOOKBACK}")),
        "inner",
    )
    return joined.select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_timestamp("p_ts").alias("purchase_ts_s"),
        F.unix_timestamp("c_ts").alias("click_ts_s"),
        "purchase_value",
    )


def run_attribution_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split one event stream into clicks/purchases and drain the
    stream-stream join to its static result."""
    name = f"attr_{uuid.uuid4().hex[:8]}"
    ev = events_stream(spark, sf_dir)
    q = (
        attribution_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- streaming KMV distinct-count sketch -----------------------------------

_KMV_OUT = "event_type string, n_kept long, kth_code long, est_distinct double"
_KMV_STATE = T.StructType([T.StructField("codes", T.ArrayType(T.LongType()))])


def kmv_stream(stream: DataFrame, k: int = None) -> DataFrame:
    """Streaming KMV cardinality sketch per event_type
    (applyInPandasWithState): the state is EXACTLY the sketch — the <=k
    smallest distinct md5-derived codes — so updates are a sorted-merge
    truncation and the result is order- and batching-independent: the
    drained stream bit-equals batch operators/sketch.py:kmv_sketch
    (which is the DuckDB oracle). The code column is computed JVM-side
    BEFORE the stateful operator; Python only merges int arrays.

    Scale: O(k) state per group, one shuffle on the group key; this is
    the sketch production streams keep per tenant/metric for live
    distinct counts — and states from disjoint streams union by the
    same min-k merge (mergeability is the KMV contract)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mimic2ts_spark.operators.sketch import CODE_SPACE, KMV_K

    if k is None:
        k = KMV_K

    def fn(key, pdfs, state):
        et = key[0]
        if state.hasTimedOut:
            if state.exists:
                codes = sorted(state.get[0])
                state.remove()
                n = len(codes)
                kth = codes[-1]
                est = (
                    float(n)
                    if n < k
                    else float(k - 1) / (float(kth) / CODE_SPACE)
                )
                yield pd.DataFrame(
                    {
                        "event_type": [et],
                        "n_kept": [n],
                        "kth_code": [kth],
                        "est_distinct": [est],
                    }
                )
            return
        new = pd.concat(list(pdfs))["code"].to_numpy()
        old = np.array(state.get[0], dtype=np.int64) if state.exists else np.array([], dtype=np.int64)
        merged = np.unique(np.concatenate([old, new]))[:k]
        state.update(([int(x) for x in merged],))
        state.setTimeoutDuration(1000)
        return
        yield  # pragma: no cover — make fn a generator on the update path

    from mimic2ts_spark.operators.sketch import kmv_code

    prepped = stream.select(
        "event_type", kmv_code(F.col("user_id")).alias("code")
    )
    return prepped.groupBy("event_type").applyInPandasWithState(
        fn, _KMV_OUT, _KMV_STATE, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def run_kmv_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming KMV sketch to its final static sketch rows."""
    name = f"kmv_{uuid.uuid4().hex[:8]}"
    return _drain_stateful(spark, kmv_stream(events_stream(spark, sf_dir)), name)


# --- streaming Count-Min sketch (X155: frequency side of X137's KMV) --------

# A stream cannot derive the counter width from a vocabulary it hasn't
# seen yet, so streaming sketches are sized A PRIORI (capacity planning)
# — unlike the batch form, whose width derives from the exact vocab.
# The CMS estimate contract (upper bound, zero false negatives on the
# estimate-side support filter) holds at ANY width, so an undersized
# stream sketch degrades to overcounts, never to misses.
CMS_STREAM_WIDTH = 1 << 16


def cms_stream(stream: DataFrame) -> DataFrame:
    """Streaming Count-Min counters over the event user stream.

    Counters are ADDITIVE — a plain complete-mode groupBy((j, bucket))
    count, no custom state function: absorbing a microbatch is addition,
    so the drained stream state bit-equals the batch counter table
    (operators/sketch.cms_counters at the same width) under ANY
    batching — the mergeable-sketch property, which also makes this the
    multi-ingestor shape (parallel streams' counter tables merge by
    summing cnt on (j, bucket))."""
    from mimic2ts_spark.operators.sketch import cms_buckets

    probes = stream.select(
        F.posexplode(
            cms_buckets(F.col("user_id"), CMS_STREAM_WIDTH)
        ).alias("j", "bucket")
    )
    return probes.groupBy("j", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def run_cms_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming CMS to its final counter table."""
    name = f"cms_{uuid.uuid4().hex[:8]}"
    q = (
        cms_stream(events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def ddq_stream(stream: DataFrame) -> DataFrame:
    """Streaming log-bucket quantile counters (X165's live form) over
    per-type value-cents: like the CMS, the state is ADDITIVE counters,
    so a plain complete-mode groupBy((event_type, bucket)) count is the
    whole stateful operator and the drained table bit-equals the batch
    ddq_counters under ANY batching — live latency/size percentile
    monitoring from O(16*log2(max)) rows per group."""
    from mimic2ts_spark.operators.sketch import ddq_bucket_sql

    cents = "CAST(round(value * 100, 0) AS BIGINT)"
    b = ddq_bucket_sql(cents, "spark")
    return stream.groupBy(
        "event_type", F.expr(b).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))


def run_ddq_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming quantile sketch to its final counter table."""
    name = f"ddq_{uuid.uuid4().hex[:8]}"
    q = (
        ddq_stream(events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# --- streaming incremental rollup (X91's stream form) -----------------------

_ROLLUP_OUT = (
    "user_id long, event_type string, n long, sum_cents long, mean double"
)
_ROLLUP_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("cents", T.LongType())]
)


def rollup_stream(stream: DataFrame) -> DataFrame:
    """Streaming incremental per-key rollup (applyInPandasWithState):
    the state is EXACTLY operators/incremental.py's mergeable
    (count, integer-cents) partial, so absorbing a batch is addition —
    order- and batching-independent — and the drained stream bit-equals
    the batch full recompute (q_incremental_agg's oracle). This is the
    live form of the nightly state-merge cadence: the same state rows a
    batch job would persist, maintained continuously."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        uid, et = key
        if state.hasTimedOut:
            if state.exists:
                n, cents = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [uid],
                        "event_type": [et],
                        "n": [n],
                        "sum_cents": [cents],
                        "mean": [cents / 100.0 / n],
                    }
                )
            return
        add_n, add_c = 0, 0
        for pdf in pdfs:
            add_n += len(pdf)
            add_c += int(pdf["cents"].sum())
        n, cents = state.get if state.exists else (0, 0)
        state.update((n + add_n, cents + add_c))
        state.setTimeoutDuration(1000)
        return
        yield  # pragma: no cover

    prepped = stream.select(
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    return prepped.groupBy("user_id", "event_type").applyInPandasWithState(
        fn, _ROLLUP_OUT, _ROLLUP_STATE, "append", GroupStateTimeout.ProcessingTimeTimeout
    )


def run_rollup_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming rollup to its final state rows."""
    name = f"rollup_{uuid.uuid4().hex[:8]}"
    return _drain_stateful(spark, rollup_stream(events_stream(spark, sf_dir)), name)


def quality_gate_stream(stream: DataFrame) -> DataFrame:
    """Live admission control: the batch quality gate's EXACT rule set
    (harness_ext.quality_flagged — shared expressions, not a copy)
    applied to the event stream and aggregated per rule. Complete-mode
    aggregation: the per-rule counters are the state a production
    ingest monitor keeps, updated per microbatch; the drained result
    bit-equals the batch gate, so the registry entry shares the batch
    oracle SQL."""
    from mimic2ts_spark.harness_ext import (  # lazy: harness_ext imports us
        quality_flagged,
        quality_report,
    )

    return quality_report(
        quality_flagged(stream.select("user_id", "event_type", "value", "ts"))
    )


def run_quality_gate_available_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the streaming quality gate to its final per-rule counts."""
    name = f"qgate_{uuid.uuid4().hex[:8]}"
    q = (
        quality_gate_stream(events_stream(spark, sf_dir))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_merge_sink_available_now(
    spark: SparkSession, sf_dir: str, base_path: str
) -> DataFrame:
    """Streaming MERGE sink — the canonical lakehouse ingest pattern:
    a document stream drains through foreachBatch, each microbatch
    applied to the bucket-partitioned base via the partition-pruned
    upsert (operators/merge.py). Batching cannot change the result:
    update keys are unique, so any microbatch split applies the same
    per-key writes — the final table equals the one-shot batch MERGE
    (the oracle). Returns the final table."""
    from mimic2ts_spark.operators.merge import merge_upsert

    stream_updates = docs_stream(spark, sf_dir).where(
        F.col("doc_id") % 7 == 0
    ).withColumn("text", F.concat(F.col("text"), F.lit(" v2"))).withColumn(
        "n_chars", F.col("n_chars") + 3
    )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_upsert(spark, base_path, batch_df, "doc_id")

    q = (
        stream_updates.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(base_path)


def run_versioned_sink_available_now(
    spark: SparkSession, sf_dir: str, table_path: str
) -> DataFrame:
    """Streaming ingest with ATOMIC commits: each microbatch lands as a
    committed VERSION of the manifest table (operators/versioned.py) —
    the streaming writer a lakehouse actually runs: readers only ever
    see fully-committed versions (a crash mid-batch leaves the last
    commit intact, unlike the in-place dynamic-overwrite sink), and the
    ingest history is time-travelable per batch. Unique update keys
    make the final state batching-invariant, so this shares the batch
    MERGE oracle. Returns the final committed table.

    Drain-contract audit (VERDICT r08 #8): the final STATE is the
    hash-gated part; the version CADENCE (one committed version per
    microbatch) is inherently batching-DEPENDENT — the version count
    varies with trigger batching — so it is pinned by pytest
    (atomicity + per-batch history), not upgradable to an oracle."""
    from mimic2ts_spark.operators.versioned import merge_versioned, read_table

    stream_updates = docs_stream(spark, sf_dir).where(
        F.col("doc_id") % 7 == 0
    ).withColumn("text", F.concat(F.col("text"), F.lit(" v2"))).withColumn(
        "n_chars", F.col("n_chars") + 3
    )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_versioned(spark, table_path, batch_df, "doc_id")

    q = (
        stream_updates.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_table(spark, table_path)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (staged directory,
    like docs_stream)."""
    import os

    stage = session_tmpdir(prefix="embs_stream_")
    os.symlink(f"{sf_dir}/embeddings.parquet", f"{stage}/embeddings.parquet")
    schema = spark.read.parquet(stage).schema
    return spark.readStream.schema(schema).parquet(stage)


def sq8_stats_stream(stream: DataFrame) -> DataFrame:
    """Streaming SQ8 quantizer calibration (X214 — the live form of
    `maintain sq8-stats`): per-dim lo/hi over the quantized int grid as
    vectors arrive. min/max are MERGEABLE (monotone combine), so a
    plain complete-mode groupBy(dim) agg is the whole stateful operator
    — 64 rows of state regardless of stream volume — and the drained
    table is a pure function of the final vector set: bit-equal to the
    batch sq8_int_stats under ANY batching (the X204 drain-contract
    doctrine; maxFilesPerTrigger pytest re-proves invariance). This is
    how the int8 serving tier tracks a growing corpus: recalibrate from
    live state, re-encode on the artifact cadence."""
    from mimic2ts_spark.operators.kmeans import quantize

    rows = stream.select(
        F.posexplode(quantize(F.col("embedding"))).alias("dim", "v")
    )
    return rows.groupBy("dim").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )


def run_sq8_stats_available_now(
    spark: SparkSession, sf_dir: str, stream: DataFrame | None = None
) -> DataFrame:
    """Drain the streaming quantizer calibration to its final table."""
    name = f"sq8st_{uuid.uuid4().hex[:8]}"
    q = (
        sq8_stats_stream(
            stream if stream is not None else embeddings_stream(spark, sf_dir)
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def run_ann_ingest_available_now(
    spark: SparkSession, sf_dir: str, postings_dir: str
) -> DataFrame:
    """Streaming ANN index ingest — the streaming form of the X146
    delta-cadence contract (and of `maintain ivf-append`): the delta
    stream (vec_id % 10 == 0) drains through foreachBatch, each
    microbatch assigned against the coarse cells trained ONCE on the
    accepted corpus (vec_id % 10 != 0; the memoized sample-bounded
    artifact) and appended to the postings — the index grows while
    queries keep reading committed postings. Assignment is per-ROW
    against fixed centroids, so any microbatch split appends the same
    rows: the drained postings equal the one-shot batch assignment and
    the entry shares q_ann_incremental's oracle verbatim."""
    from mimic2ts_spark.operators.kmeans import train_coarse
    from mimic2ts_spark.operators.similarity import assign_vectors, derived_cells

    base = memo.read_parquet(spark, f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") % 10 != 0
    )
    n = base.count()
    cents = train_coarse(base, derived_cells(n), cache_key=sf_dir + ":ivf_base", n=n)

    delta = embeddings_stream(spark, sf_dir).where(F.col("vec_id") % 10 == 0)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        assign_vectors(batch_df, cents).write.mode("append").parquet(postings_dir)

    q = (
        delta.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(postings_dir)


def run_knn_ingest_available_now(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Streaming graph-ANN ingest (X194) — the streaming form of the
    X184 insertion contract: the k-NN graph artifact builds ONCE on the
    accepted corpus (vec_id % 10 != 0), then the delta stream
    (vec_id % 10 == 0) drains through foreachBatch, each microbatch
    inserted by beam-search + reverse adoption (append_knn_artifact) —
    the graph grows while readers keep serving the committed artifact.

    Unlike the IVF form (per-row assignment against FIXED centroids —
    batching-invariant, oracle-shared), graph insertion consults the
    graph AS OF its batch, so the result depends on microbatch
    boundaries: the contract is the X184 QUALITY pin (recall within
    margin of a from-scratch build), not a hash. With availableNow over
    the single staged file the drain is one microbatch and equals one
    direct append (pinned in tests/test_maintain_cli.py)."""
    from mimic2ts_spark.operators.knn import (
        append_knn_artifact,
        build_knn_artifact,
    )

    base = memo.read_parquet(spark, f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") % 10 != 0
    )
    build_knn_artifact(spark, out_dir, base)

    delta = embeddings_stream(spark, sf_dir).where(F.col("vec_id") % 10 == 0)

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_knn_artifact(spark, out_dir, batch_df)

    q = (
        delta.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(f"{out_dir}/graph")


def run_postings_ingest_available_now(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    query_terms: tuple,
    delta_stream: DataFrame | None = None,
) -> DataFrame:
    """Streaming search-index ingest (X204) — the streaming form of
    `maintain postings-append`, completing the search family's
    streaming story the way X194 did the graph's: the BM25 inverted
    index builds ONCE on the accepted corpus (doc_id % 10 != 0), then
    the delta doc stream (doc_id % 10 == 0) drains through
    foreachBatch — each microbatch appends its (term, doc_id, tf, dl)
    rows and ADDS its {n_docs, sum_dl} to the maintained stats (df is
    recomputed from the postings at read time, so appends need no df
    reconciliation — the maintain contract verbatim).

    Unlike X194 (graph insertion consults the graph AS OF its batch →
    quality pin only), BM25 scoring is a PURE function of the final
    (postings, stats) state and postings/stats are batching-invariant
    additive sets, so the drained index serves bit-equal to full
    corpus-scan scoring over ALL docs — the DuckDB oracle is full
    scoring and the gate HASH re-proves the ingest lossless per run."""
    from mimic2ts_spark.operators.search import (
        bm25_from_postings,
        build_postings,
        corpus_stats,
    )

    data_dir = f"{out_dir}/postings"
    par = spark.sparkContext.defaultParallelism
    base = docs_stream_base(spark, sf_dir).where(F.col("doc_id") % 10 != 0)
    (
        build_postings(base)
        .repartition(par, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(data_dir)
    )
    stats = corpus_stats(base)

    delta = (
        delta_stream
        if delta_stream is not None
        else docs_stream(spark, sf_dir).where(F.col("doc_id") % 10 == 0)
    )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        d = corpus_stats(batch_df)
        build_postings(batch_df).repartition(par, "term").sortWithinPartitions(
            "term", "doc_id"
        ).write.mode("append").parquet(data_dir)
        stats["n_docs"] += d["n_docs"]
        stats["sum_dl"] += d["sum_dl"]

    q = (
        delta.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return bm25_from_postings(spark, data_dir, stats, query_terms)


def run_classifier_available_now(
    spark: SparkSession,
    sf_dir: str,
    weights_dir: str,
    out_dir: str,
    delta_stream: DataFrame | None = None,
) -> DataFrame:
    """Streaming model-apply gate (X210): score every arriving doc with
    the persisted hashed-linear classifier (`maintain
    classifier-weights` — the X208 artifact) and append the scored rows
    — the score-on-ingest shape every production curation pipeline runs
    (the model is FIXED during serving; retraining writes a new
    artifact). Each doc is scored independently against the same dense
    weight table, so the drained output is a pure per-row function of
    the final doc set — batching-invariant by construction — and
    bit-equals the batch apply over the full corpus, whose SQL is the
    oracle (the X204 drain-contract doctrine: prefer state designs that
    are pure functions of the final set)."""
    from mimic2ts_spark.operators.text import classifier_scores

    w = spark.read.parquet(weights_dir)
    # the bucketing dimension is a property of the ARTIFACT, not a code
    # constant: `maintain classifier-weights --dim N` can persist any N,
    # and hashing tokens mod a different dim than the weight table covers
    # silently drops (or mis-weights) tokens through the inner join —
    # wrong scores, no error (ADVICE r09). The table is DENSE by the
    # build contract (one row per bucket 0..dim-1), so count() IS dim;
    # one bounded driver-side action before the stream starts.
    dim = w.count()

    delta = (
        delta_stream if delta_stream is not None else docs_stream(spark, sf_dir)
    )

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        classifier_scores(batch_df, dim=dim, weights=w).write.mode(
            "append"
        ).parquet(out_dir)

    q = (
        delta.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def docs_stream_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch view of the documents table (the accepted-corpus side of
    the ingest splits)."""
    return memo.read_parquet(spark, f"{sf_dir}/documents.parquet")


def run_bq_ingest_available_now(
    spark: SparkSession,
    out_dir: str,
    stream: DataFrame,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming BQ index ingest (X220 — the live form of `maintain
    bq-codes-append`): each microbatch packs its vectors to the 8-byte
    sign codes and appends them to the artifact via append_bq_artifact.
    The pack is a STATELESS row-local projection — the strongest case
    of the X204 drain contract: the drained codes table is a pure
    function of the final vector set under ANY batching, and artifact
    serving after the drain bit-equals a from-scratch rebuild
    (pytest-pinned with maxFilesPerTrigger=1). No watermark, no state
    store — the whole operator is a projection plus the artifact's
    append discipline (single-writer, like every maintained table).

    REDELIVERY-SAFE (ADVICE r11): foreachBatch gives at-least-once
    delivery on restart, so append_bq_artifact enforces the NEW-ids
    contract itself — already-stored ids are anti-joined away before
    the append (pytest: a replayed batch appends 0 rows and serving is
    unchanged). Pass checkpoint_dir to ALSO skip committed batches at
    the source on restart (cheaper than re-packing + anti-joining a
    replayed batch; correctness never depends on it)."""
    from mimic2ts_spark.operators.pq import append_bq_artifact

    totals = {"batches": 0, "rows": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        audit = append_bq_artifact(spark, out_dir, batch_df)
        totals["batches"] += 1
        totals["rows"] += audit["delta"]

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return dict(totals)


def run_sq8_ingest_available_now(
    spark: SparkSession,
    out_dir: str,
    stream: DataFrame,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming SQ8 codes ingest (X226 — the live form of `maintain
    sq8-codes-append`): each microbatch encodes its vectors against the
    artifact's FROZEN quantizer stats (trained state is fixed during
    serving — the X210/X223 shape; retraining writes a new artifact)
    and appends via append_sq8_artifact. Encoding under fixed stats is
    a pure per-row function, so the drained codes table is a pure
    function of the final vector set under ANY batching (the X204
    drain contract, strong form) and serving after the drain bit-equals
    a from-scratch encode under the same stats (pytest-pinned with
    maxFilesPerTrigger=1). Redelivery-safe: stored ids anti-join away
    inside the shared append."""
    from mimic2ts_spark.operators.pq import append_sq8_artifact

    totals = {"batches": 0, "rows": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit = append_sq8_artifact(spark, out_dir, batch_df)
        totals["batches"] += 1
        totals["rows"] += audit["delta"]

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return dict(totals)


def run_pq_ingest_available_now(
    spark: SparkSession,
    out_dir: str,
    stream: DataFrame,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming PQ codes ingest (X230 — the live form of `maintain
    pq-codes-append`): each microbatch encodes against the artifact's
    FROZEN codebooks and appends via append_pq_artifact. Encoding under
    fixed books is a pure per-row function — the X204 drain contract in
    strong form: the drained codes table is a pure function of the
    final vector set under ANY batching, and ADC serving after the
    drain bit-equals a one-shot encode under the same books
    (pytest-pinned with maxFilesPerTrigger=1). Redelivery-safe: stored
    ids anti-join away inside the shared append."""
    from mimic2ts_spark.operators.pq import append_pq_artifact

    totals = {"batches": 0, "rows": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit = append_pq_artifact(spark, out_dir, batch_df)
        totals["batches"] += 1
        totals["rows"] += audit["delta"]

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return dict(totals)


def run_ivfpq_ingest_available_now(
    spark: SparkSession,
    out_dir: str,
    stream: DataFrame,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming IVF-PQ codes ingest (X231 — the live form of `maintain
    ivfpq-codes-append`): each microbatch encodes against the
    artifact's FROZEN coarse centroids + residual codebooks and appends
    via append_ivfpq_artifact. Encoding under fixed state is a pure
    per-row function — the X204 drain contract in strong form: the
    drained codes table is a pure function of the final vector set
    under ANY batching, and artifact serving after the drain bit-equals
    a one-shot build-encode under the same state (pytest-pinned).
    Redelivery-safe: stored ids anti-join away inside the shared
    append."""
    from mimic2ts_spark.operators.pq import append_ivfpq_artifact

    totals = {"batches": 0, "rows": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit = append_ivfpq_artifact(spark, out_dir, batch_df)
        totals["batches"] += 1
        totals["rows"] += audit["delta"]

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return dict(totals)


def run_ivf_ingest_available_now(
    spark: SparkSession,
    out_dir: str,
    stream: DataFrame,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming IVF postings ingest (X223 — the live form of `maintain
    ivf-append`): each microbatch assigns its vectors against the
    artifact's LOADED cells (the trained state is FIXED during serving
    — the X210 classifier-apply shape; retraining writes a new
    artifact) and appends (vec_id, cid, d) rows under the
    cid-partitioned postings layout via append_ivf_artifact. Cell
    assignment is a pure per-row function of the fixed cells, so the
    drained postings are a pure function of the final vector set under
    ANY batching — the X204 drain contract in its strong form — and
    serving after the drain bit-equals a from-scratch assignment
    (pytest-pinned with maxFilesPerTrigger=1). Redelivery-safe like the
    BQ ingest: stored ids anti-join away inside the shared append."""
    from mimic2ts_spark.operators.similarity import append_ivf_artifact

    totals = {"batches": 0, "rows": 0}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        audit = append_ivf_artifact(spark, out_dir, batch_df)
        totals["batches"] += 1
        totals["rows"] += audit["n_delta"]

    writer = stream.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    return dict(totals)
