"""Driver-contract harness queries (SURVEY.md §2 inventory → testdata).

Each entry pairs a Spark DataFrame implementation (built from the engine's
operator modules) with an equivalent ANSI-SQL oracle that DuckDB runs on
the same parquet tables. The driver hash-compares values order-insensitively
after sorting columns by name (TESTDATA.md) — so every computed column is
aliased identically on both sides.

Cross-engine float determinism: row-level float expressions (one cast /
one division / one multiply) are bit-identical between Spark and DuckDB,
so they are emitted raw. AGGREGATED floats are NOT (summation order
differs), so every sum/avg here is computed as an exact integer sum of
`round(x * SCALE)` longs, divided back at the end — order-independent and
bit-identical on both engines. DuckDB's BIGINT sum widens to HUGEINT, so
oracles cast back before the final division.

The `events` table plays the chartevents role (TESTDATA.md): user_id ≈
stay_id, event_type ≈ itemid, ts ≈ charttime, value ≈ valuenum. The stay
dimension is derived per user with intime = min(ts)+2h and outtime =
max(ts)-1h so the clamp (E7) and late-drop (P4) paths both fire on real
rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mimic2ts_spark import memo
from mimic2ts_spark.session import session_tmpdir

from mimic2ts_spark.operators.dense import dense_reindex, forward_fill, zero_fill
from mimic2ts_spark.operators.intervals import interval_instants, spread_evenly
from mimic2ts_spark.operators.time_ops import (
    bucket_index,
    clamp_floor,
    epoch_seconds,
    total_windows,
)

H = 3600
SCALE = 100  # testdata carries 2-decimal values/prices


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet loader, memoized per (session, file content) by
    memo.plan (a lazy plan only; no data is cached)."""
    return memo.plan(spark, f"{sf_dir}/{name}.parquet", _read_t)


def _read_t(spark: SparkSession, path: str) -> DataFrame:
    """The testdata `events.ts` column is physical TIMESTAMP(NANOS),
    which vanilla Spark rejects (PARQUET_TYPE_ILLEGAL): read it as raw
    nanos and rebuild a microsecond timestamp — integer `div` keeps full
    precision (ns values overflow double's 2^53), and µs truncation
    matches how DuckDB reads the same file, so oracles agree on every
    derived time value."""
    df = memo.read_parquet(spark, path)
    if path.endswith("/events.parquet") and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _sum_exact(col: Column, alias: str, scale: int = SCALE) -> F.Column:
    """Order-independent sum: integer-cents sum, divided back to double."""
    s = F.sum(F.round(col * scale, 0).cast("long"))
    return (s.cast("double") / F.lit(float(scale))).alias(alias)


def _avg_exact(col: Column, alias: str, scale: int = SCALE) -> F.Column:
    s = F.sum(F.round(col * scale, 0).cast("long"))
    n = F.count(col)
    return (s.cast("double") / (n * scale).cast("double")).alias(alias)


# ({x}) is parenthesized: compound expressions must bind before the
# cents scaling, or `a - b * {s}` silently scales only the last term
_SQL_SUM = "CAST(CAST(sum(CAST(round(({x}) * {s}) AS BIGINT)) AS BIGINT) AS DOUBLE) / {s}.0"
_SQL_AVG = (
    "CAST(CAST(sum(CAST(round(({x}) * {s}) AS BIGINT)) AS BIGINT) AS DOUBLE)"
    " / CAST(count({c}) * {s} AS DOUBLE)"
)


def sql_sum_exact(x: str, scale: int = SCALE) -> str:
    return _SQL_SUM.format(x=x, s=scale)


def sql_avg_exact(x: str, count_col: str, scale: int = SCALE) -> str:
    return _SQL_AVG.format(x=x, s=scale, c=count_col)


# --- derived stay dimension over `events` ----------------------------------

_STAYS_SQL = f"""
stays AS (
    SELECT user_id,
           CAST(min(floor(epoch(ts))) AS BIGINT) + 7200 AS intime,
           CAST(max(floor(epoch(ts))) AS BIGINT) - 3600 AS outtime
    FROM events GROUP BY user_id
),
stays2 AS (
    SELECT user_id, intime, outtime,
           CAST(floor((outtime - intime) / {H}.0) AS BIGINT) AS total_windows
    FROM stays
)"""

_BUCKETED_SQL = f"""
WITH {_STAYS_SQL},
bucketed_raw AS (
    SELECT e.event_id, e.user_id, e.event_type, e.value, s.total_windows,
           GREATEST(0, CAST(floor((CAST(floor(epoch(e.ts)) AS BIGINT) - s.intime) / {H}.0) AS BIGINT)) AS tidx
    FROM events e JOIN stays2 s ON e.user_id = s.user_id
),
bucketed AS (
    SELECT * FROM bucketed_raw WHERE tidx <= total_windows
)"""


def derived_stays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user stay window (J1 dim): intime = min+2h, outtime = max-1h."""
    ev = _t(spark, sf_dir, "events")
    st = ev.groupBy("user_id").agg(
        (F.min(epoch_seconds("ts")) + 7200).alias("intime"),
        (F.max(epoch_seconds("ts")) - 3600).alias("outtime"),
    )
    return st.withColumn("total_windows", total_windows(F.col("outtime"), F.col("intime"), H))


def bucketed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events ⋈ broadcast(stays) → clamp(E7) ∘ bucket(E6), late-drop (P4)."""
    ev = _t(spark, sf_dir, "events").withColumn("event_epoch", epoch_seconds("ts"))
    st = derived_stays(spark, sf_dir)
    joined = ev.join(F.broadcast(st), "user_id")
    b = joined.withColumn(
        "tidx", clamp_floor(bucket_index(F.col("event_epoch"), F.col("intime"), H))
    )
    return b.where(F.col("tidx") <= F.col("total_windows"))


# --- queries ---------------------------------------------------------------


def q_scan_project(spark, sf_dir):
    """S1+P1+E2/E3: typed scan, projection, casts."""
    return _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("value").cast("double").alias("value")
    )


Q_SCAN_PROJECT_SQL = "SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value FROM events"


def q_filter_isin(spark, sf_dir):
    """P2+P5: IN-list + non-null/non-zero predicates."""
    return (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isin([1, 2, 3, 5, 8, 13, 21]))
        .where(F.col("value").isNotNull() & (F.col("value") != 0.0))
        .select("event_id", "user_id", "event_type", "value")
    )


Q_FILTER_ISIN_SQL = """
SELECT event_id, user_id, event_type, value FROM events
WHERE user_id IN (1, 2, 3, 5, 8, 13, 21) AND value IS NOT NULL AND value <> 0.0
"""


def q_filter_anti(spark, sf_dir):
    """P3/J3/U2: anti-join — customers with no high-value order (the
    filtered right side keeps the result nonempty at every sf)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


Q_FILTER_ANTI_SQL = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE NOT EXISTS (
    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
)
"""


def q_epoch_parse(spark, sf_dir):
    """E1: timestamp → floored epoch seconds."""
    return _t(spark, sf_dir, "events").select(
        "event_id", epoch_seconds("ts").alias("epoch_s")
    )


Q_EPOCH_PARSE_SQL = "SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events"


def q_value_parse(spark, sf_dir):
    """E3/E4/E5: row-level value derivations (weight-norm analogue:
    extendedprice/quantity). Single fp ops — bit-identical cross-engine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


Q_VALUE_PARSE_SQL = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice / l_quantity AS unit_price,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
"""


def q_window_clamp(spark, sf_dir):
    """E6+E7+P4 end-to-end on the derived stay windows."""
    return bucketed_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "tidx", "total_windows"
    )


Q_WINDOW_CLAMP_SQL = (
    _BUCKETED_SQL
    + "\nSELECT event_id, user_id, event_type, tidx, total_windows FROM bucketed"
)


def q_join_broadcast(spark, sf_dir):
    """J1: chained broadcast hash joins over the dim tables."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


Q_JOIN_BROADCAST_SQL = """
SELECT c_custkey, c_name, n_name, r_name
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
"""


def q_agg_mean_bucket(spark, sf_dir):
    """A3 (chartevents combiner): per-bucket mean."""
    return bucketed_events(spark, sf_dir).groupBy("user_id", "event_type", "tidx").agg(
        _avg_exact(F.col("value"), "mean_value"), F.count("value").alias("n_events")
    )


Q_AGG_MEAN_BUCKET_SQL = _BUCKETED_SQL + f"""
SELECT user_id, event_type, tidx,
       {sql_avg_exact('value', 'value')} AS mean_value,
       count(value) AS n_events
FROM bucketed GROUP BY user_id, event_type, tidx
"""


def q_agg_sum_bucket(spark, sf_dir):
    """A3 (input/output/procedure combiner): per-bucket sum."""
    return bucketed_events(spark, sf_dir).groupBy("user_id", "event_type", "tidx").agg(
        _sum_exact(F.col("value"), "sum_value")
    )


Q_AGG_SUM_BUCKET_SQL = _BUCKETED_SQL + f"""
SELECT user_id, event_type, tidx, {sql_sum_exact('value')} AS sum_value
FROM bucketed GROUP BY user_id, event_type, tidx
"""


def q_agg_oracle_totals(spark, sf_dir):
    """A4/A5: whole-series totals (the reference's conservation oracles)."""
    return _t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        _avg_exact(F.col("value"), "mean_value"),
        _sum_exact(F.col("value"), "sum_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q_AGG_ORACLE_TOTALS_SQL = f"""
SELECT user_id, event_type,
       {sql_avg_exact('value', 'value')} AS mean_value,
       {sql_sum_exact('value')} AS sum_value,
       count(*) AS n_events
FROM events GROUP BY user_id, event_type
"""


def q_distinct(spark, sf_dir):
    """A6: distinct."""
    return _t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


Q_DISTINCT_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def q_dense_reindex(spark, sf_dir):
    """J2+W2: dense bucket domain with zero-fill (sum combiner)."""
    agg = (
        bucketed_events(spark, sf_dir)
        .where(F.col("user_id") < 8)
        .groupBy("user_id", "event_type", "total_windows", "tidx")
        .agg(_sum_exact(F.col("value"), "value"))
    )
    dense = dense_reindex(agg, key_cols=("user_id", "event_type"))
    return zero_fill(dense).select("user_id", "event_type", "tidx", "value")


Q_DENSE_REINDEX_SQL = _BUCKETED_SQL + f""",
agg AS (
    SELECT user_id, event_type, total_windows, tidx,
           {sql_sum_exact('value')} AS value
    FROM bucketed WHERE user_id < 8
    GROUP BY user_id, event_type, total_windows, tidx
),
dense AS (
    SELECT user_id, event_type,
           unnest(generate_series(0, total_windows)) AS tidx
    FROM (SELECT DISTINCT user_id, event_type, total_windows FROM agg)
)
SELECT d.user_id, d.event_type, d.tidx, COALESCE(a.value, 0.0) AS value
FROM dense d LEFT JOIN agg a
  ON d.user_id = a.user_id AND d.event_type = a.event_type AND d.tidx = a.tidx
"""


def q_ffill_window(spark, sf_dir):
    """W1+W2: dense domain, forward-fill, then zero-fill (mean combiner)."""
    agg = (
        bucketed_events(spark, sf_dir)
        .where(F.col("user_id") < 8)
        .groupBy("user_id", "event_type", "total_windows", "tidx")
        .agg(_avg_exact(F.col("value"), "value"))
    )
    dense = dense_reindex(agg, key_cols=("user_id", "event_type"))
    filled = forward_fill(dense, key_cols=("user_id", "event_type"))
    return zero_fill(filled).select("user_id", "event_type", "tidx", "value")


Q_FFILL_WINDOW_SQL = _BUCKETED_SQL + f""",
agg AS (
    SELECT user_id, event_type, total_windows, tidx,
           {sql_avg_exact('value', 'value')} AS value
    FROM bucketed WHERE user_id < 8
    GROUP BY user_id, event_type, total_windows, tidx
),
dense AS (
    SELECT user_id, event_type,
           unnest(generate_series(0, total_windows)) AS tidx
    FROM (SELECT DISTINCT user_id, event_type, total_windows FROM agg)
),
joined AS (
    SELECT d.user_id, d.event_type, d.tidx, a.value
    FROM dense d LEFT JOIN agg a
      ON d.user_id = a.user_id AND d.event_type = a.event_type AND d.tidx = a.tidx
)
SELECT user_id, event_type, tidx,
       COALESCE(
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY user_id, event_type ORDER BY tidx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         0.0) AS value
FROM joined
"""


def q_interval_explode(spark, sf_dir):
    """I1+I2+E9: synthesize an interval per event (duration = value
    minutes), generate touched instants with Python-range semantics,
    spread the value evenly, explode."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        epoch_seconds("ts").alias("start_epoch"),
        (epoch_seconds("ts") + F.floor(F.col("value") * 60).cast("long")).alias("end_epoch"),
    )
    ev = ev.withColumn(
        "instants", interval_instants(F.col("start_epoch"), F.col("end_epoch"), H)
    )
    ev = ev.withColumn("spread_value", spread_evenly(F.col("value"), F.col("instants")))
    return ev.select(
        "event_id", "user_id", F.explode("instants").alias("instant"), "spread_value"
    )


Q_INTERVAL_EXPLODE_SQL = f"""
WITH iv AS (
    SELECT event_id, user_id, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS start_epoch,
           CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value * 60) AS BIGINT) AS end_epoch
    FROM events
),
seq AS (
    SELECT event_id, user_id, value,
           generate_series(start_epoch, end_epoch + {H - 1}, {H}) AS instants
    FROM iv
)
SELECT event_id, user_id, unnest(instants) AS instant,
       value / len(instants) AS spread_value
FROM seq
"""


def q_union(spark, sf_dir):
    """U1: unionByName of two source projections."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "value")
    b = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "value")
    return a.unionByName(b)


Q_UNION_SQL = """
SELECT event_id, user_id, value FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, user_id, value FROM events WHERE event_type = 'view'
"""


def q_sort(spark, sf_dir):
    """W3 + limit: total order on a unique key, top 100."""
    return (
        _t(spark, sf_dir, "events")
        .orderBy("user_id", "event_id")
        .select("event_id", "user_id", "event_type", "value")
        .limit(100)
    )


Q_SORT_SQL = """
SELECT event_id, user_id, event_type, value FROM events
ORDER BY user_id, event_id LIMIT 100
"""


def q_pivot_wide(spark, sf_dir):
    """R1: long → wide (hour-of-day columns, static pivot values)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 5)
    ev = ev.withColumn("hod", F.hour("ts").cast("long")).withColumn(
        "cents", F.round(F.col("value") * SCALE, 0).cast("long")
    )
    wide = ev.groupBy("user_id").pivot("hod", list(range(24))).sum("cents")
    out = wide.select(
        "user_id",
        *[
            (F.coalesce(F.col(str(h)), F.lit(0)).cast("double") / SCALE).alias(f"h{h}")
            for h in range(24)
        ],
    )
    return out


Q_PIVOT_WIDE_SQL = (
    "SELECT user_id, "
    + ", ".join(
        "CAST(COALESCE(CAST(sum(CASE WHEN CAST(hour(ts) AS BIGINT) = {h} "
        "THEN CAST(round(value * {s}) AS BIGINT) END) AS BIGINT), 0) AS DOUBLE) / {s} AS h{h}".format(
            h=h, s=SCALE
        )
        for h in range(24)
    )
    + " FROM events WHERE user_id < 5 GROUP BY user_id"
)


def q_sink_partitioned(spark, sf_dir):
    """S3: partitioned sink through Spark's commit protocol, read back.

    The read-back IS q_agg_sum_bucket's result, so that query's SQL is
    the oracle — the round-trip through the partitioned layout must be
    lossless. Partition-column values are directory strings on disk;
    cast back to long so the read-back schema equals the pre-write one."""

    out = session_tmpdir(prefix="sink_partitioned_")
    agg = q_agg_sum_bucket(spark, sf_dir)
    agg.write.mode("overwrite").partitionBy("user_id").parquet(out)
    return spark.read.parquet(out).withColumn(
        "user_id", F.col("user_id").cast("long")
    )


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: wide agg over lineitem (pricing summary)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_exact(F.col("l_quantity"), "sum_qty"),
            _sum_exact(F.col("l_extendedprice"), "sum_base_price"),
            _sum_exact(disc, "sum_disc_price", scale=10000),
            _avg_exact(F.col("l_quantity"), "avg_qty"),
            _avg_exact(F.col("l_extendedprice"), "avg_price"),
            _avg_exact(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q_TPCH_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {sql_sum_exact('l_quantity')} AS sum_qty,
       {sql_sum_exact('l_extendedprice')} AS sum_base_price,
       {sql_sum_exact('l_extendedprice * (1 - l_discount)', 10000)} AS sum_disc_price,
       {sql_avg_exact('l_quantity', 'l_quantity')} AS avg_qty,
       {sql_avg_exact('l_extendedprice', 'l_extendedprice')} AS avg_price,
       {sql_avg_exact('l_discount', 'l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape: multi-way join, broadcast dims, grouped revenue.

    Broadcast hints only on the truly fixed-size dims (nation=25,
    region=5 rows at every SF). `customer` is fact-scale (grows with SF),
    so it carries NO hint: AQE's size-based planning broadcasts it at
    small SF and falls back to a shuffle join when it outgrows the
    threshold — a forced broadcast would OOM executors at 100×."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_exact(rev, "revenue", scale=10000))
    )


Q_TPCH_Q5_SQL = f"""
SELECT n_name, {sql_sum_exact('l_extendedprice * (1 - l_discount)', 10000)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_agg_salted(spark, sf_dir):
    """Skew-resistant two-stage sum over a tiny hot key domain
    (event_type): identical result to the direct groupBy — which is
    exactly what the oracle runs."""
    from mimic2ts_spark.operators.skew import salted_sum_exact

    ev = _t(spark, sf_dir, "events")
    return salted_sum_exact(
        ev,
        keys=["event_type"],
        value=F.col("value"),
        alias="sum_value",
        salt_from=F.col("event_id"),
    )


Q_AGG_SALTED_SQL = f"""
SELECT event_type, {sql_sum_exact('value')} AS sum_value, count(*) AS n_rows
FROM events GROUP BY event_type
"""


def q_topk_per_group(spark, sf_dir):
    """Top-K per group — the canonical window + row_number pattern
    (PySpark guide 'Common OLAP patterns'); ties broken on the unique
    (orderkey, linenumber) so ranking is deterministic."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice", "rk")
    )


Q_TOPK_PER_GROUP_SQL = """
SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
       CAST(row_number() OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rk
FROM lineitem
QUALIFY rk <= 5
"""


def q_rollup(spark, sf_dir):
    """ROLLUP hierarchy totals (grouping-set aggregation); NULL group keys
    are replaced so the order-insensitive compare has stable sort keys."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            _sum_exact(F.col("l_quantity"), "sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("l_returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("l_linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


Q_ROLLUP_SQL = f"""
SELECT COALESCE(l_returnflag, '<all>') AS l_returnflag,
       COALESCE(l_linestatus, '<all>') AS l_linestatus,
       {sql_sum_exact('l_quantity')} AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-agg — the predicate-pushdown /
    column-pruning showcase (no join, no shuffle beyond the final
    1-row reduce). All three filters reach the parquet reader."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.col("l_extendedprice") * F.col("l_discount")
    return li.agg(
        _sum_exact(rev, "revenue", scale=10000),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q_TPCH_Q6_SQL = f"""
SELECT {sql_sum_exact('l_extendedprice * l_discount', 10000)} AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → two fact joins → grouped
    revenue → top-10. `customer` and `orders` are fact-scale so neither
    carries a broadcast hint (AQE decides); the limit's tie-break is
    pinned on l_orderkey so the cut is deterministic cross-engine.
    (Testdata carries o_orderpriority in the o_shippriority role.)"""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_sum_exact(rev, "revenue", scale=10000))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q_TPCH_Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_sum_exact('l_extendedprice * (1 - l_discount)', 10000)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- time-series joins (as-of, range) --------------------------------------


def q_asof_join(spark, sf_dir):
    """Backward as-of join: attach each non-purchase event's most recent
    purchase value (union-merge window form — one shuffle on user_id, no
    range explosion; see operators/joins.py). Build side pre-aggregated
    to one row per (user, second) with max(value) — order-independent —
    so the tie winner is defined on both engines."""
    from mimic2ts_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    build = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts_s").alias("bts"))
        .agg(F.max("value").alias("quote"))
    )
    probe = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts_s", "event_id", "event_type"
    )
    return asof_join(
        probe,
        build,
        on=["user_id"],
        probe_ts="ts_s",
        build_ts="bts",
        value_cols=["quote"],
        matched_ts="asof_ts",
    )


Q_ASOF_JOIN_SQL = """
WITH build AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS bts, max(value) AS quote
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id, CAST(floor(epoch(ts)) AS BIGINT)
),
probe AS (
    SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type
    FROM events WHERE event_type <> 'purchase'
)
SELECT p.user_id, p.ts_s, p.event_id, p.event_type,
       b.quote AS quote, b.bts AS asof_ts
FROM probe p ASOF LEFT JOIN build b
  ON p.user_id = b.user_id AND p.ts_s >= b.bts
"""


RANGE_W = 4 * H  # purchase attribution window [ts, ts+4h)


def q_range_join(spark, sf_dir):
    """Point-in-interval join as a bucketed equi-join (no nested-loop):
    clicks attributed to the 4h window after each purchase, aggregated
    per interval with an exact integer-cents sum. Empty windows kept
    via a final left join (n_points = 0)."""
    from mimic2ts_spark.operators.joins import range_join

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    intervals = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts_s").alias("s"),
        (F.col("ts_s") + RANGE_W).alias("e"),
    )
    points = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_s").alias("t"), "value"
    )
    pairs = range_join(
        points, intervals, on=["user_id"], point_ts="t",
        start_col="s", end_col="e", bucket_width=RANGE_W,
    )
    agg = pairs.groupBy("interval_id").agg(
        F.count(F.lit(1)).alias("_n"),
        _sum_exact(F.col("value"), "sum_value"),
    )
    return (
        intervals.select("interval_id")
        .join(agg, "interval_id", "left")
        .select(
            "interval_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_points"),
            "sum_value",
        )
    )


Q_RANGE_JOIN_SQL = f"""
WITH intervals AS (
    SELECT event_id AS interval_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts)) AS BIGINT) + {RANGE_W} AS e
    FROM events WHERE event_type = 'purchase'
),
points AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value
    FROM events WHERE event_type = 'click'
),
matched AS (
    SELECT i.interval_id, p.value
    FROM intervals i JOIN points p
      ON p.user_id = i.user_id AND p.t >= i.s AND p.t < i.e
),
agg AS (
    SELECT interval_id, count(*) AS n, {sql_sum_exact('value')} AS sum_value
    FROM matched GROUP BY interval_id
)
SELECT i.interval_id,
       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_points,
       agg.sum_value AS sum_value
FROM intervals i LEFT JOIN agg ON i.interval_id = agg.interval_id
"""


def q_window_funcs(spark, sf_dir):
    """Analytic window functions over per-series event order: lag/lead
    neighbors, dense ranking, and a row-level delta — one window spec,
    one shuffle on the series key, deterministic (event_id tiebreak)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_s", "event_id")
    prev = F.lag("value").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_s",
        "value",
        prev.alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.row_number().over(w).cast("long").alias("seq"),
        (F.col("value") - prev).alias("delta"),
    )


Q_WINDOW_FUNCS_SQL = """
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value,
       lag(value)  OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       CAST(row_number() OVER w AS BIGINT) AS seq,
       value - lag(value) OVER w AS delta
FROM events
WINDOW w AS (PARTITION BY user_id, event_type
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
"""


def q_cube(spark, sf_dir):
    """CUBE over (event_type, hour-of-day): all four grouping sets in
    one pass (map-side expansion, single shuffle), exact-cents sums,
    NULL group keys relabeled for stable order-insensitive compare."""
    ev = _t(spark, sf_dir, "events").withColumn("hod", F.hour("ts").cast("long"))
    return (
        ev.cube("event_type", "hod")
        .agg(
            _sum_exact(F.col("value"), "sum_value"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("<all>")).alias("event_type"),
            F.coalesce(F.col("hod"), F.lit(-1)).alias("hod"),
            "sum_value",
            "n_rows",
        )
    )


Q_CUBE_SQL = f"""
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(CAST(EXTRACT(hour FROM ts) AS BIGINT), -1) AS hod,
       {sql_sum_exact('value')} AS sum_value,
       count(*) AS n_rows
FROM events
GROUP BY CUBE (event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT))
"""


# --- sketches --------------------------------------------------------------


def q_sketch_kmv(spark, sf_dir):
    """KMV distinct-count sketch of users per event_type (plus exact
    distinct via the same md5-code dedup for error inspection). O(k)
    state per group, mergeable, bit-exact estimator — see
    operators/sketch.py for why KMV beats HLL under an oracle gate."""
    from mimic2ts_spark.operators.sketch import kmv_sketch

    ev = _t(spark, sf_dir, "events")
    return kmv_sketch(ev, group_cols=["event_type"], value_col="user_id")


def _sketch_sql():
    from mimic2ts_spark.operators.sketch import kmv_sketch_sql

    return kmv_sketch_sql("events", "event_type", "user_id")


Q_SKETCH_KMV_SQL = _sketch_sql()


# --- reshape: unpivot / melt ------------------------------------------------


def q_unpivot(spark, sf_dir):
    """Wide → long unpivot (melt) of the four lineitem measures: the
    inverse of q_pivot_wide. Native `DataFrame.unpivot` — a map-side
    Expand (4 output rows per input row), no shuffle, raw value
    pass-through (no arithmetic → bit-exact cross-engine)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


Q_UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""


# --- ordered aggregates: exact quantiles ------------------------------------


def q_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile`,
    NOT percentile_approx — the approx sketch is engine-specific and
    can never hash-match an oracle). One shuffle on the group key; the
    per-group sort is the unavoidable cost of exact quantiles. Both
    engines interpolate lower + (upper−lower)·frac at frac =
    p·(n−1) − ⌊·⌋ in IEEE double, so values are bit-exact (verified,
    all four cut points at sf0.01). At 100 TB the scale path is
    per-group percentile over a pre-bucketed value histogram or a
    mergeable sketch — this is the exact baseline those must match
    within error."""
    ev = _t(spark, sf_dir, "events")
    q = F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.9))")
    return (
        ev.groupBy("event_type")
        .agg(q.alias("q"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            "event_type",
            F.col("q")[0].alias("p25"),
            F.col("q")[1].alias("p50"),
            F.col("q")[2].alias("p75"),
            F.col("q")[3].alias("p90"),
            "n_rows",
        )
    )


Q_QUANTILES_SQL = """
SELECT event_type,
       quantile_cont(value, 0.25) AS p25,
       quantile_cont(value, 0.5)  AS p50,
       quantile_cont(value, 0.75) AS p75,
       quantile_cont(value, 0.9)  AS p90,
       count(*) AS n_rows
FROM events GROUP BY event_type
"""


# --- deterministic stratified sampling --------------------------------------

STRATA_RATES = (
    ("purchase", 10000),  # keep all of the rare/valuable stratum
    ("signup", 5000),     # 50 %
    ("error", 2000),      # 20 %
    ("click", 500),       # 5 %
    ("view", 200),        # 2 %
)


def q_sample_stratified(spark, sf_dir):
    """Per-stratum downsampling at fixed rates by md5 hash bucket of
    event_id (never rand() — reproducible across engines, retries and
    appends; CLAUDE.md determinism rule). The rate table is a literal
    CASE (a real pipeline broadcasts it); the filter is a pure Column
    expression on the scan — no shuffle, no UDF."""
    from mimic2ts_spark.operators.sketch import kmv_code

    ev = _t(spark, sf_dir, "events")
    rate = None
    for label, bps in STRATA_RATES:
        cond = F.col("event_type") == label
        rate = F.when(cond, bps) if rate is None else rate.when(cond, bps)
    return ev.where(kmv_code(F.col("event_id")) % 10000 < rate.otherwise(0)).select(
        "event_id", "user_id", "event_type", "value"
    )


def _stratified_sql():
    from mimic2ts_spark.operators.text import SQL_CODE

    code = SQL_CODE.format(tok="CAST(event_id AS VARCHAR)")
    whens = " ".join(f"WHEN '{label}' THEN {bps}" for label, bps in STRATA_RATES)
    return f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE ({code} % 10000) < (CASE event_type {whens} ELSE 0 END)
"""


Q_SAMPLE_STRATIFIED_SQL = _stratified_sql()


# --- TPC-H Q18: HAVING subquery + semi join ---------------------------------


def q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): HAVING-filtered
    aggregate as a left-semi join against the fact, then the
    customer/orders join and re-aggregation. The semi-join build side
    is the filtered agg output — small by construction (HAVING is
    selective), so AQE broadcasts it at any SF without a manual hint
    (the q5 lesson: never force-broadcast a fact-scale input). Ordered
    cut pinned by unique o_orderkey."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(_sum_exact(F.col("l_quantity"), "sum_qty"))
        .where(F.col("sum_qty") > 300)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(big, "l_orderkey", "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_sum_exact(F.col("l_quantity"), "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


Q_TPCH_Q18_SQL = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       {sql_sum_exact('l_quantity')} AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING {sql_sum_exact('l_quantity')} > 300
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect): one fact-dim equi-join and a
    conditional aggregate — the numerator is a CASE inside the same
    integer-cents sum as the denominator, so both ride one shuffle.
    part is fact-scale in TPC-H: no broadcast hint, AQE decides."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            _sum_exact(promo, "promo_revenue", scale=10000),
            _sum_exact(rev, "total_revenue", scale=10000),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
                "promo_pct"
            ),
        )
    )


Q_TPCH_Q14_SQL = f"""
WITH j AS (
    SELECT CASE WHEN p_type LIKE 'PROMO%'
                THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS promo,
           l_extendedprice * (1 - l_discount) AS rev
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-10-01 00:00:00'
)
SELECT {sql_sum_exact('promo', 10000)} AS promo_revenue,
       {sql_sum_exact('rev', 10000)} AS total_revenue,
       100.0 * ({sql_sum_exact('promo', 10000)})
             / ({sql_sum_exact('rev', 10000)}) AS promo_pct
FROM j
"""


# --- histogram quantiles (the sketch scale path for q_quantiles) ------------

HIST_WIDTH = 1.0  # bucket width == max absolute quantile error


def q_quantiles_hist(spark, sf_dir):
    """Histogram quantile estimation — the 100 TB scale path whose
    exact baseline is q_quantiles: per-group state is O(#buckets)
    (fixed-width value buckets), fully mergeable, one shuffle on
    (group, bucket) plus a per-group cumulative window over ≤500
    bucket rows. Estimate = lower edge + half width of the first
    bucket whose cumulative count reaches ⌈p·n⌉; error ≤ bucket
    width by construction (pinned in tests vs the exact percentiles).
    Every step is integer/boolean logic + one fixed float multiply,
    so the DuckDB mirror is bit-exact."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cnt = (
        ev.groupBy("event_type", F.floor(F.col("value") / HIST_WIDTH).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    x = cnt.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "total", F.sum("c").over(wall)
    )

    def est(p, alias):
        crossing = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("total")), F.col("b"))
        )
        return ((crossing + 0.5) * HIST_WIDTH).alias(alias)

    return x.groupBy("event_type").agg(
        est(0.25, "h25"),
        est(0.5, "h50"),
        est(0.75, "h75"),
        F.max("total").alias("n_rows"),
    )


Q_QUANTILES_HIST_SQL = f"""
WITH cnt AS (
    SELECT event_type, CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS b,
           count(*) AS c
    FROM events GROUP BY 1, 2
),
x AS (
    SELECT event_type, b, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY b
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS total
    FROM cnt
)
SELECT event_type,
       (CAST(min(CASE WHEN cum >= ceil(0.25 * total) THEN b END) AS DOUBLE) + 0.5) * {HIST_WIDTH} AS h25,
       (CAST(min(CASE WHEN cum >= ceil(0.5  * total) THEN b END) AS DOUBLE) + 0.5) * {HIST_WIDTH} AS h50,
       (CAST(min(CASE WHEN cum >= ceil(0.75 * total) THEN b END) AS DOUBLE) + 0.5) * {HIST_WIDTH} AS h75,
       CAST(max(total) AS BIGINT) AS n_rows
FROM x GROUP BY event_type
"""


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): a CORRELATED
    scalar subquery — average quantity per part gating each lineitem —
    submitted through the SQL frontend so Catalyst's decorrelation
    rewrites it to a per-part aggregate + join (no per-row re-execution;
    the naive plan is O(rows × parts)). Integer-cents sum, /7.0 in both
    engines. Also exercises the temp-view SQL surface of the engine."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    return spark.sql(
        f"""
        SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 / 7.0 AS avg_yearly
        FROM v_lineitem, v_part
        WHERE p_partkey = l_partkey
          AND p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * AVG(l_quantity)
              FROM v_lineitem
              WHERE l_partkey = p_partkey
          )
        """
    )


Q_TPCH_Q17_SQL = """
SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE)
       / 100.0 / 7.0 AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#23'
  AND l_quantity < (
      SELECT 0.2 * AVG(l_quantity)
      FROM lineitem
      WHERE l_partkey = p_partkey
  )
"""


def q_window_range(spark, sf_dir):
    """RANGE-frame window: per-user trailing 1-hour event sum — the
    time-based moving aggregate (rangeBetween on the epoch-seconds
    ORDER key, not a row count, so irregular sampling is handled
    correctly). One shuffle on the partition key; frame scanning is
    the sorted in-partition pass. Exact integer-cents running sums."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, 0)
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts_s",
        (F.sum(cents).over(w).cast("double") / 100).alias("trailing_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


Q_WINDOW_RANGE_SQL = """
SELECT event_id, user_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w AS DOUBLE) / 100
           AS trailing_1h_sum,
       count(*) OVER w AS trailing_1h_n
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


# --- skew-safe salted join ---------------------------------------------------


def q_join_salted(spark, sf_dir):
    """Salted equi-join of orders (fact) to customer (dim): the dim is
    replicated 16× with an explicit salt, the fact salted by a hash of
    its unique key, so a hot join key spreads over 16 reducers (the
    beyond-AQE skew dial — see operators/skew.py). The salt never
    reaches the output, so the oracle is the plain join. Spark's
    broadcast choice is DISABLED for this query shape only via the
    shuffle-hash hint on the dim — with a broadcast join there is no
    reduce-side skew to mitigate and the salt would be dead code."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    from mimic2ts_spark.operators.skew import salted_join

    joined = salted_join(
        o.withColumnRenamed("o_custkey", "c_custkey"),
        c.hint("shuffle_hash"),
        key="c_custkey",
        salt_from=F.col("o_orderkey"),
    )
    return joined.select("o_orderkey", "c_custkey", "c_name", "c_mktsegment", "o_totalprice")


Q_JOIN_SALTED_SQL = """
SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment, o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
"""


# --- CDC-style log compaction (latest-wins upsert + tombstones) -------------


def q_log_compact(spark, sf_dir):
    """Upsert-log compaction: the events table read as a change log
    keyed by user_id — the LATEST row per key wins (ts, then event_id
    as the deterministic tiebreak), and a key whose latest row is a
    tombstone (`event_type = 'error'` stands in for a delete marker)
    drops out entirely. One window shuffle on the key; the rank<=1
    filter plans as WindowGroupLimit so compaction never fully sorts a
    key's history — the same shape Delta/Hudi-style merge-on-read
    compaction needs at 100 TB."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts_s"), F.desc("event_id")
    )
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("event_type") != "error"))
        .select("user_id", "ts_s", "event_id", "event_type", "value")
    )


Q_LOG_COMPACT_SQL = """
SELECT user_id, ts_s, event_id, event_type, value FROM (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id,
           event_type, value,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC, event_id DESC
           ) AS rk
    FROM events
) WHERE rk = 1 AND event_type <> 'error'
"""


# --- bucketed co-located join ----------------------------------------------


def q_join_bucketed(spark, sf_dir):
    """Pay-the-shuffle-once join (X18 as a driver-gated query): both
    sides are first persisted as bucketed tables (hash-partitioned AND
    sorted by the join key at write time — operators/spread.py
    write_bucketed), so the fact-fact equi-join itself needs ZERO
    exchanges: each task sort-merges one co-located bucket pair straight
    off disk. The only shuffle left in the whole query is the final
    5-group aggregate. At 100 TB this is the difference between
    re-shuffling the fact table on every star join and never shuffling
    it again. The bucket write is an eager side effect into a temp dir;
    the oracle is the plain (bucketing-invisible) join."""

    from mimic2ts_spark.operators.spread import write_bucketed

    base = session_tmpdir(prefix="mimic2ts_bucketed_")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    write_bucketed(li, "l_orderkey", "hb_lineitem", 16, f"{base}/li")
    write_bucketed(od, "o_orderkey", "hb_orders", 16, f"{base}/od")
    # MERGE hint: at real fact-fact scale SMJ is what Catalyst picks
    # anyway; at test SF AQE would broadcast the small side and hide the
    # co-located-bucket property this query exists to demonstrate.
    j = spark.table("hb_lineitem").hint("merge").join(
        spark.table("hb_orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return j.groupBy("o_orderpriority").agg(
        _sum_exact(F.col("l_quantity"), "sum_qty"),
        F.count(F.lit(1)).alias("n_items"),
    )


Q_JOIN_BUCKETED_SQL = f"""
SELECT o_orderpriority, {sql_sum_exact('l_quantity')} AS sum_qty,
       count(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# --- TPC-H Q21 shape: double-correlated EXISTS / NOT EXISTS ----------------


def q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who were the sole late supplier in a
    multi-supplier order): the reference form is a fact self-EXISTS plus
    a fact self-NOT-EXISTS — three scans and two shuffle joins of
    lineitem. Re-expressed Spark-first as ONE pass: a window over
    l_orderkey computes both per-order distinct-supplier sets
    (`size(collect_set(..))`), so "another supplier exists" becomes
    n_supp > 1 and "no OTHER supplier is late" becomes n_late_supp = 1
    on rows that are themselves late. One shuffle-sort on orderkey
    replaces both correlated subqueries; per-order groups are tiny
    (~5 lineitems) so collect_set state is bounded. Adaptations to
    testdata columns: "late" := l_returnflag = 'R' (no
    l_receiptdate/l_commitdate), nation filter widened to 5 nations
    (100 suppliers total). supplier⋈nation is a broadcast dim join
    AFTER the heavy filter, so only qualifying rows reach it."""
    late = F.col("l_returnflag") == "R"
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    flagged = li.select(
        "l_suppkey",
        late.alias("is_late"),
        F.size(F.collect_set("l_suppkey").over(w)).alias("n_supp"),
        F.size(F.collect_set(F.when(late, F.col("l_suppkey"))).over(w)).alias(
            "n_late_supp"
        ),
    ).where(F.col("is_late") & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin([f"NATION_{i}" for i in range(5)])
    )
    return (
        flagged.join(F.broadcast(s), flagged.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


Q_TPCH_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_0', 'NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
GROUP BY s_name
"""


# --- SCD2 dimension build --------------------------------------------------

SCD2_OPEN_END = 253402300799  # 9999-12-31T23:59:59Z: open-interval sentinel


def q_scd2(spark, sf_dir):
    """Slowly-changing-dimension type 2 build from a change log: treat
    each user's event stream as attribute updates (event_type = the
    tracked attribute) and emit one validity interval per CHANGE —
    consecutive same-value updates collapse (lag-based change
    detection), then valid_to = next change's valid_from - 1, with the
    open current row at the sentinel end. Both windows share one
    partition key, so the whole build is a single shuffle on user_id;
    ties break on event_id so retries are deterministic. This is the
    warehouse-side dimension-history op a MERGE/SCD pipeline needs, in
    pure declarative form."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn("ts_s", epoch_seconds("ts"))
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    changed = ev.withColumn("prev_state", F.lag("event_type").over(w)).where(
        F.col("prev_state").isNull()
        | (F.col("prev_state") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    nxt = F.lead("ts_s").over(w2)
    return changed.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts_s").alias("valid_from"),
        F.coalesce(nxt - 1, F.lit(SCD2_OPEN_END)).alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


Q_SCD2_SQL = f"""
WITH e AS (
    SELECT user_id, event_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
    FROM events
),
ch AS (
    SELECT user_id, event_id, event_type, ts_s FROM (
        SELECT *, lag(event_type) OVER (
            PARTITION BY user_id ORDER BY ts_s, event_id) AS prev_state
        FROM e
    ) WHERE prev_state IS NULL OR prev_state <> event_type
)
SELECT user_id, event_type AS state, ts_s AS valid_from,
       coalesce(lead(ts_s) OVER w - 1, {SCD2_OPEN_END}) AS valid_to,
       lead(ts_s) OVER w IS NULL AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
"""


# --- TPC-H Q4 shape: EXISTS → left-semi join -------------------------------


def q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order-priority count gated by EXISTS): the
    correlated EXISTS becomes a LEFT SEMI join — each order is counted
    once no matter how many lineitems match, with no post-join dedup.
    The testdata lacks l_commitdate/l_receiptdate
    (/root/reference has no TPC-H either), so the reference Q4
    predicate `l_commitdate < l_receiptdate` is adapted to
    `l_shipdate > o_orderdate` — same correlated-inequality shape.
    orders' date filter pushes to its scan; lineitem is fact-scale so
    no broadcast hint: the semi join shuffles both sides on orderkey
    (AQE may still pick broadcast at small SF)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


Q_TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


# --- TPC-H Q13 shape: outer-join count distribution ------------------------


def q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join so zero-order customers survive as c_count=0, then a second
    aggregation over the first — the two-level agg re-shuffles only
    |customers| rows, and count(o_orderkey) (not count(*)) is what
    makes the outer-join null rows count as zero. The join-side filter
    (`o_orderpriority <> '1-URGENT'`, standing in for the reference's
    `o_comment NOT LIKE` — testdata has no o_comment) must sit in the
    JOIN condition, not a WHERE, or the outer rows vanish."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


Q_TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT OUTER JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
)
GROUP BY c_count
"""


# --- TPC-H Q19 shape: disjunctive predicate join ---------------------------


def q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 shape (OR-of-ANDs over a join): Catalyst extracts the
    common conjuncts of the disjunction — every branch constrains
    p_brand to a 3-value set and l_quantity/p_size to the union range —
    and pushes them below the join as scan filters, so the join builds
    on pre-filtered sides and only the residual OR runs post-join.
    (p_container/l_shipmode don't exist in testdata; p_size stands in
    for the container class.) Integer-cents revenue sum."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    b = F.col("p_brand")
    sz = F.col("p_size")
    q = F.col("l_quantity")
    disj = (
        ((b == "Brand#12") & sz.between(1, 15) & q.between(1, 20))
        | ((b == "Brand#23") & sz.between(1, 25) & q.between(10, 30))
        | ((b == "Brand#34") & sz.between(1, 35) & q.between(20, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.where(disj).agg(
        _sum_exact(rev, "revenue", scale=10000),
        F.count(F.lit(1)).alias("n_matched"),
    )


Q_TPCH_Q19_SQL = f"""
SELECT {sql_sum_exact('l_extendedprice * (1 - l_discount)', 10000)} AS revenue,
       count(*) AS n_matched
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 40)
"""


# --- TPC-H Q22 shape: anti join + uncorrelated scalar subquery -------------


def q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers): an
    uncorrelated scalar subquery (avg balance of the positive-balance
    population) gates the filter, and NOT EXISTS becomes a LEFT ANTI
    join against orders. Adaptations to testdata columns: cntrycode =
    c_nationkey % 7 (no c_phone), and the anti side is orders SINCE
    2000-01-01 (every customer has some order, so the unrestricted
    reference form is empty here). The scalar avg is a 1-row broadcast
    cross join — exact cents so both engines compare the same double.
    The anti join shuffles on custkey; the date filter pushes to the
    orders scan so the anti build side is small."""
    c = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 7).cast("int")
    )
    # exact-cents average over the positive-balance population
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        _avg_exact(F.col("c_acctbal"), "avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.where(F.col("cntrycode").isin(0, 1, 2, 3))
        .join(F.broadcast(avg_bal))  # 1-row scalar: cross join
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _sum_exact(F.col("c_acctbal"), "totacctbal"),
        )
    )


Q_TPCH_Q22_SQL = f"""
WITH avg_bal AS (
    SELECT {sql_avg_exact('c_acctbal', 'c_acctbal')} AS avg_bal
    FROM customer WHERE c_acctbal > 0.0
)
SELECT CAST(c_nationkey % 7 AS INTEGER) AS cntrycode,
       count(*) AS numcust,
       {sql_sum_exact('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_nationkey % 7 IN (0, 1, 2, 3)
  AND c_acctbal > avg_bal
  AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY 1
"""


# --- round-3 TPC-H completion (Q2/Q7/Q8/Q9/Q10/Q11/Q12/Q15/Q16/Q20) --------
#
# The testdata ships no `partsupp` table and trims several spec columns
# (no l_shipmode/l_commitdate, no o_comment/p_container); where the spec
# needs them the query keeps the SHAPE (join tree, correlation pattern,
# aggregate structure) with a documented stand-in, exactly as the
# existing Q4/Q13/Q17/Q22 adaptations do. With these, all 22 TPC-H
# query shapes are registered and oracle-checked.


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_SQL_REV = "l_extendedprice * (1 - l_discount)"


def q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping): the two-nation flow query — lineitem
    joined to BOTH trading sides (supplier nation and customer nation
    via orders), a symmetric either-direction filter, and a
    (nation, nation, year) rollup. nation is broadcast (25 rows); the
    supplier/customer joins are left to AQE. One shuffle for the final
    aggregate; the year is computed from l_shipdate, not shuffled in."""
    n1 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("cust_nation")
        )
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, "s_nationkey")
        .join(n2, "c_nationkey")
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(_sum_exact(_rev(), "revenue", scale=10000))
    )


Q_TPCH_Q7_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
       {sql_sum_exact(_SQL_REV, 10000)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 (national market share): share of one supplier nation's
    revenue within a region's customer market, per order year. The
    share is ONE division of two integer-cents sums accumulated in the
    same aggregate pass (numerator as a CASE inside the sum), so the
    whole query is a join tree + a single groupBy shuffle."""
    r = F.broadcast(
        _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    nc = _t(spark, sf_dir, "nation").join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    ns = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("supp_nation")
        )
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    j = (
        _t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nc.select(F.col("n_nationkey").alias("c_nationkey"))), "c_nationkey")
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ns, "s_nationkey")
    )
    cents = F.round(_rev() * 10000, 0).cast("long")
    target = F.when(F.col("supp_nation") == "NATION_2", cents).otherwise(F.lit(0).cast("long"))
    agg = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(target).alias("_nat"), F.sum(cents).alias("_tot")
    )
    return agg.select(
        "o_year",
        (F.col("_nat").cast("double") / 10000.0).alias("nation_rev"),
        (F.col("_tot").cast("double") / 10000.0).alias("total_rev"),
        (F.col("_nat").cast("double") / F.col("_tot").cast("double")).alias("mkt_share"),
    )


Q_TPCH_Q8_SQL = f"""
WITH j AS (
    SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(round(({_SQL_REV}) * 10000) AS BIGINT) AS cents,
           CASE WHEN n2.n_name = 'NATION_2'
                THEN CAST(round(({_SQL_REV}) * 10000) AS BIGINT)
                ELSE 0 END AS nat_cents
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey AND p_type = 'ECONOMY'
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
)
SELECT o_year,
       CAST(sum(nat_cents) AS DOUBLE) / 10000.0 AS nation_rev,
       CAST(sum(cents) AS DOUBLE) / 10000.0 AS total_rev,
       CAST(sum(nat_cents) AS DOUBLE) / CAST(sum(cents) AS DOUBLE) AS mkt_share
FROM j GROUP BY 1
"""


def q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year). The
    spec's cost term is ps_supplycost×l_quantity; with no partsupp
    table the stand-in cost is 0.5×p_retailprice×l_quantity — same
    expression structure (a part-priced quantity term subtracted from
    discounted revenue), same join tree minus the partsupp hop."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation")
        )
    )
    j = (
        _t(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, "s_nationkey")
    )
    amount = _rev() - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    return (
        j.groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_sum_exact(amount, "sum_profit", scale=10000))
    )


Q_TPCH_Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year,
       {sql_sum_exact(f"({_SQL_REV}) - 0.5 * p_retailprice * l_quantity", 10000)}
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): one quarter of orders,
    returned lines only, top 20 customers by lost revenue. The top-k
    is a global sort-limit (TakeOrdered, no full sort materialized);
    ties are broken by c_custkey so the emitted 20 rows are
    deterministic in both engines."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
        )
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(_t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(n, "c_nationkey")
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "nation")
        .agg(_sum_exact(_rev(), "revenue", scale=10000))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q_TPCH_Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name AS nation,
       {sql_sum_exact(_SQL_REV, 10000)} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important stock): per-key value vs a GLOBAL
    scalar threshold (fraction of the grand total). partsupp stand-in:
    shipped value per part from one nation's suppliers. The threshold
    compare happens in integer cents (value_cents × 1000 > total_cents)
    — an exact integer predicate, identical in both engines. The grand
    total is a 1-row broadcast cross join, not a global window."""
    n = F.broadcast(
        _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3").select(
            F.col("n_nationkey").alias("s_nationkey")
        )
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, "s_nationkey")
    )
    cents = F.round(_rev() * 10000, 0).cast("long")
    per_part = li.groupBy("l_partkey").agg(F.sum(cents).alias("_cents"))
    total = per_part.agg(F.sum("_cents").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("_cents") * 1000 > F.col("_total"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            (F.col("_cents").cast("double") / 10000.0).alias("part_value"),
        )
    )


Q_TPCH_Q11_SQL = f"""
WITH v AS (
    SELECT l_partkey, CAST(sum(CAST(round(({_SQL_REV}) * 10000) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey AND n_name = 'NATION_3'
    GROUP BY 1
)
SELECT l_partkey AS p_partkey,
       CAST(cents AS DOUBLE) / 10000.0 AS part_value
FROM v, (SELECT sum(cents) AS total FROM v) t
WHERE cents * 1000 > total
"""


def q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority distribution): per-group
    counts of high- vs low-priority orders as two CASE-sums in one
    aggregate pass. The testdata has no l_shipmode/commitdate;
    l_returnflag stands in as the grouping column and a 1996 shipdate
    year as the window."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    j = li.join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return j.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.sum(high).cast("long").alias("high_line_count"),
        F.sum(1 - high).cast("long").alias("low_line_count"),
    )


Q_TPCH_Q12_SQL = """
SELECT l_returnflag AS flag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
"""


def q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): quarterly revenue per supplier, then
    the supplier(s) whose revenue EQUALS the maximum — the classic
    view + scalar subquery. Revenue is kept in integer cents through
    the max/equality compare (exact; no float max boundary), divided
    back only for output. The max is a 1-row broadcast cross join."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cents = F.round(_rev() * 10000, 0).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents).alias("_cents"))
    mx = rev.agg(F.max("_cents").alias("_max"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("_cents") == F.col("_max"))
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("_cents").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


Q_TPCH_Q15_SQL = f"""
WITH rev AS (
    SELECT l_suppkey,
           CAST(sum(CAST(round(({_SQL_REV}) * 10000) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(cents AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE cents = (SELECT max(cents) FROM rev)
"""


def q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (part/supplier relationship counts): distinct
    suppliers per (brand, type, size) over the part-supplier pairs,
    with NOT-filters on part attributes and an excluded-supplier anti
    join. partsupp stand-in: DISTINCT (l_partkey, l_suppkey) observed
    in lineitem; the spec's complaint-comment exclusion becomes a
    negative-balance exclusion (no s_comment column)."""
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#9")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 12, 17, 23, 33))
    )
    bad = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        ps.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q_TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 12, 17, 23, 33)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (excess-stock suppliers): the nested
    semi-join chain — suppliers in one nation having SOME filtered
    part whose 1996 shipped quantity exceeds half that (supplier,
    part)'s all-time quantity (the availqty stand-in; no partsupp
    table). Quantities are integral: summed as longs, and the
    half-threshold compare is 2×q96 > total — exact integer logic."""
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "SMALL").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").join(
        p, F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    in96 = (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp")
    )
    per_sp = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(qty).alias("total_qty"),
        F.sum(F.when(in96, qty).otherwise(F.lit(0).cast("long"))).alias("qty96"),
    )
    excess = per_sp.where(F.col("qty96") * 2 > F.col("total_qty")).select("l_suppkey").distinct()
    n = F.broadcast(
        _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4").select(
            F.col("n_nationkey").alias("s_nationkey")
        )
    )
    return (
        _t(spark, sf_dir, "supplier")
        .join(n, "s_nationkey")
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


Q_TPCH_Q20_SQL = """
WITH per_sp AS (
    SELECT l_suppkey, l_partkey,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                         THEN CAST(round(l_quantity) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS qty96
    FROM lineitem JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
    GROUP BY 1, 2
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_4'
WHERE s_suppkey IN (SELECT l_suppkey FROM per_sp WHERE qty96 * 2 > total_qty)
"""


def q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): for each filtered part,
    the region's supplier(s) achieving the MINIMUM unit cost — the
    correlated-min pattern, expressed as one window min over the
    per-(part, supplier) aggregate (no re-scan, no self-join). Unit
    cost stand-in: min(l_extendedprice / l_quantity) over that
    (part, supplier)'s lines (no partsupp). Both engines compute the
    same IEEE doubles, so the min-equality filter is deterministic;
    the final top-100 is fully tie-broken (acctbal desc … s_suppkey)."""
    from pyspark.sql import Window

    r = F.broadcast(_t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE"))
    n = (
        _t(spark, sf_dir, "nation")
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("nation"))
    )
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_size") == 23) & (F.col("p_type") == "LARGE")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(p.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(_t(spark, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), "s_nationkey")
    )
    cost = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    per_sp = li.groupBy(
        "p_partkey", "s_suppkey", "s_name", "s_acctbal", "nation"
    ).agg(F.min(cost).alias("supply_cost"))
    w = Window.partitionBy("p_partkey")
    best = per_sp.withColumn("min_cost", F.min("supply_cost").over(w)).where(
        F.col("supply_cost") == F.col("min_cost")
    )
    return (
        best.select("s_acctbal", "s_name", "nation", "p_partkey", "supply_cost")
        .orderBy(F.desc("s_acctbal"), "nation", "s_name", "p_partkey")
        .limit(100)
    )


Q_TPCH_Q2_SQL = """
WITH per_sp AS (
    SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name AS nation,
           min(l_extendedprice / l_quantity) AS supply_cost
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_size = 23 AND p_type = 'LARGE'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    GROUP BY 1, 2, 3, 4, 5
)
SELECT s_acctbal, s_name, nation, p_partkey, supply_cost
FROM (SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS min_cost
      FROM per_sp)
WHERE supply_cost = min_cost
ORDER BY s_acctbal DESC, nation, s_name, p_partkey
LIMIT 100
"""


_TPCH_R3: dict[str, tuple["QueryFn", str | None]] = {
    "q_tpch_q2": (q_tpch_q2, Q_TPCH_Q2_SQL),
    "q_tpch_q7": (q_tpch_q7, Q_TPCH_Q7_SQL),
    "q_tpch_q8": (q_tpch_q8, Q_TPCH_Q8_SQL),
    "q_tpch_q9": (q_tpch_q9, Q_TPCH_Q9_SQL),
    "q_tpch_q10": (q_tpch_q10, Q_TPCH_Q10_SQL),
    "q_tpch_q11": (q_tpch_q11, Q_TPCH_Q11_SQL),
    "q_tpch_q12": (q_tpch_q12, Q_TPCH_Q12_SQL),
    "q_tpch_q15": (q_tpch_q15, Q_TPCH_Q15_SQL),
    "q_tpch_q16": (q_tpch_q16, Q_TPCH_Q16_SQL),
    "q_tpch_q20": (q_tpch_q20, Q_TPCH_Q20_SQL),
}


# --- registry --------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

# name → (spark_fn, oracle_sql | None for rows-only checks)
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    "q_scan_project": (q_scan_project, Q_SCAN_PROJECT_SQL),
    "q_filter_isin": (q_filter_isin, Q_FILTER_ISIN_SQL),
    "q_filter_anti": (q_filter_anti, Q_FILTER_ANTI_SQL),
    "q_epoch_parse": (q_epoch_parse, Q_EPOCH_PARSE_SQL),
    "q_value_parse": (q_value_parse, Q_VALUE_PARSE_SQL),
    "q_window_clamp": (q_window_clamp, Q_WINDOW_CLAMP_SQL),
    "q_join_broadcast": (q_join_broadcast, Q_JOIN_BROADCAST_SQL),
    "q_agg_mean_bucket": (q_agg_mean_bucket, Q_AGG_MEAN_BUCKET_SQL),
    "q_agg_sum_bucket": (q_agg_sum_bucket, Q_AGG_SUM_BUCKET_SQL),
    "q_agg_oracle_totals": (q_agg_oracle_totals, Q_AGG_ORACLE_TOTALS_SQL),
    "q_distinct": (q_distinct, Q_DISTINCT_SQL),
    "q_dense_reindex": (q_dense_reindex, Q_DENSE_REINDEX_SQL),
    "q_ffill_window": (q_ffill_window, Q_FFILL_WINDOW_SQL),
    "q_interval_explode": (q_interval_explode, Q_INTERVAL_EXPLODE_SQL),
    "q_union": (q_union, Q_UNION_SQL),
    "q_sort": (q_sort, Q_SORT_SQL),
    "q_pivot_wide": (q_pivot_wide, Q_PIVOT_WIDE_SQL),
    "q_sink_partitioned": (q_sink_partitioned, Q_AGG_SUM_BUCKET_SQL),
    "q_tpch_q1": (q_tpch_q1, Q_TPCH_Q1_SQL),
    "q_tpch_q5": (q_tpch_q5, Q_TPCH_Q5_SQL),
    "q_tpch_q6": (q_tpch_q6, Q_TPCH_Q6_SQL),
    "q_tpch_q3": (q_tpch_q3, Q_TPCH_Q3_SQL),
    "q_topk_per_group": (q_topk_per_group, Q_TOPK_PER_GROUP_SQL),
    "q_rollup": (q_rollup, Q_ROLLUP_SQL),
    "q_agg_salted": (q_agg_salted, Q_AGG_SALTED_SQL),
    "q_asof_join": (q_asof_join, Q_ASOF_JOIN_SQL),
    "q_range_join": (q_range_join, Q_RANGE_JOIN_SQL),
    "q_sketch_kmv": (q_sketch_kmv, Q_SKETCH_KMV_SQL),
    "q_window_funcs": (q_window_funcs, Q_WINDOW_FUNCS_SQL),
    "q_cube": (q_cube, Q_CUBE_SQL),
    "q_unpivot": (q_unpivot, Q_UNPIVOT_SQL),
    "q_quantiles": (q_quantiles, Q_QUANTILES_SQL),
    "q_sample_stratified": (q_sample_stratified, Q_SAMPLE_STRATIFIED_SQL),
    "q_tpch_q18": (q_tpch_q18, Q_TPCH_Q18_SQL),
    "q_log_compact": (q_log_compact, Q_LOG_COMPACT_SQL),
    "q_join_salted": (q_join_salted, Q_JOIN_SALTED_SQL),
    "q_quantiles_hist": (q_quantiles_hist, Q_QUANTILES_HIST_SQL),
    "q_tpch_q14": (q_tpch_q14, Q_TPCH_Q14_SQL),
    "q_tpch_q17": (q_tpch_q17, Q_TPCH_Q17_SQL),
    "q_window_range": (q_window_range, Q_WINDOW_RANGE_SQL),
    "q_tpch_q4": (q_tpch_q4, Q_TPCH_Q4_SQL),
    "q_tpch_q13": (q_tpch_q13, Q_TPCH_Q13_SQL),
    "q_tpch_q19": (q_tpch_q19, Q_TPCH_Q19_SQL),
    "q_tpch_q22": (q_tpch_q22, Q_TPCH_Q22_SQL),
    "q_scd2": (q_scd2, Q_SCD2_SQL),
    "q_join_bucketed": (q_join_bucketed, Q_JOIN_BUCKETED_SQL),
    "q_tpch_q21": (q_tpch_q21, Q_TPCH_Q21_SQL),
}


# Registry ORDER is the order the driver's correctness gate runs queries
# in, and the r02 gate truncated after 50 entries — leaving every
# EXT_REGISTRY query (dedup/ANN/streaming/multimodal/text) without a
# driver-verified row two rounds running. Put the ext queries FIRST:
# the §2 core above is two-rounds driver-stable and can afford to be
# the truncated tail if a budget ever bites again.
_CORE_REGISTRY = dict(REGISTRY)

# Gate-ordering rule (r06, replacing the r05 hand-maintained tail with
# the computed stalest-first rotation the r05 verdict asked for): the
# 50-entry/round driver gate runs, in order,
#   1. queries whose BACKING CODE changed this round (the list below,
#      maintained per round as part of each change — an in-round edit
#      without a slot here ships driver-stale, the r04 gap), then
#   2. every other query ASCENDING by the round of its most recent
#      driver CORRECTNESS row (never-verified first), computed from the
#      recorded CORRECTNESS_r*.json artifacts at import time, ties in
#      stable registry order.
# With 228 queries and a 50-row window, every query re-earns a driver
# row at worst every ceil(228/50) = 5 rounds instead of the §2 core
# sitting r02-stale forever behind a static tail. That latency is the
# REGISTRY GROWTH BUDGET (r11 policy, VERDICT r10 #6): prefer
# consolidating new measurements into existing report queries (the
# q_ann_recall multi-leg pattern) over net-new registry entries, and
# pay for any net growth by keeping this changed-list small — every
# never-verified query auto-claims a slot ahead of the stale tail.
_GATE_CHANGED_THIS_ROUND = [
    # r15 (VERDICT r14 #2): the IVF postings artifact now CARRIES the
    # raw coordinates (IVF-Flat) and serve_ivf_artifact re-ranks from
    # the probed cells' own rows — the per-serve key join against the
    # raw corpus is gone. Values identical (parquet round-trips the
    # same float arrays losslessly; cross-layout equality pytest-pinned
    # in test_serve_ivf_carried_coordinates_no_src_join; sf0.01 oracle
    # re-run PASS), but the serving LAYOUT changed, so the rows that
    # serve through it take changed slots (the r04 in-round-edit rule):
    # q_ann_ivf_indexed directly, q_ann_filtered's broad-ivf leg, and
    # q_ann_recall's ivf leg.
    "q_ann_ivf_indexed",
    "q_ann_filtered",
    "q_ann_recall",
    # r15 no-slot changes, value-identical by construction and re-proven
    # by the committed full local sweep LOCAL_CORRECTNESS_r15.json (the
    # r10 safe-drop rule):
    # - memoized source-read resolution (today memo.read_parquet /
    #   harness._t / harness_ext._spread_src and the artifact-loader
    #   reads): identical lazy plans, resolved once per (session, file
    #   content) — no plan or value change anywhere;
    # - q_ingest_admission drops the r14 `keyed` persist and
    #   q_dedup_containment_canonical returns to the in-plan canonical
    #   derivation (VERDICT r14 #3 re-adjudication, both 5-pair A/B
    #   losses for the r14 form) — value-identical reverts to the r13
    #   shapes, sf0.01 oracle re-runs PASS;
    # - _canon_postings became a loader over the `maintain
    #   canon-postings` artifact builder (VERDICT r14 #7) — stored
    #   relation unchanged, q_retrieval_mrr/map/q_hybrid_rrf re-gated;
    # - memo-build seconds telemetry (BENCH_DETAIL memo_build_sec) —
    #   observability only.
]


def _driver_verified_round() -> dict:
    """query -> most recent round with a PASSING driver CORRECTNESS row,
    read from the committed CORRECTNESS_r{N}.json artifacts (repo root).
    Only rows that passed count (hash_match true, or the weaker rows-only
    check: err == 'no_oracle' with a recorded spark_rows) — a failed or
    errored gate run must NOT look freshly verified, or a known-bad query
    would rotate to the back of the stalest-first window for rounds.
    Missing/unreadable artifacts degrade to 'never verified' (= run
    early), never to an import error."""
    import glob
    import json
    import os
    import re

    hist: dict = {}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(p) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for q, r in rows.items():
            if not isinstance(r, dict):
                continue
            passed = bool(r.get("hash_match")) or (
                r.get("err") == "no_oracle" and r.get("spark_rows") is not None
            )
            if passed:
                hist[q] = max(hist.get(q, -1), rnd)
    return hist


def _gate_order(names: list) -> list:
    changed = {n: i for i, n in enumerate(_GATE_CHANGED_THIS_ROUND)}
    hist = _driver_verified_round()
    stable = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            (0, changed[n], 0) if n in changed else (1, hist.get(n, -1), stable[n])
        ),
    )


def _compose_registry(ext_registry: dict) -> None:
    """Final REGISTRY assembly — callable from either side of the
    harness ⇄ harness_ext import cycle so BOTH import orders work
    (importing harness_ext first used to die on a partially-initialized
    module: its line-731 import of harness reached this file's bottom,
    which demanded harness_ext.EXT_REGISTRY before it existed)."""
    global REGISTRY
    merged = {**ext_registry, **_TPCH_R3, **_CORE_REGISTRY}
    REGISTRY = {n: merged[n] for n in _gate_order(list(merged))}


import sys  # noqa: E402

if sys.modules.get("mimic2ts_spark.harness_ext") is None:
    # normal order: we finish harness_ext's import right here
    from mimic2ts_spark.harness_ext import EXT_REGISTRY  # noqa: E402
else:
    # harness_ext is mid-import above us on the stack; its bottom line
    # calls _compose_registry once EXT_REGISTRY exists
    EXT_REGISTRY = None  # replaced by the composing call


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mimic2ts headline query on the harness tables: dense zero-filled
    per-bucket mean matrix (scan → join → bucketize → agg → dense → fill)."""
    agg = bucketed_events(spark, sf_dir).groupBy(
        "user_id", "event_type", "total_windows", "tidx"
    ).agg(_avg_exact(F.col("value"), "value"))
    dense = dense_reindex(agg, key_cols=("user_id", "event_type"))
    return zero_fill(dense).select("user_id", "event_type", "tidx", "value")
