"""Physical-plan regression tests: the scale properties the engine
promises (pushdown, pruning, broadcast dims, no duplicated subtrees,
bounded shuffle counts) must survive refactors. `.explain` output is the
contract — if one of these breaks, a 100 TB run regresses silently while
small-scale correctness stays green."""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from mimic2ts_spark import harness


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def utc(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # other test modules cache() the harness tables; a cached relation
    # would replace `Scan parquet` with InMemoryTableScan in every plan
    # this module pins, so drop all cache entries first
    spark.catalog.clearCache()
    return spark


def _count(pattern: str, s: str) -> int:
    return len(re.findall(pattern, s))


def test_q1_pushdown_and_single_shuffle(utc):
    s = _plan(harness.q_tpch_q1(utc, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in s
    # pruned scan: only the 6 needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m and len(m.group(1).split(",")) == 6, m.group(1)
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "SortMergeJoin" not in s


def test_q5_broadcasts_dims(utc):
    s = _plan(harness.q_tpch_q5(utc, SF))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s  # all dims broadcast at this scale
    assert _count(r"\(\d+\) Exchange", s) == 1  # only the final groupBy


def test_q5_hints_only_fixed_size_dims(utc):
    """Broadcast HINTS must exist only for nation/region (fixed 25/5 rows
    at every SF). `customer` is fact-scale: a forced broadcast OOMs at
    large SF, so it must rely on AQE's size-based choice instead — at
    this SF that still yields a broadcast (asserted above), but the hint
    count is the scale-safety contract."""
    logical = str(
        harness.q_tpch_q5(utc, SF)._jdf.queryExecution().logical()
    )
    assert logical.count("ResolvedHint (strategy=broadcast)") == 2, logical


def test_flagship_no_duplicate_scans(utc):
    """Dense reindex must not re-reference the aggregate subtree: exactly
    2 scans of events (fact + derived-stay dim), ≤3 exchanges."""
    s = _plan(harness.flagship(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 2
    assert _count(r"\(\d+\) Exchange", s) <= 3
    assert "BroadcastHashJoin" in s  # stay dim joins broadcast
    # no Python evaluation anywhere in the flagship plan
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_minhash_single_scan(utc):
    fn, _ = harness.REGISTRY["q_dedup_minhash"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 1
    # bucket shuffle + pair dedup + the deliberate compute-spread
    # round-robin repartition (input bytes must not gate parallelism)
    assert _count(r"\(\d+\) Exchange", s) <= 3


def test_filter_pushdown_reaches_scan(utc):
    s = _plan(harness.q_filter_isin(utc, SF))
    assert "PushedFilters" in s and "In(user_id" in s


def test_simhash_single_scan_single_shuffle(utc):
    """Banded simhash must not self-join (no duplicated signature
    subtree): one scan, exchanges bounded by band-shuffle + dedup."""
    fn, _ = harness.REGISTRY["q_dedup_simhash"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 1
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_ngram_inverted_index_no_nested_loop(utc):
    """Inverted-index Jaccard: the pair generation must be aggregation,
    not an all-pairs theta join."""
    fn, _ = harness.REGISTRY["q_dedup_ngram"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 1
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_embedding_near_dup_single_spread_shuffle(utc):
    """Broadcast-matmul near-dup: mapInPandas over the scan — no join
    operator; the only exchange is the deliberate O(n) repartition that
    spreads the O(n²) scoring (input bytes never gate parallelism)."""
    fn, _ = harness.REGISTRY["q_dedup_embedding"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "RoundRobinPartitioning" in s
    assert "Join" not in s


def test_empty_stay_sink_is_anti_join(utc):
    """S4 must be a LeftAnti join of requested vs produced stays — never a
    collected IN-list (a multi-million-literal filter at real stay
    counts) — and never a nested loop."""
    from mimic2ts_spark.sinks import missing_stays

    req = utc.range(10).selectExpr(
        "id AS stay_id", "CAST(5 AS BIGINT) AS total_windows"
    )
    prod = utc.range(6).selectExpr("id AS stay_id", "CAST(1 AS BIGINT) AS n_features")
    s = _plan(missing_stays(req, prod))
    assert "LeftAnti" in s, s
    assert " In(" not in s and "INSET" not in s.upper()
    assert "NestedLoop" not in s and "CartesianProduct" not in s


def test_fused_csv_sink_one_parallel_grouped_writer(utc, mimic_dir, tmp_path):
    """The CSV sink of all four sources is ONE Arrow grouped writer fed
    by ONE sparse bucket aggregate, with or without ffill (the writer
    fills each stay's grid). Exactly two hash Exchanges: the composite-key
    aggregate's, and an explicit hash repartition on stay_id to the
    session's default parallelism under the writer, which AQE may not
    coalesce (a coalesced sink runs the CPU-bound writer as one task).
    One broadcast stay dim, and no dense-grid machinery: no
    ObjectHashAggregate (collect_list series) and no Window (ffill)."""
    from mimic2ts_spark.pipeline import EventsAggregator, tagged_long_form
    from mimic2ts_spark.sinks import write_stay_matrices

    n = utc.sparkContext.defaultParallelism
    for ffill in (False, True):
        aggs = EventsAggregator(utc, mimic_dir, str(tmp_path), ffill=ffill).aggregators
        assert len(aggs) == 4
        names = tuple(a.name for a in aggs)
        s = _plan(write_stay_matrices(tagged_long_form(aggs), str(tmp_path), names))
        assert _count(r"\(\d+\) FlatMapGroupsInArrow", s) == 1, s
        assert _count(r"\(\d+\) BroadcastExchange", s) == 1, s
        assert _count(r"\(\d+\) ObjectHashAggregate", s) == 0, s
        assert _count(r"\(\d+\) Window", s) == 0, s
        exchanges = re.findall(r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (.*)", s)
        assert len(exchanges) == 2, s
        assert any(
            re.match(r"hashpartitioning\(stay_id#\d+L, source#\d+, feature_id#\d+L, "
                     r"total_windows#\d+L, tidx#\d+L, \d+\), ENSURE_REQUIREMENTS", a)
            for a in exchanges
        ), exchanges
        tree = s.split("\n\n")[0]
        m = re.search(r"FlatMapGroupsInArrow \(\d+\)\n(?:.*\n)*?.*?\bExchange \((\d+)\)", tree)
        assert m, tree
        args = re.search(rf"\({m.group(1)}\) Exchange\n(?:.*\n)*?Arguments: (.*)", s).group(1)
        assert re.match(rf"hashpartitioning\(stay_id#\d+L, {n}\), REPARTITION_BY_NUM", args), args


def test_bucketed_join_skips_shuffle(utc, tmp_path):
    """Pay the shuffle once at write time: two tables bucketed on the
    join key must equi-join with ZERO Exchange operators (co-located
    sort-merge join reading bucket files directly)."""
    from mimic2ts_spark.operators.spread import write_bucketed

    li = utc.read.parquet(f"{SF}/lineitem.parquet").select("l_orderkey", "l_quantity")
    od = utc.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_orderdate")
    write_bucketed(li, "l_orderkey", "t_li_bucketed", 8, str(tmp_path / "li"))
    write_bucketed(od, "o_orderkey", "t_od_bucketed", 8, str(tmp_path / "od"))
    try:
        joined = utc.table("t_li_bucketed").join(
            utc.table("t_od_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        s = _plan(joined)
        assert _count(r"\(\d+\) Exchange", s) == 0, s
        assert joined.count() > 0
    finally:
        utc.sql("DROP TABLE IF EXISTS t_li_bucketed")
        utc.sql("DROP TABLE IF EXISTS t_od_bucketed")


def test_asof_join_is_union_window_no_join(utc):
    """The as-of join must stay in its union-merge form: zero join
    operators, exactly one window, and <= 2 exchanges (build-side
    pre-agg + the key-partitioned window). A range-join or nested-loop
    formulation here is quadratic per key at scale."""
    s = _plan(harness.q_asof_join(utc, SF))
    assert "NestedLoopJoin" not in s and "CartesianProduct" not in s
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s
    assert _count(r"\(\d+\) Window", s) == 1
    assert _count(r"\(\d+\) Exchange", s) <= 2
    assert "BatchEvalPython" not in s


def test_range_join_is_bucketed_equi_join(utc):
    """The interval match must compile to an EQUI-join on (key, bucket)
    — never a BroadcastNestedLoopJoin/CartesianProduct, which is what
    Spark plans for a raw inequality join and is O(points x intervals)
    per key at 100 TB."""
    s = _plan(harness.q_range_join(utc, SF))
    assert "NestedLoopJoin" not in s and "CartesianProduct" not in s
    assert "BatchEvalPython" not in s
    # bounded shuffles: bucket join + per-interval agg (+ AQE variance)
    assert _count(r"\(\d+\) Exchange", s) <= 3


def test_q6_full_pushdown_pruned_scan(utc):
    """Q6 is the pushdown showcase: every predicate reaches the parquet
    reader, the scan reads only the 4 referenced columns, and the only
    exchange is the final single-row reduce."""
    s = _plan(harness.q_tpch_q6(utc, SF))
    assert "PushedFilters" in s
    for f in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
              "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
              "LessThan(l_quantity,24.0)"):
        assert f in s, f
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m and len(m.group(1).split(",")) == 4, m.group(1)
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "SortMergeJoin" not in s and "Join" not in s


def test_q3_no_forced_broadcast_and_single_agg_shuffle(utc):
    """Q3's customer/orders are fact-scale: the plan must not contain a
    forced broadcast hint artifact (ResolvedHint) — AQE decides; and no
    nested-loop join may appear."""
    s = _plan(harness.q_tpch_q3(utc, SF))
    assert "NestedLoopJoin" not in s and "CartesianProduct" not in s
    assert "BatchEvalPython" not in s
    # filters pushed on all three inputs
    assert s.count("PushedFilters: [") >= 3


def test_q18_no_forced_broadcast_and_semi_join(utc):
    """The HAVING agg must reach the fact as a semi join whose build
    side is AQE-sized (small by construction) — never a manual
    broadcast hint, and never a plan that re-scans lineitem per probe
    (one scan per logical use: agg + probe = 2)."""
    s = _plan(harness.q_tpch_q18(utc, SF))
    assert "LeftSemi" in s
    assert "ResolvedHint" not in s
    assert _count(r"lineitem\.parquet", s) == 2, s


def test_unpivot_is_map_side_only(utc):
    """Unpivot = Expand over the scan: no exchange, no join, and the
    scan reads only the six projected columns."""
    s = _plan(harness.q_unpivot(utc, SF))
    assert "Expand" in s
    assert _count(r"\(\d+\) Exchange", s) == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m and len(m.group(1).split(",")) == 6, m.group(1)


def test_stratified_sample_is_pure_scan_filter(utc):
    """The stratified sample is a Filter directly over the scan: no
    shuffle, no Python eval, and the rate CASE folded into one
    predicate."""
    s = _plan(harness.q_sample_stratified(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) == 0
    assert "BatchEvalPython" not in s
    assert _count(r"\(\d+\) Filter", s) == 1


def test_quantiles_single_shuffle(utc):
    s = _plan(harness.q_quantiles(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "BatchEvalPython" not in s


def test_topk_hash_sample_uses_window_group_limit(utc):
    """The rank<=k filter must push into WindowGroupLimit (per-partition
    top-k heaps before the single window shuffle) — without it the plan
    fully sorts every stratum just to throw away all but k rows."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_sample_topk_hash(utc, SF))
    assert "WindowGroupLimit" in s
    # window shuffle + the _docs compute-spread repartition
    assert _count(r"\(\d+\) Exchange", s) <= 2
    assert "BatchEvalPython" not in s


def test_log_compact_uses_window_group_limit(utc):
    """Compaction's rank<=1 must plan as WindowGroupLimit (per-partition
    latest-row heaps), and the tombstone filter must not add a second
    shuffle."""
    s = _plan(harness.q_log_compact(utc, SF))
    assert "WindowGroupLimit" in s
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "BatchEvalPython" not in s


def test_salted_join_is_shuffled_hash_not_broadcast(utc):
    """The salted join exists to spread reduce-side hot keys, which only
    happens in a shuffled join — a broadcast plan would make the salt
    dead code (and the 16x dim replication pure waste)."""
    s = _plan(harness.q_join_salted(utc, SF))
    assert "ShuffledHashJoin" in s, s
    assert "BroadcastHashJoin" not in s


def test_bloom_join_probe_filter_below_fact_exchange(utc):
    """q_join_bloom's whole point is the fact-side prune BEFORE the
    join shuffle: the probe filter (md5-slice positions + element_at
    bit tests) must sit between the orders scan and its Exchange, the
    join must be shuffled (a broadcast plan has no fact shuffle to
    save), and the result must equal the plain join bit-for-bit."""
    from mimic2ts_spark import harness_ext

    df = harness_ext.q_join_bloom(utc, SF)
    s = _plan(df)
    assert "ShuffledHashJoin" in s or "SortMergeJoin" in s
    assert "BroadcastHashJoin" not in s
    # the probe filter references the folded word array via element_at
    # and feeds the exchange (fact side scans orders)
    assert "element_at" in s and "md5" in s
    fact_scan = s.index("orders.parquet")
    assert "element_at" in s[: fact_scan + 2000], "probe filter not on fact side"
    plain = (
        utc.read.parquet(f"{SF}/orders.parquet")
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("c_custkey"),
            "o_totalprice",
        )
        .join(
            utc.read.parquet(f"{SF}/customer.parquet")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey", "c_name"),
            "c_custkey",
        )
        .select("o_orderkey", "c_custkey", "c_name", "o_totalprice")
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, plain.collect()))


def test_q14_pushdown_no_hint(utc):
    """Q14: the date range reaches the parquet reader, no manual
    broadcast hint on fact-scale part (AQE sizes the join), one
    aggregation exchange (+ the join's own, when AQE picks shuffle)."""
    s = _plan(harness.q_tpch_q14(utc, SF))
    assert "PushedFilters" in s and "l_shipdate" in s
    assert "ResolvedHint" not in s
    assert _count(r"\(\d+\) Exchange", s) <= 3


def test_multimodal_frames_resize_no_join_one_exchange(utc):
    """Frame sampling and resize are a metadata filter + mapInPandas
    over the scan: no join operator, and the only exchange is the
    deliberate compute-spread repartition."""
    from mimic2ts_spark import harness_ext

    for fn in (harness_ext.q_multimodal_frames, harness_ext.q_multimodal_resize):
        s = _plan(fn(utc, SF))
        assert "Join" not in s
        assert _count(r"\(\d+\) Exchange", s) <= 1


def test_epoch_shuffle_one_exchange_no_global_sort(utc):
    """The epoch shuffle must pay ONE shuffle (the shard key) and sort
    only WITHIN shards (window sort after the exchange) — a global Sort
    exchange (rangepartitioning) would be the 100 TB anti-pattern this
    operator exists to avoid."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_epoch_shuffle(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) == 1, s
    assert "rangepartitioning" not in s.lower(), s
    assert "Join" not in s


def test_pq_encode_single_pass_no_join(utc):
    """The r05 PQ redesign: encode emits all M subspace codes from ONE
    Arrow kernel pass — no M-way vec_id self-join (the r04 plan paid 3
    shuffle joins here), no exchange at all for the encode, and the ADC
    / IVF-PQ scorers add only the TakeOrdered top-k (no join between
    encode and scoring)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_pq_encode(utc, SF))
    assert "Join" not in s, s
    # only the deliberate compute-spread repartition on the scan
    assert _count(r"\(\d+\) Exchange", s) <= 1, s
    # q_ann_ivfpq serves from the persisted IVFADC artifact since r14
    # (X231): probed cells push a static In(cid, …) PARTITION filter
    # into the cid-partitioned codes scan (reads only its cells'
    # files), kernel + WindowGroupLimit, no join, no TakeOrdered
    s = _plan(harness_ext.q_ann_ivfpq(utc, SF))
    assert "Join" not in s, s
    assert "WindowGroupLimit" in s, s
    assert "PartitionFilters: [cid" in s, s
    # q_ann_pq serves from the persisted codes artifact since r14
    # (VERDICT r13 #2): one kernel pass over the stored 4-int rows,
    # map-side partial + final WindowGroupLimit around ONE hash
    # exchange, still no join anywhere
    s = _plan(harness_ext.q_ann_pq(utc, SF))
    assert "Join" not in s, s
    assert "WindowGroupLimit" in s, s
    assert _count(r"\(\d+\) Exchange", s) == 1, s


def test_q17_decorrelated_two_fact_scans(utc):
    """The correlated scalar subquery must be decorrelated into a
    per-part aggregate joined back (2 lineitem scans total) — never a
    per-row re-execution (nested loop / cartesian)."""
    s = _plan(harness.q_tpch_q17(utc, SF))
    assert _count(r"lineitem\.parquet", s) == 2, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_window_range_single_shuffle(utc):
    s = _plan(harness.q_window_range(utc, SF))
    assert _count(r"\(\d+\) Window", s) == 1
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert "BatchEvalPython" not in s


def test_runtime_bloom_filter_injects_at_scale_thresholds(utc):
    """Catalyst's runtime bloom filter: a selective filter on the
    creation side injects might_contain on the application side's scan,
    pruning fact rows before the shuffle. The application-side scan
    threshold (default 10 GB) exists so this only fires at real scan
    sizes — at 100 TB it triggers out of the box; here it is lowered to
    demonstrate and pin the rewrite, and restored afterwards (leaked
    conf would perturb every other plan pin)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: utc.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            utc.conf.set(k, v)
        o = utc.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_totalprice") > 400000
        )
        li = utc.read.parquet(f"{SF}/lineitem.parquet")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        s = _plan(j)
        assert "might_contain" in s, s
        with_bloom = j.count()
    finally:
        for k, v in saved.items():
            if v is None:
                utc.conf.unset(k)
            else:
                utc.conf.set(k, v)
    # the filter is pruning-only: result identical without it
    o2 = utc.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_totalprice") > 400000
    )
    li2 = utc.read.parquet(f"{SF}/lineitem.parquet")
    assert with_bloom == li2.join(o2, F.col("l_orderkey") == F.col("o_orderkey")).count()


def test_q4_exists_is_semi_join_no_dedup(utc):
    """EXISTS must plan as ONE LeftSemi join — no inner join + distinct
    (which would shuffle the multi-matched fact rows just to throw them
    away) and no per-order subquery re-execution."""
    s = _plan(harness.q_tpch_q4(utc, SF))
    assert "LeftSemi" in s
    assert _count(r"\(\d+\) HashAggregate", s) == 2  # partial+final count only
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_q13_outer_join_filter_stays_in_join(utc):
    """The orders-side filter must sit below/inside the LEFT OUTER join
    (pushed to the orders scan), never above it — above would delete the
    zero-order customers the query exists to count."""
    s = _plan(harness.q_tpch_q13(utc, SF))
    assert "LeftOuter" in s
    m = re.search(r"PushedFilters: \[([^\]]*)", s)
    # the <> '1-URGENT' predicate reached the orders scan
    assert "1-URGENT" in s and "Not(EqualTo(o_orderpriority" in s, m


def test_q19_disjunction_pushed_per_side(utc):
    """Catalyst must extract each side's component of the OR-of-ANDs and
    push it into that side's scan: the lineitem scan gets the quantity
    ranges, the part scan gets brand/size, and both reads are pruned."""
    s = _plan(harness.q_tpch_q19(utc, SF))
    assert _count(r"Or\(", s) >= 2  # pushed disjunctions on both scans
    assert "l_quantity,1" in s.replace(" ", "")  # quantity bound reached scan
    assert "p_brand" in s and "Brand#12" in s
    m = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert any(len(x.split(",")) == 4 for x in m), m  # pruned lineitem read


def test_q22_anti_join_and_one_row_scalar(utc):
    """NOT EXISTS must plan as LeftAnti; the scalar-avg subquery joins as
    a 1-row broadcast (BroadcastNestedLoopJoin over a single aggregated
    row is fine — the build side is one row by construction), and the
    date filter reaches the orders scan so the anti build side is small."""
    s = _plan(harness.q_tpch_q22(utc, SF))
    assert "LeftAnti" in s
    assert "GreaterThanOrEqual(o_orderdate" in s  # pushed to orders scan
    assert _count(r"CartesianProduct", s) == 0


def test_scd2_single_shuffle_shared_sort(utc):
    """Both SCD2 windows (change-detect lag, interval-close lead) order
    by the same key, so the build must cost ONE exchange and ONE sort —
    a second exchange/sort means the window specs drifted apart."""
    s = _plan(harness.q_scd2(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert _count(r"\(\d+\) Sort\b", s) == 1
    assert _count(r"\(\d+\) Window\b", s) == 2
    assert "BatchEvalPython" not in s


def test_text_repetition_no_python_no_cartesian(utc):
    """Repetition signals stay JVM-side: tokenize-once slices + zip_with
    (no element_at-in-HOF re-evaluation), wordcount-shaped gram count,
    and a single equi-join back to the row-local stats."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_text_repetition(utc, SF))
    assert "BatchEvalPython" not in s
    assert "CartesianProduct" not in s and "NestedLoop" not in s
    assert _count(r"element_at", s) == 0


def test_join_bucketed_query_single_agg_exchange(utc):
    """The driver-gated bucketed-join query must read both bucketed
    tables co-located: a SortMergeJoin with NO exchange below it — the
    single Exchange in the plan belongs to the final aggregate."""
    s = _plan(harness.q_join_bucketed(utc, SF))
    assert "SortMergeJoin" in s
    assert _count(r"\(\d+\) Exchange", s) == 1, s


def test_q21_single_lineitem_scan_two_exchanges(utc):
    """Q21's double-correlated EXISTS/NOT-EXISTS must NOT plan as fact
    self-joins: one lineitem scan feeding one window shuffle, plus the
    final agg exchange — and every dim join broadcast."""
    s = _plan(harness.q_tpch_q21(utc, SF))
    assert _count(r"lineitem\.parquet", s) == 1, "lineitem self-join crept in"
    assert _count(r"\(\d+\) Exchange", s) == 2, s
    assert "SortMergeJoin" not in s
    assert _count(r"- BroadcastExchange \(", s) == 3, "expected 3 broadcast dims"


def test_q10_topk_is_take_ordered(utc):
    """Q10's deterministic top-20 must plan as TakeOrderedAndProject
    (per-partition heaps + merge) — never a global Sort of every
    customer group, which materializes the full sorted set at scale."""
    s = _plan(harness.q_tpch_q10(utc, SF))
    assert "TakeOrderedAndProject" in s
    assert _count(r"\(\d+\) Sort\b", s) == 0, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_q2_correlated_min_is_one_window(utc):
    """Q2's per-part minimum-cost supplier must be ONE window pass over
    the per-(part,supplier) aggregate — not a groupBy + self-join that
    re-derives the join tree twice."""
    s = _plan(harness.q_tpch_q2(utc, SF))
    assert _count(r"\(\d+\) Window", s) == 1
    assert _count(r"lineitem\.parquet", s) == 1, "aggregate re-derivation"
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_q15_scalar_max_is_single_row_broadcast(utc):
    """Q15's max-revenue threshold is a 1-row broadcast joined back to
    the per-supplier aggregate: the lineitem scan feeds BOTH the
    aggregate and the max (two scans max), with no shuffle join."""
    s = _plan(harness.q_tpch_q15(utc, SF))
    assert _count(r"lineitem\.parquet", s) <= 2
    assert "SortMergeJoin" not in s


def test_incremental_dedup_one_scan_no_cartesian(utc):
    """Delta-vs-corpus dedup must derive BOTH posting sides from one
    persisted shingle pass (a second parquet scan means the cache was
    bypassed) and pair via the code equi-join — never a cross join."""
    fn, _ = harness.REGISTRY["q_dedup_incremental"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 1, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s


def test_pack_sequences_single_shard_shuffle(utc):
    """Sequence packing is one window over the shard key: exactly one
    hash-partition exchange on shard and one Window, so the layout
    parallelizes across shards at scale."""
    fn, _ = harness.REGISTRY["q_pack_sequences"]
    s = _plan(fn(utc, SF))
    assert _count(r"\(\d+\) Window", s) == 1
    assert _count(r"hashpartitioning\(shard", s) >= 1, s


def test_embedding_stats_partial_agg(utc):
    """The 64x posexplode fan-out must combine map-side: partial
    HashAggregates before the single (label, dim) exchange."""
    fn, _ = harness.REGISTRY["q_embedding_stats"]
    s = _plan(fn(utc, SF))
    assert _count(r"HashAggregate", s) >= 2
    assert _count(r"hashpartitioning\(label", s) >= 1, s
    assert "BatchEvalPython" not in s


def test_funnel_single_exchange_three_windows(utc):
    """The three dependent funnel mins share ONE user_id partitioning:
    three Window nodes, one Exchange, and the per-user collapse reuses
    the same partitioning (no second shuffle)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_event_funnel(utc, SF))
    assert _count(r"\(\d+\) Window", s) == 3, s
    assert _count(r"\(\d+\) Exchange", s) == 1, s
    assert "BatchEvalPython" not in s


def test_bm25_take_ordered_no_smj(utc):
    """Top-k must be TakeOrderedAndProject (per-partition heaps, no
    global sort); the per-term df side joins by broadcast; the only
    nested-loop join is the 1-row corpus-totals scalar."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_search_bm25(utc, SF))
    assert "TakeOrderedAndProject" in s
    assert "SortMergeJoin" not in s
    assert _count(r"\(\d+\) BroadcastHashJoin", s) == 1, s
    # ≤3 corpus scans statically; at runtime AQE reuses the tf exchange
    # for the df aggregation (verified: ReusedExchange in the final
    # adaptive plan), so the corpus is read twice (tf + totals)
    assert _count(r"\(\d+\) Scan parquet", s) <= 3, s


def test_decontaminate_two_scans_no_rescans(utc):
    """One shingle pass per side: exactly 2 corpus scans (train +
    benchmark), no cartesian, and the md5 token pass must NOT be
    re-inlined under a pushed filter (the filter is on a source
    predicate, so no `conv(substring(md5` may appear in PushedFilters
    or PartitionFilters sections)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_decontaminate(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_corpus_diff_md5_before_join(utc):
    """Snapshot diff: payload is reduced to md5 BELOW the full-outer
    join (the Project containing the md5 sits on the scan side), so
    text bytes never cross the join shuffle."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_corpus_diff(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s
    assert "FullOuter" in s
    # the join-side exchanges move only (doc_id, md5) — never text bytes
    exch_inputs = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", s)
    join_exchs = [e for e in exch_inputs if "md5" in e]
    assert len(join_exchs) == 2 and all("text" not in e for e in join_exchs), s


def test_embedding_normalize_broadcast_stats(utc):
    """Per-dim (min,max) is a 64-row broadcast join back onto the
    exploded values — no shuffle of the big side on dim."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_embedding_normalize(utc, SF))
    assert _count(r"\(\d+\) BroadcastHashJoin", s) == 1, s
    assert "SortMergeJoin" not in s
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s


def test_span_dedup_two_scans_no_window(utc):
    """Span dedup is pure hash machinery: the wordcount-then-join shape
    re-derives the cheap span cut instead of persisting a corpus-sized
    cache (2 scans), joins on uniform md5 keys (no SMJ at this scale,
    no cartesian), and rebuilds docs in ONE aggregate — no Window, no
    Python."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_dedup_spans(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s
    assert _count(r"\(\d+\) Window", s) == 0
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_tfidf_topk_is_window_group_limit(utc):
    """The per-doc top-k rank must plan as WindowGroupLimit
    (per-partition heaps — never a full per-doc sort materialized), and
    the vocab join must carry NO broadcast hint (AQE decides): exactly
    one BroadcastHashJoin (the 1-row totals after AQE upgrade) at this
    scale, zero ResolvedHint(broadcast) beyond the totals."""
    from mimic2ts_spark import harness_ext

    df = harness_ext.q_tfidf_keywords(utc, SF)
    s = _plan(df)
    assert "WindowGroupLimit" in s
    assert "CartesianProduct" not in s
    logical = str(df._jdf.queryExecution().logical())
    assert logical.count("ResolvedHint (strategy=broadcast)") == 1, logical


def test_pagerank_single_edge_derivation(utc):
    """The PageRank loop must derive the edge list ONCE (persisted —
    exactly one lineitem and one orders scan in the 3-round plan) and
    never plan an all-pairs join; rank state stays distributed (no
    collect-shaped 1-partition exchange)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_graph_pagerank(utc, SF))
    assert _count(r"lineitem\.parquet", s) == 1, s
    assert _count(r"orders\.parquet", s) == 1, s
    assert "CartesianProduct" not in s and "NestedLoop" not in s
    assert "SinglePartition" not in s, "rank state collapsed to one partition"


def test_event_transitions_one_user_shuffle_then_wgl(utc):
    """Transitions: the lead() window shuffles on user_id once; the
    per-src top-k plans as WindowGroupLimit; nothing else shuffles
    beyond the tiny (src, dst) agg + rank repartition."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_event_transitions(utc, SF))
    assert _count(r"hashpartitioning\(user_id", s) >= 1, s
    assert "WindowGroupLimit" in s
    assert _count(r"\(\d+\) Exchange", s) <= 3, s
    assert "BatchEvalPython" not in s


def test_incremental_agg_pushes_both_cutoff_predicates(utc):
    """State-merge must prune at the SCAN: the history side pushes
    ts < cutoff and the delta side pushes ts >= cutoff (at 100 TB the
    delta scan is the only fresh I/O). Union of two partial aggs +
    one merge agg — no join anywhere."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_incremental_agg(utc, SF))
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts" in s, s
    assert "PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts" in s, s
    assert "Join" not in s, s


def test_event_ema_single_shuffle_no_python(utc):
    """The sequential EMA recurrence must run as a JVM fold: one
    user_id exchange for the groupBy, zero Window nodes, zero Python
    evaluation."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_event_ema(utc, SF))
    assert _count(r"\(\d+\) Exchange", s) <= 2, s
    assert _count(r"\(\d+\) Window", s) == 0
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_zorder_layout_scan_side_key_math(utc):
    """The Morton key is per-row expression math over a 1-row broadcast
    range scalar: exactly 2 lineitem scans (ranges + facts), no shuffle
    join, and the stats agg is the only hash-partition exchange."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_zorder_layout(utc, SF))
    assert _count(r"lineitem\.parquet", s) == 2, s
    assert "SortMergeJoin" not in s
    assert _count(r"hashpartitioning\(zbucket", s) == 1, s


def test_winsorize_broadcast_cuts(utc):
    """The per-group cut points must come back as a BROADCAST join (the
    cut table is |groups| rows); the fact is scanned for cuts + clip
    (2 scans), never shuffled for the join."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_winsorize(utc, SF))
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s


def test_rolling_actives_bounded_fanout_no_cartesian(utc):
    """The sliding-distinct explode is the bounded 7x fan-out of the
    DEDUPED (user, day) set — applied after the distinct aggregate, not
    to raw events — and the day-clip join must not be a nested loop."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_rolling_actives(utc, SF))
    assert "CartesianProduct" not in s and "NestedLoop" not in s
    assert "Generate" in s
    # (user, day) distinct agg + day-dim distinct + final count-distinct
    # (each two-phase) — the dedup-then-explode structure
    assert _count(r"HashAggregate", s) >= 5, s


def test_skew_report_take_ordered(utc):
    """The global top-10 must be TakeOrderedAndProject (per-partition
    heaps), never a full sort of the per-key counts."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_skew_report(utc, SF))
    assert "TakeOrderedAndProject" in s
    assert _count(r"\(\d+\) Sort\b", s) == 0, s


def test_quality_gate_one_scan(utc):
    """Every rule must evaluate in the SAME scan: one parquet scan, one
    Expand/stack, one aggregate exchange — a scan per rule is the
    anti-pattern this operator exists to avoid."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_quality_gate(utc, SF))
    assert _count(r"\(\d+\) Scan parquet", s) == 1, s
    assert "Join" not in s
    assert "BatchEvalPython" not in s


def test_layout_sorted_pushes_range_predicate(utc):
    """The sorted-layout readback must push the user band to the scan
    of the freshly written sorted files (min/max skipping depends on
    it) — and return exactly the unsorted table's answer."""
    from mimic2ts_spark import harness_ext

    df = harness_ext.q_layout_sorted(utc, SF)
    s = _plan(df)
    assert "PushedFilters: [IsNotNull(user_id), GreaterThanOrEqual(user_id" in s, s
    assert "LessThanOrEqual(user_id" in s


def test_kmeans_persisted_base_no_cartesian(utc):
    """The Lloyd loop must reuse ONE persisted quantized base
    (InMemoryTableScan in every round's assignment — never a re-scan
    lineage per round) and the only join is the k-row centroid
    broadcast: no CartesianProduct, no SortMergeJoin, no Python."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_kmeans(utc, SF))
    assert "InMemoryTableScan" in s, "quantized base not persisted"
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_dsir_broadcast_stats_take_ordered(utc):
    """DSIR importance weights: the B-row bucket-stats table must join by
    broadcast (map-side scoring), top-k must be per-partition heaps, and
    no Python evaluation anywhere. Two corpus scans by design (stats
    pass + scoring pass — cheaper than persisting a token-level
    intermediate at corpus scale)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_dsir_weights(utc, SF))
    assert "TakeOrderedAndProject" in s
    assert _count(r"\(\d+\) BroadcastHashJoin", s) == 1, s
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s
    assert _count(r"\(\d+\) Scan parquet", s) == 2, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_bpe_apply_vocab_join_shape(utc):
    """Tokenizer application: the vocab side must come from the
    PERSISTED train table (InMemoryTableScan — merges run once per vocab
    word, not per occurrence), the doc-stream join is a shuffle on word
    (either join family is fine; no cartesian), and no row-wise Python
    appears (the merge fold is a JVM HOF over vocab rows)."""
    from mimic2ts_spark import harness_ext

    s = _plan(harness_ext.q_bpe_apply(utc, SF))
    assert "InMemoryTableScan" in s, "train vocab not persisted"
    assert "CartesianProduct" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_registry_global_plan_invariants(utc):
    """Whole-registry regression net: NO query may plan a row-wise
    Python UDF (BatchEvalPython) or an undeclared all-pairs join.
    BroadcastNestedLoopJoin is allowed only for the three declared
    1-row-scalar / baseline patterns. Streaming queries (executed on
    call) and side-effecting source/sink round trips are exercised by
    the correctness gate instead."""
    allowed_bnlj = {
        "q_ann_bruteforce",  # declared all-pairs correctness baseline
        "q_tpch_q11",        # 1-row grand-total scalar cross join
        "q_tpch_q22",        # 1-row scalar average cross join
        "q_tpch_q15",        # 1-row scalar max cross join (AQE may BHJ it)
        "q_source_drift",    # 1-row total-token-count scalar cross join
        "q_search_bm25",     # 1-row corpus-totals (N, sum dl) cross join
        "q_search_bm25_pruned",  # same corpus-totals scalar cross join
        "q_tfidf_keywords",  # 1-row corpus-count scalar cross join
        "q_zorder_layout",   # 1-row (min,max) range scalar cross join
        "q_kmeans",          # k-row centroid broadcast cross join (declared)
        "q_dedup_semantic",  # same centroid cross join inside kmeans_assign
        "q_dedup_semantic_canonical",  # same centroid cross join (canonical base)
        "q_skew_report",     # 1-row total-count scalar cross join
        "q_graph_triangles",  # 1-row multiplicity-stats scalar cross join (r04 derived threshold)
        "q_mixture_temperature",  # 1-row total-weight scalar cross join
        "q_hybrid_rrf",      # BM25 corpus-totals scalar cross join (lexical leg)
        "q_hard_negatives",  # declared per-query brute-force leg (bounded query side)
        "q_embedding_truncation",  # declared brute-force evaluation baseline (bounded query side)
        "q_ann_recall",  # declared exact-panel brute-force leg (bounded 32-query side)
        "q_ann_filtered",  # declared exact route over the allowed subset (bounded 8-query side)
        "q_mmr_rerank",  # declared brute-force candidate leg (bounded query side)
        "q_sketch_join_card",  # four 1-row scalar sketch/exact cross joins
        # (q_search_substring retired from the registry r12 — the indexed
        # twin's exact verify joins candidates by doc_id, no cross join)
        "q_ann_knn_beam",  # 4-row entry-seed scalar cross join (declared)
        "q_retrieval_mrr",  # 1-row corpus-totals scalar cross join (BM25)
        "q_retrieval_map",  # same 1-row corpus-totals scalar cross join
        "q_lexical_vector_topk",  # declared brute-force leg (5-query side)
        "q_sample_apportion",  # 1-row grand-total scalar cross join
        "q_assoc_rules",  # 1-row basket-count scalar cross join
        "q_assoc_rules_longtail",  # same 1-row basket-count scalar cross join
    }
    skip = {
        "q_sink_partitioned",
        "q_source_jsonl",
        "q_source_orc",
        "q_source_csv_gz",
        "q_layout_sorted",  # side-effecting write; pinned by its own test
        "q_merge_upsert",   # side-effecting write; pinned by tests/test_merge.py
        "q_merge_changelog",  # side-effecting write_base; pinned by tests/test_merge.py
        "q_merge_versioned",  # side-effecting versioned commit; tests/test_versioned.py
        "q_time_travel",      # side-effecting versioned commit; tests/test_versioned.py
        "q_versioned_lookup",  # side-effecting versioned commit; tests/test_versioned.py
        "q_versioned_compact",  # side-effecting versioned commit; tests/test_versioned.py
        "q_version_diff",     # side-effecting versioned commit; tests/test_versioned.py
        "q_schema_evolution",  # side-effecting versioned commit; tests/test_versioned.py
        "q_versioned_count",  # side-effecting versioned commit; tests/test_versioned.py
        "q_cdf_refresh",      # side-effecting versioned commit; tests/test_versioned.py
        "q_compact_files",  # side-effecting write; pinned by tests/test_merge.py
    }
    problems = []
    for name, (fn, _) in harness.REGISTRY.items():
        if name.startswith("q_stream") or name in skip:
            continue
        s = _plan(fn(utc, SF))
        if "BatchEvalPython" in s:
            problems.append(f"{name}: row-wise Python UDF")
        if "CartesianProduct" in s:
            problems.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in s and name not in allowed_bnlj:
            problems.append(f"{name}: undeclared BroadcastNestedLoopJoin")
    assert not problems, problems


def test_stream_builders_batch_equivalent_plans(utc):
    """q_stream_* queries are skipped by the global plan net (they
    execute on call), so a regression in the SHARED transformation
    builders could only surface as a slow drain. Pin the three heaviest
    builders' plans on BATCH inputs (withWatermark is a no-op in batch;
    the Column logic is identical to what each microbatch runs):
    - ingest dedup gate: the corpus posting index is PERSISTED (built
      once, reused by every microbatch), candidates come from an
      equi-join on code — never a cartesian — and no row-wise Python;
    - attribution join: ONE equi-join on user_id with the interval
      range INSIDE the join condition (the bounded-state shape —
      a post-join filter would mean unbounded buffered state), and the
      event-type split pushed to the scan;
    - tumbling agg: partial aggregation (map-side combine) with exactly
      one exchange."""
    from mimic2ts_spark import streaming as ST

    ev = utc.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    docs = utc.read.parquet(f"{SF}/documents.parquet")

    s = _plan(
        ST.incremental_dedup_stream(
            docs.where(F.col("doc_id") % 10 == 0),
            docs.where(F.col("doc_id") % 10 != 0),
        )
    )
    assert "InMemoryTableScan" in s or "InMemoryRelation" in s, "corpus index not persisted"
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s

    s = _plan(
        ST.attribution_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        )
    )
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert re.search(r"Left keys \[1\]: \[c_user", s), "join not keyed on user"
    m = re.search(r"Join condition: (.*)", s)
    assert m and "c_ts" in m.group(1), "interval range not inside the join condition"
    assert "EqualTo(event_type,purchase)" in s  # split pushed to the scan
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s

    s = _plan(ST.tumbling_agg(ev))
    assert _count(r"\(\d+\) Exchange", s) == 1
    assert _count(r"\(\d+\) HashAggregate", s) == 2  # partial + final
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_aqe_skew_join_splits_hot_key(utc):
    """The session's AQE skew-join config must actually FIRE: a join
    whose hot key exceeds the skew threshold is split at runtime
    (SortMergeJoin(skew=true) + AQEShuffleRead skewed in the FINAL
    adaptive plan). Thresholds are lowered in-test so a ~2 MB hot
    partition triggers what a multi-GB partition triggers at scale —
    this is the mechanism the README's skew story relies on for keys
    AQE can split (salting covers the rest)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # the shared test session runs 4 shuffle partitions — at 4, the
        # hot key's partition also holds 1/4 of all cold keys and never
        # exceeds factor x median; 32 isolates it (as at scale)
        "spark.sql.shuffle.partitions": "32",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = utc.conf.get(k)
        except Exception:
            old[k] = None
        utc.conf.set(k, v)
    try:
        left = utc.range(200000).selectExpr(
            "CASE WHEN id % 10 = 0 THEN CAST(0 AS BIGINT) ELSE id END AS k",
            "id AS v",
            "repeat('x', 64) AS pad",
        )
        right = utc.range(1000).selectExpr("id AS k", "id AS w")
        j = left.join(right, "k")
        assert len(j.collect()) == 20900
        s = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in s, s[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                utc.conf.unset(k)
            else:
                utc.conf.set(k, v)


def _hint_subtrees(df) -> list[list[str]]:
    """Subtree lines of every ResolvedHint in the LOGICAL plan (the
    hints are gone by the optimized plan, so the contract is pinned
    where it is still visible)."""
    s = str(df._jdf.queryExecution().logical())
    lines = s.split("\n")

    def depth(line: str) -> int:
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        return i

    subs = []
    for h, line in enumerate(lines):
        if "ResolvedHint" not in line:
            continue
        d = depth(line)
        sub = []
        for j in range(h + 1, len(lines)):
            if depth(lines[j]) <= d:
                break
            sub.append(lines[j])
        subs.append(sub)
    return subs


def _assert_bounded_broadcasts(df):
    """Every broadcast-hinted subtree must be panel-bounded: it either
    contains a GlobalLimit (the `.limit(panel)` bound) or is rooted at
    an UNGROUPED aggregate (exactly one row). A grouped aggregate with
    no limit is corpus-derived — the neardup_map_at_k defect VERDICT
    r09 #1 flagged (broadcast(nrel): one row per doc with a near-dup
    partner, unbounded on dup-heavy corpora)."""
    subs = _hint_subtrees(df)
    assert subs, "expected broadcast hints in the panel eval"
    for sub in subs:
        root = sub[0].strip(" :+-")
        one_row_agg = root.startswith("Aggregate [") and "], [" not in root
        has_limit = any("GlobalLimit" in l for l in sub)
        assert has_limit or one_row_agg, (
            "corpus-derived build side broadcast:\n" + "\n".join(sub[:5])
        )


def test_retrieval_map_broadcasts_only_panel_bounded_sides(utc):
    from mimic2ts_spark import harness_ext as HE

    _assert_bounded_broadcasts(HE.q_retrieval_map(utc, SF))


def test_retrieval_mrr_broadcasts_only_panel_bounded_sides(utc):
    from mimic2ts_spark import harness_ext as HE

    _assert_bounded_broadcasts(HE.q_retrieval_mrr(utc, SF))


def test_cdc_and_winnow_single_spread_exchange_no_joins(utc):
    """X215/X216 scale contract: per-doc LOCAL array computation — the
    ONLY exchange is the ensure_parallelism round-robin spread (input
    splits follow bytes; these are compute-dense small files), the md5
    base is cached (the substitution barrier — without it the token
    pass multiplied ~30×), and there is no join, no Python eval, and
    exactly one Generate (the bounded chunk/fingerprint explode)."""
    from mimic2ts_spark import harness_ext as HE

    utc.catalog.clearCache()
    for q in ("q_cdc_chunks", "q_winnow_fingerprints"):
        s = _plan(getattr(HE, q)(utc, SF))
        assert _count(r"\(\d+\) Exchange", s) == 1, (q, s)
        assert _count(r"\(\d+\) Generate", s) == 1, q
        assert "InMemoryTableScan" in s, q  # the persisted md5 base
        assert "SortMergeJoin" not in s and "BroadcastNestedLoop" not in s, q
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, q
        utc.catalog.clearCache()
