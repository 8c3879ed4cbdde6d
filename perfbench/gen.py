"""Seeded MIMIC-IV `icu/` input generator for the benchmark.

`generate(root, shape, seed)` writes `root/icu/{icustays,d_items,
chartevents,inputevents,outputevents,procedureevents}.csv`. The same
(shape, seed) always gives byte-identical files, and row counts depend
only on the shape, so two seeds cost the same work. Events are spread
over stays by a seeded lognormal weight (the per-stay skew); stay
lengths and weights are stratified draws, so output sizes also barely
move between seeds. A fixed share of stays gets no event in any source,
which drives the sink's empty-stay pass. Event times fall slightly before `intime` and after
`outtime`, so the clamp and the late drop are exercised too.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

BASE_EPOCH = 4_102_444_800  # 2100-01-01 00:00:00 UTC
HOUR = 3600
SOURCES = ("chartevents", "inputevents", "outputevents", "procedureevents")
# itemid ranges per source (disjoint, like MIMIC's d_items)
ITEM_BASE = {"chartevents": 220_000, "inputevents": 221_000,
             "outputevents": 226_000, "procedureevents": 224_000}


@dataclass(frozen=True)
class Shape:
    stays: int
    chart_per_stay: int          # mean chartevents per non-empty stay
    other_per_stay: int          # mean events per non-empty stay, each other source
    skew: float                  # lognormal sigma of the per-stay event weight
    stay_hours: tuple[int, int]  # stay length range
    interval_hours: tuple[int, int]  # inputevents interval length range
    empty_share: float           # share of stays with no events at all
    chart_items: int = 120
    other_items: int = 15

    def key(self) -> str:
        blob = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()[:12]


def _ts(epochs: np.ndarray) -> pa.Array:
    return pa.array(epochs.astype("int64"), pa.int64()).cast(pa.timestamp("s"))


def _write(path: str, cols: dict) -> None:
    table = pa.table(cols)
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def _stratified(rng, n: int) -> np.ndarray:
    """n uniforms in (0, 1), one per stratum of width 1/n, in random order:
    a seeded draw whose distribution, and hence every total, barely moves
    between seeds."""
    return (rng.permutation(n) + rng.uniform(0.01, 0.99, n)) / n


def _event_stays(rng, active: np.ndarray, total: int, skew: float) -> np.ndarray:
    """Exactly `total` stay ids drawn over the active stays with
    (stratified) lognormal weights."""
    z = np.array([NormalDist().inv_cdf(u) for u in _stratified(rng, len(active))])
    w = np.exp(skew * z)
    counts = rng.multinomial(total, w / w.sum())
    return np.repeat(active, counts)


def _items(rng, source: str, n_items: int, n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n_items + 1)  # Zipf-like item popularity
    return ITEM_BASE[source] + rng.choice(n_items, size=n, p=p / p.sum())


def _point_times(rng, stay_idx, intime, outtime) -> np.ndarray:
    span = (outtime - intime)[stay_idx]
    frac = rng.uniform(-0.03, 1.03, len(stay_idx))  # a few early and late events
    return intime[stay_idx] + (frac * span).astype("int64")


def generate(root: str, shape: Shape, seed: int) -> None:
    rng = np.random.default_rng([seed % 2**63, int(shape.key(), 16)])
    icu = os.path.join(root, "icu")
    os.makedirs(icu, exist_ok=True)

    n = shape.stays
    stay_id = 30_000_000 + np.arange(n, dtype="int64")
    subject = 10_000_000 + np.arange(n, dtype="int64")
    hadm = 20_000_000 + np.arange(n, dtype="int64")
    intime = BASE_EPOCH + rng.integers(0, 3 * 365 * 24 * HOUR, n)
    lo, hi = shape.stay_hours
    outtime = intime + (HOUR * (lo + (hi - lo) * _stratified(rng, n))).astype("int64")
    _write(f"{icu}/icustays.csv", {
        "subject_id": subject, "hadm_id": hadm, "stay_id": stay_id,
        "first_careunit": pa.array(["MICU"] * n),
        "intime": _ts(intime), "outtime": _ts(outtime),
    })

    items, labels = [], []
    for src in SOURCES:
        k = shape.chart_items if src == "chartevents" else shape.other_items
        # 5 catalog items per source never occur in events
        items.extend(range(ITEM_BASE[src], ITEM_BASE[src] + k + 5))
        labels.extend(f"{src[:5]}_{i}" for i in range(k + 5))
    _write(f"{icu}/d_items.csv", {"itemid": np.array(items, "int64"), "label": labels})

    n_empty = int(round(shape.empty_share * n))
    active = np.sort(rng.permutation(n)[n_empty:])
    n_active = len(active)

    def ids(idx):
        return {"subject_id": subject[idx], "hadm_id": hadm[idx], "stay_id": stay_id[idx]}

    # chartevents: point events, bucket mean; 3% text-only rows (null valuenum)
    m = shape.chart_per_stay * n_active
    idx = _event_stays(rng, active, m, shape.skew)
    t = _point_times(rng, idx, intime, outtime)
    vnum = np.round(rng.normal(80.0, 20.0, m), 2)
    _write(f"{icu}/chartevents.csv", {
        **ids(idx), "charttime": _ts(t), "storetime": _ts(t + 300),
        "itemid": _items(rng, "chartevents", shape.chart_items, m),
        "value": pa.array(vnum.astype(str)),
        "valuenum": pa.array(vnum, mask=rng.random(m) < 0.03),
        "valueuom": pa.array(["u"] * m), "warning": np.zeros(m, "int64"),
    })

    # outputevents: point events, bucket sum
    m = shape.other_per_stay * n_active
    idx = _event_stays(rng, active, m, shape.skew)
    t = _point_times(rng, idx, intime, outtime)
    _write(f"{icu}/outputevents.csv", {
        **ids(idx), "charttime": _ts(t), "storetime": _ts(t + 300),
        "itemid": _items(rng, "outputevents", shape.other_items, m),
        "value": np.round(rng.uniform(5.0, 500.0, m), 1),
        "valueuom": pa.array(["ml"] * m),
    })

    # inputevents: dosing intervals of interval_hours, spread over instants
    m = shape.other_per_stay * n_active
    idx = _event_stays(rng, active, m, shape.skew)
    start = _point_times(rng, idx, intime, outtime)
    ilo, ihi = shape.interval_hours
    end = start + rng.integers(ilo * HOUR, ihi * HOUR + 1, m)
    zeros = pa.nulls(m, pa.float64())
    _write(f"{icu}/inputevents.csv", {
        **ids(idx), "starttime": _ts(start), "endtime": _ts(end),
        "itemid": _items(rng, "inputevents", shape.other_items, m),
        "amount": np.round(rng.uniform(1.0, 500.0, m), 3),
        "amountuom": pa.array(["mg"] * m), "rate": zeros,
        "rateuom": pa.array(["mg/h"] * m),
        "orderid": np.arange(m, dtype="int64"), "linkorderid": np.arange(m, dtype="int64"),
        "ordercategoryname": pa.array(["c"] * m),
        "secondaryordercategoryname": pa.array(["c"] * m),
        "ordercomponenttypedescription": pa.array(["c"] * m),
        "ordercategorydescription": pa.array(["c"] * m),
        "patientweight": np.round(rng.uniform(40.0, 120.0, m), 1),
        "totalamount": zeros, "totalamountuom": pa.array(["mg"] * m),
        "isopenbag": np.zeros(m, "int64"), "continueinnextdept": np.zeros(m, "int64"),
        "cancelreason": np.zeros(m, "int64"),
        "statusdescription": pa.array(["FinishedRunning"] * m),
        "originalamount": zeros, "originalrate": zeros,
    })

    # procedureevents: short intervals (0-3 h), bucket sum
    m = shape.other_per_stay * n_active
    idx = _event_stays(rng, active, m, shape.skew)
    start = _point_times(rng, idx, intime, outtime)
    _write(f"{icu}/procedureevents.csv", {
        **ids(idx), "starttime": _ts(start),
        "endtime": _ts(start + rng.integers(0, 3 * HOUR + 1, m)),
        "itemid": _items(rng, "procedureevents", shape.other_items, m),
        "value": np.round(rng.uniform(1.0, 60.0, m), 1),
        "valueuom": pa.array(["min"] * m),
        "statusdescription": pa.array(["FinishedRunning"] * m),
    })


def input_digest(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(os.path.join(root, "icu"))):
        h.update(name.encode())
        with open(os.path.join(root, "icu", name), "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()[:16]


def cached_input(cache_dir: str, name: str, shape: Shape, seed: int) -> str:
    """The input dir for (shape, seed), generated once and reused. Inputs
    of other seeds or shapes of the same workload are removed."""
    root = os.path.join(cache_dir, f"{name}-{shape.key()}-s{seed}")
    done = os.path.join(root, ".complete")
    if os.path.isdir(cache_dir):
        for old in os.listdir(cache_dir):
            if old.startswith(f"{name}-") and old != os.path.basename(root):
                shutil.rmtree(os.path.join(cache_dir, old), ignore_errors=True)
    if not os.path.exists(done):
        shutil.rmtree(root, ignore_errors=True)
        generate(root, shape, seed)
        open(done, "w").close()
    return root
