"""Output checker: an independent pandas model of the featurization.

The model re-derives, from the generated input CSVs, what the CLI must
write, using the reference semantics of `operators/time_ops.py`,
`intervals.py` and `dense.py`:

- buckets are `floor((t - intime) / step)`; early events clamp to bucket
  0 and events past `total_windows = floor((outtime - intime) / step)` are
  dropped, so a stay has `total_windows + 1` columns;
- an interval touches the instants of `range(start, end + step, step)`
  and spreads its value evenly over them (inputevents divide the amount
  by the patient weight first);
- chartevents take the bucket mean, the other sources the bucket sum;
- the dense row is forward filled (with `--ffill`) and then zero filled.

`check_tree` checks every file of the output tree and compares a seeded
sample of stays value by value; every problem is one string in the list
it returns. Summation order may differ, so values compare with a
relative tolerance.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

SOURCES = ("chartevents", "inputevents", "outputevents", "procedureevents")
RTOL = 1e-9
ATOL = 1e-9


def _read(src: str, table: str, columns: list[str], times: list[str]) -> pd.DataFrame:
    opts = pacsv.ConvertOptions(
        include_columns=columns,
        column_types={t: pa.timestamp("s") for t in times},
    )
    tbl = pacsv.read_csv(f"{src}/icu/{table}.csv", convert_options=opts)
    for t in times:
        tbl = tbl.set_column(tbl.schema.get_field_index(t), t, tbl[t].cast(pa.int64()))
    return tbl.to_pandas()


class Model:
    def __init__(self, src: str, step: int = 3600, ffill: bool = False):
        self.step = step
        self.ffill = ffill
        stays = _read(src, "icustays", ["stay_id", "intime", "outtime"], ["intime", "outtime"])
        stays["total_windows"] = (stays.outtime - stays.intime) // step
        self.stays = stays.set_index("stay_id")
        self.catalog = sorted(_read(src, "d_items", ["itemid"], []).itemid.tolist())
        self.events = {s: self._bucketed(src, s) for s in SOURCES}
        # (stay, source) -> ascending feature ids that survive the late drop
        self.features = {
            s: ev.groupby("stay_id").feature_id.unique().map(np.sort).to_dict()
            for s, ev in self.events.items()
        }

    def _bucketed(self, src: str, source: str) -> pd.DataFrame:
        step = self.step
        if source in ("chartevents", "outputevents"):
            val = "valuenum" if source == "chartevents" else "value"
            ev = _read(src, source, ["stay_id", "itemid", "charttime", val], ["charttime"])
            ev = ev.rename(columns={"itemid": "feature_id", "charttime": "t", val: "value"})
        else:
            cols = ["stay_id", "itemid", "starttime", "endtime"]
            cols += ["amount", "patientweight"] if source == "inputevents" else ["value"]
            iv = _read(src, source, cols, ["starttime", "endtime"])
            raw = iv.amount / iv.patientweight if source == "inputevents" else iv.value
            d = (iv.endtime - iv.starttime).to_numpy()
            n = np.where(d % step == 0, d // step + 1, d // step + 2)  # len(range(s, e + step, step))
            rep = np.repeat(np.arange(len(iv)), n)
            k = np.arange(len(rep)) - np.repeat(np.cumsum(n) - n, n)
            ev = pd.DataFrame({
                "stay_id": iv.stay_id.to_numpy()[rep],
                "feature_id": iv.itemid.to_numpy()[rep],
                "t": iv.starttime.to_numpy()[rep] + k * step,
                "value": (raw.to_numpy() / n)[rep],
            })
        st = self.stays.reindex(ev.stay_id)
        tidx = np.maximum((ev.t.to_numpy() - st.intime.to_numpy()) // step, 0)
        ev["tidx"] = tidx
        keep = (tidx <= st.total_windows.to_numpy()) & st.intime.notna().to_numpy()
        return ev[keep].drop(columns="t")

    def windows(self, stay_id: int) -> int:
        return int(self.stays.total_windows.loc[stay_id])

    def matrix(self, stay_id: int, source: str) -> pd.DataFrame:
        ev = self.events[source]
        ev = ev[ev.stay_id == stay_id]
        g = ev.groupby(["feature_id", "tidx"]).value
        agg = g.mean() if source == "chartevents" else g.sum()
        wide = agg.unstack("tidx").reindex(columns=range(self.windows(stay_id) + 1))
        if self.ffill:
            wide = wide.ffill(axis=1)
        return wide.fillna(0.0).sort_index()


def _close(a, b) -> bool:
    a, b = np.asarray(a, float), np.asarray(b, float)
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=RTOL, atol=ATOL))


def check_tree(model: Model, dst: str, sample: list[int]) -> list[str]:
    """Every (stay, source) file: present, header `feature_id,0..T`,
    ascending feature rows equal to the model's feature set (header only
    for an event-less stay), full rows. Sampled stays: every value."""
    problems: list[str] = []
    for stay_id in model.stays.index:
        header = "feature_id," + ",".join(map(str, range(model.windows(stay_id) + 1)))
        width = model.windows(stay_id) + 2
        for source in SOURCES:
            path = f"{dst}/{stay_id}/{source}_features.csv"
            try:
                with open(path) as f:
                    lines = f.read().splitlines()
            except OSError:
                problems.append(f"missing {stay_id}/{source}")
                continue
            if not lines or lines[0] != header:
                problems.append(f"bad header {stay_id}/{source}")
                continue
            rows = [ln.split(",") for ln in lines[1:]]
            got = [int(r[0]) for r in rows]
            want = model.features[source].get(stay_id, np.array([], "int64")).tolist()
            if got != want:
                problems.append(f"feature rows {stay_id}/{source}: {len(got)} vs {len(want)}")
            elif any(len(r) != width for r in rows):
                problems.append(f"short row {stay_id}/{source}")
    for stay_id in sample:
        for source in SOURCES:
            want = model.matrix(stay_id, source)
            path = f"{dst}/{stay_id}/{source}_features.csv"
            if not os.path.exists(path):
                continue  # already reported
            got = pd.read_csv(path, index_col=0)
            if not _close(got.to_numpy(), want.to_numpy()):
                problems.append(f"values {stay_id}/{source}")
    return problems


def check_reader(model: Model, reader: dict, sample: list[int]) -> list[str]:
    """The `SampleDataset` pass: every stay is on the full catalog axis
    with its own bucket count; sampled stays sum to the model's values."""
    problems = []
    if reader["catalog"] != len(model.catalog):
        problems.append(f"catalog {reader['catalog']} vs {len(model.catalog)}")
    stays = {int(k): v for k, v in reader["stays"].items()}
    if sorted(stays) != sorted(model.stays.index):
        problems.append("reader stays differ from icustays")
        return problems
    for stay_id, (rows, cols, total) in stays.items():
        has_events = any(stay_id in model.features[s] for s in SOURCES)
        want_cols = model.windows(stay_id) + 1 if has_events else 1
        if rows != len(model.catalog) or cols != want_cols:
            problems.append(f"reader shape {stay_id}: {rows}x{cols}")
    for stay_id in sample:
        want = sum(model.matrix(stay_id, s).to_numpy().sum() for s in SOURCES)
        if not math.isclose(stays[stay_id][2], want, rel_tol=1e-7, abs_tol=1e-7):
            problems.append(f"reader sum {stay_id}")
    return problems


def check_lookups(dst: str, lookups: list[dict]) -> list[str]:
    """Parquet readback of single stays equals the same stays' CSV values."""
    problems = []
    for lk in lookups:
        wide = pd.read_csv(f"{dst}/{lk['stay_id']}/{lk['source']}_features.csv", index_col=0)
        long = wide.stack()
        want = np.column_stack([
            np.full(len(long), lk["stay_id"]),
            long.index.get_level_values(0).to_numpy(),
            long.index.get_level_values(1).astype(int).to_numpy(),
            long.to_numpy(),
        ]) if len(long) else np.empty((0, 4))
        if not _close(np.asarray(lk["rows"], float).reshape(-1, 4), want):
            problems.append(f"parquet readback {lk['stay_id']}/{lk['source']}")
    return problems


def tree_digest(dst: str) -> str:
    """sha256 over every file's path and bytes, minus readme's runtime line."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(dst):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                data = f.read()
            if name == "readme.txt":
                data = b"".join(
                    ln for ln in data.splitlines(True) if not ln.startswith(b"runtime seconds:")
                )
            h.update(os.path.relpath(path, dst).encode() + b"\0" + data)
    return h.hexdigest()[:16]
