"""Deterministic synthetic MIMIC-IV icu/ fixture at an arbitrary scale —
for CLI-surface throughput measurement (the CLI benchmark is
described in perfbench/README.md).

Shape matches the reference's inputs (/root/reference/tools/
sampleDataset.py column sets): icustays, d_items, chartevents,
inputevents, outputevents, procedureevents. Event times are spread
uniformly across each stay (plus deterministic early/late outliers to
exercise clamp/drop), values are simple affine functions of the row
index, so expected bucket means are hand-computable at any scale.

Usage: python scripts/make_mimic_fixture.py DST N_STAYS EVENTS_PER_STAY
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

DST = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mimic_big"
N_STAYS = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
EV_PER_STAY = int(sys.argv[3]) if len(sys.argv) > 3 else 500

STAY_HOURS = 48
T0 = pd.Timestamp("2024-01-01 00:00:00")


def main() -> None:
    icu = os.path.join(DST, "icu")
    os.makedirs(icu, exist_ok=True)
    rng = np.random.RandomState(7)

    stay_ids = np.arange(1, N_STAYS + 1)
    intimes = T0 + pd.to_timedelta((stay_ids % 97) * 3600, unit="s")
    pd.DataFrame(
        {
            "subject_id": stay_ids + 10_000,
            "hadm_id": stay_ids + 20_000,
            "stay_id": stay_ids,
            "intime": intimes.strftime("%Y-%m-%d %H:%M:%S"),
            "outtime": (intimes + pd.Timedelta(hours=STAY_HOURS)).strftime(
                "%Y-%m-%d %H:%M:%S"
            ),
        }
    ).to_csv(f"{icu}/icustays.csv", index=False)

    items = np.arange(100, 120)
    pd.DataFrame({"itemid": items, "label": [f"item_{i}" for i in items]}).to_csv(
        f"{icu}/d_items.csv", index=False
    )

    n = N_STAYS * EV_PER_STAY
    ev_stay = np.repeat(stay_ids, EV_PER_STAY)
    k = np.tile(np.arange(EV_PER_STAY), N_STAYS)
    # uniform spread across the stay; every 97th event early, every 101st late
    off = (k * (STAY_HOURS * 3600 // EV_PER_STAY)).astype("int64")
    off = np.where(k % 97 == 13, -7200, off)
    off = np.where(k % 101 == 17, STAY_HOURS * 3600 + 7200, off)
    charttime = (
        intimes.values[ev_stay - 1] + off * np.timedelta64(1, "s")
    )
    pd.DataFrame(
        {
            "subject_id": ev_stay + 10_000,
            "hadm_id": ev_stay + 20_000,
            "stay_id": ev_stay,
            "charttime": pd.DatetimeIndex(charttime).strftime("%Y-%m-%d %H:%M:%S"),
            "storetime": pd.DatetimeIndex(charttime).strftime("%Y-%m-%d %H:%M:%S"),
            "itemid": items[k % len(items)],
            "value": "",
            "valuenum": (k % 50).astype("float64") + 0.5,
            "valueuom": "u",
            "warning": "",
        }
    ).to_csv(f"{icu}/chartevents.csv", index=False)

    m = N_STAYS * max(1, EV_PER_STAY // 10)
    iv_stay = np.repeat(stay_ids, max(1, EV_PER_STAY // 10))
    j = np.tile(np.arange(max(1, EV_PER_STAY // 10)), N_STAYS)
    st = intimes.values[iv_stay - 1] + (j * 4 * 3600).astype("int64") * np.timedelta64(1, "s")
    en = st + np.timedelta64(2 * 3600, "s")
    pd.DataFrame(
        {
            "subject_id": iv_stay + 10_000,
            "hadm_id": iv_stay + 20_000,
            "stay_id": iv_stay,
            "starttime": pd.DatetimeIndex(st).strftime("%Y-%m-%d %H:%M:%S"),
            "endtime": pd.DatetimeIndex(en).strftime("%Y-%m-%d %H:%M:%S"),
            "itemid": items[j % len(items)],
            "amount": (j % 20).astype("float64") + 1.0,
            "amountuom": "mg",
            "rate": "",
            "rateuom": "",
            "orderid": np.arange(m) + 1,
            "linkorderid": np.arange(m) + 1,
            "ordercategoryname": "01-Drips",
            "secondaryordercategoryname": "",
            "ordercomponenttypedescription": "Main order parameter",
            "ordercategorydescription": "Continuous Med",
            "patientweight": 70.0,
            "totalamount": "",
            "totalamountuom": "",
            "isopenbag": 0,
            "continueinnextdept": 0,
            "cancelreason": 0,
            "statusdescription": "FinishedRunning",
            "originalamount": "",
            "originalrate": "",
        }
    ).to_csv(f"{icu}/inputevents.csv", index=False)

    for name, timecol in (("outputevents", "charttime"), ("procedureevents", "starttime")):
        small = N_STAYS * 5
        s_stay = np.repeat(stay_ids, 5)
        q = np.tile(np.arange(5), N_STAYS)
        t = intimes.values[s_stay - 1] + (q * 9 * 3600).astype("int64") * np.timedelta64(1, "s")
        base = {
            "subject_id": s_stay + 10_000,
            "hadm_id": s_stay + 20_000,
            "stay_id": s_stay,
            timecol: pd.DatetimeIndex(t).strftime("%Y-%m-%d %H:%M:%S"),
            "itemid": items[q % len(items)],
            "value": (q % 9).astype("float64") + 2.0,
            "valueuom": "ml",
        }
        if name == "outputevents":
            base["storetime"] = base[timecol]
        else:  # procedureevents
            base["endtime"] = pd.DatetimeIndex(
                t + np.timedelta64(1800, "s")
            ).strftime("%Y-%m-%d %H:%M:%S")
            base["statusdescription"] = "FinishedRunning"
        pd.DataFrame(base).to_csv(f"{icu}/{name}.csv", index=False)

    print(
        f"done: {DST} stays={N_STAYS} chartevents={n} inputevents={m} "
        f"out/proc={N_STAYS * 5} each"
    )


if __name__ == "__main__":
    main()
