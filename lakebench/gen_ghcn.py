"""Seeded NOAA-GHCN-shaped bronze generator for the daily medallion run.

Layout (the one ``sources.pipeline.run_pipeline`` ingests):

- ``<out>/day<NN>/YEAR=<y>/ELEMENT=<e>/part-<KK>.parquet`` — one
  dataset per simulated day with columns ``ID DATE DATA_VALUE M_FLAG
  Q_FLAG S_FLAG OBS_TIME`` (``DATE`` is ``yyyyMMdd``). Day ``NN``'s
  dataset is the year-to-date extract: it holds the observations of
  days ``0..NN``, the rows of day ``KK`` in the ``part-<KK>`` files,
  byte-identical to the same files in earlier days' datasets. This is
  the feed the paper's daily run ingests (the whole current-year
  partition of GHCN-Daily, republished every day);
- ``<out>/stations.txt``, ``countries.txt``, ``states.txt``,
  ``inventory.txt`` — the fixed-width / whitespace dimension files.

Every station reports every element once per day, so ``(ID, DATE,
ELEMENT)`` is unique. Fixed shares of each day's rows carry the cases
the cleanse and normalize paths act on: ``BAD_Q_SHARE`` a failing
``Q_FLAG``, ``NULL_SHARE`` a null ``DATA_VALUE`` (disjoint, so the
valid count is exact), ``UNMAPPED`` elements (2 of 9) and the tenths
elements ``TMAX``/``TMIN`` (2 of 9).

:class:`DailyPlan` carries what the run must observe: the day's new
rows and valid rows, the late-corrections batch merged after each day,
the station withdrawn after each day, and the station ranges read back.
Same ``(days, stations, seed)`` -> byte-identical files and the same plan.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAPPED = ["TMAX", "TMIN", "PRCP", "SNOW", "SNWD", "AWND", "WT11"]
UNMAPPED = ["WESD", "WT01"]
ELEMENTS = MAPPED + UNMAPPED
TENTHS = ("TMAX", "TMIN")
LATE_ELEMENT = "TAVG"  # late-arriving element: merge inserts, never in bronze
BAD_Q_SHARE = 0.04
NULL_SHARE = 0.03
BAD_Q_FLAGS = ["X", "D", "G", "I"]
FIRST_DAY = date(2025, 1, 1)
COUNTRIES = {"US": "United States", "CA": "Canada", "BR": "Brazil",
             "AG": "Algeria", "FR": "France"}
STATES = {"NY": "NEW YORK", "CA": "CALIFORNIA", "TX": "TEXAS", "WA": "WASHINGTON"}
N_UPDATES = 40  # matched rows in each day's late-corrections batch
N_INSERTS = 20  # unmatched rows in each day's late-corrections batch
N_RANGE_READS = 3


@dataclass
class DailyPlan:
    """What one simulated day must produce, for the run's checks."""

    day: int
    obs_date: str  # ISO date
    source_dir: str  # the year-to-date dataset of this day
    rows: int  # bronze rows in the dataset (days 0..day)
    new_rows: int  # bronze rows of this day's observations
    valid_rows: int  # this day's rows that survive the cleanse
    source_bytes: int  # bytes of the dataset
    corrections: list[tuple]  # gold-fact rows for merge_into
    n_updates: int
    n_inserts: int
    withdrawn_station: str
    station_ranges: list[tuple[str, str]] = field(default_factory=list)
    # valid gold keys of this day: (station_id, element) -> gold value
    gold: dict[tuple[str, str], float] = field(default_factory=dict)


def station_ids(n: int) -> list[str]:
    codes = list(COUNTRIES)
    return [f"{codes[i % len(codes)]}W{i:08d}" for i in range(n)]


def _write_dims(out: str, ids: list[str], rng: np.random.Generator) -> int:
    states = list(STATES)
    lines = []
    for i, sid in enumerate(ids):
        lat = rng.uniform(-60, 70)
        lon = rng.uniform(-180, 180)
        elev = rng.uniform(0, 3000)
        state = states[i % len(states)] if sid.startswith("US") else "  "
        name = f"STATION {i}"
        gsn = "GSN" if i % 7 == 0 else "   "
        hcn = "HCN" if i % 5 == 0 else ("CRN" if i % 11 == 0 else "   ")
        wmo = f"{70000 + i:05d}" if i % 3 == 0 else "     "
        lines.append(
            f"{sid:<11} {lat:8.4f} {lon:9.4f} {elev:6.1f} {state:<2} "
            f"{name:<30} {gsn} {hcn} {wmo}".rstrip()
        )
    inv = [
        f"{sid:<11} {0.0:8.4f} {0.0:9.4f} {e} 1950 2025"
        for sid in ids for e in ELEMENTS
    ]
    files = {
        "stations.txt": lines,
        "countries.txt": [f"{k} {v}" for k, v in COUNTRIES.items()],
        "states.txt": [f"{k} {v}" for k, v in STATES.items()],
        "inventory.txt": inv,
    }
    size = 0
    for name, body in files.items():
        path = os.path.join(out, name)
        with open(path, "w") as fh:
            fh.write("\n".join(body) + "\n")
        size += os.path.getsize(path)
    return size


def _day(
    out: str, d: int, ids: list[str], rng: np.random.Generator, prev: DailyPlan | None
) -> DailyPlan:
    obs = FIRST_DAY + timedelta(days=d)
    n_st, n_el = len(ids), len(ELEMENTS)
    n = n_st * n_el
    sid = np.repeat(np.array(ids), n_el)
    elem = np.tile(np.array(ELEMENTS), n_st)
    base = {"TMAX": (150, 80), "TMIN": (40, 80), "PRCP": (20, 40)}
    value = np.empty(n, dtype=np.int64)
    for e in ELEMENTS:
        m = elem == e
        mu, sd = base.get(e, (10, 10))
        value[m] = np.abs(np.rint(rng.normal(mu, sd, m.sum()))).astype(np.int64)
    # exact, disjoint shares of bad-quality and null-value rows
    order = rng.permutation(n)
    n_bad, n_null = round(BAD_Q_SHARE * n), round(NULL_SHARE * n)
    bad = np.zeros(n, bool)
    bad[order[:n_bad]] = True
    null = np.zeros(n, bool)
    null[order[n_bad:n_bad + n_null]] = True
    q_flag = np.where(
        bad, np.array(BAD_Q_FLAGS)[rng.integers(0, 4, n)],
        np.where(rng.random(n) < 0.5, "", None),
    )
    m_flag = np.where(rng.random(n) < 0.1, "B", None)
    s_flag = np.array(["S", "E", "7"])[rng.integers(0, 3, n)]
    obs_time = np.where(rng.random(n) < 0.3, "0700", None)
    stamp = obs.strftime("%Y%m%d")

    src = os.path.join(out, f"day{d:02d}")
    for e in ELEMENTS:
        m = elem == e
        table = pa.table({
            "ID": pa.array(sid[m]),
            "DATE": pa.array([stamp] * int(m.sum())),
            "DATA_VALUE": pa.array(value[m], pa.int32(), mask=null[m]),
            "M_FLAG": pa.array(m_flag[m], pa.string()),
            "Q_FLAG": pa.array(q_flag[m], pa.string()),
            "S_FLAG": pa.array(s_flag[m]),
            "OBS_TIME": pa.array(obs_time[m], pa.string()),
        })
        part = os.path.join(f"YEAR={obs.year}", f"ELEMENT={e}")
        os.makedirs(os.path.join(src, part), exist_ok=True)
        pq.write_table(table, os.path.join(src, part, f"part-{d:05d}.parquet"))
        if prev is not None:  # the year to date: every earlier day's file
            for k in range(d):
                name = os.path.join(part, f"part-{k:05d}.parquet")
                shutil.copyfile(os.path.join(prev.source_dir, name), os.path.join(src, name))
    size = sum(os.path.getsize(os.path.join(dp, f)) for dp, _s, fs in os.walk(src) for f in fs)

    valid = ~(bad | null)
    gold = {
        (s, e): (v / 10.0 if e in TENTHS else float(v))
        for s, e, v in zip(
            sid[valid].tolist(), elem[valid].tolist(), value[valid].tolist()
        )
    }
    iso = obs.isoformat()
    keys = sorted(gold)
    upd = [keys[i] for i in rng.choice(len(keys), min(N_UPDATES, len(keys)), replace=False)]
    ins_st = [ids[i] for i in rng.choice(n_st, min(N_INSERTS, n_st), replace=False)]
    corrections = [
        (s, iso, e, gold[(s, e)] + 0.5, None, "L") for s, e in sorted(upd)
    ] + [
        (s, iso, LATE_ELEMENT, float(rng.integers(0, 300)), None, "L")
        for s in sorted(ins_st)
    ]
    ordered = sorted(ids)
    width = max(1, n_st // 20)
    ranges = []
    for _ in range(N_RANGE_READS):
        lo = int(rng.integers(0, max(1, n_st - width)))
        ranges.append((ordered[lo], ordered[min(n_st, lo + width) - 1]))
    return DailyPlan(
        day=d, obs_date=iso, source_dir=src, rows=n + (prev.rows if prev else 0),
        new_rows=n, valid_rows=int(valid.sum()), source_bytes=size,
        corrections=corrections, n_updates=len(upd), n_inserts=len(ins_st),
        withdrawn_station=ids[int(rng.integers(0, n_st))],
        station_ranges=ranges, gold=gold,
    )


def generate(out: str, days: int, stations: int, seed: int) -> tuple[list[DailyPlan], int]:
    """Write ``days`` daily (year-to-date) bronze datasets plus the
    dimension files.

    Returns the per-day plans and the byte size of the dimension files.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    ids = station_ids(stations)
    dim_bytes = _write_dims(out, ids, rng)
    plans: list[DailyPlan] = []
    for d in range(days):
        plans.append(_day(out, d, ids, rng, plans[-1] if plans else None))
    return plans, dim_bytes
