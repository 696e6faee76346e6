"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of its seed and size arguments and
writes the same bytes for the same arguments: arrays come from one
``numpy.random.Generator`` and tables are written through pyarrow with
fixed row-group sizes, no pandas metadata and no wall-clock fields.

Inputs:

- ``write_feed``: the ``events``-shaped 30-second detector feed that
  ``sources.sensor`` reads (one parquet file per day under
  ``<sf_dir>/events.parquet/``), one reading per detector per 30 s with a
  diurnal volume profile, ~5% null volume (``event_type='error'``), ~5%
  null occupancy (``event_type='signup'``) and a few impossible volumes.
- ``config_detectors`` / ``churn``: metro_config detector lists for the
  day-0 snapshot and a day-N snapshot with planted churn, plus the exact
  changelog rows that churn must produce.
- ``write_landing_zone``: readings-shaped parquet drops, one per
  event-time hour, written in event-time order with increasing
  modification times; ~1% of rows arrive one drop late and a counted
  handful arrive more than the watermark late.
- ``corpus``: documents with planted near-duplicates.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.date(2024, 1, 1)          # day-0 config snapshot; feed day d = DAY0 + d
SLOT_S = 30                         # reading cadence
SLOTS_PER_DAY = 86400 // SLOT_S     # 2,880 readings per detector-day
NODES = 20                          # node = detector id % 20 (sources.sensor)
ROW_GROUP = 1 << 17
CHURN_FRAC = 0.02                   # detectors per churn kind in a snapshot
LATE_FRAC = 0.01                    # landing-zone rows that arrive one drop late
DOC_WORDS = 100                     # corpus: words per document
VOCAB = 20000                       # corpus: distinct words
DUP_FRAC = 0.2                      # corpus: documents that are near-duplicates
EDIT_FRAC = 0.05                    # corpus: words replaced in a near-duplicate


def day_date(day: int) -> dt.date:
    return DAY0 + dt.timedelta(days=day)


def _epoch_us(day: int) -> int:
    d = day_date(day)
    return int(dt.datetime(d.year, d.month, d.day,
                           tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (seed, input kind, part)."""
    return np.random.default_rng(
        [seed & 0xFFFFFFFF, *(ord(c) for c in stream)])


def _diurnal(hour_frac: np.ndarray) -> np.ndarray:
    """Vehicles per 30 s at a given hour of day: night floor plus AM and
    PM peaks."""
    am = np.exp(-0.5 * ((hour_frac - 8.0) / 1.5) ** 2)
    pm = np.exp(-0.5 * ((hour_frac - 17.0) / 2.0) ** 2)
    return 0.8 + 5.0 * am + 6.0 * pm


def _readings(rng: np.random.Generator, n_det: int, t0_us: int,
              n_slots: int) -> tuple[np.ndarray, ...]:
    """Dense readings for ``n_det`` detectors over ``n_slots`` 30-s slots
    from ``t0_us``: (detector ids, ts in us, volume, occupancy), volume
    and occupancy clean (no nulls, within range)."""
    det = np.repeat(np.arange(n_det, dtype=np.int64), n_slots)
    slot = np.tile(np.arange(n_slots, dtype=np.int64), n_det)
    ts = t0_us + slot * SLOT_S * 1_000_000
    hour = ((ts // 1_000_000) % 86400) / 3600.0
    scale = 0.6 + 0.8 * ((det * 7919) % 101) / 100.0   # per-detector level
    vol = np.minimum(rng.poisson(_diurnal(hour) * scale), 20)
    occ = np.clip(vol * 45 + rng.integers(0, 120, vol.size), 20, 1700)
    return det, ts, vol, occ


def _encode_value(rng: np.random.Generator, vol: np.ndarray,
                  occ: np.ndarray) -> np.ndarray:
    """``value`` such that floor(value) % 25 == vol and
    floor(value * 37) % 2000 lands within 13 of occ — the arithmetic
    ``sources.sensor.sensor_readings`` applies to the events feed.

    value = 25 m + vol + f with f in [0, 0.5): 925 m mod 2000 walks the
    multiples of 25 (37 * 13 == 1 mod 80), so m picks the coarse
    occupancy and floor(37 (vol + f)) the fine part."""
    f = rng.integers(0, 500, vol.size) / 1000.0
    base = np.floor((vol + f) * 37.0).astype(np.int64)
    k = np.rint((occ - base) / 25.0).astype(np.int64) % 80
    m = (13 * k) % 80
    return 25.0 * m + vol + f


def write_feed(sf_dir: str, seed: int, n_det: int, days: range) -> None:
    """Write the events-shaped feed for ``days`` (feed day numbers) as one
    parquet file per day under ``<sf_dir>/events.parquet/``. A day's rows
    depend only on (seed, day), so a feed extended by one day keeps the
    earlier days' bytes."""
    out = os.path.join(sf_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    for day in days:
        rng = _rng(seed, f"feed{day}")
        det, ts, vol, occ = _readings(rng, n_det, _epoch_us(day), SLOTS_PER_DAY)
        n = det.size
        vol = vol.copy()
        bad = rng.random(n) < 0.002            # impossible volumes (U2)
        vol[bad] = rng.integers(21, 25, int(bad.sum()))
        u = rng.random(n)
        kind = np.where(u < 0.05, 0, np.where(u < 0.10, 1,
                        2 + rng.integers(0, 3, n)))
        types = np.array(["error", "signup", "view", "click", "purchase"])
        table = pa.table({
            "event_id": pa.array(day * 10_000_000 + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(det),
            "event_type": pa.array(types[kind]),
            "value": pa.array(_encode_value(rng, vol, occ)),
        })
        pq.write_table(table, os.path.join(out, f"day={day:02d}.parquet"),
                       row_group_size=ROW_GROUP)


# --- metro_config snapshots ------------------------------------------------

CATEGORIES = ["", "A", "B", "Q", "R"]
SCD2_ATTRS = ["DETECTOR_LABEL", "DETECTOR_LANE", "DETECTOR_CATEGORY",
              "DETECTOR_FIELD", "DETECTOR_ABANDONED"]


def _detector(i: int, rng: np.random.Generator) -> dict:
    return dict(
        corridor=f"corr_{i % 5}", dir="EB", node=f"node_{i % NODES}",
        n_type="Station", lon=-93.0, lat=45.0, lanes=3, s_limit=55,
        station=f"S{i % NODES}", name=str(i), label=f"lbl_{i}",
        category=CATEGORIES[int(rng.integers(1, len(CATEGORIES)))],
        lane=int(rng.integers(1, 5)),
        field=float(400 + 10 * int(rng.integers(0, 21))), abandoned="f")


def config_detectors(seed: int, n_det: int) -> list[dict]:
    """Day-0 metro_config detector list (``make_config_xml`` input)."""
    rng = _rng(seed, "config")
    return [_detector(i, rng) for i in range(n_det)]


def churn(seed: int, base: list[dict]) -> tuple[list[dict], set[tuple]]:
    """Next snapshot with planted churn: ``CHURN_FRAC`` of the detectors (at
    least one each) added, removed, given one changed attribute, and
    flipped to abandoned. Returns (detectors, expected changelog rows as
    (Change, DETECTOR_NAME, Old_Value, New_Value))."""
    rng = _rng(seed, "churn")
    n = len(base)
    k = max(1, round(CHURN_FRAC * n))
    picks = rng.permutation(n)[:3 * k]
    removed, changed, flipped = (set(int(i) for i in picks[j * k:(j + 1) * k])
                                 for j in range(3))
    expected: set[tuple] = set()
    out = []
    for i, d in enumerate(base):
        if i in removed:
            expected.add(("REMOVE_DETECTOR", d["name"], d["name"], None))
            continue
        d = dict(d)
        if i in changed:
            attr = ["lane", "field", "category"][int(rng.integers(0, 3))]
            old = d[attr]
            if attr == "lane":
                d[attr] = old % 4 + 1
            elif attr == "field":
                d[attr] = old + 5.0
            else:
                d[attr] = "Z"
            expected.add((f"DETECTOR_{attr.upper()}", d["name"],
                          str(old), str(d[attr])))
        if i in flipped:
            d["abandoned"] = "t"
            expected.add(("DETECTOR_ABANDONED", d["name"], "f", "t"))
        out.append(d)
    for j in range(k):
        d = _detector(n + j, rng)
        out.append(d)
        expected.add(("NEW_DETECTOR", d["name"], None, d["name"]))
    return out, expected


# --- streaming landing zone ------------------------------------------------

def write_landing_zone(path: str, seed: int, n_det: int, hours: int,
                       very_late: int, very_late_before: int) -> dict:
    """One readings-shaped parquet drop per event-time hour, written in
    event-time order with modification times one second apart (the file
    source orders new files by modification time).

    ~``LATE_FRAC`` of each hour's rows move to the next drop (inside the
    watermark). ``very_late`` readings from the first ``very_late_before``
    hours, each in its own (detector, 15-min window), move to the last
    drop; the caller picks ``very_late_before`` so that these are behind
    the stream's watermark when they arrive, and the stream must drop
    exactly them. Returns {"rows", "drops", "very_late": [(sensor,
    epoch_us), ...]}.
    """
    os.makedirs(path, exist_ok=True)
    rng = _rng(seed, "landing")
    slots = hours * 120
    det, ts, vol, occ = _readings(rng, n_det, _epoch_us(1), slots)
    n = det.size
    vol = vol.astype(np.int32)
    occ = occ.astype(np.int32)
    nulls = rng.random(n)
    vol_null = nulls < 0.05
    occ_null = (nulls >= 0.05) & (nulls < 0.10)
    hour = (ts - _epoch_us(1)) // 3_600_000_000
    drop = hour.copy()
    drop[rng.random(n) < LATE_FRAC] += 1
    # distinct (detector, window) keys, one reading each: partial
    # aggregation cannot merge two of them into one dropped row
    keys = rng.permutation(n_det * very_late_before * 4)[:very_late]
    vl_idx = np.sort((keys // (very_late_before * 4)) * slots
                     + (keys % (very_late_before * 4)) * 30
                     + rng.integers(0, 30, very_late))
    drop[vl_idx] = hours - 1
    drop = np.minimum(drop, hours - 1)
    order = np.lexsort((ts, det, drop))
    det, ts, vol, occ, drop = det[order], ts[order], vol[order], occ[order], drop[order]
    vol_null, occ_null = vol_null[order], occ_null[order]
    bounds = np.searchsorted(drop, np.arange(hours + 1))
    mtime0 = 1_700_000_000
    for h in range(hours):
        lo, hi = bounds[h], bounds[h + 1]
        table = pa.table({
            "sensor": pa.array(det[lo:hi].astype(str)),
            "start_datetime": pa.array(ts[lo:hi], pa.timestamp("us", tz="UTC")),
            "volume": pa.array(vol[lo:hi], mask=vol_null[lo:hi]),
            "occupancy": pa.array(occ[lo:hi], mask=occ_null[lo:hi]),
        })
        f = os.path.join(path, f"drop-{h:04d}.parquet")
        pq.write_table(table, f, row_group_size=ROW_GROUP)
        os.utime(f, (mtime0 + h, mtime0 + h))
    moved = np.isin(order, vl_idx)
    return {"rows": int(n), "drops": hours,
            "very_late": [(str(int(d)), int(t)) for d, t in
                          zip(det[moved], ts[moved])]}


# --- dedup corpus ----------------------------------------------------------

def corpus(seed: int, n_docs: int
           ) -> tuple[list[tuple[int, str]], set[tuple[int, int]]]:
    """Documents of ``DOC_WORDS`` random words; ``DUP_FRAC`` of them are
    near-duplicates of an earlier original with ``EDIT_FRAC`` of the
    words replaced. Returns ([(doc_id, text)], planted pairs (orig, dup))."""
    rng = _rng(seed, "corpus")
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, VOCAB)
    vocab_words = np.array(["".join(letters[rng.integers(0, 26, n)])
                            for n in lens])
    n_dup = int(n_docs * DUP_FRAC)
    n_orig = n_docs - n_dup
    docs = rng.integers(0, VOCAB, (n_docs, DOC_WORDS))
    origins = rng.integers(0, n_orig, n_dup)
    n_edit = max(1, round(EDIT_FRAC * DOC_WORDS))
    pairs = set()
    for j, o in enumerate(origins):
        row = docs[o].copy()
        pos = rng.permutation(DOC_WORDS)[:n_edit]
        row[pos] = rng.integers(0, VOCAB, n_edit)
        docs[n_orig + j] = row
        pairs.add((int(o), n_orig + j))
    # shuffle ids so duplicates are not clustered at the end
    perm = rng.permutation(n_docs)
    text = [" ".join(vocab_words[docs[i]]) for i in range(n_docs)]
    out = [(int(perm[i]), text[i]) for i in range(n_docs)]
    planted = {tuple(sorted((int(perm[a]), int(perm[b])))) for a, b in pairs}
    return out, planted
