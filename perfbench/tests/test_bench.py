"""Tests of the benchmark's own inputs and wiring (no Spark session).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE.parent.parent)]

import gen  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_feed_same_seed_same_bytes(tmp_path):
    gen.write_feed(str(tmp_path / "a"), 7, 3, range(1, 3))
    gen.write_feed(str(tmp_path / "b"), 7, 3, range(1, 3))
    gen.write_feed(str(tmp_path / "c"), 8, 3, range(1, 3))
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_feed_encodes_readings_for_the_sensor_view(tmp_path):
    """Decoding ``value`` as sources.sensor does yields in-range volumes
    (bar the planted impossible ones), occupancies under 1800 and the
    planted null shares; a day's bytes do not depend on later days."""
    gen.write_feed(str(tmp_path / "a"), 3, 4, range(1, 2))
    gen.write_feed(str(tmp_path / "b"), 3, 4, range(1, 3))
    t = pq.read_table(tmp_path / "a" / "events.parquet")
    assert t.num_rows == 4 * gen.SLOTS_PER_DAY
    value = t.column("value").to_numpy()
    kind = np.array(t.column("event_type").to_pylist())
    vol = np.floor(value) % 25
    occ = np.floor(value * 37.0) % 2000
    assert 0.001 < np.mean(vol > 20) < 0.004
    assert np.all(occ <= 1800)
    assert 0.04 < np.mean(kind == "error") < 0.06
    assert 0.04 < np.mean(kind == "signup") < 0.06
    day1 = "events.parquet/day=01.parquet"
    assert _digest(tmp_path / "a" / day1) == _digest(tmp_path / "b" / day1)


def test_churn_plants_each_kind():
    base = gen.config_detectors(5, 50)
    snap, expected = gen.churn(5, base)
    kinds = [c for c, *_ in expected if c in ("NEW_DETECTOR", "REMOVE_DETECTOR",
                                               "DETECTOR_ABANDONED")]
    assert kinds.count("NEW_DETECTOR") == 1
    assert kinds.count("REMOVE_DETECTOR") == 1
    assert kinds.count("DETECTOR_ABANDONED") == 1
    assert len(expected) == 4
    assert len(snap) == 50
    assert gen.churn(5, base) == (snap, expected)


def test_landing_zone_is_ordered_with_counted_very_late_rows(tmp_path):
    path = str(tmp_path / "lz")
    meta = gen.write_landing_zone(path, 2, 3, 100, 4, 10)
    files = sorted(os.listdir(path))
    assert len(files) == meta["drops"] == 100
    mtimes = [os.stat(os.path.join(path, f)).st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    late = {(s, us) for s, us in meta["very_late"]}
    assert len(late) == 4
    t0 = gen._epoch_us(1)
    seen_late, rows = set(), 0
    for h, f in enumerate(files):
        t = pq.read_table(os.path.join(path, f))
        rows += t.num_rows
        hours = (t.column("start_datetime").cast("int64").to_numpy() - t0) // 3_600_000_000
        sensors = t.column("sensor").to_pylist()
        ts = t.column("start_datetime").cast("int64").to_numpy()
        for s, us, hr in zip(sensors, ts, hours):
            if (s, int(us)) in late:
                assert h == 99 and hr < 10
                seen_late.add((s, int(us)))
            else:
                assert h - 1 <= hr <= h or h == 99
    assert seen_late == late
    assert rows == meta["rows"] == 3 * 100 * 120
    second = str(tmp_path / "lz2")
    gen.write_landing_zone(second, 2, 3, 100, 4, 10)
    assert _digest(path) == _digest(second)
    warm = gen.write_landing_zone(str(tmp_path / "warm"), 2, 3, 24, 0, 1)
    assert warm["very_late"] == [] and warm["rows"] == 3 * 24 * 120


def test_corpus_plants_near_duplicates():
    docs, planted = gen.corpus(4, 500)
    assert len(docs) == 500 and len({d for d, _ in docs}) == 500
    assert len(planted) == 100
    text = dict(docs)
    for a, b in planted:
        wa, wb = text[a].split(), text[b].split()
        assert len(wa) == len(wb) == 100
        assert sum(x != y for x, y in zip(wa, wb)) <= 5
    assert gen.corpus(4, 500) == (docs, planted)


def test_benchmark_json_matches_the_harness():
    import run
    import workloads

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_layer_metrics_sum_self_time_and_counters():
    """A span adds its self time to its layer's busy_s, its counters to
    the layer's metrics of the same name and its engine counters to
    engine.*; values are per traced call."""
    import run
    from spans import Span, Tracer

    tracer = Tracer.__new__(Tracer)
    tracer.spans = [
        Span("pipeline", "run_nightly_ingest", "traced0", None, 0.0, 10.0,
             {"tasks": 4}),
        Span("operators.aggregate", "aggregate_detector", "traced0", 0, 1.0, 4.0,
             {"rows_in": 100, "rows_out": 10, "tasks": 8}),
        Span("operators.rollup", "qaqc_for_model", "traced0", 0, 4.0, 5.0,
             {"qaqc_rows_in": 10, "qaqc_rows_out": 5}),
        Span("operators.aggregate", "aggregate_detector", "untraced", None, 0.0, 99.0,
             {"rows_in": 7}),
    ]
    m = run._layer_metrics(tracer, ["traced0"], {"trace.job_s": 10.0})
    value = {k: v["value"] for k, v in m.items()}
    assert value["pipeline.busy_s"] == 6.0
    assert value["operators.aggregate.busy_s"] == 3.0
    assert value["operators.aggregate.rows_in"] == 100
    assert value["engine.tasks"] == 12
    assert value["operators.rollup.qaqc_pass_ratio"] == 0.5
    assert value["trace.job_s"] == 10.0
    assert set(m) == {name for name, _ in run.PER_LAYER}
