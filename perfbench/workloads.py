"""The benchmark workloads: inputs, timed work and output checks.

Each workload is a closed loop: ``run`` is called again only after the
previous call returned, every call gets fresh input and output paths under
its own directory (so neither the session's fact cache nor Spark's
CacheManager can match an earlier run's plan), and ``check`` verifies a
call's outputs after the timed loop. ``written`` names the parquet a call
wrote, for stored bytes per row.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from traffic_data_pipeline_spark import pipeline
from traffic_data_pipeline_spark.functions import dedup, similarity
from traffic_data_pipeline_spark.operators.aggregate import aggregate_detector
from traffic_data_pipeline_spark.sources.config_xml import (
    flatten_config_xml,
    make_config_xml,
    snapshot_frame,
)
from traffic_data_pipeline_spark.streaming import pipeline as streaming

N_DET = 40               # 2 detectors per node (node = detector id % 20)
FEED_DAYS = 12           # history the backfill writes
NEXT_DAY = FEED_DAYS + 1 # the day of the second config snapshot
TRAIN_BEFORE_DAY = 9     # model trains on days 1-8, scores days 9-12
WARM_DET = 6             # warm-up feed: same days, fewer detectors
STREAM_DET = 20
STREAM_HOURS = 108       # one drop per event-time hour
WARM_STREAM_HOURS = 24
# the warm-up stream is too short for the 3-day watermark to close a
# window; a 1-hour one makes its second micro-batch emit, as timed ones do
WARM_WATERMARK = "1 hour"
STREAM_FILES_PER_TRIGGER = 12
STREAM_VERY_LATE = 12
# Late rows are filtered against the watermark of the batch before the
# current one, i.e. the newest event two triggers back minus 3 days; rows
# from before this hour are behind it when they arrive in the last drop.
STREAM_VERY_LATE_BEFORE = STREAM_HOURS - 72 - 2 * STREAM_FILES_PER_TRIGGER - 2
CORPUS_DOCS = 1500
WARM_DOCS = 200
RECALL_FLOOR = 0.9
WARMUP = "warmup"        # the discarded first call, on the small inputs


def link_tree(src: str, dst: str) -> None:
    """Hard-link copy of a directory tree: a fresh path over the same
    bytes. Spark never rewrites a parquet file in place, so the source
    stays intact."""
    shutil.copytree(src, dst, copy_function=os.link)


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


def config_doc(day: int, detectors: list[dict]) -> tuple[str, str]:
    url = f"http://example.org/iris_xml/metro_config_{gen.day_date(day):%Y%m%d}.xml.gz"
    return url, make_config_xml(detectors)


def _sql(con, q: str) -> list[tuple]:
    return con.execute(q).fetchall()


class Workload:
    """One workload. ``run(i)`` is one timed call, ``i`` names it; the
    harness calls ``generate_inputs`` (set-up), ``run(WARMUP)`` on the
    small warm-up inputs, ``run`` for the timed calls, then ``check`` and
    ``written`` for each timed call."""
    name = ""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.inputs: dict[str, dict] = {}
        self.outputs: dict[str, dict] = {}
        self.recalls: dict[str, float] = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *map(str, parts))

    def generate_inputs(self) -> None:
        """(Re)write the warm-up and the timed inputs from the seed."""
        root = self.path("inputs")
        shutil.rmtree(root, ignore_errors=True)
        self.inputs = {"warm": self.generate(os.path.join(root, "warm"), True),
                       "run": self.generate(os.path.join(root, "run"), False)}

    def input(self, i: str) -> dict:
        return self.inputs["warm" if i == WARMUP else "run"]

    def generate(self, root: str, warm: bool) -> dict:
        """Write one set of inputs under ``root``; returns what ``run``
        and ``check`` need to know about them."""

    def run(self, i: str) -> None: ...

    def check(self, i: str) -> list[str]:
        """Errors found in call ``i``'s outputs."""

    def written(self, i: str) -> list[str]:
        """Parquet files call ``i`` wrote."""

    def batch_seconds(self, runs: list[str]) -> list[float]:
        return []


# --- batch pipeline ----------------------------------------------------------

class Backfill(Workload):
    """The RunOnce history build and the cheap steps of the first nightly:
    all history through aggregate -> impute -> partitioned write, config
    bootstrap, per-node model fit and scoring; then the SCD-2 delta of the
    next day's config snapshot and the actual-vs-predicted comparison."""
    name = "backfill"

    def generate(self, root: str, warm: bool) -> dict:
        seed, n_det = self.seed, WARM_DET if warm else N_DET
        feed = os.path.join(root, "feed")
        gen.write_feed(feed, seed, n_det, range(1, FEED_DAYS + 1))
        detectors0 = gen.config_detectors(seed, n_det)
        detectors_next, churn = gen.churn(seed, detectors0)
        return {"n_det": n_det, "feed": feed,
                "detectors0": detectors0, "detectors_next": detectors_next,
                "churn": churn}

    def _config_update(self, day: int, detectors: list[dict], out: dict) -> None:
        sp = self.spark
        with self.tracer.span("sources.config_xml", "flatten_config_xml"):
            snap = flatten_config_xml(snapshot_frame(sp, [config_doc(day, detectors)]))
            snap = snap.select("DETECTOR_NAME", *gen.SCD2_ATTRS)
            if self.tracer.enabled:
                snap = snap.localCheckpoint()
        with self.tracer.span("pipeline", "run_config_update"):
            pipeline.run_config_update(sp, snap, out["state"], out["log"],
                                       gen.day_date(day), gen.SCD2_ATTRS)

    def run(self, i: str) -> None:
        sp, t, inp = self.spark, self.tracer, self.input(i)
        root = self.path("runs", i)
        sf = os.path.join(root, "sf")
        link_tree(inp["feed"], sf)
        out = {k: os.path.join(root, k) for k in ("fact", "state", "log", "pred")}
        self.outputs[i] = out
        with t.span("pipeline", "run_nightly_ingest"):
            pipeline.run_nightly_ingest(sp, sf, out["fact"])
        self._config_update(0, inp["detectors0"], out)
        with t.span("pipeline", "run_model_build"):
            pipeline.run_model_build(
                sp, out["fact"], sp.read.parquet(out["state"]), out["pred"],
                str(gen.day_date(TRAIN_BEFORE_DAY)),
                f"{gen.day_date(TRAIN_BEFORE_DAY)} 00:00:00",
                f"{gen.day_date(FEED_DAYS)} 23:00:00")
        self._config_update(NEXT_DAY, inp["detectors_next"], out)
        with t.span("pipeline", "run_comparison"):
            (pipeline.run_comparison(sp, out["fact"], sp.read.parquet(out["state"]),
                                     out["pred"])
             .write.format("noop").mode("overwrite").save())

    def written(self, i: str) -> list[str]:
        out = self.outputs[i]
        return [f for k in ("fact", "state", "log", "pred")
                for f in parquet_files(out[k])]

    def check(self, i: str) -> list[str]:
        inp, out = self.inputs["run"], self.outputs[i]
        errs = []
        con = duckdb.connect()
        bad, n = _sql(con, f"""
            WITH e AS ({_expected_fact_sql(inp["feed"])}),
            f AS (SELECT DETECTOR_NAME AS sensor,
                         CAST(epoch(START_DATETIME) AS BIGINT) AS w,
                         VOLUME_SUM, OCCUPANCY_SUM, VOLUME_PCT_NULL,
                         OCCUPANCY_PCT_NULL
                  FROM read_parquet('{out["fact"]}/*/*.parquet'))
            SELECT count(*) FILTER (WHERE f.sensor IS NULL OR e.sensor IS NULL
                     OR f.VOLUME_SUM <> e.vs OR f.OCCUPANCY_SUM <> e.os
                     OR abs(f.VOLUME_PCT_NULL - e.vp) > 1e-9
                     OR abs(f.OCCUPANCY_PCT_NULL - e.op) > 1e-9),
                   count(*)
            FROM f FULL OUTER JOIN e ON f.sensor = e.sensor AND f.w = e.w""")[0]
        if bad or not n:
            errs.append(f"fact: {bad} of {n} rows differ from the DuckDB recompute")
        dates = [d for d in os.listdir(out["fact"]) if d.startswith("START_DATE=")]
        if len(dates) != FEED_DAYS:
            errs.append(f"fact holds {len(dates)} dates, expected {FEED_DAYS}")
        hours = (FEED_DAYS - TRAIN_BEFORE_DAY + 1) * 24
        rows, keys, neg, nodes = _sql(con, f"""
            SELECT count(*), count(DISTINCT (NODE_NAME, PREDICT_TIME)),
                   count(*) FILTER (WHERE VOLUMN_PREDICTION < 0),
                   count(DISTINCT NODE_NAME)
            FROM read_parquet('{out["pred"]}/*/*.parquet')""")[0]
        if (rows, keys, neg, nodes) != (gen.NODES * hours, gen.NODES * hours,
                                        0, gen.NODES):
            errs.append(f"predictions: rows={rows} distinct={keys} negative={neg} "
                        f"nodes={nodes}, expected {gen.NODES} x {hours}")
        kinds = [c for c, *_ in inp["churn"]]
        want = (inp["n_det"] + kinds.count("NEW_DETECTOR"),
                kinds.count("REMOVE_DETECTOR") + kinds.count("DETECTOR_ABANDONED"))
        got = _sql(con, f"""SELECT count(*), count(*) FILTER (WHERE DEACTIVATE)
            FROM read_parquet('{out['state']}/*.parquet')""")[0]
        if got != want:
            errs.append(f"config state (rows, deactivated) = {got}, expected {want}")
        log = _sql(con, f"""
            SELECT Change, DETECTOR_NAME, Old_Value, New_Value
            FROM read_parquet('{out["log"]}/*/*.parquet', hive_partitioning = true)
            WHERE CAST(update_date AS DATE) = DATE '{gen.day_date(NEXT_DAY)}'""")
        if sorted(log, key=repr) != sorted(inp["churn"], key=repr):
            errs.append(f"changelog: {len(log)} rows, expected the "
                        f"{len(inp['churn'])} planted changes exactly")
        # the comparison was timed as a noop write; verify its contents
        cmp = pipeline.run_comparison(self.spark, out["fact"],
                                      self.spark.read.parquet(out["state"]),
                                      out["pred"])
        n, bad = cmp.agg(
            F.count(F.lit(1)),
            F.sum((F.col("VOLUME_DIFF") != F.col("volume_sum")
                   - F.col("VOLUMN_PREDICTION")).cast("int"))).first()
        if not n or bad or n > gen.NODES * hours:
            errs.append(f"comparison: {n} rows, {bad} wrong VOLUME_DIFF")
        return errs


def _expected_fact_sql(feed: str) -> str:
    """DuckDB recompute of the fact's sums and null shares over the raw
    feed (the arithmetic of sources.sensor + operators.aggregate)."""
    return f"""
    WITH r AS (
      SELECT CAST(user_id AS VARCHAR) AS sensor,
             CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 AS w,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE CAST(floor(value) % 25 AS INTEGER) END AS v,
             CASE WHEN event_type = 'signup' THEN NULL
                  ELSE CAST(floor(value * 37.0) % 2000 AS INTEGER) END AS o
      FROM read_parquet('{feed}/events.parquet/*.parquet')),
    c AS (SELECT sensor, w,
                 CASE WHEN v BETWEEN 0 AND 20 THEN v END AS v,
                 CASE WHEN o BETWEEN 0 AND 1800 THEN o END AS o FROM r)
    SELECT sensor, w, coalesce(sum(v), 0) AS vs, coalesce(sum(o), 0) AS os,
           round(100.0 * count(*) FILTER (WHERE v IS NULL) / count(*), 1) AS vp,
           round(100.0 * count(*) FILTER (WHERE o IS NULL) / count(*), 1) AS op
    FROM c GROUP BY sensor, w
    HAVING vp < 100 OR op < 100"""


# --- streaming -----------------------------------------------------------------

class StreamCatchup(Workload):
    """State store, micro-batch planning, WAL commits and the foreachBatch
    sink: a landing zone of hourly drops caught up with availableNow."""
    name = "stream_catchup"

    def __init__(self, *args):
        super().__init__(*args)
        self.progress: dict[str, list] = {}

    def generate(self, root: str, warm: bool) -> dict:
        landing = os.path.join(root, "landing")
        if warm:
            meta = gen.write_landing_zone(landing, self.seed, STREAM_DET,
                                          WARM_STREAM_HOURS, 0, 1)
            return {**meta, "landing": landing, "watermark": WARM_WATERMARK}
        meta = gen.write_landing_zone(
            landing, self.seed, STREAM_DET, STREAM_HOURS,
            STREAM_VERY_LATE, STREAM_VERY_LATE_BEFORE)
        return {**meta, "landing": landing, "watermark": "3 days"}

    def run(self, i: str) -> None:
        inp = self.input(i)
        root = self.path("runs", i)
        out = {"sink": os.path.join(root, "sink"),
               "ckpt": os.path.join(root, "checkpoint")}
        self.outputs[i] = out
        self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                            str(4 * STREAM_HOURS))
        with self.tracer.span("streaming.pipeline", "start_parquet_sink") as c:
            readings = streaming.stream_readings(
                self.spark, inp["landing"],
                max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
            agg = streaming.stream_15min_agg(readings, watermark=inp["watermark"])
            q = streaming.start_parquet_sink(agg, out["sink"], out["ckpt"])
            if self.tracer.enabled:
                self.tracer.spans[-1].groups.append(str(q.runId))
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.progress[i] = q.recentProgress
            c.update(_stream_counters(self.progress[i]))
            if self.tracer.enabled:
                # the aggregate runs fused into each micro-batch: only its
                # row counts can be told apart, from the query progress
                with self.tracer.span("operators.aggregate", "stream_15min_agg") as a:
                    a["rows_in"] = sum(p["numInputRows"] for p in self.progress[i])
                    a["rows_out"] = sum(pq.read_metadata(f).num_rows
                                        for f in parquet_files(out["sink"]))

    def written(self, i: str) -> list[str]:
        return parquet_files(self.outputs[i]["sink"])

    def batch_seconds(self, runs: list[str]) -> list[float]:
        """Micro-batch trigger-to-commit times, pooled over ``runs``."""
        return [p["durationMs"]["triggerExecution"] / 1000.0
                for i in runs for p in self.progress.get(i, [])]

    def _reference(self, watermark_ms: int) -> str:
        """Batch aggregate_detector over the landing zone without the
        planted very-late rows, for every window closed by the stream's
        final watermark."""
        ref = self.path(f"ref-{watermark_ms}")
        if not os.path.exists(ref):
            sp = self.spark
            inp = self.inputs["run"]
            late = sp.createDataFrame(
                [(s, dt.datetime.fromtimestamp(us / 1e6, dt.timezone.utc))
                 for s, us in inp["very_late"]],
                "sensor string, start_datetime timestamp")
            readings = (sp.read.schema(streaming.READINGS_SCHEMA)
                        .parquet(inp["landing"])
                        .join(late, ["sensor", "start_datetime"], "left_anti"))
            wm = dt.datetime.fromtimestamp(watermark_ms / 1000, dt.timezone.utc)
            (aggregate_detector(readings)
             .filter(F.col("start_datetime") + F.expr("INTERVAL 15 MINUTES")
                     <= F.lit(wm))
             .write.parquet(ref))
        return ref

    def check(self, i: str) -> list[str]:
        errs = []
        progress = self.progress[i]
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for p in progress for op in p.get("stateOperators", []))
        planted = len(self.inputs["run"]["very_late"])
        if dropped != planted:
            errs.append(f"stream dropped {dropped} late rows, planted {planted}")
        wm = max(dt.datetime.fromisoformat(p["eventTime"]["watermark"]
                                           .replace("Z", "+00:00"))
                 for p in progress if "watermark" in p.get("eventTime", {}))
        ref = self._reference(int(wm.timestamp() * 1000))
        cols = ("sensor, epoch(start_datetime) AS t, volume_sum, "
                "volume_pct_null, occupancy_sum, occupancy_pct_null, "
                "occupancy_pct, speed")
        con = duckdb.connect()
        got = (f"SELECT {cols} FROM read_parquet("
               f"'{self.outputs[i]['sink']}/*/*/*.parquet')")
        want = f"SELECT {cols} FROM read_parquet('{ref}/*.parquet')"
        (n,) = _sql(con, f"SELECT count(*) FROM ({want})")[0]
        (d1,) = _sql(con, f"SELECT count(*) FROM ({got} EXCEPT ALL {want})")[0]
        (d2,) = _sql(con, f"SELECT count(*) FROM ({want} EXCEPT ALL {got})")[0]
        if d1 or d2 or not n:
            errs.append(f"stream windows: {d1} extra, {d2} missing of {n} "
                        "closed windows against batch aggregate_detector")
        return errs


def _stream_counters(progress: list[dict]) -> dict:
    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1000.0

    ops = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "micro_batches": len(progress),
        "add_batch_s": dur("addBatch"),
        "query_planning_s": dur("queryPlanning"),
        "wal_commit_s": dur("walCommit"),
        "state_commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1000.0,
        "state_rows": max((op.get("numRowsTotal", 0) for op in ops), default=0),
        "state_memory_bytes": max((op.get("memoryUsedBytes", 0) for op in ops),
                                  default=0),
        "rows_dropped_late": sum(op.get("numRowsDroppedByWatermark", 0)
                                 for op in ops),
    }


# --- corpus dedup --------------------------------------------------------------

class CorpusDedup(Workload):
    """functions.*: exact dedup, shingling, MinHash, LSH banding and
    connected components over a corpus with planted near-duplicates."""
    name = "corpus_dedup"

    def generate(self, root: str, warm: bool) -> dict:
        n_docs = WARM_DOCS if warm else CORPUS_DOCS
        docs, planted = gen.corpus(self.seed, n_docs)
        path = os.path.join(root, "documents.parquet")
        os.makedirs(root)
        pq.write_table(pa.table({"doc_id": [d for d, _ in docs],
                                 "text": [t for _, t in docs]}),
                       path, row_group_size=n_docs // 4 + 1)
        return {"docs": path, "planted": planted, "ids": {d for d, _ in docs}}

    def run(self, i: str) -> None:
        sp = self.spark
        root = self.path("runs", i)
        src = os.path.join(root, "documents.parquet")
        os.makedirs(root)
        os.link(self.input(i)["docs"], src)
        out = {"groups": os.path.join(root, "groups"),
               "pairs": os.path.join(root, "pairs"),
               "components": os.path.join(root, "components")}
        self.outputs[i] = out
        t = self.tracer
        docs = sp.read.parquet(src)
        with t.span("functions.dedup", "exact_dedup_groups"):
            dedup.exact_dedup_groups(docs).write.parquet(out["groups"])
        with t.span("functions.dedup", "minhash_signatures"):
            sets = dedup.shingle_sets(docs)
            sig = dedup.minhash_signatures(sets)
            if t.enabled:
                sig = sig.localCheckpoint()
        with t.span("functions.dedup", "lsh_candidate_pairs") as c:
            pairs = dedup.lsh_candidate_pairs(sig, min_sim=0.5)
            pairs.write.parquet(out["pairs"])
        if t.enabled:
            # pairs sharing a band bucket, before the similarity filter
            c["kept_pairs"] = sp.read.parquet(out["pairs"]).count()
            bands = dedup.minhash_bands(sig)
            c["candidate_pairs"] = (
                bands.alias("a").join(bands.alias("b"), "band_key")
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select("a.doc_id", "b.doc_id").distinct().count())
        with t.span("functions.similarity", "connected_components"):
            edges = sp.read.parquet(out["pairs"]).select(
                F.col("doc_a").alias("q_id"), F.col("doc_b").alias("c_id"))
            comp = similarity.connected_components(
                docs.select("doc_id"), edges, "doc_id")
            comp.write.parquet(out["components"])

    def written(self, i: str) -> list[str]:
        return [f for p in self.outputs[i].values() for f in parquet_files(p)]

    def check(self, i: str) -> list[str]:
        inp, out = self.inputs["run"], self.outputs[i]
        errs = []
        con = duckdb.connect()
        (docs, groups) = _sql(con, f"""SELECT sum(n_docs), count(*)
            FROM read_parquet('{out["groups"]}/*.parquet')""")[0]
        if docs != CORPUS_DOCS or not groups:
            errs.append(f"exact dedup groups cover {docs} docs, expected {CORPUS_DOCS}")
        pair_ids = {x for r in _sql(con, f"""SELECT doc_a, doc_b
            FROM read_parquet('{out["pairs"]}/*.parquet')""") for x in r}
        if not pair_ids <= inp["ids"]:
            errs.append(f"{len(pair_ids - inp['ids'])} pair ids are not documents")
        rows = _sql(con, f"""SELECT doc_id, canonical_id
            FROM read_parquet('{out["components"]}/*.parquet')""")
        comp = dict(rows)
        if len(rows) != len(inp["ids"]) or set(comp) != inp["ids"]:
            errs.append("components do not cover the corpus exactly once")
        found = sum(comp.get(a) is not None and comp.get(a) == comp.get(b)
                    for a, b in inp["planted"])
        self.recalls[i] = found / len(inp["planted"])
        if self.recalls[i] < RECALL_FLOOR:
            errs.append(f"recall {self.recalls[i]:.3f} below {RECALL_FLOOR}")
        return errs


# --- the layers backfill bypasses, in one call ------------------------------

class StreamDedup(Workload):
    """``stream_catchup`` then ``corpus_dedup`` in one timed call, each
    with its own inputs and checks: every layer backfill bypasses
    (streaming, functions.*), and none it runs bar the aggregate."""
    name = "stream_dedup"

    def __init__(self, spark, tracer, work: str, seed: int):
        super().__init__(spark, tracer, work, seed)
        self.stream = StreamCatchup(spark, tracer, os.path.join(work, "stream"), seed)
        self.dedup = CorpusDedup(spark, tracer, os.path.join(work, "dedup"), seed)
        self.recalls = self.dedup.recalls

    def generate_inputs(self) -> None:
        self.stream.generate_inputs()
        self.dedup.generate_inputs()

    def run(self, i: str) -> None:
        self.stream.run(i)
        self.dedup.run(i)

    def check(self, i: str) -> list[str]:
        return self.stream.check(i) + self.dedup.check(i)

    def written(self, i: str) -> list[str]:
        return self.stream.written(i) + self.dedup.written(i)

    def batch_seconds(self, runs: list[str]) -> list[float]:
        return self.stream.batch_seconds(runs)


WORKLOADS = {w.name: w for w in (Backfill, StreamDedup, StreamCatchup, CorpusDedup)}
