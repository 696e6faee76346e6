"""Pipeline benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0

Starts the package's session (``session.get_spark``, local[nproc]),
generates the workload's inputs from ``--seed`` under ``.bench_work/`` in
the checkout, runs one discarded warm-up call on small inputs, then
calls the workload's timed work in a closed loop for ``--seconds``
seconds, checks every call's outputs and prints a report. The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a separate traced
pass (see spans.py and layers.py). Workloads and metrics are listed in
BENCHMARK.json at the checkout root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH_ROOT = ROOT / ".bench_work"
DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3        # input generations per run; setup_s takes the median

# per-layer metrics reported by a traced run: (name, unit)
PER_LAYER = (
    ("session.busy_s", "s"),
    ("pipeline.busy_s", "s"),
    ("sources.sensor.busy_s", "s"),
    ("sources.sensor.input_rows", "count"),
    ("sources.sensor.input_bytes", "B"),
    ("operators.aggregate.busy_s", "s"),
    ("operators.aggregate.rows_in", "count"),
    ("operators.aggregate.rows_out", "count"),
    ("operators.aggregate.shuffle_write_bytes", "B"),
    ("operators.impute.busy_s", "s"),
    ("operators.impute.shuffle_write_bytes", "B"),
    ("operators.impute.spill_bytes", "B"),
    ("operators.ingest.write_s", "s"),
    ("operators.ingest.files_written", "count"),
    ("operators.ingest.bytes_written", "B"),
    ("sources.config_xml.busy_s", "s"),
    ("operators.scd2.busy_s", "s"),
    ("operators.scd2.spark_jobs", "count"),
    ("operators.rollup.busy_s", "s"),
    ("operators.rollup.rows_out", "count"),
    ("operators.rollup.qaqc_pass_ratio", "ratio"),
    ("ml.modeling.busy_s", "s"),
    ("ml.modeling.nodes_fit", "count"),
    ("ml.modeling.rows_scored", "count"),
    ("operators.compare.busy_s", "s"),
    ("operators.compare.rows_out", "count"),
    ("streaming.pipeline.busy_s", "s"),
    ("streaming.pipeline.micro_batches", "count"),
    ("streaming.pipeline.batch_p50_s", "s"),
    ("streaming.pipeline.batch_p90_s", "s"),
    ("streaming.pipeline.add_batch_s", "s"),
    ("streaming.pipeline.query_planning_s", "s"),
    ("streaming.pipeline.wal_commit_s", "s"),
    ("streaming.pipeline.state_commit_s", "s"),
    ("streaming.pipeline.state_rows", "count"),
    ("streaming.pipeline.state_memory_bytes", "B"),
    ("streaming.pipeline.rows_dropped_late", "count"),
    ("functions.dedup.busy_s", "s"),
    ("functions.dedup.candidate_pairs", "count"),
    ("functions.dedup.kept_pairs", "count"),
    ("functions.dedup.kept_ratio", "ratio"),
    ("functions.dedup.recall", "ratio"),
    ("functions.similarity.busy_s", "s"),
    ("functions.similarity.spark_jobs", "count"),
    ("engine.executor_run_s", "s"),
    ("engine.executor_cpu_s", "s"),
    ("engine.gc_s", "s"),
    ("engine.tasks", "count"),
    ("engine.failed_tasks", "count"),
    ("trace.job_s", "s"),
    ("trace.overhead_s", "s"),
)

def _environment(work: Path, trace: bool) -> None:
    """Keep every file the run writes inside ``work`` and put the package
    on the driver's and the Python workers' import path."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    no_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = no_tmp     # spark-submit's own JVM
    java = f"{no_tmp} -Dderby.system.home={work}"
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        # every job and stage of a traced span must still be in the
        # status store when the span ends
        confs.update({"spark.ui.retainedJobs": "20000",
                      "spark.ui.retainedStages": "20000"})
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in [*args, "--driver-java-options", java,
                                 "pyspark-shell"])
    sys.path.insert(0, str(ROOT))


def _quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _stored_bytes_per_row(files: list[str]) -> float:
    import pyarrow.parquet as pq

    size = sum(os.path.getsize(f) for f in files)
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return size / rows if rows else 0.0


def _layer_metrics(tracer, runs: list[str], extra: dict) -> dict:
    """Per-layer metrics per traced call: a span of layer L adds its self
    time to ``L.busy_s`` and each counter C to ``L.C`` where that metric
    exists, and its engine counters to ``engine.C``."""
    out = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    qaqc_in = qaqc_out = 0
    for i, sp in enumerate(tracer.spans):
        if sp.run not in runs:
            continue
        values = {"busy_s": tracer.self_time(i), **sp.counters}
        for k, v in values.items():
            for key in (f"{sp.name}.{k}", f"engine.{k}"):
                if key in out:
                    out[key] += v / len(runs)
        qaqc_in += sp.counters.get("qaqc_rows_in", 0)
        qaqc_out += sp.counters.get("qaqc_rows_out", 0)
    out["operators.rollup.qaqc_pass_ratio"] = qaqc_out / qaqc_in if qaqc_in else 0.0
    cand = out["functions.dedup.candidate_pairs"]
    out["functions.dedup.kept_ratio"] = (
        out["functions.dedup.kept_pairs"] / cand if cand else 0.0)
    out.update(extra)
    units = dict(PER_LAYER)
    return {k: {"value": v, "unit": units[k]} for k, v in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    work = BENCH_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        result = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            BENCH_ROOT.rmdir()      # only when no trace logs are kept
    print(json.dumps(result))
    return 0


def _run(args, work: Path) -> dict:
    t_setup = time.perf_counter()
    trace = bool(args.trace)
    _environment(work, trace)

    # imported only now: they need the package on sys.path
    import spans as tr
    import workloads
    from layers import instrumented
    from pyspark import SparkContext
    from traffic_data_pipeline_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(workloads.WORKLOADS)}")

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm = SparkContext._gateway.proc
    tracer = tr.Tracer(spark, enabled=False)
    sampler = tr.RssSampler(jvm.pid)
    wl = workloads.WORKLOADS[args.workload](spark, tracer, str(work), args.seed)
    durations: dict[str, float] = {}
    errors: dict[str, list[str]] = {}

    def timed(i: str) -> None:
        spark.catalog.clearCache()
        tracer.run = i
        failed0 = tr.failed_task_count(sc)
        sampler.active(True)
        start = time.perf_counter()
        try:
            wl.run(i)
        except Exception:
            errors[i] = [traceback.format_exc()]
        durations[i] = time.perf_counter() - start
        sampler.active(False)
        failed = tr.failed_task_count(sc) - failed0
        if failed:
            errors.setdefault(i, []).append(f"{failed} failed task attempts")

    def loop(prefix: str) -> list[str]:
        runs, begin = [], time.perf_counter()
        while not runs or time.perf_counter() - begin < args.seconds:
            runs.append(f"{prefix}{len(runs)}")
            timed(runs[-1])
        return runs

    try:
        ready_s = time.perf_counter() - t_setup
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate_inputs()
            gen_s.append(time.perf_counter() - t0)
        setup_s = ready_s + statistics.median(gen_s)
        t0 = time.perf_counter()
        wl.run(workloads.WARMUP)
        warmup_s = time.perf_counter() - t0
        if trace:
            base = ["untraced"]
            timed(base[0])
            tracer.enabled = True
            with instrumented(tracer):
                runs = loop("traced")
            tracer.enabled = False
            runs_all = base + runs
        else:
            runs = runs_all = loop("run")

        t0 = time.perf_counter()
        for i in runs_all:
            if i not in errors:
                try:
                    errs = wl.check(i)
                except Exception:
                    errs = [traceback.format_exc()]
                if errs:
                    errors[i] = errs
        written = [f for i in runs_all if i not in errors for f in wl.written(i)]
        check_s = time.perf_counter() - t0
    finally:
        sampler.close()
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()
        jvm.wait(timeout=60)

    job = [durations[i] for i in runs]
    report = {
        "job_s": (statistics.median(job), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sampler.peak_kb / 1024.0, "MB"),
        "stored_bytes_per_row": (_stored_bytes_per_row(written), "B/row"),
    }
    batches = wl.batch_seconds(runs)
    if batches:
        report["batch_p50_s"] = (statistics.median(batches), "s")
        report["batch_p90_s"] = (_quantile(batches, 0.9), "s")
    recalls = [wl.recalls[i] for i in runs if i in wl.recalls]
    if recalls:
        report["dedup_recall"] = (statistics.mean(recalls), "ratio")
    report["failed_frac"] = (len(errors) / len(runs_all), "ratio")

    for i, errs in errors.items():
        for e in errs:
            print(f"[{args.workload} {i}] FAILED: {e}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed}: "
          f"{len(runs_all)} timed runs ({len(runs)} reported), "
          f"{len(batches)} micro-batches")
    print(f"  session {session_s:.1f} s, set-up {setup_s:.1f} s (input "
          f"generations {' '.join(f'{g:.2f}' for g in gen_s)} s), warm-up "
          f"{warmup_s:.1f} s, checks {check_s:.1f} s; timed runs: "
          + " ".join(f"{durations[i]:.3f}" for i in runs_all))
    for k, (v, unit) in report.items():
        print(f"  {k:<22} {v:.6g} {unit}")

    if trace:
        extra = {"session.busy_s": session_s,
                 "trace.job_s": report["job_s"][0],
                 "trace.overhead_s": report["job_s"][0] - durations[base[0]]}
        for k, layer_k in (("batch_p50_s", "streaming.pipeline.batch_p50_s"),
                           ("batch_p90_s", "streaming.pipeline.batch_p90_s"),
                           ("dedup_recall", "functions.dedup.recall")):
            if k in report:
                extra[layer_k] = report[k][0]
        metrics = _layer_metrics(tracer, runs, extra)
        tracer.dump(str(BENCH_ROOT / "traces" / f"{args.workload}-{args.seed}.jsonl"))
        for k, m in metrics.items():
            print(f"  {k:<42} {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": report[k][0], "unit": report[k][1]}
                   for k in ("job_s", "setup_s", "peak_rss_mb",
                             "stored_bytes_per_row")}
    return {"correct": not errors,
            "attempted": len(runs_all), "failed": len(errors),
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
