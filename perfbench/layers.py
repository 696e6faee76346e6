"""Traced-run instrumentation: wrap the package's layer functions, as the
orchestration in ``traffic_data_pipeline_spark.pipeline`` and
``operators.ingest`` looks them up, with spans.

The wrappers change nothing in the package; they are installed only for
traced runs and removed afterwards. A lazy layer (one that returns a
DataFrame plan) is materialized inside its span with ``localCheckpoint``,
so its work is timed in its own span instead of in whichever later action
happens to run it. That extra materialization is part of the tracing
overhead the traced run reports.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from traffic_data_pipeline_spark import pipeline
from traffic_data_pipeline_spark.operators import ingest

# (module, attribute, layer)
LAZY = (
    (ingest, "sensor_readings", "sources.sensor"),
    (ingest, "detector_config", "sources.sensor"),
    (ingest, "aggregate_detector", "operators.aggregate"),
    (ingest, "impute", "operators.impute"),
    (pipeline, "initial_state", "operators.scd2"),
    (pipeline, "scd2_apply", "operators.scd2"),
    (pipeline, "two_level_rollup", "operators.rollup"),
    (pipeline, "detectors_per_node", "operators.rollup"),
    (pipeline, "join_validity", "operators.rollup"),
    (pipeline, "qaqc_for_model", "operators.rollup"),
    (pipeline, "modeling_node", "ml.modeling"),
    (pipeline, "hourly_spine", "operators.compare"),
    (pipeline, "compare_actual_predicted", "operators.compare"),
)


def _materialize(out):
    """Checkpoint every DataFrame in ``out`` not checkpointed here before."""
    if isinstance(out, tuple):
        return tuple(_materialize(o) for o in out)
    if not isinstance(out, DataFrame) or getattr(out, "_bench_done", False):
        return out
    out = out.localCheckpoint()
    out._bench_done = True
    return out


def _counts(attr: str, args: tuple, out, c: dict) -> None:
    """Layer-specific work counters, taken on checkpointed frames."""
    if attr == "aggregate_detector":
        c["rows_in"] = args[0].count()
        c["rows_out"] = out.count()
    elif attr in ("two_level_rollup", "compare_actual_predicted"):
        c["rows_out"] = out.count()
    elif attr == "qaqc_for_model":
        c["qaqc_rows_in"] = args[0].count()
        c["qaqc_rows_out"] = out.count()
    elif attr == "modeling_node":
        c["rows_scored"], c["nodes_fit"] = out.agg(
            F.count(F.lit(1)), F.countDistinct("NODE_NAME")).first()


def _wrap_lazy(tracer, fn, attr: str, layer: str):
    def traced(*args, **kwargs):
        args = _materialize(args)
        with tracer.span(layer, attr) as c:
            out = _materialize(fn(*args, **kwargs))
        _counts(attr, args, out, c)
        return out
    return traced


def _parquet_sizes(path: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")}


def _wrap_write(tracer, fn):
    def traced(df, path):
        before = _parquet_sizes(path)
        with tracer.span("operators.ingest", "write_rtmc_15min") as c:
            start = time.perf_counter()
            fn(df, path)
            c["write_s"] = time.perf_counter() - start
        new = {f: s for f, s in _parquet_sizes(path).items() if f not in before}
        c["files_written"] = len(new)
        c["bytes_written"] = sum(new.values())
    return traced


@contextlib.contextmanager
def instrumented(tracer):
    """Install the layer wrappers for the duration of the block."""
    saved = []
    try:
        for mod, attr, layer in LAZY:
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, _wrap_lazy(tracer, fn, attr, layer))
        saved.append((pipeline, "write_rtmc_15min", pipeline.write_rtmc_15min))
        pipeline.write_rtmc_15min = _wrap_write(tracer, pipeline.write_rtmc_15min)
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)
