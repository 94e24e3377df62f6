"""Layer tracing from outside the program.

``Tracer.install`` wraps the engine functions that
``streaming.pipeline.foreach_batch_loader`` resolves from its module
namespaces at call time, plus PySpark's ``DataFrameWriter.parquet``,
``DataFrameReader.parquet`` and ``DataFrame.isEmpty``. Each call
becomes a span (name, start, end, parent, batch id) kept in memory;
``uninstall`` restores the originals. ``spark_stage_rows`` reads jobs
and stages from Spark's own status store after the run.

Plans are lazy, so spans around the plan builders (``*.build``) time
driver-side plan construction, and the sink spans time execution.
"""

from __future__ import annotations

import itertools
import threading
import time

# (module attribute, span name). The loader looks these names up in
# streaming.pipeline's globals, except to_staging, which it imports
# from operators.pipeline inside the batch function.
_PIPELINE_FUNCS = [
    ("process_events", "validation.process_events"),
    ("with_alerts", "validation.with_alerts"),
    ("attach_validation_arrays", "validation.attach_validation_arrays"),
    ("route", "validation.route"),
    ("flat_lake_row", "validation.flat_lake_row"),
    ("exploded_alerts", "validation.exploded_alerts"),
    ("throttle_batch_window", "throttle.build"),
    ("incremental_load", "star_schema.build"),
]
_OPERATOR_FUNCS = [("to_staging", "validation.to_staging")]


def sink_kind(path: str) -> str:
    """Name the loader's sink from the output path it writes."""
    tail = str(path).rstrip("/").rsplit("/", 2)
    if tail[-2:-1] == ["star"]:
        return "fact" if tail[-1].startswith("fact_") else "dims"
    return tail[-1]


class _ThreadState(threading.local):
    def __init__(self) -> None:
        self.stack: list[int] = []  # ids of the spans open in this thread
        self.batch = None  # batch id of the innermost batch-scoped span


class Tracer:
    """Spans of wrapped calls, kept in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._state = _ThreadState()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, fn, name_of, batch_arg: int | None = None):
        """Wrap ``fn``; ``name_of(args)`` names each call's span and
        ``batch_arg`` marks the positional argument that is a batch id
        (the span then scopes every span opened inside it)."""

        def traced(*args, **kwargs):
            state = self._state
            sid = next(self._ids)
            parent = state.stack[-1] if state.stack else None
            outer_batch = state.batch
            if batch_arg is not None:
                state.batch = args[batch_arg]
            state.stack.append(sid)
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                end = time.time()
                state.stack.pop()
                span = {"id": sid, "parent": parent, "name": name_of(args),
                        "start": start, "end": end, "batch": state.batch}
                state.batch = outer_batch
                with self._lock:
                    self.spans.append(span)

        return traced

    def _patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from iot_real_time_data_pipeline_spark.operators import pipeline as ops
        from iot_real_time_data_pipeline_spark.streaming import pipeline as stream

        for attr, name in _PIPELINE_FUNCS:
            self._patch(stream, attr, self.wrap(getattr(stream, attr), lambda a, n=name: n))
        for attr, name in _OPERATOR_FUNCS:
            self._patch(ops, attr, self.wrap(getattr(ops, attr), lambda a, n=name: n))

        make_loader = stream.foreach_batch_loader

        def traced_loader(*args, **kwargs):
            return self.wrap(make_loader(*args, **kwargs),
                             lambda a: "loader.add_batch", batch_arg=1)

        self._patch(stream, "foreach_batch_loader", traced_loader)

        def read_name(args):
            star = any("/star/" in str(p) for p in args[1:])
            return "loader.history_read" if star else "read.parquet"

        self._patch(DataFrameWriter, "parquet", self.wrap(
            DataFrameWriter.parquet, lambda a: f"sink.{sink_kind(a[1])}"))
        self._patch(DataFrameReader, "parquet", self.wrap(DataFrameReader.parquet, read_name))
        self._patch(DataFrame, "isEmpty", self.wrap(DataFrame.isEmpty, lambda a: "loader.is_empty"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


def _opt_epoch_s(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_stage_rows(spark) -> tuple[list[dict], list[dict]]:
    """Jobs and executed stages from the application status store, as
    plain dicts with epoch-second times."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    lst = store.jobsList(None)
    for i in range(lst.size()):
        j = lst.apply(i)
        start, end = _opt_epoch_s(j.submissionTime()), _opt_epoch_s(j.completionTime())
        if start is not None and end is not None:
            jobs.append({"start": start, "end": end})
    stages = []
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    lst = store.stageList(None, False, False, no_quantiles, None)
    for i in range(lst.size()):
        s = lst.apply(i)
        start = _opt_epoch_s(s.submissionTime())
        if start is None:
            continue  # skipped stage: its output was reused
        stages.append({
            "start": start,
            "tasks": s.numCompleteTasks(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_bytes": s.shuffleWriteBytes(),
        })
    return jobs, stages
