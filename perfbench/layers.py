"""The layers of the program, as the traced run sees them.

``PER_LAYER`` names every per-layer metric with its unit; each traced
run reports all of them, with 0 for a layer that does no work on that
workload (no IPC in ``query_mix``, no stream in ``rayfall_ipc``, ...).
Times are means per traced op unless the name says otherwise.

The ``install_*`` functions wrap public functions of ``rayforce_spark``
(and the query functions of ``__spark_entry__``) with span recorders. They
patch module and class attributes of the running process only.
"""

from __future__ import annotations

import json
import statistics

#: the curate() stages query_mix's curate op runs, by the function of
#: ``datapipe.pipeline`` that builds each (the exact-dedup stage is two)
DATAPIPE_STAGES = {
    "doc_fingerprint": "exact_dedup",
    "dedup_exact": "exact_dedup",
    "filter_by_quality_quantile": "quality_floor",
    "sample_hash": "sample",
    "assign_folds": "folds",
    "cap_per_key": "cap",
}

PER_LAYER = {
    # session
    "session.get_spark_s": "s",
    "session.cache_fill_s": "s",
    "session.load_tables_ms": "ms",
    "session.load_tables_calls": "count",
    "session.jvm_peak_rss_mb": "MB",
    "session.py_peak_rss_mb": "MB",
    # operators (plan build of a query function, before its action)
    "operators.build_ms": "ms",
    "operators.build_jobs": "count",
    # spark (the engine below the repo, public APIs only)
    "spark.catalyst.analysis_ms": "ms",
    "spark.catalyst.optimization_ms": "ms",
    "spark.catalyst.planning_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.job_wall_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_ms": "ms",
    "spark.task_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_busy_frac": "ratio",
    # rayfall front-end
    "rayfall.parse_ms": "ms",
    "rayfall.eval_ms": "ms",
    # datapipe: curate() and each stage it calls, on query_mix's curate op
    "datapipe.build_ms": "ms",
    "datapipe.build_jobs": "count",
    **{f"datapipe.{stage}.{k}": unit
       for stage in dict.fromkeys(DATAPIPE_STAGES.values())
       for k, unit in (("build_ms", "ms"), ("build_jobs", "count"))},
    # sources: the curate op's parted sink
    "sources.set_parted_ms": "ms",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    # ipc server and wire
    "ipc.handler_ms": "ms",
    "ipc.wire_ms": "ms",
    "ipc.reply_ms": "ms",
    "ipc.reply_bytes": "bytes",
    "ipc.wait_ms": "ms",
    # serde, both sides of the wire
    "serde.ser_ms": "ms",
    "serde.de_ms": "ms",
    # streaming
    "streaming.append_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wait_ms": "ms",
    "streaming.batches": "count",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    # the trace itself
    "trace.ops": "count",
    "trace.op_p50_ms": "ms",
    "trace.untraced_op_p50_ms": "ms",
    "trace.overhead_pct": "%",
    "trace.unattributed_pct": "%",
}


def metrics(values: dict) -> dict:
    """Every PER_LAYER metric, from ``values`` or 0."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"not in PER_LAYER: {sorted(unknown)}")
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit}
            for name, unit in PER_LAYER.items()}


def job_totals(elog: dict, job_lists) -> dict:
    """Task statistics, job/stage counts and job wall time (the union of
    an op's job intervals) summed over the job lists of several ops."""
    from perfbench.harness import (TASK_FIELDS, job_spans_ms, job_stats,
                                   union_ms)

    agg = dict.fromkeys((*TASK_FIELDS, "jobs", "stages", "job_wall_ms"), 0.0)
    for jobs in job_lists:
        for k, v in job_stats(elog, jobs).items():
            agg[k] += v
        agg["job_wall_ms"] += union_ms(job_spans_ms(elog, jobs))
    return agg


def trace_summary(traced_s, untraced_s, op_ms: float,
                  covered_ms: float) -> dict:
    """The ``trace.*`` metrics: traced against untraced op latency (both
    in seconds) of the same run, and the share of mean op wall time
    ``op_ms`` that named layers' spans (``covered_ms``) do not cover."""
    t50 = statistics.median(traced_s) * 1000 if traced_s else 0.0
    u50 = statistics.median(untraced_s) * 1000 if untraced_s else 0.0
    return {
        "trace.ops": len(traced_s),
        "trace.op_p50_ms": t50,
        "trace.untraced_op_p50_ms": u50,
        "trace.overhead_pct": (t50 / u50 - 1) * 100 if u50 else 0.0,
        "trace.unattributed_pct": (op_ms - covered_ms) / op_ms * 100
        if op_ms else 0.0,
    }


def install_session(tracer, entry_module) -> None:
    """``load_tables`` as the query functions of ``__spark_entry__`` see
    it (they call it through their module globals) and as the curate op
    calls it."""
    from rayforce_spark import session

    tracer.wrap(entry_module, "load_tables", "session.load_tables")
    tracer.wrap(session, "load_tables", "session.load_tables")


def _job_grouped(tracer, sc, fn, span: str, suffix: str):
    """``fn`` inside span ``span``, its Spark jobs in the job group
    ``<current group>.<suffix>``."""
    def wrapper(*args, **kw):
        if not tracer.active:
            return fn(*args, **kw)
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group}.{suffix}", "perfbench")
        try:
            return tracer.call(span, fn, *args, **kw)
        finally:
            sc.setJobGroup(group, "perfbench")
    return wrapper


def install_datapipe(tracer, sc) -> None:
    """``curate()`` (called through the package) and the stage functions
    it calls (through ``pipeline``'s module globals). Jobs started by a
    stage fall in the job group ``<op group>.dp.<stage>``."""
    from rayforce_spark import datapipe
    from rayforce_spark.datapipe import pipeline

    datapipe.curate = _job_grouped(tracer, sc, datapipe.curate,
                                   "datapipe.build", "dp")
    for attr, stage in DATAPIPE_STAGES.items():
        setattr(pipeline, attr, _job_grouped(
            tracer, sc, getattr(pipeline, attr), f"datapipe.{stage}", stage))


def install_sources(tracer) -> None:
    from rayforce_spark import sources

    tracer.wrap(sources, "set_parted", "sources.set_parted")


def install_rayfall(tracer) -> None:
    from rayforce_spark.rayfall import evalr

    tracer.wrap(evalr, "parse", "rayfall.parse")
    tracer.wrap(evalr.Interp, "eval_str", "rayfall.eval")


class _TimedJson:
    """Stands in for the ``json`` module inside ``rayforce_spark.ipc``:
    ``dumps`` is serialization, ``loads`` deserialization."""

    def __init__(self, tracer, count_bytes: bool):
        self._tracer = tracer
        self._count = count_bytes

    def dumps(self, obj, **kw):
        out = self._tracer.call("serde.ser", json.dumps, obj, **kw)
        if self._count and self._tracer.active:
            self._tracer.count("ipc.reply_bytes", len(out) + 1)
        return out

    def loads(self, s, **kw):
        return self._tracer.call("serde.de", json.loads, s, **kw)


def install_serde(tracer, *, server: bool) -> None:
    """JSON and binary (de)serialization of the IPC module; on the
    server, the bytes of each reply are counted too."""
    from rayforce_spark import ipc
    from rayforce_spark.rayfall import serde

    ipc.json = _TimedJson(tracer, count_bytes=server)
    tracer.wrap(serde, "de_obj", "serde.de")
    if not server:
        tracer.wrap(serde, "ser_obj", "serde.ser")
        return
    ser = serde.ser_obj

    def ser_counted(x, **kw):
        out = tracer.call("serde.ser", ser, x, **kw)
        if tracer.active:
            tracer.count("ipc.reply_bytes", len(out))
        return out

    serde.ser_obj = ser_counted


class _TimedLock:
    """Stands in for a RayfallServer's eval lock: waiting to acquire it
    is the span ``ipc.lock_wait``."""

    def __init__(self, tracer, lock):
        self._tracer = tracer
        self._lock = lock

    def __enter__(self):
        self._tracer.call("ipc.lock_wait", self._lock.acquire)
        return self

    def __exit__(self, *exc):
        self._lock.release()


def install_ipc_server(tracer, server, spark) -> None:
    """Spans around each request a RayfallServer handles, and around the
    wait for its eval lock (a variable its request handlers close over).
    A request's op id is ``<client port>:<n>``, n counting the
    connection's requests, so client and server spans join without
    touching the protocol."""
    handler_cls = server._server.RequestHandlerClass
    sc = spark.sparkContext
    fn = handler_cls._handle_json
    cell = fn.__closure__[fn.__code__.co_freevars.index("lock")]
    cell.cell_contents = _TimedLock(tracer, cell.cell_contents)

    def traced(fn):
        def wrapper(self, *args):
            seq = getattr(self, "_perfbench_seq", 0)
            self._perfbench_seq = seq + 1
            if not tracer.active:
                return fn(self, *args)
            op = f"{self.client_address[1]}:{seq}"
            tracer.set_op(op)
            sc.setJobGroup(f"ipc:{op}", "perfbench")
            try:
                return tracer.call("ipc.handler", fn, self, *args)
            finally:
                tracer.set_op(None)
        return wrapper

    handler_cls._handle_json = traced(handler_cls._handle_json)
    handler_cls._handle_binary = traced(handler_cls._handle_binary)


def install_ipc_reply(tracer) -> None:
    """Reply shaping, the collect included (once per process: the
    shapers are module functions that recurse per cell)."""
    from rayforce_spark import ipc

    tracer.wrap(ipc, "_jsonable", "ipc.reply", outer_only=True)
    tracer.wrap(ipc, "_binable", "ipc.reply", outer_only=True)


def install_streaming(tracer) -> None:
    from rayforce_spark.streaming import journal

    tracer.wrap(journal.Journal, "append", "streaming.append")
