"""stream_ingest: each op journals one seeded batch of event rows with
``streaming.Journal.append`` and then runs ``processAllAvailable()`` on
``stream_dedup(["event_id"], ts_col="ts")``, which writes to a parquet
file sink. About a fifth of each batch replays earlier event ids inside
the dedup watermark (gen.stream_batch).
"""

from __future__ import annotations

import os
import statistics
import time
from collections import Counter

from perfbench import gen, harness, layers
from perfbench.trace import Tracer, by_op, mean_over, now

SETUP_REPEATS = 3
#: untimed batches before the timed phase. Op latency still fell from
#: ~600 to ~430 ms over the first ~10 batches after set-up (the JIT at
#: work), and how fast it fell varied from run to run
PRIMING_BATCHES = 12
#: durationMs keys of a micro-batch's progress, as per-layer names
DURATIONS = {"triggerExecution": "trigger", "addBatch": "add_batch",
             "walCommit": "wal_commit", "commitOffsets": "commit_offsets",
             "latestOffset": "latest_offset",
             "queryPlanning": "query_planning"}


def _start(spark, base: str):
    from rayforce_spark.streaming import Journal, read_journal_stream
    from rayforce_spark.streaming.ops import stream_dedup

    journal = Journal(os.path.join(base, "journal"), gen.STREAM_SCHEMA)
    out = stream_dedup(
        read_journal_stream(spark, journal.path, gen.STREAM_SCHEMA),
        ["event_id"], ts_col="ts")
    q = (out.writeStream.format("parquet")
         .option("path", os.path.join(base, "sink"))
         .option("checkpointLocation", os.path.join(base, "checkpoint"))
         .outputMode("append").start())
    return journal, q


def run(args, ctx) -> dict:
    from rayforce_spark.session import get_spark

    t0 = now()
    spark = get_spark("perfbench_stream_ingest")
    get_spark_s = now() - t0
    session_ready = now() - ctx.process_start
    # one micro-batch per appended batch: no extra no-data batches that
    # only advance the watermark between ops
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    k = 0                       # next batch index of the seeded sequence
    q = None
    rest_s = []
    for rep in range(SETUP_REPEATS):
        if q is not None:
            q.stop()
        a = now()
        base = os.path.join(ctx.workdir, f"stream{rep}")
        journal, q = _start(spark, base)
        journal.append(gen.stream_batch(args.seed, 0))    # one warm-up op
        q.processAllAvailable()
        rest_s.append(now() - a)
    k = 1
    setup_s = session_ready + statistics.median(rest_s)
    harness.log(f"session {session_ready:.2f}s, set-ups {rest_s}")
    for _ in range(PRIMING_BATCHES):
        journal.append(gen.stream_batch(args.seed, k))
        q.processAllAvailable()
        k += 1

    tracer = Tracer()
    if args.trace:
        layers.install_streaming(tracer)
    last_batch = max((p["batchId"] for p in q.recentProgress), default=-1)
    ops = []            # (op, latency s, traced, epoch start ms, epoch end ms)
    progress = {}       # op -> progress dicts of its micro-batches
    failed = 0
    deadline = now() + args.seconds
    t_start = now()
    t_end = t_start
    op = 0
    while now() < deadline:
        rows = gen.stream_batch(args.seed, k)   # drawn outside the op
        k += 1
        traced = bool(args.trace and op % 2 == 1)
        tracer.active = traced
        tracer.set_op(op)
        e0 = time.time() * 1000
        a = now()
        try:
            journal.append(rows)
            q.processAllAvailable()
            ok = True
        except Exception as e:  # noqa: BLE001 - count it, keep going
            harness.log(f"op {op} failed: {e}")
            failed += 1
            ok = False
        b = now()
        t_end = b
        if traced:
            tracer.record("op", a, b, op)
        tracer.active = False
        if args.trace:
            new = [p for p in q.recentProgress if p["batchId"] > last_batch]
            last_batch = max([p["batchId"] for p in new] + [last_batch])
            if traced:
                progress[op] = new
        if ok:
            ops.append((op, b - a, traced, e0, time.time() * 1000))
        op += 1
    tracer.set_op(None)
    wall = t_end - t_start
    harness.log(f"timed phase: {op} ops in {wall:.2f}s")
    q.stop()

    check = _check(spark, journal.path, os.path.join(base, "sink"))
    result = {
        "attempted": op,
        "failed": failed,
        "check": check,
        "latencies": [o[1] for o in ops if not o[2]],
        "wall": wall,
        "setup_s": setup_s,
        "stamp": harness.spark_stamp(spark),
        "notes": {"batch_rows": gen.BATCH_ROWS, "batches": k,
                  "setup_rest_s": rest_s},
    }
    if args.trace:
        jvm_rss = harness.peak_rss_mb(harness.jvm_pid(spark))
        harness.stop_spark(spark)
        elog = harness.read_event_log(os.path.join(ctx.workdir, "eventlog"))
        result["per_layer"] = _per_layer(tracer, ops, progress, elog,
                                         get_spark_s, jvm_rss)
        ctx.dump_trace(tracer)
    else:
        harness.stop_spark(spark)
    return result


def _per_layer(tracer, ops, progress, elog, get_spark_s, jvm_rss):
    spans = by_op(tracer.spans)
    traced = [o for o in ops if o[2]]
    ids = [o[0] for o in traced]
    n = max(1, len(ids))

    def ms(name):
        return mean_over(spans, ids, name) * 1000

    dur = dict.fromkeys(DURATIONS.values(), 0.0)
    batches = state_rows = state_mem = 0
    for i in ids:
        for p in progress.get(i, []):
            batches += 1
            for key, name in DURATIONS.items():
                dur[name] += p["durationMs"].get(key, 0)
            for st in p.get("stateOperators", []):
                state_rows += st.get("numRowsTotal", 0)
                state_mem += st.get("memoryUsedBytes", 0)
    agg = layers.job_totals(elog, [
        [j for j, info in elog["jobs"].items()
         if e0 <= (info["submit_ms"] or 0) <= e1]
        for _op, _lat, _t, e0, e1 in traced])
    append_ms = ms("streaming.append")
    trigger_ms = dur["trigger"] / n
    return layers.metrics({
        "session.get_spark_s": get_spark_s,
        "session.jvm_peak_rss_mb": jvm_rss,
        "session.py_peak_rss_mb": harness.peak_rss_mb("self"),
        **{f"spark.{k}": v / n for k, v in agg.items()},
        "spark.task_busy_frac": agg["task_run_ms"] / n
        / max(1e-9, trigger_ms * harness.cpus()),
        "streaming.append_ms": append_ms,
        **{f"streaming.{name}_ms": v / n for name, v in dur.items()},
        "streaming.wait_ms": ms("op") - append_ms - trigger_ms,
        "streaming.batches": batches / n,
        "streaming.state_rows_total": state_rows / max(1, batches),
        "streaming.state_memory_bytes": state_mem / max(1, batches),
        # named layers: the journal append and the micro-batch's trigger
        # execution; the stream's pickup of new data and the drain check
        # of processAllAvailable are unattributed
        **layers.trace_summary(
            [o[1] for o in traced], [o[1] for o in ops if not o[2]],
            ms("op"), append_ms + trigger_ms),
    })


def _check(spark, journal_path: str, sink_path: str) -> dict:
    """The sink multiset equals its batch twin: the journal replayed and
    deduplicated on event_id (duplicates are exact row copies, so any
    surviving representative equals any other)."""
    from rayforce_spark.streaming import replay_journal

    cols = ["event_id", "user_id", "value"]
    got = Counter(tuple(r) for r in
                  spark.read.parquet(sink_path).select(*cols).collect())
    want = Counter(tuple(r) for r in
                   replay_journal(spark, journal_path, gen.STREAM_SCHEMA)
                   .dropDuplicates(["event_id"]).select(*cols).collect())
    return {"ok": got == want and len(want) > 0,
            "sink_rows": sum(got.values()), "twin_rows": sum(want.values()),
            "only_sink": len(got - want), "only_twin": len(want - got)}
