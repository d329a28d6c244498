"""rayfall_ipc: two closed-loop clients send Rayfall text to a
RayfallServer running in its own process, one over JSON-lines and one
over the binary serde. Each client waits for a sync reply before its
next request. The server holds lineitem in its environment; the request
classes and literals come from the seed (gen.ipc_requests).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading

from perfbench import gen, harness, layers
from perfbench.ipc_server import canon
from perfbench.trace import Tracer, by_op, load, mean_over, now

SF = 0.02
SETUP_REPEATS = 3
PROTOCOLS = ("json", "binary")
#: replies checked against in-process evaluation, per class and client
#: (the priming request plus the first timed ones)
CHECKED_PER_CLASS = 3
WARMUP = "(sum (til 10))"


class _Server:
    """The server process and its stdin/stdout command channel."""

    def __init__(self, data_dir: str, trace: bool, trace_out: str):
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "ipc_server.py")
        self.proc = subprocess.Popen(
            [sys.executable, script, data_dir, str(int(trace)), trace_out],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def read(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("ipc server exited")
            if line.startswith("{"):
                return json.loads(line)

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


class _Client:
    def __init__(self, idx: int, address: str, reqs, tracer):
        from rayforce_spark.ipc import hopen

        self.proto = PROTOCOLS[idx]
        self.h = hopen(address, binary=self.proto == "binary")
        self.port = self.h._sock.getsockname()[1]
        self.reqs = reqs
        self.tracer = tracer
        self.seq = 0       # requests sent on this connection (server counts too)
        self.next = 0      # next request of the seeded sequence
        self.ops = []      # (op id, class, latency s, traced, protocol)
        self.failed = 0
        self.attempted = 0
        self.kept = []     # (class, text, reply) for the output check
        self.error = None

    def send(self, text: str, traced: bool):
        op = f"{self.port}:{self.seq}"
        self.seq += 1
        self.tracer.set_op(op)
        t0 = now()
        val = self.tracer.call("ipc.client", self.h.write, text)
        return op, now() - t0, val

    def loop(self, deadline: float, traced: bool) -> None:
        try:
            while now() < deadline:
                cls, text = self.reqs[self.next % len(self.reqs)]
                self.next += 1
                self.attempted += 1
                try:
                    op, lat, val = self.send(text, traced)
                except RuntimeError as e:   # a remote error reply
                    harness.log(f"client {self.proto}: {e}")
                    self.failed += 1
                    continue
                self.ops.append((op, cls, lat, traced, self.proto))
                if sum(1 for k in self.kept if k[0] == cls) < CHECKED_PER_CLASS:
                    self.kept.append((cls, text, val))
        except Exception as e:  # noqa: BLE001 - reported by the caller
            self.error = e


def run(args, ctx) -> dict:
    data_dir = os.path.join(ctx.workdir, "data")
    sf = 0.001 if args.smoke else SF
    t0 = now()
    n_orders = gen.write_tables(sf, data_dir, ["lineitem", "orders"])["orders"]
    gen_s = now() - t0          # the benchmark's own work: not set-up
    trace_out = ctx.trace_path("-server") if args.trace else os.devnull
    reqs = gen.ipc_requests(args.seed, len(PROTOCOLS), 5000, n_orders)

    tracer = Tracer()
    if args.trace:
        layers.install_serde(tracer, server=False)
    srv = _Server(data_dir, bool(args.trace), trace_out)
    clients = []
    try:
        hello = srv.read()
        session_ready = now() - ctx.process_start - gen_s
        rest_s, fill_s = [], []
        for _ in range(SETUP_REPEATS):
            for c in clients:
                c.h.close()
            a = now()
            up = srv.call(cmd="setup")
            clients = [_Client(i, up["address"], reqs[i], tracer)
                       for i in range(len(PROTOCOLS))]
            for c in clients:                       # one warm-up op each
                c.send(WARMUP, False)
            rest_s.append(now() - a)
            fill_s.append(up["fill_s"])
        setup_s = session_ready + statistics.median(rest_s)
        harness.log(f"session {session_ready:.2f}s, set-ups {rest_s}")
        # priming: one request of each class per client, untimed; their
        # replies are checked too, so every class is checked on both wires
        for c in clients:
            for cls in gen.IPC_DECK:
                text = next(t for k, t in c.reqs if k == cls)
                c.kept.append((cls, text, c.send(text, False)[2]))

        # the traced run alternates untraced and traced blocks (U T U T)
        blocks = [False, True, False, True] if args.trace else [False]
        t_start = now()
        for traced in blocks:
            srv.call(cmd="trace", on=traced)
            tracer.active = traced
            deadline = now() + args.seconds / len(blocks)
            threads = [threading.Thread(target=c.loop, args=(deadline, traced))
                       for c in clients]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        wall = now() - t_start
        tracer.active = False
        errors = [c.error for c in clients if c.error is not None]
        if errors:
            raise errors[0]
        harness.log(f"timed phase: {sum(len(c.ops) for c in clients)} ops "
                    f"in {wall:.2f}s")

        kept = [(c.proto, *k) for c in clients for k in c.kept]
        want = srv.call(cmd="check", reqs=[k[2] for k in kept])["values"]
        bad = {f"{proto}:{cls}:{i}": text
               for i, ((proto, cls, text, got), w) in enumerate(zip(kept, want))
               if canon(got) != w}
        check = {"ok": not bad, "mismatches": bad, "checked": len(kept)}
        bye = srv.call(cmd="stop")
        srv.proc.wait(timeout=60)
    finally:
        for c in clients:
            c.h.close()
        srv.close()

    ops = [o for c in clients for o in c.ops]
    lat_by_cls = {}
    for _, cls, lat, _t, proto in ops:
        lat_by_cls.setdefault(f"{proto}.{cls}", []).append(lat * 1000)
    result = {
        "attempted": sum(c.attempted for c in clients),
        "failed": sum(c.failed for c in clients),
        "check": check,
        "latencies": [o[2] for o in ops if not o[3]],
        "wall": wall,
        "setup_s": setup_s,
        "stamp": hello["stamp"],
        "notes": {"sf": sf, "gen_s": gen_s, "setup_rest_s": rest_s,
                  "class_p50_ms": {k: statistics.median(v)
                                   for k, v in lat_by_cls.items()},
                  "class_n": {k: len(v) for k, v in lat_by_cls.items()}},
    }
    if args.trace:
        _meta, sspans, scounts = load(trace_out)
        elog = harness.read_event_log(os.path.join(ctx.workdir, "eventlog"))
        result["per_layer"] = _per_layer(
            tracer, ops, sspans, scounts, elog, hello["get_spark_s"],
            statistics.median(fill_s), bye)
        ctx.dump_trace(tracer)
    return result


def _per_layer(tracer, ops, sspans, scounts, elog, get_spark_s, fill_s, bye):
    cl = by_op(tracer.spans)
    sv = by_op(sspans)
    ids = [o[0] for o in ops if o[3]]
    n = max(1, len(ids))

    def ms(side, name, field=0):
        return mean_over(side, ids, name, field) * 1000

    traced_ids = set(ids)
    reply_bytes = sum(value for name, value, op in scounts
                      if name == "ipc.reply_bytes" and op in traced_ids)
    agg = layers.job_totals(
        elog, [harness.jobs_in_group(elog, f"ipc:{i}") for i in ids])
    handler = ms(sv, "ipc.handler")
    rt = ms(cl, "ipc.client")
    serde_ms = {k: ms(sv, f"serde.{k}") + ms(cl, f"serde.{k}")
                for k in ("ser", "de")}
    # what named layers cover of a round trip: (de)serialization on both
    # sides, the eval-lock wait, Rayfall eval (parse included) and reply
    # shaping; socket I/O and request dispatch are unattributed
    covered = (serde_ms["ser"] + serde_ms["de"] + ms(sv, "ipc.lock_wait")
               + ms(sv, "rayfall.eval") + ms(sv, "ipc.reply"))
    return layers.metrics({
        "session.get_spark_s": get_spark_s,
        "session.cache_fill_s": fill_s,
        "session.jvm_peak_rss_mb": bye["jvm_rss_mb"],
        "session.py_peak_rss_mb": max(bye["py_rss_mb"],
                                      harness.peak_rss_mb("self")),
        **{f"spark.{k}": v / n for k, v in agg.items()},
        "spark.task_busy_frac": agg["task_run_ms"] / n
        / max(1e-9, handler * harness.cpus()),
        "rayfall.parse_ms": ms(sv, "rayfall.parse"),
        "rayfall.eval_ms": ms(sv, "rayfall.eval", 1),
        "ipc.handler_ms": handler,
        "ipc.wire_ms": rt - handler,
        "ipc.reply_ms": ms(sv, "ipc.reply"),
        "ipc.reply_bytes": reply_bytes / n,
        "ipc.wait_ms": ms(sv, "ipc.lock_wait"),
        "serde.ser_ms": serde_ms["ser"],
        "serde.de_ms": serde_ms["de"],
        **layers.trace_summary(
            [o[2] for o in ops if o[3]], [o[2] for o in ops if not o[3]],
            rt, covered),
    })
