"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The workloads are listed in
BENCHMARK.json and described in perfbench/README.md. With ``--trace 0``
the last stdout line carries the end-to-end metrics, measured with no
tracing; with ``--trace 1`` it carries the per-layer metrics of a
separate traced run. Outputs are checked after the timed phase; a
mismatch prints ``"correct": false`` and exits 1. Everything the run
writes goes under ``.perfbench_run/`` (removed at exit) and
``.perfbench_out/`` (span dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = time.perf_counter() - _process_age_s()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("query_mix", "rayfall_ipc", "stream_ingest")


class Context:
    def __init__(self, args, workdir: str, process_start: float):
        self.args = args
        self.workdir = workdir
        self.process_start = process_start

    def trace_path(self, suffix: str = "") -> str:
        from perfbench import harness

        os.makedirs(harness.OUT_DIR, exist_ok=True)
        return os.path.join(
            harness.OUT_DIR,
            f"trace-{self.args.workload}-seed{self.args.seed}{suffix}.jsonl")

    def dump_trace(self, tracer, suffix: str = "") -> None:
        tracer.dump(self.trace_path(suffix),
                    {"workload": self.args.workload, "seed": self.args.seed})


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001) for a quick functional run")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench import harness

    harness.require_program()
    workdir = os.path.join(harness.RUN_DIR, f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    os.environ.update(harness.spark_env(workdir, event_log=bool(args.trace)))
    stamp = harness.host_stamp()
    harness.adopt_orphans()
    try:
        import importlib

        mod = importlib.import_module(f"perfbench.{args.workload}")
        res = mod.run(args, Context(args, workdir, PROCESS_START))
    finally:
        # on every way out: no process of the run outlives it
        harness.end_children()
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.isdir(harness.RUN_DIR) and not os.listdir(harness.RUN_DIR):
            os.rmdir(harness.RUN_DIR)

    check = res["check"]
    lat = res["latencies"]
    if not args.trace and not lat:
        harness.log("no op completed in the timed phase")
        return 1
    print("# box " + json.dumps({**stamp, **res["stamp"]}, sort_keys=True))
    print("# check " + json.dumps(check, sort_keys=True, default=str))
    print("# notes " + json.dumps(res["notes"], sort_keys=True))
    if args.trace:
        metrics = res["per_layer"]
    else:
        metrics = harness.latency_metrics(lat, res["wall"], res["setup_s"])
        print(f"# {args.workload}: {len(lat)} timed ops, "
              f"{res['failed']} failed of {res['attempted']} attempted")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}")
    harness.emit(check["ok"], res["attempted"], res["failed"], metrics)
    return 0 if check["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
