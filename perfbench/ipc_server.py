"""The Rayfall IPC server of the ``rayfall_ipc`` workload, in its own
process. The benchmark drives it over stdin/stdout, one JSON object a
line; requests from clients arrive on its RayfallServer port.

Commands: ``setup`` (re)loads and caches lineitem and starts a fresh
RayfallServer; ``trace`` turns span recording on or off; ``check``
evaluates request texts in-process through ``Interp.eval_str``; ``stop``
ends the server, writes its spans and exits.

    python3 perfbench/ipc_server.py DATA_DIR TRACE(0|1) TRACE_OUT
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    """Comparable form of a Rayfall value however it arrived: a
    DataFrame, a JSON reply or a binary-serde reply. Tables become their
    sorted column names plus the sorted multiset of rows; floats keep 10
    significant digits."""
    from pyspark.sql import DataFrame

    def cell(x):
        if isinstance(x, float):
            return f"f{x:.10g}"
        if isinstance(x, (list, tuple)):
            return [cell(y) for y in x]
        return x

    def table(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return {"columns": [cols[i] for i in order],
                "rows": sorted(json.dumps([cell(r[i]) for i in order])
                               for r in rows)}

    if isinstance(v, DataFrame):
        return table(list(v.columns), [tuple(r) for r in v.collect()])
    if isinstance(v, dict) and set(v) == {"table"}:           # JSON reply
        return table(v["table"]["columns"], v["table"]["rows"])
    if isinstance(v, dict):                                    # serde Table
        cols = list(v)
        return table(cols, list(zip(*(v[c] for c in cols))))
    return cell(v)


def main() -> int:
    data_dir, trace_on, trace_out = sys.argv[1], sys.argv[2] == "1", sys.argv[3]

    from perfbench import harness, layers
    from perfbench.trace import Tracer

    def reply(obj):
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    from rayforce_spark.ipc import RayfallServer
    from rayforce_spark.rayfall import Interp
    from rayforce_spark.session import get_spark, load_tables

    t0 = time.perf_counter()
    spark = get_spark("perfbench_rayfall_ipc")
    reply({"event": "session", "get_spark_s": time.perf_counter() - t0,
           "stamp": harness.spark_stamp(spark)})

    tracer = Tracer()
    if trace_on:
        layers.install_rayfall(tracer)
        layers.install_serde(tracer, server=True)
        layers.install_ipc_reply(tracer)
    server = None
    env = {}
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "setup":
            if server is not None:
                server.stop()
            a = time.perf_counter()
            spark.catalog.clearCache()
            li = load_tables(spark, data_dir, ["lineitem"])["lineitem"].cache()
            li.count()
            env = {"lineitem": li}
            server = RayfallServer(spark, env=env)
            if trace_on:
                layers.install_ipc_server(tracer, server, spark)
            server.start()
            reply({"address": server.address,
                   "fill_s": time.perf_counter() - a})
        elif cmd["cmd"] == "trace":
            tracer.active = bool(cmd["on"]) and trace_on
            reply({"ok": True})
        elif cmd["cmd"] == "check":
            interp = Interp(spark, env)
            reply({"values": [canon(interp.eval_str(q)) for q in cmd["reqs"]]})
        elif cmd["cmd"] == "stop":
            if server is not None:
                server.stop()
            tracer.active = False
            if trace_on:
                tracer.dump(trace_out)
            jvm_rss = harness.peak_rss_mb(harness.jvm_pid(spark))
            harness.stop_spark(spark)
            reply({"jvm_rss_mb": jvm_rss,
                   "py_rss_mb": harness.peak_rss_mb("self")})
            return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
