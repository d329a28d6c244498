"""The benchmark's own tests: seeded generation is deterministic, and
every workload runs end to end in smoke mode (sf0.001 inputs).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_query_rounds_are_seeded_shuffles_of_the_mix():
    a = gen.query_rounds(7, 20)
    assert a == gen.query_rounds(7, 20)
    assert a != gen.query_rounds(8, 20)
    assert all(sorted(r) == sorted(gen.MIX_OPS) for r in a)
    assert gen.CURATE_OP in gen.MIX_OPS


def test_curate_salts_are_seeded_and_distinct():
    assert gen.curate_salts(7) == gen.curate_salts(7)
    assert gen.curate_salts(7) != gen.curate_salts(8)
    assert all(len(set(gen.curate_salts(s))) == 2 for s in range(50))


def test_union_ms_merges_overlapping_intervals():
    from perfbench.harness import union_ms

    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25), (21, 22)]) == 20


def test_ipc_requests_are_deterministic_and_dealt_in_decks():
    a = gen.ipc_requests(7, 2, 200, n_orders=1500)
    assert gen.digest(a) == gen.digest(gen.ipc_requests(7, 2, 200, 1500))
    assert gen.digest(a) != gen.digest(gen.ipc_requests(8, 2, 200, 1500))
    deck = sum(gen.IPC_DECK.values())
    for reqs in a:
        assert len(reqs) == 200
        for i in range(0, 200, deck):
            shares = Counter(cls for cls, _ in reqs[i:i + deck])
            assert shares == Counter(gen.IPC_DECK)
    selects = [t for reqs in a for cls, t in reqs if cls == "select"]
    assert len(selects) == len(set(selects))


def test_stream_batches_are_deterministic_with_replays_in_watermark():
    b = gen.stream_batch(7, 3)
    assert gen.digest(b) == gen.digest(gen.stream_batch(7, 3))
    assert gen.digest(b) != gen.digest(gen.stream_batch(8, 3))
    assert gen.digest(b) != gen.digest(gen.stream_batch(7, 4))
    assert len(b) == gen.BATCH_ROWS
    ids = Counter(r["event_id"] for r in b)
    replays = gen.BATCH_ROWS - len(ids)
    assert replays >= gen.BATCH_ROWS * gen.REPLAY_FRAC * 0.5
    # every replay is an exact copy of an event of this or the last batch
    known = {json.dumps(r, sort_keys=True)
             for r in gen.stream_batch(7, 2) + b}
    assert all(json.dumps(r, sort_keys=True) in known for r in b)
    span_ns = max(r["ts"] for r in b) - min(r["ts"] for r in b)
    assert span_ns < 10 * 60 * 10**9     # inside the 10-minute watermark


def test_tables_are_deterministic_at_sf0001():
    a, b = gen.make_tables(0.001), gen.make_tables(0.001)
    assert set(a) == set(gen.table_sizes(0.001))
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == gen.table_sizes(0.001)[name]
    assert "l_shipdate" in a["lineitem"].column_names
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) < len(texts)     # exact dedup has work to do


def test_benchmark_json_matches_the_metrics_the_runs_print():
    from perfbench.layers import PER_LAYER
    from perfbench.run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == PER_LAYER
    assert [m["name"] for m in doc["end_to_end"]] == [
        "setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s"]


@pytest.mark.parametrize("workload", ["query_mix", "rayfall_ipc",
                                      "stream_ingest"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_the_result_line(workload, trace):
    from perfbench.layers import PER_LAYER

    p = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0, err[-3000:]
    # the JVMs (and the IPC server) carry the run's work dir on their
    # command lines: none may outlive the run
    assert _running_with(f".perfbench_run/{workload}-{p.pid}") == []
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    want = (set(PER_LAYER) if trace else
            {"setup_s", "op_p50_ms", "op_p90_ms", "ops_per_s"})
    assert set(res["metrics"]) == want
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _running_with(text: str) -> list[int]:
    """Pids of live (not zombie) processes whose command line holds
    ``text``."""
    found = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{d}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if text in cmd and state != "Z":
            found.append(int(d))
    return found


def test_end_children_stops_orphaned_descendants():
    # a child that leaves a grandchild behind when it exits: the
    # grandchild is reparented to the subreaper, which must end it
    code = (
        "import subprocess, sys\n"
        "from perfbench import harness\n"
        "harness.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 300 & echo $!'], check=True,\n"
        "               stdout=sys.stdout)\n"
        "harness.end_children(grace_s=5)\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    orphan = int(p.stdout.split()[0])
    assert "stopping leftover process" in p.stderr
    assert not os.path.exists(f"/proc/{orphan}")
