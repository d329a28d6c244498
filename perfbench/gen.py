"""Seeded inputs for the benchmark.

Two kinds of randomness, kept apart:

* the *tables* come from a fixed data seed (``DATA_SEED``) and a scale
  factor, so every run of a workload reads the same rows — the same
  schemas and value distributions as the repository's TPC-H-ish
  fixture (customer/orders/lineitem/events/documents), generated in the
  checkout instead of read from outside it;
* the *workload seed* (``--seed``) draws only what a client sends: the
  op order of each round, the salts of the curate op, the literals of
  the Rayfall requests, and the generated stream rows.

Every function here is a pure function of its arguments: the same seed
gives byte-identical op sequences, request texts and stream batches.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np

DATA_SEED = 42

#: the 12 query-engine rows of bench.py that have a DuckDB oracle entry
QUERY_MIX = (
    "groupby_stats groupby_highcard groupby_manykeys tpch_q1 tpch_q3ish "
    "inner_join left_join_dedup asof_join window_join top_k_per_group "
    "rayfall_select update_grouped"
).split()

#: tables the query mix reads (and caches)
MIX_TABLES = ("lineitem", "orders", "customer", "events", "documents")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995_US = 788_918_400 * 1_000_000      # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200 * 1_000_000    # 2024-01-01T00:00:00Z


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf1 ~ 6M lineitems)."""
    return {
        "customer": max(15, int(150_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
    }


def make_tables(sf: float, seed: int = DATA_SEED) -> dict:
    """The fixture tables at ``sf`` as pyarrow Tables (deterministic)."""
    import pyarrow as pa

    n = table_sizes(sf)
    # key ranges of the dimension tables lineitem refers to (not generated:
    # no workload reads them)
    n_part, n_supplier = max(20, int(200_000 * sf)), max(10, int(10_000 * sf))
    rng = np.random.Generator(np.random.PCG64(seed))

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def choice(vals, k):
        return np.asarray(vals, dtype=object)[rng.integers(0, len(vals), k)]

    def dates(first_day_us, n_days, k):
        days = rng.integers(0, n_days, k).astype(np.int64)
        return pa.array(first_day_us + days * _DAY_US, pa.timestamp("us"))

    i32 = pa.int32()
    out = {}
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": choice(SEGMENTS, k),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": choice(["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500_000.0, k),
        "o_orderdate": dates(_EPOCH_1995_US, 2404, k),
        "o_orderpriority": choice(PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, k).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supplier, k).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": choice(["A", "N", "R"], k),
        "l_linestatus": choice(["O", "F"], k),
        "l_shipdate": dates(_EPOCH_1995_US + _DAY_US, 2498, k),
    })
    k = n["events"]
    # event time spread over 30 days, ascending with event_id
    ts = np.sort(rng.integers(0, 30 * _DAY_US, k)) + _EPOCH_2024_US
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, k // 67), k).astype(np.int64),
        "event_type": choice(EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2) + 0.01,
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    k = n["documents"]
    # 10..99 words from a small vocabulary; ~2% of the docs repeat an
    # earlier doc's text exactly, so exact dedup has work to do
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), m)])
             for m in rng.integers(10, 100, k)]
    for i in np.flatnonzero(rng.random(k) < 0.02):
        texts[i] = texts[rng.integers(0, i)] if i else texts[0]
    out["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS, dtype=object)[
            rng.choice(len(LANGS), k, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    return out


def write_tables(sf: float, out_dir: str, names=None) -> dict[str, int]:
    """Write the fixture tables as ``<out_dir>/<name>.parquet``; returns
    row counts."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tab in make_tables(sf).items():
        if names is None or name in names:
            pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = tab.num_rows
    return rows


# ---------------------------------------------------------------------------
# query_mix: the op order
# ---------------------------------------------------------------------------

#: the corpus-curation op of the mix: curate() sunk with set_parted
CURATE_OP = "curate_parted"
#: one round of the mix: each query once, and the curate op once
MIX_OPS = (*QUERY_MIX, CURATE_OP)


def query_rounds(seed: int, n_rounds: int) -> list[list[str]]:
    """``n_rounds`` rounds of the mix, each a seeded shuffle of MIX_OPS."""
    rng = random.Random(f"query_mix:{seed}")
    rounds = []
    for _ in range(n_rounds):
        r = list(MIX_OPS)
        rng.shuffle(r)
        rounds.append(r)
    return rounds


def curate_salts(seed: int) -> tuple[int, int]:
    """(sample_salt, fold_salt) of every curate op of a run; distinct, as
    curate() requires."""
    rng = random.Random(f"curate:{seed}")
    sample_salt, fold_salt = rng.sample(range(1, 1 << 30), 2)
    return sample_salt, fold_salt


# ---------------------------------------------------------------------------
# rayfall_ipc: request texts
# ---------------------------------------------------------------------------

#: one deck of 20 requests. Vector programs take milliseconds, wide
#: replies ~190-260 ms and selects ~310 ms on the 4-core reference box,
#: for JSON and binary alike. Sorted by latency the classes hold 0-40%,
#: 40-70% and 70-100% of the ops, so the median falls 10 points inside
#: the wide replies and the p90 inside the selects, neither on a gap
IPC_DECK = {"vector": 8, "select": 6, "wide": 6}
#: wide replies: orderkey ranges covering WIDE_ROWS rows at 4 lines/order
#: (under the server's 10,000-row reply cap, so no reply is truncated)
WIDE_ROWS = (3_000, 9_000)


def _vector_text(rng: random.Random) -> str:
    n = rng.randrange(500, 5000)
    form = rng.randrange(3)
    if form == 0:
        return f"(sum (* (til {n}) {rng.randrange(2, 99)}))"
    if form == 1:
        return f"(avg (+ (til {n}) {rng.randrange(1, 999) / 8}))"
    return f"(count (where (> (til {n}) {rng.randrange(0, n)})))"


def _select_space() -> list[tuple]:
    """Every (group key, discount cut-off, quantity cut-off): l_discount
    takes 0.00..0.10 in 0.01 steps and l_quantity 1..50, so each of the
    2 x 10 x 49 = 980 predicates selects different rows."""
    return [(by, d, q) for by in ("l_returnflag", "l_linestatus")
            for d in range(1, 11) for q in range(2, 51)]


def _select_text(by: str, disc_cents: int, qty: int) -> str:
    return ("(select {s: (sum l_quantity) a: (avg l_extendedprice) "
            "n: (count l_orderkey) from: lineitem "
            f"where: (and (< l_discount {disc_cents / 100:.2f}) "
            f"(< l_quantity {qty}.0)) by: {by}}})")


def _wide_text(lo: int, hi: int) -> str:
    return ("(select {k: l_orderkey p: l_partkey q: l_quantity "
            "e: l_extendedprice from: lineitem "
            f"where: (and (>= l_orderkey {lo}) (< l_orderkey {hi}))}})")


def ipc_requests(seed: int, n_clients: int, n_per_client: int,
                 n_orders: int, lines_per_order: float = 4.0
                 ) -> list[list[tuple[str, str]]]:
    """Per client, ``n_per_client`` (class, Rayfall text) requests.

    Classes come in shuffled decks of IPC_DECK so every prefix of 20
    holds the same class shares; select literals are drawn without
    replacement across all clients (they repeat only after all 980), so
    no two select requests of a run share a result.
    """
    rng = random.Random(f"rayfall_ipc:{seed}")
    total = n_clients * n_per_client
    deck = [c for c, k in IPC_DECK.items() for _ in range(k)]
    n_sel = -(-total // len(deck)) * IPC_DECK["select"]
    space = _select_space()
    sel = rng.sample(space, min(n_sel, len(space)))
    out = [[] for _ in range(n_clients)]
    si = 0
    for c in range(n_clients):
        while len(out[c]) < n_per_client:
            d = list(deck)
            rng.shuffle(d)
            for cls in d:
                if cls == "vector":
                    text = _vector_text(rng)
                elif cls == "select":
                    text = _select_text(*sel[si % len(sel)])
                    si += 1
                else:
                    keys = int(rng.uniform(*WIDE_ROWS) / lines_per_order)
                    lo = rng.randrange(0, max(1, n_orders - keys))
                    text = _wide_text(lo, lo + keys)
                out[c].append((cls, text))
    return [reqs[:n_per_client] for reqs in out]


# ---------------------------------------------------------------------------
# stream_ingest: event batches
# ---------------------------------------------------------------------------

STREAM_SCHEMA = "event_id long, ts long, user_id long, value double"
BATCH_ROWS = 2_000
REPLAY_FRAC = 0.2
_NEW_ROWS = BATCH_ROWS - int(BATCH_ROWS * REPLAY_FRAC)
_STEP_NS = 100_000_000   # 100 ms of event time per new event
_T0_NS = _EPOCH_2024_US * 1000


def _new_rows(seed: int, k: int) -> list[dict]:
    rng = np.random.Generator(np.random.PCG64([seed, k]))
    ids = np.arange(k * _NEW_ROWS, (k + 1) * _NEW_ROWS, dtype=np.int64)
    ts = _T0_NS + ids * _STEP_NS + rng.integers(0, _STEP_NS, _NEW_ROWS)
    users = rng.integers(0, 500, _NEW_ROWS)
    vals = np.round(rng.exponential(50.0, _NEW_ROWS), 2) + 0.01
    return [{"event_id": int(i), "ts": int(t), "user_id": int(u),
             "value": float(v)} for i, t, u, v in zip(ids, ts, users, vals)]


def stream_batch(seed: int, k: int) -> list[dict]:
    """Batch ``k``: 1,600 new events plus 400 exact copies of events from
    batch k-1 and earlier in batch k (at most ~5 minutes of event time
    old, so inside the 10-minute dedup watermark), in seeded order."""
    rng = random.Random(f"stream_ingest:{seed}:{k}")
    new = _new_rows(seed, k)
    pool = (_new_rows(seed, k - 1) if k > 0 else []) + new
    replays = [dict(r) for r in rng.choices(pool, k=BATCH_ROWS - _NEW_ROWS)]
    rows = new + replays
    rng.shuffle(rows)
    return rows


def digest(obj) -> str:
    """sha256 of the canonical JSON of ``obj`` (for determinism checks)."""
    import hashlib

    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()
