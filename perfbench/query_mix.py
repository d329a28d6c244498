"""query_mix: one closed-loop client runs the ``__spark_entry__`` queries
and a corpus-curation op.

A query op is ``queries()[name](spark, dir)`` followed by a noop sink,
the exact contract ``bench.py`` times, over the 12 query-engine rows
that have a DuckDB oracle. The curate op runs ``datapipe.curate()`` over
the documents table and writes the kept docs with
``sources.set_parted(..., part_col="fold")``. Inputs are cached; every
round runs each op once in a seeded order.
"""

from __future__ import annotations

import os
import statistics

from perfbench import gen, harness, layers
from perfbench.trace import Tracer, by_op, mean_over, now

#: 60k lineitems, 500 documents: a round of the mix takes ~6 s on 4
#: cores (at sf0.02 ~6.5 s, and a run 5 s longer)
SF = 0.01
SETUP_REPEATS = 3
#: the warm-up op of each set-up: the same query whatever the seed
WARMUP = "tpch_q1"
#: the timed phase runs --seconds / NOMINAL_ROUND_S rounds: 3 rounds (39
#: ops, ~20 s on the 4-core reference box) at 12 s. Two rounds put the
#: median between too few samples: its spread over 10 seeds was 0.22.
NOMINAL_ROUND_S = 4.0


#: curate(): the examples/curate.py stage set less four stages, so an
#: op takes about 1 s on the 4-core reference box. MinHash near-dup
#: removal, segment dedup and decontamination run eager Spark jobs while
#: the plan is built (with them one op took 25-30 s); the repetition
#: gate alone added 3 s (1.5 s of plan analysis, 1.5 s of execution).
CURATE_KW = dict(repetition_gate=False, segment_dedup=False,
                 exact_dedup=True, neardup_threshold=None,
                 min_quality_quantile=0.2, quality_by="lang",
                 sample_fraction=0.5, cap_key="lang", cap_n=100)
#: documents held out of the corpus, as in examples/curate.py
HOLDOUT_MOD = 97
FOLDS = {"train", "val", "test"}


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def curate_build(spark, data_dir, salts):
    """The curate op's plan: the corpus without its holdout, curated."""
    from pyspark.sql import functions as F

    from rayforce_spark import datapipe, session

    docs = session.load_tables(spark, data_dir, ["documents"])["documents"]
    return datapipe.curate(docs.filter(F.col("doc_id") % HOLDOUT_MOD != 0),
                           sample_salt=salts[0], fold_salt=salts[1],
                           **CURATE_KW)


def curate_sink(df, out_dir) -> None:
    from rayforce_spark import sources

    sources.set_parted(df, out_dir, part_col="fold")


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def _fill_cache(spark, data_dir):
    from rayforce_spark.session import load_tables

    spark.catalog.clearCache()
    t = load_tables(spark, data_dir, list(gen.MIX_TABLES))
    for name in gen.MIX_TABLES:
        t[name].cache().count()


def run(args, ctx) -> dict:
    data_dir = os.path.join(ctx.workdir, "data")
    out_dir = os.path.join(ctx.workdir, "curated")
    sf = 0.001 if args.smoke else SF
    t0 = now()
    gen.write_tables(sf, data_dir, gen.MIX_TABLES)
    gen_s = now() - t0          # the benchmark's own work: not set-up
    salts = gen.curate_salts(args.seed)

    from rayforce_spark.session import get_spark

    import __spark_entry__ as E

    qs = E.queries()
    ops_fn = {name: (qs[name], noop_write) for name in gen.QUERY_MIX}
    ops_fn[gen.CURATE_OP] = (
        lambda spark, d: curate_build(spark, d, salts),
        lambda df: curate_sink(df, os.path.join(out_dir, "mix")))
    t0 = now()
    spark = get_spark("perfbench_query_mix")
    get_spark_s = now() - t0
    session_ready = now() - ctx.process_start - gen_s

    # a fixed number of whole rounds, so every run weighs each op the
    # same: a time-based stop flips between 1, 2 and 3 rounds as round
    # time drifts around --seconds / 2, and each flip moves the quantiles
    # (the traced run needs two: odd rounds are traced)
    rounds = gen.query_rounds(args.seed, max(
        1 + args.trace, round(args.seconds / NOMINAL_ROUND_S)))
    fill_s, rest_s = [], []
    for _ in range(SETUP_REPEATS):
        a = now()
        _fill_cache(spark, data_dir)
        b = now()
        noop_write(qs[WARMUP](spark, data_dir))   # one warm-up op
        fill_s.append(b - a)
        rest_s.append(now() - a)
    setup_s = session_ready + statistics.median(rest_s)
    harness.log(f"session {session_ready:.2f}s, set-ups {rest_s}")

    # the output check runs every op once before the timed phase, so it
    # also primes: no timed op pays first-plan code generation
    check = _check(spark, qs, E.oracle_sql(), data_dir)
    check_dir = os.path.join(out_dir, "check")
    curate_sink(curate_build(spark, data_dir, salts), check_dir)
    check["curate"] = _check_curate(spark, check_dir)
    harness.log("checked")
    tracer = Tracer()
    sc = spark.sparkContext
    phases = None
    if args.trace:
        layers.install_session(tracer, E)
        layers.install_rayfall(tracer)
        layers.install_datapipe(tracer, sc)
        layers.install_sources(tracer)
        phases = harness.CatalystPhases(spark)

    ops = []          # (op id, name, latency s, traced)
    failed = 0
    catalyst = {}     # op id -> Catalyst phases of its sink query
    t_start = now()
    t_end = t_start
    op = 0
    for r, order in enumerate(rounds):
        # traced run: odd rounds traced, even rounds not (overhead A/B)
        traced = bool(args.trace and r % 2 == 1)
        tracer.active = traced
        for name in order:
            tracer.set_op(op)
            n_seen = len(phases.seen) if phases else 0
            if traced:
                sc.setJobGroup(f"q{op}.build", "perfbench")
            build, sink = ops_fn[name]
            a = now()
            try:
                df = tracer.call("operators.build", build, spark, data_dir)
                if traced:
                    sc.setJobGroup(f"q{op}.exec", "perfbench")
                tracer.call("spark.action", sink, df)
                ok = True
            except Exception as e:  # noqa: BLE001 - count it, keep going
                harness.log(f"op {op} ({name}) failed: {e}")
                failed += 1
                ok = False
            b = now()
            t_end = b
            if traced:
                tracer.record("op", a, b, op)
                sc.setJobGroup("perfbench.idle", "perfbench")
                phases.drain()
                if len(phases.seen) > n_seen:
                    catalyst[op] = phases.seen[-1]
                if ok and name == gen.CURATE_OP:
                    files, size = dir_size(os.path.join(out_dir, "mix"))
                    tracer.count("sources.files_written", files, op)
                    tracer.count("sources.bytes_written", size, op)
            if ok:
                ops.append((op, name, b - a, traced))
            op += 1
    tracer.active = False
    tracer.set_op(None)
    wall = t_end - t_start

    harness.log(f"timed phase: {op} ops in {wall:.2f}s")
    # the same salts give the same corpus: the last timed curate op wrote
    # the ids the check wrote
    same = (_kept_ids(spark, os.path.join(out_dir, "mix"))
            == _kept_ids(spark, check_dir))
    check["curate"]["same_ids_as_timed_op"] = same
    check["ok"] = check["ok"] and check["curate"]["ok"] and same
    by_name = {}
    for _, name, lat, _t in ops:
        by_name.setdefault(name, []).append(round(lat * 1000, 1))
    result = {
        "attempted": op,
        "failed": failed,
        "check": check,
        "latencies": [x[2] for x in ops if not x[3]],
        "wall": wall,
        "setup_s": setup_s,
        "stamp": harness.spark_stamp(spark),
        "notes": {"sf": sf, "rows": gen.table_sizes(sf),
                  "gen_s": gen_s, "setup_rest_s": rest_s, "op_ms": by_name},
    }
    if args.trace:
        jvm_rss = harness.peak_rss_mb(harness.jvm_pid(spark))
        harness.stop_spark(spark)
        elog = harness.read_event_log(os.path.join(ctx.workdir, "eventlog"))
        result["per_layer"] = _per_layer(
            tracer, ops, catalyst, elog, get_spark_s,
            statistics.median(fill_s), jvm_rss)
        ctx.dump_trace(tracer)
    else:
        harness.stop_spark(spark)
    return result


def _per_layer(tracer, ops, catalyst, elog, get_spark_s, fill_s, jvm_rss):
    spans = by_op(tracer.spans)
    traced = [o for o in ops if o[3]]
    ids = [o[0] for o in traced]
    n = max(1, len(ids))
    # datapipe and sources: means over the traced curate ops
    cur = [o[0] for o in traced if o[1] == gen.CURATE_OP]

    def ms(name, field=0, over=ids):
        return mean_over(spans, over, name, field) * 1000

    def n_jobs(group, over):
        return sum(len(harness.jobs_in_group(elog, group.format(i),
                                             nested=True))
                   for i in over) / max(1, len(over))

    build_jobs = {i: harness.jobs_in_group(elog, f"q{i}.build", nested=True)
                  for i in ids}
    exec_jobs = {i: harness.jobs_in_group(elog, f"q{i}.exec") for i in ids}
    agg = layers.job_totals(elog, [build_jobs[i] + exec_jobs[i] for i in ids])
    ph = {k: sum(catalyst.get(i, {}).get("phases", {}).get(k, 0)
                 for i in ids) / n
          for k in ("analysis", "optimization", "planning")}
    action_ms = ms("spark.action")
    # what named layers cover of each op: the query function (load_tables,
    # rayfall, datapipe and its own code), then the union of the sink
    # query's Catalyst phases, its SQL execution and its jobs, as Spark
    # timed them; the rest of the sink (py4j, result handling) is
    # unattributed
    covered_ms = sum(min(
        lat * 1000,
        spans[i].get("operators.build", (0.0,))[0] * 1000
        + harness.union_ms(catalyst.get(i, {}).get("spans_ms", [])
                           + harness.sql_spans_ms(elog, exec_jobs[i])
                           + harness.job_spans_ms(elog, exec_jobs[i])))
        for i, _name, lat, _t in traced) / n
    counts = {}
    for name, value, op in tracer.counts:
        counts[name] = counts.get(name, 0) + value
    datapipe = {f"datapipe.{stage}.{k}": v
                for stage in dict.fromkeys(layers.DATAPIPE_STAGES.values())
                for k, v in (("build_ms", ms(f"datapipe.{stage}", over=cur)),
                             ("build_jobs",
                              n_jobs("q{}.build.dp." + stage, cur)))}
    return layers.metrics({
        "session.get_spark_s": get_spark_s,
        "session.cache_fill_s": fill_s,
        "session.load_tables_ms": ms("session.load_tables"),
        "session.load_tables_calls": mean_over(spans, ids,
                                               "session.load_tables", 2),
        "session.jvm_peak_rss_mb": jvm_rss,
        "session.py_peak_rss_mb": harness.peak_rss_mb("self"),
        "operators.build_ms": (ms("operators.build")
                               - ms("session.load_tables")
                               - ms("rayfall.eval") - ms("datapipe.build")),
        "operators.build_jobs": sum(map(len, build_jobs.values())) / n,
        "spark.catalyst.analysis_ms": ph["analysis"],
        "spark.catalyst.optimization_ms": ph["optimization"],
        "spark.catalyst.planning_ms": ph["planning"],
        "spark.exec_ms": action_ms - sum(ph.values()),
        **{f"spark.{k}": v / n for k, v in agg.items()},
        "spark.task_busy_frac": agg["task_run_ms"] / n
        / max(1e-9, action_ms * harness.cpus()),
        "rayfall.parse_ms": ms("rayfall.parse"),
        "rayfall.eval_ms": ms("rayfall.eval", 1),
        "datapipe.build_ms": ms("datapipe.build", over=cur),
        "datapipe.build_jobs": n_jobs("q{}.build.dp", cur),
        **datapipe,
        "sources.set_parted_ms": ms("sources.set_parted", over=cur),
        "sources.files_written": counts.get("sources.files_written", 0)
        / max(1, len(cur)),
        "sources.bytes_written": counts.get("sources.bytes_written", 0)
        / max(1, len(cur)),
        **layers.trace_summary(
            [o[2] for o in traced], [o[2] for o in ops if not o[3]],
            ms("op"), covered_ms),
    })


def _kept_ids(spark, path: str) -> list[int]:
    from rayforce_spark.sources import get_parted

    return sorted(r[0] for r in get_parted(spark, path)
                  .select("doc_id").collect())


def _check_curate(spark, path: str) -> dict:
    """Invariants of a curated corpus read back from its parted dir: no
    two kept docs share a fingerprint, no holdout doc is kept, every
    fold is train/val/test, no language holds more than cap_n docs."""
    from collections import Counter

    from pyspark.sql import functions as F

    from rayforce_spark.datapipe import doc_fingerprint
    from rayforce_spark.sources import get_parted

    rows = (get_parted(spark, path)
            .select("doc_id", "lang", "fold",
                    doc_fingerprint(F.col("text")).alias("fp"))
            .collect())
    per_lang = Counter(r["lang"] for r in rows)
    bad = {
        "empty": not rows,
        "shared_fingerprint": len({r["fp"] for r in rows}) != len(rows),
        "holdout_kept": any(r["doc_id"] % HOLDOUT_MOD == 0 for r in rows),
        "bad_fold": not {r["fold"] for r in rows} <= FOLDS,
        "over_cap": max(per_lang.values(), default=0) > CURATE_KW["cap_n"],
    }
    return {"ok": not any(bad.values()),
            "failed": [k for k, v in bad.items() if v],
            "kept": len(rows), "per_lang": dict(per_lang)}


def _check(spark, qs, oracles, data_dir) -> dict:
    """Row count + order-insensitive multiset digest of every query in
    the mix against its DuckDB oracle (the scripts/driver_sim.py digest)."""
    import duckdb

    from scripts.driver_sim import (duck_result_hash, hugeint_cols,
                                    spark_result_hash)

    con = duckdb.connect()
    for t in gen.MIX_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    bad = {}
    rows = {}
    for name in gen.QUERY_MIX:
        sdf = qs[name](spark, data_dir)
        s = spark_result_hash(sdf)
        sql = oracles[name]
        huge = hugeint_cols(con, sql)   # before execute: it re-binds con
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        d = duck_result_hash(cur, cols, huge)
        rows[name] = s.n
        if s.n != d.n:
            bad[name] = f"rows {s.n} != {d.n}"
        elif sorted(sdf.columns) != sorted(cols):
            bad[name] = f"columns {sorted(sdf.columns)} != {sorted(cols)}"
        elif s.key() != d.key():
            bad[name] = "value digest mismatch"
    con.close()
    return {"ok": not bad, "mismatches": bad, "rows": rows}
