"""Iteration combinators + positional/list verbs (SURVEY §2.2, §2.7-2.8)."""

from pyspark.sql import functions as F

from rayforce_spark.operators.items import (
    alter,
    at,
    enlist,
    meta,
    rand_sample,
    raze,
    remove,
    reverse,
    til,
)
from rayforce_spark.operators.iterate import (
    apply_grouped,
    apply_rows,
    fold_array,
    map_,
    map_array,
    scan_array,
    scan_col,
)

from tests.conftest import assert_matches_duckdb


def test_til_and_positional(spark):
    t = til(spark, 10)
    assert [r.x for r in t.orderBy("x").collect()] == list(range(10))
    assert sorted(r.x for r in at(t.orderBy("x"), [2, 5]).collect()) == [2, 5]
    assert sorted(r.x for r in remove(t.orderBy("x"), [0, 9]).collect()) == list(range(1, 9))


def test_alter_and_reverse(spark):
    df = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "i long, v string")
    got = {r.i: r.v for r in alter(df.orderBy("i"), 1, "v", "Z").collect()}
    assert got == {0: "a", 1: "Z", 2: "c"}
    rev = [r.i for r in reverse(df.orderBy("i")).collect()]
    assert rev == [2, 1, 0]


def test_meta(tables):
    m = dict(meta(tables["nation"]))
    assert m == {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"}


def test_array_combinators(spark):
    df = spark.createDataFrame([([1, 2, 3],)], "xs array<long>")
    out = df.select(
        map_array(lambda x: x * 2, "xs").alias("doubled"),
        fold_array(lambda acc, x: acc + x, F.lit(0).cast("long"), "xs").alias("total"),
        scan_array(lambda acc, x: acc + x, F.lit(0).cast("long"), "xs").alias("running"),
        raze(enlist("xs", "xs")).alias("flat"),
    ).collect()[0]
    assert out.doubled == [2, 4, 6]
    assert out.total == 6
    assert out.running == [1, 3, 6]
    assert out.flat == [1, 2, 3, 1, 2, 3]


def test_scan_col_matches_duckdb(tables, duck):
    ev = tables["events"]
    out = ev.select(
        "event_id",
        scan_col(
            F.sum("value"), by=["user_id"], order=["ts", "event_id"]
        ).alias("running_value"),
    )
    assert_matches_duckdb(
        out, duck,
        """SELECT event_id,
                  sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS running_value
           FROM events""",
    )


def test_apply_grouped(tables, duck):
    def demean(pdf):
        pdf["demeaned"] = pdf["l_quantity"] - pdf["l_quantity"].mean()
        return pdf[["l_orderkey", "l_linenumber", "demeaned"]]

    out = apply_grouped(
        tables["lineitem"], ["l_orderkey"], demean,
        "l_orderkey long, l_linenumber int, demeaned double",
    )
    assert_matches_duckdb(
        out, duck,
        """SELECT l_orderkey, l_linenumber,
                  l_quantity - avg(l_quantity) OVER (PARTITION BY l_orderkey)
                  AS demeaned
           FROM lineitem""",
    )


def test_map_and_apply_rows(tables, duck):
    # map_: a scalar lambda over a table column stays an expression;
    # apply_rows: a partition-streaming pandas lambda (mapInPandas)
    li = tables["lineitem"]
    out = li.select("l_orderkey", "l_linenumber",
                    map_(lambda c: c * 2 + 1, "l_quantity").alias("q"))

    def disc(batches):
        for pdf in batches:
            pdf["net"] = pdf["l_extendedprice"] * (1 - pdf["l_discount"])
            yield pdf[["l_orderkey", "l_linenumber", "net"]]

    rows = apply_rows(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice",
                  "l_discount"),
        disc, "l_orderkey long, l_linenumber int, net double")
    assert_matches_duckdb(
        out, duck,
        "SELECT l_orderkey, l_linenumber, l_quantity * 2 + 1 AS q"
        " FROM lineitem")
    assert_matches_duckdb(
        rows, duck,
        "SELECT l_orderkey, l_linenumber,"
        " l_extendedprice * (1 - l_discount) AS net FROM lineitem")


def test_rand_sample(spark):
    df = til(spark, 1000)
    # int -> exactly n distinct input rows, reproducible per seed
    a = [r.x for r in rand_sample(df, 25, seed=7).collect()]
    b = [r.x for r in rand_sample(df, 25, seed=7).collect()]
    assert len(a) == len(set(a)) == 25 and set(a) <= set(range(1000))
    assert sorted(a) == sorted(b)
    assert sorted(a) != list(range(25))  # shuffled, not the head
    # float -> bernoulli fraction, same seed same rows
    f1 = sorted(r.x for r in rand_sample(df, 0.1, seed=3).collect())
    f2 = sorted(r.x for r in rand_sample(df, 0.1, seed=3).collect())
    assert f1 == f2 and 40 <= len(f1) <= 160


def test_apply_grouped_batched_equals_spark_impl(spark):
    # the r9 batched grouped-map must return the SAME per-group results
    # as plain groupBy().applyInPandas — including when one group spans
    # multiple Arrow batches (forced via a tiny maxRecordsPerBatch, so
    # the tail-carry stitching path actually executes)
    import pandas as pd

    rows = [(k, i, float(k * 100 + i))
            for k in range(7) for i in range(50)]  # 50-row groups
    rows += [(99, i, float(i)) for i in range(400)]  # one fat group
    df = spark.createDataFrame(rows, "k long, i int, v double")

    def gstat(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("i").reset_index(drop=True)
        pdf["centered"] = pdf["v"] - pdf["v"].mean()
        pdf["n"] = len(pdf)
        return pdf[["k", "i", "centered", "n"]]

    schema = "k long, i int, centered double, n long"
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                          "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        got = {(r.k, r.i): (r.centered, r.n) for r in apply_grouped(
            df, ["k"], gstat, schema).collect()}
        ref = {(r.k, r.i): (r.centered, r.n) for r in apply_grouped(
            df, ["k"], gstat, schema, impl="spark").collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got.keys() == ref.keys()
    assert all(got[key] == ref[key] for key in ref)  # exact, n included
    assert {key[0] for key in got} == {*range(7), 99}
    # the 400-row group spanned >6 forced batches and must come back whole
    assert sum(1 for key in got if key[0] == 99) == 400
    assert all(got[key][1] == 400 for key in got if key[0] == 99)


def test_right_combinators(spark):
    # fold-right/scan-right goldens (ref core/iter.c:1133,1579): with
    # subtraction the direction is observable: fold-right - 0 [1 2 3]
    # = 1-(2-(3-0)) = 2, vs fold-left = ((0-1)-2)-3 = -6
    from rayforce_spark.operators.iterate import (
        fold_right_array,
        map_left,
        map_right,
        scan_right_array,
    )

    df = spark.createDataFrame([([1, 2, 3],)], "xs array<long>")
    out = df.select(
        fold_right_array(lambda x, acc: x - acc, F.lit(0).cast("long"), "xs").alias("fr"),
        scan_right_array(lambda x, acc: x - acc, F.lit(0).cast("long"), "xs").alias("sr"),
        map_left(lambda x, y: x * y, "xs", F.lit(10).cast("long")).alias("ml"),
        map_right(lambda x, y: x - y, F.lit(10).cast("long"), "xs").alias("mr"),
    ).collect()[0]
    assert out.fr == 2
    # suffix folds: [1-(2-(3-0)), 2-(3-0), 3-0]
    assert out.sr == [2, -1, 3]
    assert out.ml == [10, 20, 30]
    assert out.mr == [9, 8, 7]


def test_hconcat_and_pos_id(spark):
    from rayforce_spark.operators.items import hconcat, with_pos_id

    l = spark.createDataFrame([(i,) for i in range(100)], "a long").orderBy("a")
    r = spark.createDataFrame(
        [(i, i * 2) for i in range(100)], "b long, c long"
    ).orderBy("b")
    out = hconcat(l.repartition(7, "a").sortWithinPartitions("a"), r).collect()
    assert len(out) == 100
    # positional ids are a permutation of 0..n-1 regardless of partitioning
    pos = sorted(r2.p for r2 in with_pos_id(l, "p").collect())
    assert pos == list(range(100))
    # unequal lengths truncate to the shorter side
    short = spark.createDataFrame([(9,), (8,)], "d long")
    assert hconcat(l, short).count() == 2
