"""select/update verb tests vs DuckDB oracle (SURVEY §5 layer-2 analog)."""

from pyspark.sql import functions as F

from rayforce_spark import A, select, update
from rayforce_spark.operators.query import delete

from tests.conftest import assert_matches_duckdb


def test_groupby_sum(tables, duck):
    out = select(
        tables["lineitem"],
        {"sum_qty": A.sum_("l_quantity")},
        by="l_returnflag",
    )
    assert_matches_duckdb(
        out, duck,
        "SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY 1",
    )


def test_approx_count_distinct_close_to_exact(tables):
    # HLL++ sketch vs exact: within the configured rsd on real data
    out = select(
        tables["lineitem"],
        {
            "exact": A.count_distinct("l_partkey"),
            "approx": A.approx_count_distinct("l_partkey", rsd=0.02),
        },
        by="l_returnflag",
    ).collect()
    assert len(out) > 0
    for r in out:
        assert abs(r.approx - r.exact) <= max(3, 0.08 * r.exact), r


def test_approx_quantile_close_to_exact(tables):
    # percentile_approx sketch vs the exact sorted values per group: the
    # answer is an observed value whose rank is within the sketch's
    # 1/accuracy rank error of q*n
    li = tables["lineitem"]
    out = select(li, {"p90": A.approx_quantile("l_extendedprice", 0.9)},
                 by="l_returnflag").collect()
    vals = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r.l_returnflag, []).append(r.l_extendedprice)
    assert {r.l_returnflag for r in out} == set(vals)
    for r in out:
        v = sorted(vals[r.l_returnflag])
        slack = len(v) // 10000 + 1
        rank = int(0.9 * len(v))
        lo, hi = max(rank - slack - 1, 0), min(rank + slack, len(v) - 1)
        assert r.p90 in v and v[lo] <= r.p90 <= v[hi], (r, v[lo], v[hi])


def test_groupby_multi_aggs(tables, duck):
    out = select(
        tables["lineitem"],
        {
            "sum_qty": A.sum_("l_quantity"),
            "avg_price": A.avg("l_extendedprice"),
            "min_disc": A.min_("l_discount"),
            "max_tax": A.max_("l_tax"),
            "n": A.count(),
            "n_parts": A.count_distinct("l_partkey"),
            "med_qty": A.med("l_quantity"),
            "dev_price": A.dev("l_extendedprice"),
        },
        by=["l_returnflag", "l_linestatus"],
    )
    assert_matches_duckdb(
        out, duck,
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               avg(l_extendedprice) AS avg_price,
               min(l_discount) AS min_disc,
               max(l_tax) AS max_tax,
               count(*) AS n,
               count(DISTINCT l_partkey) AS n_parts,
               median(l_quantity) AS med_qty,
               stddev_pop(l_extendedprice) AS dev_price
        FROM lineitem GROUP BY 1, 2
        """,
    )


def test_where_then_group(tables, duck):
    out = select(
        tables["lineitem"],
        {"revenue": A.sum_(F.col("l_extendedprice") * (1 - F.col("l_discount")))},
        where=F.col("l_shipdate") < "1996-01-01",
        by="l_returnflag",
    )
    assert_matches_duckdb(
        out, duck,
        """
        SELECT l_returnflag,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1
        """,
    )


def test_flat_agg(tables, duck):
    out = select(
        tables["orders"],
        {
            "total": A.sum_("o_totalprice"),
            "n": A.count(),
            "mx": A.max_("o_totalprice"),
            "md": A.med("o_totalprice"),
        },
    )
    assert_matches_duckdb(
        out, duck,
        """SELECT sum(o_totalprice) AS total, count(*) AS n,
                  max(o_totalprice) AS mx, median(o_totalprice) AS md
           FROM orders""",
    )


def test_projection_filter(tables, duck):
    out = select(
        tables["orders"],
        {"k": F.col("o_orderkey"), "p2": F.col("o_totalprice") * 2},
        where=F.col("o_orderstatus") == "O",
    )
    assert_matches_duckdb(
        out, duck,
        "SELECT o_orderkey AS k, o_totalprice * 2 AS p2 FROM orders WHERE o_orderstatus = 'O'",
    )


def test_agg_arithmetic(tables, duck):
    # H2O groupby Q6 shape: max - min by group
    out = select(
        tables["lineitem"],
        {"range_qty": A.max_("l_quantity") - A.min_("l_quantity")},
        by="l_returnflag",
    )
    assert_matches_duckdb(
        out, duck,
        "SELECT l_returnflag, max(l_quantity) - min(l_quantity) AS range_qty FROM lineitem GROUP BY 1",
    )


def test_computed_by_key(tables, duck):
    from rayforce_spark import K

    out = select(
        tables["orders"],
        {"n": A.count()},
        by={"price_bucket": K.xbar(1000, F.col("o_totalprice"))},
    )
    assert_matches_duckdb(
        out, duck,
        "SELECT floor(o_totalprice / 1000) * 1000 AS price_bucket, count(*) AS n FROM orders GROUP BY 1",
    )


def test_default_grouped_columns(tables, spark):
    # no mappings: first per remaining column (ref core/query.c:474)
    out = select(tables["nation"], by="n_regionkey")
    assert out.columns == ["n_regionkey", "n_nationkey", "n_name"]
    assert out.count() == 5


def test_take_head_and_tail(tables):
    df = tables["nation"]
    assert select(df, take=3).count() == 3
    tail = select(df, take=-3)
    assert tail.count() == 3
    # nation is small + single partition: tail must be the last 3 keys
    keys = sorted(r.n_nationkey for r in tail.collect())
    assert keys == [22, 23, 24]
    sl = select(df, take=(5, 10))
    assert sorted(r.n_nationkey for r in sl.collect()) == list(range(5, 15))


def test_update_plain_and_where(tables, duck):
    out = update(
        tables["orders"],
        {"o_totalprice": F.col("o_totalprice") * 1.1},
        where=F.col("o_orderstatus") == "F",
    )
    assert_matches_duckdb(
        out.select("o_orderkey", "o_totalprice"), duck,
        """SELECT o_orderkey,
                  CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 1.1
                       ELSE o_totalprice END AS o_totalprice
           FROM orders""",
    )


def test_update_grouped_agg_broadcast(tables, duck):
    # every row gets its group's max (ref core/update.c:753 goldens
    # tests/lang.c:2902)
    out = update(
        tables["lineitem"],
        {"grp_max": A.max_("l_quantity")},
        by="l_orderkey",
    )
    assert_matches_duckdb(
        out.select("l_orderkey", "l_linenumber", "grp_max"), duck,
        """SELECT l_orderkey, l_linenumber,
                  max(l_quantity) OVER (PARTITION BY l_orderkey) AS grp_max
           FROM lineitem""",
    )


def test_update_grouped_with_where(tables, duck):
    # aggregate over passing rows only; only passing rows updated
    out = update(
        tables["lineitem"],
        {"flag_sum": A.sum_("l_quantity")},
        where=F.col("l_returnflag") == "R",
        by="l_orderkey",
    )
    assert_matches_duckdb(
        out.select("l_orderkey", "l_linenumber", "flag_sum"), duck,
        """SELECT l_orderkey, l_linenumber,
                  CASE WHEN l_returnflag = 'R' THEN
                    sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END)
                      OVER (PARTITION BY l_orderkey)
                  END AS flag_sum
           FROM lineitem""",
    )


def test_delete(tables, duck):
    out = delete(tables["orders"], where=F.col("o_orderstatus") == "O")
    assert_matches_duckdb(
        out.select("o_orderkey"), duck,
        "SELECT o_orderkey FROM orders WHERE NOT o_orderstatus = 'O'",
    )


def test_median_split_with_null_keys(spark):
    # mixed med + other aggs triggers the split plan; a null group key
    # must survive the null-safe re-join
    import math

    rows = [(None, 1.0), (None, 3.0), ("a", 2.0), ("a", 4.0), ("a", 9.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {
        r["k"]: r
        for r in select(
            df,
            {"s": A.sum_("v"), "m": A.med("v"), "n": A.count()},
            by="k",
        ).collect()
    }
    assert out[None]["s"] == 4.0 and out[None]["m"] == 2.0 and out[None]["n"] == 2
    assert out["a"]["s"] == 15.0 and out["a"]["m"] == 4.0 and out["a"]["n"] == 3


def test_ediv_emod_reference_parity(spark):
    # ref core/ops.h:165-166: EUCL_DIV is floor division (C trunc-div
    # minus 1 when signs differ and inexact); EUCL_MOD = x - q*y takes the
    # divisor's sign. Exhaustive over sign combinations and zero.
    import math

    from rayforce_spark.functions.kdb import ediv, emod

    def ref_div(x, y):
        if y == 0:
            return None
        q = math.trunc(x / y)
        tm = x - q * y
        return q - (1 if ((x < 0) != (y < 0) and tm != 0) else 0)

    cases = [(x, y) for x in (10, -10, 7, -7, 0, 1)
             for y in (7, -7, 2, -2, 1, -1, 0)]
    df = spark.createDataFrame(cases, "x long, y long")
    rows = df.select(
        "x", "y", ediv("x", "y").alias("d"), emod("x", "y").alias("m")
    ).collect()
    for r in rows:
        want_d = ref_div(r.x, r.y)
        want_m = None if want_d is None else r.x - want_d * r.y
        assert r.d == want_d, (r.x, r.y, r.d, want_d)
        assert r.m == want_m, (r.x, r.y, r.m, want_m)


def test_sum_identity_on_empty_and_all_null(spark):
    # (sum []) = 0 and all-null input sums to 0 (ref tests/lang.c:4070,
    # FOLD_ADD starts at 0); min/max/med of empty stay null
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 1.5)], "k string, v double"
    )
    rows = {r["k"]: r for r in select(
        df, {"s": A.sum_("v"), "mn": A.min_("v")}, by="k"
    ).collect()}
    assert rows["a"]["s"] == 0.0 and rows["a"]["mn"] is None
    assert rows["b"]["s"] == 1.5
    empty = select(
        df.filter(F.col("k") == "zzz"), {"s": A.sum_("v"), "n": A.count()}
    ).collect()[0]
    assert empty["s"] == 0 and empty["n"] == 0


def test_first_last_keep_nulls(spark):
    # reference first = at_idx(x, 0): a null first element is returned,
    # not skipped (ref core/items.c:1031)
    df = spark.createDataFrame(
        [("a", 1, None), ("a", 2, 5.0), ("b", 1, 7.0)],
        "k string, ord long, v double",
    ).repartition(1).sortWithinPartitions("k", "ord")
    rows = {r["k"]: r for r in select(
        df, {"f": A.first("v"), "l": A.last("v")}, by="k"
    ).collect()}
    assert rows["a"]["f"] is None and rows["a"]["l"] == 5.0
    assert rows["b"]["f"] == 7.0


def test_format_bare_placeholders(spark):
    # reference format: bare % placeholders replaced by the argument's
    # printed form (docs format.md); printf codes still pass through
    from rayforce_spark.functions.kdb import format_

    df = spark.createDataFrame([(150.25, "AAPL")], "px double, sym string")
    r = df.select(
        format_("Price: % Symbol: %", "px", "sym").alias("a"),
        format_("%s/%s", "sym", "sym").alias("b"),
    ).collect()[0]
    assert r["a"] == "Price: 150.25 Symbol: AAPL"
    assert r["b"] == "AAPL/AAPL"


def test_ediv_emod_exact_above_2_53(spark):
    # epoch-ns longs (~1.7e18) exceed double's 2^53 integer range; the
    # decimal-space floor-div/mod must stay exact (ref EUCL_DIV/EUCL_MOD
    # are pure i64 arithmetic, core/ops.h:165-166)
    from rayforce_spark.functions.kdb import ediv, emod, xbar_i

    ns = 1_700_000_000_123_456_789
    bucket = 300_000_000_000  # 5 minutes in ns
    df = spark.createDataFrame([(ns, bucket), (-ns, bucket)], "x long, y long")
    rows = {r.x: r for r in df.select(
        "x", ediv("x", "y").alias("d"), emod("x", "y").alias("m"),
        xbar_i("y", "x").alias("b"),
    ).collect()}
    assert rows[ns].d == ns // bucket
    assert rows[ns].m == ns % bucket
    assert rows[ns].b == (ns // bucket) * bucket
    assert rows[-ns].d == (-ns) // bucket          # python // is floor-div
    assert rows[-ns].m == (-ns) % bucket
    assert rows[-ns].b == ((-ns) // bucket) * bucket


def test_ediv_emod_long_twin_matches_decimal(spark):
    # r12: ediv/emod switched from decimal(38,0) arithmetic to pure long
    # arithmetic (div + sign-corrected remainder). Pin the long spelling
    # value-identical to the decimal twin it replaced, over adversarial
    # i64s (LONG_MIN/MAX, off-by-ones, zero divisor, sign mixes, epoch-ns
    # magnitudes) and python-replayed floor semantics. LONG_MIN/-1 is
    # excluded: both spellings raise ARITHMETIC_OVERFLOW there (the old
    # decimal->long cast overflowed the same way).
    from pyspark.sql import functions as F

    from rayforce_spark.functions.kdb import ediv, emod

    def dec_ediv(x, y):
        xd = F.floor(x).cast("decimal(38,0)")
        yd = F.floor(y).cast("decimal(38,0)")
        fm = (xd % yd + yd) % yd
        q = ((xd - fm) / yd).cast("long")
        return F.when(y == 0, F.lit(None).cast("long")).otherwise(q)

    def dec_emod(x, y):
        xd = F.floor(x).cast("decimal(38,0)")
        yd = F.floor(y).cast("decimal(38,0)")
        r = ((xd % yd + yd) % yd).cast("long")
        return F.when(y == 0, F.lit(None).cast("long")).otherwise(r)

    lo, hi = -(2 ** 63), 2 ** 63 - 1
    import random

    rng = random.Random(12)
    vals = [lo, lo + 1, hi, hi - 1, -1, 0, 1, 2, -2, 7, -7,
            1_700_000_000_123_456_789, -1_700_000_000_123_456_789,
            2 ** 53, -(2 ** 53) - 1]
    vals += [rng.randint(lo, hi) for _ in range(30)]
    cases = [(x, y) for x in vals for y in vals
             if not (x == lo and y == -1)]
    df = spark.createDataFrame(cases, "x long, y long")
    x, y = F.col("x"), F.col("y")
    bad = df.select(
        ediv(x, y).alias("d"), dec_ediv(x, y).alias("dd"),
        emod(x, y).alias("m"), dec_emod(x, y).alias("dm"),
    ).filter(~F.col("d").eqNullSafe(F.col("dd"))
             | ~F.col("m").eqNullSafe(F.col("dm")))
    assert bad.count() == 0, bad.limit(5).collect()
    # python floor-div/mod replay on a sample (ground truth, not just
    # twin-vs-twin)
    sample = [(x0, y0) for x0, y0 in cases[:400] if y0 != 0]
    sdf = spark.createDataFrame(sample, "x long, y long")
    rows = sdf.select("x", "y", ediv(x, y).alias("d"),
                      emod(x, y).alias("m")).collect()
    for r in rows:
        assert r.d == r.x // r.y, (r.x, r.y, r.d)
        assert r.m == r.x % r.y, (r.x, r.y, r.m)


def test_ediv_emod_fractional_divisor_nulls(spark):
    # r13 (r12 ADVICE): the arithmetic divides by floor(y), so any y
    # with floor(y) == 0 — fractional 0 < y < 1, and -1 < y < 0 floors
    # to -1 (NOT null) — must follow the floor-first contract. The old
    # guard checked raw y == 0 only, so ediv(x, 0.5) silently returned
    # x and emod returned 0.
    from rayforce_spark.functions.kdb import ediv, emod

    cases = [(7.0, 0.5), (7.0, 0.999), (-7.0, 0.25), (7.0, -0.5),
             (7.25, 3.0), (-7.25, 3.0), (7.0, 0.0), (7.0, None)]
    df = spark.createDataFrame(cases, "x double, y double")
    rows = {(r.x, r.y): r for r in df.select(
        "x", "y", ediv("x", "y").alias("d"), emod("x", "y").alias("m")
    ).collect()}
    # floor(y) == 0: null, same as y == 0
    for y0 in (0.5, 0.999, 0.0):
        assert rows[(7.0, y0)].d is None and rows[(7.0, y0)].m is None
    assert rows[(-7.0, 0.25)].d is None and rows[(-7.0, 0.25)].m is None
    # floor(-0.5) == -1: defined, floor semantics over the floored pair
    assert rows[(7.0, -0.5)].d == 7 // -1 and rows[(7.0, -0.5)].m == 0
    # fractional x floors first
    assert rows[(7.25, 3.0)].d == 2 and rows[(7.25, 3.0)].m == 1
    assert rows[(-7.25, 3.0)].d == -8 // 3  # floor(-7.25) = -8
    assert rows[(-7.25, 3.0)].m == -8 % 3
    # null y propagates null
    assert rows[(7.0, None)].d is None and rows[(7.0, None)].m is None


def test_ediv_emod_float_forms(spark):
    # f64 verbs (ref DIVF64/MODF64): keep the fractional remainder
    from rayforce_spark.functions.kdb import ediv_f, emod_f

    df = spark.createDataFrame(
        [(7.5, 2.0), (-7.5, 2.0), (7.5, 0.0)], "x double, y double"
    )
    rows = {(r.x, r.y): r for r in df.select(
        "x", "y", ediv_f("x", "y").alias("d"), emod_f("x", "y").alias("m")
    ).collect()}
    assert rows[(7.5, 2.0)].d == 3.0 and rows[(7.5, 2.0)].m == 1.5
    assert rows[(-7.5, 2.0)].d == -4.0 and rows[(-7.5, 2.0)].m == 0.5
    assert rows[(7.5, 0.0)].d is None and rows[(7.5, 0.0)].m is None


def test_symbol_interning(spark, tables):
    from rayforce_spark.functions.symbols import (
        desymbolize, desymbolize_lit, symbol_map, symbol_table, symbolize)
    from pyspark.sql import functions as F

    li = tables["lineitem"].select("l_returnflag", "l_quantity")
    st = symbol_table(li, "l_returnflag", verify=True)
    enc = symbolize(li, ["l_returnflag"])
    assert "l_returnflag" not in enc.columns and "l_returnflag_sym" in enc.columns

    agg = enc.groupBy("l_returnflag_sym").agg(F.sum("l_quantity").alias("s"))
    via_join = {r["l_returnflag"]: r["s"] for r in desymbolize(agg, st, "l_returnflag").collect()}
    via_map = {
        r["l_returnflag"]: r["s"]
        for r in desymbolize_lit(agg, symbol_map(st, "l_returnflag"), "l_returnflag").collect()
    }
    direct = {
        r["l_returnflag"]: r["s"]
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()
    }
    assert via_join == direct and via_map == direct
