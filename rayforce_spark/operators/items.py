"""Element access / list verbs — SURVEY §2.2, §2.7 (ref core/items.c,
core/compose.c).

Positional verbs (at/remove/alter on row indices) are inherently
order-dependent; on a distributed table "table order" means the stable
read order materialized by a row-id column. They are small-result /
utility verbs — the scale path is always a keyed operation instead.
"""

from __future__ import annotations

from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def with_row_id(df: DataFrame, out: str = "row_id") -> DataFrame:
    """Materialize 0-based table order (parquet read order)."""
    w = Window.orderBy(F.monotonically_increasing_id())
    return df.withColumn(out, F.row_number().over(w) - 1)


def with_pos_id(df: DataFrame, out: str = "__rf_pos") -> DataFrame:
    """0-based table-order position WITHOUT a global sort — the scale form
    of :func:`with_row_id`.

    monotonically_increasing_id encodes (partition_id << 33) + row_pos;
    a first lightweight job collects per-partition row counts (one row
    per partition), the driver turns them into cumulative offsets, and a
    broadcast join adds offset[pid] + row_pos. Two scans, no shuffle of
    the data, no single-partition window. Position is read order — the
    same caveat as every positional verb; sort first for a defined order.
    """
    # localCheckpoint pins the (nondeterministic) monotonic ids before the
    # plan fans out into the counts job AND the returned plan: without it a
    # recomputation (task retry, AQE replan) could re-assign ids under the
    # already-collected offsets and silently misalign positions.
    tmp = df.withColumn(
        "__rf_mid", F.monotonically_increasing_id()
    ).localCheckpoint()
    counts = (
        tmp.groupBy(F.shiftright("__rf_mid", 33).alias("__rf_pid"))
        .agg(F.count(F.lit(1)).alias("__rf_cnt"))
        .collect()
    )
    acc, offsets = 0, []
    for pid, cnt in sorted((r["__rf_pid"], r["__rf_cnt"]) for r in counts):
        offsets.append((pid, acc))
        acc += cnt
    off = df.sparkSession.createDataFrame(
        offsets or [(0, 0)], "__rf_pid long, __rf_off long"
    )
    return (
        tmp.withColumn("__rf_pid", F.shiftright("__rf_mid", 33))
        .join(F.broadcast(off), "__rf_pid")
        .withColumn(
            out,
            F.col("__rf_off")
            + F.col("__rf_mid").bitwiseAND(F.lit((1 << 33) - 1)),
        )
        .drop("__rf_mid", "__rf_pid", "__rf_off")
    )


def hconcat(left: DataFrame, right: DataFrame) -> DataFrame:
    """Horizontal (column-wise) table concat: paste ``right``'s columns
    onto ``left`` by row position (ref core/compose.c:465 — the reference
    concat handles both axes; vertical is joins.insert).

    Rows pair by table order via :func:`with_pos_id` (no global sort);
    the positional join shuffles both sides on the unique position id.
    Unequal lengths truncate to the shorter side (inner join on
    position). Order-dependent by nature — sort the inputs first for a
    defined pairing."""
    l = with_pos_id(left, "__rf_pos")
    r = with_pos_id(right, "__rf_pos")
    return l.join(r, "__rf_pos").drop("__rf_pos")


def at(df: DataFrame, ids: Sequence[int]) -> DataFrame:
    """(at t ids) gather rows by position (ref core/items.c:74)."""
    return with_row_id(df).filter(F.col("row_id").isin(list(ids))).drop("row_id")


def remove(df: DataFrame, ids: Sequence[int]) -> DataFrame:
    """(remove t ids) drop rows by position (ref core/compose.c:825)."""
    return with_row_id(df).filter(~F.col("row_id").isin(list(ids))).drop("row_id")


def alter(df: DataFrame, idx: int, col: str, value) -> DataFrame:
    """Functional amend at an index (ref core/update.c:312): returns a new
    table with t[idx][col] = value."""
    return (
        with_row_id(df)
        .withColumn(col, F.when(F.col("row_id") == idx, F.lit(value))
                    .otherwise(F.col(col)))
        .drop("row_id")
    )


def reverse(df: DataFrame) -> DataFrame:
    """(reverse t) — table order reversed (ref core/compose.c:144)."""
    return with_row_id(df).orderBy(F.col("row_id").desc()).drop("row_id")


def keys_of(df: DataFrame) -> list[str]:
    """(key t) -> column names (ref core/items.c:1118)."""
    return list(df.columns)


def meta(df: DataFrame) -> list[tuple[str, str]]:
    """(meta t) -> schema description (ref core/misc.c:245)."""
    return df.dtypes


# -- array/list coercion verbs (ref core/compose.c) -------------------------

def enlist(*cols: ColumnOrName) -> Column:
    """(enlist x y …) -> array column (ref core/compose.c:374)."""
    return F.array(*[F.col(c) if isinstance(c, str) else c for c in cols])


def raze(c: ColumnOrName) -> Column:
    """(raze xss) flatten one level (ref core/compose.c:1096)."""
    return F.flatten(F.col(c) if isinstance(c, str) else c)


def til(spark, n: int) -> DataFrame:
    """(til n) -> 0..n-1 (ref core/compose.c:70) — spark.range, distributed."""
    return spark.range(n).withColumnRenamed("id", "x")


def rand_sample(df: DataFrame, n_or_frac, *, seed: int = 42) -> DataFrame:
    """(rand n t)-style sampling (ref core/compose.c:439): fraction ->
    bernoulli sample (fully distributed, the 100 TB path); int -> exactly-n
    rows via a seeded global shuffle-sort + limit. The int path plans a
    global sort on F.rand, so it is a SMALL-RESULT verb (sample sizes that
    fit a driver/collect budget); for large exact-n samples use the
    fraction form with a small over-sample and a downstream limit."""
    if isinstance(n_or_frac, float):
        # fraction= by keyword: PySpark's positional-fraction form,
        # sample(0.1, seed=s), silently drops the seed keyword
        return df.sample(fraction=n_or_frac, seed=seed)
    frac_df = df.sample(False, 1.0, seed=seed).orderBy(F.rand(seed))
    return frac_df.limit(int(n_or_frac))


def guid(n_col: Column | None = None) -> Column:
    """(guid n) -> uuid per row (ref core/compose.c:343)."""
    return F.uuid()


def group_indices(df: DataFrame, col: str, id_col: str) -> DataFrame:
    """(group vec) — value -> indices-of-occurrences dict
    (ref core/compose.c:1071, core/group.c:26). Spark has no implicit row
    index, so ``id_col`` names the ordinal; indices come back sorted for
    determinism. One hash aggregation."""
    return df.groupBy(col).agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
