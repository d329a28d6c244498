"""kdb-style scalar semantics from the reference, as Spark expressions.

The reference's arithmetic rules live in macro kernels (ref core/ops.h:
136-197) and verb registrations (ref core/env.c:194-196):

* ``%``   is modulo            -> :func:`emod`
* ``/``   is Euclidean int div -> :func:`ediv`
* ``div`` is float division    -> :func:`fdiv`
* integer division by zero yields null, not an error (ref core/ops.h:169-171)
* nulls propagate through arithmetic (ref core/ops.h:136-197) — matches SQL
  NULL for free (SURVEY §1.2).

Everything here is a pure Column expression (JVM-side, whole-stage codegen),
no UDFs.
"""

from __future__ import annotations

import re
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    LongType,
    TimestampNTZType,
    TimestampType,
)

ColumnOrName = Union[Column, str]

#: Spark types the engine treats as temporal instants (besides i64-ns longs).
TEMPORAL_TYPES = (TimestampType, TimestampNTZType)


def _col(c) -> Column:
    if isinstance(c, Column):
        return c
    if isinstance(c, str):
        return F.col(c)
    return F.lit(c)


# -- arithmetic -------------------------------------------------------------

def ediv(x: ColumnOrName, y: ColumnOrName) -> Column:
    """Floor integer division, div-by-zero -> null.

    ref core/ops.h:165 EUCL_DIV — despite the name, the reference's
    formula (C truncating division minus 1 when signs differ and the
    division is inexact) is exactly FLOOR division: ediv(7,-2) = -4,
    ediv(-7,-2) = 3. The remainder (emod) takes the divisor's sign, so
    this is floor/modulo semantics, not the always-non-negative-remainder
    Euclidean pair.

    EUCL_DIV is pure i64 arithmetic in the reference; routing through
    double division would lose exactness above 2^53 (epoch-ns longs are
    ~1.7e18). r12: computed in pure LONG arithmetic — truncating
    integral ``div`` minus 1 when the C remainder is non-zero and the
    signs differ — instead of the r11-and-earlier decimal(38,0) space
    (every row paid three BigDecimal ops + a decimal divide; measured
    4.17 → 0.61 s on the 600k-row gate projection). Overflow-free by
    construction: ``x % y`` never overflows (JLS), the −1 correction
    only fires when the quotient was rounded toward zero (so it is not
    at LONG_MIN), and the one genuine overflow pair (LONG_MIN div −1)
    raises ARITHMETIC_OVERFLOW exactly like the old decimal→long cast
    did. Pinned value-identical to the decimal twin by
    test_ediv_emod_long_twin_matches_decimal. Fractional inputs are
    floored first (use :func:`ediv_f` for the reference's f64 verb,
    DIVF64 = floor(x/y) as f64).
    """
    x, y = _col(x), _col(y)
    xl = F.floor(x).cast("long")
    yl = F.floor(y).cast("long")
    ys = F.when(yl == 0, F.lit(1)).otherwise(yl)  # div/% never see 0
    r = xl % ys
    corr = (r != 0) & ((r < 0) != (yl < 0))
    q = (F.call_function("div", xl, ys)
         - F.when(corr, F.lit(1)).otherwise(F.lit(0)))
    # null-guard on the FLOORED divisor (r12 ADVICE): the arithmetic
    # divides by floor(y), so a fractional 0 < y < 1 — where y != 0 but
    # floor(y) == 0 — must also yield null per the floor-first contract
    # (the pre-r12 decimal spelling raised there under ANSI; returning
    # x silently was the r12 regression). Null y propagates: yl is null,
    # the when-condition is null, and q is null via the null divide.
    return F.when(yl == 0, F.lit(None).cast("long")).otherwise(q)


def emod(x: ColumnOrName, y: ColumnOrName) -> Column:
    """Floor modulo (result has the divisor's sign), mod-by-zero -> null.

    ref core/ops.h:166 EUCL_MOD = x - EUCL_DIV(x,y)*y, which is floor-mod.
    (NB not Spark's pmod — that returns a non-negative result even for
    negative divisors, where floor-mod is negative.) r12: pure LONG
    arithmetic like :func:`ediv` (C remainder re-signed by adding the
    divisor when signs differ — ``r + y`` cannot overflow because
    ``|r| < |y|`` and the add only fires on opposite signs); the
    decimal(38,0) spelling it replaces is pinned value-identical by
    test_ediv_emod_long_twin_matches_decimal. Fractional inputs are
    floored first (:func:`emod_f` is the f64 verb, MODF64)."""
    x, y = _col(x), _col(y)
    xl = F.floor(x).cast("long")
    yl = F.floor(y).cast("long")
    ys = F.when(yl == 0, F.lit(1)).otherwise(yl)
    r = xl % ys
    corr = (r != 0) & ((r < 0) != (yl < 0))
    rm = r + F.when(corr, yl).otherwise(F.lit(0))
    # guard on the floored divisor, same as ediv (r12 ADVICE): emod(x,
    # 0.5) must be null, not 0 — the modulus actually used is floor(y)
    return F.when(yl == 0, F.lit(None).cast("long")).otherwise(rm)


def ediv_f(x: ColumnOrName, y: ColumnOrName) -> Column:
    """f64 floor division (ref core/ops.h DIVF64 = FEUCL_DIV =
    floor(x/y) as f64, /0 -> null). The engine is statically typed per
    column where the reference dispatches on runtime type, so the f64
    form is a separate verb."""
    x, y = _col(x).cast("double"), _col(y).cast("double")
    q = F.floor(x / F.when(y != 0, y)).cast("double")
    return F.when(y == 0, F.lit(None).cast("double")).otherwise(q)


def emod_f(x: ColumnOrName, y: ColumnOrName) -> Column:
    """f64 floor modulo (ref core/ops.h MODF64 = FEUCL_MOD =
    x - floor(x/y)*y, keeps the fractional part: emod_f(7.5, 2) = 1.5)."""
    x, y = _col(x).cast("double"), _col(y).cast("double")
    r = x - F.floor(x / F.when(y != 0, y)).cast("double") * y
    return F.when(y == 0, F.lit(None).cast("double")).otherwise(r)


def fdiv(x: ColumnOrName, y: ColumnOrName) -> Column:
    """Float division (``div`` in the reference, core/env.c:196).

    try_divide: /0 yields NULL (Spark 4's default ANSI mode would throw),
    matching the reference's div-by-zero->null rule (ref core/ops.h:169).
    """
    return F.try_divide(_col(x).cast("double"), _col(y).cast("double"))


def neg(x: ColumnOrName) -> Column:
    """ref core/order.c:445."""
    return -_col(x)


# -- bucketing --------------------------------------------------------------

def xbar(n, x: ColumnOrName) -> Column:
    """Round ``x`` down to a multiple of ``n`` (ref core/math.c:2442,
    core/ops.h:193-197). The reference's time-bucketing idiom
    ``(xbar 300000 time)`` = 5-minute bars.

    This is the f64 form (XBARF64 = floor(x/y)*y); exact below 2^53.
    For i64 columns that exceed double precision (epoch-ns longs), use
    :func:`xbar_i` (XBARI64 is pure integer arithmetic in the
    reference); see :func:`xbar_time` for timestamps.
    """
    x = _col(x)
    n_c = _col(n)
    # try_divide: zero bucket width -> null (the reference's XBAR macros
    # null out y == 0, ref core/ops.h:193-197; plain / throws under ANSI).
    # The result is f64 like the reference's XBARF64: F.floor yields
    # LongType, and leaving the silent long would diverge from the f64
    # verb on fractional input (r1-r3 oracle dtype mismatch).
    return (F.floor(F.try_divide(x, n_c)) * n_c).cast("double")


def xbar_i(n, x: ColumnOrName) -> Column:
    """Integer-exact xbar: ediv(x, n) * n in pure long arithmetic
    (ref core/ops.h XBARI64 — ((x<0) ? x+1-n : x)/n*n in C truncating
    division == floor(x/n)*n). Use for i64 columns above 2^53, e.g.
    bucketing raw epoch-ns longs."""
    x_c, n_c = _col(x), _col(n)
    return (ediv(x_c, n_c) * n_c.cast("long")).cast("long")


def xbar_ic(n: ColumnOrName, x: ColumnOrName) -> Column:
    """Integer xbar with a COLUMN bucket width: the reference's raw
    XBARI64 formula ``((x<0) ? x+1-n : x)/n*n`` in C truncating division
    (ref core/ops.h:193-197). For positive n this equals floor(x/n)*n
    (:func:`xbar_i`); for NEGATIVE n the C truncation shows through —
    live-pinned by scripts/ref_diff_tables.py: (xbar 2 -3) = 0 where
    floor would give 3. Long-exact (trunc = floor + 1 on inexact
    sign-mixed division); n == 0 -> null via the ediv pair."""
    x_c, n_c = _col(x), _col(n)
    adj = F.when(x_c < 0, x_c + 1 - n_c).otherwise(x_c)
    q_floor = ediv(adj, n_c)
    r = emod(adj, n_c)
    sign_mix = ((adj < 0) & (n_c > 0)) | ((adj > 0) & (n_c < 0))
    q = q_floor + F.when(sign_mix & (r != 0), F.lit(1)).otherwise(F.lit(0))
    return (q * n_c.cast("long")).cast("long")


def xbar_time(seconds: int, ts: ColumnOrName, dtype: DataType | None = None) -> Column:
    """xbar over a temporal column: bucket to ``seconds``-wide bars.

    Equivalent of the reference's xbar on TIME/TIMESTAMP columns
    (i64 nanos, ref core/ops.h:273-276). Accepts a Timestamp(NTZ)
    expression directly (dtype None or temporal) or the engine's i64-ns
    shadow longs (pass ``LongType()``); always returns TimestampType bars.
    """
    if isinstance(dtype, LongType):
        ts = ns_to_timestamp(ts)
    else:
        ts = _col(ts).cast("timestamp")
    secs = F.floor(ts.cast("double") / seconds) * seconds
    return F.timestamp_seconds(secs)


# -- predicates -------------------------------------------------------------

def within(x: ColumnOrName, lo, hi) -> Column:
    """x in [lo, hi] (ref core/items.c:848)."""
    return _col(x).between(lo, hi)


_GLOB_TOKEN = re.compile(r"\[\^?\]?[^\]]*\]|\*|\?|.")


def glob_to_regex(pattern: str) -> str:
    """Translate the reference's glob syntax (``* ? [abc] [^abc]``,
    matcher ref core/string.c:493) to an anchored Java regex."""
    out = []
    for tok in _GLOB_TOKEN.findall(pattern):
        if tok == "*":
            out.append(".*")
        elif tok == "?":
            out.append(".")
        elif tok.startswith("["):
            body = tok[1:-1]
            if body.startswith("^"):
                out.append("[^" + re.escape(body[1:]) + "]")
            else:
                out.append("[" + re.escape(body) + "]")
        else:
            out.append(re.escape(tok))
    return "^" + "".join(out) + "$"


def like(x: ColumnOrName, pattern: str) -> Column:
    """Glob match (ref core/logic.c:266, core/string.c:493)."""
    return _col(x).rlike(glob_to_regex(pattern))


# -- misc verbs -------------------------------------------------------------

def split(x: ColumnOrName, sep: str) -> Column:
    """Split string by separator (ref core/compose.c:1345)."""
    return F.split(_col(x), re.escape(sep))


def format_(fmt: str, *args: ColumnOrName) -> Column:
    """Reference-style formatting: each bare ``%`` is a placeholder
    replaced by the argument's printed form (ref core/vary.c:113, docs
    format.md — ``(format "Total: %" 15025.0)``). Arguments are cast to
    string with Spark's cast, which may differ from the reference's float
    printer in trailing digits. printf-style codes (%s/%d/…) also work:
    a fmt containing a letter-suffixed % is passed through verbatim."""
    parts = fmt.split("%")
    bare = len(parts) > 1 and all(
        not p or not p[0].isalpha() for p in parts[1:]
    )
    if bare:
        if len(parts) - 1 != len(args):
            raise ValueError(
                f"format has {len(parts) - 1} placeholders, {len(args)} args"
            )
        java_fmt = "%s".join(parts)
        return F.format_string(
            java_fmt, *[_col(a).cast("string") for a in args]
        )
    return F.format_string(fmt, *[_col(a) for a in args])


def as_(type_name: str, x: ColumnOrName) -> Column:
    """Cast verb ``(as 'F64 x)`` (ref core/compose.c:42, core/env.c:211).

    Accepts the reference's type names or Spark type names.
    """
    mapping = {
        "b8": "boolean",
        "u8": "short",
        "i16": "short",
        "i32": "int",
        "i64": "long",
        "f64": "double",
        "symbol": "string",
        "c8": "string",
        "date": "date",
        "timestamp": "timestamp",
    }
    return _col(x).cast(mapping.get(type_name.lower(), type_name))


def til(spark, n: int):
    """0..n-1 range (ref core/compose.c:70) — distributed via spark.range."""
    return spark.range(n).withColumnRenamed("id", "x")


def to_ns(x: ColumnOrName, dtype: DataType | None = None) -> Column:
    """Exact i64 epoch-nanos from EITHER temporal shape the engine meets:

    * LongType — already the canonical i64-ns shadow (SURVEY §1.2):
      identity;
    * TimestampType / TimestampNTZType — what real parquet usually
      carries (µs precision): ``unix_micros * 1000``, exact i64 (µs
      epochs are ~1.7e15; *1000 stays well inside i64). NTZ wall-clock is
      read as a UTC instant (the engine pins
      ``spark.sql.session.timeZone=UTC``, session.py), matching DuckDB's
      timezone-less ``epoch_ns()``.

    Spark columns are statically typed where the reference dispatches on
    runtime type (ref core/ops.h:264-277 temporal conversions), so the
    dispatch needs the column's DataType — pass
    ``df.schema[name].dataType``; ``None`` assumes the canonical ns-long.
    """
    c = _col(x)
    if isinstance(dtype, (*TEMPORAL_TYPES, DateType)):
        return F.unix_micros(c.cast("timestamp")) * F.lit(1000)
    return c


def ns_to_us(x: ColumnOrName, dtype: DataType | None = None) -> Column:
    """Temporal column -> i64 epoch-micros, exactly. For the i64-ns shape,
    plain ``x/1000`` routes through double and loses bits above 2^53 (ns
    epochs are ~1.7e18); integral ``div`` is exact long arithmetic (r12:
    replaces the decimal(38,0) divide+cast — same C-truncating result
    for every sign, no per-row BigDecimal). Timestamp input is
    unix_micros directly. Pairs with DuckDB's epoch_us()."""
    if isinstance(dtype, TEMPORAL_TYPES):
        return F.unix_micros(_col(x).cast("timestamp"))
    return F.call_function("div", _col(x).cast("long"), F.lit(1000))


def ns_to_timestamp(x: ColumnOrName, dtype: DataType | None = None) -> Column:
    """Temporal column -> TimestampType (µs precision), the reference's
    ns-timestamp column (ref core/ops.h:273-276) surfaced as a Spark
    temporal. Timestamp(NTZ) input passes through (one cast)."""
    if isinstance(dtype, TEMPORAL_TYPES):
        return _col(x).cast("timestamp")
    return F.timestamp_micros(ns_to_us(x))


def ms_of_day(ts: ColumnOrName, dtype: DataType | None = None,
              *, truncated: bool = False) -> Column:
    """Temporal column -> i32 milliseconds since midnight UTC — the
    reference's time-of-day TIME type (i32 millis, ref core/ops.h:269),
    extracted from a timestamp. Its tick-data idiom buckets quotes by
    time-of-day regardless of date (examples/asof.rfl).

    unix_micros is exact i64; by default pmod keeps pre-epoch timestamps
    positive (floor-mod), matching a clock reading. DuckDB twin:
    ``CAST(floor(((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000 / 1000) AS INT)``.

    ``truncated=True`` is exact reference parity instead: the reference's
    timestamp_to_time uses C ``%``/``/`` (truncated toward zero), so
    pre-epoch inputs yield NEGATIVE values (e.g. -1.234s -> -1234), not a
    positive clock reading. Identical for post-1970 data.
    """
    if isinstance(dtype, TEMPORAL_TYPES):
        us = F.unix_micros(_col(ts).cast("timestamp"))
    else:
        us = ns_to_us(ts)  # i64-ns shadow; exact decimal divide
    if truncated:
        # Spark's % on longs is C-truncated; double->int cast truncates
        # toward zero (values < 8.64e10 are double-exact)
        return ((us % 86_400_000_000) / 1000).cast("int")
    us_of_day = F.pmod(us, F.lit(86_400_000_000))
    return F.floor(us_of_day / 1000).cast("int")


def time_from_ms(ms: ColumnOrName) -> Column:
    """i32 millis-since-midnight -> TimestampType on the epoch day —
    the constructor half of the reference's TIME pair (ref core/ops.h:269).
    Spark has no time-of-day type; anchoring on 1970-01-01 keeps ordering,
    arithmetic, and xbar_time bucketing working, and formats as HH:mm:ss.SSS
    with date_format."""
    return F.timestamp_millis(_col(ms).cast("long"))

