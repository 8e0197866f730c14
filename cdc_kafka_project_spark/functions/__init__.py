"""Reusable column expressions.

Two cross-cutting concerns live here:

* **Deterministic aggregation** — float sums are order-dependent, and a
  distributed engine must not let partition count change the answer.
  ``dsum``/``davg`` route double aggregation through DECIMAL(25,2)
  (exact, associative, overflow-safe far past 100 TB row counts) and
  cast the final result back to double. This also makes results
  bit-identical to any other engine doing exact arithmetic (the DuckDB
  oracle), independent of parallelism.

* **Vector math on array<float>** — ``cosine_pd`` is the one cosine:
  an Arrow-batched pandas UDF whose dimension loop accumulates
  left-to-right in IEEE float64, vectorized across rows. That left
  fold is the order the DuckDB oracle's SUM takes over the unnested
  vector in scan order, so the two agree bit for bit. (A JVM
  higher-order expression would fold the same way but evaluates its
  lambdas *interpreted*, ~ms per row on wide vectors.)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType


def _dec(col: Column | str) -> Column:
    # 6 fractional digits: enough that 2dp-valued DOUBLE columns (and
    # decimal expressions of scale <= 6, e.g. revenue_dec()/charge_dec())
    # convert exactly. Do NOT feed this a double PRODUCT of 2dp columns:
    # the true product has 4-6dp, but the float64 approximation can sit
    # between its shortest decimal repr (what Spark's double->decimal
    # cast reads, via BigDecimal.valueOf) and the exact binary value
    # (what DuckDB rounds), so the two engines can disagree by 1e-6 on
    # rare rows — observed once at 6M rows. Build products in decimal
    # via revenue_dec()/charge_dec()/discount_amount_dec() instead.
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(25,6)")


def local_rows_df(spark, rows, schema):
    """createDataFrame for SMALL driver-side row lists without the
    default-parallelism slicing (r16). The plain ``createDataFrame``
    parallelizes a Python list into ``defaultParallelism`` pickled
    slices, so every downstream action pays one Python-worker round
    trip PER SLICE — ~32 on this host for a handful of rows — and a
    ``coalesce(1)`` pays them SEQUENTIALLY inside one task (measured
    6–10 s to write a 7-row frame). One slice = one round trip
    (measured 0.4 s for the same write). Only for driver-bounded row
    lists — anything data-sized must not come through here."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def dsum(col: Column | str) -> Column:
    """Order-independent sum of a double column, returned as double.

    Oracle twins must cast the decimal sum to double THROUGH VARCHAR
    (``CAST(CAST(SUM(...) AS VARCHAR) AS DOUBLE)``): DuckDB's direct
    decimal->double conversion computes hugeint->double / 10^scale —
    two roundings — and diverges from the correctly-rounded value
    (which Spark produces) by 1 ulp once the scaled integer exceeds
    2^53, i.e. sums past ~9e9 at scale 6. The VARCHAR route parses the
    exact decimal string, which DuckDB rounds correctly, and is a
    bit-identity below 2^53.
    """
    return F.sum(_dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic mean: exact decimal sum / count, in float64."""
    return (F.sum(_dec(col)).cast("double") / F.count(F.lit(1))).cast("double")


def fround(col: Column | str, scale: int = 0) -> Column:
    """Engine-portable half-up rounding of a double to ``scale`` dp.

    ``F.round`` on DoubleType reads the double's SHORTEST decimal repr
    (``BigDecimal.valueOf``) before rounding, while DuckDB's ``ROUND``
    rounds the exact binary value — once per ~1e5 values the two
    readings straddle the rounding boundary and the engines disagree
    (first observed on `embedding_matryoshka_fidelity` at the 10x
    replica). This floor form (floor(x*10^s + 0.5)/10^s) is pure IEEE
    float64 arithmetic, so both engines compute the identical bits;
    oracle twins use ``floor((x) * 1eS + 0.5) / 1eS``. Meaningful for
    \\|x\\|*10^s below 2^53 (all current uses are far below); ties round
    toward +inf on both engines.

    Non-finite inputs pass through untouched: Spark's ``F.floor`` on
    double returns LongType (NaN -> 0, +/-Inf -> Long.MAX/MIN) while
    DuckDB's floor keeps them as doubles, so without the guard a NaN
    (e.g. a zero-norm cosine) would silently become a plausible 0.0 on
    the Spark side only.
    """
    c = F.col(col) if isinstance(col, str) else col
    p = F.lit(float(10**scale))
    nonfinite = (
        c.isNull()
        | F.isnan(c)
        | (c == F.lit(float("inf")))
        | (c == F.lit(float("-inf")))
    )
    return F.when(nonfinite, c).otherwise(F.floor(c * p + F.lit(0.5)) / p)


def dec2(col: Column | str) -> Column:
    """Exact decimal view of a 2dp-valued double column (DECIMAL(12,2)).

    The cast is unambiguous for 2dp values: the nearest double of a 2dp
    number is ~1e-13 away from it, vastly inside the 5e-3 rounding
    half-step, so Spark's string-repr cast and DuckDB's binary-value
    cast produce the identical decimal. All downstream decimal
    arithmetic is then EXACT (scales add, no rounding), giving
    bit-equal aggregates on both engines at any row count.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(12,2)")


def revenue_dec_sql(prefix: str = "") -> str:
    """DuckDB oracle twin of :func:`revenue_dec` — keep in sync.

    ``prefix`` is a table-alias prefix (e.g. ``"l."``) for oracles that
    join lineitem under an alias; there is exactly one source of truth
    for the exact-decimal revenue recipe.
    """
    return (
        f"(CAST({prefix}l_extendedprice AS DECIMAL(12,2))"
        f" * (CAST(1 AS DECIMAL(1,0)) - CAST({prefix}l_discount AS DECIMAL(4,2))))"
    )


#: Unaliased form of :func:`revenue_dec_sql`.
REVENUE_DEC_SQL = revenue_dec_sql()

#: DuckDB oracle twin of :func:`charge_dec` — keep in sync.
CHARGE_DEC_SQL = (
    REVENUE_DEC_SQL
    + " * (CAST(1 AS DECIMAL(1,0)) + CAST(l_tax AS DECIMAL(4,2)))"
)

#: DuckDB oracle twin of :func:`discount_amount_dec` — keep in sync.
DISCOUNT_AMOUNT_DEC_SQL = (
    "(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * CAST(l_discount AS DECIMAL(4,2)))"
)


def revenue_dec() -> Column:
    """``l_extendedprice * (1 - l_discount)`` in exact decimal —
    DECIMAL(18,4), no rounding anywhere past the unambiguous 2dp
    casts (see :func:`dec2`)."""
    one = F.lit(1).cast("decimal(1,0)")
    return dec2("l_extendedprice") * (
        one - F.col("l_discount").cast("decimal(4,2)")
    )


def charge_dec() -> Column:
    """``l_extendedprice * (1 - l_discount) * (1 + l_tax)`` in exact
    decimal — DECIMAL(24,6)."""
    one = F.lit(1).cast("decimal(1,0)")
    return revenue_dec() * (one + F.col("l_tax").cast("decimal(4,2)"))


def discount_amount_dec() -> Column:
    """``l_extendedprice * l_discount`` in exact decimal — DECIMAL(16,4)."""
    return dec2("l_extendedprice") * F.col("l_discount").cast("decimal(4,2)")


# ---------------------------------------------------------------------------
# Vector expressions (array<float> embeddings)
# ---------------------------------------------------------------------------


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# DataType instance, not a DDL string: string return types are parsed
# through the active SparkContext, which doesn't exist at import time.
@pandas_udf(DoubleType())
def _cosine_pd(a, b):  # pd.Series[np.ndarray] x2 -> pd.Series[float]
    import numpy as np
    import pandas as pd

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    A = np.stack(a.to_numpy()).astype(np.float64)
    B = np.stack(b.to_numpy()).astype(np.float64)
    n = len(A)
    dp = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    # Sequential fold over dimensions, vectorized over rows: the
    # accumulation order is the left fold an oracle's SUM over the
    # unnested vector takes in scan order, so results are bit-identical
    # to it — parity is not at the mercy of BLAS blocking.
    for j in range(A.shape[1]):
        x, y = A[:, j], B[:, j]
        dp = dp + x * y
        na = na + x * x
        nb = nb + y * y
    return pd.Series(dp / (np.sqrt(na) * np.sqrt(nb)))


def cosine_pd(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized pairwise cosine in float64 — the engine's one
    cosine (see module docstring); inputs may be array<float>. Its
    left-fold order matches the DuckDB oracle's SUM in scan order."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return _cosine_pd(ac, bc)


# ---------------------------------------------------------------------------
# Text expressions
# ---------------------------------------------------------------------------


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def _parse_byte_size(raw: str) -> int:
    """Parse a Spark byte-size string ('128m', '1g', '64k', '134217728b',
    bare digits) into bytes, matching JavaUtils.byteStringAsBytes. Falls
    back to the 128 MiB default on anything unrecognizable."""
    import re

    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", raw)
    if not m:
        return 134217728
    mult = {
        "": 1, "b": 1,
        "k": 1 << 10, "kb": 1 << 10,
        "m": 1 << 20, "mb": 1 << 20,
        "g": 1 << 30, "gb": 1 << 30,
        "t": 1 << 40, "tb": 1 << 40,
        "p": 1 << 50, "pb": 1 << 50,
    }.get(m.group(2).lower())
    return int(m.group(1)) * mult if mult else 134217728


def input_bytes(df) -> int:
    """Total on-disk bytes behind ``df``'s file scans — pure metadata
    (file list + stat), no job. Used by queries that switch between an
    exact small-input plan and a scale-safe large-input plan (e.g. the
    RFM ntile → quantile-boundary swap): a size-threshold decision must
    not itself cost a pass over the data. Returns 0 for non-file inputs
    (in-memory test frames, streams) — callers treat that as 'small'."""
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return 0
    total = 0
    for f in files:
        try:
            total += os.path.getsize(f.removeprefix("file:"))
        except OSError:
            # remote/unstat-able file: assume big — the scale plan is
            # always CORRECT, just not bit-identical to ntile quartiles
            total += 1 << 40
    return total


def spread(df, *cols, min_bytes: int = 0):
    """Repartition up to the session's default parallelism when the
    input scan would produce fewer splits.

    ``min_bytes``: skip the repartition entirely when the scan's total
    input is under this size. For callers whose per-row work is a
    vectorized numpy/Arrow batch op (embedding scans), a tiny input's
    exchange + full-width task wave costs more than one task's
    vectorized pass (measured 1.14 s vs 0.26 s on an 0.8 MB corpus);
    text callers whose explode fanout dwarfs input bytes keep the
    default 0.

    Two jobs in one exchange: (a) a single parquet file reads as one
    partition locally, which would serialize every downstream explode/
    join onto one core; (b) the shuffle write *materializes* computed
    columns (e.g. a tokenized array), so expressions referenced many
    times downstream (array indexing in transform lambdas) are computed
    once instead of being re-inlined per access by codegen. At cluster
    scale inputs arrive pre-split, so this is a no-op there.

    The split estimate comes from the scan's file list + sizes against
    spark.sql.files.maxPartitionBytes — pure metadata. (The previous
    ``df.rdd.getNumPartitions()`` forced a plan conversion per call, in
    front of every text/dedup query.) Non-file inputs (in-memory test
    frames, streams) pass through untouched.
    """
    import math
    import os

    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        return df
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    raw = sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    max_bytes = _parse_byte_size(str(raw))
    splits = 0
    total = 0
    for f in files:
        path = f.removeprefix("file:")
        try:
            size = os.path.getsize(path)
            total += size
            splits += max(1, math.ceil(size / max_bytes))
        except OSError:
            splits += 1  # remote/unstat-able file: count it once
            total += min_bytes  # unknown size: never skip on its account
        if splits >= target:
            return df
    if total < min_bytes:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
