"""Engine-deterministic scalar helpers.

The reference rounds with pandas/Python (``/root/reference/Task_2/
task_2.py:118-121,135-137``). Engines disagree on round-half semantics
for doubles (Spark converts through BigDecimal's shortest decimal
representation, DuckDB/C++ round the scaled binary double), so a KPI
that must hash-match across engines cannot use either engine's native
``round``. Two rules keep every money/rate column bit-deterministic:

1. **Sum money in DECIMAL** — exact, order-independent, so the value is
   identical regardless of partitioning / addition order. Then cast to
   double (one deterministic conversion).
2. **Round via** ``floor(x * 10^d + 0.5) / 10^d`` — plain IEEE-754
   double ops that produce the same bits in Spark, DuckDB, pandas, or a
   calculator. Semantically round-half-up, matching the reference's
   positive-valued KPIs.

``queries.round_sql``/``queries.exact_sum_sql`` emit the mirror-image
ANSI SQL for the DuckDB oracle so both sides compute literally the same
doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition a small input up to cluster parallelism before
    CPU-heavy per-row work (tokenize / shingle / md5).

    A large scan already yields at least as many splits as cores, so
    the gate makes this a no-op at scale — no forced shuffle of a
    100 TB input. It fires when the scan gives FEWER partitions than
    ``defaultParallelism`` (one small parquet file → one task), which
    otherwise serializes all regexp+hash work on a single core; worse,
    Catalyst's column pruning makes the branches of a multi-consumer
    plan canonicalize differently, so the shingle subtree is recomputed
    per branch (ReusedExchange can never fire) and the single-task
    stall is paid two or three times per query. The partition-count
    probe is driver-side planning only — no job runs."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

# 18,2 holds 100 TB worth of 2-decimal money (10^16 dollars) exactly.
MONEY_DECIMAL = "decimal(18,2)"


def det_round(col: Column, digits: int = 2) -> Column:
    """Deterministic round-half-up on a double column (see module doc)."""
    scale = float(10**digits)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def exact_sum(col: Column, digits: int = 2) -> Column:
    """Deterministic sum of a derived numeric column: det-round to
    ``digits``, cast to DECIMAL (exact, order-independent sum), back to
    double. Mirror: ``queries.exact_sum_sql``."""
    return F.sum(det_round(col, digits).cast(f"decimal(18,{digits})")).cast("double")


def ratio(num: Column, den: Column) -> Column:
    """num/den as double (IEEE division, deterministic given its inputs)."""
    return num.cast("double") / den.cast("double")


def md5_long(col: Column, hex_chars: int = 12) -> Column:
    """First ``hex_chars`` hex digits of md5 as a non-negative long —
    the cross-engine hash primitive (≤48 bits for hex_chars=12, so all
    downstream integer arithmetic stays inside signed-64 in both Spark
    and DuckDB). Mirror: :func:`sql_md5_long`. Used wherever a
    signature must be *recomputable by the SQL oracle* (MinHash/SimHash
    signatures, winnowing k-gram hashes); xxhash64 would be faster but
    is Spark-only, which would leave the approximate-dedup tier
    unauditable (VERDICT.md round 1, "What's missing" #1)."""
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, hex_chars), 16, 10
    ).cast("long")


def sql_md5_long(expr: str, hex_chars: int = 12) -> str:
    """DuckDB mirror of :func:`md5_long` (bit-identical, verified)."""
    return f"CAST(('0x' || substring(md5({expr}), 1, {hex_chars})) AS BIGINT)"
