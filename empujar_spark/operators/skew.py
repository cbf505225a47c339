"""Skew-mitigation helpers: salting for hot keys.

AQE's skew-join splitting (on by default in session.py) handles most
cases at runtime; these explicit helpers cover the patterns AQE can't —
skewed AGGREGATIONS (two-phase salted aggregate) and broadcast-infeasible
joins against a skewed fact side (replicated-dimension salted join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(df: DataFrame, key: str, salt: int = 16) -> DataFrame:
    """Two-phase count per key: pre-aggregate on (key, salt) — spreading a
    hot key over ``salt`` reducers — then merge the partials. Identical
    result to ``groupBy(key).count()``; the hot key's work parallelizes."""
    partial = (
        df.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__partial"))
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias("n"))


def salted_agg(df: DataFrame, key: str, agg_col: str, salt: int = 16) -> DataFrame:
    """Two-phase sum per key (decimal-exact): same shape as salted_count."""
    # decimal(38,6): the hot-key workloads this helper exists for carry
    # large counters — an 18-digit cast overflows (ANSI job abort) at
    # values >= 10^12 that a plain sum would handle fine
    partial = (
        df.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
        .groupBy(key, "__salt")
        .agg(F.sum(F.col(agg_col).cast("decimal(38,6)")).alias("__partial"))
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias("total"))


def salted_distinct_count(
    df: DataFrame, key: str, val: str, salt: int = 16
) -> DataFrame:
    """Two-phase COUNT(DISTINCT val) per key, exact: partition the VALUE
    space by hash — distinct sets in different value-buckets are disjoint,
    so per-bucket distinct counts SUM to the true distinct count (unlike
    data-random salting, which double-counts values straddling salts).
    Plain single ``count_distinct`` exchanges on KEY alone (plan-verified:
    partial dedup on (key, val) per task, then every surviving distinct
    value of a key routes to one reducer); a hot key therefore serializes
    its whole distinct set on one core. Here that work is ``salt``-way
    parallel and the final merge input is pre-counted partials. Crossover
    note (retired skew stress harness, in git history): at 20M rows the
    one-reducer funnel is still cheaper than this operator's extra
    shuffle — reach for it when the hot key's distinct set, not the
    batch, is the scale problem."""
    partial = (
        df.withColumn("__vb", F.pmod(F.xxhash64(F.col(val)), F.lit(salt)))
        .groupBy(key, "__vb")
        .agg(F.count_distinct(F.col(val)).alias("__partial"))
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias("n_distinct"))


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, salt: int = 8
) -> DataFrame:
    """Skewed equi-join without broadcast: salt the fact side's key and
    replicate each dimension row ``salt`` times so every (key, salt) bucket
    co-locates. Trades ``salt``× dimension replication for even task sizes
    — the classic salting plan when the dimension is too big to broadcast
    and one fact key dominates."""
    f = fact.withColumn("__salt", (F.rand(seed=0) * salt).cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return f.join(d, [key, "__salt"]).drop("__salt")
