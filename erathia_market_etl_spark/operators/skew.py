"""Skew-mitigation operators: salted joins and two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime by splitting oversized shuffle partitions; these utilities cover
the cases AQE can't: a sort-merge/shuffled-hash join where ONE key holds
a double-digit percentage of the rows (AQE splits the partition, but
every split still collides on the same reducer-side key when the build
side must be replicated), and a group-by whose hot key overwhelms a
single reducer before partial aggregation can help (e.g. high-cardinality
payloads per group like collect_list).

The pattern is the textbook one: append a random salt in [0, n) to the
skewed (large) side, replicate the small side n times with every salt
value, join/aggregate on (key, salt), then merge. Correctness is
invariant to the salt (tests assert equality with the unsalted plan);
the salt only spreads one key's rows over n reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(
    df: DataFrame, n_salts: int, seed: int = 17,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Per-row salt in [0, n_salts).

    ``salt_from=[cols]`` (preferred): deterministic salt from a hash of
    the named per-row-distinguishing columns (e.g. the row's unique
    id) — reproducible under ANY partition layout and admissible in
    registered plans (scale-lint rule R4 bans rand()); spreads a hot
    key's rows uniformly as long as the hashed columns vary per row.

    Without ``salt_from``: uniform random salt, deterministic only
    given the seed AND the row partitioning (F.rand is
    per-partition seeded) — fine for ad-hoc use since every downstream
    salted op is salt-invariant, so the nondeterminism never reaches
    query output."""
    if salt_from:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in salt_from]), F.lit(n_salts)
        ).cast("int")
    else:
        salt = F.floor(F.rand(seed) * n_salts).cast("int")
    return df.withColumn(SALT_COL, salt)


def replicate_salts(df: DataFrame, n_salts: int) -> DataFrame:
    """Cross the small side with every salt value: n_salts copies."""
    return df.withColumn(
        SALT_COL, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Equi-join where ``large`` is skewed on the join key and ``small``
    is too big to broadcast: salt the large side, replicate the small
    side n_salts times, join on key+salt. The shuffle for the hot key
    now lands on n_salts reducers instead of one. Cost: small side
    shuffles n_salts x its size — use only when broadcast is impossible
    and AQE skew-split isn't enough."""
    left = with_salt(large, n_salts, salt_from=salt_from)
    right = replicate_salts(small, n_salts)
    return left.join(right, [*on, SALT_COL], how).drop(SALT_COL)


def salted_sum(
    df: DataFrame,
    keys: list[str],
    value_cols: list[str],
    n_salts: int = 8,
    salt_from: list[str] | None = None,
) -> DataFrame:
    """Two-phase skewed aggregation: groupBy(key, salt) partial sums ->
    groupBy(key) final sums. Each phase's shuffle spreads the hot key
    over n_salts partitions; the second shuffle carries at most
    n_salts rows per key. (For plain sums Spark's map-side partial
    aggregation usually suffices — this is for when the partial map is
    itself overwhelmed, e.g. after an explode.) Sums are exact for
    integer/decimal inputs (associative), so results are bit-identical
    to the unsalted plan — the salt-invariance contract the driver
    query pins."""
    partial = (
        with_salt(df, n_salts, salt_from=salt_from)
        .groupBy(*keys, SALT_COL)
        .agg(*[F.sum(c).alias(c) for c in value_cols], F.count(F.lit(1)).alias("__n"))
    )
    return (
        partial.groupBy(*keys)
        .agg(
            *[F.sum(c).alias(f"sum_{c}") for c in value_cols],
            F.sum("__n").alias("n_rows"),
        )
    )
