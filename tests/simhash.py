"""SimHash computed the batch way, as the reference for the pair kernels.

The package fingerprints documents in one Arrow pass
(``simhash_table``) and expands candidate pairs in a kernel
(``expand_fp_pairs``). These helpers are the explode + hash-aggregate
formulation of the same 48-bit fingerprint and the Hamming distance
between two fingerprints, so tests compare the kernels against a
formulation that shares no code with them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from erathia_market_etl_spark.operators.dedup import N_SIMHASH_BITS


def token_hash48(tok: Column) -> Column:
    """48-bit integer hash of a token: first 12 hex chars of md5.
    Engine-portable hex->int: Spark conv(h,16,10), DuckDB '0x'||h cast.
    DuckDB twin: CAST('0x' || substr(md5('sh|'||t), 1, 12) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("sh|"), tok)), 1, N_SIMHASH_BITS // 4), 16, 10
    ).cast("bigint")


def simhash_bit_sums(h: Column, nbits: int = N_SIMHASH_BITS) -> list[Column]:
    """The SimHash accumulator: per bit position j, SUM(±1) over all
    token instances (summing instances, not distinct tokens, gives the
    classic term-frequency weighting). All plain conditional sums ->
    codegen'd hash aggregate with map-side partials.
    DuckDB twin per bit: SUM(2 * ((h >> j) & 1) - 1)."""
    return [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
        for j in range(nbits)
    ]


def simhash_fingerprint(nbits: int = N_SIMHASH_BITS) -> Column:
    """Collapse the per-bit sums b0..b{n-1} into the fingerprint:
    bit j set iff the weighted sum is positive (ties -> 0, both engines).
    DuckDB twin: SUM-of-CASE over the same columns."""
    terms = [
        F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        for j in range(nbits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def hamming48(a: Column, b: Column) -> Column:
    """Hamming distance between fingerprints. Spark xor is ``^`` (via
    bitwiseXOR); DuckDB's ``^`` is exponentiation — its twin is
    bit_count(xor(a, b))."""
    return F.bit_count(a.bitwiseXOR(b))
