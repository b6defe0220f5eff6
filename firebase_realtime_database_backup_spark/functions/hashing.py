"""Overflow-safe deterministic hashing shared by the sampling family.

The engine's deterministic sampling/splitting ops (train/test split,
weighted source mixing, temperature-scaled sampling, language
rebalancing, stratified shuffling) all derive their keep/drop decision
from the Knuth multiplicative hash ``(id * 2654435761) % 2^31``.  The
NAIVE form overflows a 64-bit integer once ``id ≥ ~3.5e9``
(2^63 / 2654435761): Spark wraps silently while DuckDB raises — a
silent cross-engine divergence exactly at real 100 TB id scales.

The safe form reduces the id mod 2^31 BEFORE the multiply, so the
intermediate is at most ``(2^31 - 1) * 2654435761 ≈ 5.7e18 < 2^63 - 1``
for ANY 64-bit id.  For ids already below 2^31 the pre-reduction is the
identity, so the safe form is BIT-IDENTICAL to the naive one on every
test corpus — swapping it in changes nothing the oracles can see, only
removes the 100 TB cliff.  (This is the same form
``ingest_schema_inference_sampled`` has used since round 3 —
sources/ingest.py — now shared instead of re-derived per site.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Knuth's multiplicative constant (2^32 / phi, public domain folklore).
KNUTH = 2654435761
#: Hash range: 2^31, so the pre-multiply reduction keeps the product
#: within BIGINT for any 64-bit input.
M31 = 2147483648


def knuth_bucket(col: Column, buckets: int) -> Column:
    """Deterministic bucket in ``[0, buckets)`` of a 64-bit id column.

    ``pmod`` both times so negative ids (never produced by the test
    tables, but legal in a real id space) land in range instead of
    going negative."""
    key = F.pmod(col.cast("long"), F.lit(M31))
    return F.pmod(key * F.lit(KNUTH), F.lit(M31)).cast("bigint") % buckets


def knuth_hash(col: Column) -> Column:
    """The raw 31-bit hash value (for ORDER BY shuffling, not bucketing)."""
    key = F.pmod(col.cast("long"), F.lit(M31))
    return F.pmod(key * F.lit(KNUTH), F.lit(M31)).cast("bigint")


def knuth_bucket_sql(expr: str, buckets: int) -> str:
    """DuckDB fragment computing exactly :func:`knuth_bucket`.

    Assumes a non-negative id expression (true of every driver table);
    DuckDB ``%`` is then identical to Spark ``pmod``."""
    return (
        f"CAST(((CAST({expr} AS BIGINT) % {M31}) * {KNUTH}) % {M31} AS BIGINT)"
        f" % {buckets}"
    )


def knuth_hash_sql(expr: str) -> str:
    """DuckDB fragment computing exactly :func:`knuth_hash`."""
    return f"CAST(((CAST({expr} AS BIGINT) % {M31}) * {KNUTH}) % {M31} AS BIGINT)"


#: Suffix length for the cross-engine STRING bucket: 8 tail characters
#: give 31^8 ≈ 8.5e11 distinct keys before the Knuth mix — plenty for
#: sampling; the TAIL because generated/serial names (Customer#000...x)
#: share long constant prefixes and vary at the end.
_STR_TAIL = 8


def string_bucket(col: Column, buckets: int) -> Column:
    """Deterministic bucket in ``[0, buckets)`` of a STRING column,
    bit-identical between Spark and DuckDB (:func:`string_bucket_sql`).

    Neither engine's native string hash matches the other's
    (xxhash64 vs duckdb hash), so sampling by name needs a shared
    formula: a base-31 polynomial over the last ``_STR_TAIL``
    characters' code points, then the same Knuth multiplicative mix as
    :func:`knuth_bucket`.  Guarded per position with CASE (not bare
    substring) because the engines disagree on substring semantics at
    position <= 0."""
    key = F.lit(0).cast("long")
    for i in range(_STR_TAIL):
        c = F.when(
            F.length(col) > i,
            F.ascii(F.substring(col, F.length(col) - F.lit(i), F.lit(1))),
        ).otherwise(F.lit(0))
        key = key * 31 + c.cast("long")
    key = F.pmod(key, F.lit(M31))
    return F.pmod(key * F.lit(KNUTH), F.lit(M31)).cast("bigint") % buckets


def string_bucket_sql(expr: str, buckets: int) -> str:
    """DuckDB fragment computing exactly :func:`string_bucket`."""
    key = "CAST(0 AS BIGINT)"
    for i in range(_STR_TAIL):
        c = (
            f"CASE WHEN LENGTH({expr}) > {i} THEN "
            f"ASCII(SUBSTRING({expr}, LENGTH({expr}) - {i}, 1)) "
            f"ELSE 0 END"
        )
        key = f"(({key}) * 31 + CAST({c} AS BIGINT))"
    return f"CAST(((({key}) % {M31}) * {KNUTH}) % {M31} AS BIGINT) % {buckets}"
