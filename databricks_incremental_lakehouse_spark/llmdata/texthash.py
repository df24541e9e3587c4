"""Engine-portable text hashing and tokenization primitives.

Hashing must produce *identical* values in Spark and the DuckDB oracle, so
the conventional engine-native hashes (Spark murmur3/xxhash64, DuckDB hash)
are out. The portable 60-bit hash used across dedup/similarity operators:

    spark : conv(substr(md5(s), 1, 15), 16, 10) :: long
    duckdb: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)

(15 hex chars = 60 bits, fits signed 64-bit in both engines.) Independent
hash families are derived by seed-prefixing the input (md5('<i>#' || s)) —
the textbook construction, portable because it needs no 64-bit modular
arithmetic (which would overflow-wrap in Spark but error in DuckDB).

Scale note: md5 costs ~3x xxhash64, and every operator here only requires
*a* stable hash family, not md5 specifically. Production deployments that
do not need the DuckDB oracle call :func:`set_fast_hash`: ``hash60`` then
evaluates as
``pmod(xxhash64(s), 2^60)`` — same [0, 2^60) domain, same seed-prefix
family construction, identical plan shapes — and the registered oracles
become invalid by design (the driver contract always runs portable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FAST_HASH = False


def set_fast_hash(enabled: bool) -> None:
    """Flip the hash family at runtime (tests / long-lived sessions).
    Queries built AFTER the call use the new family; the portable and fast
    families never mix inside one built plan because every hash in a plan
    evaluates this flag at plan-construction time."""
    global FAST_HASH
    FAST_HASH = enabled

# Tokenization: lowercase, split on whitespace runs. Both engines treat
# '\s+' identically on this corpus (plain space-separated words).
TOKENIZE_SQL = "regexp_split_to_array(trim(lower({c})), '\\s+')"


def tokenize(c: Column) -> Column:
    return F.split(F.trim(F.lower(c)), r"\s+")


def hash60(c: Column) -> Column:
    """60-bit hash of a string column — portable md5 form by default,
    ``xxhash64`` folded to the same domain under ``FAST_HASH``."""
    if FAST_HASH:
        return F.pmod(F.xxhash64(c), F.lit(1 << 60)).cast("long")
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def seeded_hash60(c: Column, seed: int) -> Column:
    """Seed-prefixed portable hash (independent family member ``seed``)."""
    return hash60(F.concat(F.lit(f"{seed}#"), c))


def seeded_hash60_sql(expr: str, seed_expr: str) -> str:
    return hash60_sql(f"concat(CAST({seed_expr} AS VARCHAR), '#', {expr})")
