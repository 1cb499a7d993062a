"""Engine-portable hashing.

``portable_hash60`` yields the same 60-bit integer in Spark and DuckDB:

- Spark:  ``conv(substring(md5(s), 1, 15), 16, 10)::long``
- DuckDB: ``('0x' || substr(md5(s), 1, 15))::bigint``

15 hex chars = 60 bits < 2^63, so the value fits a signed long with no
overflow ambiguity.  This is the foundation for oracle-checkable minhash /
simhash / LSH operators: both engines can compute identical signatures,
so even the probabilistic dedup family hash-matches exactly.

md5 is ~2-3× slower than xxhash64 but is the only hash both engines share.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def portable_hash60(col: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit hash reproducible in DuckDB (see module doc).

    ``seed`` derives independent hash functions (minhash families) by
    prefixing the input — same trick on the SQL side.
    """
    s = col.cast("string")
    if seed is not None:
        s = F.concat(F.lit(f"{seed}|"), s)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
