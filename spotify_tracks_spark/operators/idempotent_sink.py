"""Conflict-ignoring append — the reference's ``INSERT ... ON CONFLICT DO
NOTHING`` (flows/pull_recent_tracks.py:208-231) as a Spark operator.

Spark has no built-in conflict-ignoring append (SURVEY.md §2.2), so
``append_if_absent`` returns the rows of a batch to append and the caller
appends them.  One exchange does it: the sink's key tuples, tagged to
sort first, are unioned with the incoming rows and ranked by one
``row_number`` window per key.  A key the sink already holds ranks a sink
row first, so the incoming row is dropped; otherwise the batch's
deterministic winner (min over the remaining columns, compared as
coalesced strings) survives, mirroring the first-writer-wins of
sequential INSERTs.  A key with a NULL component never matches the sink
(SQL equality, as with a unique constraint), but such rows still collapse
within the batch.

Scale: the window is the plan's only exchange; it shuffles the batch plus
every key the sink holds, so a large sink still costs a full key scan.
On Delta-capable clusters the equivalent is ``MERGE WHEN NOT MATCHED
THEN INSERT`` — this operator is the storage-agnostic fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_SRC = "__src"  # 0 = a key the sink holds, 1 = an incoming row
_RN = "__rn"


def append_if_absent(existing: DataFrame, incoming: DataFrame, key_cols: list[str]) -> DataFrame:
    """Rows of ``incoming`` whose key is not already in ``existing``, one
    per key, in ``incoming``'s column order.  Caller unions/appends them."""
    held = existing.select(*key_cols).dropna().withColumn(_SRC, F.lit(0))
    other = [c for c in incoming.columns if c not in key_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        _SRC, *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in other]
    )
    return (
        incoming.withColumn(_SRC, F.lit(1))
        .unionByName(held, allowMissingColumns=True)
        .withColumn(_RN, F.row_number().over(w))
        .filter((F.col(_RN) == 1) & (F.col(_SRC) == 1))
        .select(*incoming.columns)
    )


def idempotent_union(existing: DataFrame, incoming: DataFrame, key_cols: list[str]) -> DataFrame:
    """The post-append table: existing ∪ (incoming \\ existing-keys)."""
    return existing.unionByName(append_if_absent(existing, incoming, key_cols))
