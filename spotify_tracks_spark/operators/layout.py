"""Data-layout operators — multi-dimensional clustering keys for the
write path.

At 100 TB the dominant cost of most queries is the scan, and the scan
cost is set by LAYOUT: parquet row-group min/max pruning only helps when
rows that are filtered together are stored together.  A single-column
sort clusters one predicate dimension and destroys the other; a Z-order
(Morton) key interleaves the bits of two dimensions so files are
clustered in BOTH — the technique behind Delta/Iceberg ``ZORDER BY``
(public docs; no counterpart in the reference, whose SQLite sink has no
layout control at all).

``events_zorder_key`` computes the Morton key for (user_id, day) — the
two predicate columns of this engine's events surface — entirely with
JVM-side bit arithmetic (no UDF: ``shiftleft``/``shiftright``/``&``
compose inside whole-stage codegen).  The write path is then just
``df.repartitionByRange(n, "zkey").sortWithinPartitions("zkey")`` before
the parquet write; tests/test_round3_ops.py asserts the locality win
(per-file bounding boxes shrink vs a time-sorted layout).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..sources.tables import read_table

ZORDER_BITS = 16


def interleave_bits(a: Column, b: Column, bits: int = ZORDER_BITS) -> Column:
    """Morton-interleave the low ``bits`` bits of two non-negative ints:
    bit i of ``a`` lands at position 2i+1, bit i of ``b`` at 2i.  Pure
    integer expression — 4 ops per bit, all codegen'd.  Inputs are cast
    to long first: ``shiftleft`` on a 32-bit int wraps at bit 31, which
    would corrupt the high half of the key."""
    a, b = a.cast("long"), b.cast("long")
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = (
            out
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return out


def interleave_bits_sql(a: str, b: str, bits: int = ZORDER_BITS) -> str:
    """The identical Morton interleave as ANSI/DuckDB SQL text — generated
    from the same loop so the oracle cannot drift from the Spark plan."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event Morton key over (user_id mod 2^16, days-since-epoch mod
    2^16) — the clustering key a Z-ordered events table would sort by.

    Narrow projection, zero shuffle: the key is computed at scan speed;
    the (separately benched) write path range-partitions by it.  Output:
    (event_id, user_id, day, zkey)."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("day")
    )
    day_idx = F.datediff(F.col("day"), F.to_date(F.lit("1970-01-01"))).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "day",
        interleave_bits(
            F.col("user_id").bitwiseAND(F.lit((1 << ZORDER_BITS) - 1)),
            day_idx.bitwiseAND(F.lit((1 << ZORDER_BITS) - 1)),
        ).alias("zkey"),
    )


TARGET_ROWS_PER_FILE = 1_000_000


def compact_table(
    df: DataFrame,
    out_dir: str,
    target_rows_per_file: int = TARGET_ROWS_PER_FILE,
    sort_col: str | None = None,
) -> int:
    """Small-file compaction — rewrite a table into ⌈rows/target⌉ files,
    optionally range-clustered on ``sort_col`` (e.g. the Z-order key):
    the operational fix for the small-file problem, where a streaming or
    per-batch writer leaves thousands of KB-sized files and every
    downstream scan pays per-file open/footer/task overhead.

    The file count derives from an exact count (one cheap aggregate —
    at 100 TB you'd use table statistics instead; same contract).
    ``repartitionByRange`` + in-partition sort keeps min/max pruning
    effective in the compacted layout; plain ``repartition`` (round
    robin) would destroy it.  Returns the number of files written."""
    n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    if sort_col is not None:
        out = df.repartitionByRange(n_files, F.col(sort_col)).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(out_dir)
    return n_files
