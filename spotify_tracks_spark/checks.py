"""Data-quality check runner — the engine's equivalent of dbt schema tests.

The reference declares four ``unique`` + ``not_null`` test pairs
(dbt_spotify/models/marts/_spotify__models.yml:9-11,24-26,48-50,85-87),
executed by ``dbt build``.  ``run_reference_checks`` ports them 1:1.

Each check is one Spark action that collects no data rows: uniqueness via
``count == count_distinct`` and null presence via a conditional count, in
one aggregate per table, and each relationship test as one left-anti join
count.  Under AQE the six actions launch 18 jobs (one per query stage).
They are independent, so ``run_reference_checks`` runs them concurrently.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, functions as F

from .session import run_concurrently


@dataclass(frozen=True)
class CheckResult:
    table: str
    column: str
    check: str
    passed: bool
    detail: str


def check_unique_not_null(df: DataFrame, table: str, column: str) -> list[CheckResult]:
    row = df.agg(
        F.count("*").alias("n"),
        F.count(column).alias("n_nonnull"),
        F.countDistinct(column).alias("n_distinct"),
    ).collect()[0]
    return [
        CheckResult(table, column, "not_null", row.n == row.n_nonnull,
                    f"{row.n - row.n_nonnull} nulls of {row.n}"),
        CheckResult(table, column, "unique", row.n_nonnull == row.n_distinct,
                    f"{row.n_nonnull} non-null vs {row.n_distinct} distinct"),
    ]


def check_relationships(
    child: DataFrame, child_table: str, column: str,
    parent: DataFrame, parent_column: str,
) -> CheckResult:
    """dbt's ``relationships`` schema test (referential integrity):
    every non-null child value must exist in the parent column.  One
    left-anti join against the DISTINCT parent keys — at scale the
    aggregated parent side is the broadcast/bloom-prunable side, and no
    data row reaches the driver."""
    orphans = (
        child.select(F.col(column).alias("k"))
        .filter(F.col("k").isNotNull())
        .join(
            parent.select(F.col(parent_column).alias("k")).distinct(),
            "k",
            "left_anti",
        )
        .count()
    )
    return CheckResult(
        child_table, column, "relationships", orphans == 0,
        f"{orphans} child keys missing from parent.{parent_column}",
    )


# (table, key) pairs from _spotify__models.yml.
REFERENCE_CHECKS = (
    ("dim_album", "album_id"),
    ("dim_artist", "artist_id"),
    ("dim_track", "track_id"),
    ("fct_played_track", "play_id"),
)


def run_reference_checks(models: dict[str, DataFrame]) -> list[CheckResult]:
    """Every reference check, as concurrent actions; the results keep the
    serial order (each ``unique``/``not_null`` pair, then the two
    ``relationships`` tests)."""
    fct = models["fct_played_track"]
    actions = [
        partial(check_unique_not_null, models[table], table, column)
        for table, column in REFERENCE_CHECKS
    ]
    # the two generic dbt test classes the reference doesn't declare but
    # the mart DAG satisfies by construction — run as regression guards
    def relationship(column: str, parent: str) -> list[CheckResult]:
        return [check_relationships(fct, "fct_played_track", column, models[parent], column)]

    actions += [
        partial(relationship, column, parent)
        for column, parent in (("track_id", "dim_track"), ("album_id", "dim_album"))
    ]
    return [r for rs in run_concurrently(fct.sparkSession, actions) for r in rs]
