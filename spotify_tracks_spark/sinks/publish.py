"""Publish sinks — the engine's version of the reference's publish flow
(`flows/dbt_build_and_load_turso.py`): marts are copied into an embedded
SQLite file (cross-DB copy, :48-80), serialized to a SQL dump (:83-111),
and shipped as HTTP pipeline payloads with per-table concurrency
(:114-161).

Spark-first shape: everything here is a *sink* stage — no relational
semantics.  At 100 TB marts are small aggregates by construction (the
dims and reports are bounded by entity counts, not fact rows), so each
mart leaves the cluster in ONE Arrow collect (``DataFrame.toArrow``: one
job per mart, not one per partition), and a driver-side publish of
*marts* stays cheap even when facts do not.  The marts
``pipeline.run_models`` returns are cached, so the collect reads the
result the model writes materialized instead of re-running the DAG.
Timestamps are rendered in the session time zone, never the driver
process's ``TZ``.  The HTTP transport is injectable so tests and offline
runs exercise the full payload path without a network.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime
from zoneinfo import ZoneInfo

import pyarrow as pa
from pyspark.sql import DataFrame

_SQLITE_TYPES = {
    "string": "TEXT",
    "date": "TEXT",
    "timestamp": "TEXT",
    "timestamp_ntz": "TEXT",
    "tinyint": "INTEGER",
    "smallint": "INTEGER",
    "int": "INTEGER",
    "bigint": "INTEGER",
    "float": "REAL",
    "double": "REAL",
    "boolean": "INTEGER",
}


def _sqlite_type(spark_type: str) -> str:
    return _SQLITE_TYPES.get(spark_type, "TEXT")


def _to_py(v: object, tz: ZoneInfo) -> object:
    # sqlite has no date/timestamp affinity; ISO text matches what the
    # reference's sqlite dump carries.  Arrow hands zoned timestamps over
    # as UTC; render them as wall time in the session zone.
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(tz).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    return v


def _column(col: pa.ChunkedArray, tz: ZoneInfo) -> list:
    values = col.to_pylist()
    if pa.types.is_timestamp(col.type) or pa.types.is_date(col.type):
        return [_to_py(v, tz) for v in values]
    return values


def copy_to_sqlite(models: dict[str, DataFrame], db_path: str) -> None:
    """Cross-DB copy: DROP + CREATE + INSERT each mart into a SQLite file
    (mirrors ATTACH/CTAS at dbt_build_and_load_turso.py:53-79).  Each mart
    is collected with one ``toArrow`` call, so it must fit in driver
    memory — true of the entity-bounded marts this sink publishes."""
    conn = sqlite3.connect(db_path)
    try:
        for name, df in models.items():
            cols = ", ".join(
                f'"{f.name}" {_sqlite_type(f.dataType.simpleString())}'
                for f in df.schema.fields
            )
            conn.execute(f'DROP TABLE IF EXISTS "{name}"')
            conn.execute(f'CREATE TABLE "{name}" ({cols})')
            placeholders = ", ".join("?" * len(df.columns))
            tz = ZoneInfo(df.sparkSession.conf.get("spark.sql.session.timeZone"))
            table = df.toArrow()
            conn.executemany(
                f'INSERT INTO "{name}" VALUES ({placeholders})',
                zip(*(_column(c, tz) for c in table.columns)),
            )
        conn.commit()
    finally:
        conn.close()


def sql_dump(db_path: str) -> tuple[list[str], list[str]]:
    """``iterdump`` the SQLite file and partition statements into
    (create_statements, insert_statements) — mirrors read_ddl at
    dbt_build_and_load_turso.py:100-111."""
    conn = sqlite3.connect(db_path)
    try:
        creates: list[str] = []
        inserts: list[str] = []
        for stmt in conn.iterdump():
            if stmt.startswith("CREATE"):
                creates.append(stmt)
            elif stmt.startswith("INSERT"):
                inserts.append(stmt)
        return creates, inserts
    finally:
        conn.close()


def http_batch_payloads(
    statements: Iterable[str], batch_size: int = 500
) -> list[dict]:
    """Turso-pipeline-shaped payloads: ``{"requests": [{"type": "execute",
    "stmt": ...} ..., {"type": "close"}]}`` (dbt_build_and_load_turso.py:
    118-128), batched so no single POST carries an unbounded body."""
    payloads: list[dict] = []
    batch: list[dict] = []
    for stmt in statements:
        batch.append({"type": "execute", "stmt": {"sql": stmt}})
        if len(batch) >= batch_size:
            payloads.append({"requests": [*batch, {"type": "close"}]})
            batch = []
    if batch:
        payloads.append({"requests": [*batch, {"type": "close"}]})
    return payloads


def publish_models(
    models: dict[str, DataFrame],
    db_path: str,
    post: Callable[[dict], None] | None = None,
    batch_size: int = 500,
    max_workers: int = 4,
) -> dict[str, int]:
    """Full publish pipeline: copy marts → dump SQL → POST payloads.

    Drop/create statements go first and serially (schema before data),
    then per-table insert payloads are submitted concurrently (mirrors
    the reference's per-table futures, :150-159).  ``post`` is the HTTP
    transport; ``None`` builds and counts payloads without sending —
    the offline/test mode for this container.  Returns payload counts
    per table.
    """
    copy_to_sqlite(models, db_path)
    creates, inserts = sql_dump(db_path)

    sent: dict[str, int] = {}
    schema_payloads = http_batch_payloads(
        [f'DROP TABLE IF EXISTS "{t}"' for t in models] + creates, batch_size
    )
    for p in schema_payloads:
        if post is not None:
            post(p)
    sent["_schema"] = len(schema_payloads)

    def table_of(stmt: str) -> str | None:
        for t in models:
            if f'"{t}"' in stmt.split("(", 1)[0]:
                return t
        return None

    per_table: dict[str, list[str]] = {t: [] for t in models}
    for stmt in inserts:
        t = table_of(stmt)
        if t is not None:
            per_table[t].append(stmt)

    def ship(t: str) -> int:
        payloads = http_batch_payloads(per_table[t], batch_size)
        for p in payloads:
            if post is not None:
                post(p)
        return len(payloads)

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        for t, n in zip(per_table, ex.map(ship, per_table)):
            sent[t] = n
    return sent


def publish_roundtrip(spark, sf_dir: str) -> DataFrame:
    """End-to-end sink proof, oracle-checkable: publish ``rpt_artist_counts``
    through the full pipeline (sqlite copy → dump → payloads) and read the
    sqlite table back as a DataFrame.  Hash-matching the Q7 oracle shows the
    sink is lossless for every mart type (TEXT/INTEGER/REAL)."""
    import tempfile

    from pyspark.sql import types as T

    from ..pipeline import run_models

    mart = run_models(spark, sf_dir)["rpt_artist_counts"]
    with tempfile.TemporaryDirectory(prefix="publish_") as tmp:
        db_path = f"{tmp}/publish.db"
        counts = publish_models({"rpt_artist_counts": mart}, db_path)
        assert counts["rpt_artist_counts"] >= 1

        conn = sqlite3.connect(db_path)
        try:
            rows = conn.execute(
                'SELECT artists, plays, minutes_played FROM "rpt_artist_counts"'
            ).fetchall()
        finally:
            conn.close()
    schema = T.StructType(
        [
            T.StructField("artists", T.StringType()),
            T.StructField("plays", T.LongType()),
            T.StructField("minutes_played", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema)
