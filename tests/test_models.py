"""Q1–Q8 golden harness (Spark vs DuckDB oracle) + the reference's four
unique/not_null schema tests, at sf0.001 (t1 smoke tier)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from spotify_tracks_spark.checks import run_reference_checks
from spotify_tracks_spark.pipeline import run_models

from .conftest import SF_SMOKE
from .harness import compare

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", [k for k in QUERIES if k.startswith("q")])
def test_query_matches_oracle(spark, name):
    assert name in ORACLES, f"{name} missing oracle"
    ok, msg = compare(QUERIES[name](spark, SF_SMOKE), ORACLES[name], SF_SMOKE)
    assert ok, f"{name}: {msg}"


def test_reference_schema_checks(spark):
    models = run_models(spark, SF_SMOKE)
    for res in run_reference_checks(models):
        assert res.passed, res


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"track_name", "artists", "album", "plays", "minutes_played"} == set(df.columns)


def test_write_models_fact_partition_pruning(spark, tmp_path):
    """write_models lays the fact out date-partitioned; a date filter must
    prune at the source (PartitionFilters), not post-scan."""
    import os

    from pyspark.sql import functions as F

    from spotify_tracks_spark.pipeline import write_models

    out = str(tmp_path / "marts")
    models = run_models(spark, SF_SMOKE)
    counts = write_models(models, out)
    # Observation metrics ride the write job itself (no second scan) and
    # must equal the actual written row counts
    assert set(counts) == set(models)
    for name in ("fct_played_track", "dim_track"):
        assert counts[name] == spark.read.parquet(f"{out}/{name}").count()

    part_dirs = [d for d in os.listdir(f"{out}/fct_played_track") if d.startswith("play_date=")]
    assert len(part_dirs) > 1, "fact not date-partitioned"
    # the write is spread across cores, but each date stays one file
    for d in part_dirs:
        files = [f for f in os.listdir(f"{out}/fct_played_track/{d}") if f.endswith(".parquet")]
        assert len(files) == 1, f"{d}: {files}"

    fct = spark.read.parquet(f"{out}/fct_played_track")
    one_day = sorted(part_dirs)[0].split("=", 1)[1]
    plan = (
        fct.filter(F.col("play_date") == one_day)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "play_date" in plan.split("PartitionFilters", 1)[1][:200]
    # all models round-trip
    for name, df in models.items():
        assert spark.read.parquet(f"{out}/{name}").count() == df.count()


def test_cached_marts_write_one_file_and_leave_session_conf(spark, tmp_path):
    """The marts are cached with AQE free to coalesce them, so each small
    cached model is still written as one file.  That setting is scoped to
    the mart caches: the session's own value is unchanged afterwards."""
    import os

    from spotify_tracks_spark.pipeline import write_models

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    before = spark.conf.get(key)
    # a run_date of its own, so this builds (and caches) a fresh DAG
    models = run_models(spark, SF_SMOKE, run_date="2020-01-01")
    assert spark.conf.get(key) == before
    cached = {n: df for n, df in models.items() if df.is_cached}
    assert set(cached) == set(models) - {"fct_played_track"}
    out = str(tmp_path / "marts")
    write_models(cached, out)
    for name in cached:
        files = [f for f in os.listdir(f"{out}/{name}") if f.endswith(".parquet")]
        assert len(files) == 1, f"{name}: {files}"
    for df in cached.values():
        df.unpersist()


def test_scan_prunes_columns(spark):
    """Projection pruning must reach the parquet scan: the source mapping
    touches 4 of lineitem's 16 columns, and the scan's ReadSchema must
    contain exactly those (a scan reading all columns for a 4-column
    derivation would move ~4x the bytes at 100 TB)."""
    from spotify_tracks_spark.sources.mapping import src_recent_tracks

    plan = src_recent_tracks(spark, SF_SMOKE)._jdf.queryExecution().executedPlan().toString()
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, f"no parquet scan in plan:\n{plan}"
    li = next((s for s in schemas if "l_partkey" in s), None)
    assert li is not None
    read_cols = {c.split(":")[0] for c in li.split(",")}
    assert read_cols == {"l_orderkey", "l_partkey", "l_extendedprice", "l_shipdate"}, read_cols


def test_lineage_closes_over_model_dag(spark):
    """Lineage/exposure metadata stays true: every node resolves, the
    graph covers exactly the built models, and reports feed the declared
    dashboard exposure."""
    from spotify_tracks_spark.metadata import EXPOSURES, LINEAGE, consumers

    models = run_models(spark, SF_SMOKE)
    assert set(LINEAGE) == set(models)
    for name, deps in LINEAGE.items():
        assert all(d in LINEAGE for d in deps), (name, deps)
    for exp in EXPOSURES.values():
        assert all(d in LINEAGE for d in exp["depends_on"])
    cons = consumers()
    # staging is read by every level-2 model; reports terminate in exposures
    assert set(cons["stg_recent_tracks"]) == {
        "dim_track", "dim_artist", "dim_album", "fct_played_track"
    }
    for rpt in ("rpt_track_counts", "rpt_artist_counts", "rpt_discovery_rate"):
        assert "tracks_dashboard" in cons[rpt]


def test_column_docs_match_schemas(spark):
    """Documented columns exist in the built DataFrames; models with full
    docs document every column — docs cannot silently rot."""
    from spotify_tracks_spark.metadata import MODEL_DOCS

    models = run_models(spark, SF_SMOKE)
    assert set(MODEL_DOCS) == set(models)
    for name, doc in MODEL_DOCS.items():
        actual = set(models[name].columns)
        documented = set(doc["columns"])
        assert documented <= actual, (name, documented - actual)
        if documented:  # fully-documented models: no undocumented columns
            assert documented == actual, (name, actual - documented)


def test_docs_site_renders_every_model_and_column():
    """scripts/render_docs.py (the dbt-docs-build equivalent) must emit a
    card per model + exposure and a row per documented column."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("render_docs", "scripts/render_docs.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    html_out = mod.render()

    from spotify_tracks_spark.metadata import EXPOSURES, LINEAGE, MODEL_DOCS

    for name in list(LINEAGE) + list(EXPOSURES):
        assert f'id="{name}"' in html_out, name
    for doc in MODEL_DOCS.values():
        for col in doc.get("columns", {}):
            assert f"<code>{col}</code>" in html_out, col


def test_generic_checks_fire_on_planted_violations(spark):
    """relationships must actually detect violations (not just pass
    vacuously on the healthy marts)."""
    from spotify_tracks_spark.checks import check_relationships

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("zz", 3)], "status string, k int"
    )
    parent = spark.createDataFrame([(1,), (2,)], "k int")
    good = check_relationships(df.select("k").filter("k <= 2"), "t", "k", parent, "k")
    assert good.passed
    orphan = check_relationships(df, "t", "k", parent, "k")
    assert not orphan.passed and "1 child keys" in orphan.detail


def _compiles(spark) -> int:
    """Whole-stage and expression classes Janino has compiled in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_rebuild_reuses_compiled_classes(spark, tmp_path):
    """A rebuild of an unchanged DAG generates the same code as the one
    before it, so once the codegen cache holds the whole DAG a repeat
    compiles (next to) nothing.  Each round starts from released caches,
    as a benchmark rebuild does."""
    from spotify_tracks_spark.functions import memo
    from spotify_tracks_spark.pipeline import write_models
    from spotify_tracks_spark.sinks.publish import publish_models

    added, sent = [], []
    for i in range(3):
        memo.clear()
        spark.catalog.clearCache()
        before = _compiles(spark)
        models = run_models(spark, SF_SMOKE)
        write_models(models, str(tmp_path / f"marts_{i}"))
        assert all(r.passed for r in run_reference_checks(models))
        marts = {k: v for k, v in models.items() if k.startswith(("dim_", "rpt_"))}
        sent.append(publish_models(marts, str(tmp_path / f"publish_{i}.db")))
        added.append(_compiles(spark) - before)
    memo.clear()
    assert sent[0] == sent[1] == sent[2]
    assert added[2] <= 10, f"classes compiled per rebuild: {added}"


def _serial_checks(models):
    from spotify_tracks_spark.checks import (
        REFERENCE_CHECKS, check_relationships, check_unique_not_null,
    )

    results = []
    for table, column in REFERENCE_CHECKS:
        results.extend(check_unique_not_null(models[table], table, column))
    for column, parent in (("track_id", "dim_track"), ("album_id", "dim_album")):
        results.append(check_relationships(
            models["fct_played_track"], "fct_played_track", column, models[parent], column,
        ))
    return results


def test_concurrent_checks_keep_group_order_and_failures(spark):
    """The checks run on a driver thread pool: their jobs stay in the
    caller's job group, the results keep the serial order, planted
    violations fail and a failing check's exception reaches the caller."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    models = run_models(spark, SF_SMOKE)
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("concurrent-checks", "run_reference_checks")
    try:
        results = run_reference_checks(models)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("concurrent-checks")) >= 6
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    assert results == _serial_checks(models)

    dt, dal = models["dim_track"], models["dim_album"]
    planted = {
        **models,
        "dim_track": dt.unionByName(dt.limit(1)),
        "dim_album": dal.unionByName(
            dal.limit(1).withColumn("album_id", F.lit(None).cast("string"))
        ),
    }
    got = {(r.table, r.column, r.check): r.passed for r in run_reference_checks(planted)}
    assert got[("dim_track", "track_id", "unique")] is False
    assert got[("dim_album", "album_id", "not_null")] is False
    assert sum(not ok for ok in got.values()) == 2, got

    broken = {**models, "dim_artist": models["dim_artist"].drop("artist_id")}
    with pytest.raises(AnalysisException):
        run_reference_checks(broken)
