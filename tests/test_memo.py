"""The session cache (``functions/memo.py``) serves an artifact only while
the dataset under it is unchanged: a repeat call on the same input returns
the identical object without a Spark job, and a replaced input file
rebuilds instead of serving the old result."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from spotify_tracks_spark.functions import memo
from tests.conftest import SF_SMOKE


def _copy_fixture(dst) -> str:
    os.makedirs(dst)
    for name in os.listdir(SF_SMOKE):
        shutil.copyfile(os.path.join(SF_SMOKE, name), os.path.join(dst, name))
    return str(dst)


def _shrink_lineitem(sf: str) -> None:
    """Overwrite lineitem with its first quarter."""
    path = f"{sf}/lineitem.parquet"
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 4), path)


def _jobless(spark, fn):
    """``fn()``'s result, asserting it scheduled no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("memo-hit", "repeat call on an unchanged input")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("memo-hit") == []
    return out


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_models_rebuilds_when_input_changes(spark, tmp_path):
    from spotify_tracks_spark.pipeline import run_models

    sf = _copy_fixture(tmp_path / "sf")
    memo.clear()
    try:
        models = run_models(spark, sf)
        before = _persisted_rdds(spark)
        for df in models.values():
            df.count()  # fill every mart cache
        old_rdds = _persisted_rdds(spark) - before
        assert old_rdds
        n_full = models["stg_recent_tracks"].count()
        assert _jobless(spark, lambda: run_models(spark, sf)) is models

        _shrink_lineitem(sf)
        rebuilt = run_models(spark, sf)
        assert rebuilt is not models
        for df in rebuilt.values():
            df.count()
        # the stale marts were released, not left cached beside the new ones
        after = _persisted_rdds(spark)
        assert not old_rdds & after
        assert len(after - before) <= len(old_rdds)
        n_small = rebuilt["stg_recent_tracks"].count()
        assert 0 < n_small < n_full
        # the reference: the same input under a path no cache has seen
        fresh = _copy_fixture(tmp_path / "fresh")
        shutil.copyfile(f"{sf}/lineitem.parquet", f"{fresh}/lineitem.parquet")
        assert n_small == run_models(spark, fresh)["stg_recent_tracks"].count()
    finally:
        memo.clear()


def test_operator_artifact_rebuilds_when_input_changes(spark, tmp_path):
    from spotify_tracks_spark.operators.graph import (
        _copurchase_edges_join_form,
        copurchase_edges,
    )

    sf = _copy_fixture(tmp_path / "sf")
    memo.clear()
    try:
        edges = copurchase_edges(spark, sf)
        n_full = edges.count()
        assert _jobless(spark, lambda: copurchase_edges(spark, sf)) is edges

        _shrink_lineitem(sf)
        rebuilt = copurchase_edges(spark, sf)
        assert rebuilt is not edges
        n_small = rebuilt.count()
        assert 0 < n_small < n_full
        assert n_small == _copurchase_edges_join_form(spark, sf).count()
        assert _jobless(spark, lambda: copurchase_edges(spark, sf)) is rebuilt

        # another session never reads this session's entry, and its insert
        # releases the old session's entries
        other = spark.newSession()
        assert copurchase_edges(other, sf) is not rebuilt
        assert {e.spark for e in memo._ENTRIES.values()} == {other}
    finally:
        memo.clear()
