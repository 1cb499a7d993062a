"""The snapshot-fold drain (``streaming/incremental.py::_drain_fold``) on
a planted source: every incremental mart and streaming sketch runs
through it, so its contract is pinned here at tier-1 scale."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F


def test_drain_fold_equals_batch_and_replays_without_leaks(spark, tmp_path):
    """48 planted rows over 12 keys, sliced into 4 one-file micro-batches.
    The drained per-key counts equal the batch groupBy; a second call on
    the completed ``base`` folds nothing new (no new ``state_b*``) and
    returns the same rows; neither call leaves a persisted RDD behind."""
    from spotify_tracks_spark.streaming.incremental import _drain_fold

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i % 12, i) for i in range(48)], "key long, v long"
    ).write.parquet(f"{sf_dir}/planted.parquet")
    base = str(tmp_path / "fold")

    def persisted() -> set[int]:
        # ids, not a count: ContextCleaner may free an earlier test's
        # checkpoint mid-test, which a count would mistake for the fold's
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def drain():
        return _drain_fold(
            spark,
            sf_dir,
            "planted",
            lambda s, d: s.read.parquet(f"{d}/planted.parquet"),
            lambda df: df.groupBy("key").agg(F.count("*").alias("n")),
            lambda u: u.groupBy("key").agg(F.sum("n").alias("n")),
            base,
            n_slices=4,
            files_per_batch=1,
            prefix="drain_test_",
        )

    before = persisted()
    got = sorted(map(tuple, drain().collect()))
    assert not persisted() - before
    assert got == [(k, 4) for k in range(12)]
    snaps = sorted(glob.glob(f"{base}/state_b*"))
    assert len(snaps) > 1, "the fold should span several micro-batches"

    again = sorted(map(tuple, drain().collect()))
    assert not persisted() - before
    assert again == got
    assert sorted(glob.glob(f"{base}/state_b*")) == snaps


def test_drain_fold_reslices_a_changed_input(spark, tmp_path):
    """With no ``base``, the fold reuses the source slices cached per
    session and input.  Overwriting the input with half its rows must
    re-slice it: the counts follow the new file, and the replaced slice
    dir is deleted."""
    import os
    import shutil

    from spotify_tracks_spark.streaming import incremental

    sf_dir = str(tmp_path)
    rows = [(i % 12, i) for i in range(48)]

    def plant(rows):
        spark.createDataFrame(rows, "key long, v long").write.mode(
            "overwrite"
        ).parquet(f"{sf_dir}/planted.parquet")

    def drain():
        return sorted(map(tuple, incremental._drain_fold(
            spark,
            sf_dir,
            "planted",
            lambda s, d: s.read.parquet(f"{d}/planted.parquet"),
            lambda df: df.groupBy("key").agg(F.count("*").alias("n")),
            lambda u: u.groupBy("key").agg(F.sum("n").alias("n")),
            n_slices=4,
            files_per_batch=1,
            prefix="drain_test_",
        ).collect()))

    def slice_dirs():
        return [
            os.path.dirname(p)
            for k, p in incremental._SRC_CACHE.items()
            if k[:3] == ("planted", id(spark), sf_dir)
        ]

    plant(rows)
    assert drain() == [(k, 4) for k in range(12)]
    [first] = slice_dirs()

    plant(rows[:24])
    assert drain() == [(k, 2) for k in range(12)]
    assert not os.path.exists(first), "the replaced slices must be deleted"
    [second] = slice_dirs()
    assert second != first
    shutil.rmtree(second)


def test_memory_drains_leave_nothing_behind(spark, tmp_path, monkeypatch):
    """A memory-sink drain returns its rows and removes what it made: no
    checkpoint dir under the temp root, no sink view in the catalog, no
    query left running.  Covers an append-mode and a complete-mode drain."""
    import os
    import tempfile

    from spotify_tracks_spark.streaming import (
        stream_events_enrich,
        stream_events_windowed,
    )

    from .conftest import SF_SMOKE

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    before = {t.name for t in spark.catalog.listTables()}
    for drain in (stream_events_windowed, stream_events_enrich):
        assert drain(spark, SF_SMOKE).count() > 0
    assert os.listdir(tmp_path) == []
    assert {t.name for t in spark.catalog.listTables()} == before
    assert spark.streams.active == []
