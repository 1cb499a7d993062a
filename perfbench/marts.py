"""The paper's transform + publish path, two ways, over a ``gen_sf`` play log.

``Marts.rebuild`` (the ``marts`` workload's job): ``pipeline.run_models`` →
cached staging materialized → ``pipeline.write_models`` one model at a
time → ``checks.run_reference_checks`` → ``sinks.publish.publish_models``
over the dims and reports, with an in-process counting transport.

``Marts.refresh`` (the ``refresh`` workload's job, and the extra pass of a
traced ``marts`` run): the four marts through
the streaming folds (``streaming.incremental.stream_*_incremental``),
each checked against its batch twin.  The folds reuse the source slices
the engine caches per session in ``streaming.incremental._SRC_CACHE``:
slicing is fixture prep, paid once in the warm-up (so it is inside
``setup_s``) and not in the refresh time.  Each fold still starts from a
fresh state and checkpoint dir.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
from collections import Counter

from common import Recorder, reset_engine_caches, row_key

# gen_sf scale for the play log: 180 plays over ~170 play dates, so the
# date-partitioned fact write is ~170 files (the write dominates a rebuild)
MARTS_SF = 0.00003
# reports keep plays dated on or after RUN_DATE - 30 days (no upper bound);
# a seed whose log has none would make two marts empty, so the generator
# seed steps to the next one that has at least this many
MIN_WINDOW_PLAYS = 2

REFRESH = (
    ("dim_track", "stream_dim_track_incremental"),
    ("rpt_track_counts", "stream_rpt_track_counts_incremental"),
    ("rpt_artist_counts", "stream_rpt_artist_counts_incremental"),
    ("rpt_discovery_rate", "stream_rpt_discovery_rate_incremental"),
)
PUBLISHED = (
    "dim_track", "dim_artist", "dim_album",
    "rpt_track_counts", "rpt_artist_counts", "rpt_discovery_rate",
)


def generate(root: str, seed: int) -> tuple[str, int]:
    """Write the play log with ``gen_sf``; returns (sf_dir, generator seed)."""
    import numpy as np
    import pyarrow.parquet as pq
    from gen_testdata import gen_sf
    from spotify_tracks_spark.config import RUN_DATE

    lo = np.datetime64(RUN_DATE) - np.timedelta64(30, "D")
    gen_seed = seed
    while True:
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf(root, MARTS_SF, gen_seed)
        sf_dir = os.path.join(root, f"sf{MARTS_SF:g}")
        ship = pq.read_table(f"{sf_dir}/lineitem.parquet").column("l_shipdate")
        days = ship.to_numpy().astype("datetime64[D]")
        if int((days >= lo).sum()) >= MIN_WINDOW_PLAYS:
            return sf_dir, gen_seed
        gen_seed += 1_000_003


def _dir_stats(path: str) -> tuple[int, int]:
    files = nbytes = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, n))
    return files, nbytes


class Marts:
    def __init__(self, spark, tracer, rec: Recorder, run_dir: str, seed: int):
        self.spark, self.tracer, self.rec, self.run_dir = spark, tracer, rec, run_dir
        self.sf_dir, self.gen_seed = generate(os.path.join(run_dir, "data"), seed)
        self.rebuild_s: list[float] = []
        self.refresh_s: list[float] = []
        self.plays = 0
        self.twins: dict[str, list] = {}

    def rebuild(self, i: int, timed: bool) -> None:
        from spotify_tracks_spark import checks, pipeline
        from spotify_tracks_spark.sinks import publish

        spark, tr = self.spark, self.tracer
        reset_engine_caches(spark)
        out_dir = os.path.join(self.run_dir, f"marts_out_{i}")
        db_path = os.path.join(self.run_dir, f"publish_{i}.db")
        payloads = []

        def post(payload: dict) -> None:
            payloads.append(len(payload["requests"]))

        with self.rec.call("rebuild", timed) as call:
            with tr.wrap(pipeline, "src_recent_tracks", "sources.mapping.src_recent_tracks"):
                with tr.span("pipeline.run_models"):
                    models = pipeline.run_models(spark, self.sf_dir)
            with tr.span("plans.stg_recent_tracks", jobs=True):
                self.plays = models["stg_recent_tracks"].count()
            counts = {}
            for name, df in models.items():
                with tr.span(f"pipeline.write_models.{name}", jobs=True):
                    counts.update(pipeline.write_models({name: df}, out_dir))
            with tr.span("checks.run_reference_checks", jobs=True):
                results = checks.run_reference_checks(models)
            with contextlib.ExitStack() as stack:
                for fn in ("copy_to_sqlite", "sql_dump", "http_batch_payloads"):
                    stack.enter_context(tr.wrap(publish, fn, f"sinks.publish.{fn}"))
                with tr.span("sinks.publish.publish_models", jobs=True):
                    sent = publish.publish_models(
                        {m: models[m] for m in PUBLISHED}, db_path, post=post
                    )
            call.done()
            call.check(all(r.passed for r in results),
                       f"reference checks: {[r for r in results if not r.passed]}")
            call.check(all(counts[m] > 0 for m in models), f"empty model in {counts}")
            call.check(all(sent[m] > 0 for m in PUBLISHED), f"unpublished mart in {sent}")
            call.check(sum(payloads) > 0, "no payload posted")
        if timed and call.seconds is not None:
            self.rebuild_s.append(call.seconds)
        files, nbytes = _dir_stats(out_dir)
        tr.unit_count("pipeline.files_written", files)
        tr.unit_count("pipeline.bytes_written", nbytes)
        tr.unit_count("sinks.publish.payloads", len(payloads))
        shutil.rmtree(out_dir, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.remove(db_path)

    def collect_twins(self) -> None:
        """The batch build of the refreshed marts, for the equality check."""
        from spotify_tracks_spark import pipeline

        reset_engine_caches(self.spark)
        models = pipeline.run_models(self.spark, self.sf_dir)
        self.plays = models["stg_recent_tracks"].count()
        self.twins = {mart: models[mart].collect() for mart, _ in REFRESH}

    def refresh(self, i: int, timed: bool) -> None:
        from spotify_tracks_spark.streaming import incremental

        tr = self.tracer
        refreshed: dict[str, list] = {}
        with self.rec.call("refresh", timed) as call:
            for mart, fn in REFRESH:
                with tr.span(f"streaming.incremental.{mart}", jobs=True):
                    refreshed[mart] = getattr(incremental, fn)(self.spark, self.sf_dir).collect()
            call.done()
            for mart, rows in refreshed.items():
                call.check(bool(rows), f"{mart}: refresh returned no rows")
                if rows:
                    cols = list(rows[0].asDict())
                    twin = [tuple(r[c] for c in cols) for r in self.twins[mart]]
                    # multiset equality = exceptAll empty in both directions
                    call.check(Counter(map(row_key, rows)) == Counter(map(row_key, twin)),
                               f"{mart}: incremental != batch")
        if timed and call.seconds is not None:
            self.refresh_s.append(call.seconds)
        # fold state + checkpoints land in fresh mkdtemp dirs under TMPDIR;
        # keep only the cached source slices
        keep = {os.path.dirname(p) for p in incremental._SRC_CACHE.values()}
        tmp = os.environ["TMPDIR"]
        for name in os.listdir(tmp):
            path = os.path.join(tmp, name)
            if name.startswith("incr_") and path not in keep:
                shutil.rmtree(path, ignore_errors=True)
