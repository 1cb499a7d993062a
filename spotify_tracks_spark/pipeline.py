"""Model DAG runner — the engine's equivalent of ``dbt build``.

Dependency order is the reference's 3-level DAG (SURVEY.md §2.11):
stg → {dim_track, dim_artist, dim_album, fct} → {rpt_*}.  ``dbt build``
materializes each model once and its tests and the publish copy read that
table; here ``.cache()`` gives the same contract:

- staging is read by six downstream models, so it is materialized once
  (a written table on a cluster) instead of recomputed per consumer
  (SURVEY.md §4);
- the six entity-bounded marts (the three dims and the three reports) are
  cached too, so the first ``write_models`` call materializes each one and
  ``checks.run_reference_checks`` and ``sinks.publish.publish_models`` read
  that result instead of re-running the DAG.  Their size is bounded by
  entity counts, not plays, so caching them stays cheap at any scale;
- the fact is NOT cached: it grows with plays, and it is a projection of
  the cached staging, so re-reading it costs no recompute of the DAG.

``run_models`` returns every model as a DataFrame dict; ``write_models``
persists them as parquet with the 100 TB layout: the fact partitioned by
play date (partition pruning for the trailing-window reports), dims plain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .config import RUN_DATE
from .functions import memo
from .sources.mapping import src_recent_tracks
from .plans import (
    stg_recent_tracks,
    dim_track,
    dim_artist,
    dim_album,
    fct_played_track,
    rpt_track_counts,
    rpt_artist_counts,
    rpt_discovery_rate,
)


# perfbench/common.py resets the engine with ``pipeline._MEMO.clear()``
_MEMO = memo

_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def run_models(
    spark: SparkSession, sf_dir: str, run_date: str = RUN_DATE
) -> dict[str, DataFrame]:
    """The model DAG over ``sf_dir``, built once per session and dataset
    version (``functions/memo.py``)."""
    return memo.cached(
        spark, sf_dir, ("models", run_date), lambda: _build_models(spark, sf_dir, run_date)
    )


def _build_models(spark: SparkSession, sf_dir: str, run_date: str) -> dict[str, DataFrame]:
    # Spark 4.1 caches a plan with AQE's partition coalescing switched off
    # unless this is true, and a small cached mart is then written as one
    # file per shuffle partition.  The setting is read when ``.cache()``
    # registers the plan, so it is scoped to the mart caches here: every
    # other cache in the session keeps Spark's default.
    prior = spark.conf.get(_CACHED_PARTITIONING)
    spark.conf.set(_CACHED_PARTITIONING, "true")
    try:
        stg = stg_recent_tracks(src_recent_tracks(spark, sf_dir)).cache()
        dt = dim_track(stg).cache()
        da = dim_artist(stg).cache()
        dal = dim_album(stg).cache()
        fct = fct_played_track(stg)
        return {
            "stg_recent_tracks": stg,
            "dim_track": dt,
            "dim_artist": da,
            "dim_album": dal,
            "fct_played_track": fct,
            "rpt_track_counts": rpt_track_counts(fct, dt, dal, run_date).cache(),
            "rpt_artist_counts": rpt_artist_counts(fct, dt, run_date).cache(),
            "rpt_discovery_rate": rpt_discovery_rate(fct, dt, da).cache(),
        }
    finally:
        spark.conf.set(_CACHED_PARTITIONING, prior)


def write_models(models: dict[str, DataFrame], out_dir: str) -> dict[str, int]:
    """Write every model; returns per-model row counts measured by the
    ``Observation`` API — metrics piggyback on the write job itself (the
    executor-side accumulator fills as rows stream to parquet), so the
    counts that feed run logs / freshness checks cost ZERO extra passes.
    At 100 TB a post-write ``count()`` is a second full scan; this is the
    difference between free telemetry and doubling the pipeline's I/O."""
    from pyspark.sql import Observation

    counts: dict[str, int] = {}
    for name, df in models.items():
        obs = Observation(f"write_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        writer = df.write.mode("overwrite")
        if name == "fct_played_track":
            # 100 TB layout: date-partitioned fact → the 30-day reports prune
            # to ~1/80th of the table before any shuffle.  The explicit
            # partition count keeps AQE from coalescing a small fact into one
            # task that writes every date file serially; hashing on the date
            # still gives each date exactly one file.
            df = df.withColumn("play_date", F.to_date("played_at"))
            n = df.sparkSession.sparkContext.defaultParallelism
            writer = df.repartition(n, "play_date").write.mode("overwrite").partitionBy("play_date")
        writer.parquet(f"{out_dir}/{name}")
        counts[name] = obs.get["rows"]
    return counts
