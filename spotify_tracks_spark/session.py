"""SparkSession factory with the engine's scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configuration
knobs are the ones that matter on a 1000-executor cluster:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) — the 100 TB safety net for skewed artist/track keys.
- ``spark.sql.session.timeZone=UTC`` — all zone math is explicit via
  ``from_utc_timestamp`` (SURVEY.md §7.4); never rely on session-zone casts.
- Arrow enabled — every Pandas-UDF operator (minhash batching, multimodal
  decode) rides vectorized Arrow transfer instead of row pickling.
- shuffle partitions sized to the local core count; on a real cluster this is
  overridden per-job (or left to AQE's coalescing with a high initial value).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .config import DEFAULT_CPUS


def get_spark(app_name: str = "spotify-tracks-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[32] = driver and all executor threads share ONE heap; 8g
        # produced multi-second GC pauses (bench variance up to 4× on the
        # cache-materializing queries).  The box has 128 GiB — give the JVM
        # room so bench times measure the plan, not the collector.
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        # stage-progress bars interleave with stdout; the bench contract is
        # ONE machine-parseable JSON line, so keep the console clean
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # orderBy().limit(k) plans a top-k whose bounded queue is sized by
        # k, so a caller-supplied k=10**9 kills the JVM with a heap OOM;
        # above this k Spark sorts and then limits instead
        .config("spark.sql.execution.topKSortFallbackThreshold", "100000")
        .getOrCreate()
    )
