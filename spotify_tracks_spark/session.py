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


def cluster_conf(executors: int = 1000, cores_per_executor: int = 4) -> dict[str, str]:
    """The production (multi-executor, ~100 TB) configuration profile —
    the knobs that change between local[] testing and a real cluster,
    with the reasoning encoded here instead of in a wiki:

    - shuffle partitions ≈ 2-3× total cores so every core gets a few
      waves and AQE coalescing has room to merge small ones;
    - 256 MiB scan partitions: big enough to amortize task overhead at
      100 TB (~400k scan tasks), small enough to fit executor memory;
    - AQE on with skew-join splitting (hot artist/track keys);
    - broadcast threshold sized to the dims (entity directories are MBs
      even at full scale — always broadcast);
    - shuffle compression + Kryo: wire volume dominates at cluster scale.
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(total_cores * 2),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.shuffle.compress": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.session.timeZone": "UTC",
    }


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
