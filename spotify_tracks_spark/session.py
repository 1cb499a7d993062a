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
- the driver heap sized to the host (``_driver_memory``), and the codegen
  class cache sized to the model DAG, so a repeated rebuild reuses its
  compiled whole-stage classes instead of recompiling them.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

from .config import DEFAULT_CPUS

T = TypeVar("T")

# never ask for more heap than this, however large the host
_MAX_HEAP_MB = 32 * 1024


def _driver_memory() -> str:
    """Half the memory this process may use, at most 32 GiB: half of the
    cgroup v2 ``memory.max`` when one is set, else half of physical memory.
    The other half is left to the Python workers and the Arrow buffers."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            cap = f.read().strip()
        if cap != "max":
            limit = min(limit, int(cap))
    except OSError:
        pass
    return f"{min(_MAX_HEAP_MB, limit // 2 >> 20)}m"


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
        # local mode = driver and all executor threads share ONE heap; an
        # 8g heap on a 32-core host gave multi-second GC pauses, so take as
        # much as the host can spare (32g at most), not a fixed size
        .config("spark.driver.memory", _driver_memory())
        # a cold marts rebuild generates 146 distinct whole-stage classes;
        # with Spark's default 100-entry cache the LRU meets that cyclic
        # access pattern and misses on nearly every class, so every
        # rebuild recompiled ~130 classes (1.0-1.4 s of Janino time)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # the cache is keyed on the generated source, and by default the
        # class name carries the whole-stage codegen stage id, which AQE
        # assigns in the order it plans stages (it varies run to run): the
        # same code under a new id missed the cache, 8-12 compiles a repeat
        .config("spark.sql.codegen.useIdInClassName", "false")
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


def run_concurrently(spark: SparkSession, actions: Sequence[Callable[[], T]]) -> list[T]:
    """Run independent Spark actions at once, one driver thread each.

    A few small actions leave most cores idle when issued one after
    another; submitted together, the scheduler runs their jobs side by
    side.  Each thread inherits the caller's local properties (job group,
    description) and session tags, so the jobs stay attributed to the
    caller's group.  Results come back in ``actions`` order; the first
    failing action's exception is re-raised."""
    with ThreadPoolExecutor(max_workers=max(1, len(actions))) as ex:
        wrapped = [inheritable_thread_target(spark)(a) for a in actions]
        return list(ex.map(lambda a: a(), wrapped))
