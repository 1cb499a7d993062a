"""Edge-count ladder for the distributed connected-components fallback.

Round-11 verdict item 3: ``dedup_clusters``' >200 k-edge min-label loop
had never executed under load.  This script times
``dedup._min_label_components`` on synthetic dup graphs at an
edge-count ladder and reports the per-rung growth exponent
alpha = log2(t_i / t_{i-1}) per edge doubling (alpha <= ~1 = linear or
better).

Topology mirrors real near-dup graphs (shallow components) while still
forcing multi-round convergence: 4-edge chains of 5 nodes each
(diameter 4 -> the loop runs 5 rounds: 4 propagation rounds + the
fixpoint-detection round).  Component count scales with edges, so each
rung is the same per-component work at more components — the scaling
question the ladder answers.

Usage: python scripts/cc_fallback_curve.py [EDGES ...]
       (default ladder: 250_000 500_000 1_000_000 2_000_000)
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spotify_tracks_spark.operators import dedup  # noqa: E402
from spotify_tracks_spark.session import get_spark  # noqa: E402


def synthetic_pairs(spark, n_edges: int):
    """4-edge chains of 5 nodes: nodes 10g..10g+4, edges (v, v+1)."""
    n_groups = n_edges // 4
    groups = F.floor(F.col("id") / 4)
    return spark.range(n_groups * 4).select(
        (groups * 10 + (F.col("id") % 4)).alias("doc_a"),
        (groups * 10 + (F.col("id") % 4) + 1).alias("doc_b"),
    )


def main() -> int:
    ladder = [int(a) for a in sys.argv[1:]] or [
        250_000,
        500_000,
        1_000_000,
        2_000_000,
    ]
    spark = get_spark("cc_fallback_curve")
    # one throwaway shuffle so JIT compilation and executor start-up
    # land before the first timed rung
    spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count().write.format(
        "noop"
    ).mode("overwrite").save()
    times: list[float] = []
    for n in ladder:
        pairs = synthetic_pairs(spark, n).localCheckpoint(eager=True)
        best = math.inf
        for _ in range(2):
            spark.sparkContext.setJobDescription(f"cc_fallback:{n}")
            t0 = time.perf_counter()
            out = dedup._min_label_components(pairs)
            out.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times.append(best)
        print(f"edges={n:>9,}  min_of_2={best:7.2f}s", flush=True)
    for i in range(1, len(times)):
        ratio_e = ladder[i] / ladder[i - 1]
        alpha = math.log(times[i] / times[i - 1]) / math.log(ratio_e)
        print(
            f"alpha({ladder[i - 1]:,} -> {ladder[i]:,}) = {alpha:.2f}",
            flush=True,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
