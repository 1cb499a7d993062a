"""Helpers shared by the workloads: timed-call bookkeeping with output
checks, engine cache resets, canonical row forms and percentiles."""

from __future__ import annotations

import contextlib
import hashlib
import math
import sys
import time
import traceback


class Call:
    """One timed call.  ``done()`` stops the clock; output checks run after
    it, so they are never part of the measured time."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.seconds: float | None = None
        self.ok = True

    def done(self) -> None:
        self.seconds = time.perf_counter() - self.t0

    def check(self, cond: bool, what: str) -> None:
        if not cond:
            self.ok = False
            print(f"perfbench: check failed: {what}", file=sys.stderr)


class Recorder:
    """Counts timed calls and the ones that raised or failed a check.
    Warm-up calls are checked too, but only spoil ``correct``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.warmup_failed = 0

    @contextlib.contextmanager
    def call(self, name: str, timed: bool):
        c = Call()
        try:
            yield c
        except Exception:  # the loop must go on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            print(f"perfbench: call {name} raised", file=sys.stderr)
            c.ok = False
        if c.seconds is None:
            c.ok = False
        if timed:
            self.attempted += 1
            self.failed += not c.ok
        else:
            self.warmup_failed += not c.ok
        if not c.ok:
            c.seconds = None


def reset_engine_caches(spark) -> None:
    """Drop every session memo and cached frame so each job does the
    same work (the incremental source-slice cache is kept on purpose)."""
    from spotify_tracks_spark import pipeline
    from spotify_tracks_spark.operators.dedup import clear_dedup_memo
    from spotify_tracks_spark.operators.graph import clear_copurchase_memo
    from spotify_tracks_spark.operators.similarity import clear_similarity_memo

    pipeline._MEMO.clear()
    clear_dedup_memo()
    clear_copurchase_memo()
    clear_similarity_memo()
    spark.catalog.clearCache()


def row_key(row, ndigits: int | None = None) -> tuple:
    """A hashable, comparable form of a Row; floats rounded to ``ndigits``
    when given (for hashes of float outputs across runs)."""
    out = []
    for v in row:
        if isinstance(v, float) and ndigits is not None:
            v = round(v, ndigits) + 0.0
        out.append(v)
    return tuple(out)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows (floats at 6 dp)."""
    keys = sorted(repr(row_key(r, 6)) for r in rows)
    return hashlib.sha256("\n".join(keys).encode()).hexdigest()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]
