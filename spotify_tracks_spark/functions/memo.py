"""The engine's one cache for artifacts shared within a Spark session.

Several artifacts are read by many queries over the same dataset: the
model DAG (staging plus the cached marts, read by eight model queries,
the checks and the publish), the shingle-hash table and the verified
pair sets of the dedup families, the co-purchase edges, degrees,
triangle counts, LPA labels and hub-drop counts of the graph family,
the exact and approximate top-k lists of the similarity family, and the
BPE tokenizer.  dbt builds each model once per run and everything
downstream reads that table; ``cached`` gives the same contract inside
one session.  The rule:

- An entry is keyed by the dataset directory and an artifact key: a
  tuple of the artifact's name and every parameter its value depends on.
- A call hits when the entry was built by this SparkSession and the
  directory's fingerprint (the sorted relative path, size and
  ``mtime_ns`` of every file under it) is unchanged.  A hit returns the
  identical object and schedules no Spark job.
- On a miss the old entry is released, then the artifact is built.  So
  a file appended to or replaced under the directory rebuilds what was
  built from it instead of serving the old result.
- Releasing an entry unpersists every DataFrame it holds.  Without
  that, Spark's CacheManager matches the rebuilt plan (same paths) to
  the old ``.cache()``d plan and serves the old data.  ``unpersist`` does
  not touch ``localCheckpoint``ed frames; ContextCleaner reclaims their
  blocks once no caller holds a frame derived from them.
- One session at a time: an entry built by another session is released
  when this session inserts.  Two sessions used together in one process
  rebuild each other's artifacts; they never read each other's.
- Callers treat a returned artifact as immutable shared state: derive
  from it, never unpersist it.

``clear()`` releases every entry (a benchmark resets with it so each job
does the same work).
"""

from __future__ import annotations

import os
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession


class _Entry(NamedTuple):
    spark: SparkSession
    fingerprint: tuple
    value: Any


_ENTRIES: dict[tuple[str, tuple], _Entry] = {}


def _fingerprint(sf_dir: str) -> tuple:
    """(relative path, size, mtime_ns) of every file under ``sf_dir``,
    sorted; empty when the directory does not exist."""
    files = []
    for root, _, names in os.walk(sf_dir):
        for name in names:
            path = os.path.join(root, name)
            st = os.stat(path)
            files.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def cached(spark: SparkSession, sf_dir: str, key: tuple, build: Callable[[], Any]) -> Any:
    """The artifact ``key`` over ``sf_dir``: the cached value while the
    session and the directory's fingerprint are unchanged, else
    ``build()`` (after releasing the entry it replaces)."""
    fp = _fingerprint(sf_dir)
    slot = (sf_dir, key)
    entry = _ENTRIES.get(slot)
    if entry is not None and entry.spark is spark and entry.fingerprint == fp:
        return entry.value
    for k in [k for k, e in _ENTRIES.items() if k == slot or e.spark is not spark]:
        _release(_ENTRIES.pop(k))
    value = build()
    _ENTRIES[slot] = _Entry(spark, fp, value)
    return value


def clear() -> None:
    """Release every entry."""
    while _ENTRIES:
        _release(_ENTRIES.popitem()[1])


def _release(entry: _Entry) -> None:
    if entry.spark.sparkContext._jsc is None:
        return  # a stopped context took its cache with it
    value = entry.value
    if isinstance(value, dict):
        value = value.values()
    elif not isinstance(value, tuple):
        value = (value,)
    # dependents first: uncaching a frame that a not-yet-loaded cached
    # dependent reads makes Spark re-register that dependent
    for df in reversed(list(value)):
        if isinstance(df, DataFrame):
            df.unpersist()
