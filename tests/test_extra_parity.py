"""Oracle parity for the pytest-only surface (``extra_queries()``).

The driver's correctness harness records at most ~50 queries (round 1: all
47 then present; round 2: exactly the first 50 of 63 — see the
__spark_entry__ module docstring).  Entries beyond that cap live in
``extra_queries()`` and get the SAME order-insensitive value-hash compare
here, at sf0.001 — so "not recorded by the driver" never means
"unchecked".  The three approximate operators (kmeans, approx
stats, HLL rollup) have no exact oracle by design: rows-only here,
tolerance bounds in their own unit tests.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

from .conftest import SF_SMOKE, SF_T2
from .harness import compare

EXTRA = entrymod.extra_queries()
EXTRA_ORACLES = entrymod.extra_oracle_sql()


def test_driver_surface_is_exactly_fifty():
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert len(qs) == 50
    # every driver entry has an oracle (no rows-only rows in the capped
    # driver budget) and no stale oracle keys
    assert set(osql) == set(qs)
    # the two surfaces are disjoint and jointly cover every operator name
    assert not set(EXTRA) & set(qs)


def test_one_implementation_per_oracle():
    """Entries that share an oracle are one operator: a second batch
    implementation checked against the same oracle is not registered.
    Streaming twins (a different execution model) and the publish
    round-trip (a sink read back) are the allowed companions."""
    oracles = {**entrymod.oracle_sql(), **EXTRA_ORACLES}
    groups: dict[str, list[str]] = {}
    for name in [*entrymod.queries(), *EXTRA]:
        if name in oracles and "stream" not in name and name != "publish_roundtrip":
            groups.setdefault(oracles[name], []).append(name)
    dup = [names for names in groups.values() if len(names) > 1]
    assert not dup, f"second implementations of one operator: {dup}"


@pytest.mark.parametrize("name", sorted(EXTRA))
def test_extra_entry_matches_oracle(spark, name):
    df = EXTRA[name](spark, SF_SMOKE)
    if name in EXTRA_ORACLES:
        ok, msg = compare(df, EXTRA_ORACLES[name], SF_SMOKE)
        assert ok, f"{name}: {msg}"
    else:
        # approximate by construction — rows-only (tolerance unit tests
        # pin the estimates)
        assert df.count() > 0


def _sf001_slice() -> list[str]:
    """A fixed window of the oracled extras for the sf0.01 tier.  sf0.001
    can hide distribution-sensitive bugs (empty blocks, single-partition
    accidents), but running every oracled extra at sf0.01 on each pytest
    run would triple the suite wall time, so the default tier checks 40
    of them (``events_attribution_time_decay`` … ``events_moving_avg``,
    ~2 min; chosen by name, so registry edits outside that range leave it
    unchanged) and ``scripts/check_parity.py`` sweeps the whole surface."""
    names = sorted(set(EXTRA) & set(EXTRA_ORACLES))
    return [n for n in names if "events_attribution_time_decay" <= n <= "events_moving_avg"]


@pytest.mark.parametrize("name", _sf001_slice())
def test_extra_entry_matches_oracle_at_sf001(spark, name):
    """The sf0.01 tier: the same hash-compare as above at the driver's
    oracle scale (10x rows, multiple parquet row groups)."""
    df = EXTRA[name](spark, SF_T2)
    ok, msg = compare(df, EXTRA_ORACLES[name], SF_T2)
    assert ok, f"{name}: {msg}"
