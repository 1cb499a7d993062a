"""Ratchet on the never-driver-rowed tail (round-10 verdict item 7).

``bench.rotation_debt()`` counts registered queries that have never held
a driver correctness slot (union of checked-in CORRECTNESS_r*.json keys)
and are not on the current 50-entry driver surface (those receive their
first row when the driver runs this round).

The ratchet counts only queries that ALREADY EXISTED at the previous
round's close: operators registered mid-round necessarily start
never-rowed and get their rotation chance next round, so they appear in
the emitted gauge but don't trip the ceiling.  The ceiling must be
RATCHETED DOWN each round as the rotation retires the tail — raising it
is a process regression, and the test failing on a raise makes that
mechanically visible instead of judge-recomputed.

Round-11 verdict item 1: the previous-round surface must come from a
COMMITTED manifest pinned by name, never derived from driver-written
artifacts.  The round-11 version derived "previous round" from
``bench._next_round_no() - 1`` over repo-root BENCH_r*.json files, so
the driver's own (then-untracked) BENCH_r11.json flipped the resolved
manifest to the builder's closing BENCH_FULL_r11 — which contains the
round-11-registered ann_topk_bruteforce_capped — and pre-existing debt
read 70 > 69 in the driver's environment while the builder saw green.
Both knobs below are now explicit constants the builder updates in the
same commit as each rotation.

History: r10 close = 89 never-rowed / 264 registered; r11 rotation put
20 of them on the driver surface → pre-existing debt 69; r12 rotation
put 20 pre-existing (+ the r11-registered ann_topk_bruteforce_capped)
on the driver surface → pre-existing debt 49.
"""

from __future__ import annotations

import json
import os
import re

import bench

# Highest allowed pre-existing debt.  Ratchet DOWN when a rotation
# lands; never raise.
ROTATION_DEBT_CEILING = 49

# The committed full-bench manifest from the PREVIOUS round's close.
# Update this pin (and the ceiling above) in the same commit as each
# round's rotation.  It must name a file tracked by git — never a
# driver-written artifact that may or may not exist in a given checkout.
PREV_ROUND_MANIFEST = "BENCH_FULL_r11.json"

# Queries first registered in the CURRENT round, by name: they start
# never-rowed by construction and are exempt from the ceiling until the
# next rotation.  Round 12 is an optimization round — no new operators.
CURRENT_ROUND_REGISTRATIONS: frozenset[str] = frozenset()


def _prev_round_surface() -> set[str]:
    """Query names benched at the previous round's close, from the
    pinned committed manifest (see module docstring)."""
    root = os.path.dirname(os.path.abspath(bench.__file__))
    with open(os.path.join(root, PREV_ROUND_MANIFEST)) as fh:
        return set(json.load(fh)["queries"]) - CURRENT_ROUND_REGISTRATIONS


def test_rotation_debt_monotonically_decreases() -> None:
    debt = bench.rotation_debt()
    pre_existing = sorted(set(debt) & _prev_round_surface())
    assert len(pre_existing) <= ROTATION_DEBT_CEILING, (
        f"rotation debt grew to {len(pre_existing)} "
        f"(> {ROTATION_DEBT_CEILING}): the driver rotation must keep "
        f"retiring the never-rowed tail; tail = {pre_existing[:10]}..."
    )


def test_driver_surface_spends_slots_on_never_rowed() -> None:
    """Every rotation must keep >= 20 first-ever rows queued while debt
    remains (the round-9/10 verdict pace), so the tail drains in a
    bounded number of rounds.  "Rowed" counts only the correctness
    records of rounds up to the one ``PREV_ROUND_MANIFEST`` names: a
    later round's record rows the current surface by construction."""
    import __spark_entry__ as entrymod

    root = os.path.dirname(os.path.abspath(bench.__file__))
    prev_round = int(re.search(r"_r(\d+)\.json$", PREV_ROUND_MANIFEST).group(1))
    rowed: set[str] = set()
    for f in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f)
        if m and int(m.group(1)) <= prev_round:
            with open(os.path.join(root, f)) as fh:
                rowed |= set(json.load(fh))
    driver = set(entrymod.queries())
    queued_first_rows = driver - rowed
    if bench.rotation_debt():
        assert len(queued_first_rows) >= 20, (
            f"only {len(queued_first_rows)} never-rowed queries hold "
            f"driver slots while {len(bench.rotation_debt())} wait"
        )
