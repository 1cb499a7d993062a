from __future__ import annotations

import os

import pytest

from spotify_tracks_spark.session import get_spark

# Fixture root: the driver-generated set by default (TESTDATA.md); CI and
# portable runs point SPARK_GRAFT_DATA_ROOT at a dir produced by
# scripts/gen_testdata.py (schema-identical synthetic tables).
DATA_ROOT = os.environ.get("SPARK_GRAFT_DATA_ROOT", "/root/testdata")
SF_SMOKE = f"{DATA_ROOT}/sf0.001"
SF_T2 = f"{DATA_ROOT}/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    yield s
    s.stop()


# ---------------------------------------------------------------------
# Tier assignment (round-11 verdict item 1).  The full 840-test suite
# takes 28-54 min — past the driver's verify budget, whose captured
# transcript died at ~40% with zero failures in round 11.  The DEFAULT
# tier (everything not listed here) is bounded to ~10-15 min and keeps
# a gate per surface: the fixed sf0.01 extras-parity slice (40
# oracle compares at the driver's own scale), the 265-query plan
# linter, the model chain, and the operator / graph / dedup
# planted-fixture tests.
# The SLOW tier (run with `-m slow`) holds the exhaustive/brute-force
# complements: the full sf0.001 extras sweep (every oracled extra —
# the same compare the slice samples), the brute-force property tests,
# the streaming drains, and the heavyweight planted suites.  Both
# tiers ran green together as one suite on this tree (839 passed /
# 1 skipped, 43:29) before the split landed.
_SLOW_MODULES = {
    "test_properties",            # brute-force comparison suite (277 s)
    "test_streaming",             # availableNow drains, ~15-23 s each
    "test_sketch_set_ops",        # batch-vs-stream register folds
    "test_round10_ops",           # planted suites for the round-10 ops
    "test_sequence_layout",       # rfm/zorder planted suites
    "test_tpch_shapes",           # warehouse-shape planted suites
    "test_llm_prep",              # BPE planted suites
    "test_growth_accounting",     # merge-upsert brute force
    "test_timeseries",            # rolling/anomaly brute-force twins
    "test_mllib_interop",         # JVM-RNG LSH recall test
    "test_profile_recall_paragraph",  # jaccard completeness brute force
}
_SLOW_TESTS = {
    # the full sf0.001 extras sweep (212 oracle compares, ~400 s); the
    # 40-query sf0.01 slice STAYS in the default tier
    "test_extra_entry_matches_oracle",
    # single >200 s plan walks / brute-force one-offs
    "test_no_accidental_cartesian_products",
    "test_cms_never_undercounts",
    "test_write_models_fact_partition_pruning",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        module = item.module.__name__.rsplit(".", 1)[-1]
        test_name = item.name.split("[", 1)[0]
        if module in _SLOW_MODULES or test_name in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
