"""Engine-wide constants.

``RUN_DATE`` replaces the reference's ``current_date`` (rpt_track_counts.sql:22,
rpt_artist_counts.sql:18) so both engines — Spark and the DuckDB oracle — see
the same deterministic "today" (SURVEY.md §2.1 caveat b).  It sits inside the
testdata's l_shipdate range (1995-01-02 .. 2001-11-04 at every sf) so the
trailing-30-day reports are non-empty.
"""

import os

RUN_DATE = "2001-09-15"

# The dbt_utils.generate_surrogate_key NULL sentinel (dbt-utils 1.2.0,
# reference pin at dbt_spotify/packages.yml:2-3).
SK_NULL_SENTINEL = "_dbt_utils_surrogate_key_null_"

# Wall-clock rendering zone used by the reference (stg_recent_tracks.sql:29-32).
LOCAL_TZ = "America/Boise"

# Driver-provided testdata (TESTDATA.md). Tables one parquet file each.
TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# local[] width: the CPUs this process may run on unless set explicitly
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
