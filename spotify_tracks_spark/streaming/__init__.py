from .incremental import (
    stream_dim_track_incremental,
    stream_rpt_artist_counts_incremental,
    stream_rpt_discovery_rate_incremental,
    stream_rpt_track_counts_incremental,
)
from .sketch import (
    stream_docs_heavy_terms,
    stream_events_bloom,
    stream_events_cms,
    stream_events_hll,
    stream_events_kmv,
    stream_events_hll_set_ops,
    stream_events_kmv_anotb,
    stream_events_kmv_set_ops,
    stream_events_quantile_hist,
    stream_events_sequential_ab,
)
from .ingest import stream_events_dedup
from .joins import (
    stream_click_purchase_join,
    stream_click_purchase_join_outer,
    stream_events_enrich,
)
from .stateful import stream_sessionize
from .windowed import (
    stream_events_peak_rate,
    stream_events_update_counts,
    stream_events_windowed,
)

__all__ = [
    "stream_events_dedup",
    "stream_events_peak_rate",
    "stream_events_update_counts",
    "stream_events_windowed",
    "stream_sessionize",
    "stream_click_purchase_join",
    "stream_click_purchase_join_outer",
    "stream_events_enrich",
    "stream_dim_track_incremental",
    "stream_rpt_artist_counts_incremental",
    "stream_rpt_discovery_rate_incremental",
    "stream_rpt_track_counts_incremental",
    "stream_docs_heavy_terms",
    "stream_events_bloom",
    "stream_events_cms",
    "stream_events_hll",
    "stream_events_kmv",
    "stream_events_hll_set_ops",
    "stream_events_kmv_anotb",
    "stream_events_kmv_set_ops",
    "stream_events_quantile_hist",
    "stream_events_sequential_ab",
]
