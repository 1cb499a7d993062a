from .staging import stg_recent_tracks
from .dims import dim_track, dim_artist, dim_album
from .facts import fct_played_track
from .reports import rpt_track_counts, rpt_artist_counts, rpt_discovery_rate

__all__ = [
    "stg_recent_tracks",
    "dim_track",
    "dim_artist",
    "dim_album",
    "fct_played_track",
    "rpt_track_counts",
    "rpt_artist_counts",
    "rpt_discovery_rate",
]
