"""spotify_tracks_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference pipeline (ndrewwm/spotify-tracks).

The reference is a dbt/DuckDB star-schema pipeline (8 declared models; see
SURVEY.md §2.1). This package re-expresses that capability surface — plus the
large-scale training-data operators (dedup, similarity search, text analysis,
multimodal plumbing) — as idiomatic Spark DataFrame plans:

- ``functions/``  pure Column-expression helpers (surrogate keys, safe_divide,
                  timezone, portable hashing) — the expression kernel every
                  downstream hash-parity guarantee rests on.
- ``sources/``    table registry over parquet, the driver-side REST fetch and
                  its JSON flatten, and the deterministic testdata→source-schema
                  mapping.
- ``plans/``      the 8 reference models (staging → dims/fact → reports) as
                  DataFrame→DataFrame functions.
- ``operators/``  idempotent sink, dedup family, ANN similarity, text analysis,
                  multimodal column plumbing.
- ``streaming/``  Structured Streaming ingest (watermark +
                  dropDuplicatesWithinWatermark + foreachBatch idempotent
                  append).
- ``oracles.py``  DuckDB-dialect SQL equivalents for every SQL-expressible
                  query (the correctness contract).
"""

__version__ = "0.1.0"
