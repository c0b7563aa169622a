"""PySpark-native streaming medallion engine over conversation transcripts.

A from-scratch reimplementation of the query/data-processing semantics of
the ``crypto_near_real_time_data_ingestion`` reference (bronze→silver→gold
medallion: cleansing, exact dedup, per-period OHLC-style aggregates,
rolling features, cross-sectional joins, exactly-once partitioned sinks),
re-expressed as idiomatic Spark Structured Streaming over a transcripts
table ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout:
    datagen/    deterministic seeded transcript generator (no external data)
    sources/    schemas + batch/stream readers
    functions/  scalar/vectorized column expressions (cleansing, text, vectors)
    operators/  relational + streaming operators (dedup, windows, joins, ANN)
    plans/      end-to-end silver/gold query plans (batch oracle + streaming)
    streaming/  engine wiring: sinks (exactly-once MERGE), listener, lineage
"""

import os as _os

__version__ = "0.1.0"

# the checkout holding the package: default root of the gitignored data/
CHECKOUT_ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
