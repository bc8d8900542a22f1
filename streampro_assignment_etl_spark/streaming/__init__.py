"""Structured Streaming ingest for the events feed (SURVEY M5).

The reference only simulates its stream (an events JSONL file
processed in batch, /root/reference/README.md:44); this package is the
idiomatic Spark upgrade: ``readStream`` over the landing zone with the
typed registry schema, watermarked windowed aggregation,
``session_window`` sessionization, and a ``foreachBatch`` partitioned
parquet sink into the trusted zone. Batch remains the correctness
oracle — tests assert stream results equal the same aggregation run in
batch over identical input.
"""

from .events_stream import (
    click_view_interval_join,
    enriched_events_stream,
    read_events_stream,
    compact_update_sink,
    read_update_sink,
    run_stream_to_parquet,
    run_stream_upsert,
    sessionized_stream,
    windowed_event_counts,
    write_stream_to_trusted,
)
from .embedding_dedup import embedding_dedup_stream, run_embedding_dedup_stream
from .fuzzy_dedup import fuzzy_dedup_stream, run_fuzzy_dedup_stream
from .fuzzy_store_ingest import (
    maintain_store,
    resign_store,
    run_fuzzy_store_ingest_from_dir,
    run_fuzzy_store_ingest_stream,
    store_stats,
)
from .stream_join import (
    attributed_view_counts,
    last_view_before_click_stream,
    stream_interval_join,
    view_click_attribution,
)
from .heavy_hitters import read_mg_sink, trending_terms_stream
from .takedown_stream import read_takedown_audit, run_takedown_request_stream
from .index_ingest import run_index_append_stream, run_index_append_stream_from_dir
from .stateful_dedup import dedup_stream, run_dedup_stream

__all__ = [
    "attributed_view_counts",
    "read_takedown_audit",
    "run_takedown_request_stream",
    "click_view_interval_join",
    "last_view_before_click_stream",
    "dedup_stream",
    "enriched_events_stream",
    "embedding_dedup_stream",
    "fuzzy_dedup_stream",
    "read_events_stream",
    "compact_update_sink",
    "read_update_sink",
    "run_dedup_stream",
    "run_embedding_dedup_stream",
    "run_fuzzy_dedup_stream",
    "maintain_store",
    "resign_store",
    "run_fuzzy_store_ingest_from_dir",
    "run_fuzzy_store_ingest_stream",
    "store_stats",
    "stream_interval_join",
    "view_click_attribution",
    "run_index_append_stream",
    "run_index_append_stream_from_dir",
    "run_stream_to_parquet",
    "run_stream_upsert",
    "sessionized_stream",
    "read_mg_sink",
    "trending_terms_stream",
    "windowed_event_counts",
    "write_stream_to_trusted",
]
