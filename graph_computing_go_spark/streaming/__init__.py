"""Structured Streaming surface.

The reference is pure batch (SURVEY.md §2.9 — its channels are intra-process
pipelining, not event streams), so streaming here serves the engine's
training-data role: incremental ingestion of an events feed with watermarked
windowed aggregation, exactly mirroring the batch ``events_hourly`` query so
the two paths are cross-checkable.
"""

from graph_computing_go_spark.streaming.dedup import (  # noqa: F401
    exact_dedup_stream,
)
from graph_computing_go_spark.streaming.pipeline import (  # noqa: F401
    prepare_corpus_stream,
)
from graph_computing_go_spark.streaming.events import (  # noqa: F401
    hourly_event_stats_stream,
    run_stream_once,
    run_stream_once_to_dir,
)
from graph_computing_go_spark.streaming.sessions import (  # noqa: F401
    sessionize_batch,
    sessionize_stream_watermarked,
)
