"""Structured Streaming support (extension beyond the reference —
the reference has no streaming surface at all, SURVEY.md §2.8).

The validator's bulk pipeline is built from pure lazy transformations
(cast/select + filters), so it composes with streaming DataFrames
unchanged; this package adds the streaming-specific pieces: source
wiring, watermarked windowed quality metrics, and gap sessionization.
"""

from .stateful import running_counts, running_dedup
from .ingest import (
    incremental_dedup_stream,
    incremental_semantic_dedup_stream,
    make_ingest_processor,
    make_semantic_ingest_processor,
    write_epoch_partition,
)
from .pipeline import (
    flag_violations_stream,
    read_stream,
    session_windows,
    validate_stream,
    windowed_quality,
)
from .tws import timeout_sessions

__all__ = [
    "flag_violations_stream",
    "incremental_dedup_stream",
    "incremental_semantic_dedup_stream",
    "make_ingest_processor",
    "make_semantic_ingest_processor",
    "write_epoch_partition",
    "running_counts",
    "running_dedup",
    "read_stream",
    "session_windows",
    "timeout_sessions",
    "validate_stream",
    "windowed_quality",
]
