"""Structured Streaming layer (SURVEY §2.1 S1-S4, §2.10 T1-T3, T6-T7)."""

from .ingest import (  # noqa: F401
    drain,
    drain_to_memory,
    kafka_sink,
    kafka_source,
    store_with_ttl,
    windowed_counts,
)
from .stateful import batch_sketch, running_sketch  # noqa: F401
