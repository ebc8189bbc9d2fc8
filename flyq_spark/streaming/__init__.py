"""Structured Streaming surface: the offset-based ``format("flyq")`` tail
source, produce sink, event-time analytics, and custom stateful
operators."""

from flyq_spark.streaming.sink import produce_sink, write_stream_to_topic
from flyq_spark.streaming.source import read_stream, streaming_dedup, windowed_counts

__all__ = [
    "produce_sink",
    "write_stream_to_topic",
    "read_stream",
    "windowed_counts",
    "streaming_dedup",
]
