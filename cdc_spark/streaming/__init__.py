"""Structured Streaming layer: stream parse → watermark → stateful apply."""

from cdc_spark.streaming.pipeline import (
    CdcStreamPipeline,
    sessionized_counts,
    stream_dedup,
    windowed_agg,
)
from cdc_spark.streaming.state import BucketedStateTable

__all__ = [
    "BucketedStateTable",
    "CdcStreamPipeline",
    "windowed_agg",
    "sessionized_counts",
    "stream_dedup",
]
