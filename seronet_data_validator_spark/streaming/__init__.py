"""Structured Streaming surface of the engine.

The reference is batch-only (SURVEY.md §2.9): its 'incremental' behavior is
folder/status reprocessing, which the batch engine maps to checkpoint/resume.
This module adds the genuinely-streaming path for continuous ingestion: the
same fused RuleSet applied to a readStream, with violations appended per
micro-batch via foreachBatch (which also runs the table-level checks that
need a batch view and the cross-batch key log), plus one watermarked
windowed aggregation, the per-window PSI drift monitor.
"""

from seronet_data_validator_spark.streaming.validate_stream import (
    stream_validate_clips,
    windowed_drift,
)

__all__ = [
    "stream_validate_clips",
    "windowed_drift",
]
