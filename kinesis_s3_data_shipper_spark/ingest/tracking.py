"""Processed-file tracking: the reference's SQLite seen-files log as a
relational anti-join.

The reference keeps `files(bucket, filepath)` in SQLite and subtracts
already-processed keys from each run's listing, pushing a
`LIKE 'prefix%'` predicate into the store (kinesis-to-humio.py:48-68,
210-216). In this engine the *streaming* path gets this for free from
the Structured Streaming file-source checkpoint; the *batch* path uses
the same semantics as a left-anti join against a processed-files
table, with no broadcast hint: that table grows with the corpus. The
caller filters the listing by prefix before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def filter_unprocessed(candidates: DataFrame, processed: DataFrame, *,
                       key_col: str = "path") -> DataFrame:
    """candidates minus processed (left-anti on the file key)."""
    return candidates.join(processed.select(key_col), key_col, "left_anti")


def record_processed(processed_dir: str, done: DataFrame,
                     key_col: str = "path") -> None:
    """Append the completed keys (parquet append — the transactional
    'done' marker the reference commits per file at K:172-174), one
    part file per run: a run's keys are few, and a narrow coalesce
    adds no job."""
    done.select(key_col).coalesce(1).write.mode("append").parquet(
        processed_dir)
