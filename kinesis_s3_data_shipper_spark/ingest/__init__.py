"""The reference pipeline, Spark-first.

The reference (kinesis-to-humio.py) is: list S3 objects → skip
already-processed (SQLite) → download → gunzip repeatedly → scan for
concatenated CloudWatch-Logs DATA_MESSAGE JSON blocks → parse → flatten
logEvents → enrich + derive tags → batch ≤N events → POST to an HTTP
ingest API → mark file done.

Here that becomes: binaryFile rows → mapInPandas(recursive gunzip +
block split) → from_json(explicit schema, corrupt-record column) →
explode(logEvents) → enrichment projection, and beside it per-block
batch assembly (sort, slice, posexplode, to_json) → a mapInArrow HTTP
sink with idempotency keys inside the payload write. One task per
input file (gzip is non-splittable — same granularity as the
reference, now parallel), zero shuffles end to end.
"""

from .fixture import BLOCK_SCHEMA_DDL, make_raw_file, fixture_files  # noqa: F401
from .splitter import split_blocks  # noqa: F401
from .pipeline import (  # noqa: F401
    block_payloads, build_payloads, flatten_events, parse_blocks)
