"""Kinesis-shaped streaming sources.

OSS Spark has no built-in Kinesis DSv2 connector. The production
pattern — and exactly what the reference consumes (README.md:5-6:
CloudWatch Logs → Kinesis Firehose → S3 objects) — is
**Firehose-lands-to-object-store, Spark file source tails the
landing prefix**:

- the file-source checkpoint is the shard iterator + seen-files log in
  one (replacing the reference's SQLite table, kinesis-to-humio.py
  48-68);
- ``maxFilesPerTrigger`` (:data:`MAX_FILES_PER_TRIGGER`) is the
  batch-size throttle (the reference's ``--humio-batch`` analog at the
  file level);
- ``latestFirst=false`` preserves oldest-first ordering (K:292).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..session import ensure_runtime_confs

#: Streaming sources require an explicit schema; this is binaryFile's.
BINARY_FILE_SCHEMA = ("path STRING, modificationTime TIMESTAMP,"
                      " length LONG, content BINARY")
#: Files per micro-batch: the trigger-size throttle.
MAX_FILES_PER_TRIGGER = 64


def firehose_landing_source(spark: SparkSession, landing: str) -> DataFrame:
    """Streaming (path, content) rows from a Firehose-style landing
    prefix (local dir or s3a:// URI), oldest files first."""
    ensure_runtime_confs(spark)
    return (spark.readStream.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA)
            .option("latestFirst", "false")
            .option("maxFilesPerTrigger", str(MAX_FILES_PER_TRIGGER))
            .load(landing)
            .select("path", "content"))

