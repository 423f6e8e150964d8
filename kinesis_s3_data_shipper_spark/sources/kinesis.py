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

For integration tests and demos without any object store, the ``rate``
source emulates a shard: a fixed rows/sec stream whose rows this
module wraps into the same DATA_MESSAGE JSON the splitter consumes —
so the whole ingest pipeline can run against a purely synthetic
"stream" end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def wrap_ticks_as_blocks(ticks: DataFrame, *,
                         log_group: str = "/synthetic/rate",
                         events_per_block: int = 10) -> DataFrame:
    """(value LONG, timestamp TIMESTAMP) rows → DATA_MESSAGE-shaped
    (path, content) rows consumable by the ingest splitter; every
    `events_per_block` consecutive values become one block.

    Pure JVM expressions (to_json over structs) — the emulator adds no
    Python cost, and the same transformation works on a batch frame
    (tests) or the streaming ``rate`` source (demos).
    """
    block_id = F.expr(f"value div {events_per_block}")
    event = F.struct(
        F.concat(F.lit("evt-"), F.col("value")).alias("id"),
        F.unix_millis("timestamp").alias("timestamp"),
        F.concat(F.lit("rate tick "), F.col("value")).alias("message"))
    return (ticks
            .withColumn("_block", block_id)
            .groupBy("_block")
            .agg(F.sort_array(F.collect_list(event)).alias("logEvents"))
            .select(
                F.concat(F.lit("rate://shard-0/block-"), F.col("_block"))
                 .alias("path"),
                F.encode(F.to_json(F.struct(
                    F.lit("DATA_MESSAGE").alias("messageType"),
                    F.lit("000000000000").alias("owner"),
                    F.lit(log_group).alias("logGroup"),
                    F.concat(F.lit("rate/shard-0/block-"), F.col("_block"))
                     .alias("logStream"),
                    F.array(F.lit("synthetic")).alias("subscriptionFilters"),
                    F.col("logEvents"))), "UTF-8").alias("content")))

