"""Ingest-pipeline plans.

`ingest_pipeline` runs the full reference pipeline (recursive gunzip →
marker split → from_json → explode → enrich) on the deterministic
fixture matrix — rows-only check (DuckDB can't oracle the splitter;
the pytest round-trip suite is its oracle instead).

`tag_prefix_derivation` isolates the reference's one string derivation
(logStreamPrefix = first two '/'-segments, K:137) on relational data
so it IS oracle-checkable, edge cases included.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.strings import spark_sql_stream_prefix, sql_stream_prefix
from ..ingest.fixture import fixture_files, ground_truth_events
from ..ingest.pipeline import flatten_events, parse_blocks
from ..ingest.splitter import split_blocks
from ..session import ensure_runtime_confs
from ..sources.tables import load_table
from .base import register

#: Plain-JSON twin of the fixture matrix for the DuckDB oracle: the
#: GENERATOR's pre-encoding events as NDJSON (never produced by the
#: splitter). Written at import time — the driver must import this
#: module to obtain oracle_sql(), so the file exists before either
#: side of the comparison runs, whatever their order.
TWIN_PATH = os.path.join(tempfile.gettempdir(), "ksds_ingest_twin.ndjson")


def _write_twin() -> None:
    # A UNIQUE tmp name per writer is what makes the final os.replace
    # genuinely atomic under concurrency: with a fixed ".tmp" suffix two
    # concurrent importers share the staging file, the first replace
    # unlinks it, and the second dies with FileNotFoundError — aborting
    # that process's whole registry import (observed when a pytest run
    # overlapped a plan-audit run).
    fd, tmp = tempfile.mkstemp(
        prefix="ksds_ingest_twin.", suffix=".tmp",
        dir=tempfile.gettempdir())
    try:
        with os.fdopen(fd, "w") as f:
            for row in ground_truth_events():
                f.write(json.dumps(row, separators=(",", ":")) + "\n")
        os.replace(tmp, TWIN_PATH)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise


_write_twin()

_BINARY_SCHEMA = T.StructType([
    T.StructField("path", T.StringType(), False),
    T.StructField("content", T.BinaryType(), False),
])


def raw_fixture_df(spark: SparkSession) -> DataFrame:
    """The fixture matrix as (path, content) binary rows — the same
    shape ``spark.read.format('binaryFile')`` yields from S3.

    Coalesced to 8 partitions: the matrix is ~75 tiny files, and each
    mapInPandas partition pays a Python-worker startup — 32 near-empty
    partitions is pure overhead. (With real S3 input the file count
    itself sets the parallelism; this only tunes the fixture.)"""
    ensure_runtime_confs(spark)
    return (spark.createDataFrame(fixture_files(), schema=_BINARY_SCHEMA)
            .coalesce(8))


@register("ingest_pipeline", oracle=None,
          doc="Full reference pipeline on the fixture matrix: recursive "
              "gunzip (O7-O8) → concatenated-DATA_MESSAGE split (O10) → "
              "from_json with corrupt-record quarantine (O11) → explode "
              "(O12) → enrichment + tags (O13-O15). Deterministic rows; "
              "verified by the pytest round-trip suite.")
def ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = raw_fixture_df(spark)
    events = flatten_events(parse_blocks(split_blocks(raw)))
    return events.select(
        "file", "block_index", "logGroup", "logStream", "logStreamPrefix",
        "event_id", "timestamp_ms", "message")


@register("ingest_pipeline_agg", oracle=f"""
SELECT file, logGroup, logStream,
       {sql_stream_prefix("logStream")} AS logStreamPrefix,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_event_ids,
       MIN(timestamp_ms) AS min_ts,
       MAX(timestamp_ms) AS max_ts,
       CAST(SUM(LENGTH(message)) AS BIGINT) AS msg_chars,
       MIN(event_id) AS first_event_id,
       MAX(event_id) AS last_event_id
FROM read_json('{TWIN_PATH}', format='newline_delimited',
               columns={{'file': 'VARCHAR', 'logGroup': 'VARCHAR',
                         'logStream': 'VARCHAR', 'event_id': 'VARCHAR',
                         'timestamp_ms': 'BIGINT', 'message': 'VARCHAR'}})
GROUP BY file, logGroup, logStream
""", doc="HASH-checked core of the ingest pipeline (upgrades the "
         "rows-only ingest_pipeline check): Spark runs the REAL "
         "splitter (recursive gunzip → marker scan → from_json → "
         "explode → prefix enrichment) over the encoded fixture bytes "
         "and aggregates per source file; the oracle aggregates a "
         "plain-NDJSON twin of the SAME fixture flattened straight "
         "from the generator's block dicts — events that never "
         "passed through encoding. Any split/parse/quarantine defect "
         "(lost block, duplicated event, mangled message, wrong "
         "prefix) shifts a count/min/max/checksum and breaks the "
         "hash. The empty + hazard files are absent from the twin: "
         "the pipeline must quarantine them to zero events or the "
         "row counts diverge. The splitter byte-machinery itself "
         "stays pytest-proven (tests/test_splitter_property.py).")
def ingest_pipeline_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = raw_fixture_df(spark)
    events = flatten_events(parse_blocks(split_blocks(raw)))
    return (events.groupBy("file", "logGroup", "logStream",
                           "logStreamPrefix")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.countDistinct("event_id").cast("long")
                 .alias("n_event_ids"),
                 F.min("timestamp_ms").alias("min_ts"),
                 F.max("timestamp_ms").alias("max_ts"),
                 F.sum(F.length("message")).cast("long")
                 .alias("msg_chars"),
                 F.min("event_id").alias("first_event_id"),
                 F.max("event_id").alias("last_event_id")))


@register("tag_prefix_derivation", oracle=f"""
SELECT o_orderkey,
       o_orderstatus || '/' || o_orderpriority || '/'
         || CAST(o_orderkey AS VARCHAR) AS synth_stream,
       {sql_stream_prefix("o_orderstatus || '/' || o_orderpriority || '/' || CAST(o_orderkey AS VARCHAR)")}
         AS stream_prefix
FROM orders
""", doc="The reference's logStreamPrefix derivation (first two '/'-"
         "segments, K:137) applied to synthesized paths — oracle-checked "
         "against the equivalent list-slice SQL.")
def tag_prefix_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    synth = ("concat_ws('/', o_orderstatus, o_orderpriority,"
             " CAST(o_orderkey AS STRING))")
    return orders.selectExpr(
        "o_orderkey", f"{synth} AS synth_stream",
        f"{spark_sql_stream_prefix(synth)} AS stream_prefix")
