"""The declarative half of the ingest pipeline: parse → flatten →
enrich → tag → batch-assemble. Everything here is built-in DataFrame
ops (from_json / explode / sort_array / slice / posexplode / to_json),
so Catalyst prunes the JSON parse to the fields used and the whole
chain is narrow, with no shuffle at all: batch assembly works inside
each parsed block, the reference's per-block payload granularity
(kinesis-to-humio.py:136-164), so it never needs to regroup events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.strings import spark_sql_stream_prefix
from .fixture import BLOCK_SCHEMA_DDL

#: PERMISSIVE parse with quarantine: malformed blocks (e.g. the marker-
#: inside-message mis-split hazard) land in _corrupt instead of killing
#: the job — strictly better than the reference, which raises at K:131.
PARSE_SCHEMA = BLOCK_SCHEMA_DDL + ", _corrupt STRING"

#: One chunk's events as the payload lists them: Humio's
#: {timestamp, attributes} shape, attributes enriched like the
#: reference (K:136-148), sorted by (timestamp, id, ...).
_PAYLOAD_EVENTS = (
    "sort_array(transform(chunk, e -> named_struct("
    "'timestamp', e.timestamp, 'attributes', named_struct("
    "'id', e.id, 'message', e.message, 'file', file,"
    " 'logStream', logStream))))")
_STREAM_PREFIX = spark_sql_stream_prefix("logStream")


def parse_blocks(split_df: DataFrame) -> DataFrame:
    """Block JSON strings → typed columns (+ _corrupt quarantine)."""
    parsed = split_df.withColumn(
        "msg", F.from_json(
            "block", PARSE_SCHEMA,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"}))
    return parsed.select(
        "path", "block_index", "msg.*")


def _valid(parsed: DataFrame) -> DataFrame:
    """The blocks that parsed and carry a logEvents array."""
    return parsed.filter("_corrupt IS NULL AND logEvents IS NOT NULL")


def flatten_events(parsed: DataFrame) -> DataFrame:
    """Valid blocks → one row per log event, enriched like the
    reference (K:136-148): provenance `file`, copied-down `logStream`,
    tags `logStreamPrefix` + `logGroup`, epoch-ms → TimestampType.
    SQL-string projections: each is one driver call, not one per
    Column."""
    return (
        _valid(parsed).selectExpr(
            "path", "block_index", "logGroup", "logStream",
            "explode(logEvents) AS event")
        .selectExpr(
            "path AS file", "block_index", "logGroup", "logStream",
            f"{_STREAM_PREFIX} AS logStreamPrefix",
            "event.id AS event_id", "event.timestamp AS timestamp_ms",
            "timestamp_millis(event.timestamp) AS ts",
            "event.message AS message")
    )


def _assemble(blocks: DataFrame, batch_size: int) -> DataFrame:
    """(path, block_index, logGroup, logStream, logEvents) blocks →
    (file, block_index, batch_id, payload, n_events) payload rows.

    A block's events are sorted by id (the element struct leads with
    it) and sliced into chunks of ≤batch_size — the reference's
    flush-every-N (K:150, default 5000 at K:265) — and each chunk
    becomes one JSON payload: {tags: {...}, events: [...]}. Row-local
    all the way: one projection, one posexplode, one projection."""
    if batch_size < 1:
        raise ValueError(f"batch_size must be at least 1, not {batch_size}")
    # An empty logEvents would make sequence(0, -1) count down: skip it.
    nonempty = blocks.filter("size(logEvents) > 0").selectExpr(
        "path AS file", "block_index", "logGroup", "logStream",
        "sort_array(logEvents) AS sorted")
    # posexplode is a Generate, so `sorted` is computed once per block,
    # not once per chunk.
    chunks = nonempty.selectExpr(
        "file", "block_index", "logGroup", "logStream",
        f"posexplode(transform(sequence(0, (size(sorted) - 1) div "
        f"{batch_size}), i -> slice(sorted, i * {batch_size} + 1, "
        f"{batch_size}))) AS (batch_id, chunk)")
    return chunks.selectExpr(
        "file", "block_index", "batch_id",
        "to_json(named_struct("
        f"'tags', named_struct('logStreamPrefix', {_STREAM_PREFIX},"
        " 'logGroup', logGroup),"
        f" 'events', {_PAYLOAD_EVENTS})) AS payload",
        "size(chunk) AS n_events")


def block_payloads(parsed: DataFrame, batch_size: int = 5000) -> DataFrame:
    """Humio-structured-API payload rows straight from parsed blocks,
    with no shuffle: each valid block's events are chunked within that
    block."""
    return _assemble(_valid(parsed), batch_size)


def build_payloads(events: DataFrame, batch_size: int = 5000) -> DataFrame:
    """The payload rows of ``block_payloads``, from flattened events:
    regroups the events per (file, block) first, which costs a shuffle
    that ``block_payloads`` does not need."""
    blocks = events.groupBy(
        F.col("file").alias("path"), "block_index", "logGroup", "logStream",
    ).agg(F.collect_list(F.struct(
        F.col("event_id").alias("id"),
        F.col("timestamp_ms").alias("timestamp"),
        F.col("message").alias("message"))).alias("logEvents"))
    return _assemble(blocks, batch_size)
