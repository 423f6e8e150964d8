"""The synthetic Kinesis-shard wrapper must produce bytes the real
ingest pipeline parses back losslessly — proving the whole chain
(source emulation → splitter → parser → flattener) composes.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from kinesis_s3_data_shipper_spark.ingest.pipeline import (
    flatten_events, parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
from kinesis_s3_data_shipper_spark.sources.kinesis import (
    firehose_landing_source, wrap_ticks_as_blocks)


def test_wrapped_ticks_roundtrip_through_pipeline(spark):
    base = datetime.datetime(2024, 1, 1)
    ticks = spark.createDataFrame(
        [(i, base + datetime.timedelta(seconds=i)) for i in range(100)],
        "value LONG, timestamp TIMESTAMP")
    raw = wrap_ticks_as_blocks(ticks, events_per_block=10)
    assert raw.count() == 10  # 100 ticks / 10 per block

    events = flatten_events(parse_blocks(split_blocks(raw)))
    rows = events.collect()
    assert len(rows) == 100
    ids = {r.event_id for r in rows}
    assert ids == {f"evt-{i}" for i in range(100)}
    # Enrichment applied: prefix = first two '/'-segments of logStream.
    assert all(r.logStreamPrefix == "rate/shard-0" for r in rows)
    assert all(r.logGroup == "/synthetic/rate" for r in rows)
    # Event-time survives the round trip (epoch millis).
    t0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
    by_id = {r.event_id: r.timestamp_ms for r in rows}
    assert by_id["evt-0"] == t0
    assert by_id["evt-99"] == t0 + 99_000


def test_firehose_source_streams_landing_dir(spark, tmp_path):
    from kinesis_s3_data_shipper_spark.ingest.fixture import make_raw_file
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.dat").write_bytes(
        make_raw_file(n_blocks=2, events_per_block=3, gzip_depth=1))

    raw = firehose_landing_source(spark, str(landing))
    assert raw.isStreaming
    events = flatten_events(parse_blocks(split_blocks(raw)))
    q = (events.writeStream.format("memory").queryName("fh_test")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("fh_test").count() == 6
