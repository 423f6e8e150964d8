"""The Firehose landing source must stream a landing dir through the
real ingest chain (splitter → parser → flattener).
"""

from __future__ import annotations

from kinesis_s3_data_shipper_spark.ingest.pipeline import (
    flatten_events, parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
from kinesis_s3_data_shipper_spark.sources.kinesis import (
    firehose_landing_source)


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
