"""Round-trip property tests for the ingest path — the one surface
DuckDB can't oracle (SURVEY.md §5): synthesize concatenated
DATA_MESSAGE files (gzip 0/1/2×), run the splitter+parser pipeline,
and require exact recovery of every event.
"""

from __future__ import annotations

import gzip
import json

import pytest

from kinesis_s3_data_shipper_spark.ingest.fixture import (
    LOG_STREAM_SHAPES, encode_blocks, make_block, make_raw_file)
from kinesis_s3_data_shipper_spark.ingest.pipeline import (
    build_payloads, flatten_events, parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import (
    gunzip_recursive, split_marker_blocks)
from kinesis_s3_data_shipper_spark.plans.ingest import raw_fixture_df


# ---------------------------------------------------------- pure-python unit

@pytest.mark.parametrize("depth", [0, 1, 2, 3])
def test_gunzip_recursive_any_depth(depth):
    raw = b'{"messageType":"DATA_MESSAGE","logEvents":[]}'
    data = raw
    for _ in range(depth):
        data = gzip.compress(data)
    assert gunzip_recursive(data) == raw


def test_gunzip_leaves_plain_bytes_alone():
    assert gunzip_recursive(b"plain text") == b"plain text"


@pytest.mark.parametrize("n_blocks", [1, 2, 7])
def test_split_marker_blocks_counts(n_blocks):
    blocks = [make_block(log_group="/g", log_stream="a/b", n_events=2,
                         base_ts_ms=1_585_699_200_000, event_offset=i * 2)
              for i in range(n_blocks)]
    data = encode_blocks(blocks)
    parts = split_marker_blocks(data)
    assert len(parts) == n_blocks
    # Every part must itself be valid JSON equal to its source block.
    for part, src in zip(parts, blocks):
        assert json.loads(part) == src


def test_split_drops_leading_garbage():
    block = make_block(log_group="/g", log_stream="a/b", n_events=1,
                       base_ts_ms=0)
    data = b"GARBAGE" + encode_blocks([block])
    parts = split_marker_blocks(data)
    assert len(parts) == 1
    assert json.loads(parts[0]) == block


def test_split_no_marker_yields_nothing():
    assert split_marker_blocks(b"no marker here") == []


# ------------------------------------------------------- spark round trips

def _expected_events():
    """Reproduce the fixture matrix event-by-event in plain Python."""
    from kinesis_s3_data_shipper_spark.ingest.fixture import fixture_files
    out = []
    for path, _ in fixture_files():
        if path.endswith(("empty.dat", "hazard.dat")):
            continue
        # nb{n}-epb{m}-gz{z}-s{i}
        stem = path.rsplit("/", 1)[-1].removesuffix(".dat")
        nb, epb, _gz, si = (int(p[2:]) if p[:2] in ("nb", "gz") else p
                            for p in stem.split("-"))
        nb = int(stem.split("-")[0][2:])
        epb = int(stem.split("-")[1][3:])
        si = int(stem.split("-")[3][1:])
        shape = LOG_STREAM_SHAPES[si]
        for b in range(nb):
            for i in range(epb):
                out.append((path, b, f"evt-{b * epb + i:012d}"))
    return out


def test_pipeline_roundtrip_exact(spark):
    events = flatten_events(parse_blocks(
        __import__("kinesis_s3_data_shipper_spark.ingest.splitter",
                   fromlist=["split_blocks"]).split_blocks(
            raw_fixture_df(spark))))
    got = {(r.file, r.block_index, r.event_id)
           for r in events.collect()
           if not r.file.endswith("hazard.dat")}
    assert got == set(_expected_events())


def test_pipeline_event_fields(spark):
    from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
    events = flatten_events(parse_blocks(split_blocks(
        raw_fixture_df(spark)))).filter("file LIKE '%nb1-epb1-gz2-s0%'")
    rows = events.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.logGroup == "/aws/lambda/fn"
    assert r.logStream == "2020/04/01/[$LATEST]abc"
    assert r.logStreamPrefix == "2020/04"  # '/'.join(split('/')[0:2])
    assert r.timestamp_ms == 1_585_699_200_000
    assert r.message == "line 0 in 2020/04/01/[$LATEST]abc"


def test_hazard_file_quarantined_not_fatal(spark):
    """A marker inside a message mis-splits (reference parity) but must
    be quarantined by the corrupt-record column, not crash the job."""
    from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
    parsed = parse_blocks(split_blocks(raw_fixture_df(spark)))
    hazard = parsed.filter("path LIKE '%hazard%'")
    # The file split into 2 pieces, both un-parseable → quarantined.
    assert hazard.count() == 2
    assert hazard.filter("_corrupt IS NOT NULL").count() == 2


def test_batching_respects_size_and_preserves_events(spark):
    from kinesis_s3_data_shipper_spark.ingest.splitter import split_blocks
    events = flatten_events(parse_blocks(split_blocks(
        raw_fixture_df(spark))))
    payloads = build_payloads(events, batch_size=30)
    rows = payloads.collect()
    assert all(r.n_events <= 30 for r in rows)
    # Payloads must partition the events exactly.
    assert sum(r.n_events for r in rows) == events.count()
    # And each payload is valid Humio-structured JSON.
    sample = json.loads(rows[0].payload)
    assert set(sample) == {"tags", "events"}
    assert {"logStreamPrefix", "logGroup"} == set(sample["tags"])


def test_sink_delivers_and_retries(spark):
    from kinesis_s3_data_shipper_spark.ingest.sink import deliver_partition

    class Row:
        def __init__(self, payload):
            self.payload = payload
            self.file, self.block_index, self.batch_id = "f", 0, 0

    calls = []

    def flaky(request):
        calls.append(request["idempotency_key"])
        return 500 if len(calls) == 1 else 200

    sent = deliver_partition([Row('{"a":1}'), Row('{"b":2}')], flaky,
                             backoff_s=0.0)
    assert sent == 2
    assert len(calls) == 3  # first payload retried once

    def dead(request):
        return 503

    with pytest.raises(RuntimeError, match="undeliverable"):
        deliver_partition([Row('{"c":3}')], dead, max_retries=1,
                          backoff_s=0.0)


def test_sink_fails_fast_on_permanent_4xx():
    """Permanent client errors (401/400) must NOT burn the retry loop —
    one attempt, immediate raise; 429 stays retryable."""
    from kinesis_s3_data_shipper_spark.ingest.sink import deliver_partition

    class Row:
        def __init__(self, payload):
            self.payload = payload
            self.file, self.block_index, self.batch_id = "f", 0, 0

    calls = []

    def unauthorized(request):
        calls.append(1)
        return 401

    with pytest.raises(RuntimeError, match="permanent"):
        deliver_partition([Row('{"a":1}')], unauthorized, max_retries=3,
                          backoff_s=0.0)
    assert len(calls) == 1  # no retries on a permanent error

    throttled = []

    def throttle_then_ok(request):
        throttled.append(1)
        return 429 if len(throttled) == 1 else 200

    assert deliver_partition([Row('{"b":2}')], throttle_then_ok,
                             backoff_s=0.0) == 1
    assert len(throttled) == 2  # 429 retried, then delivered


def test_sink_retries_connection_resets_exactly_once():
    """A transport that raises ConnectionResetError on the first attempt
    of every key still delivers each payload exactly once; a connection
    that never comes back fails after the bounded retries."""
    from kinesis_s3_data_shipper_spark.ingest.sink import (deliver_partition,
                                                           payload_key)

    class Row:
        def __init__(self, payload):
            self.payload = payload
            self.file, self.block_index, self.batch_id = "f", 0, 0

    rows = [Row(f'{{"n":{i}}}') for i in range(5)]
    reset, delivered = set(), []

    def resets_once(request):
        key = request["idempotency_key"]
        if key not in reset:
            reset.add(key)
            raise ConnectionResetError("connection reset by peer")
        delivered.append(key)
        return 200

    assert deliver_partition(rows, resets_once, backoff_s=0.0) == 5
    assert delivered == [payload_key(r.payload) for r in rows]

    attempts = []

    def refused(request):
        attempts.append(1)
        raise ConnectionRefusedError("connection refused")

    with pytest.raises(RuntimeError, match="ConnectionRefusedError"):
        deliver_partition(rows[:1], refused, max_retries=2, backoff_s=0.0)
    assert len(attempts) == 3


def test_transport_url_and_headers():
    from kinesis_s3_data_shipper_spark.ingest.transport import (build_headers,
                                                                build_url)
    assert (build_url("http://h:8080/", "/api/v1/ingest/humio-structured")
            == "http://h:8080/api/v1/ingest/humio-structured")
    assert (build_url("http://h", "api/x")
            == "http://h/api/x")
    h = build_headers("tkn", "k123")
    assert h["Authorization"] == "Bearer tkn"
    assert h["X-Idempotency-Key"] == "k123"
    assert h["Content-Type"] == "application/json"
    assert "Authorization" not in build_headers(None, "k")
