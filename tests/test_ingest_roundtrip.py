"""Round-trip property tests for the ingest path — the one surface
DuckDB can't oracle (SURVEY.md §5): synthesize concatenated
DATA_MESSAGE files (gzip 0/1/2×), run the splitter+parser pipeline,
and require exact recovery of every event.
"""

from __future__ import annotations

import gzip
import json
from collections import Counter

import pytest

from kinesis_s3_data_shipper_spark.ingest.fixture import (
    LOG_STREAM_SHAPES, encode_blocks, make_block, make_raw_file)
from kinesis_s3_data_shipper_spark.ingest.pipeline import (
    block_payloads, build_payloads, flatten_events, parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import (
    SPLIT_SCHEMA, gunzip_recursive, split_blocks, split_marker_blocks)
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


def window_groupby_payloads(events, batch_size):
    """The payload assembly of earlier versions, kept as the oracle:
    number each block's events by id in a window, then regroup them per
    chunk. Payload rows must stay byte-identical to it, because the
    idempotency key is the sha256 of the payload."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    w = W.partitionBy("file", "block_index").orderBy("event_id")
    chunked = events.withColumn(
        "batch_id", ((F.row_number().over(w) - F.lit(1)) / batch_size)
        .cast("int"))
    return (
        chunked.groupBy("file", "block_index", "batch_id",
                        "logStreamPrefix", "logGroup")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("timestamp_ms").alias("timestamp"),
            F.struct(
                F.col("event_id").alias("id"),
                F.col("message").alias("message"),
                F.col("file").alias("file"),
                F.col("logStream").alias("logStream"),
            ).alias("attributes")))).alias("events"))
        .select(
            "file", "block_index", "batch_id",
            F.to_json(F.struct(
                F.struct(
                    F.col("logStreamPrefix").alias("logStreamPrefix"),
                    F.col("logGroup").alias("logGroup")).alias("tags"),
                F.col("events"))).alias("payload"),
            F.size("events").alias("n_events"))
    )


def payload_rows(payloads) -> list[tuple]:
    return sorted(tuple(r) for r in payloads.select(
        "file", "block_index", "batch_id", "payload", "n_events").collect())


@pytest.fixture(scope="module")
def fixture_parsed(spark):
    """The fixture matrix parsed, hazard and empty files included."""
    parsed = parse_blocks(split_blocks(raw_fixture_df(spark))).persist()
    yield parsed
    parsed.unpersist()


@pytest.mark.parametrize("batch_size", [1, 7, 30, 5000])
def test_block_payloads_match_window_groupby(fixture_parsed, batch_size):
    events = flatten_events(fixture_parsed)
    want = payload_rows(window_groupby_payloads(events, batch_size))
    assert want
    assert payload_rows(block_payloads(fixture_parsed, batch_size)) == want
    assert payload_rows(build_payloads(events, batch_size)) == want


def parsed_blocks(spark, blocks: list[dict]):
    """One file's blocks, parsed as the splitter would hand them over."""
    return parse_blocks(spark.createDataFrame(
        [("file:/in.dat", json.dumps(b, separators=(",", ":")), i)
         for i, b in enumerate(blocks)], SPLIT_SCHEMA))


def test_block_payloads_edge_cases(spark):
    def block(n, offset=0):
        return make_block(log_group="/g", log_stream="a/b/c", n_events=n,
                          base_ts_ms=1_585_699_200_000, event_offset=offset)

    empty, exact, dup = block(0), block(5), block(4)
    # Ids evt-0..2 twice, the second time with other messages.
    again = block(3)["logEvents"]
    for ev in again:
        ev["message"] = "again: " + ev["message"]
    dup["logEvents"] += again
    missing = block(2)
    del missing["logEvents"]
    # Timestamps that run against the ids: chunks are cut in id order,
    # and each payload lists its events in timestamp order.
    backwards = block(12)
    for i, ev in enumerate(backwards["logEvents"]):
        ev["timestamp"] = 1_585_699_200_000 - 137 * i
    parsed = parsed_blocks(spark, [empty, exact, dup, missing, backwards])
    rows = block_payloads(parsed, 5).filter("block_index != 4").collect()
    by_block = {}
    for r in rows:
        by_block.setdefault(r.block_index, []).append(r)
    # No payload from an empty or missing logEvents; exactly batch_size
    # events make one payload, with no empty chunk after it.
    assert sorted(by_block) == [1, 2]
    assert [(r.batch_id, r.n_events) for r in by_block[1]] == [(0, 5)]
    # Duplicate ids: every event is shipped once, in chunks of <= 5.
    assert sorted((r.batch_id, r.n_events) for r in by_block[2]) == \
        [(0, 5), (1, 2)]
    shipped = Counter(
        (ev["attributes"]["id"], ev["attributes"]["message"])
        for r in by_block[2] for ev in json.loads(r.payload)["events"])
    assert shipped == Counter((ev["id"], ev["message"])
                              for ev in dup["logEvents"])
    unique = parsed.filter("block_index != 2")
    assert payload_rows(block_payloads(unique, 5)) == payload_rows(
        window_groupby_payloads(flatten_events(unique), 5))
    with pytest.raises(ValueError, match="at least 1"):
        block_payloads(parsed, 0)


def test_run_batch_payload_plan_has_no_exchange(spark, tmp_path, http_sink,
                                                monkeypatch):
    """The payload job run_batch builds (assemble, POST, write) is
    narrow: its plan holds no Exchange."""
    from pyspark.sql.readwriter import DataFrameWriter

    from kinesis_s3_data_shipper_spark.ingest.fixture import fixture_files
    from kinesis_s3_data_shipper_spark.shipper import main

    landing = tmp_path / "landing"
    landing.mkdir()
    for key, blob in fixture_files()[:8]:
        (landing / key.replace("/", "__")).write_bytes(blob)
    plans = {}
    write = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        plans[path] = self._df._jdf.queryExecution().executedPlan().toString()
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    out = str(tmp_path / "ev")
    assert main(["--input", str(landing), "--output", out, "--payloads",
                 "--post-url", http_sink.url, "--batch-size", "7"]) == 0
    plan = plans[out + "_payloads"]
    assert "MapInArrow" in plan and "Generate posexplode" in plan
    assert "Exchange" not in plan
    assert http_sink.received


def test_send_payloads_posts_every_row_in_one_job(spark, http_sink):
    from kinesis_s3_data_shipper_spark.ingest.sink import (payload_key,
                                                           send_payloads)
    from kinesis_s3_data_shipper_spark.ingest.transport import (
        http_transport_factory)

    rows = [("f", 0, i, f'{{"n":{i}}}', 1) for i in range(5)]
    payloads = spark.createDataFrame(
        rows, "file string, block_index int, batch_id int, payload string,"
              " n_events int")
    sc = spark.sparkContext
    group = "test_send_payloads_posts_every_row_in_one_job"
    sc.setJobGroup(group, group)
    try:
        sent = send_payloads(payloads, http_transport_factory(http_sink.url))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sent == 5
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert sorted(h["X-Idempotency-Key"] for _, h, _ in http_sink.received) \
        == sorted(payload_key(r[3]) for r in rows)


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
