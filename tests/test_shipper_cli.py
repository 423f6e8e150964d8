"""End-to-end test of the shipper CLI (the reference's operational
surface): write raw fixture files to a landing dir, run batch mode with
tracking, verify parsed events + incremental skip on re-run, then the
streaming variant with a checkpoint.
"""

from __future__ import annotations

import hashlib
import http.server
import json
import os
import socket
import struct
import threading

import pytest

from pyspark.sql import functions as F

from kinesis_s3_data_shipper_spark import shipper
from kinesis_s3_data_shipper_spark.ingest.fixture import (fixture_files,
                                                          make_raw_file)
from kinesis_s3_data_shipper_spark.ingest.tracking import record_processed
from kinesis_s3_data_shipper_spark.shipper import main, redacted


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    for key, blob in fixture_files():
        path = d / key.replace("/", "__")
        path.write_bytes(blob)
    return str(d)


def run_metrics(err: str) -> dict:
    """The metrics record a run prints to stderr."""
    (line,) = [ln for ln in err.splitlines() if ln.startswith('{"metrics"')]
    return json.loads(line)["metrics"]


class HttpSink:
    """A local HTTP ingest endpoint that records every accepted POST as
    ``(path, headers, body)``. With ``reset_first_post`` it resets the
    connection, unanswered, on the first POST of each idempotency key
    (those keys are kept in ``resets``)."""

    def __init__(self) -> None:
        self.received: list[tuple[str, dict, bytes]] = []
        self.resets: set[str] = set()
        self.reset_first_post = False
        lock = threading.Lock()
        sink = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                key = self.headers["X-Idempotency-Key"]
                with lock:
                    reset = sink.reset_first_post and key not in sink.resets
                    if reset:
                        sink.resets.add(key)
                    else:
                        sink.received.append(
                            (self.path, dict(self.headers), body))
                if reset:
                    # Linger 0: closing sends RST, not FIN.
                    self.connection.setsockopt(
                        socket.SOL_SOCKET, socket.SO_LINGER,
                        struct.pack("ii", 1, 0))
                    self.close_connection = True
                    return
                self.send_response(200)
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = http.server.ThreadingHTTPServer(("127.0.0.1", 0),
                                                      Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        threading.Thread(target=self.server.serve_forever,
                         daemon=True).start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


@pytest.fixture()
def http_sink():
    sink = HttpSink()
    yield sink
    sink.close()


def test_redaction():
    got = redacted({"token": "s3cret", "input": "/x", "api_key": "k",
                    "empty_token": None})
    assert got == {"token": "****", "input": "/x", "api_key": "****",
                   "empty_token": None}


def test_batch_run_and_incremental_skip(spark, landing, tmp_path, capsys):
    out = str(tmp_path / "events_out")
    processed = str(tmp_path / "processed")

    assert main(["--input", landing, "--output", out,
                 "--processed-dir", processed, "--token", "hush"]) == 0
    n_first = spark.read.parquet(out).count()
    assert n_first > 0
    err = capsys.readouterr().err
    # Token never echoed in clear.
    assert "hush" not in err
    # Per-file zero-block warning (reference parity, K:114-115): the
    # fixture's empty.dat has no DATA_MESSAGE blocks.
    assert "warning: 0 message blocks in" in err
    assert "empty.dat" in err

    # Re-run: every file already tracked → short-circuit, no new rows.
    assert main(["--input", landing, "--output", out,
                 "--processed-dir", processed]) == 0
    assert spark.read.parquet(out).count() == n_first
    err = capsys.readouterr().err
    assert "nothing to do" in err


def test_batch_payloads_written(spark, landing, tmp_path):
    out = str(tmp_path / "ev")
    assert main(["--input", landing, "--output", out, "--payloads",
                 "--batch-size", "40"]) == 0
    payloads = spark.read.parquet(out + "_payloads")
    rows = payloads.collect()
    assert all(r.n_events <= 40 for r in rows)
    assert sum(r.n_events for r in rows) == spark.read.parquet(out).count()
    body = json.loads(rows[0].payload)
    assert set(body) == {"tags", "events"}


def test_batch_post_http_e2e(spark, landing, tmp_path, http_sink, capsys):
    """--payloads --post-url against a real local HTTP server: executor
    workers POST through the pooled transport; the server (driver
    process) must see every payload with auth + idempotency headers,
    and the run's metrics must count exactly the POSTs it received."""
    out = str(tmp_path / "ev")
    assert main(["--input", landing, "--output", out, "--payloads",
                 "--post-url", http_sink.url, "--token", "tkn",
                 "--batch-size", "40"]) == 0
    received = http_sink.received
    n_payloads = spark.read.parquet(out + "_payloads").count()
    assert len(received) == n_payloads > 0
    assert run_metrics(capsys.readouterr().err)["n_payloads_sent"] == \
        len(received)
    path, headers, body = received[0]
    assert path == "/api/v1/ingest/humio-structured"
    assert headers["Authorization"] == "Bearer tkn"
    assert headers["X-Idempotency-Key"]
    assert set(json.loads(body)) == {"tags", "events"}


def test_batch_post_retries_connection_resets(spark, tmp_path, http_sink,
                                              capsys):
    """The sink resets the connection on the first POST of every
    payload. Each reset retries inside the sink's backoff instead of
    failing the task, and every payload lands exactly once."""
    d = tmp_path / "landing"
    d.mkdir()
    for key, blob in fixture_files():
        if "/nb3-" in key:  # 12 files, 36 payloads: a short backoff bill
            (d / key.replace("/", "__")).write_bytes(blob)
    http_sink.reset_first_post = True
    out = str(tmp_path / "ev")
    assert main(["--input", str(d), "--output", out, "--payloads",
                 "--post-url", http_sink.url]) == 0
    keys = [headers["X-Idempotency-Key"]
            for _, headers, _ in http_sink.received]
    expected = {hashlib.sha256(r.payload.encode()).hexdigest()
                for r in spark.read.parquet(out + "_payloads").collect()}
    assert sorted(keys) == sorted(expected)
    assert http_sink.resets == expected
    assert run_metrics(capsys.readouterr().err)["n_payloads_sent"] == \
        len(expected)


def test_post_outage_no_loss_no_dup_across_retry(spark, landing, tmp_path):
    """Exactly-once delivery under an injected mid-run sink outage —
    the regression test for the reference's lost-batch flaw (K:158
    sets a failure flag but K:172-174 records the file as processed
    anyway, silently dropping the failed batches forever).

    Phase 1: a real local HTTP server accepts a few payloads, then is
    killed (listening socket closed → connection refused for every
    later POST). The run must FAIL — and, critically, must NOT record
    the input files as processed, so nothing is lost.

    Phase 2: the server restarts on the same port; the identical
    command re-runs (the operational retry). It must succeed, deliver
    EVERY payload, and re-send with the SAME idempotency keys, so a
    dedup-by-key receiver ingests each payload exactly once across
    both attempts — no loss (phase-2 alone covers the full set) and
    no duplicates (dedup by key equals the payload table's key set,
    with one body per key)."""
    out = str(tmp_path / "ev")
    processed = tmp_path / "processed"
    port_holder = {}
    received: list[tuple[str, str, bytes]] = []  # (phase, key, body)
    lock = threading.Lock()

    def make_server(phase: str, kill_after: int | None):
        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                with lock:
                    received.append(
                        (phase, self.headers["X-Idempotency-Key"], body))
                    n = sum(1 for p, _, _ in received if p == phase)
                self.send_response(200)
                self.end_headers()
                if kill_after is not None and n >= kill_after:
                    # Kill the server from outside the accept loop:
                    # later POSTs get connection-refused, the mid-run
                    # outage the reference mishandles.
                    threading.Thread(target=srv.shutdown).start()
                    srv.server_close()

            def log_message(self, *args):
                pass

        srv = http.server.ThreadingHTTPServer(
            ("127.0.0.1", port_holder.get("port", 0)), Handler)
        port_holder["port"] = srv.server_address[1]
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        return srv

    srv1 = make_server("p1", kill_after=2)
    args = lambda: ["--input", landing, "--output", out, "--payloads",  # noqa: E731
                    "--post-url", f"http://127.0.0.1:{port_holder['port']}",
                    "--processed-dir", str(processed), "--batch-size", "5"]
    cached_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        main(args())
    # The failed run leaves no cached events or payloads behind.
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == cached_rdds
    # The flaw under test: a failed delivery must NOT mark files done.
    assert not os.path.exists(str(processed)), (
        "files recorded as processed despite failed delivery — the "
        "reference's lost-batch behavior")

    srv2 = make_server("p2", kill_after=None)
    try:
        assert main(args()) == 0
    finally:
        srv2.shutdown()
        srv2.server_close()
        del srv1

    # Ground truth: every payload row written in EITHER attempt,
    # deduped by content key (re-runs append; content is identical).
    expected = {hashlib.sha256(r.payload.encode()).hexdigest()
                for r in spark.read.parquet(out + "_payloads").collect()}
    p2_keys = {k for p, k, _ in received if p == "p2"}
    # No loss: the retried run alone delivered the complete set.
    assert p2_keys == expected
    # Keys are honest (sha256 of the body they accompany) ...
    for _, key, body in received:
        assert hashlib.sha256(body).hexdigest() == key
    # ... so dedup-by-key ingests each payload exactly once across
    # both attempts: one distinct body per key, full coverage.
    by_key: dict[str, set[bytes]] = {}
    for _, key, body in received:
        by_key.setdefault(key, set()).add(body)
    assert set(by_key) == expected
    assert all(len(bodies) == 1 for bodies in by_key.values())
    # And the retried run marked the files processed.
    assert os.path.exists(str(processed))


def test_processed_dir_read_errors_are_fatal(spark, landing, tmp_path):
    """A corrupt processed-dir must FAIL the run, not silently disable
    tracking (which would re-append every previously-shipped file)."""
    processed = tmp_path / "processed"
    processed.mkdir()
    (processed / "part-00000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        main(["--input", landing, "--output", str(tmp_path / "o"),
              "--processed-dir", str(processed)])


def test_stream_requires_checkpoint(landing, tmp_path):
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream"]) == 2


def test_stream_rejects_batch_only_flags(landing, tmp_path, capsys):
    """streaming_ingest takes none of the batch-only flags, so --stream
    refuses them by name instead of silently dropping them."""
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream", "--checkpoint", str(tmp_path / "ckpt"),
                 "--payloads", "--prefix", "x", "--batch-size", "10"]) == 2
    err = capsys.readouterr().err.splitlines()[-1]
    assert err == ("--stream does not support --payloads, --prefix, "
                   "--batch-size")
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream", "--checkpoint", str(tmp_path / "ckpt"),
                 "--post-url", "http://127.0.0.1:9", "--declarative",
                 "--processed-dir", str(tmp_path / "p")]) == 2
    err = capsys.readouterr().err.splitlines()[-1]
    assert err == ("--stream does not support --post-url, "
                   "--processed-dir, --declarative")
    assert not os.path.exists(str(tmp_path / "o"))


def test_stream_run(spark, landing, tmp_path):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    assert main(["--input", landing, "--output", out,
                 "--stream", "--checkpoint", ckpt]) == 0
    n = spark.read.parquet(out).count()
    assert n > 0
    # Re-run with the same checkpoint: no files re-processed.
    assert main(["--input", landing, "--output", out,
                 "--stream", "--checkpoint", ckpt]) == 0
    assert spark.read.parquet(out).count() == n


def test_batch_declarative_matches_imperative(spark, landing, tmp_path,
                                              capsys):
    """--declarative (custom DataSource scan) must produce the exact
    event set of the default binaryFile+splitter path, and keep the
    tracking/zero-block-warning behavior."""
    out_imp = str(tmp_path / "ev_imp")
    out_dec = str(tmp_path / "ev_dec")
    processed = str(tmp_path / "processed_dec")

    assert main(["--input", landing, "--output", out_imp]) == 0
    assert main(["--input", landing, "--output", out_dec, "--declarative",
                 "--processed-dir", processed]) == 0
    err = capsys.readouterr().err
    assert "warning: 0 message blocks in" in err and "empty.dat" in err

    key = ["file", "block_index", "event_id"]

    def canon(path):
        return {tuple(os.path.basename(r.file).split("__")[-1:] +
                      [r.block_index, r.event_id])
                for r in spark.read.parquet(path).select(*key).collect()}

    got_imp, got_dec = canon(out_imp), canon(out_dec)
    assert got_dec == got_imp and len(got_dec) > 0

    # Incremental skip works on OS-path tracking keys too.
    assert main(["--input", landing, "--output", out_dec, "--declarative",
                 "--processed-dir", processed]) == 0
    assert "nothing to do" in capsys.readouterr().err


def events_per_file(spark, out: str) -> dict[str, int]:
    return {r.file: r.n for r in
            spark.read.parquet(out).groupBy("file").agg(
                F.count(F.lit(1)).alias("n")).collect()}


def test_batch_odd_filenames_ship_once(spark, tmp_path, capsys):
    """Keys with spaces, escapes and Hadoop glob characters load as
    exactly their own file: unescaped, ``ship*.log`` would also read its
    siblings and ``ship[1].log`` would read ``ship1.log``. The ``:``
    sibling (a name Hadoop cannot open) stays outside ``--prefix``; an
    unescaped glob would fail listing beside it."""
    d = tmp_path / "landing"
    d.mkdir()
    names = ["ship a b.log", "ship%20c.log", "ship[1].log", "ship1.log",
             "ship{a,b}.log", "shipa.log", "shipb.log", "ship*.log",
             "ship?.log", "ship\\x.log"]
    blob = make_raw_file(n_blocks=2, events_per_block=3, gzip_depth=1)
    for name in names + ["skip:me.log"]:
        (d / name).write_bytes(blob)
    out = str(tmp_path / "ev")
    processed = str(tmp_path / "processed")
    args = ["--input", str(d), "--output", out, "--processed-dir",
            processed, "--prefix", f"file:{d}/ship"]

    assert main(args) == 0
    assert events_per_file(spark, out) == {
        f"file:{d}/{name}": 6 for name in names}
    recorded = [r.path for r in spark.read.parquet(processed).collect()]
    assert sorted(recorded) == sorted(f"file:{d}/{n}" for n in names)

    capsys.readouterr()
    assert main(args) == 0
    assert "nothing to do" in capsys.readouterr().err


def test_batch_skips_keys_recorded_from_listing(spark, landing, tmp_path):
    """A processed dir holding binaryFile listing keys (what earlier
    versions recorded) still skips those files, and the keys the run
    records are byte-identical to the listing's."""
    listing = (spark.read.format("binaryFile")
               .option("recursiveFileLookup", "true").load(landing)
               .select("path"))
    keys = sorted(r.path for r in listing.collect())
    old, new = keys[::2], keys[1::2]
    processed = str(tmp_path / "processed")
    record_processed(processed, listing.filter(F.col("path").isin(old)))

    out = str(tmp_path / "ev")
    assert main(["--input", landing, "--output", out,
                 "--processed-dir", processed]) == 0
    shipped = set(events_per_file(spark, out))
    assert shipped and shipped <= set(new)
    recorded = sorted(r.path for r in spark.read.parquet(processed).collect())
    assert recorded == keys


def test_batch_vanished_file_fails_unrecorded(spark, landing, tmp_path,
                                              monkeypatch):
    """A worklist file deleted between the listing and the read fails
    the run, and no key is recorded."""
    listed = shipper._worklist

    def list_then_delete(spark, ns):
        worklist = listed(spark, ns)
        os.remove(worklist[0][len("file:"):])
        return worklist

    monkeypatch.setattr(shipper, "_worklist", list_then_delete)
    processed = tmp_path / "processed"
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        main(["--input", landing, "--output", str(tmp_path / "ev"),
              "--processed-dir", str(processed)])
    assert not processed.exists()


def test_batch_post_job_count(spark, landing, tmp_path, http_sink):
    """Structural guard on the one-pass plan: the Spark jobs of one
    ``--payloads --post-url`` run over the fixture landing dir. They are
    the listing; Spark's listing of the 74 explicit paths (it lists more
    than 32 paths with a job); the events write, which fills the cache;
    and four for payload assembly, its write and the send (AQE runs
    shuffle stages as jobs of their own). Earlier versions ran 8, two
    of them to broadcast a Python-RDD worklist frame: once for the
    events and again for a second split and parse for the payloads."""
    sc = spark.sparkContext
    group = "test_batch_post_job_count"
    sc.setJobGroup(group, group)
    try:
        assert main(["--input", landing, "--output", str(tmp_path / "ev"),
                     "--payloads", "--post-url", http_sink.url,
                     "--batch-size", "40"]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 7
    assert http_sink.received
