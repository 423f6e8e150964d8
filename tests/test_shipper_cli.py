"""End-to-end test of the shipper CLI (the reference's operational
surface): write raw fixture files to a landing dir, run batch mode with
tracking, verify parsed events + incremental skip on re-run, then the
streaming variant with a checkpoint.
"""

from __future__ import annotations

import glob
import hashlib
import http.server
import json
import os
import threading
from collections import Counter

import pytest

from pyspark.sql import functions as F

from kinesis_s3_data_shipper_spark import shipper
from kinesis_s3_data_shipper_spark.ingest.fixture import (
    fixture_files, ground_truth_events, make_raw_file)
from kinesis_s3_data_shipper_spark.ingest.tracking import (
    filter_unprocessed, record_processed)
from kinesis_s3_data_shipper_spark.shipper import (
    SHIP_TASK_FLOOR_BYTES, main, redacted, ship_partitions)

from .conftest import jobs_and_tasks, persisted_since


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    for key, blob in fixture_files():
        path = d / key.replace("/", "__")
        path.write_bytes(blob)
    return str(d)


def metric_records(err: str) -> list[dict]:
    """The metrics records a run prints to stderr, one per ship step."""
    return [json.loads(ln)["metrics"] for ln in err.splitlines()
            if ln.startswith('{"metrics"')]


def run_metrics(err: str) -> dict:
    """The metrics record a batch run prints to stderr."""
    (record,) = metric_records(err)
    return record


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


def test_batch_post_survives_5xx_bursts(spark, tmp_path, http_sink, capsys):
    """The sink answers 503 to the first POST of every payload. Each
    503 retries inside the sink's backoff, the run succeeds, every key
    lands once after dedup by key, and ``n_payloads_sent`` counts the
    payload rows written."""
    d = tmp_path / "landing"
    d.mkdir()
    for key, blob in fixture_files():
        if "/nb3-" in key:
            (d / key.replace("/", "__")).write_bytes(blob)
    http_sink.first_post_status = 503
    out = str(tmp_path / "ev")
    assert main(["--input", str(d), "--output", out, "--payloads",
                 "--post-url", http_sink.url]) == 0
    written = spark.read.parquet(out + "_payloads").collect()
    expected = {hashlib.sha256(r.payload.encode()).hexdigest()
                for r in written}
    keys = [headers["X-Idempotency-Key"]
            for _, headers, _ in http_sink.received]
    assert sorted(keys) == sorted(expected)
    assert http_sink.refused == expected
    assert run_metrics(capsys.readouterr().err)["n_payloads_sent"] == \
        len(written)


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
    with persisted_since(spark) as left, pytest.raises(Exception):
        main(args())
    # The failed run leaves no cached blocks behind.
    assert not left, left
    # The POSTs run inside the payload write, so a failed delivery
    # commits no payload rows: the re-run does not append them twice.
    assert not glob.glob(os.path.join(out + "_payloads", "*.parquet"))
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


def test_processed_dir_without_path_column_is_fatal(spark, landing,
                                                    tmp_path):
    """A processed dir whose parquet has no ``path`` column (a foreign
    table) reads as null keys under the record's schema; the run must
    fail on them, not skip nothing, and record nothing."""
    processed = str(tmp_path / "processed")
    spark.createDataFrame([("file:/elsewhere/a.log",)],
                          "key string").write.parquet(processed)
    before = sorted(os.listdir(processed))
    out = str(tmp_path / "o")
    with pytest.raises(Exception, match="holds a record without a path"):
        main(["--input", landing, "--output", out,
              "--processed-dir", processed])
    assert sorted(os.listdir(processed)) == before
    assert not os.path.exists(out)


def test_empty_processed_dir_is_a_first_run(spark, landing, tmp_path):
    """An existing but empty processed dir holds no keys: the run ships
    every file and records every key, as a first run does."""
    processed = tmp_path / "processed"
    processed.mkdir()
    out = str(tmp_path / "o")
    assert main(["--input", landing, "--output", out,
                 "--processed-dir", str(processed)]) == 0
    keys = sorted(r.path for r in spark.read.format("binaryFile")
                  .load(landing).select("path").collect())
    recorded = sorted(r.path for r in
                      spark.read.parquet(str(processed)).collect())
    assert recorded == keys
    assert set(events_per_file(spark, out)) == {
        f"file:{landing}/{ev['file'].replace('/', '__')}"
        for ev in ground_truth_events()}


@pytest.mark.parametrize("total,cores,want", [
    (13_000, 4, 1),                  # a cron tick of 8 small files
    (3_300_000, 4, None),            # a backfill's 3.3 MB keeps 4 tasks
    (0, 4, 1),                       # only empty files
    (2 * SHIP_TASK_FLOOR_BYTES + 1, 8, 3),
])
def test_ship_partitions(total, cores, want):
    assert ship_partitions(total, cores) == want


@pytest.mark.parametrize("cores", [1, 2, 4, 8, 64])
def test_ship_partitions_leaves_large_worklists(cores):
    """At or above one floor per core the scan keeps its own
    partitioning."""
    for total in (cores * SHIP_TASK_FLOOR_BYTES,
                  cores * SHIP_TASK_FLOOR_BYTES + 1,
                  100 * cores * SHIP_TASK_FLOOR_BYTES):
        assert ship_partitions(total, cores) is None


def test_stream_requires_checkpoint(landing, tmp_path):
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream"]) == 2


def test_stream_rejects_batch_only_flags(landing, tmp_path, capsys):
    """The checkpoint is the stream's record, so --stream refuses the
    batch record's flags by name instead of silently dropping them,
    and accepts the ship step's flags."""
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream", "--checkpoint", str(tmp_path / "ckpt"),
                 "--prefix", "x", "--processed-dir", str(tmp_path / "p")]) == 2
    err = capsys.readouterr().err.splitlines()[-1]
    assert err == "--stream does not support --prefix, --processed-dir"
    assert main(["--input", landing, "--output", str(tmp_path / "o"),
                 "--stream", "--checkpoint", str(tmp_path / "ckpt"),
                 "--payloads", "--post-url", "http://127.0.0.1:9",
                 "--batch-size", "10", "--token", "t",
                 "--processed-dir", str(tmp_path / "p")]) == 2
    err = capsys.readouterr().err.splitlines()[-1]
    assert err == "--stream does not support --processed-dir"
    assert not os.path.exists(str(tmp_path / "o"))


def test_stream_run(spark, landing, tmp_path, http_sink, capsys):
    """--stream runs the batch ship step once per epoch: it prints the
    batch mode's metrics record per epoch, and those records add up to
    the events and payloads it wrote."""
    assert main(["--input", landing, "--output", str(tmp_path / "batch")]) == 0
    batch_keys = set(run_metrics(capsys.readouterr().err))

    out = str(tmp_path / "stream_out")
    args = ["--input", landing, "--output", out, "--stream",
            "--checkpoint", str(tmp_path / "ckpt"), "--payloads",
            "--post-url", http_sink.url, "--batch-size", "40"]
    assert main(args) == 0
    records = metric_records(capsys.readouterr().err)
    assert len(records) == 2  # 74 files, at most 64 per trigger
    assert all(set(r) == batch_keys for r in records)
    n = spark.read.parquet(out).count()
    assert n > 0
    assert sum(r["n_events"] for r in records) == n
    n_payloads = spark.read.parquet(out + "_payloads").count()
    assert sum(r["n_payloads_sent"] for r in records) == n_payloads == \
        len(http_sink.received)
    # Re-run with the same checkpoint: no files re-processed.
    assert main(args) == 0
    assert metric_records(capsys.readouterr().err) == []
    assert spark.read.parquet(out).count() == n
    # A new file: the next run picks up exactly its events.
    new = os.path.join(landing, "new.dat")
    with open(new, "wb") as fh:
        fh.write(make_raw_file(n_blocks=2, events_per_block=3, gzip_depth=1))
    assert main(args) == 0
    (record,) = metric_records(capsys.readouterr().err)
    assert record["n_events"] == 6
    events = spark.read.parquet(out)
    assert events.count() == n + 6
    assert events.filter(F.col("file") == f"file:{new}").count() == 6


def test_stream_post_failure_then_rerun_ships_once(spark, landing, tmp_path,
                                                   http_sink):
    """--stream --payloads --post-url against a sink that answers 400
    (a permanent error) to every first POST: the first epoch fails
    after its events write. The re-run on the same checkpoint replays
    that epoch into its own ``_epoch`` partition, so each (file, event
    id) is in the events output exactly once, and every event is
    delivered."""
    out = str(tmp_path / "ev")
    args = ["--input", landing, "--output", out, "--stream",
            "--checkpoint", str(tmp_path / "ckpt"), "--payloads",
            "--post-url", http_sink.url, "--batch-size", "40"]
    http_sink.first_post_status = 400
    with pytest.raises(Exception, match="undeliverable batch"):
        main(args)
    assert spark.read.parquet(out).count() > 0
    assert http_sink.received == []

    http_sink.first_post_status = None
    assert main(args) == 0
    events = spark.read.parquet(out)
    assert sorted(r._epoch for r in events.select("_epoch").distinct()
                  .collect()) == [0, 1]
    expected = Counter(
        (f"file:{landing}/{ev['file'].replace('/', '__')}", ev["event_id"])
        for ev in ground_truth_events())
    assert Counter((r.file, r.event_id)
                   for r in events.select("file", "event_id").collect()) \
        == expected
    delivered = Counter(
        (ev["attributes"]["file"], ev["attributes"]["id"])
        for _, _, body in http_sink.received
        for ev in json.loads(body)["events"])
    assert delivered == expected


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
    # A plain-path prefix selects the same keys as the file: URI one.
    for run, prefix in enumerate([f"file:{d}/ship", f"{d}/ship"]):
        out = str(tmp_path / f"ev{run}")
        processed = str(tmp_path / f"processed{run}")
        args = ["--input", str(d), "--output", out, "--processed-dir",
                processed, "--prefix", prefix]

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


def test_filter_unprocessed_sort_merge_join(spark, tmp_path):
    """With broadcast joins off, the tracking anti-join plans a
    sort-merge join (no hint forces a broadcast of the growing key
    table) and skips exactly the recorded keys, duplicates and all."""
    keys = [f"file:/landing/f-{i:03d}.log" for i in range(30)]
    processed = str(tmp_path / "processed")
    record_processed(processed, spark.createDataFrame(
        [(k,) for k in keys[::3] * 2], "path string"))
    candidates = spark.createDataFrame([(k,) for k in keys], "path string")
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        kept = filter_unprocessed(candidates, spark.read.parquet(processed))
        got = sorted(r.path for r in kept.collect())
        plan = kept._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(threshold, old)
    assert "SortMergeJoin" in plan and "Broadcast" not in plan
    assert got == sorted(set(keys) - set(keys[::3]))


def test_batch_vanished_file_fails_unrecorded(spark, landing, tmp_path,
                                              monkeypatch):
    """A worklist file deleted between the listing and the read fails
    the run, and no key is recorded."""
    listed = shipper._worklist

    def list_then_delete(spark, ns):
        worklist = listed(spark, ns)
        os.remove(worklist[0][0][len("file:"):])
        return worklist

    monkeypatch.setattr(shipper, "_worklist", list_then_delete)
    processed = tmp_path / "processed"
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        main(["--input", landing, "--output", str(tmp_path / "ev"),
              "--processed-dir", str(processed)])
    assert not processed.exists()


def test_batch_truncated_gzip_fails_then_ships_once(spark, landing, tmp_path,
                                                    http_sink):
    """A truncated gzip file among good files fails the run before any
    payload is sent or any key recorded. Once a good copy replaces it,
    the re-run delivers every event exactly once."""
    good = make_raw_file(n_blocks=3, events_per_block=5, gzip_depth=1)
    late = os.path.join(landing, "late.gz")
    with open(late, "wb") as fh:
        fh.write(good[:len(good) // 2])
    processed = tmp_path / "processed"
    args = ["--input", landing, "--output", str(tmp_path / "ev"),
            "--payloads", "--post-url", http_sink.url,
            "--processed-dir", str(processed), "--batch-size", "40"]

    with pytest.raises(Exception, match="EOFError"):
        main(args)
    assert not processed.exists()
    assert http_sink.received == []

    with open(late, "wb") as fh:
        fh.write(good)
    assert main(args) == 0
    delivered = Counter(
        (ev["attributes"]["file"], ev["attributes"]["id"])
        for _, _, body in http_sink.received
        for ev in json.loads(body)["events"])
    expected = [(f"file:{landing}/{ev['file'].replace('/', '__')}",
                 ev["event_id"]) for ev in ground_truth_events()]
    expected += [(f"file:{late}", f"evt-{i:012d}") for i in range(15)]
    assert delivered == Counter(expected)
    assert len(expected) == len(set(expected))


def test_batch_post_job_count(spark, landing, tmp_path, http_sink):
    """Structural guard on the one-pass plan: the Spark jobs of one
    ``--payloads --post-url`` run over the fixture landing dir. They are
    the listing; Spark's listing of the 74 explicit paths (it lists more
    than 32 paths with a job); the events write, which fills the cache
    of parsed blocks; and one job that assembles the payloads block by
    block, POSTs them and writes them. A shuffle in payload assembly
    (AQE runs each shuffle stage as a job) or a send job of its own
    would add jobs. The fixture's 74 files hold well under one
    ``SHIP_TASK_FLOOR_BYTES``, so each ship stage runs one task."""
    with jobs_and_tasks(spark, "test_batch_post_job_count") as jobs:
        assert main(["--input", landing, "--output", str(tmp_path / "ev"),
                     "--payloads", "--post-url", http_sink.url,
                     "--batch-size", "40"]) == 0
    assert len(jobs) == 4
    assert jobs[2:] == [[1], [1]]
    assert http_sink.received


def test_batch_processed_dir_job_count(spark, landing, tmp_path):
    """Structural guard on tracking: the Spark jobs of a
    ``--processed-dir`` re-run that finds 2 new files beside the 74 the
    first run recorded. They are the listing's anti-join against the
    recorded keys, two jobs (the planner broadcasts the small key
    table, then the listing is collected); the events write; and the
    record. A ``distinct()`` on either side of tracking would add a job
    (AQE runs each shuffle stage as a job). The 2 new files are packed
    into one partition, so the events write runs one task, and the run
    leaves the session's conf as it found it."""
    out = str(tmp_path / "ev")
    args = ["--input", landing, "--output", out,
            "--processed-dir", str(tmp_path / "processed")]
    assert main(args) == 0
    for name in ("new1.dat", "new2.dat"):
        with open(os.path.join(landing, name), "wb") as fh:
            fh.write(make_raw_file(n_blocks=2, events_per_block=3,
                                   gzip_depth=1))
    conf = spark.conf.getAll
    with jobs_and_tasks(spark, "test_batch_processed_dir_job_count") as jobs:
        assert shipper.run_batch(
            spark, shipper.build_parser().parse_args(args)) == 0
    assert spark.conf.getAll == conf
    assert len(jobs) == 4
    assert jobs[2] == [1]
    assert set(events_per_file(spark, out)) >= {
        f"file:{landing}/new1.dat", f"file:{landing}/new2.dat"}


@pytest.mark.parametrize("size", ["0", "-3"])
def test_batch_size_below_one_rejected(tmp_path, capsys, monkeypatch, size):
    """A batch size below 1 is a usage error (exit 2) caught before any
    Spark work: no session, no output."""
    def no_session(*args, **kwargs):
        raise AssertionError("a Spark session was requested")

    monkeypatch.setattr(shipper, "get_session", no_session)
    with pytest.raises(SystemExit) as exc:
        main(["--input", str(tmp_path), "--output", str(tmp_path / "o"),
              "--payloads", "--batch-size", size])
    assert exc.value.code == 2
    assert f"--batch-size: must be at least 1, not {size}" in \
        capsys.readouterr().err
    assert not (tmp_path / "o").exists()
