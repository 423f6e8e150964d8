from __future__ import annotations

import contextlib
import http.server
import os
import socket
import struct
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_s3_data_shipper_spark.session import get_session  # noqa: E402

TESTDATA = "/root/testdata"
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_session("ksds-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@contextlib.contextmanager
def persisted_since(spark):
    """Yield a set that, when the block exits, holds the ids of the RDDs
    persisted during the block and still persisted: the persistent-RDD
    key set after, minus the key set before.  Ids, not map sizes:
    Python's GC releases RDDs of earlier tests whenever it collects old
    py4j cycles, which would shrink a size and cancel a new entry."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    new: set[int] = set()
    yield new
    new.update(set(jsc.getPersistentRDDs().keySet().toArray()) - before)


@contextlib.contextmanager
def jobs_and_tasks(spark, group: str):
    """Run the block's Spark jobs in job group ``group``. When the block
    exits, the yielded list holds one entry per job of the group, in
    job-id order: the task count of each of its stages, in stage-id
    order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    jobs: list[list[int]] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs.extend([tracker.getStageInfo(s).numTasks
                 for s in sorted(tracker.getJobInfo(j).stageIds)]
                for j in sorted(tracker.getJobIdsForGroup(group)))


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE


class HttpSink:
    """A local HTTP ingest endpoint that records every accepted POST as
    ``(path, headers, body)``. With ``reset_first_post`` it resets the
    connection, unanswered, on the first POST of each idempotency key
    (those keys are kept in ``resets``). With ``first_post_status`` it
    answers the first POST of each key with that status instead (those
    keys are kept in ``refused``)."""

    def __init__(self) -> None:
        self.received: list[tuple[str, dict, bytes]] = []
        self.resets: set[str] = set()
        self.refused: set[str] = set()
        self.reset_first_post = False
        self.first_post_status: int | None = None
        lock = threading.Lock()
        sink = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                key = self.headers["X-Idempotency-Key"]
                with lock:
                    reset = sink.reset_first_post and key not in sink.resets
                    refuse = (sink.first_post_status is not None
                              and key not in sink.refused)
                    if reset:
                        sink.resets.add(key)
                    elif refuse:
                        sink.refused.add(key)
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
                self.send_response(sink.first_post_status if refuse else 200)
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
