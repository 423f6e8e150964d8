"""In-process HTTP ingest sink and the ground-truth check of what it got.

While a run is timed the sink only stores each body with its
``X-Idempotency-Key``; parsing and checking happen afterwards in
:func:`check_delivery`, so the sink's own cost stays off the critical
path of the shipper it measures.
"""

from __future__ import annotations

import json
import threading
from collections import Counter
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .inputs import BATCH_SIZE, Truth, stream_prefix

#: Problems a check reports before it stops listing them.
MAX_PROBLEMS = 5


class Sink:
    """A keep-alive HTTP/1.1 server on 127.0.0.1 that acknowledges
    every POST with 200 and keeps ``(key, body)`` pairs in memory."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._posts: list[tuple[str, bytes]] = []
        sink = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self) -> None:  # noqa: N802 (http.server naming)
                body = self.rfile.read(int(self.headers["Content-Length"]))
                with sink._lock:
                    sink._posts.append(
                        (self.headers.get("X-Idempotency-Key", ""), body))
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        name="bench-sink", daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"

    def take(self) -> list[tuple[str, bytes]]:
        """Return and forget everything received so far."""
        with self._lock:
            posts, self._posts = self._posts, []
        return posts

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


@dataclass
class Delivery:
    posts: int
    payloads: int
    events: int
    body_bytes: int
    problems: list[str]


def check_delivery(posts: list[tuple[str, bytes]], truth: Truth) -> Delivery:
    """Hold the received posts against ``truth``.

    A repeated idempotency key is a retry and is counted once, as an
    idempotent receiver would. After that every expected event must
    arrive exactly once with its timestamp, message and tags, nothing
    else may arrive, no payload may exceed ``BATCH_SIZE`` events, and
    the payload count must be one per ``BATCH_SIZE`` chunk of a block.
    """
    problems: list[str] = []
    seen: Counter[str] = Counter()
    keys = set()
    body_bytes = 0

    def problem(msg: str) -> None:
        if len(problems) < MAX_PROBLEMS:
            problems.append(msg)

    for key, body in posts:
        body_bytes += len(body)
        if key in keys:
            continue
        keys.add(key)
        doc = json.loads(body)
        events = doc["events"]
        if len(events) > BATCH_SIZE:
            problem(f"payload of {len(events)} events > {BATCH_SIZE}")
        tags = doc["tags"]
        for ev in events:
            attrs = ev["attributes"]
            eid = attrs["id"]
            seen[eid] += 1
            want = truth.events.get(eid)
            if want is None:
                problem(f"unexpected event {eid}")
            elif ((ev["timestamp"], attrs["message"], tags["logGroup"])
                  != want or tags["logStreamPrefix"]
                  != stream_prefix(attrs["logStream"])):
                problem(f"wrong fields for event {eid}")
    for eid, n in seen.items():
        if n > 1:
            problem(f"event {eid} received {n} times")
    missing = len(truth.events.keys() - seen.keys())
    if missing:
        problem(f"{missing} events never received")
    if len(keys) != truth.payloads:
        problem(f"{len(keys)} payloads, expected {truth.payloads}")
    return Delivery(posts=len(posts), payloads=len(keys), events=sum(seen.values()),
                    body_bytes=body_bytes, problems=problems)
