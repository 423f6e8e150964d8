"""A single-thread replay of the reference shipper's per-file loop.

The reference (kinesis-to-humio.py, lines 82-174) handles one file at a
time: gunzip while the content starts with the gzip magic, find every
``DATA_MESSAGE`` marker, ``json.loads`` each slice, flatten its events
with their tags, and POST every ``BATCH_SIZE`` events through one
pooled connection. This replay does the same against the benchmark's
sink with the payload shape the package sends, so the same check holds
it to the same ground truth. It imports nothing from the package: when
its rate moves between two commits, the machine moved, not the code.
"""

from __future__ import annotations

import gzip
import hashlib
import json

from .inputs import BATCH_SIZE

MARKER = b'{"messageType":"DATA_MESSAGE"'


def _blocks(data: bytes):
    while data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    starts = []
    pos = data.find(MARKER)
    while pos != -1:
        starts.append(pos)
        pos = data.find(MARKER, pos + 1)
    for a, b in zip(starts, starts[1:] + [len(data)]):
        try:
            yield json.loads(data[a:b])
        except ValueError:
            # The reference stops on a block it cannot parse; the
            # replay skips it, as the package quarantines it.
            continue


def replay(paths: list[str], url: str) -> int:
    """Ship ``paths`` in order; return the number of events sent."""
    import urllib3
    pool = urllib3.PoolManager(maxsize=1)
    endpoint = url.rstrip("/") + "/api/v1/ingest/humio-structured"
    sent = 0

    def post(tags: dict, events: list) -> None:
        body = json.dumps({"tags": tags, "events": events}).encode()
        resp = pool.request("POST", endpoint, body=body, headers={
            "Content-Type": "application/json",
            "X-Idempotency-Key": hashlib.sha256(body).hexdigest()})
        if resp.status != 200:
            raise RuntimeError(f"sink answered {resp.status}")

    for path in paths:
        with open(path, "rb") as fh:
            data = fh.read()
        for block in _blocks(data):
            stream = block["logStream"]
            tags = {"logStreamPrefix": "/".join(stream.split("/")[0:2]),
                    "logGroup": block["logGroup"]}
            events = []
            for ev in block["logEvents"]:
                events.append({"timestamp": ev["timestamp"], "attributes": {
                    "id": ev["id"], "message": ev["message"], "file": path,
                    "logStream": stream}})
                if len(events) == BATCH_SIZE:
                    post(tags, events)
                    sent += len(events)
                    events = []
            if events:
                post(tags, events)
                sent += len(events)
    pool.clear()
    return sent
