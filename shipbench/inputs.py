"""Seeded raw shipper files and the ground truth they must ship to.

A file is one or more CloudWatch-Logs ``DATA_MESSAGE`` blocks
concatenated with no delimiter, gzipped 0, 1 or 2 times. Every event id
is unique across a run, so the sink check can demand each event exactly
once. The shape of the input — files, blocks per file, events per block,
gzip depth — comes from a fixed stream of random numbers, and only the
content (messages, groups, streams, ids) from the seed, so a run's work
does not change with its seed. The generator never calls the package: the inputs of a run do not
change when the code under test does. The one exception is the empty
file and the marker-hazard file, taken verbatim from
``ingest/fixture.py`` so the benchmark ships the same hazards the tests
do.
"""

from __future__ import annotations

import gzip
import json
import os
import random
from dataclasses import dataclass, field

BATCH_SIZE = 5000
LOG_GROUPS = ("/aws/lambda/orders", "/aws/lambda/auth", "/ecs/web")
LOG_STREAMS = ("2020/04/01/[$LATEST]abc", "2020/04/02/[$LATEST]def",
               "a/b", "a", "a/b/", "")
HAZARD_KEYS = ("prefix/raw/empty.dat", "prefix/raw/hazard.dat")
BULK_FILES = 16


@dataclass
class Truth:
    """What the sink must receive: each event once, in payloads of at
    most ``BATCH_SIZE`` events, one payload run per block."""
    events: dict[str, tuple[int, str, str]] = field(default_factory=dict)
    payloads: int = 0
    files: list[str] = field(default_factory=list)
    bytes_on_disk: int = 0

    def merge(self, other: "Truth") -> None:
        self.events.update(other.events)
        self.payloads += other.payloads
        self.files += other.files
        self.bytes_on_disk += other.bytes_on_disk


def stream_prefix(log_stream: str) -> str:
    """The reference's tag derivation: first two '/'-segments."""
    return "/".join(log_stream.split("/")[0:2])


def _block(rng: random.Random, tag: str, n_events: int) -> dict:
    base = 1_585_699_200_000 + rng.randrange(86_400_000)
    return {
        "messageType": "DATA_MESSAGE",
        "owner": "123456789012",
        "logGroup": rng.choice(LOG_GROUPS),
        "logStream": rng.choice(LOG_STREAMS),
        "subscriptionFilters": ["filter-0"],
        "logEvents": [
            {"id": f"{tag}-{i}",
             "timestamp": base + 137 * i,
             "message": (f"{rng.choice(('GET', 'PUT', 'POST'))} /api/"
                         f"{rng.randrange(10_000)} status="
                         f"{rng.choice((200, 201, 404, 500))} "
                         f"ms={rng.random() * 250:.3f}")}
            for i in range(n_events)],
    }


def write_file(path: str, rng: random.Random, tag: str,
               block_sizes: list[int], gzip_depth: int) -> Truth:
    """Write one raw file of ``len(block_sizes)`` blocks; return its
    ground truth."""
    truth = Truth()
    blocks = [_block(rng, f"{tag}.{b}", n) for b, n in enumerate(block_sizes)]
    raw = b"".join(json.dumps(b, separators=(",", ":")).encode()
                   for b in blocks)
    for _ in range(gzip_depth):
        raw = gzip.compress(raw, compresslevel=6, mtime=0)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(raw)
    for blk in blocks:
        for ev in blk["logEvents"]:
            truth.events[ev["id"]] = (ev["timestamp"], ev["message"],
                                      blk["logGroup"])
        truth.payloads += -(-len(blk["logEvents"]) // BATCH_SIZE)
    truth.files.append(path)
    truth.bytes_on_disk += len(raw)
    return truth


def write_hazards(root: str) -> Truth:
    """The fixture's empty and marker-hazard files: zero events."""
    from kinesis_s3_data_shipper_spark.ingest.fixture import fixture_files
    truth = Truth()
    for key, data in fixture_files():
        if key in HAZARD_KEYS:
            path = os.path.join(root, "hazard", os.path.basename(key))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(data)
            truth.files.append(path)
            truth.bytes_on_disk += len(data)
    return truth


def bulk_landing(root: str, seed: int) -> Truth:
    """A backfill landing directory: :data:`BULK_FILES` files of 1-6 blocks
    (20-900 events each), three of them carrying a block over
    ``BATCH_SIZE`` so payload chunking splits, plus the hazard files.
    About 70k events and 3 MB on disk."""
    shape, rng = random.Random(0), random.Random(seed)
    truth = write_hazards(root)
    big = set(shape.sample(range(BULK_FILES), 3))
    for f in range(BULK_FILES):
        sizes = [shape.randint(20, 900) for _ in range(shape.randint(1, 6))]
        if f in big:
            sizes.append(BATCH_SIZE + shape.randint(1, 3000))
        path = os.path.join(root, f"shard-{f % 4}", f"part-{f:05d}.log")
        truth.merge(write_file(path, rng, f"s{seed}.b{f}", sizes, f % 3))
    return truth


def small_file(root: str, shape: random.Random, rng: random.Random,
               name: str, tag: str) -> Truth:
    """A file the size the cron pattern ships: 1-3 blocks of 20-80
    events, its shape drawn from ``shape`` and its content from
    ``rng``."""
    sizes = [shape.randint(20, 80) for _ in range(shape.randint(1, 3))]
    return write_file(os.path.join(root, name), rng, tag, sizes,
                      shape.randrange(3))
