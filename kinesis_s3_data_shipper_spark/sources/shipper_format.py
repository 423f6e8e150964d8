"""`shipper` — a custom Python Data Source (PySpark 4 DataSource API)
for the reference's raw file format: optionally (double-)gzipped files
of concatenated `{"messageType":"DATA_MESSAGE"` JSON blocks.

A batch-only block scan. The shipper CLI does not use it: both of its
modes read through binaryFile + the splitter.

    register(spark)
    blocks = spark.read.format("shipper").load("/landing/dir")
    events = flatten_events(parse_blocks(blocks))

Same splitter semantics — the reader reuses
`ingest.splitter.gunzip_recursive` / `split_marker_blocks`
byte-for-byte (reference parity: kinesis-to-humio.py:91-96, 107-127).

Scale design: one InputPartition per FILE — gzip is non-splittable, so
file granularity IS the parallel unit (SURVEY §7), exactly like the
reference's one-file-at-a-time loop but distributed. The driver only
lists paths; bytes are read executor-side in `read()`. Listing uses
the local filesystem here; a cluster deployment would swap the
`os.walk` for an S3 LIST (the reference's find_files, K:181-218) —
the partition-planning contract is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    InputPartition)

from ..ingest.splitter import gunzip_recursive, split_marker_blocks

#: Block-level schema, same shape as ingest.splitter.SPLIT_SCHEMA.
SHIPPER_SCHEMA = "path string, block string, block_index int"


def _list_files(root: str, prefix: str | None) -> list[str]:
    """Lexicographically sorted file list under root (the reference's
    work-list ordering, K:292), optional key-prefix filter (O2)."""
    out: list[str] = []
    if os.path.isfile(root):
        out.append(root)
    else:
        for dirpath, _dirs, names in os.walk(root):
            for n in names:
                out.append(os.path.join(dirpath, n))
    out.sort()
    if prefix:
        out = [p for p in out if p.startswith(prefix)]
    return out


class ShipperInputPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ShipperDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self.root = options.get("path")
        if not self.root:
            raise ValueError("shipper source requires a path: "
                             ".load('/landing/dir')")
        self.prefix = options.get("prefix")

    def partitions(self) -> list[InputPartition]:
        # Driver-side: paths only, one partition per (non-splittable)
        # file. Empty listing still returns one sentinel-free empty
        # partition list, which Spark handles as an empty scan.
        return [ShipperInputPartition(p)
                for p in _list_files(self.root, self.prefix)]

    def read(self, partition: ShipperInputPartition):
        # Executor-side: stream one file's blocks out as rows. An empty
        # listing still yields one task with partition=None — emit nothing.
        if partition is None:
            return
        with open(partition.path, "rb") as fh:
            data = gunzip_recursive(fh.read())
        for i, block in enumerate(split_marker_blocks(data)):
            yield (partition.path, block.decode("utf-8", errors="replace"), i)


class ShipperDataSource(DataSource):
    """spark.read.format("shipper").option("prefix", ...).load(dir)."""

    @classmethod
    def name(cls) -> str:
        return "shipper"

    def schema(self) -> str:
        return SHIPPER_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return ShipperDataSourceReader(self.options)


def register(spark) -> None:
    """Idempotently register the `shipper` format on a session."""
    spark.dataSource.register(ShipperDataSource)
