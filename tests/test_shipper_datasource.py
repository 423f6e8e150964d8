"""Tests for the `shipper` custom Python Data Source (PySpark 4
DataSource API), a batch block scan of raw landing files. It must yield
exactly the blocks the pure-Python splitter finds, and the full
parse→explode pipeline must compose on top of it unchanged.
"""

from __future__ import annotations

import json
import os

import pytest

from kinesis_s3_data_shipper_spark.ingest.fixture import fixture_files
from kinesis_s3_data_shipper_spark.ingest.pipeline import (flatten_events,
                                                           parse_blocks)
from kinesis_s3_data_shipper_spark.ingest.splitter import (
    gunzip_recursive, split_marker_blocks)
from kinesis_s3_data_shipper_spark.sources.shipper_format import (
    ShipperDataSource, register)


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    """The fixture matrix written to disk, as a landing directory."""
    root = tmp_path_factory.mktemp("landing")
    for key, content in fixture_files():
        dest = root / key
        dest.parent.mkdir(parents=True, exist_ok=True)
        dest.write_bytes(content)
    return str(root)


@pytest.fixture(scope="module")
def shipper_spark(spark):
    register(spark)
    return spark


def _expected_blocks(landing_dir):
    """Pure-python reference: every (path, block_index, block)."""
    out = set()
    for key, content in fixture_files():
        path = os.path.join(landing_dir, key)
        for i, block in enumerate(
                split_marker_blocks(gunzip_recursive(content))):
            out.add((path, i, block.decode()))
    return out


def test_source_reads_all_blocks(shipper_spark, landing_dir):
    df = shipper_spark.read.format("shipper").load(landing_dir)
    assert df.schema.simpleString() == \
        "struct<path:string,block:string,block_index:int>"
    got = {(r.path, r.block_index, r.block) for r in df.collect()}
    assert got == _expected_blocks(landing_dir)


def test_source_partitions_per_file(landing_dir):
    # One InputPartition per file — gzip is non-splittable, so the file
    # is the parallel unit (same contract as the reference's work list).
    reader = ShipperDataSource(
        options={"path": landing_dir}).reader(None)
    parts = reader.partitions()
    n_files = sum(len(names) for _, _, names in os.walk(landing_dir))
    assert len(parts) == n_files
    assert [p.path for p in parts] == sorted(p.path for p in parts)


def test_source_prefix_pushdown(shipper_spark, landing_dir):
    prefix = os.path.join(landing_dir, "prefix/raw/nb1-")
    df = (shipper_spark.read.format("shipper")
          .option("prefix", prefix).load(landing_dir))
    paths = {r.path for r in df.select("path").distinct().collect()}
    assert paths  # nb1 matrix cells with ≥1 block
    assert all(p.startswith(prefix) for p in paths)
    # And the partition planner itself pruned, not just the scan.
    reader = ShipperDataSource(
        options={"path": landing_dir, "prefix": prefix}).reader(None)
    assert all(p.path.startswith(prefix) for p in reader.partitions())


def test_source_empty_dir(shipper_spark, tmp_path):
    df = shipper_spark.read.format("shipper").load(str(tmp_path))
    assert df.count() == 0


def test_source_requires_path():
    with pytest.raises(ValueError, match="requires a path"):
        ShipperDataSource(options={}).reader(None)


def test_pipeline_composes_on_source(shipper_spark, landing_dir):
    """parse→explode→enrich runs unchanged on the declarative scan and
    recovers the exact event set the imperative path recovers."""
    blocks = shipper_spark.read.format("shipper").load(landing_dir)
    events = flatten_events(parse_blocks(blocks))
    got = {(os.path.basename(r.file), r.block_index, r.event_id)
           for r in events.collect()
           if not r.file.endswith("hazard.dat")}
    expect = set()
    for key, content in fixture_files():
        if key.endswith(("empty.dat", "hazard.dat")):
            continue
        for i, block in enumerate(
                split_marker_blocks(gunzip_recursive(content))):
            for ev in json.loads(block)["logEvents"]:
                expect.add((os.path.basename(key), i, ev["id"]))
    assert got == expect
