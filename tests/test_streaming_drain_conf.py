"""The _drain state-partition pin (r11 verdict ask #4): the conf must
be pinned for the WHOLE drain (micro-batch planning happens inside
awaitTermination) and restored afterwards — including when the drain
fails — and the checkpoint must record STATE_PARTITIONS state stores,
not the session's CPU-count shuffle default."""

from __future__ import annotations

import glob
import os
import uuid

import pytest

from kinesis_s3_data_shipper_spark.session import staging_dir
from kinesis_s3_data_shipper_spark.streaming.jobs import (
    STATE_PARTITIONS, _drain, streaming_hourly_counts)

SF = "/root/testdata/sf0.001"


def _landing(sf_dir: str) -> tuple[str, str]:
    from kinesis_s3_data_shipper_spark.plans.streaming import _stage_landing
    return _stage_landing(sf_dir)


def test_drain_restores_shuffle_conf_and_pins_state_stores(spark):
    key = "spark.sql.shuffle.partitions"
    outer = spark.conf.get(key)
    # Session conf deliberately set DIFFERENT from the pin so both
    # halves of the contract are observable: the drain must run its
    # state stores at STATE_PARTITIONS, then put 13 back.
    sentinel = str(STATE_PARTITIONS + 5)
    spark.conf.set(key, sentinel)
    try:
        landing, ckpt = _landing(SF)
        out = streaming_hourly_counts(
            spark, landing, checkpoint=ckpt,
            query_name=f"drain_{uuid.uuid4().hex[:8]}")
        assert out.count() > 0
        assert spark.conf.get(key) == sentinel, (
            "conf not restored after drain")
        # The state store directory fans out one subdir per state
        # partition under <ckpt>/state/0/ — that count IS the pinned
        # value, proving the pin covered first-batch planning.
        parts = [d for d in glob.glob(os.path.join(ckpt, "state", "0", "*"))
                 if os.path.basename(d).isdigit()]
        assert len(parts) == STATE_PARTITIONS, (len(parts),
                                                STATE_PARTITIONS)
    finally:
        spark.conf.set(key, outer)


def test_drain_restores_conf_on_failure(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    class Boom:
        def start(self):
            raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        _drain(spark, Boom())
    assert spark.conf.get(key) == before
