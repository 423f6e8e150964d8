"""Stateful streaming: the per-key folds carried across micro-batches,
the foreachBatch incremental merge, and its version housekeeping.
"""

from __future__ import annotations

import shutil


def test_incremental_merge_matches_batch(spark, tmp_path, sf_small):
    """foreachBatch MERGE: two micro-batches of the same file must
    leave the materialized table at exactly 2x the single-copy batch
    aggregate, with per-(bucket, epoch) immutable version dirs."""
    import os

    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_incremental_merge)

    landing = tmp_path / "landing"
    landing.mkdir()
    src = f"{sf_small}/events.parquet"
    shutil.copy(src, landing / "a.parquet")
    shutil.copy(src, landing / "b.parquet")

    table_dir = str(tmp_path / "table")
    got = streaming_incremental_merge(
        spark, str(landing), table_dir=table_dir,
        checkpoint=str(tmp_path / "ckpt_merge"),
        query_name="inc_merge_test")
    got_map = {r.user_id: (r.n, r.sum_micros) for r in got.collect()}

    want = (spark.read.parquet(src)
            .select("user_id",
                    (F.col("value").cast("decimal(18,6)") * 1_000_000)
                    .cast("long").alias("vm"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("vm").alias("s"))
            .collect())
    want_map = {r.user_id: (2 * r.n, 2 * r.s) for r in want}
    assert got_map == want_map
    # Bucketed layout: every bucket dir holds immutable v=0 and v=1
    # (both batches touch every bucket — same full file twice).
    buckets = sorted(d for d in os.listdir(table_dir)
                     if d.startswith("b="))
    assert buckets, table_dir
    for b in buckets:
        versions = sorted(d for d in os.listdir(f"{table_dir}/{b}")
                          if d.startswith("v="))
        assert versions == ["v=0", "v=1"], (b, versions)


def test_incremental_merge_small_delta_touches_few_buckets(spark, tmp_path,
                                                           sf_small):
    """A small delta must rewrite ONLY the buckets it touches — the
    O(|delta| x bucket-size) cost model, not a full-table rewrite."""
    import os

    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        merge_delta_into_bucketed_table, read_bucketed_table)

    table_dir = str(tmp_path / "table")
    # Epoch 0: a wide delta (many users, most of the 64 buckets).
    wide = (spark.range(0, 500)
            .select(F.col("id").alias("user_id"),
                    F.lit(1).cast("long").alias("d_n"),
                    (F.col("id") * 10).cast("long").alias("d_sum")))
    merge_delta_into_bucketed_table(spark, wide, 0, table_dir)
    all_buckets = {d for d in os.listdir(table_dir) if d.startswith("b=")}

    # Epoch 1: a 3-user delta.
    small = (spark.createDataFrame(
        [(7, 1, 70), (8, 1, 80), (9, 1, 90)],
        "user_id long, d_n long, d_sum long"))
    merge_delta_into_bucketed_table(spark, small, 1, table_dir)
    touched = {d for d in os.listdir(table_dir) if d.startswith("b=")
               and "v=1" in os.listdir(f"{table_dir}/{d}")}
    assert len(touched) <= 3
    assert len(touched) < len(all_buckets) / 4

    # Final state still equals the batch oracle over both deltas.
    got = {r.user_id: (r.n, r.sum_micros)
           for r in read_bucketed_table(spark, table_dir).collect()}
    want = {i: (1, i * 10) for i in range(500)}
    for u in (7, 8, 9):
        want[u] = (2, want[u][1] + u * 10)
    assert got == want


def test_incremental_merge_retry_is_idempotent(spark, tmp_path):
    """Replaying an epoch (crash-after-write, checkpoint not committed)
    must rebuild the SAME state: the merge reads only versions strictly
    below its own batch_id, so its own half-published output is never
    its input."""
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        merge_delta_into_bucketed_table, read_bucketed_table)

    table_dir = str(tmp_path / "table")
    d0 = spark.createDataFrame([(1, 1, 100), (2, 1, 200)],
                               "user_id long, d_n long, d_sum long")
    d1 = spark.createDataFrame([(1, 1, 50), (3, 1, 300)],
                               "user_id long, d_n long, d_sum long")
    merge_delta_into_bucketed_table(spark, d0, 0, table_dir)
    merge_delta_into_bucketed_table(spark, d1, 1, table_dir)
    once = {r.user_id: (r.n, r.sum_micros)
            for r in read_bucketed_table(spark, table_dir).collect()}
    assert once == {1: (2, 150), 2: (1, 200), 3: (1, 300)}

    # Retry epoch 1 with the same inputs: state must be unchanged
    # (the old below-less read would double-apply d1 here).
    merge_delta_into_bucketed_table(spark, d1, 1, table_dir)
    again = {r.user_id: (r.n, r.sum_micros)
             for r in read_bucketed_table(spark, table_dir).collect()}
    assert again == once


def test_vacuum_versions_keeps_state_and_retry_base(spark, tmp_path):
    """VACUUM reclaims superseded version dirs without changing the
    table state, keeps the newest `keep` versions per bucket (the
    retry base), and refuses keep < 1."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.operators.maintenance import (
        vacuum_versions)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        merge_delta_into_bucketed_table, read_bucketed_table)

    table_dir = str(tmp_path / "table")
    for epoch in range(4):
        delta = (spark.range(0, 50)
                 .select(F.col("id").alias("user_id"),
                         F.lit(1).cast("long").alias("d_n"),
                         (F.col("id") + epoch).cast("long").alias("d_sum")))
        merge_delta_into_bucketed_table(spark, delta, epoch, table_dir)

    before = {r.user_id: (r.n, r.sum_micros)
              for r in read_bucketed_table(spark, table_dir).collect()}
    removed = vacuum_versions(table_dir, keep=2)
    assert removed, "four epochs over the same users must leave stale dirs"

    after = {r.user_id: (r.n, r.sum_micros)
             for r in read_bucketed_table(spark, table_dir).collect()}
    assert after == before
    for bdir in os.listdir(table_dir):
        if bdir.startswith("b="):
            vs = [d for d in os.listdir(os.path.join(table_dir, bdir))
                  if d.startswith("v=")]
            assert len(vs) <= 2
    # Idempotent: a second vacuum finds nothing.
    assert vacuum_versions(table_dir, keep=2) == {}
    with pytest.raises(ValueError):
        vacuum_versions(table_dir, keep=0)


def test_vacuum_concurrent_with_stream_preserves_retry_base(spark,
                                                            tmp_path,
                                                            sf_small):
    """Verdict r4 #7: vacuum racing the live stream. Four micro-batches
    run with vacuum(keep=2) INSIDE every epoch (more aggressive than
    any out-of-band cadence); the final state must still match the
    batch oracle, and a forced retry of the LAST epoch must rebuild
    bit-identical state — i.e. the keep>=2 invariant really does keep
    the strictly-below rebuild base alive under concurrent vacuum.
    Counterfactual: vacuuming the finished table down to keep=1 and
    retrying the same epoch CORRUPTS the state (the base is gone), so
    the invariant is load-bearing, not belt-and-braces."""
    import os

    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.operators.maintenance import (
        vacuum_versions)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        merge_delta_into_bucketed_table, read_bucketed_table,
        streaming_incremental_merge)

    landing = tmp_path / "landing"
    landing.mkdir()
    src = f"{sf_small}/events.parquet"
    n_epochs = 4
    for i in range(n_epochs):
        shutil.copy(src, landing / f"{chr(97 + i)}.parquet")

    table_dir = str(tmp_path / "table")
    got = streaming_incremental_merge(
        spark, str(landing), table_dir=table_dir,
        checkpoint=str(tmp_path / "ckpt_vac"),
        query_name="inc_merge_vacuum_race", vacuum_keep=2)
    got_map = {r.user_id: (r.n, r.sum_micros) for r in got.collect()}

    want = (spark.read.parquet(src)
            .select("user_id",
                    (F.col("value").cast("decimal(18,6)") * 1_000_000)
                    .cast("long").alias("vm"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("vm").alias("s"))
            .collect())
    want_map = {r.user_id: (n_epochs * r.n, n_epochs * r.s) for r in want}
    assert got_map == want_map

    # Concurrent vacuum really ran: no bucket holds > 2 version dirs,
    # and every bucket still holds a version STRICTLY BELOW the last
    # epoch — the retry base.
    last = n_epochs - 1
    for bdir in os.listdir(table_dir):
        if not bdir.startswith("b="):
            continue
        vs = sorted(int(d[2:]) for d in
                    os.listdir(os.path.join(table_dir, bdir))
                    if d.startswith("v="))
        assert len(vs) <= 2, (bdir, vs)
        assert any(v < last for v in vs), (bdir, vs)

    # Forced retry of the last epoch (crash-after-write, checkpoint
    # offset never committed): same delta, same batch_id.
    delta = (spark.read.parquet(src)
             .select("user_id",
                     (F.col("value").cast("decimal(18,6)") * 1_000_000)
                     .cast("long").alias("vm"))
             .groupBy("user_id")
             .agg(F.count("*").alias("d_n"), F.sum("vm").alias("d_sum")))
    merge_delta_into_bucketed_table(spark, delta, last, table_dir)
    retried = {r.user_id: (r.n, r.sum_micros)
               for r in read_bucketed_table(spark, table_dir).collect()}
    assert retried == want_map

    # Counterfactual: keep=1 destroys the strictly-below base; the
    # same retry now rebuilds from nothing and loses history.
    vacuum_versions(table_dir, keep=1)
    merge_delta_into_bucketed_table(spark, delta, last, table_dir)
    corrupted = {r.user_id: (r.n, r.sum_micros)
                 for r in read_bucketed_table(spark, table_dir).collect()}
    assert corrupted != want_map
    one_epoch = {r.user_id: (r.n, r.s) for r in want}
    assert corrupted == one_epoch


def test_vacuum_tolerates_stray_dirs(tmp_path):
    """A non-numeric 'v=' entry (editor/temp artifact) must be skipped,
    not abort the sweep mid-deletion (advisor round-4 finding)."""
    import os

    from kinesis_s3_data_shipper_spark.operators.maintenance import (
        vacuum_versions)

    b = tmp_path / "table" / "b=0"
    for v in ("v=0", "v=1", "v=2", "v=tmp", "v=1.bak"):
        (b / v).mkdir(parents=True)
    removed = vacuum_versions(str(tmp_path / "table"), keep=2)
    assert removed == {0: [0]}
    left = sorted(os.listdir(b))
    assert left == ["v=1", "v=1.bak", "v=2", "v=tmp"]


def test_streaming_cusum_state_survives_checkpoint_restart(spark, tmp_path,
                                                           sf_oracle):
    """The stateful CUSUM's group state must survive a full STOP and
    checkpoint-resume: drain the first two time slices, end the query,
    then land the third slice and re-run with the SAME checkpoint. The
    resumed query must fold only the new slice on top of the restored
    (s, seen) state, and the final result must still equal the batch
    events_cusum oracle over all three slices — the recovery semantics
    a production drift monitor relies on after every deploy/crash.
    """
    import os

    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.plans.events import _CUSUM_SLACK
    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.sources.tables import load_table
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_cusum_final)

    landing, checkpoint = _stage_time_slices(spark, sf_oracle, n_slices=3)
    third = os.path.join(landing, "slice_2.parquet")
    hidden = os.path.join(os.path.dirname(landing), "slice_2.hold")
    os.rename(third, hidden)

    ev = load_table(spark, sf_oracle, "events")
    baseline = (ev.groupBy("user_id")
                .agg(F.count("*").cast("long").alias("n"),
                     F.sum(F.col("value").cast("decimal(20,6)"))
                     .cast("double").alias("sv"))
                .filter(F.col("n") >= 4))

    out_dir = str(tmp_path / "cusum_emissions")
    partial = streaming_cusum_final(
        spark, landing, checkpoint=checkpoint,
        query_name="cusum_ckpt_a", baseline=baseline,
        slack_mult=1.0 + _CUSUM_SLACK, output_dir=out_dir).collect()
    assert len(partial) > 0
    # The first drain saw only 2/3 of the data.
    partial_n = {r.user_id: r.n_events for r in partial}

    os.rename(hidden, third)
    resumed = streaming_cusum_final(
        spark, landing, checkpoint=checkpoint,
        query_name="cusum_ckpt_b", baseline=baseline,
        slack_mult=1.0 + _CUSUM_SLACK, output_dir=out_dir)
    got = {r.user_id: (r.n_events, r.cusum_final)
           for r in resumed.collect()}

    # Batch ground truth over the full data (the events_cusum plan).
    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    all_queries()
    want = {r.user_id: (r.n_events, r.cusum_final)
            for r in REGISTRY["events_cusum"].spark(spark, sf_oracle)
            .collect()}
    assert got == want
    # And the resume genuinely CONTINUED state (some user saw new
    # events in slice 3, so their n grew past the partial drain's,
    # proving the restored (s, seen) state was folded onto, not
    # rebuilt from scratch).
    grew = [u for u, (n, _) in got.items() if n > partial_n.get(u, 0)]
    assert grew, "third slice added no events to any user — staging bug"


def test_streaming_rate_limit_state_survives_checkpoint_restart(
        spark, tmp_path, sf_oracle):
    """The token bucket's group state must survive a full STOP and
    checkpoint-resume: drain two time slices, end the query, land the
    third slice, re-run with the SAME checkpoint. The resumed query
    folds only the new slice onto the restored (level, admitted,
    last_ts, seen) state — in particular last_ts must carry the
    inter-arrival delta ACROSS the restart — and the final state must
    equal the batch events_rate_limit plan over all three slices."""
    import os

    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    from kinesis_s3_data_shipper_spark.plans.events import (_TB_CAP_UNITS,
                                                            _TB_REFILL_NS)
    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_rate_limit_final)

    landing, checkpoint = _stage_time_slices(spark, sf_oracle, n_slices=3)
    third = os.path.join(landing, "slice_2.parquet")
    hidden = os.path.join(os.path.dirname(landing), "slice_2.hold")
    os.rename(third, hidden)

    out_dir = str(tmp_path / "rl_emissions")
    partial = streaming_rate_limit_final(
        spark, landing, checkpoint=checkpoint,
        query_name="rl_ckpt_a", cap_units=_TB_CAP_UNITS,
        cost_units=_TB_REFILL_NS, output_dir=out_dir).collect()
    assert len(partial) > 0
    partial_n = {r.user_id: r.n_events for r in partial}

    os.rename(hidden, third)
    resumed = streaming_rate_limit_final(
        spark, landing, checkpoint=checkpoint,
        query_name="rl_ckpt_b", cap_units=_TB_CAP_UNITS,
        cost_units=_TB_REFILL_NS, output_dir=out_dir)
    got = {r.user_id: (r.n_events, r.n_admitted, r.n_rejected,
                       r.level_final_units)
           for r in resumed.collect()}

    all_queries()
    want = {r.user_id: (r.n_events, r.n_admitted, r.n_rejected,
                        r.level_final_units)
            for r in REGISTRY["events_rate_limit"]
            .spark(spark, sf_oracle).collect()}
    assert got == want
    grew = [u for u, (n, *_rest) in got.items()
            if n > partial_n.get(u, 0)]
    assert grew, "third slice added no events to any user — staging bug"


def test_streaming_match_recognize_half_open_match_spans_batches(
        spark, tmp_path):
    """The FSM's defining streaming property: a match whose prefix
    (CLICK VIEW) lands in micro-batch 1 and whose PURCHASE lands in
    micro-batch 2 must still count — the half-open state carries
    across the batch boundary in group state. Naive per-batch
    re-matching (the rewrite that drops state between batches) yields
    0 here; the control user whose purchase arrives with no open
    prefix pins the FSM's reset path in the same drain."""
    import glob
    import os

    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_match_recognize_final)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    schema = ("event_id long, ts long, user_id long,"
              " event_type string, value double, props string")
    # user 7: click+view in slice 0, purchase in slice 1 -> 1 match.
    # user 8: view in slice 0, purchase in slice 1 -> 0 matches
    # (purchase without an open click-view prefix resets to idle).
    slices = [
        [(1, 1_000, 7, "click", 1.0, "{}"),
         (2, 2_000, 7, "view", 1.0, "{}"),
         (3, 2_500, 8, "view", 1.0, "{}")],
        [(4, 3_000, 7, "purchase", 1.0, "{}"),
         (5, 3_500, 8, "purchase", 1.0, "{}")],
    ]
    for i, rows in enumerate(slices):
        d = str(tmp_path / f"s{i}")
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("overwrite").parquet(d))
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"slice_{i}.parquet")
        os.rename(part, dest)
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))

    out = streaming_match_recognize_final(
        spark, landing, checkpoint=str(tmp_path / "ckpt"),
        query_name="mr_halfopen")
    got = {r.user_id: (r.n_events, r.n_matches, r.final_state)
           for r in out.collect()}
    assert got == {7: (3, 1, 0), 8: (2, 0, 0)}


def test_streaming_holt_init_spans_batches(spark, tmp_path):
    """The float-state twin's defining streaming property: Holt's
    initialization needs TWO observations (l0 = x1, b0 = x2 - x1), so
    a user whose first event lands in micro-batch 1 and second in
    micro-batch 2 must initialize across the boundary from the held
    x1 in group state — the float analogue of the half-open match.
    The drained (level, trend, forecast) must equal the batch fold's
    IEEE arithmetic exactly (dyadic coefficients, same op order)."""
    import glob
    import os

    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_holt_final)

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    schema = ("event_id long, ts long, user_id long,"
              " event_type string, value double, props string")
    # user 7: x1 alone in slice 0 (seen==1 crosses the boundary);
    # user 8: fully inside slice 1 (control, same drain).
    vals7 = [10.0, 14.0, 11.0, 13.0, 9.5]
    vals8 = [3.0, 5.0, 4.0, 6.0]
    slices = [
        [(1, 1_000, 7, "view", vals7[0], "{}")],
        [(i + 2, 2_000 + i * 1_000, 7, "view", v, "{}")
         for i, v in enumerate(vals7[1:])]
        + [(100 + i, 2_500 + i * 1_000, 8, "view", v, "{}")
           for i, v in enumerate(vals8)],
    ]
    for i, rows in enumerate(slices):
        d = str(tmp_path / f"s{i}")
        (spark.createDataFrame(rows, schema)
         .coalesce(1).write.mode("overwrite").parquet(d))
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dest = os.path.join(landing, f"slice_{i}.parquet")
        os.rename(part, dest)
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))

    out = streaming_holt_final(
        spark, landing, checkpoint=str(tmp_path / "ckpt"),
        query_name="holt_init_span")
    got = {r.user_id: r for r in out.collect()}

    def fold(vals):
        l, b = vals[0], vals[1] - vals[0]
        for x in vals[2:]:
            l2 = 0.5 * x + 0.5 * (l + b)
            b = 0.25 * (l2 - l) + 0.75 * b
            l = l2
        return round(l, 6), round(b, 6), round(l + b, 6)

    for uid, vals in ((7, vals7), (8, vals8)):
        l, b, f = fold(vals)
        r = got[uid]
        assert (r.n_events, r.level_final, r.trend_final,
                r.forecast_next) == (len(vals), l, b, f), uid


def test_time_travel_horizon_is_vacuum_retention(spark, tmp_path):
    """warehouse_time_travel's documented coupling, as a property:
    with all versions retained, AS OF v reads the exact post-epoch-v
    state; after vacuum(keep=1) the older versions are gone and the
    SAME as-of manifest resolves to nothing — the travel horizon IS
    the retention policy, and shrinking retention makes historical
    reads unservable (exactly why Delta couples VACUUM to time
    travel)."""
    from pyspark.sql import functions as F

    from kinesis_s3_data_shipper_spark.operators.maintenance import (
        vacuum_versions)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        _bucket_versions, _read_buckets,
        merge_delta_into_bucketed_table)

    table_dir = str(tmp_path / "tt_table")
    # Two epochs over the same single user: n goes 1 -> 2.
    for epoch in (1, 2):
        delta = spark.createDataFrame(
            [(7, 1, 100)], "user_id long, d_n long, d_sum long")
        merge_delta_into_bucketed_table(spark, delta, epoch, table_dir)

    as_of_1 = _read_buckets(spark, table_dir,
                            _bucket_versions(table_dir, below=2))
    assert [(r.user_id, r.n) for r in as_of_1.collect()] == [(7, 1)]

    vacuum_versions(table_dir, keep=1)
    # v=1 is gone: the as-of-1 manifest resolves to NO versions — the
    # historical read is not silently re-pointed, it is UNSERVABLE,
    # which is the failure mode a retention policy must budget for.
    post = _read_buckets(spark, table_dir,
                         _bucket_versions(table_dir, below=2))
    assert post is None
    latest = _read_buckets(spark, table_dir,
                           _bucket_versions(table_dir))
    assert [(r.user_id, r.n) for r in latest.collect()] == [(7, 2)]


def test_streaming_changepoint_histogram_survives_restart(spark, tmp_path,
                                                          sf_oracle):
    """The change-point twin's (hour -> count) histogram state must
    survive a full STOP and checkpoint-resume: drain two time slices,
    end the query, land the third slice, re-run with the SAME
    checkpoint. The resumed query folds only the new slice onto the
    restored histograms, and the final best split must equal the batch
    events_changepoint_binary plan over all three slices."""
    import os

    from kinesis_s3_data_shipper_spark.plans import REGISTRY, all_queries
    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_changepoint_final)

    all_queries()
    landing, checkpoint = _stage_time_slices(spark, sf_oracle, n_slices=3)
    third = os.path.join(landing, "slice_2.parquet")
    hidden = os.path.join(os.path.dirname(landing), "slice_2.hold")
    os.rename(third, hidden)

    out_dir = str(tmp_path / "chgpt_emissions")
    partial = streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint,
        query_name="chgpt_ckpt_a", output_dir=out_dir).collect()
    assert partial
    partial_hours = {r.event_type: r.n_hours for r in partial}

    os.rename(hidden, third)
    resumed = streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint,
        query_name="chgpt_ckpt_b", output_dir=out_dir)
    got = {r.event_type: (r.n_hours, r.split_hr, r.left_len,
                          r.left_mean, r.right_mean, r.gain)
           for r in resumed.collect()}

    want = {r.event_type: (r.n_hours, r.split_hr, r.left_len,
                           r.left_mean, r.right_mean, r.gain)
            for r in REGISTRY["events_changepoint_binary"]
            .spark(spark, sf_oracle).collect()}
    assert got == want
    # The resume genuinely CONTINUED the histogram: the third time
    # slice adds hours, so every type's hour count grew past the
    # partial drain's (rebuilding from scratch would also grow, but
    # matching the batch split above proves the restored counts were
    # folded onto — a fresh state would double-count slices 1-2 if the
    # checkpoint replayed, or under-count if it skipped them).
    grew = [t for t, (n, *_rest) in got.items()
            if n > partial_hours.get(t, 0)]
    assert grew, "third slice added no hours — staging bug"


def test_streaming_changepoint_windowed_state_is_bounded(spark, tmp_path,
                                                         sf_oracle):
    """The production-capped twin (r09 verdict ask #4): with
    window_hours=W the per-type histogram state must hold at most W
    hours in EVERY emission (each emission IS the post-trim state, so
    the per-batch emissions are a state-size trace), and the drained
    result must equal the batch change-point plan filtered to the
    trailing W hours per type — the windowed oracle with W
    substituted.  W=24 here (far below the ~720-hour fixture span) so
    the trim provably engages mid-stream, not just at drain."""
    from kinesis_s3_data_shipper_spark.plans.events import (
        CHANGEPOINT_WINDOW_HOURS, CHANGEPOINT_WINDOWED_ORACLE)
    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_changepoint_final)

    from .oracle_harness import compare, duckdb_connection

    W = 24
    landing, checkpoint = _stage_time_slices(spark, sf_oracle, n_slices=3)
    out_dir = str(tmp_path / "chgptw_emissions")
    final = streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint,
        query_name="chgptw_bound", output_dir=out_dir, window_hours=W)

    oracle = CHANGEPOINT_WINDOWED_ORACLE.replace(
        f"- {CHANGEPOINT_WINDOW_HOURS}", f"- {W}")
    con = duckdb_connection(sf_oracle)
    compare(final, con.sql(oracle).df(), "changepoint_windowed_W24")

    emissions = spark.read.parquet(out_dir).collect()
    assert emissions
    assert max(len(r.hrs) for r in emissions) <= W, "state cap breached"
    # the cap engaged mid-stream: the UNCAPPED twin's histograms grow
    # far past W over the same staged slices
    full = {r.event_type: r.n_hours
            for r in streaming_changepoint_final(
                spark, landing,
                checkpoint=str(tmp_path / "ckpt_full"),
                query_name="chgptw_full").collect()}
    assert all(n > W for n in full.values()), full


def test_streaming_changepoint_windowed_survives_restart(spark, tmp_path,
                                                         sf_oracle):
    """The WINDOWED twin's trimmed histogram must also survive a stop
    + checkpoint-resume: drain two slices, stop, land the third,
    resume with the same checkpoint and the same W.  The resumed fold
    trims onto the RESTORED (already-trimmed) state; because trimming
    is monotone-safe (hours outside the final window can never
    re-enter), the drained result must equal the one-shot windowed
    run over all three slices."""
    import os

    from kinesis_s3_data_shipper_spark.plans.streaming import (
        _stage_time_slices)
    from kinesis_s3_data_shipper_spark.streaming.jobs import (
        streaming_changepoint_final)

    W = 24
    landing, checkpoint = _stage_time_slices(spark, sf_oracle, n_slices=3)
    third = os.path.join(landing, "slice_2.parquet")
    hidden = os.path.join(os.path.dirname(landing), "slice_2.hold")
    os.rename(third, hidden)

    out_dir = str(tmp_path / "chgptw_emissions")
    partial = streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint, query_name="chgptw_a",
        output_dir=out_dir, window_hours=W).collect()
    assert partial and max(r.n_hours for r in partial) <= W

    os.rename(hidden, third)
    resumed = streaming_changepoint_final(
        spark, landing, checkpoint=checkpoint, query_name="chgptw_b",
        output_dir=out_dir, window_hours=W)
    got = sorted(map(tuple, resumed.collect()))

    # one-shot reference over the same staged slices, fresh checkpoint
    oneshot = streaming_changepoint_final(
        spark, landing, checkpoint=str(tmp_path / "ckpt_oneshot"),
        query_name="chgptw_c", window_hours=W)
    want = sorted(map(tuple, oneshot.collect()))
    assert got == want
